"""Linear text-classifier inference at corpus scale (fasttext-shaped).

Curation pipelines score every document with cheap linear classifiers —
fasttext quality/language models, logistic-regression toxicity filters
(the C4/CCNet recipe). The model is (feature → weight); inference is
featurize → look up → sum. Two execution shapes, both shuffle-free on
the text:

* ``hashed_classifier_score`` — the feature hashing trick (Weinberger
  et al. 2009): the weight is derived from the feature's hash, so the
  whole inference is one codegen'd column expression. No weight table,
  no join, no UDF — scan speed at 100 TB. Weights here are md5-derived
  stand-ins with the same layout a trained hashed model would have
  (deterministic, engine-reproducible for the oracle).
* ``linear_classifier_score`` — a real (feature, weight) table:
  explode features, broadcast-join the weight table, partial-agg sum
  back per document. The shuffle carries (id, weight) pairs only —
  never text — and map-side combine collapses them before exchange.

Integer weights (−1000..1000, scaled by 1/1000 once at the end) keep
the sum exact and order-independent, so Spark and DuckDB agree
bit-for-bit; a float fold would depend on summation order.

Features are lowercase word unigrams + space-joined bigrams, the
fasttext default shape (``wordNgrams=2``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .hashing import hex_prefix_long

WEIGHT_MOD = 2001  # weights span -1000..1000
WEIGHT_SCALE = 1000.0


def feature_array(text: Column) -> Column:
    """Unigrams + bigrams of the lowercased [a-z0-9] word stream."""
    words = F.filter(
        F.split(F.lower(text), r"[^a-z0-9]+"), lambda w: F.length(w) > 0
    )
    # zip the word array with its own tail — element_at(words, i) inside a
    # transform lambda would re-evaluate the split+filter per element
    # (O(len²) per row; see operators/lm.py::_doc_bigrams)
    bigrams = F.when(
        F.size(words) >= 2,
        F.zip_with(
            F.slice(words, 1, F.size(words) - 1),
            F.slice(words, 2, F.size(words) - 1),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(words, bigrams)


def hashed_weight(feature: Column, model_id: str = "w") -> Column:
    """Deterministic integer weight in −1000..1000 from the feature's
    md5 — the hashing-trick weight lookup, collapsed to an expression."""
    h = hex_prefix_long(F.md5(F.concat(F.lit(f"{model_id}:"), feature)), 4)
    return h % WEIGHT_MOD - (WEIGHT_MOD - 1) // 2


def hashed_classifier_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    model_id: str = "w",
    threshold: float = 0.0,
) -> DataFrame:
    """Per-document mean hashed-feature weight + keep decision."""
    feats = feature_array(F.col(text_col))
    isum = F.aggregate(
        F.transform(feats, lambda f: hashed_weight(f, model_id)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n = F.size(feats)
    score = F.when(
        n > 0, isum.cast("double") / (F.lit(WEIGHT_SCALE) * n)
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col).alias(id_col),
        n.cast("int").alias("n_features"),
        isum.alias("weight_sum"),
        score.alias("score"),
        (score > threshold).alias("keep"),
    )


def linear_classifier_score(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.0,
) -> DataFrame:
    """Inference against an explicit (feature, weight) integer table —
    the path for weights that came out of a real trainer. The weight
    table (vocab-sized, ≪ corpus) broadcasts; unknown features score 0
    (left join) exactly like a hash bucket never updated in training."""
    feats = df.select(
        F.col(id_col).alias(id_col),
        F.explode_outer(feature_array(F.col(text_col))).alias("feature"),
    )
    scored = (
        feats.join(F.broadcast(weights), "feature", "left")
        .groupBy(id_col)
        .agg(
            F.count("feature").cast("int").alias("n_features"),
            F.coalesce(F.sum("weight"), F.lit(0)).cast("long").alias("weight_sum"),
        )
    )
    score = F.when(
        F.col("n_features") > 0,
        F.col("weight_sum").cast("double") / (WEIGHT_SCALE * F.col("n_features")),
    ).otherwise(F.lit(0.0))
    return scored.select(
        id_col,
        "n_features",
        "weight_sum",
        score.alias("score"),
        (score > threshold).alias("keep"),
    )
