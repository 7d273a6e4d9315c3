"""Dataset splitting and shard assignment for training pipelines.

Two operations every pretraining data pipeline needs downstream of
curation, both expression-only (codegen, no UDF, no RNG state) and
deterministic across engines:

* :func:`hash_split` — assign each row to train/valid/test by an
  md5-derived uniform in [0,1): reproducible on any cluster size, stable
  under re-runs and appends (a document's split never changes), and
  auditable in SQL. The standard alternative — ``randomSplit`` — is none
  of those things.
* :func:`assign_shards` — pack rows into fixed-token-budget shards by a
  running token count over a total order. Spark executes the ordered
  window distributed (range-partitioned sort, per-partition running sums
  with partial offsets); the output is the (shard_id, row) map a shard
  writer consumes.
"""

from __future__ import annotations

from typing import Dict, Sequence

from pyspark.sql import DataFrame, Window, functions as F, types as T

from .hashing import hex_prefix_long

# 8 hex chars = 32 bits of md5 → uniform integer in [0, 2^32)
_SPLIT_BITS = 32
_SPLIT_MOD = 1 << _SPLIT_BITS


def hash_split(df: DataFrame, id_col: str = "doc_id",
               weights: Dict[str, float] | None = None,
               salt: str = "split") -> DataFrame:
    """Add a ``split`` column ('train'/'valid'/... per ``weights``).

    u = first 32 md5 bits of ``salt:id`` → label by cumulative-weight
    thresholds on the INTEGER value (floor(cum·2³²)), so the boundary is
    exact — no float comparison ambiguity. Changing ``salt`` re-draws the
    assignment; appends never move existing rows between splits."""
    weights = weights or {"train": 0.98, "valid": 0.01, "test": 0.01}
    total = sum(weights.values())
    if not all(w > 0 for w in weights.values()):
        raise ValueError("weights must be positive")
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    u = hex_prefix_long(h, _SPLIT_BITS // 4)
    expr = None
    cum = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        cum += w / total
        threshold = int(cum * _SPLIT_MOD)
        clause = (u < threshold)
        expr = F.when(clause, name) if expr is None else expr.when(clause, name)
    last = items[-1][0]
    split = (expr.otherwise(last) if expr is not None else F.lit(last))
    return df.withColumn("split", split)


def hash_split_sql(id_col: str, weights: Dict[str, float] | None = None,
                   salt: str = "split") -> str:
    """The ``split`` expression as SQL (DuckDB-compatible), term by term."""
    weights = weights or {"train": 0.98, "valid": 0.01, "test": 0.01}
    total = sum(weights.values())
    from .hashing import horner_hex_sql

    h = f"md5(concat('{salt}:', CAST({id_col} AS VARCHAR)))"
    acc = horner_hex_sql(h, _SPLIT_BITS // 4)
    case = "CASE"
    cum = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        cum += w / total
        case += f" WHEN {acc} < {int(cum * _SPLIT_MOD)} THEN '{name}'"
    case += f" ELSE '{items[-1][0]}' END"
    return case


def exclusive_prefix_sum(df: DataFrame, token_col: str,
                         order_cols: Sequence[str] = ("doc_id",),
                         num_partitions: int | None = None,
                         out_col: str = "_prior") -> DataFrame:
    """Add ``out_col`` = exclusive running sum of ``token_col`` over the
    total order given by ``order_cols``, distributed.

    A naive ``Window.orderBy`` with no partition key collapses the corpus
    into ONE task — the classic global-prefix-sum trap. This is the
    distributed two-phase form instead: range-partition on the order keys
    (pinned by a lazy local checkpoint, since the range sampler is only
    deterministic within one materialization), then per-partition
    exclusive prefix sums via a state-carrying ``mapInPandas`` — Arrow
    batches stream through one generator per partition, so no second
    full-data exchange (a ``Window.partitionBy(_pid)`` would hash-shuffle
    the corpus again). Offsets come from a tiny per-partition-totals
    aggregate over the SAME pinned input, broadcast back. Net: one range
    shuffle over the data, whatever the corpus size."""
    cols = list(order_cols)
    n = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    ranged = (
        df.repartitionByRange(int(n), *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)  # pin _pid: both consumers below must
        # see the one materialized partitioning, not a re-sampled exchange
    )

    out_schema = T.StructType(
        list(ranged.schema.fields) + [T.StructField("_local_prior", T.LongType())]
    )

    def add_local_prior(batches):
        import numpy as np

        run = 0
        for pdf in batches:
            c = pdf[token_col].to_numpy()
            # a null token count arrives as NaN (pandas upcasts the int
            # column) and would silently poison the cumsum, then crash
            # int(sum) with an opaque worker traceback — fail with the
            # actual cause instead
            if np.isnan(c.astype("float64")).any():
                raise ValueError(
                    f"exclusive_prefix_sum: null value in {token_col!r}; "
                    "filter or fill token counts before prefix-summing")
            pdf = pdf.assign(_local_prior=run + c.cumsum() - c)
            run += int(c.sum())
            yield pdf

    local = ranged.mapInPandas(add_local_prior, out_schema)
    ow = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("_pid").agg(F.sum(token_col).alias("_ptotal"))
        # this window IS single-task — over ≤ num_partitions rows, not data
        .withColumn("_offset", F.coalesce(F.sum("_ptotal").over(ow), F.lit(0)))
        .select("_pid", "_offset")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_offset") + F.col("_local_prior"))
        .drop("_pid", "_local_prior", "_offset")
    )


def assign_shards(df: DataFrame, token_col: str, budget: int,
                  order_cols: Sequence[str] = ("doc_id",),
                  num_partitions: int | None = None) -> DataFrame:
    """Add ``shard_id`` = floor(exclusive-running-token-sum / budget) over
    the total order given by ``order_cols`` (which must be a total order —
    unique keys — or rows tying at a partition boundary land arbitrarily).

    A shard receives consecutive rows until the budget is crossed (the row
    that crosses starts in the shard it began in — fixed-offset packing,
    not bin packing, so the mapping is a closed-form expression any engine
    agrees on). Integer token arithmetic throughout.

    The running sum is :func:`exclusive_prefix_sum` — one range shuffle
    over the data, whatever the corpus size."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    prior = exclusive_prefix_sum(df, token_col, order_cols, num_partitions)
    # explicit floor: CAST(double AS BIGINT) truncates in Spark but ROUNDS
    # in DuckDB — floor() is the portable spelling of the intent
    return (
        prior.withColumn("shard_id", F.floor(F.col("_prior") / budget).cast("long"))
        .drop("_prior")
    )


def kfold_assign(df: DataFrame, k: int, id_col: str = "doc_id",
                 salt: str = "fold") -> DataFrame:
    """K-fold cross-validation assignment: ``fold`` ∈ 0..k−1 from the md5
    of (salt, id) — append-stable (a document keeps its fold as the
    corpus grows), uniform, and engine-reproducible, unlike
    ``randomSplit``. Use a different ``salt`` for a fresh partition.
    One projection; no shuffle."""
    if k < 2:
        raise ValueError("k must be ≥ 2")
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    u = hex_prefix_long(h, _SPLIT_BITS // 4)
    return df.withColumn("fold", (u % k).cast("int"))


def kfold_assign_sql(k: int, id_col: str = "doc_id",
                     salt: str = "fold") -> str:
    """DuckDB twin of :func:`kfold_assign`'s fold expression."""
    h = f"md5(concat('{salt}:', CAST({id_col} AS VARCHAR)))"
    acc = "0"
    for i in range(1, _SPLIT_BITS // 4 + 1):
        acc = f"({acc} * 16 + (instr('0123456789abcdef', substr({h}, {i}, 1)) - 1))"
    return f"CAST({acc} % {k} AS INTEGER)"


def curriculum_buckets(df: DataFrame, score_col: str, n_buckets: int = 10,
                       id_col: str = "doc_id") -> DataFrame:
    """Curriculum bucketing: ``bucket`` 1..n by ascending score order
    (ties by id — fully deterministic), equal-count ntile semantics.

    NOT ``ntile`` over an unpartitioned ``Window.orderBy`` — Spark
    executes that by collapsing the whole dataset into a single task
    (driver-visible as ``Window [...] ORDER BY`` with no partition key),
    a guaranteed OOM at the corpus sizes this repo targets. Instead the
    global rank comes from :func:`exclusive_prefix_sum` over a constant-1
    column (one range shuffle, per-partition cumsums, broadcast offsets)
    and the bucket is ntile's closed-form piecewise formula over
    (rank, n): the first ``n mod k`` buckets get ``n div k + 1`` rows,
    the rest ``n div k`` — bit-identical to ``ntile(k)``. Cost: one tiny
    count aggregate + one range shuffle of (score, id) — no single-task
    stage touches the data."""
    n = df.count()
    ranked = (
        exclusive_prefix_sum(df.withColumn("_one", F.lit(1)), "_one",
                             order_cols=(score_col, id_col))
        .withColumn("_rank", (F.col("_prior") + 1))
        .drop("_one", "_prior")
    )
    q, rem = divmod(n, n_buckets)
    big_rows = rem * (q + 1)  # rows covered by the (q+1)-sized buckets
    r = F.col("_rank")
    if q == 0:  # fewer rows than buckets: ntile gives each row its own
        bucket = r
    else:
        bucket = F.when(
            r <= big_rows, F.floor((r - 1) / (q + 1)) + 1
        ).otherwise(rem + F.floor((r - 1 - big_rows) / q) + 1)
    return ranked.withColumn("bucket", bucket.cast("int")).drop("_rank")


def cluster_aware_split(df: DataFrame, clusters: DataFrame,
                        weights: Dict[str, float] | None = None,
                        salt: str = "split", id_col: str = "doc_id",
                        cluster_col: str = "canonical_id") -> DataFrame:
    """Leakage-safe train/valid/test split: the assignment hashes the
    near-dup CLUSTER id instead of the document id, so every member of a
    duplicate cluster lands in the SAME split — a plain per-doc
    ``hash_split`` puts one crawl of a page in train and its near-copy
    in test, silently inflating eval scores.

    ``clusters`` is ``dedup.neardup_clusters`` output; docs absent from
    it are singletons and hash their own id. One left join + the same
    exact integer-threshold draw as :func:`hash_split` (append-stable,
    salt-redrawable)."""
    joined = df.join(clusters.select(id_col, cluster_col), id_col, "left")
    key = F.coalesce(F.col(cluster_col), F.col(id_col))
    out = hash_split(joined.withColumn("_skey", key), id_col="_skey",
                     weights=weights, salt=salt)
    return out.drop("_skey", cluster_col)
