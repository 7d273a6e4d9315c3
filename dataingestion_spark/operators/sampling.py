"""Deterministic sampling for training-data curation.

Two operators the reference has no counterpart for (its pipeline ingests
every file handed to it — ``IngestionPipeline.cs:121`` — selection happens
upstream), but any 100 TB training pipeline needs between curation and
sharding:

* :func:`stratified_sample` — at most ``n`` documents per stratum
  (language, source, quality band), chosen by an md5 order so the sample
  is reproducible across engines, runs, and appends of NEW strata
  (appending rows to one stratum re-draws only that stratum's ranking).
* :func:`mixture_sample` — the domain-mixing step: per-source TOKEN
  budgets ("10 B tokens of web, 2 B of code, ..."). Documents are taken
  in md5 order until their exclusive running token sum crosses the
  source's budget — the same fixed-offset packing rule as
  ``sharding.assign_shards``, so the kept set is a closed-form function
  of the corpus, never of partitioning or timing.

Scale shape: both are one hash-shuffle on the stratum/source key with a
per-key window. The ranking hash is computed map-side; the shuffle
carries (key, hash, tokens) — no text. Per-key windows serialize WITHIN
a key, so a single giant stratum bottlenecks on one task; for that shape
use ``assign_shards``'s two-phase range prefix sum per source (same
semantics, one more shuffle) — the cutoff itself stays identical.

md5-order caveat (deliberate): the sample is uniform over documents,
not weighted — weighting would make the kept set depend on floats.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, Window, functions as F

from .hashing import hex_prefix_long

__all__ = ["stratified_sample", "stratified_sample_sql",
           "mixture_sample", "mixture_sample_sql",
           "temperature_budgets", "temperature_mixture_sample",
           "temperature_mixture_sql",
           "upsample_by_epochs", "upsample_by_epochs_sql"]


def _rank_hash(id_col: str, salt: str):
    return F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))


def _q(s: str) -> str:
    """DuckDB string literal: quote-doubling (NOT backslash escaping,
    which DuckDB treats literally — unlike Spark SQL's lakehouse
    predicates)."""
    return "'" + s.replace("'", "''") + "'"


def stratified_sample(df: DataFrame, strata_col: str, n_per_stratum: int,
                      id_col: str = "doc_id",
                      salt: str = "sample") -> DataFrame:
    """Keep the ``n_per_stratum`` documents with the smallest
    ``md5(salt:id)`` per stratum. Adds ``sample_rank`` (1-based within
    the stratum). Changing ``salt`` re-draws every stratum."""
    if n_per_stratum < 1:
        raise ValueError("n_per_stratum must be >= 1")
    w = Window.partitionBy(strata_col).orderBy(
        _rank_hash(id_col, salt).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_stratum)
    )


def stratified_sample_sql(table: str, strata_col: str, n_per_stratum: int,
                          id_col: str = "doc_id", salt: str = "sample",
                          cols: str = "*") -> str:
    """The identical sample as DuckDB SQL."""
    h = f"md5(concat({_q(salt + ':')}, CAST({id_col} AS VARCHAR)))"
    return f"""
SELECT * FROM (
  SELECT {cols}, ROW_NUMBER() OVER (
    PARTITION BY {strata_col} ORDER BY {h} ASC, {id_col} ASC
  ) AS sample_rank
  FROM {table}
) WHERE sample_rank <= {int(n_per_stratum)}
"""


def mixture_sample(df: DataFrame, source_col: str, token_col: str,
                   budgets: Dict[str, int], id_col: str = "doc_id",
                   salt: str = "mix",
                   default_budget: Optional[int] = None) -> DataFrame:
    """Domain mixing to per-source token budgets.

    For each source, documents are ordered by ``md5(salt:id)`` and kept
    while their EXCLUSIVE running token sum is below the source's budget
    — so the document that crosses the budget is kept (fixed-offset
    packing, mirroring ``assign_shards``) and every budget > 0 yields at
    least one document per non-empty source. Sources absent from
    ``budgets`` keep everything when ``default_budget`` is None, else
    get ``default_budget``. Adds ``tokens_before`` (the exclusive sum,
    for auditing how full each source's budget ran).
    """
    if any(b <= 0 for b in budgets.values()):
        raise ValueError("budgets must be positive")
    if default_budget is not None and default_budget <= 0:
        raise ValueError("default_budget must be positive")
    w = (
        Window.partitionBy(source_col)
        .orderBy(_rank_hash(id_col, salt).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = df.withColumn(
        "tokens_before",
        F.coalesce(F.sum(F.col(token_col).cast("long")).over(w), F.lit(0).cast("long")),
    )
    budget_expr = None
    for src, b in budgets.items():
        clause = F.col(source_col) == src
        budget_expr = (F.when(clause, b) if budget_expr is None
                       else budget_expr.when(clause, b))
    if budget_expr is None:
        budget = F.lit(default_budget)  # uniform budget (or None → keep all)
    else:
        budget = budget_expr.otherwise(F.lit(default_budget))
    if default_budget is None and budgets:
        return out.filter(budget.isNull() | (F.col("tokens_before") < budget))
    if default_budget is None:
        return out
    return out.filter(F.col("tokens_before") < budget)


def mixture_sample_sql(table: str, source_col: str, token_col: str,
                       budgets: Dict[str, int], id_col: str = "doc_id",
                       salt: str = "mix",
                       default_budget: Optional[int] = None,
                       cols: str = "*") -> str:
    """The identical mixture as DuckDB SQL."""
    h = f"md5(concat({_q(salt + ':')}, CAST({id_col} AS VARCHAR)))"
    if budgets:
        case = "CASE"
        for src, b in budgets.items():
            case += f" WHEN {source_col} = {_q(src)} THEN {int(b)}"
        case += (f" ELSE {int(default_budget)} END"
                 if default_budget is not None else " ELSE NULL END")
    else:  # no CASE arms is a parse error — emit the bare literal
        case = (str(int(default_budget)) if default_budget is not None
                else "NULL")
    null_keeps = "budget IS NULL OR" if default_budget is None else ""
    # EXCLUDE: the budget term is filter-only — the Spark side never emits it
    return f"""
SELECT * EXCLUDE (budget) FROM (
  SELECT {cols},
    CAST(COALESCE(SUM(CAST({token_col} AS BIGINT)) OVER (
      PARTITION BY {source_col} ORDER BY {h} ASC, {id_col} ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), 0) AS BIGINT) AS tokens_before,
    {case} AS budget
  FROM {table}
) WHERE {null_keeps} tokens_before < budget
"""


_TEMP_ALPHAS = (0.0, 0.5, 1.0)


def temperature_budgets(df: DataFrame, source_col: str, token_col: str,
                        total_tokens: int, alpha: float = 0.5) -> Dict[str, int]:
    """Per-source budgets ∝ (source token total)^alpha — the multilingual /
    multi-domain temperature-sampling rule (Conneau & Lample 2019 §3.1;
    "sampling temperature" T = 1/alpha): alpha=1 keeps natural proportions,
    alpha=0 is uniform, alpha=0.5 flattens the head and boosts the tail.

    alpha is restricted to {0, 0.5, 1} so every weight is IEEE-exact
    (sqrt is correctly rounded everywhere; pow is not) and the budgets
    reproduce bit-for-bit in any engine. The per-source totals collect to
    the driver — sources are domains, a handful of rows by construction —
    and the weight sum folds in sorted-source order, so the shares are
    order-deterministic too. Budgets floor to ints with a 1-token minimum
    (every non-empty source survives)."""
    import math

    if alpha not in _TEMP_ALPHAS:
        raise ValueError(f"alpha must be one of {_TEMP_ALPHAS} (bit-exact weights)")
    if total_tokens <= 0:
        raise ValueError("total_tokens must be positive")
    totals = {
        r[0]: r[1]
        for r in df.groupBy(source_col)
        .agg(F.sum(F.col(token_col).cast("long")))
        .collect()
    }
    if not totals:
        return {}
    weights = {
        s: (1.0 if alpha == 0.0 else math.sqrt(float(t)) if alpha == 0.5
            else float(t))
        for s, t in totals.items()
    }
    wsum = 0.0
    for s in sorted(weights):
        wsum = wsum + weights[s]
    return {
        s: max(1, int(math.floor(total_tokens * (w / wsum))))
        for s, w in weights.items()
    }


def temperature_mixture_sample(df: DataFrame, source_col: str, token_col: str,
                               total_tokens: int, alpha: float = 0.5,
                               id_col: str = "doc_id",
                               salt: str = "mix") -> DataFrame:
    """:func:`mixture_sample` with budgets from :func:`temperature_budgets`
    — one knob (total token budget + temperature) instead of a hand-written
    per-source budget dict."""
    budgets = temperature_budgets(df, source_col, token_col, total_tokens, alpha)
    return mixture_sample(df, source_col, token_col, budgets,
                          id_col=id_col, salt=salt)


def temperature_mixture_sql(table: str, source_col: str, token_col: str,
                            total_tokens: int, alpha: float = 0.5,
                            id_col: str = "doc_id", salt: str = "mix",
                            cols: str = "doc_id") -> str:
    """The identical temperature mixture as DuckDB SQL, budgets included:
    weight sum via sorted-source list fold (matches the driver-side fold),
    floor/greatest exactly as the python side."""
    if alpha not in _TEMP_ALPHAS:
        raise ValueError(f"alpha must be one of {_TEMP_ALPHAS}")
    wexpr = {0.0: "CAST(1.0 AS DOUBLE)", 0.5: "sqrt(CAST(t AS DOUBLE))",
             1.0: "CAST(t AS DOUBLE)"}[alpha]
    h = f"md5(concat({_q(salt + ':')}, CAST({id_col} AS VARCHAR)))"
    return f"""
WITH totals AS (SELECT {source_col} AS src, SUM(CAST({token_col} AS BIGINT)) AS t
                FROM {table} GROUP BY 1),
wts AS (SELECT src, {wexpr} AS w FROM totals),
wsum AS (SELECT list_reduce(list(w ORDER BY src), (a, b) -> a + b) AS tw FROM wts),
buds AS (SELECT src, greatest(CAST(floor({int(total_tokens)} * (w / tw)) AS BIGINT), 1) AS budget
         FROM wts, wsum),
ranked AS (
  SELECT {cols}, {source_col} AS src,
    CAST(COALESCE(SUM(CAST({token_col} AS BIGINT)) OVER (
      PARTITION BY {source_col} ORDER BY {h} ASC, {id_col} ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
  FROM {table})
SELECT {cols}, tokens_before FROM ranked JOIN buds USING (src)
WHERE tokens_before < budget
"""


def _epoch_copies(w: float) -> tuple[int, int]:
    """(whole copies, 32-bit fractional threshold) for epoch weight w."""
    if w < 0:
        raise ValueError("epoch weights must be >= 0")
    whole = int(w)
    thresh = int(round((w - whole) * (1 << 32)))
    return whole, thresh


def upsample_by_epochs(df: DataFrame, source_col: str,
                       epochs: Dict[str, float], id_col: str = "doc_id",
                       salt: str = "epoch",
                       default_epochs: float = 1.0) -> DataFrame:
    """Repeat documents per-source by fractional epoch weights — the
    "see wikipedia 3.2×, web 1.0×" step of domain mixing (the reference
    ingests each file exactly once — ``IngestionPipeline.cs:121``;
    upsampling is a training-pipeline concern it has no surface for).

    A weight w yields ⌊w⌋ copies of every document plus one more iff the
    document's 32-bit md5 draw falls under round(frac(w)·2³²) — so the
    expected copy count is w, the realized count is a deterministic
    function of (salt, id), and appends never change existing documents'
    copy counts. Emits one row per copy with ``copy`` ∈ 1..n (the
    trainer's dedup-within-epoch handle); w < 1 downsamples (0 copies
    drops the document) and w = 0 removes the source entirely.

    Scale shape: pure projection + explode — no shuffle at all; the
    output inherits the input partitioning. The explode multiplies rows
    map-side, which is exactly where you want the fan-out (never through
    a shuffle)."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    u = hex_prefix_long(h, 8)
    n = None
    for src, w in epochs.items():
        whole, thresh = _epoch_copies(w)
        cnt = F.lit(whole) + F.when(u < thresh, 1).otherwise(0)
        clause = F.col(source_col) == src
        n = F.when(clause, cnt) if n is None else n.when(clause, cnt)
    dwhole, dthresh = _epoch_copies(default_epochs)
    dcnt = F.lit(dwhole) + F.when(u < dthresh, 1).otherwise(0)
    n = dcnt if n is None else n.otherwise(dcnt)
    copies = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )  # sequence(1, 0) counts DOWN to [1, 0] — the guard is load-bearing
    return df.withColumn("copy", F.explode(copies))


def upsample_by_epochs_sql(table: str, source_col: str,
                           epochs: Dict[str, float], id_col: str = "doc_id",
                           salt: str = "epoch",
                           default_epochs: float = 1.0,
                           cols: str = "*") -> str:
    """The identical upsampling as DuckDB SQL (generate_series(1, 0) is
    [] there, and unnest of [] drops the row — matching explode)."""
    h = f"md5(concat({_q(salt + ':')}, CAST({id_col} AS VARCHAR)))"
    acc = "0"
    for i in range(1, 9):
        acc = f"({acc} * 16 + (instr('0123456789abcdef', substr({h}, {i}, 1)) - 1))"
    arms = []
    for src, w in epochs.items():
        whole, thresh = _epoch_copies(w)
        arms.append(f"WHEN {source_col} = {_q(src)} THEN "
                    f"{whole} + CASE WHEN {acc} < {thresh} THEN 1 ELSE 0 END")
    dwhole, dthresh = _epoch_copies(default_epochs)
    dflt = f"{dwhole} + CASE WHEN {acc} < {dthresh} THEN 1 ELSE 0 END"
    case = ("CASE " + " ".join(arms) + f" ELSE {dflt} END") if arms else dflt
    return f"""
SELECT * EXCLUDE (n), CAST(unnest(generate_series(1, n)) AS INT) AS copy
FROM (SELECT {cols}, {case} AS n FROM {table})
"""


def uniform_sample_k(df: DataFrame, k: int, id_col: str = "doc_id",
                     salt: str = "") -> DataFrame:
    """EXACTLY k rows, uniformly and deterministically: global order by
    md5(salt:id) (ties by id), take the first k. Complements
    :func:`~..operators.sharding.hash_split`'s fractional split when a
    hard budget ("give me exactly 100k eval docs") matters more than
    append-stability — adding rows can rotate the selected set, which is
    inherent to any exact-k rule.

    Scale shape: orderBy + limit plans as TakeOrderedAndProject — a
    per-partition top-k heap merged on the driver-side single reduce,
    O(n log k) with NO global sort or shuffle of the data. Redraw with a
    different ``salt``."""
    h = _rank_hash(id_col, salt).alias("_h")
    return (
        df.select("*", h)
        .orderBy("_h", id_col)
        .limit(k)
        .drop("_h")
    )


def _u52(id_col: str, salt: str):
    """Uniform dyadic u ∈ (0, 1]: the first 13 hex digits of md5(salt:id)
    over 2^52, +2^-53 to exclude zero — every value is an exact double,
    so ln(u) is bit-identical in any engine with the same libm."""
    h = _rank_hash(id_col, salt)
    frac = hex_prefix_long(h, 13).cast("double") / F.lit(float(2 ** 52))
    return frac + F.lit(2.0 ** -53)


def weighted_sample_k(df: DataFrame, k: int, weight_col: str,
                      id_col: str = "doc_id", salt: str = "") -> DataFrame:
    """Exactly k rows, probability ∝ ``weight_col``, deterministic:
    Efraimidis–Spirakis A-ES keys ``e = -ln(u) / w`` (exponential with
    rate w), take the k SMALLEST — one distributed top-k, no shuffle of
    the data (TakeOrderedAndProject, like :func:`uniform_sample_k`).
    Rows with weight ≤ 0 or null are never selected. The md5-derived u
    is dyadic-exact, so the ln/divide key is engine-reproducible and the
    whole draw is SQL-oracle-checkable. Redraw with ``salt``."""
    w = F.col(weight_col).cast("double")
    key = (-F.log(_u52(id_col, salt)) / w).alias("_e")
    return (
        df.filter(w.isNotNull() & (w > 0))
        .select("*", key)
        .orderBy("_e", id_col)
        .limit(k)
        .drop("_e")
    )


def weighted_key_sql(id_col: str, weight_col: str, salt: str = "") -> str:
    """DuckDB restatement of :func:`weighted_sample_k`'s A-ES key for one
    row — kept adjacent so the engines stay in lock step."""
    h = f"md5(concat('{salt}:', CAST({id_col} AS VARCHAR)))"
    acc = "0"
    for i in range(1, 14):  # 13 hex digits = 52 bits
        acc = f"({acc} * 16 + (instr('0123456789abcdef', substr({h}, {i}, 1)) - 1))"
    u = f"((CAST({acc} AS DOUBLE) / {float(2 ** 52)!r}) + {2.0 ** -53!r})"
    return f"(-ln({u}) / CAST({weight_col} AS DOUBLE))"
