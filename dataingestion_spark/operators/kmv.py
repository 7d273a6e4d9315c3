"""KMV / theta sketches: distinct-count set algebra from k minimum hashes.

HLL (``sketches.py``) answers "how many distinct" for ONE stream; it
cannot intersect. The K-Minimum-Values sketch (Bar-Yossef et al. 2002;
the Theta-sketch framing is Dasgupta, Lang, Rhodes & Thaler, "A Framework
for Estimating Stream Expression Cardinalities", EDBT 2016) keeps the k
smallest hash values of a stream and supports **union, intersection, and
difference** estimates between independently-built sketches — the
question a corpus manager actually asks ("how many users appear in both
snapshots?", "how much does shard A's vocabulary overlap shard B's?")
without shuffling either side's distinct values.

Determinism contract (same as the HLL): the hash is the first 13 hex
chars of md5 — a 52-bit integer, exact in double — and *lexicographic
order on the fixed-length lowercase hex string equals numeric order*, so
"k smallest hashes" is a plain ORDER BY / LIMIT on strings that any
engine executes identically. The only float math is the final
``count * 2^52 / theta_hash`` — two correctly-rounded IEEE ops, so Spark
and DuckDB agree bit-for-bit.

Scale shape: building a sketch is ``distinct hash → global top-k`` —
Spark plans the limit as ``TakeOrderedAndProject`` (per-partition top-k,
then a k-row merge on the driver-side single partition), the same shape
the exact-k samplers use. The set algebra then runs on ≤ 2k rows.
Sketches are **mergeable**: :func:`kmv_union_sample` of two samples is
exactly the sample of the concatenated streams, so per-shard sketches
roll up without revisiting data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .hashing import hex_prefix_long, horner_hex_sql

__all__ = [
    "kmv_sample",
    "kmv_estimate",
    "kmv_union_sample",
    "kmv_set_estimates",
    "kmv_estimate_by",
    "kmv_hash_sql",
    "kmv_sample_sql",
    "kmv_estimate_sql",
    "kmv_set_estimates_sql",
    "kmv_estimate_by_sql",
]

_NCHARS = 13
_SPACE = float(1 << (4 * _NCHARS))  # 2^52


def kmv_sample(df: DataFrame, value_col: str, k: int) -> DataFrame:
    """The KMV sketch of ``value_col``: the ``k`` smallest distinct
    md5-prefix hashes, as ``(h string, hv long)`` rows.

    One distinct-aggregate shuffle on the 13-char hash (values
    themselves never move), then a TakeOrderedAndProject top-k."""
    if k < 2:
        raise ValueError("k must be >= 2 (the estimator divides by k-1)")
    h = F.substring(F.md5(F.col(value_col).cast("string")), 1, _NCHARS)
    return (df.select(h.alias("h")).where(F.col("h").isNotNull()).distinct()
            .orderBy("h").limit(k)
            .select("h", hex_prefix_long(F.col("h"), _NCHARS).alias("hv")))


def kmv_estimate(sample: DataFrame, k: int) -> DataFrame:
    """One row ``(n_sample bigint, est double)``. If the stream had fewer
    than ``k`` distinct values the sample IS the distinct set and the
    estimate is exact; otherwise est = (k-1) / theta with theta = the
    k-th smallest hash as a fraction of the hash space."""
    agg = sample.agg(F.count("*").cast("long").alias("n_sample"),
                     F.max("hv").alias("max_hv"))
    est = (F.when(F.col("n_sample") < k, F.col("n_sample").cast("double"))
           .otherwise(F.lit(float(k - 1)) * F.lit(_SPACE) / F.col("max_hv")))
    return agg.select("n_sample", est.alias("est"))


def kmv_union_sample(a: DataFrame, b: DataFrame, k: int) -> DataFrame:
    """Merge two sketches: k smallest of the distinct union — identical
    to sketching the concatenated streams, which is what makes per-shard
    sketches roll up losslessly."""
    return (a.select("h").unionByName(b.select("h")).distinct()
            .orderBy("h").limit(k)
            .select("h", hex_prefix_long(F.col("h"), _NCHARS).alias("hv")))


def kmv_set_estimates(a: DataFrame, b: DataFrame, k: int) -> DataFrame:
    """Union / intersection / difference cardinality estimates between
    two KMV sketches built with the same ``k``.

    Theta-sketch rule: restrict both samples to hashes strictly below
    ``theta`` = min of the two sketches' k-th values (a saturated
    sketch's theta; an unsaturated sketch contributes theta = 1, i.e.
    the full space), then every retained hash represents ``1/theta``
    distinct values. Output one row:
    ``est_union, est_intersect, est_diff_a, n_union, n_intersect``."""
    def theta_hv(s: DataFrame) -> DataFrame:
        # k-th smallest hash value, or the full space if unsaturated
        return s.agg(
            F.when(F.count("*") >= k, F.max("hv"))
             .otherwise(F.lit(int(_SPACE))).alias("t"))

    theta = (theta_hv(a).crossJoin(theta_hv(b).withColumnRenamed("t", "t2"))
             .select(F.least("t", "t2").alias("theta_hv")))

    au = a.select("h", "hv").withColumn("in_a", F.lit(1))
    bu = b.select("h", "hv").withColumn("in_b", F.lit(1))
    both = (au.join(bu.drop("hv"), "h", "full")
            .select(F.coalesce(au["hv"], hex_prefix_long(F.col("h"), _NCHARS))
                    .alias("hv"),
                    F.coalesce("in_a", F.lit(0)).alias("in_a"),
                    F.coalesce("in_b", F.lit(0)).alias("in_b"))
            .crossJoin(F.broadcast(theta))
            .where(F.col("hv") < F.col("theta_hv")))

    cnt = both.groupBy("theta_hv").agg(
        F.count("*").cast("long").alias("n_union"),
        F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0))
         .cast("long").alias("n_intersect"),
        F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 0), 1).otherwise(0))
         .cast("long").alias("n_diff_a"),
    )
    scale = F.lit(_SPACE) / F.col("theta_hv")
    return cnt.select(
        (F.col("n_union").cast("double") * scale).alias("est_union"),
        (F.col("n_intersect").cast("double") * scale).alias("est_intersect"),
        (F.col("n_diff_a").cast("double") * scale).alias("est_diff_a"),
        "n_union", "n_intersect",
    )


def kmv_estimate_by(df: DataFrame, value_col: str, group_cols,
                    k: int) -> DataFrame:
    """Per-group distinct-count estimates: one row per group with
    ``n_sample`` and ``est`` — the grouped form of sample+estimate.

    Shape: distinct (group, hash) → window row_number per group (the
    shuffle is on the group key; per-group state is the top-k only)
    → filter rank ≤ k → per-group aggregate. No per-group collect, no
    global sort: groups with < k distinct values report exactly."""
    from pyspark.sql import Window

    if k < 2:
        raise ValueError("k must be >= 2 (the estimator divides by k-1)")
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    h = F.substring(F.md5(F.col(value_col).cast("string")), 1, _NCHARS)
    d = (df.select(*group_cols, h.alias("h"))
         .where(F.col("h").isNotNull()).distinct())
    w = Window.partitionBy(*group_cols).orderBy("h")
    top = (d.withColumn("_rk", F.row_number().over(w))
           .filter(F.col("_rk") <= k)
           .select(*group_cols, hex_prefix_long(F.col("h"), _NCHARS).alias("hv")))
    agg = top.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_sample"),
        F.max("hv").alias("max_hv"))
    est = (F.when(F.col("n_sample") < k, F.col("n_sample").cast("double"))
           .otherwise(F.lit(float(k - 1)) * F.lit(_SPACE) / F.col("max_hv")))
    return agg.select(*group_cols, "n_sample", est.alias("est"))


# --- DuckDB twins ----------------------------------------------------------

def kmv_hash_sql(value_expr: str, nchars: int = _NCHARS) -> tuple[str, str]:
    """(hex-prefix expr, numeric-value-of-h expr over a column named h)."""
    hexpr = f"substr(md5(CAST({value_expr} AS VARCHAR)), 1, {nchars})"
    return hexpr, f"CAST({horner_hex_sql('h', nchars)} AS BIGINT)"


def kmv_sample_sql(values_sql: str, value_expr: str, k: int) -> str:
    """DuckDB twin of :func:`kmv_sample` over a stream CTE."""
    hexpr, hv = kmv_hash_sql(value_expr)
    return f"""
SELECT h, {hv} AS hv FROM (
  SELECT DISTINCT {hexpr} AS h FROM ({values_sql})
  WHERE {value_expr} IS NOT NULL
  ORDER BY h LIMIT {k}
)
"""


def kmv_estimate_sql(values_sql: str, value_expr: str, k: int) -> str:
    """DuckDB twin of sample+estimate in one statement."""
    sample = kmv_sample_sql(values_sql, value_expr, k)
    return f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
       CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
            ELSE CAST({float(k - 1)} AS DOUBLE) * {_SPACE} / MAX(hv) END AS est
FROM ({sample})
"""


def kmv_set_estimates_sql(a_sql: str, b_sql: str, k: int) -> str:
    """DuckDB twin of :func:`kmv_set_estimates` over two sample CTEs
    (each shaped like :func:`kmv_sample_sql` output)."""
    return f"""
WITH a AS ({a_sql}), b AS ({b_sql}),
theta AS (
  SELECT LEAST(
    (SELECT CASE WHEN COUNT(*) >= {k} THEN MAX(hv) ELSE CAST({int(_SPACE)} AS BIGINT) END FROM a),
    (SELECT CASE WHEN COUNT(*) >= {k} THEN MAX(hv) ELSE CAST({int(_SPACE)} AS BIGINT) END FROM b)
  ) AS theta_hv
),
ab AS (
  SELECT COALESCE(a.hv, b.hv) AS hv,
         CASE WHEN a.h IS NOT NULL THEN 1 ELSE 0 END AS in_a,
         CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS in_b
  FROM a FULL OUTER JOIN b ON a.h = b.h
),
cnt AS (
  SELECT t.theta_hv,
         CAST(COUNT(*) AS BIGINT) AS n_union,
         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_intersect,
         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_diff_a
  FROM ab, theta t
  WHERE hv < t.theta_hv
  GROUP BY t.theta_hv
)
SELECT CAST(n_union AS DOUBLE) * ({_SPACE} / theta_hv) AS est_union,
       CAST(n_intersect AS DOUBLE) * ({_SPACE} / theta_hv) AS est_intersect,
       CAST(n_diff_a AS DOUBLE) * ({_SPACE} / theta_hv) AS est_diff_a,
       n_union, n_intersect
FROM cnt
"""

def kmv_estimate_by_sql(values_sql: str, value_expr: str, group_cols,
                        k: int) -> str:
    """DuckDB twin of :func:`kmv_estimate_by`."""
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    gc = ", ".join(group_cols)
    hexpr, hv = kmv_hash_sql(value_expr)
    return f"""
WITH d AS (
  SELECT DISTINCT {gc}, {hexpr} AS h FROM ({values_sql})
  WHERE {value_expr} IS NOT NULL
),
top AS (
  SELECT {gc}, {hv} AS hv
  FROM (SELECT {gc}, h,
               ROW_NUMBER() OVER (PARTITION BY {gc} ORDER BY h) AS rk
        FROM d)
  WHERE rk <= {k}
)
SELECT {gc}, CAST(COUNT(*) AS BIGINT) AS n_sample,
       CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
            ELSE CAST({float(k - 1)} AS DOUBLE) * {_SPACE} / MAX(hv) END AS est
FROM top
GROUP BY {gc}
"""
