"""Cardinality sketches: a deterministic HyperLogLog built from md5 bits.

The reference has no sketch operators (its only numeric aggregate is the
semantic-chunker percentile — SURVEY §2.7); at 100 TB a distinct-count over
a high-cardinality key (users, URLs, shingles) needs a fixed-size sketch,
not a shuffle of every distinct value. This HLL is expression-only
(JVM-side, whole-stage codegen — no UDF) and *deterministic across
engines*: bucket and rank both derive from the md5 hex digest via string
ops, and the harmonic sum adds only powers of two (exact in double for
p ≤ 8, rank width 52 bits — every partial sum is representable, so the
result does not depend on Spark's aggregation order).

Flajolet et al., "HyperLogLog: the analysis of a near-optimal cardinality
estimation algorithm" (AofA 2007) is the published basis.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from .hashing import hex_digit

# 52 bits of rank stream = 13 hex chars after the 2 bucket chars.
_RANK_HEX_CHARS = 13

# Leading zero bits of a single non-zero hex digit.
_LZ_CASE = (
    "CASE {c} WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2 "
    "WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1 "
    "ELSE 0 END"
)


def hll_rank_bucket(value: Column, precision_bits: int = 8) -> tuple[Column, Column]:
    """(bucket, rank) for one value: bucket = first ``precision_bits`` of
    md5, rank = 1 + leading zeros of the next 52 bits. String/integer ops
    only, so Spark and any SQL oracle agree bit-for-bit."""
    if precision_bits != 8:
        raise ValueError("only p=8 is wired (bucket = first two hex chars)")
    h = F.md5(value.cast("string"))
    bucket = hex_digit(F.substring(h, 1, 1)) * 16 + hex_digit(F.substring(h, 2, 1))
    s = F.substring(h, 3, _RANK_HEX_CHARS)
    lz_hex = F.length(F.regexp_extract(s, "^0*", 0))
    first = F.substring(s, lz_hex + 1, 1)
    lz_bits = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rank = F.when(
        lz_hex == _RANK_HEX_CHARS, F.lit(_RANK_HEX_CHARS * 4 + 1)
    ).otherwise(lz_hex * 4 + lz_bits + 1)
    return bucket.alias("hll_bucket"), rank.alias("hll_rank")


def hll_distinct(df: DataFrame, value_col: str,
                 group_cols: Optional[Sequence[str]] = None,
                 precision_bits: int = 8,
                 corrected: bool = False) -> DataFrame:
    """Approximate COUNT(DISTINCT value_col), optionally grouped.

    Two map-side-combinable aggregations: max rank per (group, bucket),
    then the harmonic mean over buckets. Output per group:

    - ``hll_estimate`` — raw HLL estimate (bit-exact across engines)
    - ``hll_nonempty_buckets`` — observed buckets (m − V)
    - ``hll_estimate_corrected`` (when ``corrected=True``) — linear-counting
      correction for the small range (E ≤ 2.5m with empty buckets). Uses
      ``ln`` — correct to double precision but not guaranteed identically
      rounded on every libm, so the oracle-checked query pins the raw
      estimate and this column is round-tripped at 6 decimals in tests.
    """
    m = 1 << precision_bits
    alpha = 0.7213 / (1.0 + 1.079 / m)  # standard constant for m ≥ 128
    g = list(group_cols or [])
    bucket, rank = hll_rank_bucket(F.col(value_col), precision_bits)
    per_bucket = (
        df.filter(F.col(value_col).isNotNull())
        .select(*g, bucket, rank)
        .groupBy(*g, "hll_bucket")
        .agg(F.max("hll_rank").alias("max_rank"))
    )
    # sum of 2^-rank over observed buckets + 1.0 per empty bucket
    agg = per_bucket.groupBy(*g).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rank"))).alias("_inv_sum"),
        F.count("*").alias("hll_nonempty_buckets"),
    )
    inv_total = F.col("_inv_sum") + (F.lit(m) - F.col("hll_nonempty_buckets"))
    est = F.lit(alpha * m * m) / inv_total
    out = agg.select(
        *g,
        est.alias("hll_estimate"),
        F.col("hll_nonempty_buckets"),
    )
    if corrected:
        v = F.lit(m) - F.col("hll_nonempty_buckets")
        corrected_est = F.when(
            (F.col("hll_estimate") <= 2.5 * m) & (v > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / v),
        ).otherwise(F.col("hll_estimate"))
        out = out.withColumn("hll_estimate_corrected", corrected_est)
    return out


def hll_oracle_sql(table: str, value_col: str,
                   group_cols: Optional[Sequence[str]] = None,
                   precision_bits: int = 8) -> str:
    """The identical computation as ANSI SQL (DuckDB-compatible), for the
    correctness gate. Mirrors :func:`hll_distinct` term by term."""
    if precision_bits != 8:
        raise ValueError("only p=8 is wired")
    m = 1 << precision_bits
    alpha = 0.7213 / (1.0 + 1.079 / m)
    g = list(group_cols or [])
    gsel = "".join(f"{c}, " for c in g)
    gby_bucket = ", ".join(g + ["hll_bucket"]) if g else "hll_bucket"
    gby = ", ".join(g)
    hexv = "(instr('0123456789abcdef', {c}) - 1)"
    b1 = hexv.format(c="substr(h, 1, 1)")
    b2 = hexv.format(c="substr(h, 2, 1)")
    lz_case = _LZ_CASE.format(c="substr(s, lz_hex + 1, 1)")
    return f"""
WITH hashed AS (
  SELECT {gsel}md5(CAST({value_col} AS VARCHAR)) AS h
  FROM {table} WHERE {value_col} IS NOT NULL),
ranked AS (
  SELECT {gsel}{b1} * 16 + {b2} AS hll_bucket,
    CASE WHEN lz_hex = {_RANK_HEX_CHARS} THEN {_RANK_HEX_CHARS * 4 + 1}
         ELSE lz_hex * 4 + {lz_case} + 1 END AS hll_rank
  FROM (SELECT {gsel}h, substr(h, 3, {_RANK_HEX_CHARS}) AS s,
          length(regexp_extract(substr(h, 3, {_RANK_HEX_CHARS}), '^0*')) AS lz_hex
        FROM hashed) t),
per_bucket AS (
  SELECT {gsel}hll_bucket, MAX(hll_rank) AS max_rank
  FROM ranked GROUP BY {gby_bucket})
SELECT {gsel}CAST({alpha!r} AS DOUBLE) * {m} * {m} /
    (SUM(POW(2.0, -max_rank)) + ({m} - COUNT(*))) AS hll_estimate,
  COUNT(*) AS hll_nonempty_buckets
FROM per_bucket{f" GROUP BY {gby}" if g else ""}
"""


_HEX3 = 3  # 3 hex chars = 12 bits → width 4096
_CM_DEPTH = 4


def _hex_int(col: Column, start: int, nchars: int) -> Column:
    """Integer value of ``nchars`` hex chars of ``col`` starting at 1-based
    ``start`` — positional instr sums, identical in any SQL engine."""
    acc: Column = F.lit(0)
    for i in range(nchars):
        acc = acc * 16 + hex_digit(F.substring(col, start + i, 1))
    return acc


def cm_sketch(df: DataFrame, value_col: str,
              depth: int = _CM_DEPTH) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of a value stream.

    ``depth`` hash rows × 4096 columns; row r's column is 3 hex chars
    sliced out of ONE md5 per value (the minhash-slicing trick — one digest,
    not ``depth``). The sketch is ≤ depth×4096 counter rows whatever the
    input size: the groupBy shuffles (row, col) ints with map-side combine,
    so at 100 TB the reduce side sees kilobytes. Deterministic across
    engines — md5-derived columns, integer counts.
    """
    if not 1 <= depth <= 5:
        raise ValueError("depth uses 3 hex chars per row from one md5: 1..5")
    h = F.md5(F.col(value_col).cast("string"))
    cols = F.array(*[_hex_int(h, 1 + _HEX3 * r, _HEX3) for r in range(depth)])
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(F.posexplode(cols).alias("cm_row", "cm_col"))
        .groupBy("cm_row", "cm_col")
        .agg(F.count("*").alias("cm_count"))
    )


def cm_estimate(sketch: DataFrame, items: DataFrame, value_col: str,
                depth: int = _CM_DEPTH) -> DataFrame:
    """Point-estimate counts for ``items`` against a :func:`cm_sketch`:
    min over the ``depth`` counters each item hashes to (an upper bound on
    the true count, within εN with probability 1−δ). The sketch side is
    ≤ depth×4096 rows — Spark broadcasts it, so estimation is a map-side
    join however many items are probed."""
    h = F.md5(F.col(value_col).cast("string"))
    cols = F.array(*[_hex_int(h, 1 + _HEX3 * r, _HEX3) for r in range(depth)])
    probes = items.select(
        F.col(value_col),
        F.posexplode(cols).alias("cm_row", "cm_col"),
    )
    return (
        probes.join(F.broadcast(sketch), ["cm_row", "cm_col"], "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce(F.col("cm_count"), F.lit(0))).alias("cm_estimate"))
    )


def cm_oracle_sql(stream_sql: str, items_sql: str, value_col: str = "v",
                  depth: int = _CM_DEPTH) -> str:
    """DuckDB form of sketch-build + point estimation, term by term.
    ``stream_sql``/``items_sql`` must yield a column named ``value_col``."""
    hexv = "(instr('0123456789abcdef', {c}) - 1)"

    def hex3(start: int) -> str:
        return "(" + " + ".join(
            f"{hexv.format(c=f'substr(h, {start + i}, 1)')} * {16 ** (_HEX3 - 1 - i)}"
            for i in range(_HEX3)
        ) + ")"

    return f"""
WITH stream AS ({stream_sql}),
cells AS (
  SELECT r.cm_row,
    CASE r.cm_row {" ".join(f"WHEN {r} THEN {hex3(1 + _HEX3 * r)}" for r in range(depth))} END AS cm_col
  FROM (SELECT md5(CAST({value_col} AS VARCHAR)) AS h FROM stream
        WHERE {value_col} IS NOT NULL) s,
       (SELECT unnest(generate_series(0, {depth - 1})) AS cm_row) r),
sk AS (SELECT cm_row, cm_col, COUNT(*) AS cm_count FROM cells GROUP BY 1, 2),
items AS ({items_sql}),
probes AS (
  SELECT i.{value_col}, r.cm_row,
    CASE r.cm_row {" ".join(f"WHEN {r} THEN {hex3(1 + _HEX3 * r)}" for r in range(depth))} END AS cm_col
  FROM (SELECT {value_col}, md5(CAST({value_col} AS VARCHAR)) AS h FROM items) i,
       (SELECT unnest(generate_series(0, {depth - 1})) AS cm_row) r)
SELECT p.{value_col}, MIN(coalesce(sk.cm_count, 0)) AS cm_estimate
FROM probes p LEFT JOIN sk USING (cm_row, cm_col)
GROUP BY p.{value_col}
"""


_BLOOM_HEX = 4  # 4 hex chars = 16 bits → m = 65536


def bloom_build(df: DataFrame, value_col: str, k: int = 4) -> DataFrame:
    """Bloom filter (Bloom 1970) of a key set as a DataFrame of set bit
    positions (m = 65536 bits, ``k`` hashes = 4-hex-char slices of one md5).

    The relational form is the mergeable one: union + distinct combines
    filters, and the result is ≤ m int rows — broadcastable to every probe
    task. (A bandwidth-tighter variant packs bits into m/64 longs with a
    bit_or aggregate; the set-of-positions form keeps the oracle exact and
    the FP math identical.)"""
    if not 1 <= k <= 8:
        raise ValueError("k slices 4 hex chars per hash from one md5: 1..8")
    h = F.md5(F.col(value_col).cast("string"))
    bits = F.array(*[_hex_int(h, 1 + _BLOOM_HEX * j, _BLOOM_HEX) for j in range(k)])
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(F.explode(bits).alias("bit"))
        .distinct()
    )


def bloom_might_contain(bloom: DataFrame, probes: DataFrame, value_col: str,
                        k: int = 4) -> DataFrame:
    """Probe membership: an item *may* be in the set iff all ``k`` of its
    bits are present. The bloom side broadcasts; the probe side is one
    explode + map-side join + count==k per item — no probe-set shuffle on
    anything wider than (value, bit)."""
    h = F.md5(F.col(value_col).cast("string"))
    bits = F.array(*[_hex_int(h, 1 + _BLOOM_HEX * j, _BLOOM_HEX) for j in range(k)])
    exploded = probes.select(F.col(value_col), F.explode(bits).alias("bit"))
    hits = (
        exploded.join(F.broadcast(bloom.withColumn("_hit", F.lit(1))), "bit", "left")
        .groupBy(value_col)
        .agg((F.sum(F.coalesce(F.col("_hit"), F.lit(0))) == k).alias("bloom_maybe"))
    )
    return hits


def histogram_quantiles(df: DataFrame, value_col: str,
                        lo: float, hi: float, nbins: int = 256,
                        qs: Sequence[float] = (0.5, 0.95, 0.99)) -> DataFrame:
    """Approximate quantiles from a fixed-bin histogram sketch.

    Exact percentiles need a full sort (or ordered-set aggregate) per
    group; at 100 TB the scalable path is a MERGEABLE fixed-size sketch:
    one map-side-combinable count per bin (the shuffle carries ≤ ``nbins``
    rows whatever the input size), then linear interpolation inside the
    target bin. [lo, hi) is caller-declared so the sketch stays one-pass;
    values outside clamp to the edge bins. Error is bounded by the bin
    width. Deterministic across engines: bin assignment and interpolation
    are the same IEEE expressions everywhere, and counts are integers.

    Output: one row per q — (q, estimate, n_below, bin_count). Quantiles
    must lie in (0, 1] — q=0 has no rank-crossing bin (ask for lo
    directly); an EMPTY input yields zero output rows, not an error.
    """
    if not (hi > lo) or nbins < 1:
        raise ValueError("need hi > lo and nbins >= 1")
    if not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"quantiles must be in (0, 1]: {list(qs)}")
    width = (hi - lo) / nbins
    v = F.col(value_col)
    b = F.least(
        F.greatest(F.floor((v - lo) / width), F.lit(0)), F.lit(nbins - 1)
    ).cast("int")
    counts = (
        df.filter(v.isNotNull())
        .select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("bin_count"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        counts.withColumn("cdf_hi", F.sum("bin_count").over(w))
        .withColumn("n_below", F.col("cdf_hi") - F.col("bin_count"))
    )
    total = counts.agg(F.sum("bin_count").alias("_total"))
    targets = counts.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    # target rank q*total lands in the first bin whose cdf_hi reaches it
    hit = (
        targets.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(cum))
        .filter(
            (F.col("q") * F.col("_total") > F.col("n_below"))
            & (F.col("q") * F.col("_total") <= F.col("cdf_hi"))
        )
    )
    est = (
        F.lit(lo)
        + F.lit(width)
        * (F.col("bin") + (F.col("q") * F.col("_total") - F.col("n_below"))
           / F.col("bin_count"))
    )
    return hit.select("q", est.alias("estimate"), "n_below", "bin_count")


def histogram_quantiles_oracle_sql(table: str, value_col: str,
                                   lo: float, hi: float, nbins: int = 256,
                                   qs: Sequence[float] = (0.5, 0.95, 0.99)) -> str:
    """The identical computation as DuckDB SQL, term by term."""
    if not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"quantiles must be in (0, 1]: {list(qs)}")
    width = (hi - lo) / nbins
    # literal floats parse as DECIMAL in DuckDB — cast to match Spark's double
    q_rows = ", ".join(f"(CAST({float(q)!r} AS DOUBLE))" for q in qs)
    return f"""
WITH counts AS (
  SELECT CAST(least(greatest(floor(({value_col} - CAST({lo!r} AS DOUBLE))
                             / CAST({width!r} AS DOUBLE)), 0), {nbins - 1}) AS INT) AS bin,
         COUNT(*) AS bin_count
  FROM {table} WHERE {value_col} IS NOT NULL
  GROUP BY 1),
cum AS (
  SELECT bin, bin_count,
         SUM(bin_count) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cdf_hi,
         CAST(SUM(bin_count) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) - bin_count AS BIGINT) AS n_below
  FROM counts),
total AS (SELECT SUM(bin_count) AS _total FROM counts),
targets(q) AS (VALUES {q_rows})
SELECT q,
  CAST({lo!r} AS DOUBLE) + CAST({width!r} AS DOUBLE)
    * (bin + (q * _total - n_below) / bin_count) AS estimate,
  n_below, bin_count
FROM targets, total, cum
WHERE q * _total > n_below AND q * _total <= cdf_hi
"""


def hll_registers(df: DataFrame, value_col: str,
                  group_cols: Optional[Sequence[str]] = None,
                  precision_bits: int = 8) -> DataFrame:
    """The HLL's mergeable STATE: (group..., hll_bucket, max_rank) — what
    a per-partition / per-day / per-source sketch table stores. Merging
    sketches is a max per bucket (:func:`hll_merge`); estimates come out
    identical to sketching the union directly, which is the whole point
    of sketches at 100 TB: daily register tables fold into monthly ones
    without touching raw data."""
    g = list(group_cols or [])
    bucket, rank = hll_rank_bucket(F.col(value_col), precision_bits)
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*g, bucket, rank)
        .groupBy(*g, "hll_bucket")
        .agg(F.max("hll_rank").alias("max_rank"))
    )


def hll_merge(registers: DataFrame,
              group_cols: Optional[Sequence[str]] = None,
              precision_bits: int = 8) -> DataFrame:
    """Fold register tables down to ``group_cols`` (drop the rest) and
    estimate: max per bucket, then the same harmonic mean as
    :func:`hll_distinct` — bit-exactly equal to sketching the merged
    data directly (max is associative), so merged estimates hash-match
    the direct oracle."""
    m = 1 << precision_bits
    alpha = 0.7213 / (1.0 + 1.079 / m)
    g = list(group_cols or [])
    folded = registers.groupBy(*g, "hll_bucket").agg(
        F.max("max_rank").alias("max_rank")
    )
    agg = folded.groupBy(*g).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rank"))).alias("_inv_sum"),
        F.count("*").alias("hll_nonempty_buckets"),
    )
    inv_total = F.col("_inv_sum") + (F.lit(m) - F.col("hll_nonempty_buckets"))
    return agg.select(
        *g,
        (F.lit(alpha * m * m) / inv_total).alias("hll_estimate"),
        F.col("hll_nonempty_buckets"),
    )
