"""Sketch-backed approximate operators with exact verification.

Heavy hitters (frequent items) via per-partition Misra–Gries summaries:
each partition keeps at most ``capacity`` counters, so the candidate set
shipped to the driver side of the plan is tiny regardless of input size.
Completeness guarantee: any key with global count > N/capacity has
``count_p > n_p/capacity`` in at least one partition (the MG decrements in
partition p total at most ``n_p/capacity`` per key), so it survives that
partition's summary — the union of summaries contains every true heavy
hitter. Candidates are then verified with an EXACT count restricted to the
candidate set (broadcast semi join), so the final answer has no
approximation error at all: the sketch only prunes the aggregation.

At 100 TB this is the difference between shuffling every distinct key
(exact groupBy: shuffle width = |distinct keys|) and shuffling only
``capacity × num_partitions`` candidate rows plus one broadcast-pruned
exact count.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _misra_gries_partition(
    key_col: str, capacity: int
):
    """Vectorized MG: per Arrow batch, exact ``value_counts`` merged into
    the running summary with the standard MG summary-merge (add counts;
    if over capacity, subtract the (capacity+1)-th largest count from all
    and drop non-positives). The merge preserves the undercount bound
    (total decrement ≤ n_p / capacity per key), so the completeness
    guarantee is unchanged — and no Python statement runs per row."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters = pd.Series(dtype="int64")
        for pdf in batches:
            if not len(pdf):
                continue
            vc = pdf[key_col].value_counts()
            counters = counters.add(vc, fill_value=0)
            if len(counters) > capacity:
                d = counters.nlargest(capacity + 1).iloc[-1]
                counters = counters - d
                counters = counters[counters > 0]
        if len(counters):
            yield pd.DataFrame({key_col: counters.index.to_numpy()})

    return summarize


def heavy_hitters(
    df: DataFrame, key_col: str, min_frac: float, capacity: int | None = None
) -> DataFrame:
    """Exact keys with ``count > min_frac · N``, found sketch-first.

    The threshold is RELATIVE (a fraction of the input size) so the MG
    guarantee is scale-invariant: ``capacity > 1/min_frac`` suffices at any
    N — the same query is complete at sf0.01 and at 100 TB. Default
    capacity is ``ceil(2/min_frac)`` (2× headroom). N costs one extra
    count() scan; the exact verification aggregates ONLY candidate keys.
    Returns ``(key_col, cnt)``.
    """
    if not (0 < min_frac < 1):
        raise ValueError("heavy_hitters: min_frac must be in (0, 1)")
    if capacity is None:
        capacity = int(2.0 / min_frac) + 1
    if capacity * min_frac < 1:
        raise ValueError(
            f"heavy_hitters: capacity {capacity} < 1/min_frac — "
            "completeness guarantee would not hold"
        )
    n_total = df.count()
    schema = df.select(key_col).schema
    candidates = (
        df.select(key_col)
        .mapInPandas(_misra_gries_partition(key_col, capacity), schema)
        .distinct()
    )
    return (
        df.join(F.broadcast(candidates), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > min_frac * n_total)
    )


_CMS_PRIME = 2_147_483_647  # 2^31 − 1: (key%P)·a + b stays < 2^62 in int64


def _affine_params(seed: int, i: int) -> tuple[int, int]:
    """Deterministic (a, b) for hash row i of the 2-universal affine
    family h_i(x) = ((x mod P)·a_i + b_i mod P) mod width — the textbook
    CMS hash (Cormode & Muthukrishnan '05 analyse exactly this family).
    LCG-mixed from the seed; a ∈ [1, P−1] (a=0 would collapse the row)."""
    a = (1_103_515_245 * (seed + i) + 12_345) % (_CMS_PRIME - 1) + 1
    b = (69_069 * (seed + i) + 1_013_904_223) % _CMS_PRIME
    return a, b


def _cms_slot(key_col: str, i: int, width: int, seed: int, hash_family: str):
    if hash_family == "xxhash64":
        return F.pmod(F.xxhash64(F.col(key_col), F.lit(seed + i)), F.lit(width))
    if hash_family == "affine":
        a, b = _affine_params(seed, i)
        return F.pmod(
            F.pmod(
                F.pmod(F.col(key_col).cast("long"), F.lit(_CMS_PRIME)) * F.lit(a)
                + F.lit(b),
                F.lit(_CMS_PRIME),
            ),
            F.lit(width),
        )
    raise ValueError(f"cms: unknown hash_family {hash_family!r}")


def cms_build(
    df: DataFrame,
    key_col: str,
    width: int = 2048,
    depth: int = 4,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Count-min sketch as a DataFrame ``(depth, slot, cnt)`` — the
    mergeable point-query counterpart to :func:`heavy_hitters`: the whole
    build is ONE explode→groupBy (shuffle output ≤ depth·width rows
    regardless of input size), and sketches from different partitions/days
    merge by summing cnt. Guarantees (per CMS): estimate ≥ true count, and
    ≤ true + (e/width)·N with prob 1−(1/e)^depth.

    ``hash_family``: ``"xxhash64"`` (default — any key type, rows are
    ``xxhash64(key, seed+i)``, deterministic and retry-stable) or
    ``"affine"`` (INTEGER keys only): the 2-universal
    ``((key mod P)·a_i + b_i mod P) mod width`` family the original CMS
    analysis assumes — chosen so an external SQL engine can replay the
    sketch bit-for-bit (:func:`cms_oracle_sql`), which xxhash64 cannot."""
    if width < 2 or depth < 1:
        raise ValueError("cms_build: need width >= 2, depth >= 1")
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("depth"),
                        _cms_slot(key_col, i, width, seed, hash_family).alias(
                            "slot"
                        ),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("c")
    )
    return rows.groupBy("c.depth", "c.slot").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 2048,
    depth: int = 4,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Point-query a CMS for each key in ``keys``: recompute the key's
    (depth, slot) coordinates, join against the (tiny, broadcast) sketch,
    and take the min across depths. Missing slots count 0. Returns
    ``(key_col, est)``. Width/depth/seed/hash_family must match the
    build."""
    coords = keys.select(key_col).distinct().select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("depth"),
                        _cms_slot(key_col, i, width, seed, hash_family).alias(
                            "slot"
                        ),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("c"),
    ).select(key_col, "c.depth", "c.slot")
    joined = coords.join(F.broadcast(cms), ["depth", "slot"], "left").select(
        key_col, F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    return joined.groupBy(key_col).agg(F.min("cnt").alias("est"))


def cms_oracle_sql(
    table: str,
    key: str,
    key_filter: str,
    width: int = 2048,
    depth: int = 4,
    seed: int = 42,
) -> str:
    """ANSI-SQL replay of ``cms_build(hash_family='affine')`` +
    ``cms_estimate`` for an INTEGER key: the affine slots are plain
    modular arithmetic, so DuckDB reproduces the sketch — and therefore
    the point estimates — exactly. (The xxhash64 family has no DuckDB
    twin; this is why the affine family exists.) The inner key reduction
    mirrors Spark ``pmod`` explicitly (``((key % P) + P) % P``) so NEGATIVE
    integer keys hash identically on both engines — SQL ``%`` keeps the
    dividend's sign where ``pmod`` does not (r08 advisory); the outer mods
    act on non-negative values (a, b ≥ 0) where the two agree."""
    rows = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in ((i, _affine_params(seed, i)) for i in range(depth))
    )
    P = _CMS_PRIME
    return f"""
    WITH params(d, a, b) AS (VALUES {rows}),
    cms AS (
      SELECT p.d,
             (((((t.{key} % {P}) + {P}) % {P}) * p.a + p.b) % {P}) % {width}
               AS slot,
             COUNT(*) AS cnt
      FROM {table} t CROSS JOIN params p
      GROUP BY 1, 2
    ),
    keys AS (SELECT DISTINCT {key} FROM {table} WHERE {key_filter}),
    coords AS (
      SELECT k.{key}, p.d,
             (((((k.{key} % {P}) + {P}) % {P}) * p.a + p.b) % {P}) % {width}
               AS slot
      FROM keys k CROSS JOIN params p
    )
    SELECT c.{key} AS {key}, MIN(COALESCE(s.cnt, 0)) AS est
    FROM coords c LEFT JOIN cms s ON c.d = s.d AND c.slot = s.slot
    GROUP BY 1
    """


def _bloom_positions(col: str, num_bits: int, num_hashes: int, seed: int):
    """k bit positions for a key: pmod(xxhash64(key, seed+i), m)."""
    return [
        F.pmod(F.xxhash64(F.col(col), F.lit(seed + i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def bloom_words(
    df: DataFrame,
    key_col: str,
    num_bits: int = 65536,
    num_hashes: int = 5,
    seed: int = 7,
) -> DataFrame:
    """Bloom filter as a words-level frame ``(word, bits)`` — word index →
    64-bit word, ≤ m/64 rows, built entirely in Catalyst expressions (Spark
    4.1 does not expose ``bloom_filter_agg``/``might_contain`` as public SQL
    functions, so this is the portable equivalent).

    Shape: explode k positions per key → groupBy word index with
    ``bit_or(shiftleft(1, pos % 64))`` (shuffle output ≤ m/64 rows
    regardless of input size). Filters from different days/partitions merge
    by bit_or on the word level. No UDF; probe with
    :func:`bloom_literal_predicate`."""
    if num_bits % 64 != 0 or num_bits < 64:
        raise ValueError("bloom_words: num_bits must be a positive multiple of 64")
    if num_hashes < 1:
        raise ValueError("bloom_words: need num_hashes >= 1")
    pos = df.select(
        F.explode(
            F.array(*_bloom_positions(key_col, num_bits, num_hashes, seed))
        ).alias("pos")
    )
    return pos.groupBy((F.col("pos") / 64).cast("long").alias("word")).agg(
        F.bit_or(F.expr("shiftleft(1L, CAST(pos % 64 AS INT))")).alias("bits")
    )


def histogram_build(
    df: DataFrame, col: str, bins: int = 64
) -> tuple[DataFrame, float, float]:
    """Mergeable fixed-width histogram over ``col``: one min/max pass to fix
    the bin grid, one two-phase count pass (shuffle output ≤ bins rows).
    Histograms over partitions/days with the SAME grid merge by summing
    counts — the additive property CMS/HLL share. Returns
    ``(hist_df(bin, cnt), lo, hi)``. NULLs are excluded."""
    if bins < 1:
        raise ValueError("histogram_build: need bins >= 1")
    r = df.select(
        F.min(col).alias("lo"), F.max(col).alias("hi")
    ).first()
    if r["lo"] is None:
        # no non-null values: empty histogram on the degenerate [0, 1)
        # grid — quantile estimates over it are empty/NULL downstream
        # (empty-in/empty-out), never a driver-side float(None) crash
        empty = df.sparkSession.createDataFrame([], "bin int, cnt long")
        return empty, 0.0, 1.0
    lo, hi = float(r["lo"]), float(r["hi"])
    width = (hi - lo) / bins or 1.0
    hist = (
        df.filter(F.col(col).isNotNull())
        .select(
            F.least(
                F.floor((F.col(col) - F.lit(lo)) / F.lit(width)).cast("int"),
                F.lit(bins - 1),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return hist, lo, hi


def histogram_quantiles(
    hist: DataFrame, lo: float, hi: float, bins: int, qs: list[float]
) -> DataFrame:
    """Quantile estimates from a fixed-width histogram by cumulative-count
    linear interpolation inside the containing bin. Deterministic error
    bound: the true quantile lies in the same bin, so
    ``|est − exact| ≤ (hi−lo)/bins`` — the test pins this bound against the
    exact percentile. All work happens on the ≤ bins-row frame."""
    from pyspark.sql import Window as W

    width = (hi - lo) / bins or 1.0
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    cum = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .crossJoin(hist.agg(F.sum("cnt").alias("n")))
        .withColumn("cum_prev", F.col("cum") - F.col("cnt"))
    )
    spark = hist.sparkSession
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    # target rank; containing bin is the first with cum >= rank
    joined = (
        qdf.crossJoin(cum)
        .withColumn("rank", F.col("q") * F.col("n"))
        .filter(F.col("cum") >= F.col("rank"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q").orderBy("bin")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    frac = (F.col("rank") - F.col("cum_prev")) / F.col("cnt")
    est = F.lit(lo) + (F.col("bin") + F.greatest(F.least(frac, F.lit(1.0)), F.lit(0.0))) * F.lit(width)
    return joined.select("q", est.alias("est")).orderBy("q")


def bloom_literal_predicate(
    bloom: DataFrame,
    key_col: str,
    num_bits: int = 65536,
    num_hashes: int = 5,
    seed: int = 7,
):
    """Collect the (sketch-sized, ≤ m/64 longs ≈ 8 KB) Bloom words and
    return the membership test as a LITERAL column predicate — the same
    move Spark's own runtime row-level bloom filtering makes (the filter is
    built on the driver and injected into the probe scan's predicates).
    Unlike a broadcast join against the filter, a literal predicate cannot
    be hoisted above other joins by the optimizer: it evaluates in codegen
    directly above the scan, BELOW every exchange. The collect is of the
    sketch only (:func:`bloom_words`'s frame), never of data. No false
    negatives; the false-positive rate is set by m/n and k. Build params
    must match."""
    dense = [0] * (num_bits // 64)
    for r in bloom.collect():
        dense[int(r["word"])] = int(r["bits"])
    # ONE array literal (a single py4j call): per-element F.lit() would
    # cost num_bits/64 driver round-trips — measured ~2.5 s of pure plan
    # construction at the default 64 Kbit size
    arr = F.lit(dense).cast("array<long>")
    cond = None
    for p in _bloom_positions(key_col, num_bits, num_hashes, seed):
        # element_at is 1-based on arrays
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        t = F.bit_get(word, (p % 64).cast("int")) == 1
        cond = t if cond is None else (cond & t)
    return cond


# ---------------------------------------------------------------------------
# SQL-replayable HyperLogLog (Flajolet et al., AofA 2007) — the md5_affine
# doctrine applied to cardinality sketches. Spark's approx_count_distinct /
# hll_sketch_agg are engine-internal (their registers can't be replayed by
# another engine), so the driver could only ever rows-check them. This
# variant IS replayable: the 60-bit md5 base hash (functions/dedup.py
# convention) splits into a 10-bit bucket + 50-bit suffix; rho is integer
# bit-length arithmetic (length(bin(w)) — no float logs); registers merge by
# MAX (order-independent, the mergeable-sketch property); the register sum
# folds as EXACT BIGINTs (sum of 2^(51-rho) ≤ 1024·2^51 = 2^61 < 2^63); the
# only float ops are one constant division and, in the linear-counting
# branch, one ln — both absorbed by round4 (ulp noise ~1e-13 against a 5e-5
# boundary; the IRLS quantization doctrine).
#
# 100 TB shape: the register frame is ≤ m rows per (group, epoch) — persist
# daily registers once, answer any coarser window by groupBy-MAX, never
# rescan raw data. Map-side partial MAX keeps the shuffle at m rows per
# group per partition.
# ---------------------------------------------------------------------------

HLL_P = 10
HLL_M = 1 << HLL_P  # 1024 registers → SE ≈ 1.04/sqrt(m) ≈ 3.25%
_HLL_SUFFIX_BITS = 60 - HLL_P  # 50
_HLL_RHO_MAX = _HLL_SUFFIX_BITS + 1  # 51
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# alpha·m²·2^51 precomputed in Python and embedded as the SAME literal on
# both engines: E_raw = const / double(S) is then one division, bit-equal.
_HLL_NUMER = _HLL_ALPHA * HLL_M * HLL_M * float(1 << _HLL_RHO_MAX)
_HLL_LC_CUT = 2.5 * HLL_M  # linear-counting switchover (exact both sides)


def _dlit(x: float) -> str:
    """Emit a Python float as a SQL DOUBLE literal that strtod parses back
    to the exact same bits. repr round-trips; any literal WITHOUT an
    exponent gets e0 — DuckDB types '2560.0' DECIMAL(5,1), not DOUBLE,
    and its DECIMAL→DOUBLE path is not correctly rounded for
    high-precision decimals (r09 q42 lesson), so force the strtod parse
    unconditionally."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s or "inf" in s) else s + "e0"


def hll_registers(df: DataFrame, key_col: str, group_cols: list[str]) -> DataFrame:
    """Per-group HLL registers for ``key_col`` (NULL keys excluded, matching
    COUNT(DISTINCT)): one groupBy-MAX pass → ≤ m rows per group, columns
    ``group_cols + [bucket, r]``. Register frames over any partitioning of
    the data (days, sources, shards) merge by groupBy-MAX on bucket."""
    from ..functions.dedup import _md5_base_hash

    h = _md5_base_hash(F.col(key_col).cast("string"))
    w = F.expr(f"h & {(1 << _HLL_SUFFIX_BITS) - 1}")
    rho = F.when(w == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        F.lit(_HLL_RHO_MAX) - F.length(F.bin(w))
    )
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(*group_cols, h.alias("h"))
        .select(
            *group_cols,
            F.shiftright(F.col("h"), _HLL_SUFFIX_BITS).alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("r"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Cardinality estimate per group from a register frame, round4. The
    raw estimate alpha·m²/Σ2^(−r) folds the register sum as exact BIGINTs
    (absent buckets contribute 2^51); n ≤ 2.5m with empty registers takes
    the linear-counting branch m·ln(m/V). Column ``est`` (double).

    Cross-engine note: the LC branch's ln runs through java.lang.Math.log
    on Spark vs libm on DuckDB; a 1-ulp divergence could flip round4 on a
    ~1e-13 knife edge (r09 advisory). In this branch the estimate depends
    ONLY on the integer V ∈ [1, m−1], so the domain is finite and
    tests/test_round10_fixes.py pins ln parity EXHAUSTIVELY over all
    1023 values — the residual risk is closed, not just unlikely."""
    s_expr = (
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {_HLL_RHO_MAX} - r)"))
        + (F.lit(HLL_M) - F.count(F.lit(1)))
        * F.lit(1 << _HLL_RHO_MAX).cast("long")
    ).alias("s")
    v_expr = (F.lit(HLL_M) - F.count(F.lit(1))).alias("v")
    agg = registers.groupBy(*group_cols).agg(s_expr, v_expr)
    e_raw = F.lit(_HLL_NUMER) / F.col("s").cast("double")
    est = F.when(
        (e_raw <= F.lit(_HLL_LC_CUT)) & (F.col("v") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("v").cast("double")),
    ).otherwise(e_raw)
    return agg.select(*group_cols, F.round(est, 4).alias("est"))


def hll_oracle_sql(
    source: str, key_col: str, group_cols: list[str], est_alias: str = "est"
) -> str:
    """ANSI-SQL replay of hll_registers→hll_estimate over ``source`` (a
    FROM-able relation string): identical md5 base hash, bucket split,
    bin-length rho, exact BIGINT register fold (DuckDB SUM(BIGINT) is
    HUGEINT — cast back), the same embedded alpha·m²·2^51 literal, the
    same LC branch. Returns a SELECT yielding group_cols + est."""
    g = ", ".join(group_cols)
    mask = (1 << _HLL_SUFFIX_BITS) - 1
    return f"""
    WITH hashed AS (
      SELECT {g},
             CAST('0x' || substr(md5(CAST({key_col} AS VARCHAR)), 1, 15) AS BIGINT) AS h
      FROM {source} WHERE {key_col} IS NOT NULL
    ),
    regs AS (
      SELECT {g}, (h >> {_HLL_SUFFIX_BITS}) AS bucket,
             MAX(CASE WHEN (h & {mask}) = 0 THEN {_HLL_RHO_MAX}
                      ELSE {_HLL_RHO_MAX} - length(bin(h & {mask})) END) AS r
      FROM hashed GROUP BY {g}, (h >> {_HLL_SUFFIX_BITS})
    ),
    folded AS (
      SELECT {g},
             CAST(SUM(1::BIGINT << ({_HLL_RHO_MAX} - r)) AS BIGINT)
               + ({HLL_M} - COUNT(*)) * (1::BIGINT << {_HLL_RHO_MAX}) AS s,
             {HLL_M} - COUNT(*) AS v
      FROM regs GROUP BY {g}
    )
    SELECT {g},
           ROUND(CASE WHEN {_dlit(_HLL_NUMER)} / CAST(s AS DOUBLE) <= {_dlit(_HLL_LC_CUT)}
                       AND v > 0
                      THEN {_dlit(float(HLL_M))} * ln({_dlit(float(HLL_M))} / CAST(v AS DOUBLE))
                      ELSE {_dlit(_HLL_NUMER)} / CAST(s AS DOUBLE) END, 4) AS {est_alias}
    FROM folded
    """


# ---------------------------------------------------------------------------
# SQL-replayable HDR-histogram quantiles (Tene, HdrHistogram) — exponential
# buckets with b sub-bucket bits, indexed by PURE INTEGER arithmetic
# (bit-length + shifts; no float logs, so no knife-edge at bucket
# boundaries). Relative error ≤ 2^-(b+1). Counts are integers and merge by
# SUM — the mergeable property — and the quantile extraction (first bucket
# whose cumulative count reaches ceil(n/2)) plus the midpoint representative
# are exact binary arithmetic, so the whole sketch is hash-exact
# cross-engine, unlike percentile_approx's engine-internal GK compaction.
# ---------------------------------------------------------------------------

HDR_SUB_BITS = 6  # relative error ≤ 2^-7 ≈ 0.8%
HDR_TICK = 16  # fixed-point scale: value → floor(value·16)


def hdr_buckets(df: DataFrame, col: str, group_cols: list[str]) -> DataFrame:
    """Per-group HDR bucket counts for non-negative ``col`` (NULLs and
    negatives excluded): v = floor(col·16); e = max(bitlen(v)−1−b, 0);
    bucket = e·2^(b+1) + (v >> e) — monotone in v, ≤ ~64·2^(b+1) buckets
    total regardless of data size."""
    v = F.floor(F.col(col) * HDR_TICK).cast("long")
    df2 = (
        df.filter(F.col(col).isNotNull() & (F.col(col) >= 0))
        .select(*group_cols, v.alias("v"))
        .withColumn(
            "e",
            F.greatest(
                F.length(F.bin(F.col("v"))) - F.lit(1 + HDR_SUB_BITS), F.lit(0)
            ),
        )
        .withColumn(
            "bucket",
            F.col("e") * F.lit(1 << (HDR_SUB_BITS + 1))
            + F.expr("shiftright(v, e)"),
        )
    )
    return df2.groupBy(*group_cols, "bucket", "e").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def hdr_median(buckets: DataFrame, group_cols: list[str]) -> DataFrame:
    """Lower-median estimate per group from an HDR bucket frame: rank
    ceil(n/2) by exact integer arithmetic, first bucket with cum ≥ rank,
    midpoint representative (lower + (2^e−1)/2)/16 — exact binary floats.
    Column ``med`` (double)."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wn = W.partitionBy(*group_cols)
    cum = buckets.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(wn)
    )
    rank = F.floor((F.col("n") + 1) / 2).cast("long")
    hit = cum.filter(F.col("cum") >= rank)
    first = hit.withColumn(
        "rn", F.row_number().over(W.partitionBy(*group_cols).orderBy("bucket"))
    ).filter(F.col("rn") == 1)
    # lower bound of the bucket: (v >> e) << e where (v >> e) = bucket − e·2^(b+1)
    lower = F.expr(f"shiftleft(bucket - e * {1 << (HDR_SUB_BITS + 1)}, e)")
    mid = (
        lower.cast("double")
        + (F.expr("shiftleft(cast(1 as bigint), e)").cast("double") - 1.0) / 2.0
    ) / float(HDR_TICK)
    return first.select(*group_cols, F.round(mid, 6).alias("med"))


def hdr_median_oracle_sql(
    source: str, col: str, group_cols: list[str], med_alias: str = "med"
) -> str:
    """ANSI-SQL replay of hdr_buckets→hdr_median over ``source``."""
    g = ", ".join(group_cols)
    two_b1 = 1 << (HDR_SUB_BITS + 1)
    return f"""
    WITH vals AS (
      SELECT {g}, CAST(FLOOR({col} * {HDR_TICK}) AS BIGINT) AS v
      FROM {source} WHERE {col} IS NOT NULL AND {col} >= 0
    ),
    bucketed AS (
      SELECT {g},
             GREATEST(length(bin(v)) - {1 + HDR_SUB_BITS}, 0) AS e,
             GREATEST(length(bin(v)) - {1 + HDR_SUB_BITS}, 0) * {two_b1}
               + (v >> GREATEST(length(bin(v)) - {1 + HDR_SUB_BITS}, 0)) AS bucket
      FROM vals
    ),
    counts AS (
      SELECT {g}, bucket, e, COUNT(*) AS cnt FROM bucketed GROUP BY {g}, bucket, e
    ),
    cums AS (
      SELECT {g}, bucket, e, cnt,
             SUM(cnt) OVER (PARTITION BY {g} ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY {g}) AS n
      FROM counts
    ),
    hit AS (
      SELECT {g}, bucket, e,
             ROW_NUMBER() OVER (PARTITION BY {g} ORDER BY bucket) AS rn
      FROM cums
      WHERE cum >= CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
    )
    SELECT {g},
           ROUND((CAST((bucket - e * {two_b1}) << e AS DOUBLE)
                  + (CAST(1::BIGINT << e AS DOUBLE) - 1.0e0) / 2.0e0)
                 / {_dlit(float(HDR_TICK))}, 6) AS {med_alias}
    FROM hit WHERE rn = 1
    """
