"""Deterministic sampling operators.

Sampling for a 100 TB pipeline must be content-derived, never RNG-derived:
``df.sample``/``rand()`` re-draw under task retry and change membership
under repartition, which silently breaks exactly-once semantics downstream.

Both variants bucket an integer key by Knuth's multiplicative hash
(2654435761 odd multiplier mod 10_000), expressible identically in any SQL
engine, so each has a cross-engine-verifiable DuckDB twin:

- :func:`stratified_mod_sample` — per-stratum fractions: sampling rates
  that differ by class are the normal case for training-data curation
  (keep all rare high-quality docs, downsample boilerplate).
- :func:`stratified_exact_k` — a fixed budget of k rows per stratum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 10_000
_KNUTH = 2654435761  # 2^32 · (golden ratio − 1), the classic odd multiplier


def knuth_bucket(key: str | Column, buckets: int = _BUCKETS) -> Column:
    """``(key · 2654435761) mod buckets`` in pure int64 arithmetic.

    The pre-r12 spelling multiplied in DECIMAL(38,0) to dodge int64
    overflow past keys ~3.4e9 — correct, but a per-row BigDecimal multiply
    + pmod (measured ~1 s of q167's 2.1 s at sf0.1). The congruence
    ``k·K ≡ (k mod m)·(K mod m) (mod m)`` gives the identical canonical
    residue for EVERY int64 key including negatives (pmod returns the
    canonical [0, m) representative, and multiplication respects
    congruence): ``pmod(key, m) < m`` so the product is bounded by
    ``(m−1)·(K mod m)`` — within int64 for every key at the bucket
    counts this module supports (guarded: ``buckets`` must keep the
    worst-case product under 2^63, i.e. buckets ≤ ~4.3e9 with this
    K mod m < 2^32 — far above the 5/10_000 callers, whose bound is
    < 5.8e7; a larger count raises ValueError instead of silently
    wrapping). Proven
    value-equal to the decimal spelling over int64 extremes in
    tests/test_round12_opt.py. The SQL twins keep their HUGEINT spelling
    (``((CAST(key AS HUGEINT) * K) % m + m) % m``) — same values, so
    signed oracles are untouched."""
    if buckets <= 0 or (buckets - 1) * (_KNUTH % buckets) >= 2**63:
        raise ValueError(
            f"knuth_bucket: buckets={buckets} would overflow the int64 "
            "congruence product (m-1)*(K mod m); use a count under ~4.3e9"
        )
    k = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.pmod(k, F.lit(buckets)) * F.lit(_KNUTH % buckets), F.lit(buckets))


def _stratum_threshold(fractions: dict[str, float], stratum_col: str, default_frac: float) -> Column:
    thr: Column = F.lit(int(default_frac * _BUCKETS))
    for value, frac in sorted(fractions.items()):
        thr = F.when(F.col(stratum_col) == value, F.lit(int(frac * _BUCKETS))).otherwise(thr)
    return thr


def stratified_mod_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    default_frac: float = 0.0,
) -> DataFrame:
    """Cross-engine-reproducible variant: bucket = (key · 2654435761)
    mod 1e4 on an integer key, via :func:`knuth_bucket` — overflow-safe
    int64 congruence arithmetic (r12; the old DECIMAL(38,0) multiply was
    equally exact but a per-row BigDecimal op). Any SQL engine reproduces
    the identical membership via 128-bit/decimal arithmetic (DuckDB: cast
    the key to HUGEINT first — same values)."""
    bucket = knuth_bucket(key_col)
    return df.filter(bucket < _stratum_threshold(fractions, stratum_col, default_frac))


def stratified_exact_k(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    k: int,
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen by deterministic
    hash order (multiplicative bucket, then key as tiebreak) — the
    fixed-budget variant of stratified sampling (e.g. "at most k docs per
    language"). One window shuffle on the stratum key; membership is a pure
    function of content, stable under retry/repartition. The bucket order
    decorrelates the pick from key order, so the k rows are spread across
    the key space rather than being the k smallest ids."""
    from pyspark.sql import Window

    bucket = knuth_bucket(key_col)
    w = Window.partitionBy(stratum_col).orderBy(bucket, F.col(key_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
