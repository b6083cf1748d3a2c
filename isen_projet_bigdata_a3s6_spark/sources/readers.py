"""Scans (SURVEY §2.1 S1/S3).

Reference behavior: one CSV read (``R_groupe4.R:41-42``) producing an untyped
all-string frame with types recovered by cast-at-use. We instead declare
schemas and cast once at ingest — same observable semantics, sane types, and
it lets the parquet reader prune columns / push filters (free via Catalyst).

At 100 TB: parquet scans here inherit predicate pushdown, column pruning and
partition pruning; keep filters/selects on the raw reader output so they
reach the scan (verify with ``df.explain`` → ``PushedFilters`` /
``ReadSchema``).

One way to read a parquet table: :func:`read_parquet_ns_safe` (and
:func:`load_table` over it; :func:`read_stream_ns_safe` for its streaming
twin). Spark's schema inference runs a job per read, so the reader infers a
file's schema once and keeps it, with the footer's nanos columns and row
count, in one bounded cache keyed on the file's identity and the session
confs that shape the inferred schema; later reads pass the schema and run
no job. :func:`footer_row_bound` serves plan-time size decisions from the
same footers. Readers set no session conf: the confs they rely on are the
session contract in ``session.py``.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import OrderedDict
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: driver-generated test tables (TESTDATA.md); one parquet file per table
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The sf0.01 fixture root: the one path an oracle may legitimately embed
# (file-provenance oracles reference parquet FILES — views can't carry the
# filename virtual column). Every such oracle MUST build its path from this
# constant and every local harness retargets it via
# oracle_check.retarget_oracle_sql; tests/test_round9_fixes.py asserts no
# registered oracle embeds any OTHER absolute fixture path, so a drifted
# literal fails loudly instead of silently skipping retargeting. It lives
# here, not in oracle_check, so that the registry does not import DuckDB.
DRIVER_FIXTURE_ROOT = "/root/testdata/sf0.01"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_ns_safe(spark, os.path.join(sf_dir, f"{name}.parquet"))


def read_parquet_ns_safe(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan tolerant of TIMESTAMP(NANOS) columns (e.g. the fixture's
    ``events.ts``), which Spark rejects by default. Nanos columns are read
    as long and converted back to timestamps with exact integer division
    (a double round-trip would lose precision past 2^53 ns). Same truncation
    DuckDB applies reading ns parquet, so oracle parity holds.

    The schema comes from the reader cache (:func:`_parquet_meta`), so a
    warm read runs no Spark job. Reads rely on the session contract in
    ``session.SESSION_CONTRACT`` (nanos as long, UTC, no TIMESTAMP_NTZ
    inference); this function sets no conf.
    """
    meta = _parquet_meta(spark, path)
    return _decode_ns(spark.read.schema(meta.schema).parquet(path), meta.ns_cols)


def read_stream_ns_safe(spark: SparkSession, path: str, source_dir: str, **options) -> DataFrame:
    """File-source stream over ``source_dir``, where the data files of the
    parquet table ``path`` were staged, typed exactly as
    :func:`read_parquet_ns_safe` types ``path`` (cached schema, nanos
    columns decoded the same way). ``options`` go to the stream reader."""
    meta = _parquet_meta(spark, path)
    stream = spark.readStream.schema(meta.schema).options(**options).parquet(source_dir)
    return _decode_ns(stream, meta.ns_cols)


def footer_row_bound(df: DataFrame) -> int | None:
    """Upper bound on the rows of ``df`` from parquet footers, with no Spark
    job: the sum of the footer row counts of its input files, when its
    optimized plan is only Project and Filter nodes over one parquet scan
    (a filter only drops rows). None for any other plan shape or for files
    that are not local."""
    node = df._jdf.queryExecution().optimizedPlan()
    while node.nodeName() in ("Project", "Filter"):
        node = node.child()
    if node.nodeName() != "LogicalRelation":
        return None
    rel = node.relation()
    if rel.getClass().getSimpleName() != "HadoopFsRelation" or rel.fileFormat().toString() != "Parquet":
        return None
    total = 0
    for uri in df.inputFiles():
        u = urlparse(uri)
        rows = _footer_rows(unquote(u.path)) if u.scheme in ("", "file") else None
        if rows is None:
            return None
        total += rows
    return total


# Session confs that change the schema Spark infers from a parquet footer.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
)
#: files the reader cache holds; the least recently read is dropped first
META_CACHE_FILES = 64


@dataclass(frozen=True)
class ParquetMeta:
    schema: T.StructType  # as Spark infers it: nanos columns as long
    ns_cols: tuple[str, ...]
    num_rows: int | None


# The reader cache: path -> ((file identity, schema confs), meta), one entry
# per file. A session loads the same few parquet files for every query;
# Spark's schema inference is a job each time, the footer does not change
# unless the file does.
_META_CACHE: OrderedDict[str, tuple[tuple, ParquetMeta]] = OrderedDict()
_META_LOCK = threading.Lock()


def _file_identity(path: str) -> tuple | None:
    """Inode, size, mtime and a digest of the footer of a parquet file. The
    footer holds the schema and row counts, so a rewrite in place that keeps
    size and mtime (same clock tick) still changes the identity when it
    changes anything cached. None for anything but a parquet file, and so
    for directories: a Spark-written directory would need every part file
    in its key (one can be added or replaced), so directories are inferred
    on every read and never cached."""
    try:
        with open(path, "rb") as f:
            st = os.fstat(f.fileno())
            if st.st_size < 12:
                return None
            f.seek(-8, os.SEEK_END)
            tail = f.read(8)
            n = int.from_bytes(tail[:4], "little")
            if tail[4:] != b"PAR1" or n > st.st_size - 12:
                return None
            f.seek(-8 - n, os.SEEK_END)
            digest = hashlib.blake2b(f.read(n), digest_size=16).digest()
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns, digest


def _footer(path: str) -> tuple[tuple[str, ...], int | None]:
    """Nanos-timestamp columns and row count from the footer; nothing for a
    path pyarrow cannot read as one file (Spark's read reports real errors)."""
    import pyarrow.parquet as pq

    try:
        md = pq.read_metadata(path)
    except (OSError, ValueError):  # ValueError: pyarrow.ArrowInvalid
        return (), None
    schema = md.schema.to_arrow_schema()
    return tuple(f.name for f in schema if str(f.type).startswith("timestamp[ns")), md.num_rows


def _footer_rows(path: str) -> int | None:
    identity = _file_identity(path)
    with _META_LOCK:
        hit = _META_CACHE.get(path)
    if identity is not None and hit is not None and hit[0][0] == identity:
        return hit[1].num_rows
    return _footer(path)[1]


def _parquet_meta(spark: SparkSession, path: str) -> ParquetMeta:
    """Spark schema, nanos columns and footer row count of the parquet table
    at ``path``; inferred once per (file identity, schema confs)."""
    identity = _file_identity(path)
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    key = (identity, confs)
    with _META_LOCK:
        hit = _META_CACHE.get(path)
        if identity is not None and hit is not None and hit[0] == key:
            _META_CACHE.move_to_end(path)
            return hit[1]
    ns_cols, num_rows = _footer(path)
    if ns_cols and confs[0] != "true":
        raise ValueError(
            f"{path}: TIMESTAMP(NANOS) columns {list(ns_cols)} need "
            f"{_SCHEMA_CONFS[0]}=true (session.SESSION_CONTRACT)"
        )
    meta = ParquetMeta(spark.read.parquet(path).schema, ns_cols, num_rows)
    # a file pyarrow could not read is not cached: it may be mid-rewrite
    if identity is not None and num_rows is not None:
        with _META_LOCK:
            _META_CACHE[path] = (key, meta)
            _META_CACHE.move_to_end(path)
            while len(_META_CACHE) > META_CACHE_FILES:
                _META_CACHE.popitem(last=False)
    return meta


def _decode_ns(df: DataFrame, ns_cols: tuple[str, ...]) -> DataFrame:
    """Nanos read as long -> TIMESTAMP by exact ``div 1000``; the session is
    UTC, so calendar fields match DuckDB's UTC-naive reading."""
    if not ns_cols:
        return df
    return df.withColumns({c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in ns_cols})
