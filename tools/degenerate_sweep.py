"""Degenerate-data hardening sweep.

The driver's correctness gate runs every query on the generator's sf0.01
tables, whose rows are all well-formed (min document length 47 chars, no
zero-norm embeddings, no tied event timestamps). A 100 TB production corpus
is NOT well-formed: it contains empty documents, single-token documents,
whitespace-only text, zero vectors, duplicate vectors, and same-microsecond
events. A query that crashes on those rows "works" in every driver round and
then aborts a real 1000-executor job hours in (exactly the q261 slice-edge
bug ADVICE.md round 3 caught by inspection).

This tool makes that failure mode testable: it builds a copy of sf0.001
with adversarial rows appended to documents / embeddings / events, then
runs EVERY registered query against it and reports

  - CRASH: the query raises and its DuckDB twin does not — a bug to fix
    (Spark aborts the job on input the reference semantics accept);
  - PARITY-ERR: BOTH engines reject the input (e.g. 1e300 into an exact
    DECIMAL sum overflows identically under ANSI rules on Spark and
    DuckDB) — fail-fast on out-of-domain data is the documented
    convention, silent NULLs would corrupt sums;
  - DRIFT: an oracle query returns different values than DuckDB on the
    degenerate rows — advisory (the driver never feeds such rows), but
    often a real semantic edge (e.g. round 4's token-empty chunk-dedup fix).

A second mode, ``--mode empty``, runs every query against SCHEMA-ONLY
tables (0 rows everywhere): the "empty ingest day" — a partition with no
data, a filter that matched nothing upstream. The correct behavior is an
empty (or all-NULL-aggregate) result; a crash here means a driver-side
``.first()[0]`` / fit-on-nothing that would kill a scheduled pipeline run
the first quiet day it sees.

Usage:  python tools/degenerate_sweep.py [--only q261,q299] [--base sfdir]
                                         [--mode degen|empty]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


DEGEN_DOCS = [
    # (text, lang, source) — n_chars derived. One row per degenerate class.
    ("", "en", "web"),  # empty document
    ("word", "en", "web"),  # single token (q261's crash class)
    ("   ", "en", "web"),  # whitespace-only: split(' ') -> ['','','','']
    ("!!! ??? ... ;;;", "en", "web"),  # punctuation-only tokens
    ("a", "en", "web"),  # single character
    ("x x x x x x x x", "en", "web"),  # zero-entropy repetition
    ("a" * 5000, "en", "web"),  # one giant token, no separators
    (None, "en", "web"),  # null text
    ("word", "zz", None),  # unknown lang + null source
]


def build_degenerate_dir(base: str) -> str:
    out = os.path.join(tempfile.gettempdir(), f"a3s6_degenerate_sf_{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for f in os.listdir(base):
        if not f.endswith(".parquet"):
            continue
        src = os.path.join(base, f)
        dst = os.path.join(out, f)
        name = f[: -len(".parquet")]
        tbl = pq.read_table(src)
        if name == "documents":
            start = pa.compute.max(tbl["doc_id"]).as_py() + 1
            extra = pd.DataFrame(
                {
                    "doc_id": [start + i for i in range(len(DEGEN_DOCS))],
                    "text": [t for t, _, _ in DEGEN_DOCS],
                    "lang": [lg for _, lg, _ in DEGEN_DOCS],
                    "source": [s for _, _, s in DEGEN_DOCS],
                    "n_chars": [len(t) if t is not None else 0 for t, _, _ in DEGEN_DOCS],
                }
            )
            tbl = pa.concat_tables([tbl, pa.Table.from_pandas(extra, schema=tbl.schema)])
        elif name == "embeddings":
            start = pa.compute.max(tbl["vec_id"]).as_py() + 1
            dim = len(tbl["embedding"][0])
            first = np.asarray(tbl["embedding"][0].as_py(), dtype=np.float32)
            extra = pa.Table.from_pydict(
                {
                    "vec_id": [start, start + 1, start + 2],
                    "embedding": [
                        np.zeros(dim, dtype=np.float32),  # zero norm: cosine 0/0
                        first,  # exact duplicate of vec 0: top-k ties
                        np.full(dim, 1e30, dtype=np.float32),  # overflow-scale values
                    ],
                    "label": [0, 0, 0],
                },
                schema=tbl.schema,
            )
            tbl = pa.concat_tables([tbl, extra])
        elif name == "events":
            start = pa.compute.max(tbl["event_id"]).as_py() + 1
            ts0 = tbl["ts"][0].as_py()
            extra = pd.DataFrame(
                {
                    "event_id": [start, start + 1, start + 2, start + 3],
                    "ts": [ts0, ts0, ts0, ts0],  # 4-way timestamp tie
                    "user_id": [999_999, 999_999, 999_998, 999_997],
                    "event_type": ["click", "click", "", "click"],
                    "value": [0.0, -1.5, 0.0, float(1e300)],
                    "props": ["", "{}", "not json", None],
                }
            )
            tbl = pa.concat_tables([tbl, pa.Table.from_pandas(extra, schema=tbl.schema)])
        pq.write_table(tbl, dst)
    return out


def build_skew_dir(base: str, frac: float = 0.25) -> str:
    """Hot-key fixture: same tables, same ROW COUNTS, but ``frac`` of the
    rows of every join/group key rewritten to ONE existing hot value.

    The driver's generator draws keys near-uniformly, so every groupBy and
    join in the registry sees balanced partitions. Production corpora do
    not: one crawl domain is 30% of documents, one bot user is 30% of
    events, one SKU is 25% of order lines. At 100 TB that turns into a
    single straggler task holding the hot key's entire shuffle partition
    (or, for the quadratic candidate-verify stages of LSH/SemDeDup, a
    hot-bucket blowup). This fixture makes both failure modes observable
    locally:

      - CORRECTNESS under skew: the DuckDB twin runs on the SAME skewed
        parquet, so any tie-nondeterminism or hot-group edge a query
        hides on uniform data surfaces as DRIFT;
      - STRAGGLER advisory: each query is timed on the skewed dir and on
        the untouched base dir (identical row counts — only VALUES were
        rewritten), and queries whose skewed run exceeds the threshold
        ratio are reported SKEW-SLOW. Local[N] compresses the effect one
        straggler task has on a real cluster, so any reproducible local
        blowup is a loud signal.

    Rewrites are value-only so primary keys stay unique: lineitem keeps
    (l_orderkey, l_linenumber) and gets hot l_suppkey / l_partkey FKs;
    orders gets a hot o_custkey; events a hot user_id; documents a
    duplicated hot text (dedup/LSH hot group); embeddings a duplicated
    hot vector and a hot cluster label (SemDeDup's per-cluster quadratic).
    """
    # pid-suffixed so concurrent sweeps cannot clobber each other's
    # fixture mid-read (r05 advisory)
    out = os.path.join(tempfile.gettempdir(), f"a3s6_skew_sf_{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(7)
    for f in sorted(os.listdir(base)):
        if not f.endswith(".parquet"):
            continue
        src = os.path.join(base, f)
        name = f[: -len(".parquet")]
        tbl = pq.read_table(src)
        if name in ("lineitem", "orders", "events", "documents", "embeddings"):
            df = tbl.to_pandas()
            n = len(df)
            if name == "lineitem":
                hot_supp = df["l_suppkey"].mode().iloc[0]
                hot_part = df["l_partkey"].mode().iloc[0]
                df.loc[rng.random(n) < frac, "l_suppkey"] = hot_supp
                df.loc[rng.random(n) < frac, "l_partkey"] = hot_part
            elif name == "orders":
                hot_cust = df["o_custkey"].mode().iloc[0]
                df.loc[rng.random(n) < frac, "o_custkey"] = hot_cust
            elif name == "events":
                hot_user = df["user_id"].mode().iloc[0]
                # hotter than the FK tables: one bot user dominating the
                # stream is the canonical sessionize/window straggler
                df.loc[rng.random(n) < frac + 0.05, "user_id"] = hot_user
            elif name == "documents":
                # duplicate the longest doc's full row-content into frac of
                # the corpus (doc_id stays unique): every shingle/band/
                # fingerprint bucket of that text becomes a hot bucket
                hot = df.loc[df["n_chars"].idxmax()]
                m = rng.random(n) < frac
                for col in ("text", "lang", "source", "n_chars"):
                    df.loc[m, col] = hot[col]
            elif name == "embeddings":
                hot_vec = df["embedding"].iloc[0]
                hot_label = df["label"].mode().iloc[0]
                m = rng.random(n) < frac
                df.loc[m, "embedding"] = pd.Series([hot_vec] * int(m.sum()), index=df.index[m])
                # independent hot cluster ~40%: SemDeDup/IVF per-cluster
                # work is quadratic/linear in cluster size — make one big
                df.loc[rng.random(n) < 0.4, "label"] = hot_label
            tbl = pa.Table.from_pandas(df, schema=tbl.schema, preserve_index=False)
        pq.write_table(tbl, os.path.join(out, f))
    return out


def build_unicodews_dir(base: str, frac: float = 0.2) -> str:
    """Non-ASCII-whitespace fixture (r10): rewrite ``frac`` of documents to
    carry U+00A0 NO-BREAK SPACE / U+2007 FIGURE SPACE / U+2028 LINE
    SEPARATOR — at the string EDGES (where DuckDB's default TRIM strips
    Unicode Zs but Spark's trim strips ASCII space only) and INTERIOR
    (where Python str.split() would split but the Java/RE2 \\s classes do
    not). Real crawl corpora are full of NBSP; the generator's fixtures
    contain none (measured: 0 of 5,500 docs at sf0.01+sf0.1), so this is
    the only local signal for the tokenizer/TRIM convention gaps.

    A DRIFT here is the documented TRIM(Zs) class (NOTES round-10 item 4):
    the fix convention is oracle-side ``TRIM(x, ' ')`` + engine-side
    Java-class tokenization (functions/bpe.py::java_ws_tokens), applied to
    the BPE family in r10 and scheduled for the remaining text family."""
    out = os.path.join(tempfile.gettempdir(), f"a3s6_unicodews_sf_{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(11)
    for f in os.listdir(base):
        if not f.endswith(".parquet"):
            continue
        src = os.path.join(base, f)
        name = f[: -len(".parquet")]
        tbl = pq.read_table(src)
        if name == "documents":
            df = tbl.to_pandas()
            n = len(df)
            m = rng.random(n) < frac
            idx = df.index[m & df["text"].notna()]
            third = max(1, len(idx) // 3)

            def edge(t):
                return "\u00a0" + t + "\u00a0"

            def interior(t):
                return t.replace(" ", "\u00a0", 2).replace(" ", "\u2007", 1)

            def linesep(t):
                return t.replace(" ", "\u2028", 1)

            for block, fn in ((idx[:third], edge), (idx[third : 2 * third], interior), (idx[2 * third :], linesep)):
                df.loc[block, "text"] = df.loc[block, "text"].map(fn)
            if "n_chars" in df.columns:
                df.loc[idx, "n_chars"] = df.loc[idx, "text"].str.len()
            tbl = pa.Table.from_pandas(df, schema=tbl.schema, preserve_index=False)
        pq.write_table(tbl, os.path.join(out, f))
    return out


def build_empty_dir(base: str) -> str:
    """Schema-identical tables with zero rows."""
    out = os.path.join(tempfile.gettempdir(), f"a3s6_empty_sf_{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for f in os.listdir(base):
        if not f.endswith(".parquet"):
            continue
        tbl = pq.read_table(os.path.join(base, f))
        pq.write_table(tbl.slice(0, 0), os.path.join(out, f))
    return out


def skew_sweep(spark, names, skew_dir: str, base_dir: str, slow_ratio: float) -> int:
    """Run every query on the hot-key fixture: oracle parity on the skewed
    tables (strict — a drift is a tie-nondeterminism or hot-group bug) plus
    a straggler advisory (skewed runtime vs base runtime on identical row
    counts; local[N] damps the cluster effect, so a reproducible local
    blowup beyond ``slow_ratio`` is advisory-flagged for a plan look)."""
    import time

    from isen_projet_bigdata_a3s6_spark.oracle_check import (
        compare_frames,
        duckdb_conn,
        retarget_oracle_sql,
    )
    from isen_projet_bigdata_a3s6_spark.queries import oracle_sql, queries

    qfns, oracles = queries(), oracle_sql()
    crashes, parity_errs, drifts, slow, ok = [], [], [], [], 0
    for name in names:
        fn = qfns[name]
        try:
            t0 = time.perf_counter()
            fn(spark, base_dir).collect()
            t_base = time.perf_counter() - t0
            t0 = time.perf_counter()
            spark_pdf = fn(spark, skew_dir).toPandas()
            t_skew = time.perf_counter() - t0
        except Exception as e:
            sql = oracles.get(name)
            oracle_err = None
            if sql is not None:
                try:
                    con = duckdb_conn(skew_dir)
                    con.execute(retarget_oracle_sql(sql, skew_dir)).fetchdf()
                    con.close()
                except Exception as oe:
                    oracle_err = oe
            if oracle_err is not None:
                parity_errs.append(name)
                print(
                    f"PARITY-ERR {name}: both engines reject — spark:"
                    f" {type(e).__name__}; duckdb: {str(oracle_err)[:120]}",
                    flush=True,
                )
            else:
                crashes.append(name)
                print(
                    f"CRASH [FAIL] {name}\n    - exception: {type(e).__name__}: {str(e)[:400]}",
                    flush=True,
                )
            continue
        sql = oracles.get(name)
        if sql is not None:
            try:
                con = duckdb_conn(skew_dir)
                oracle_pdf = con.execute(retarget_oracle_sql(sql, skew_dir)).fetchdf()
                con.close()
                r = compare_frames(name, spark_pdf, oracle_pdf)
            except Exception as oe:
                parity_errs.append(name)
                print(f"PARITY-ERR {name}: duckdb-only reject: {str(oe)[:160]}", flush=True)
                r = None
            if r is not None and not r.ok:
                drifts.append(name)
                print("DRIFT " + str(r), flush=True)
                continue
            elif r is not None:
                ok += 1
        else:
            ok += 1
        if t_skew > slow_ratio * max(t_base, 0.05) and t_skew > 2.0:
            # the first base collect of the session pays JIT/warm-up, which
            # biases t_base high OR low depending on run order — confirm a
            # flag by re-timing both runs warm and keeping the second-run
            # numbers (r05 advisory); bounded cost: only flagged queries pay
            t0 = time.perf_counter()
            fn(spark, base_dir).collect()
            t_base = time.perf_counter() - t0
            t0 = time.perf_counter()
            fn(spark, skew_dir).collect()
            t_skew = time.perf_counter() - t0
        if t_skew > slow_ratio * max(t_base, 0.05) and t_skew > 2.0:
            slow.append((name, t_base, t_skew))
            print(
                f"SKEW-SLOW {name}: base {t_base:.2f}s -> skew {t_skew:.2f}s "
                f"({t_skew / max(t_base, 1e-9):.1f}x) — straggler/hot-bucket advisory",
                flush=True,
            )
    print(
        f"\n== skew sweep: {ok} ok, {len(crashes)} crashes, {len(parity_errs)} parity-errs, "
        f"{len(drifts)} drifts, {len(slow)} skew-slow / {len(names)} queries"
    )
    return 1 if crashes else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default=None, help="comma-separated query-name prefixes")
    ap.add_argument(
        "--mode", default="degen", choices=["degen", "empty", "skew", "unicodews"]
    )
    ap.add_argument(
        "--slow-ratio",
        type=float,
        default=3.0,
        help="skew mode: flag queries whose skewed runtime exceeds this multiple of the base runtime",
    )
    args = ap.parse_args()

    if args.mode == "empty":
        sf_dir = build_empty_dir(args.base)
        print(f"empty tables at {sf_dir}", flush=True)
    elif args.mode == "unicodews":
        sf_dir = build_unicodews_dir(args.base)
        print(f"unicode-whitespace tables at {sf_dir}", flush=True)
    elif args.mode == "skew":
        sf_dir = build_skew_dir(args.base)
        print(f"skewed tables at {sf_dir}", flush=True)
    else:
        sf_dir = build_degenerate_dir(args.base)
        print(f"degenerate tables at {sf_dir}", flush=True)

    from isen_projet_bigdata_a3s6_spark.oracle_check import (
        check_query,
        duckdb_conn,
        retarget_oracle_sql,
    )
    from isen_projet_bigdata_a3s6_spark.queries import oracle_sql, queries
    from isen_projet_bigdata_a3s6_spark.session import get_spark

    names = sorted(queries())
    if args.only:
        pref = [p.strip() for p in args.only.split(",")]
        names = [n for n in names if any(n.startswith(p) for p in pref)]

    spark = get_spark(app_name="degenerate_sweep")
    # ship the package to the Python workers, as __spark_entry__ does for
    # the sessions it is handed: run from outside the checkout, UDF queries
    # (q45, q68, q226) cannot unpickle their closures otherwise
    import __spark_entry__

    __spark_entry__._ensure_pkg_on_workers(spark)

    if args.mode == "skew":
        return skew_sweep(spark, names, sf_dir, args.base, args.slow_ratio)
    oracles = oracle_sql()
    crashes, drifts, parity_errs, ok = [], [], [], 0
    for name in names:
        try:
            r = check_query(spark, name, sf_dir)
        except Exception as e:
            # Spark rejected the input. If the DuckDB twin rejects it too
            # (same ANSI overflow/conversion rules), that is parity, not a
            # bug: both engines refuse to fold out-of-domain values into an
            # exact aggregate.
            sql = oracles.get(name)
            oracle_err = None
            if sql is not None:
                try:
                    con = duckdb_conn(sf_dir)
                    con.execute(retarget_oracle_sql(sql, sf_dir)).fetchdf()
                    con.close()
                except Exception as oe:
                    oracle_err = oe
            if oracle_err is not None:
                parity_errs.append(name)
                print(
                    f"PARITY-ERR {name}: both engines reject — spark:"
                    f" {type(e).__name__}; duckdb: {str(oracle_err)[:120]}",
                    flush=True,
                )
            else:
                crashes.append(name)
                print(f"CRASH [FAIL] {name}\n    - exception: {type(e).__name__}: {str(e)[:400]}", flush=True)
            continue
        if r.ok:
            ok += 1
            continue
        drifts.append(name)
        print("DRIFT " + str(r), flush=True)
    print(
        f"\n== degenerate sweep: {ok} ok, {len(crashes)} crashes, "
        f"{len(parity_errs)} parity-errs, {len(drifts)} drifts / {len(names)} queries"
    )
    return 1 if crashes else 0


if __name__ == "__main__":
    raise SystemExit(main())
