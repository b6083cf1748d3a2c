"""Driver-contract query registry.

Each entry pairs a PySpark query (built from the engine's operator library)
with an ANSI-SQL twin the DuckDB oracle runs on the same parquet tables.
Column names and float paths follow the exactness conventions in
``functions.scalar`` (decimal sums, round6 on float-path aggregates) so the
driver's order-insensitive value hash matches bit-for-bit.

Registry grows operator-by-operator with SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.scalar import round_disp
from .operators import aggregations as agg
from .sources.readers import DRIVER_FIXTURE_ROOT, load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}


from .scratch import scratch_dir as _scratch_dir  # shared per-session scratch
from .scratch import stage_parquet_files


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLE[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    return dict(_QUERIES)


def _harden_decimal_to_double(sql: str) -> str:
    """Rewrite every ``CAST(SUM(...) AS DOUBLE)`` in an oracle into
    ``CAST(CAST(SUM(...) AS VARCHAR) AS DOUBLE)``.

    DuckDB's decimal→double cast is not correctly rounded (1-ULP-low cases
    observed at sf0.1: 2706323975.3561 → ...3560996), while its
    string→double parse and Spark/Java's BigDecimal→double are both
    correctly rounded. Routing the oracle's cast through VARCHAR makes both
    engines produce bit-identical doubles from the identical exact decimal
    sums."""
    out = []
    i = 0
    pat = "CAST(SUM("
    suffix = " AS DOUBLE)"
    while True:
        j = sql.find(pat, i)
        if j < 0:
            out.append(sql[i:])
            break
        # find the close paren matching SUM(
        depth = 0
        k = j + len("CAST(")
        start = k
        while k < len(sql):
            if sql[k] == "(":
                depth += 1
            elif sql[k] == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        inner = sql[start : k + 1]  # SUM( ... )
        if sql[k + 1 : k + 1 + len(suffix)] == suffix:
            out.append(sql[i:j])
            out.append(f"CAST(CAST({inner} AS VARCHAR) AS DOUBLE)")
            i = k + 1 + len(suffix)
        else:
            out.append(sql[i : k + 1])
            i = k + 1
    return "".join(out)


def oracle_sql() -> dict[str, str]:
    """The hardened DuckDB twin of every query that has one, in
    registration order."""
    return {
        name: _harden_decimal_to_double(_ORACLE[name])
        for name in _QUERIES
        if name in _ORACLE
    }


# ---------------------------------------------------------------------------
# A3/A4/A11 + S1: the flagship grouped aggregation (TPC-H Q1 shape —
# SURVEY §2.5; reference analog: grouped means R_groupe4.R:231-246)
# ---------------------------------------------------------------------------
@register(
    "q01_grouped_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(28,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.scalar import dec, dec_avg, dec_sum

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            F.sum(dec("l_extendedprice", 18, 4) * dec(F.lit(1) - F.col("l_discount"), 18, 4))
            .cast("double")
            .alias("sum_disc_price"),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# A1/A2: ungrouped stats bundle (reference R_groupe4.R:213-228)
# ---------------------------------------------------------------------------
@register(
    "q02_summary_stats_global",
    oracle="""
    SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) / COUNT(o_totalprice) AS mean_val,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS median_val,
           ROUND(quantile_cont(o_totalprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.75), 6) AS p75,
           ROUND(quantile_cont(o_totalprice, 0.75) - quantile_cont(o_totalprice, 0.25), 6) AS iqr,
           MIN(o_totalprice) AS min_val,
           MAX(o_totalprice) AS max_val,
           COUNT(o_totalprice) AS n
    FROM orders
    """,
)
def q02_summary_stats_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return agg.summary_stats(orders, "o_totalprice")


# ---------------------------------------------------------------------------
# A5: grouped stats bundle with quartiles/IQR (reference R_groupe4.R:249-272)
# ---------------------------------------------------------------------------
@register(
    "q03_summary_stats_grouped",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / COUNT(l_quantity) AS mean_val,
           ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_val,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
           ROUND(quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25), 6) AS iqr,
           MIN(l_quantity) AS min_val,
           MAX(l_quantity) AS max_val,
           COUNT(l_quantity) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q03_summary_stats_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return agg.summary_stats(li, "l_quantity", group_by=["l_returnflag"])


# ---------------------------------------------------------------------------
# F2 + O-order: keyed dedup keep-first (R !duplicated, R_groupe4.R:52)
# ---------------------------------------------------------------------------
@register(
    "q04_dedup_keep_first",
    oracle="""
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM (
      SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
      FROM lineitem)
    WHERE rn = 1
    """,
)
def q04_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.cleaning import dedup_keep_first

    # the synthetic lineitem has duplicate (orderkey, linenumber) pairs, so
    # the keep-first order must totally order the projected columns
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity"
    )
    return dedup_keep_first(li, ["l_orderkey"], ["l_linenumber", "l_partkey", "l_quantity"])


# ---------------------------------------------------------------------------
# F1: full-row distinct (R_groupe4.R:49)
# ---------------------------------------------------------------------------
@register(
    "q05_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q05_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.cleaning import distinct_rows

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus")
    return distinct_rows(li)


# ---------------------------------------------------------------------------
# F4 + P9 + P11: filter, case_when bucketing, constant arithmetic
# (R_groupe4.R:284-535 filters; :725-730 buckets; :103-104 shift)
# ---------------------------------------------------------------------------
@register(
    "q06_filter_bucketize",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'vert'
                WHEN o_totalprice < 150000 THEN 'jaune'
                ELSE 'rouge' END AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice - 1000.5 AS DECIMAL(28,4))) AS DOUBLE) AS sum_shifted
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY 1
    """,
)
def q06_filter_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.scalar import bucketize, dec_sum

    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .withColumn("bucket", bucketize("o_totalprice", [(50000.0, "vert"), (150000.0, "jaune")], "rouge"))
        .withColumn("shifted", F.col("o_totalprice") - F.lit(1000.5))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("shifted").alias("sum_shifted"))
    )


# ---------------------------------------------------------------------------
# C1 + W4: blank→null then fillna (R_groupe4.R:45, :209)
# ---------------------------------------------------------------------------
@register(
    "q07_null_handling",
    oracle="""
    SELECT doc_id,
           COALESCE(NULLIF(TRIM(source, ' '), ''), 'Inconnue') AS source_clean,
           COALESCE(NULLIF(TRIM(lang, ' '), ''), 'Inconnue') AS lang_clean
    FROM documents
    """,
)
def q07_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.cleaning import blank_strings_to_null, fill_string_nulls

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    d = blank_strings_to_null(d, ["source", "lang"])
    d = fill_string_nulls(d, "Inconnue", ["source", "lang"])
    return d.select(
        "doc_id",
        F.col("source").alias("source_clean"),
        F.col("lang").alias("lang_clean"),
    )


# ---------------------------------------------------------------------------
# C2 + C3 + P5/P7: string functions and casts (R_groupe4.R:90-91, :178)
# ---------------------------------------------------------------------------
@register(
    "q08_string_funcs",
    oracle="""
    SELECT c_custkey,
           REPLACE(c_name, 'Customer', 'Client') AS renamed,
           LENGTH(c_name) AS name_len,
           UPPER(c_mktsegment) AS seg_upper,
           CAST(c_acctbal AS DOUBLE) AS bal_double
    FROM customer
    """,
)
def q08_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.scalar import replace_literal

    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        replace_literal("c_name", "Customer", "Client").alias("renamed"),
        F.length("c_name").alias("name_len"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.col("c_acctbal").cast("double").alias("bal_double"),
    )


# ---------------------------------------------------------------------------
# C3: title-case normalization (initcap(lower), R_groupe4.R:178)
# ---------------------------------------------------------------------------
@register(
    "q09_title_case",
    oracle="""
    SELECT DISTINCT p_brand,
           UPPER(SUBSTR(LOWER(p_brand), 1, 1)) || SUBSTR(LOWER(p_brand), 2) AS brand_title
    FROM part
    """,
)
def q09_title_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    # p_brand values are single words (Brand#xx) so initcap == ucfirst;
    # the hyphen-crossing behavior is unit-tested in tests/test_scalar.py
    from .functions.scalar import title_case

    p = load_table(spark, sf_dir, "part")
    return p.select("p_brand", title_case("p_brand").alias("brand_title")).distinct()


# ---------------------------------------------------------------------------
# P4 + P8: outlier cap and binary label (R_groupe4.R:80, :1000)
# ---------------------------------------------------------------------------
@register(
    "q10_cap_and_label",
    oracle="""
    SELECT CASE WHEN o_orderstatus IN ('F', 'P') THEN 1 ELSE 0 END AS closed_label,
           COUNT(*) AS n,
           CAST(SUM(CAST(CASE WHEN o_totalprice > 300000 THEN 200000.0 ELSE o_totalprice END AS DECIMAL(28,4))) AS DOUBLE) AS sum_capped
    FROM orders
    GROUP BY 1
    """,
)
def q10_cap_and_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.scalar import binary_label, dec_sum, outlier_cap

    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("closed_label", binary_label("o_orderstatus", ["F", "P"]))
        .withColumn("capped", outlier_cap("o_totalprice", 300000.0, 200000.0))
        .groupBy("closed_label")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("capped").alias("sum_capped"))
    )


# ---------------------------------------------------------------------------
# J-family: inner join + agg + top-k (TPC-H Q3 shape)
# ---------------------------------------------------------------------------
@register(
    "q11_join_topk_revenue",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q11_join_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.scalar import dec
    from .operators.aggregations import top_k

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-03-15").cast("timestamp")
    joined = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter((F.col("o_orderdate") < cutoff) & (F.col("l_shipdate") > cutoff))
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum(dec("l_extendedprice", 18, 4) * dec(F.lit(1) - F.col("l_discount"), 18, 4))
        .cast("double")
        .alias("revenue")
    )
    return top_k(agg, [F.desc("revenue"), F.asc("l_orderkey")], 10).select(
        "l_orderkey", "revenue", "o_orderdate"
    )


# ---------------------------------------------------------------------------
# J-family: 6-way join (TPC-H Q5 shape — broadcast dims, shuffle facts)
# ---------------------------------------------------------------------------
@register(
    "q12_join_multiway",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q12_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier revenue by nation, one region).

    Join ORDER is chosen by hand because Catalyst only reorders joins under
    CBO with collected stats (not available on bare parquet reads) and AQE
    re-plans strategies, not the join tree: the region predicate selects
    1-of-5 regions, so routing it through nation onto BOTH fact-side
    dimensions FIRST (customer and supplier each shrink ~5x via a 5-row
    broadcast) means the two big shuffle joins (orders on custkey, lineitem
    on orderkey) each carry ~1/5 the probe-side rows they would in the
    naive customer->orders->lineitem order. At 100 TB that is the
    difference between shuffling the whole orders table and shuffling a
    fifth of it; locally it is plan-visible as the broadcast filter
    sitting below the first Exchange."""
    from .functions.scalar import dec

    t = {n: load_table(spark, sf_dir, n) for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    # region(ASIA) -> nation: 5 rows; broadcast onto both dimension legs
    asia_nations = (
        t["nation"]
        .join(t["region"].filter(F.col("r_name") == "ASIA"),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    cust = t["customer"].join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("n_nationkey")
    )
    supp = t["supplier"].join(
        F.broadcast(asia_nations.select(F.col("n_nationkey").alias("sn_key"))),
        F.col("s_nationkey") == F.col("sn_key"),
        "left_semi",
    )
    joined = (
        cust
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return joined.groupBy("n_name").agg(
        F.sum(dec("l_extendedprice", 18, 4) * dec(F.lit(1) - F.col("l_discount"), 18, 4))
        .cast("double")
        .alias("revenue")
    )


# ---------------------------------------------------------------------------
# semi / anti joins (EXISTS / NOT EXISTS)
# ---------------------------------------------------------------------------
@register(
    "q13_semi_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY 1
    """,
)
def q13_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "q14_anti_join",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_customers
    FROM customer WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= DATE '1995-01-01'
        AND o_orderdate <  DATE '1996-01-01'
    )
    GROUP BY 1
    """,
)
def q14_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS via left_anti: customers with no 1995 order. The build
    side is date-windowed so real orphans survive at every fixture scale —
    the unwindowed variant was vacuously green at sf0.01 (every customer
    had at least one order, so both engines certified the empty set; r10
    verdict). The window predicate pushes into the orders scan, so the
    anti-join's build side shrinks before the shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# J1/J2: left join against own aggregate (R_groupe4.R:200-203, 630-631)
# ---------------------------------------------------------------------------
@register(
    "q15_join_agg_decorate",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, COALESCE(a.n_orders, 0) AS n_orders
    FROM customer c LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1
    ) a ON c.c_custkey = a.o_custkey
    """,
)
def q15_join_agg_decorate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import decorate_with_group_agg

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    agg_df = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    return decorate_with_group_agg(c, agg_df, "c_custkey").select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce(F.col("__n"), F.lit(0)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# J3/G3: 1-nearest-neighbor join (numeric analog of the spatial imputation,
# R_groupe4.R:110-142)
# ---------------------------------------------------------------------------
@register(
    "q16_knn_1nn",
    oracle="""
    SELECT c_custkey, s_suppkey AS nearest_supp FROM (
      SELECT c.c_custkey, s.s_suppkey,
             ROW_NUMBER() OVER (
               PARTITION BY c.c_custkey
               ORDER BY SQRT(POW(c.c_acctbal - s.s_acctbal, 2) + POW(0.0, 2)), s.s_suppkey
             ) AS rn
      FROM customer c CROSS JOIN supplier s)
    WHERE rn = 1
    """,
)
def q16_knn_1nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # size-based dispatch: broadcast-NL only when |probes|x|known| is small
    # (sf<=0.01); above that, grid-exact rounds — pure equi-joins, no
    # BroadcastNestedLoopJoin in the plan, same exact result
    from .operators.joins import knn_join_1nn_auto

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("cx"), F.lit(0.0).alias("cy")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_acctbal").alias("sx"), F.lit(0.0).alias("sy")
    )
    out = knn_join_1nn_auto(
        c, s, probe_id="c_custkey",
        probe_coords=("cx", "cy"), known_coords=("sx", "sy"),
        payload_cols=["s_suppkey"], tiebreak="s_suppkey",
    )
    return out.select("c_custkey", F.col("s_suppkey").alias("nearest_supp"))


# ---------------------------------------------------------------------------
# full outer join
# ---------------------------------------------------------------------------
@register(
    "q17_full_outer",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM (SELECT * FROM region WHERE r_regionkey < 3) r
    FULL OUTER JOIN (SELECT * FROM nation WHERE n_nationkey % 2 = 0) n
      ON r.r_regionkey = n.n_regionkey
    """,
)
def q17_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").filter(F.col("r_regionkey") < 3)
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") % 2 == 0)
    return r.join(n, r.r_regionkey == n.n_regionkey, "full_outer").select("r_name", "n_name")


# ---------------------------------------------------------------------------
# W-extensions: running sum, lag/delta, rank (SURVEY §2.6 note — exercised
# over events per the fixture mapping)
# ---------------------------------------------------------------------------
@register(
    "q18_running_sum",
    oracle="""
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value
    FROM events WHERE user_id < 50
    """,
)
def q18_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.windows import with_running_sum

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    out = with_running_sum(
        e, "value", ["user_id"], [F.col("ts").asc(), F.col("event_id").asc()], name="running_value"
    )
    return out.select("event_id", "user_id", F.round("running_value", 6).alias("running_value"))


@register(
    "q19_lag_delta",
    oracle="""
    SELECT event_id, user_id,
           ROUND(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) + 0e0 AS delta
    FROM events WHERE user_id < 50
    """,
)
def q19_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.windows import with_lag

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    out = with_lag(e, "value", ["user_id"], [F.col("ts").asc(), F.col("event_id").asc()], name="prev")
    return out.select(
        "event_id", "user_id", round_disp(F.col("value") - F.col("prev"), 6).alias("delta")
    )


@register(
    "q20_rank_dense_rank",
    oracle="""
    SELECT event_id, event_type,
           RANK() OVER (PARTITION BY event_type ORDER BY ROUND(value, 2) DESC) AS rnk,
           DENSE_RANK() OVER (PARTITION BY event_type ORDER BY ROUND(value, 2) DESC) AS drnk
    FROM events WHERE user_id < 20
    """,
)
def q20_rank_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = W.partitionBy("event_type").orderBy(F.round("value", 2).desc())
    return e.select(
        "event_id",
        "event_type",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


# ---------------------------------------------------------------------------
# A7/W3/O1: mode per group; A8 crosstab; O1 top-k per group
# ---------------------------------------------------------------------------
@register(
    "q21_mode_per_group",
    oracle="""
    SELECT c_nationkey, c_mktsegment AS mode_val FROM (
      SELECT c_nationkey, c_mktsegment,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY COUNT(*) DESC, c_mktsegment) AS rn
      FROM customer GROUP BY c_nationkey, c_mktsegment)
    WHERE rn = 1
    """,
)
def q21_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregations import mode_per_group

    c = load_table(spark, sf_dir, "customer")
    return mode_per_group(c, "c_nationkey", "c_mktsegment")


@register(
    "q22_crosstab",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY 1, 2
    """,
)
def q22_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregations import crosstab_long

    o = load_table(spark, sf_dir, "orders")
    return crosstab_long(o, "o_orderstatus", "o_orderpriority")


@register(
    "q23_topk_per_group",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer)
    WHERE rn <= 3
    """,
)
def q23_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregations import top_k_per_group

    c = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_custkey", "c_acctbal")
    return top_k_per_group(c, ["c_nationkey"], [F.desc("c_acctbal"), F.asc("c_custkey")], 3)


# ---------------------------------------------------------------------------
# time windows: tumbling, sliding, session (batch forms — SURVEY §2.12)
# ---------------------------------------------------------------------------
@register(
    "q24_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q24_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.windows import tumbling_window_agg

    e = load_table(spark, sf_dir, "events")
    out = tumbling_window_agg(e, "ts", "1 hour", ["event_type"])
    return out.select("window_start", "event_type", "n", "sum_value")


@register(
    "q25_sliding_window",
    oracle="""
    WITH contrib AS (
      SELECT date_trunc('hour', ts) AS window_start, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start, value FROM events)
    SELECT window_start, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM contrib GROUP BY 1
    """,
)
def q25_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.windows import sliding_window_agg

    e = load_table(spark, sf_dir, "events")
    out = sliding_window_agg(e, "ts", "2 hours", "1 hour", [])
    return out.select("window_start", "n", "sum_value")


@register(
    "q26_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS is_new
      FROM events WHERE user_id < 50),
    sess AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged)
    SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sess GROUP BY 1, 2
    """,
)
def q26_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.windows import sessionize

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    s = sessionize(e, "user_id", "ts", gap_seconds=1800, tiebreak=["event_id"])
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# set operators (SURVEY §2.8)
# ---------------------------------------------------------------------------
@register(
    "q27_setops",
    oracle="""
    WITH h1 AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00'),
         h2 AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00')
    SELECT 'both' AS tag, COUNT(*) AS n FROM (SELECT o_custkey FROM h1 INTERSECT SELECT o_custkey FROM h2)
    UNION ALL
    SELECT 'only_early', COUNT(*) FROM (SELECT o_custkey FROM h1 EXCEPT SELECT o_custkey FROM h2)
    UNION ALL
    SELECT 'union_distinct', COUNT(*) FROM (SELECT o_custkey FROM h1 UNION SELECT o_custkey FROM h2)
    """,
)
def q27_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.setops import except_, intersect, union_distinct

    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1995-01-01").cast("timestamp")
    h1 = o.filter(F.col("o_orderdate") < cutoff).select("o_custkey").distinct()
    h2 = o.filter(F.col("o_orderdate") >= cutoff).select("o_custkey").distinct()
    spark_rows = [
        intersect(h1, h2).agg(F.count(F.lit(1)).alias("n")).select(F.lit("both").alias("tag"), "n"),
        except_(h1, h2).agg(F.count(F.lit(1)).alias("n")).select(F.lit("only_early").alias("tag"), "n"),
        union_distinct(h1, h2).agg(F.count(F.lit(1)).alias("n")).select(F.lit("union_distinct").alias("tag"), "n"),
    ]
    out = spark_rows[0]
    for r in spark_rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# C6: date/timestamp functions (dead code in reference R_groupe4.R:150-172;
# live surface here)
# ---------------------------------------------------------------------------
@register(
    "q28_date_functions",
    oracle="""
    SELECT EXTRACT(year FROM o_orderdate) AS yr,
           EXTRACT(month FROM o_orderdate) AS mo,
           COUNT(*) AS n,
           CAST(MIN(DATE_DIFF('day', DATE '1992-01-01', o_orderdate)) AS BIGINT) AS min_days_since,
           CAST(MAX(EXTRACT(quarter FROM o_orderdate)) AS BIGINT) AS max_quarter
    FROM orders GROUP BY 1, 2
    """,
)
def q28_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")))
            .cast("long")
            .alias("min_days_since"),
            F.max(F.quarter("o_orderdate")).cast("long").alias("max_quarter"),
        )
    )


# ---------------------------------------------------------------------------
# JSON extraction over events.props (north-star; SURVEY §2.9 note)
# ---------------------------------------------------------------------------
@register(
    "q29_json_extract",
    oracle="""
    SELECT CAST(json_extract_string(
             CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT) AS k,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
)
def q29_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.scalar import dec_sum

    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("value").alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# M1/M2: covariance + Pearson correlation as exact aggregations
# (R_groupe4.R:799-818)
# ---------------------------------------------------------------------------
@register(
    "q30_cov_corr",
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.stats.descriptive", fromlist=["x"]
    ).pairwise_stats_oracle_sql(
        "lineitem",
        [("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"), ("l_extendedprice", "l_tax")],
    ),
)
def q30_cov_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .stats.descriptive import pairwise_stats_df

    li = load_table(spark, sf_dir, "lineitem")
    return pairwise_stats_df(
        li,
        [("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"), ("l_extendedprice", "l_tax")],
    )


# ---------------------------------------------------------------------------
# M3: chi-square independence (R_groupe4.R:836-841, 882-900)
# ---------------------------------------------------------------------------
@register(
    "q31_chi_square",
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.stats.inference", fromlist=["x"]
    ).chi_square_oracle_sql("lineitem", "l_returnflag", "l_linestatus"),
)
def q31_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .stats.inference import chi_square_df

    li = load_table(spark, sf_dir, "lineitem")
    return chi_square_df(li, "l_returnflag", "l_linestatus")


# ---------------------------------------------------------------------------
# M5: one-way ANOVA (R_groupe4.R:873-874)
# ---------------------------------------------------------------------------
@register(
    "q32_anova",
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.stats.inference", fromlist=["x"]
    ).anova_oneway_oracle_sql("lineitem", "l_quantity", "l_returnflag"),
)
def q32_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .stats.inference import anova_oneway_df

    li = load_table(spark, sf_dir, "lineitem")
    return anova_oneway_df(li, "l_quantity", "l_returnflag")


# ---------------------------------------------------------------------------
# M6: simple OLS closed form (R_groupe4.R:983-996)
# ---------------------------------------------------------------------------
@register(
    "q33_simple_ols",
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.stats.regression", fromlist=["x"]
    ).simple_ols_oracle_sql("lineitem", "l_extendedprice", "l_quantity"),
)
def q33_simple_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .stats.regression import simple_ols_df

    li = load_table(spark, sf_dir, "lineitem")
    return simple_ols_df(li, "l_extendedprice", "l_quantity")


# ---------------------------------------------------------------------------
# text analysis over documents (north-star surface)
# ---------------------------------------------------------------------------
@register(
    "q34_text_stats",
    oracle="""
    SELECT doc_id,
           LEN(list_filter(string_split_regex(LOWER(TRIM(text, ' ')), '\\s+'), t -> t <> '')) AS n_tokens,
           LENGTH(text) AS n_chars_computed,
           LEN(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha
    FROM documents
    """,
)
def q34_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.regexp_count("text", F.lit("[A-Za-z]")).alias("n_alpha"),
    )


@register(
    "q35_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(LENGTH(text) AS DOUBLE) AS n_chars,
             CAST(LEN(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS n_alpha,
             CAST(LEN(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) AS DOUBLE) AS n_punct,
             CAST(LEN(list_filter(string_split_regex(LOWER(TRIM(text, ' ')), '\\s+'), x -> x <> '')) AS DOUBLE) AS n_tok
      FROM documents)
    SELECT doc_id,
           (CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.25 ELSE 0.0 END
            + CASE WHEN n_tok > 0 AND n_chars / n_tok >= 2 AND n_chars / n_tok <= 12 THEN 0.25 ELSE 0.0 END
            + CASE WHEN n_chars > 0 AND n_alpha / n_chars >= 0.6 THEN 0.25 ELSE 0.0 END
            + CASE WHEN n_chars > 0 AND n_punct / n_chars <= 0.2 THEN 0.25 ELSE 0.0 END) AS quality
    FROM t
    """,
)
def q35_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score("text").alias("quality"))


@register(
    "q36_language_id",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             COALESCE(list_filter(string_split_regex(LOWER(TRIM(text, ' ')), '\\s+'),
                                  t -> t <> ''), []) AS tk
      FROM documents),
    scores AS (
      SELECT doc_id, lang,
        LEN(list_filter(tk, t -> list_contains(['der','die','das','und','ist','nicht','ein','eine','zu','mit'], t))) AS s_de,
        LEN(list_filter(tk, t -> list_contains(['the','and','of','to','is','in','that','it','was','for'], t))) AS s_en,
        LEN(list_filter(tk, t -> list_contains(['el','la','los','las','de','que','es','en','un','una'], t))) AS s_es,
        LEN(list_filter(tk, t -> list_contains(['le','la','les','de','des','et','est','un','une','que'], t))) AS s_fr
      FROM toks)
    SELECT doc_id, lang,
           CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                WHEN s_de >= GREATEST(s_en, s_es, s_fr) THEN 'de'
                WHEN s_en >= GREATEST(s_es, s_fr) THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM scores
    """,
)
def q36_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import language_id

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", language_id("text").alias("lang_pred"))


@register(
    "q37_dedup_exact",
    oracle="""
    SELECT doc_id FROM (
      SELECT doc_id, ROW_NUMBER() OVER (
        PARTITION BY md5(regexp_replace(LOWER(TRIM(text, ' ')), '\\s+', ' ', 'g'))
        ORDER BY doc_id) AS rn
      FROM documents)
    WHERE rn = 1
    """,
)
def q37_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " ")
    w = W.partitionBy(F.md5(F.encode(norm, "UTF-8"))).orderBy(F.col("doc_id").asc())
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id")
    )


# minhash/simhash/ngram-jaccard near-dup: q40 is hash-free (oracle since
# r06); q38/q39 run the md5_affine family so their full pipelines replay
# in SQL (oracles since r08) — the xxhash64 default family remains for
# non-oracle paths (q78/q189)
@register(
    "q38_minhash_pairs",
    # Oracle (promoted r08): with the md5_affine hash family every stage —
    # normalization, shingle hash, affine minhash rows, tuple-equality
    # banding, match-count estimate — is deterministic arithmetic DuckDB
    # replays bit-for-bit. LSH stays "approximate" w.r.t. true Jaccard;
    # the PIPELINE is an exact function of the data, and that function is
    # what the oracle recomputes. xxhash64 remains the package default
    # family (faster); the P/R self-eval q206 grades that family.
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.functions.dedup", fromlist=["x"]
    ).minhash_oracle_sql(
        "documents", "doc_id", "text", num_hashes=32, bands=8, threshold=0.5
    ),
)
def q38_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs over documents (headline). Since r08
    this runs the md5_affine family so the DuckDB oracle can replay the
    full pipeline (functions/dedup.py::minhash_oracle_sql); expect a
    modestly higher absolute bench time than the xxhash64 rounds (md5
    per shingle) — a documented lineage break, not a regression."""
    from .functions.dedup import minhash_dedup_pairs

    d = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        d,
        "text",
        "doc_id",
        num_hashes=32,
        bands=8,
        threshold=0.5,
        hash_family="md5_affine",
    )


@register(
    "q39_simhash_pairs",
    # Oracle (promoted r08, with q38): the md5_affine family makes the
    # 60-bit simhash — votes, signature, 4×15-bit blocks, Hamming verify —
    # pure integer arithmetic DuckDB replays bit-for-bit.
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.functions.dedup", fromlist=["x"]
    ).simhash_oracle_sql("documents", "doc_id", "text", max_hamming=3),
)
def q39_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over documents. Since r08 on the 60-bit
    md5_affine family so the DuckDB oracle replays the full pipeline
    (functions/dedup.py::simhash_oracle_sql)."""
    from .functions.dedup import simhash_dedup_pairs

    d = load_table(spark, sf_dir, "documents")
    return simhash_dedup_pairs(
        d, "text", "doc_id", max_hamming=3, hash_family="md5_affine"
    )


@register(
    "q40_ngram_jaccard_pairs",
    oracle="""
    WITH samp AS (
      -- deterministic modulus sample (q206's bounded-baseline doctrine):
      -- full corpus through sf0.1 (5k docs), every k-th doc above 6k so the
      -- sanctioned quadratic baseline stays bounded at scale-smoke SFs
      SELECT * FROM documents
      WHERE doc_id % GREATEST(1, CAST(CEIL(
              (SELECT COUNT(*) FROM documents) / 6000.0) AS BIGINT)) = 0
    ),
    norm AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text, ' ')), '\\s+', ' ', 'g') AS t
      FROM samp
    ),
    grams AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, len(t) - 3),
                              i -> substr(t, CAST(i AS INT), 5)))) AS g
      FROM norm WHERE len(t) >= 5
    ),
    exploded AS (SELECT doc_id, unnest(g) AS k FROM grams),
    dfreq AS (SELECT k, COUNT(*) AS df FROM exploded GROUP BY 1),
    ranked AS (
      SELECT e.doc_id, e.k,
             ROW_NUMBER() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.k) AS rn
      FROM exploded e JOIN dfreq d ON e.k = d.k
    ),
    keyed AS (SELECT doc_id, k FROM ranked WHERE rn <= 2),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keyed a JOIN keyed b ON a.k = b.k AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(ga.g, gb.g))) AS DOUBLE),
                 6) AS jaccard
    FROM cand
    JOIN grams ga ON ga.doc_id = id_a
    JOIN grams gb ON gb.doc_id = id_b
    WHERE jaccard >= 0.3
    """,
)
def q40_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-5-gram Jaccard pairs over the 2-rarest-shingle blocking
    join (functions/dedup.py::ngram_jaccard_pairs). Fully deterministic —
    no hashing anywhere — so the oracle (promoted r06) replays the same
    shingling, blocking, and set algebra in SQL.

    This is a sanctioned ORACLE BASELINE (its LSH sibling q38 is the scale
    path), so the corpus is capped by a deterministic modulus sample above
    6k docs — full depth at every driver SF (≤ 5k docs through sf0.1),
    every k-th doc at the sf1 smoke (50k → ~5.6k), same rule in the SQL
    twin. The count() is a sanctioned 1-row scalar collect (it sizes the
    sample; the r10 verdict's smoke-bill item)."""
    from .functions.dedup import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    k = max(1, -(-d.count() // 6000))
    if k > 1:
        d = d.filter(F.col("doc_id") % k == 0)
    return ngram_jaccard_pairs(d, "text", "doc_id", ngram=5, threshold=0.3)


# ---------------------------------------------------------------------------
# similarity search over embeddings (north-star surface)
# ---------------------------------------------------------------------------
@register(
    "q41_ann_bruteforce",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6) AS score
      FROM embeddings e CROSS JOIN q),
    ranked AS (
      SELECT query_id, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
      FROM scored WHERE score IS NOT NULL)
    SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 10
    """,
)
def q41_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, q, k=10, query_id="query_id")


@register(
    "q42_ann_lsh",
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.functions.similarity",
        fromlist=["lsh_topk_oracle_sql"],
    ).lsh_topk_oracle_sql(
        table="embeddings",
        query_filter="vec_id < 5",
        k=10,
        dim=64,
        num_bits=16,
        bands=4,
    ),
)
def q42_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-k (similarity.lsh_topk). Oracle (promoted
    r09, closing the r08 verdict's top item): the seeded hyperplanes are
    literal constants, so DuckDB replays the exact sign-bit band buckets
    (functions/similarity.py::lsh_topk_oracle_sql — the projection is the
    same left-fold chain bit-for-bit) and the same any-band candidate set,
    then re-ranks with the q41 cosine convention. LSH is "approximate"
    w.r.t. true neighbors, but a FIXED hash family makes the output a pure
    deterministic function of the data — exactly what the oracle checks."""
    from .functions.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, q, k=10, dim=64, num_bits=16, bands=4)


# ---------------------------------------------------------------------------
# M4/M7/M8: multiple OLS w/ inference, logistic + confusion matrix
# ---------------------------------------------------------------------------
_Q43_DUMMIES = [("l_returnflag", "N"), ("l_returnflag", "R")]  # ref level 'A'


@register(
    "q43_multiple_ols",
    # Oracle (promoted r09, closing the r08 verdict's M4 rows-only item):
    # the closed-form path makes every statistic an exact function of
    # order-independent decimal moments + a FIXED float operation sequence
    # both engines replay bit-for-bit (stats/regression.py::
    # multiple_ols_oracle_sql / gauss_jordan_sql_ctes) — stronger than the
    # residual-orthogonality invariant the verdict sketched: the full
    # coefficient/t table hashes.
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.stats.regression", fromlist=["x"]
    ).multiple_ols_oracle_sql(
        "lineitem",
        "l_extendedprice",
        ["l_quantity", "l_discount"],
        _Q43_DUMMIES,
    ),
)
def q43_multiple_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 multiple OLS + inference (reference summary(lm),
    R_groupe4.R:845-847). Since r09 the driver query runs the CLOSED-FORM
    path — one exact-decimal aggregation pass over the fact table, then a
    k×k Gauss-Jordan on the driver (stats/regression.py::
    multiple_ols_closed_form; ml.fit_multiple_ols remains the Spark-ML API
    twin, parity-pinned in tests/test_round9_ml.py). Dummy coding is
    R-style (alphabetical levels, first = reference — 'A'), matching the
    reference's factor handling rather than StringIndexer's frequency
    order. One scan, one 1-row collect: the 100 TB shape for GLM-class
    fits with small k."""
    from .stats.regression import multiple_ols_closed_form

    li = load_table(spark, sf_dir, "lineitem")
    summary = multiple_ols_closed_form(
        li, "l_extendedprice", ["l_quantity", "l_discount"], _Q43_DUMMIES
    )
    return summary.select(
        "feature",
        # round_disp: signed-zero normalization after display rounding (the
        # r09 red row — DuckDB ROUND(-0.003, 2) is -0.0, Spark 0.0).
        round_disp("coefficient", 4).alias("coefficient"),
        round_disp("t_value", 2).alias("t_value"),
    )


_Q44_DUMMIES = [  # ref level '1-URGENT' (R-style alphabetical treatment coding)
    ("o_orderpriority", "2-HIGH"),
    ("o_orderpriority", "3-MEDIUM"),
    ("o_orderpriority", "4-NOT SPECIFIED"),
    ("o_orderpriority", "5-LOW"),
]


@register(
    "q44_logistic_confusion",
    # Oracle (promoted r09, closing the r08 verdict's M7/M8 rows-only
    # item): fixed-round distributed IRLS whose rounds the DuckDB twin
    # unrolls as materialized CTEs; the ~1e-13 cross-engine float-sum
    # noise is absorbed by per-feature coefficient quantization, and the
    # confusion matrix of the QUANTIZED model hashes exactly
    # (ml/irls.py::logistic_confusion_oracle_sql).
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.ml.irls", fromlist=["x"]
    ).logistic_confusion_oracle_sql(
        "orders",
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END",
        ["o_totalprice"],
        _Q44_DUMMIES,
    ),
)
def q44_logistic_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 logistic + M8 confusion matrix (reference glm(binomial) +
    table(label, pred), R_groupe4.R:1002-1011). Since r09 the driver
    query runs the deterministic fixed-round IRLS path (ml/irls.py —
    one aggregate pass per Newton round, driver solves the 6×6 system;
    ml.pipeline.fit_logistic remains the Spark-ML API twin,
    coefficient-parity pinned in tests/test_round9_ml.py). The reported
    confusion matrix is that of the per-feature-quantized coefficients
    (12 decimals on the numeric slope, 8 elsewhere — ~1e-7-relative to
    the exact MLE, and exactly replayable cross-engine)."""
    from .ml.irls import logistic_confusion_closed

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isNotNull()
    )
    o = o.withColumn(
        "is_closed", F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0)
    )
    return logistic_confusion_closed(
        o, "is_closed", ["o_totalprice"], _Q44_DUMMIES
    )


# ---------------------------------------------------------------------------
# G1/G2: CRS reprojection (pandas UDF; rows-only — no SQL equivalent)
# ---------------------------------------------------------------------------
def _lambert_oracle() -> str:
    """Chained-CTE inverse Lambert-93 (functions/geo.py IGN closed form):
    the isometric-latitude fixed point is a FIXED 10-step contraction, so
    it unrolls into 10 CTE applications. numpy and DuckDB call the same
    C libm on this box (exp/ln/atan/pow/sin), so pre-round values agree
    to ~1 ulp; round-6 output (≈0.1 m) absorbs that. All float literals
    carry e0 so DuckDB types them DOUBLE, not DECIMAL."""
    e = "0.0818191910428158e0"
    step = (
        "2.0 * atan(power((1.0 + {e} * sin(phi)) / (1.0 - {e} * sin(phi)), "
        "{e} / 2.0) * exp(lat_iso)) - pi() / 2.0"
    ).format(e=e)
    ctes = [
        "synth AS (SELECT c_custkey, "
        "700000.0e0 + (c_custkey % 1000) * 30.0e0 AS x, "
        "6960000.0e0 + ((c_custkey * 7) % 1000) * 30.0e0 AS y FROM customer)",
        "base AS (SELECT c_custkey, x - 700000.0e0 AS dx, "
        "12655612.049876e0 - y AS dy FROM synth)",
        "iso AS (SELECT c_custkey, "
        "atan2(dx, dy) / 0.7256077650532670e0 + radians(3.0) AS lon_rad, "
        "-ln(abs(sqrt(dx * dx + dy * dy) / 11754255.426096e0)) "
        "/ 0.7256077650532670e0 AS lat_iso FROM base)",
        "p0 AS (SELECT c_custkey, lon_rad, lat_iso, "
        "2.0 * atan(exp(lat_iso)) - pi() / 2.0 AS phi FROM iso)",
    ]
    for k in range(1, 11):
        ctes.append(
            f"p{k} AS (SELECT c_custkey, lon_rad, lat_iso, {step} AS phi "
            f"FROM p{k - 1})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT c_custkey, round(degrees(lon_rad), 6) AS longitude, "
        "round(degrees(phi), 6) AS latitude FROM p10"
    )


@register("q45_crs_transform", oracle=_lambert_oracle())
def q45_crs_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 CRS reprojection over a synthetic Lambert-93 grid. Oracle
    (promoted r06): see _lambert_oracle — the closed-form inverse with
    its fixed 10-step isometric-latitude contraction unrolled in SQL.
    Output rounded to 6 decimals (≈0.1 m) so last-ulp libm differences
    cannot straddle a rounding boundary."""
    from .functions.geo import with_wgs84

    c = load_table(spark, sf_dir, "customer")
    synth = c.select(
        "c_custkey",
        (F.lit(700000.0) + (F.col("c_custkey") % 1000) * 30.0).alias("X"),
        (F.lit(6960000.0) + ((F.col("c_custkey") * 7) % 1000) * 30.0).alias("Y"),
    )
    out = with_wgs84(synth, "X", "Y")
    return out.select(
        "c_custkey",
        F.round("longitude", 6).alias("longitude"),
        F.round("latitude", 6).alias("latitude"),
    )


# ---------------------------------------------------------------------------
# Structured Streaming: tumbling window as a real stream, same oracle as
# the batch q24 (SURVEY §2.12)
# ---------------------------------------------------------------------------
@register(
    "q46_streaming_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q46_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from .streaming.windows import streaming_tumbling_counts

    return streaming_tumbling_counts(
        spark, os.path.join(sf_dir, "events.parquet"), query_name="q46_stream_out"
    )


# ---------------------------------------------------------------------------
# A8 matrix form: pivot (R ``table`` wide form, R_groupe4.R:880-894)
# ---------------------------------------------------------------------------
@register(
    "q47_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM orders GROUP BY 1
    """,
)
def q47_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregations import crosstab_pivot

    o = load_table(spark, sf_dir, "orders")
    out = crosstab_pivot(o, "o_orderpriority", "o_orderstatus", ["F", "O", "P"])
    return out.select(
        "o_orderpriority",
        F.col("F").cast("long").alias("F"),
        F.col("O").cast("long").alias("O"),
        F.col("P").cast("long").alias("P"),
    )


# ---------------------------------------------------------------------------
# rollup / cube / grouping sets (SURVEY §2.5 note: free in Spark, exercised)
# ---------------------------------------------------------------------------
@register(
    "q48_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    HAVING COUNT(*) > 0
    """,
)
def q48_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP margins. Note: on EMPTY input Spark's rollup/cube emit zero
    rows — strict SQL (and DuckDB) emit the () grand-total row with
    COUNT 0. The oracle's no-op-on-data `HAVING COUNT(*) > 0` encodes
    Spark's behavior (a rollup cell always has count ≥ 1 when any input
    exists), documented here rather than papered over with a union that
    would double-scan the feed. Same convention: q49, q205."""
    from .functions.scalar import dec_sum

    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("l_quantity").alias("sum_qty")
    )


@register(
    "q49_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    HAVING COUNT(*) > 0
    """,
)
def q49_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# count distinct, exact + approx (approx is engine-specific → exact twin
# for the oracle, approx exposed alongside as a rows-only extra)
# ---------------------------------------------------------------------------
@register(
    "q50_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY 1
    """,
)
def q50_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


def _q51_oracle() -> str:
    from .operators.sketches import hdr_median_oracle_sql, hll_oracle_sql

    hll = hll_oracle_sql("lineitem", "l_orderkey", ["l_returnflag"], "approx_orders")
    hdr = hdr_median_oracle_sql(
        "lineitem", "l_quantity", ["l_returnflag"], "approx_median"
    )
    return f"""
    SELECT h.l_returnflag, h.approx_orders, m.approx_median
    FROM ({hll}) h JOIN ({hdr}) m USING (l_returnflag)
    """


@register(
    "q51_approx_distinct_quantile",
    # Oracle (promoted r09): the engine sketches this query used through r08
    # (approx_count_distinct HLL++, percentile_approx GK) have
    # engine-internal registers no other engine can replay — the written
    # no-oracle declination. Replaced with the repo's OWN sketches built on
    # the md5_affine doctrine: a 60-bit-md5 HyperLogLog whose registers are
    # integer bit-length arithmetic and whose fold is an exact BIGINT sum,
    # and an HdrHistogram-style base-2 quantile sketch that is pure integer
    # arithmetic end-to-end — both exact functions of the data that DuckDB
    # replays bit-for-bit (operators/sketches.py). Same sketch properties
    # (single-pass, mergeable, bounded size), now hash-verifiable.
    oracle=_q51_oracle(),
)
def q51_approx_distinct_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based forms for 100 TB: HLL distinct (m=1024 registers,
    SE≈3.3%) + HDR-histogram median (rel err ≤ 0.8%) — mergeable,
    single-pass, shuffle ≤ m rows per group. Engine sketches
    (approx_count_distinct / percentile_approx / hll_sketch_agg) remain
    pinned-by-tolerance in tests/test_round9_sketch_promote.py; this
    contract query runs the SQL-replayable variants."""
    from .operators.sketches import hdr_buckets, hdr_median, hll_estimate, hll_registers

    li = load_table(spark, sf_dir, "lineitem")
    est = hll_estimate(
        hll_registers(li, "l_orderkey", ["l_returnflag"]), ["l_returnflag"]
    ).withColumnRenamed("est", "approx_orders")
    med = hdr_median(
        hdr_buckets(li, "l_quantity", ["l_returnflag"]), ["l_returnflag"]
    ).withColumnRenamed("med", "approx_median")
    return est.join(med, "l_returnflag")


# ---------------------------------------------------------------------------
# S2 + S1: CSV sink → scan round-trip (reference export + read-back check,
# R_groupe4.R:1074-1076)
# ---------------------------------------------------------------------------
@register(
    "q52_csv_roundtrip",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_totalprice > 100000
    GROUP BY 1
    """,
)
def q52_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    from .functions.scalar import dec_sum
    from .sources.writers import write_csv

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    out_dir = _scratch_dir(spark, "csv_sink") + "/orders_csv"
    write_csv(o.select("o_orderstatus", "o_totalprice"), out_dir)
    back = (
        spark.read.option("header", "true")
        .schema("o_orderstatus string, o_totalprice double")
        .csv(out_dir)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("o_totalprice").alias("sum_price")
    )


# ---------------------------------------------------------------------------
# W1/W2: group-wise first fill (R_groupe4.R:181-190) — windowed form
# ---------------------------------------------------------------------------
@register(
    "q53_groupwise_fill",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           COALESCE(qn, FIRST_VALUE(qn IGNORE NULLS) OVER (
             PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_quantity
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS q_filled
    FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
                 NULLIF(l_quantity, 1.0) AS qn FROM lineitem)
    """,
)
def q53_groupwise_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "qn", F.nullif(F.col("l_quantity"), F.lit(1.0))
    )
    w = (
        W.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_quantity")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fill = F.first("qn", ignorenulls=True).over(w)
    return li.select(
        "l_orderkey", "l_linenumber", F.coalesce(F.col("qn"), fill).alias("q_filled")
    )


# ---------------------------------------------------------------------------
# W3: group-mode fill with default (R_groupe4.R:194-205)
# ---------------------------------------------------------------------------
@register(
    "q54_mode_fill",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
      FROM customer),
    modes AS (
      SELECT c_nationkey, seg AS mode_seg FROM (
        SELECT c_nationkey, seg,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY COUNT(*) DESC, seg) AS rn
        FROM base WHERE seg IS NOT NULL GROUP BY c_nationkey, seg)
      WHERE rn = 1)
    SELECT b.c_custkey, COALESCE(b.seg, m.mode_seg, 'AUTRE') AS seg_filled
    FROM base b LEFT JOIN modes m ON b.c_nationkey = m.c_nationkey
    """,
)
def q54_mode_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.cleaning import groupwise_mode_fill

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    out = groupwise_mode_fill(c, "seg", "c_nationkey", default="AUTRE")
    return out.select("c_custkey", F.col("seg").alias("seg_filled"))


# ---------------------------------------------------------------------------
# P1/P2/P3/P7: projection surface (drop/select/lit/rename,
# R_groupe4.R:77, 83-87, 101, 1071-1072)
# ---------------------------------------------------------------------------
@register(
    "q55_projection_ops",
    oracle="""
    SELECT p_partkey AS part_id, p_brand, 'Orthophoto' AS src_geo,
           p_retailprice * 1.1 AS price_taxed
    FROM part
    """,
)
def q55_projection_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    out = (
        p.drop("p_name", "p_type", "p_size")
        .withColumn("src_geo", F.lit("Orthophoto"))
        .withColumn("price_taxed", F.col("p_retailprice") * 1.1)
        .withColumnRenamed("p_partkey", "part_id")
    )
    return out.select("part_id", "p_brand", "src_geo", "price_taxed")


# ---------------------------------------------------------------------------
# text: BPE-ish token counting + fingerprint-distinct (north-star)
# ---------------------------------------------------------------------------
@register(
    "q56_bpe_tokens",
    oracle="""
    SELECT doc_id,
           LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
    FROM documents
    """,
)
def q56_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import bpe_token_count

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", bpe_token_count("text").alias("n_bpe_tokens"))


@register(
    "q57_fingerprint_distinct",
    oracle="""
    SELECT source, COUNT(DISTINCT md5(regexp_replace(LOWER(TRIM(text, ' ')), '\\s+', ' ', 'g'))) AS n_unique_docs,
           COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def q57_fingerprint_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.countDistinct(fingerprint("text")).alias("n_unique_docs"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# embeddings: vector arithmetic via builtin array ops (north-star)
# ---------------------------------------------------------------------------
@register(
    "q58_vector_normalize",
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS l2_norm,
           ROUND(embedding[1] / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) + 0e0 AS first_unit
    FROM embeddings
    """,
)
def q58_vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.similarity import norm

    e = load_table(spark, sf_dir, "embeddings")
    n = norm(F.col("embedding"))
    return e.select(
        "vec_id",
        F.round(n, 6).alias("l2_norm"),
        # try_divide: a zero vector has no unit direction — NULL, matching
        # the oracle's x/0 (DuckDB NULL); ANSI bare division would abort
        round_disp(
            F.try_divide(F.element_at("embedding", 1).cast("double"), n), 6
        ).alias("first_unit"),
    )


# ---------------------------------------------------------------------------
# as-of style carry-forward (engine asof_join surface; window form)
# ---------------------------------------------------------------------------
@register(
    "q59_last_purchase_carryforward",
    oracle="""
    SELECT event_id, user_id,
           LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
    FROM events WHERE user_id < 30
    """,
)
def q59_last_purchase_carryforward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    lastp = F.last(
        F.when(F.col("event_type") == "purchase", F.col("value")), ignorenulls=True
    ).over(w)
    return e.select("event_id", "user_id", lastp.alias("last_purchase_value"))


# ---------------------------------------------------------------------------
# native session_window operator (streaming-capable form of q26)
# ---------------------------------------------------------------------------
@register(
    "q60_session_window_native",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS is_new
      FROM events),
    sess AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n
    FROM sess GROUP BY user_id, sid
    """,
)
def q60_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.windows import session_window_agg

    e = load_table(spark, sf_dir, "events")
    out = session_window_agg(e, "ts", "30 minutes", ["user_id"])
    return out.select("user_id", "session_start", "session_end", "n")


# ---------------------------------------------------------------------------
# correlated subqueries (Catalyst decorrelation — TPC-H Q4/Q17 shapes)
# ---------------------------------------------------------------------------
@register(
    "q61_exists_correlated",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-03-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate)
    GROUP BY 1
    """,
)
def q61_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o.createOrReplaceTempView("__orders_v")
    li.createOrReplaceTempView("__lineitem_v")
    return spark.sql("""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM __orders_v
        WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-03-01 00:00:00'
          AND EXISTS (SELECT 1 FROM __lineitem_v WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
    """)


@register(
    "q62_scalar_subquery",
    oracle="""
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
    FROM lineitem l1
    WHERE l_quantity < (SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = l1.l_partkey)
    GROUP BY 1
    """,
)
def q62_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__li62")
    return spark.sql("""
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
        FROM __li62 l1
        WHERE l_quantity < (SELECT 0.5 * AVG(l_quantity) FROM __li62 l2
                            WHERE l2.l_partkey = l1.l_partkey)
        GROUP BY l_partkey
    """)


# ---------------------------------------------------------------------------
# corpus vocabulary: term frequencies + top-k terms (training-data op)
# ---------------------------------------------------------------------------
@register(
    "q63_vocabulary_topk",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(LOWER(TRIM(text, ' ')), '\\s+'), t -> t <> '')) AS term
      FROM documents)
    SELECT term, n FROM (
      SELECT term, COUNT(*) AS n,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rn
      FROM tok GROUP BY term)
    WHERE rn <= 25
    """,
)
def q63_vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokens
    from .operators.aggregations import top_k

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return top_k(tf, [F.desc("n"), F.asc("term")], 25)


# ---------------------------------------------------------------------------
# embedding centroids per label (posexplode → groupBy — the scalable
# element-wise array mean)
# ---------------------------------------------------------------------------
@register(
    "q64_embedding_centroids",
    oracle="""
    WITH flat AS (
      SELECT label, u.pos AS pos, u.val AS val
      FROM embeddings,
           LATERAL (SELECT generate_subscripts(embedding, 1) AS pos,
                           unnest(CAST(embedding AS DOUBLE[])) AS val) u)
    SELECT label, pos, ROUND(AVG(val), 6) + 0e0 AS centroid_val
    FROM flat WHERE pos <= 4 GROUP BY 1, 2
    """,
)
def q64_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "val")
    ).withColumn("pos", F.col("pos0") + 1)
    return (
        flat.filter(F.col("pos") <= 4)
        .groupBy("label", "pos")
        .agg(round_disp(F.avg("val"), 6).alias("centroid_val"))
        .select("label", F.col("pos").cast("long").alias("pos"), "centroid_val")
    )


# ---------------------------------------------------------------------------
# distinct users per tumbling window (stream-shaped distinct aggregation)
# ---------------------------------------------------------------------------
@register(
    "q65_window_distinct_users",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY 1
    """,
)
def q65_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("window_start"), "n_users", "n_events")
    )


# ---------------------------------------------------------------------------
# stopword ratio per declared language (text quality × grouping)
# ---------------------------------------------------------------------------
@register(
    "q66_stopword_ratio_by_lang",
    oracle="""
    WITH t AS (
      SELECT lang,
             CAST(LEN(list_filter(string_split_regex(LOWER(TRIM(text, ' ')), '\\s+'),
                  x -> list_contains(['the','and','of','to','is','in','that','it','was','for'], x))) AS DOUBLE) AS hits,
             CAST(LEN(list_filter(string_split_regex(LOWER(TRIM(text, ' ')), '\\s+'), t2 -> t2 <> '')) AS DOUBLE) AS toks
      FROM documents)
    SELECT lang,
           ROUND(SUM(hits) / SUM(toks), 6) AS en_stopword_ratio,
           COUNT(*) AS n_docs
    FROM t GROUP BY 1
    """,
)
def q66_stopword_ratio_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import stopword_hits, token_count

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        stopword_hits("text", "en").cast("double").alias("hits"),
        token_count("text").cast("double").alias("toks"),
    )
    return t.groupBy("lang").agg(
        F.round(F.sum("hits") / F.sum("toks"), 6).alias("en_stopword_ratio"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# multimodal: binary media column metadata (decode stubbed; metadata ops
# are real and SQL-checkable over the bytes)
# ---------------------------------------------------------------------------
@register(
    "q67_multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS media_bytes,
           md5(text) AS media_md5
    FROM documents
    """,
)
def q67_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary media column (bytes + md5).
    Oracle uses ``encode(text)`` (UTF-8 bytes), not ``CAST(text AS BLOB)``
    — the cast rejects non-ASCII strings outright (DuckDB conversion
    rule), which made q67 a both-engine reject in the unicodews sweep;
    encode matches Spark's ``F.encode(text, 'UTF-8')`` byte-for-byte on
    the full Unicode range (md5 parity pinned in test_round11_fixes)."""
    d = load_table(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    return media.select(
        "doc_id",
        F.length("content").cast("long").alias("media_bytes"),
        F.md5("content").alias("media_md5"),
    )


@register("q68_multimodal_features")
def q68_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode + feature extraction over mapInPandas (decoder stubbed
    deterministically — container has no codecs; the distributed plumbing is
    the real path). Rows-only check."""
    from .multimodal import extract_image_features

    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "UTF-8").alias("content")
    )
    return extract_image_features(media)


# ---------------------------------------------------------------------------
# clustering + IVF-style ANN over embeddings (extension; rows-only —
# iterative fitting isn't SQL-expressible)
# ---------------------------------------------------------------------------
def _q69_oracle() -> str:
    from .ml.kmeans import kmeans_lloyd_ctes

    ctes, _, asg = kmeans_lloyd_ctes("embeddings", "vec_id", "embedding", k=3, iters=10)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT {asg}.cell AS prediction, COUNT(*) AS n,"
        " COUNT(DISTINCT e.label) AS n_labels"
        f" FROM {asg} JOIN embeddings e ON e.vec_id = {asg}.vid GROUP BY 1"
    )


@register("q69_kmeans_clusters", oracle=_q69_oracle())
def q69_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans over the embedding column: cluster sizes + label purity.
    Since r09 the driver query runs the deterministic fixed-round Lloyd
    (ml/kmeans.py — lowest-id init, bit-identical assignment folds,
    round9-decimal exact means), so the DuckDB oracle replays the whole
    clustering end-to-end; Spark ML's k-means|| remains the production
    init (API parity pinned in tests/test_round9_kmeans.py via inertia
    comparison). One aggregate pass per round, k·(dim+1) driver cells —
    the scalable Lloyd shape."""
    from .ml.kmeans import kmeans_lloyd

    e = load_table(spark, sf_dir, "embeddings")
    res = kmeans_lloyd(e, "embedding", "vec_id", k=3, iters=10)
    if res is None:
        # empty-in/empty-out: no clusters on a no-data day
        return spark.createDataFrame([], "prediction int, n long, n_labels long")
    assigned, _ = res
    return assigned.groupBy(F.col("cell").alias("prediction")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("label").alias("n_labels"),
    )


def _q70_oracle() -> str:
    from .ml.kmeans import kmeans_lloyd_ctes

    ctes, cent, asg = kmeans_lloyd_ctes(
        "embeddings", "vec_id", "embedding", k=8, iters=10
    )
    ldp = "list_dot_product"
    ctes.append(
        "q AS (SELECT vid AS query_id, CAST(v AS DOUBLE[]) AS qv"
        " FROM vecs WHERE vid < 5)"
    )
    ctes.append(
        "qsim AS (SELECT q.query_id, q.qv, cc.cell,"
        f" ROUND({ldp}(q.qv, cc.c)"
        f" / (sqrt({ldp}(q.qv, q.qv)) * sqrt({ldp}(cc.c, cc.c))), 6) AS csim"
        f" FROM q CROSS JOIN {cent} cc)"
    )
    ctes.append(
        "qcells AS (SELECT query_id, qv, cell FROM ("
        "SELECT query_id, qv, cell,"
        " ROW_NUMBER() OVER (PARTITION BY query_id"
        " ORDER BY csim DESC, cell) AS crank"
        " FROM qsim WHERE csim IS NOT NULL) x WHERE crank <= 2)"
    )
    ctes.append(
        "scored AS (SELECT qc.query_id, a.vid AS vec_id,"
        f" ROUND({ldp}(CAST(a.v AS DOUBLE[]), qc.qv)"
        f" / (sqrt({ldp}(CAST(a.v AS DOUBLE[]), CAST(a.v AS DOUBLE[])))"
        f" * sqrt({ldp}(qc.qv, qc.qv))), 6) AS score"
        f" FROM qcells qc JOIN {asg} a ON a.cell = qc.cell)"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT query_id, vec_id, score, rank FROM ("
        "SELECT query_id, vec_id, score,"
        " ROW_NUMBER() OVER (PARTITION BY query_id"
        " ORDER BY score DESC, vec_id) AS rank"
        " FROM scored WHERE score IS NOT NULL) r WHERE rank <= 10"
    )


@register("q70_ann_ivf", oracle=_q70_oracle())
def q70_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: KMeans coarse quantizer → probe the nearest ``nprobe``
    cell lists per query → exact cosine re-rank inside probed cells. The
    standard big-corpus layout: the inverted lists are the partition key, so
    each query touches |corpus|·nprobe/k rows instead of the full corpus.
    Since r09 the quantizer is the deterministic fixed-round Lloyd
    (ml/kmeans.py), so the DuckDB oracle replays index build, probe
    ranking (round6 + cell tiebreak) and re-rank end-to-end; zero-norm
    rows score NULL and are excluded on both engines (the lsh_topk
    convention)."""
    from pyspark.sql import Window as W

    from .functions.similarity import cosine
    from .ml.kmeans import kmeans_lloyd

    e = load_table(spark, sf_dir, "embeddings")
    res = kmeans_lloyd(e, "embedding", "vec_id", k=8, iters=10)
    if res is None:
        # empty-in/empty-out: no index, no neighbors on a no-data day
        return spark.createDataFrame(
            [], "query_id long, vec_id long, score double, rank int"
        )
    assigned, cents = res
    assigned = assigned.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "cell"
    )
    cdf = e.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cell int, cvec array<double>"
    )
    q = assigned.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qv")
    )
    qcells = (
        q.join(F.broadcast(cdf), how="cross")
        .withColumn("csim", F.round(cosine(F.col("qv"), F.col("cvec")), 6))
        .filter(F.col("csim").isNotNull())
        .withColumn(
            "crank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cell"))
            ),
        )
        .filter(F.col("crank") <= 2)
        .select("query_id", "qv", "cell")
    )
    cand = qcells.join(assigned, "cell")
    scored = cand.select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("emb"), F.col("qv")), 6).alias("score"),
    ).filter(F.col("score").isNotNull())
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)


# ---------------------------------------------------------------------------
# Structured Streaming: sliding windows with watermark (shares q25 logic)
# ---------------------------------------------------------------------------
@register(
    "q71_streaming_sliding",
    oracle="""
    WITH contrib AS (
      SELECT date_trunc('hour', ts) AS window_start, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start, value FROM events)
    SELECT window_start, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM contrib GROUP BY 1
    """,
)
def q71_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from .sources.readers import read_stream_ns_safe

    path = os.path.join(sf_dir, "events.parquet")
    stage_dir = _scratch_dir(spark, "stream_slide")
    stage_parquet_files(path, stage_dir)
    stream = read_stream_ns_safe(spark, path, stage_dir)
    from .functions.scalar import dec_sum

    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )
    qname = "q71_stream_out"
    sq = agg.writeStream.outputMode("complete").format("memory").queryName(qname).start()
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()
    return spark.table(qname)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup dedup (north-star): exact variant is the
# SQL-checkable oracle; LSH variant is the scale path (rows-only)
# ---------------------------------------------------------------------------
@register(
    "q72_embedding_dedup_exact",
    oracle="""
    WITH s AS (
      -- deterministic modulus sample (q206's bounded-baseline doctrine):
      -- full corpus through sf0.1 (2k vectors), every k-th vector above
      -- 2048 so the sanctioned all-pairs baseline stays bounded at scale
      SELECT * FROM embeddings
      WHERE vec_id % GREATEST(1, CAST(CEIL(
              (SELECT COUNT(*) FROM embeddings) / 2048.0) AS BIGINT)) = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos_sim
    FROM s a JOIN s b ON a.vec_id < b.vec_id
    WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
          / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.35
    """,
)
def q72_embedding_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine dedup — the sanctioned ORACLE BASELINE for the
    LSH scale path (q73). The corpus is capped by a deterministic modulus
    sample above 2048 vectors: full depth at every driver SF (≤ 2k vectors
    through sf0.1), every k-th vector at the sf1 smoke (20k → 2k pairs
    budget ~2e6 instead of ~2e8), same rule in the SQL twin. The count()
    is a sanctioned 1-row scalar collect (it sizes the sample)."""
    from .functions.dedup import embedding_dedup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    k = max(1, -(-e.count() // 2048))
    if k > 1:
        e = e.filter(F.col("vec_id") % k == 0)
    return embedding_dedup_pairs(e, "embedding", "vec_id", threshold=0.35, exact=True)


@register(
    "q73_embedding_dedup_lsh",
    # Oracle (promoted r09): the SRP hyperplanes are seeded constants, so
    # DuckDB replays the exact sign-bit band buckets, the any-band
    # candidate set, and the round6 cosine verify
    # (functions/dedup.py::embedding_dedup_lsh_oracle_sql). bits_per_band=2
    # is what the adaptive rule resolves to for every corpus ≤ 1024
    # vectors — all driver SFs and sweep fixtures (see the function
    # docstring); at larger fixtures the band width widens by design and
    # the replay regime ends.
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.functions.dedup", fromlist=["x"]
    ).embedding_dedup_lsh_oracle_sql(
        table="embeddings",
        keep_cols="vec_id, label",
        threshold=0.35,
        bands=8,
        bits_per_band=2,
        dim=64,
    ),
)
def q73_embedding_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.dedup import embedding_dedup

    e = load_table(spark, sf_dir, "embeddings")
    # target_bucket engages corpus-adaptive band width once n exceeds
    # target_bucket: at sf0.001/sf0.01 (n ≤ 256) the signatures are
    # identical to the fixed 2-bit design, at sf0.1 (n=2000) bands widen
    # to ⌈log2(2000/256)⌉ = 3 bits, and at the sf1 fixture (n=20000,
    # 5-bit bands) it is the difference between ~100M candidates and a
    # bounded set. The driver's correctness gate runs at sf0.01, where
    # the output is bit-identical to the pre-adaptive code.
    kept = embedding_dedup(
        e, "embedding", "vec_id", threshold=0.35, num_bits=16, bands=8,
        target_bucket=256,
    )
    return kept.select("vec_id", "label")


# ---------------------------------------------------------------------------
# unpivot / melt (wide→long; the inverse of q47)
# ---------------------------------------------------------------------------
@register(
    "q74_unpivot",
    oracle="""
    SELECT p_partkey, metric, val FROM (
      SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
      UNION ALL
      SELECT p_partkey, 'retail', p_retailprice FROM part)
    """,
)
def q74_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.unpivot(
        ["p_partkey"],
        [F.col("p_size").cast("double").alias("size"), F.col("p_retailprice").alias("retail")],
        "metric",
        "val",
    )


# ---------------------------------------------------------------------------
# percent_rank / ntile / cume_dist (remaining ranking surface)
# ---------------------------------------------------------------------------
@register(
    "q75_rank_family",
    oracle="""
    SELECT c_custkey,
           PERCENT_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS prk,
           NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS quartile,
           CUME_DIST() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS cd
    FROM customer
    """,
)
def q75_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
    # no rounding: prk/cd are integer ratios -- IEEE division of identical
    # ints is bit-identical in both engines, while ROUND at an exact decimal
    # midpoint (e.g. 0.5203125) splits HALF_UP (Java) vs half-even (C)
    return c.select(
        "c_custkey",
        F.percent_rank().over(w).alias("prk"),
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cd"),
    )


# ---------------------------------------------------------------------------
# ordered string aggregation (listagg) + sorted array_agg
# ---------------------------------------------------------------------------
@register(
    "q76_string_agg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM nation GROUP BY 1
    """,
)
def q76_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# MERGE/upsert emulation (Delta-style WHEN MATCHED UPDATE / NOT MATCHED
# INSERT as anti-join + union) and transitive dedup clustering
# ---------------------------------------------------------------------------
@register(
    "q77_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0),
    merged AS (
      SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment
      FROM customer c WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
      UNION ALL
      SELECT * FROM updates)
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS sum_bal
    FROM merged GROUP BY 1
    """,
)
def q77_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.scalar import dec_sum
    from .operators.merge import merge_upsert

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    updates = c.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1000.0
    )
    merged = merge_upsert(c, updates, "c_custkey")
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("c_acctbal").alias("sum_bal")
    )


@register(
    "q78_transitive_dedup",
    # Oracle (promoted r09): md5_affine pairs (the q38 replay) + the q280
    # recursive-CTE precedent for connected components on a bounded pair
    # graph — the old "iterative CC has no SQL twin" rationale retired.
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.functions.dedup", fromlist=["x"]
    ).transitive_dedup_oracle_sql(
        "documents", "doc_id", "text", num_hashes=32, bands=8, threshold=0.5
    ),
)
def q78_transitive_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering over MinHash near-dup pairs →
    transitive duplicate groups. Runs the md5_affine family since r09 so
    the DuckDB oracle replays pairs AND components end-to-end
    (functions/dedup.py::transitive_dedup_oracle_sql); the engine side
    stays the pointer-jumping label propagation — the scalable path the
    recursive-CTE twin only verifies."""
    from .functions.dedup import connected_components, minhash_dedup_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(
        d, "text", "doc_id", num_hashes=32, bands=8, threshold=0.5,
        hash_family="md5_affine",
    )
    comp = connected_components(pairs)
    return comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))


# ---------------------------------------------------------------------------
# ML evaluation parity (reference R_groupe4.R:994-996, 1008-1011):
# deterministic train/test split + held-out evaluation + GLM summary tables
# ---------------------------------------------------------------------------
@register(
    "q79_train_test_r2",
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.ml.evaluation", fromlist=["x"]
    ).ols_eval_oracle_sql(
        "lineitem", "l_extendedprice", "l_quantity",
        split_sql="l_orderkey * 7 + l_linenumber", k=5, test_bucket=0,
    ),
)
def q79_train_test_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modulo-split train/test, closed-form OLS on train, R²/RMSE on test —
    every number derived from exact decimal moment sums (oracle-exact; no
    order-dependent double summation)."""
    from .ml.evaluation import train_test_ols_eval

    li = load_table(spark, sf_dir, "lineitem")
    return train_test_ols_eval(
        li, "l_extendedprice", "l_quantity",
        split_key=F.col("l_orderkey") * 7 + F.col("l_linenumber"),
        k=5, test_bucket=0,
    )


@register(
    "q80_logistic_eval",
    # Oracle (promoted r09): fixed-round IRLS on the Knuth-hash train
    # split (the q89-family replayable hash — xxhash64 has no DuckDB
    # twin), quantized-model scoring on the test split, evaluator metrics
    # from exact counts (ml/irls.py::logistic_eval_oracle_sql).
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.ml.irls", fromlist=["x"]
    ).logistic_eval_oracle_sql(
        "orders",
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END",
        ["o_totalprice"],
        [
            ("o_orderpriority", "2-HIGH"),
            ("o_orderpriority", "3-MEDIUM"),
            ("o_orderpriority", "4-NOT SPECIFIED"),
            ("o_orderpriority", "5-LOW"),
        ],
        train_where=__import__(
            "isen_projet_bigdata_a3s6_spark.ml.evaluation", fromlist=["x"]
        ).knuth_split_sql("o_orderkey", 0.2)[0],
        test_where=__import__(
            "isen_projet_bigdata_a3s6_spark.ml.evaluation", fromlist=["x"]
        ).knuth_split_sql("o_orderkey", 0.2)[1],
    ),
)
def q80_logistic_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-split train/test logistic evaluation: accuracy/precision/
    recall/F1 on held-out data. Since r09 the split is the replayable
    Knuth-decimal hash (ml.evaluation.knuth_split) and the fit is the
    deterministic fixed-round IRLS (ml/irls.py), so the whole evaluation
    hashes against DuckDB; metric math stays pinned to Spark ML
    evaluators in tests (classification_metrics is the shared bundle)."""
    from .functions.scalar import binary_label
    from .ml.evaluation import knuth_split
    from .ml.irls import logistic_eval_closed

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isNotNull()
    )
    o = o.withColumn("is_closed", binary_label("o_orderstatus", ["F"]).cast("double"))
    train, test = knuth_split(o, "o_orderkey", test_frac=0.2)
    return logistic_eval_closed(
        train, test, "is_closed", ["o_totalprice"], _Q44_DUMMIES
    )


@register(
    "q81_glm_summary",
    # Oracle (promoted r09): the IRLS chain + one Hessian pass at the
    # quantized coefficients for the observed-information std errors
    # (ml/irls.py::logistic_summary_oracle_sql).
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.ml.irls", fromlist=["x"]
    ).logistic_summary_oracle_sql(
        "orders",
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END",
        ["o_totalprice"],
        [
            ("o_orderpriority", "2-HIGH"),
            ("o_orderpriority", "3-MEDIUM"),
            ("o_orderpriority", "4-NOT SPECIFIED"),
            ("o_orderpriority", "5-LOW"),
        ],
    ),
)
def q81_glm_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binomial GLM coefficient table — the reference's summary(glm)
    output (R_groupe4.R:1002-1011 family). Since r09 the driver query runs
    the deterministic fixed-round IRLS (ml/irls.py::
    logistic_summary_closed): coefficient column = the per-feature
    QUANTIZED estimate (a blanket round6 would erase the ~1e-8 totalprice
    slope), z = βq / sqrt(diag (X'WX)⁻¹) at the quantized fit, round2.
    R-style alphabetical dummy coding as q43/q44."""
    from .functions.scalar import binary_label
    from .ml.irls import logistic_summary_closed

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isNotNull()
    )
    o = o.withColumn("is_closed", binary_label("o_orderstatus", ["F"]).cast("double"))
    return logistic_summary_closed(
        o, "is_closed", ["o_totalprice"], _Q44_DUMMIES
    )


# ---------------------------------------------------------------------------
# Structured Streaming: time-bounded stream-stream join (the one streaming
# shape round 1 lacked) — batch self-join twin is the oracle
# ---------------------------------------------------------------------------
@register(
    "q82_stream_stream_join",
    oracle="""
    SELECT a.event_id AS l_event_id, b.event_id AS r_event_id,
           a.user_id AS l_user_id, a.ts AS l_ts, b.ts AS r_ts,
           b.value AS r_value
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    """,
)
def q82_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.joins import stream_stream_time_bounded_join

    return stream_stream_time_bounded_join(
        spark, f"{sf_dir}/events.parquet", query_name="q82_stream_join_out"
    )


# ---------------------------------------------------------------------------
# Temporal joins (operators/temporal.py): AS-OF, interval/range, rolling
# time-window — time-series shapes Spark lacks natively, re-expressed as
# single-shuffle compositions. DuckDB's native ASOF JOIN / range join / RANGE
# frame are the oracles.
# ---------------------------------------------------------------------------
@register(
    "q83_asof_join",
    oracle="""
    WITH probe AS (
      SELECT event_id, user_id, ts
      FROM events WHERE event_type IN ('click', 'view')
    ), build AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'error'
      ) WHERE rn = 1
    )
    SELECT p.event_id, p.user_id, p.ts,
           b.ts AS err_ts, b.value AS err_value
    FROM probe p ASOF LEFT JOIN build b
      ON p.user_id = b.user_id AND p.ts >= b.ts
    """,
)
def q83_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click/view event annotated with the user's most recent error
    at-or-before it (union+window as-of — no join in the plan)."""
    from .operators.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    probe = e.filter(F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", "ts"
    )
    build = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("value").alias("err_value"), "event_id"
    )
    return asof_join(
        probe,
        build,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload_cols=["err_value"],
        right_tiebreak="event_id",
        matched_ts_col="err_ts",
    ).select("event_id", "user_id", "ts", "err_ts", "err_value")


@register(
    "q84_interval_join",
    oracle="""
    WITH incidents AS (
      SELECT event_id AS incident_id, ts AS start_ts
      FROM events WHERE event_type = 'error' AND value > 200.0
    )
    SELECT i.incident_id, i.start_ts, COUNT(e.event_id) AS n_events
    FROM incidents i LEFT JOIN events e
      ON e.ts >= i.start_ts AND e.ts < i.start_ts + INTERVAL 2 HOUR
    GROUP BY 1, 2
    """,
)
def q84_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events counted inside each high-severity incident's 2-hour window —
    keyless range join via time bucketing (pure equi-join on the bucket,
    every pair emitted exactly once)."""
    from .operators.temporal import interval_join

    e = load_table(spark, sf_dir, "events")
    incidents = (
        e.filter((F.col("event_type") == "error") & (F.col("value") > 200.0))
        .select(
            F.col("event_id").alias("incident_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
        )
    )
    pairs = interval_join(
        e.select(F.col("event_id").alias("p_event_id"), F.col("ts").alias("p_ts")),
        incidents,
        point_ts="p_ts",
        start_col="start_ts",
        end_col="end_ts",
        bucket_seconds=7200,
    )
    counts = pairs.groupBy("incident_id").agg(F.count("p_event_id").alias("n_events"))
    # LEFT semantics: incidents whose window is empty still appear (n=0)
    return (
        incidents.select("incident_id", "start_ts")
        .join(counts, "incident_id", "left")
        .select(
            "incident_id",
            "start_ts",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        )
    )


@register(
    "q85_rolling_time_avg",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)))
                OVER w AS VARCHAR) AS DOUBLE)
             / COUNT(value) OVER w AS avg_10m
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW)
    """,
)
def q85_rolling_time_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True time-based rolling mean (RANGE frame over event time, not a
    row-count frame): per user, mean value over the trailing 10 minutes.
    Decimal sum / count division keeps the float path bit-deterministic."""
    from .functions.scalar import dec
    from .operators.temporal import rolling_time_agg

    e = load_table(spark, sf_dir, "events")
    out = rolling_time_agg(
        e,
        partition_by=["user_id"],
        ts_col="ts",
        aggs={
            "__sum": F.sum(dec("value", 18, 6)),
            "__cnt": F.count("value"),
        },
        window_seconds=600,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("__sum").cast("double") / F.col("__cnt")).alias("avg_10m"),
    )


# ---------------------------------------------------------------------------
# Corpus statistics for training-data curation (operators/textstats.py):
# repetition quality, TF-IDF, benchmark contamination — plus deterministic
# stratified sampling (operators/sampling.py). All explode→groupBy builtin
# expressions; the oracles rebuild the same token/n-gram streams in SQL.
# ---------------------------------------------------------------------------
@register(
    "q86_repetition_stats",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(trim(text, ' ')), ' '), w -> w <> '')) AS word
      FROM documents
    ), per_word AS (
      SELECT doc_id, word, COUNT(*) AS n FROM words GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_words,
           COUNT(*) AS n_distinct,
           ROUND(1.0 - COUNT(*) / CAST(SUM(n) AS DOUBLE), 6) AS dup_word_frac,
           ROUND(MAX(n) / CAST(SUM(n) AS DOUBLE), 6) AS top_word_frac
    FROM per_word GROUP BY doc_id
    """,
)
def q86_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals (dup-word fraction,
    top-word share) — the boilerplate/degenerate-text filter family."""
    from .operators.textstats import repetition_stats

    d = load_table(spark, sf_dir, "documents")
    return repetition_stats(d, "doc_id", "text")


@register(
    "q87_tfidf",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(trim(text, ' ')), ' '), w -> w <> '')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY 1, 2
    ), dfreq AS (
      SELECT word, COUNT(*) AS df FROM tf GROUP BY 1
    ), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.word, tf.tf, dfreq.df,
           ROUND(tf.tf * (LN((1.0 + n.n_docs) / (1.0 + dfreq.df)) + 1.0), 6) AS tfidf
    FROM tf, n JOIN dfreq ON tf.word = dfreq.word
    """,
)
def q87_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF weights per (doc, word) — sklearn smooth_idf
    convention; the document-frequency side reduces to |vocab| rows and
    broadcasts."""
    from .operators.textstats import tfidf

    d = load_table(spark, sf_dir, "documents")
    return tfidf(d, "doc_id", "text")


@register(
    "q88_ngram_contamination",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(trim(text, ' ')), ' '), w -> w <> '') AS words
      FROM documents
    ), grams AS (
      SELECT doc_id, array_to_string(words[i:i+4], ' ') AS gram
      FROM toks, UNNEST(range(1, len(words) - 3)) t(i)
    ), probe AS (
      SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id < 20
    ), corpus AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id >= 20
    )
    SELECT p.doc_id,
           COUNT(p.gram) AS n_grams,
           COUNT(c.gram) AS n_matched,
           COUNT(c.gram) / CAST(COUNT(p.gram) AS DOUBLE) AS contamination_frac
    FROM probe p LEFT JOIN corpus c ON p.gram = c.gram
    GROUP BY 1
    """,
)
def q88_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination measure: share of each probe document's
    distinct word 5-grams that occur anywhere in the rest of the corpus
    (train/eval leakage decontamination shape)."""
    from .operators.textstats import ngram_contamination

    d = load_table(spark, sf_dir, "documents")
    return ngram_contamination(
        d.filter(F.col("doc_id") < 20),
        d.filter(F.col("doc_id") >= 20),
        "doc_id",
        "text",
        n=5,
    )


@register(
    "q89_stratified_sample",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE ((CAST(event_id AS HUGEINT) * 2654435761) % 10000 + 10000) % 10000 <
          CASE event_type
            WHEN 'purchase' THEN 10000
            WHEN 'click' THEN 5000
            WHEN 'error' THEN 2500
            ELSE 1000
          END
    """,
)
def q89_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling (keep all purchases, half the
    clicks, a quarter of errors, 10% of the rest) — content-derived
    membership, stable under retry/repartition; the multiplicative-hash
    variant so the oracle reproduces the exact sample."""
    from .operators.sampling import stratified_mod_sample

    e = load_table(spark, sf_dir, "events")
    return stratified_mod_sample(
        e.select("event_id", "event_type", "value"),
        key_col="event_id",
        stratum_col="event_type",
        fractions={"purchase": 1.0, "click": 0.5, "error": 0.25},
        default_frac=0.1,
    )


# ---------------------------------------------------------------------------
# S1/S2 widening: JSON and ORC round trips, and the scan-optimized
# partitioned+clustered parquet layout. Round-trip queries aggregate what
# they read BACK, so the oracle (running on the original parquet) certifies
# the write→read cycle is lossless.
# ---------------------------------------------------------------------------
@register(
    "q90_json_roundtrip",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_totalprice > 200000
    GROUP BY 1
    """,
)
def q90_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    from .functions.scalar import dec_sum
    from .sources.writers import write_json

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    out_dir = _scratch_dir(spark, "json_sink") + "/orders_json"
    write_json(o.select("o_orderstatus", "o_totalprice"), out_dir)
    back = spark.read.schema("o_orderstatus string, o_totalprice double").json(out_dir)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("o_totalprice").alias("sum_price")
    )


@register(
    "q91_orc_roundtrip",
    oracle="""
    SELECT l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
    FROM lineitem WHERE l_quantity >= 30
    GROUP BY 1
    """,
)
def q91_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    from .functions.scalar import dec_sum
    from .sources.writers import write_orc

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 30)
    out_dir = _scratch_dir(spark, "orc_sink") + "/lineitem_orc"
    write_orc(li.select("l_linestatus", "l_extendedprice"), out_dir)
    back = spark.read.orc(out_dir)
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("l_extendedprice").alias("sum_price")
    )


@register(
    "q92_partitioned_layout",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) >= DATE '2024-01-08' AND CAST(ts AS DATE) < DATE '2024-01-15'
    GROUP BY 1
    """,
)
def q92_partitioned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events rewritten in the scan-optimized layout (hive partitions on
    event_date, files range-clustered+sorted on ts), then read back with a
    date filter — the filter prunes to 7 of ~30 partition directories
    before any file is opened (PartitionFilters in the captured plan)."""

    from .sources.writers import write_clustered

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    out_dir = _scratch_dir(spark, "layout") + "/events_by_day"
    written = e.select("event_id", "ts", "user_id", "value", "event_date")
    write_clustered(
        written,
        out_dir,
        partition_by=["event_date"],
        range_cols=["ts"],
    )
    # explicit schema: an all-empty write leaves nothing to infer from
    # (see q242) — empty-partition days must read back as empty, not crash
    back = spark.read.schema(written.schema).parquet(out_dir).filter(
        (F.col("event_date") >= F.lit("2024-01-08").cast("date"))
        & (F.col("event_date") < F.lit("2024-01-15").cast("date"))
    )
    from .functions.scalar import dec
    return back.groupBy("event_date").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value", 18, 6)).cast("double").alias("sum_value"),
    ).select(
        # date → timestamp: the comparator's dtype normalization is
        # timestamp-based (DuckDB DATE surfaces as Timestamp via pandas)
        F.col("event_date").cast("timestamp").alias("event_date"),
        "n",
        "sum_value",
    )


# ---------------------------------------------------------------------------
# Skew-safe aggregation shapes: two-stage exact distinct and salted top-k —
# same results as the plain forms (the oracles ARE the plain forms), but
# with shuffle shapes that survive a 100 TB hot key.
# ---------------------------------------------------------------------------
@register(
    "q93_distinct_two_stage",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
)
def q93_distinct_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) via dedup-then-count: the shuffle key carries
    the distinct value, so a hot group spreads across the cluster."""
    from .operators.aggregations import count_distinct_two_stage

    e = load_table(spark, sf_dir, "events")
    return count_distinct_two_stage(e, ["event_type"], "user_id", name="n_users")


@register(
    "q94_topk_salted",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn <= 5
    """,
)
def q94_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 lineitems per return flag through the salted two-stage path —
    a hot flag ranks inside 32 salt buckets first, then only 160 candidates
    reach the per-group final sort."""
    from .operators.aggregations import top_k_per_group_salted

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return top_k_per_group_salted(
        li,
        group_by=["l_returnflag"],
        order_cols=[
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        k=5,
        salt_from=["l_orderkey", "l_linenumber"],
    )


# ---------------------------------------------------------------------------
# Structured Streaming production postures: append-mode file sink (exactly-
# once, nothing driver-resident) and left-outer stream-stream join (state
# eviction emits the null-padded side). Both oracles encode the watermark
# cutoff — the DEFINED append-mode semantics, not an approximation.
# ---------------------------------------------------------------------------
@register(
    "q95_streaming_file_sink",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
)
def q95_streaming_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode tumbling counts into a checkpointed parquet sink — each
    window emitted exactly once when the watermark passes its end; the
    oracle's HAVING reproduces that cutoff. The production twin of q46's
    complete-mode memory-sink demo."""
    import os

    from .streaming.windows import streaming_tumbling_to_file_sink

    return streaming_tumbling_to_file_sink(
        spark, os.path.join(sf_dir, "events.parquet"),
        query_name="q95_stream_file_out",
    )


@register(
    "q96_stream_left_outer",
    oracle="""
    WITH l AS (
      SELECT event_id AS l_event_id, user_id AS l_user_id, ts AS l_ts
      FROM events WHERE event_type = 'click'
    ), r AS (
      SELECT event_id AS r_event_id, user_id AS r_user_id, ts AS r_ts,
             value AS r_value
      FROM events WHERE event_type = 'purchase'
    ), wm AS (
      SELECT LEAST((SELECT max(l_ts) FROM l), (SELECT max(r_ts) FROM r))
             - INTERVAL 2 HOUR AS w
    )
    SELECT l.l_event_id, l.l_user_id, l.l_ts, r.r_event_id, r.r_ts, r.r_value
    FROM l JOIN r ON l_user_id = r_user_id
      AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 1 HOUR
    UNION ALL
    SELECT l.l_event_id, l.l_user_id, l.l_ts,
           CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE)
    FROM l
    WHERE NOT EXISTS (
        SELECT 1 FROM r WHERE r.r_user_id = l.l_user_id
          AND r.r_ts >= l.l_ts AND r.r_ts <= l.l_ts + INTERVAL 1 HOUR)
      AND l.l_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
    """,
)
def q96_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer stream-stream join: matches emit immediately; unmatched
    clicks emit null-padded when the global watermark proves no purchase can
    still arrive for them (left-state eviction point l_ts + bound)."""
    import os

    from .streaming.joins import stream_stream_left_outer_join

    return stream_stream_left_outer_join(
        spark, os.path.join(sf_dir, "events.parquet"),
        query_name="q96_stream_louter_out",
    )


# ---------------------------------------------------------------------------
# Classic product-analytics shapes: equal-frequency deciles, fixed-width
# histogram, cohort retention, sequence funnel — compositions of existing
# operators, each oracle-paired.
# ---------------------------------------------------------------------------
@register(
    "q97_ntile_deciles",
    oracle="""
    SELECT bucket, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
    FROM (
      SELECT o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    ) GROUP BY 1
    """,
)
def q97_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile stats (NTILE with a unique tiebreak so bucket
    assignment is total-order deterministic)."""
    from .functions.scalar import dec_sum
    from .operators.windows import with_ntile

    o = load_table(spark, sf_dir, "orders")
    binned = with_ntile(
        o, 10, order_by=[F.col("o_totalprice").asc(), F.col("o_orderkey").asc()]
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("o_totalprice").alias("sum_price")
    )


@register(
    "q98_histogram",
    oracle="""
    SELECT CAST(FLOOR((o_totalprice - 0.0) / 25000.0) AS BIGINT) AS bucket,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def q98_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals — pure map bucket + two-phase
    count, the histogram shape that needs no quantile pass."""
    from .operators.aggregations import histogram_fixed

    o = load_table(spark, sf_dir, "orders")
    return histogram_fixed(o, "o_totalprice", lo=0.0, width=25000.0)


@register(
    "q99_cohort_retention",
    oracle="""
    WITH cohorts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY 1
    )
    SELECT c.cohort_week, date_trunc('week', e.ts) AS activity_week,
           COUNT(DISTINCT e.user_id) AS active_users
    FROM events e JOIN cohorts c ON e.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def q99_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention grid: users bucketed by first-seen week, distinct
    active users per (cohort week, activity week). The cohort side reduces
    to |users| rows — unhinted: Catalyst broadcasts it while it fits and
    falls back to a shuffle join on user_id at scale (per-user frames grow
    with the data, a forced broadcast would OOM at 100 TB)."""
    e = load_table(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        e.join(cohorts, "user_id")
        .groupBy("cohort_week", F.date_trunc("week", F.col("ts")).alias("activity_week"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "q100_funnel",
    oracle="""
    WITH first_click AS (
      SELECT user_id, min(ts) AS click_ts
      FROM events WHERE event_type = 'click' GROUP BY 1
    ), converted AS (
      SELECT DISTINCT c.user_id
      FROM first_click c JOIN events p
        ON p.user_id = c.user_id AND p.event_type = 'purchase'
       AND p.ts >= c.click_ts AND p.ts <= c.click_ts + INTERVAL 7 DAY
    )
    SELECT (SELECT COUNT(*) FROM first_click) AS n_clicked,
           (SELECT COUNT(*) FROM converted) AS n_converted,
           (SELECT COUNT(*) FROM converted) /
             CAST((SELECT COUNT(*) FROM first_click) AS DOUBLE) AS conversion_rate
    """,
)
def q100_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step sequence funnel: users whose first click is followed by a
    purchase within 7 days. The first-click side reduces to |users| rows;
    conversion check is a broadcast semi join — integer-ratio rate is
    IEEE-exact."""
    e = load_table(spark, sf_dir, "events")
    first_click = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    converted = (
        first_click.join(purchases, "user_id")
        .filter(
            (F.col("p_ts") >= F.col("click_ts"))
            & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 7 DAYS"))
        )
        .select("user_id")
        .distinct()
    )
    # two single-row aggregates cross-joined — fully declarative, nothing
    # collected on the driver
    a = first_click.agg(F.count(F.lit(1)).alias("n_clicked"))
    b = converted.agg(F.count(F.lit(1)).alias("n_converted"))
    return a.crossJoin(b).select(
        "n_clicked",
        "n_converted",
        # try_divide: zero clickers (empty feed) -> NULL rate, not a crash
        F.try_divide(F.col("n_converted"), F.col("n_clicked")).alias(
            "conversion_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Deeper TPC-H shape coverage: Q7 (two-nation volume), Q14 (conditional
# revenue ratio), Q20 (nested IN + correlated HAVING)
# ---------------------------------------------------------------------------
@register(
    "q101_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS yr,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def q101_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume by year between two nations —
    disjunctive nation-pair predicate, decimal revenue sums.

    Join order: the nation-pair predicate only names 2 of 25 nations, so
    the 2-row nation slices broadcast onto the DIMENSION legs first —
    supplier and customer each shrink ~12.5x before they ever meet a fact
    table (Catalyst won't reorder joins without CBO stats, so the
    selectivity has to be routed by hand). The cross-nation disjunction
    (N1→N2 or N2→N1, never N1→N1) still evaluates post-join — it mixes
    columns from both legs — but on ~1/150 of the naive intermediate."""
    from .functions.scalar import dec

    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pair = n.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    n1 = pair.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = pair.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    s2 = s.join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
    c2 = c.join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
    joined = (
        li.join(s2, li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c2, o.o_custkey == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("yr")
    ).agg(
        F.sum(dec("l_extendedprice", 18, 4) * dec(F.lit(1) - F.col("l_discount"), 18, 4))
        .cast("double")
        .alias("revenue")
    )


@register(
    "q102_promo_ratio",
    oracle="""
    SELECT EXTRACT(year FROM l_shipdate) AS yr,
           100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(1 - l_discount AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(1 - l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
)
def q102_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotional revenue share per year — conditional
    decimal sum over an unhinted part join (broadcast locally, SMJ when
    part outgrows the threshold), exact ratio of two hardened decimal
    sums."""
    from .functions.scalar import dec

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    vol = dec("l_extendedprice", 18, 4) * dec(F.lit(1) - F.col("l_discount"), 18, 4)
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.year("l_shipdate").cast("long").alias("yr"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(vol).cast("double")
            ).alias("promo_pct")
        )
    )


@register(
    "q103_nested_supplier",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_nationkey = 3 AND s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
      GROUP BY l_suppkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(28,4))) > 500
    )
    """,
)
def q103_nested_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: doubly-nested IN subqueries with a correlated
    HAVING — Catalyst rewrites both into semi joins (no subquery execution
    per row)."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("__supplier_v")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("__lineitem_v")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("__part_v")
    return spark.sql("""
        SELECT s_suppkey, s_name FROM __supplier_v
        WHERE s_nationkey = 3 AND s_suppkey IN (
          SELECT l_suppkey FROM __lineitem_v
          WHERE l_partkey IN (SELECT p_partkey FROM __part_v WHERE p_type = 'PROMO')
          GROUP BY l_suppkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(28,4))) > 500
        )
    """)


# ---------------------------------------------------------------------------
# Feed rate limiting and time-series interpolation — ingestion-pipeline
# operators
# ---------------------------------------------------------------------------
@register(
    "q104_rate_limit",
    oracle="""
    SELECT user_id, hour, event_id, ts FROM (
      SELECT user_id, date_trunc('hour', ts) AS hour, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
)
def q104_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, hour) feed throttle: admit the first 3 events in arrival
    order (WindowGroupLimit)."""
    from .operators.windows import rate_limit

    e = load_table(spark, sf_dir, "events")
    return rate_limit(e, limit=3)


@register(
    "q105_interpolate",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, ts, epoch_us(ts) AS tsu,
             CASE WHEN event_id % 7 IN (0, 1) THEN NULL ELSE value END AS v
      FROM events
    ), ctx AS (
      SELECT *,
        LAST_VALUE(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS) OVER w_before AS prev_v,
        LAST_VALUE(CASE WHEN v IS NOT NULL THEN tsu END IGNORE NULLS) OVER w_before AS prev_t,
        FIRST_VALUE(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS) OVER w_after AS next_v,
        FIRST_VALUE(CASE WHEN v IS NOT NULL THEN tsu END IGNORE NULLS) OVER w_after AS next_t
      FROM base
      WINDOW
        w_before AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        w_after AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id, ts,
           CASE WHEN v IS NOT NULL THEN v
                WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                  THEN prev_v + (next_v - prev_v) * ((tsu - prev_t) / (next_t - prev_t))
                WHEN prev_v IS NOT NULL THEN prev_v
                ELSE next_v END AS v_filled
    FROM ctx
    """,
)
def q105_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted linear interpolation of synthesized NULL gaps per user
    (bfill/ffill at the edges) — micros-exact blend, bit-identical across
    engines."""
    from .operators.cleaning import interpolate_linear

    e = load_table(spark, sf_dir, "events").withColumn(
        "v",
        F.when((F.col("event_id") % 7).isin(0, 1), F.lit(None).cast("double")).otherwise(
            F.col("value")
        ),
    )
    out = interpolate_linear(
        e, "v", "ts", partition_by=["user_id"], out_col="v_filled", tiebreak=["event_id"]
    )
    return out.select("event_id", "user_id", "ts", "v_filled")


# ---------------------------------------------------------------------------
# Arrow-vectorized exact ANN (same oracle as q41 — different physical path),
# data-quality report, z-score standardization
# ---------------------------------------------------------------------------
@register(
    "q106_ann_arrow",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6) AS score
      FROM embeddings e CROSS JOIN q),
    ranked AS (
      SELECT query_id, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
      FROM scored WHERE score IS NOT NULL)
    SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 10
    """,
)
def q106_ann_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy brute-force cosine top-k — q41's exact semantics (same
    oracle) through mapInPandas batch scoring: per-batch top-k pruning keeps
    post-UDF volume at k·|queries|·batches; sequential index-sweep
    accumulation keeps scores IEEE-identical to the JVM fold."""
    from .functions.similarity import cosine_topk_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_arrow(emb, q, k=10, query_id="query_id")


@register(
    "q107_quality_report",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) AS orderkey_unique,
             COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END) AS totalprice_not_null,
             COUNT(CASE WHEN o_totalprice < 0 THEN 1 END) AS totalprice_non_negative,
             COUNT(CASE WHEN o_orderstatus IS NOT NULL
                         AND o_orderstatus NOT IN ('F','O','P') THEN 1 END) AS status_in_domain
      FROM orders
    )
    SELECT 'orderkey_unique' AS check, CAST(orderkey_unique AS BIGINT) AS violations,
           CASE WHEN orderkey_unique = 0 THEN 1 ELSE 0 END AS passed FROM m
    UNION ALL
    SELECT 'totalprice_not_null', CAST(totalprice_not_null AS BIGINT),
           CASE WHEN totalprice_not_null = 0 THEN 1 ELSE 0 END FROM m
    UNION ALL
    SELECT 'totalprice_non_negative', CAST(totalprice_non_negative AS BIGINT),
           CASE WHEN totalprice_non_negative = 0 THEN 1 ELSE 0 END FROM m
    UNION ALL
    SELECT 'status_in_domain', CAST(status_in_domain AS BIGINT),
           CASE WHEN status_in_domain = 0 THEN 1 ELSE 0 END FROM m
    """,
)
def q107_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint report — uniqueness, null, range, and domain
    checks on orders, ALL computed in one aggregation pass (one scan at any
    scale)."""
    from .operators.profiling import (
        quality_report,
        violations_below,
        violations_duplicate,
        violations_not_in,
        violations_null,
    )

    o = load_table(spark, sf_dir, "orders")
    return quality_report(
        o,
        {
            "orderkey_unique": violations_duplicate("o_orderkey"),
            "totalprice_not_null": violations_null("o_totalprice"),
            "totalprice_non_negative": violations_below("o_totalprice", 0),
            "status_in_domain": violations_not_in("o_orderstatus", ["F", "O", "P"]),
        },
    )


@register(
    "q108_standardize",
    oracle="""
    WITH s AS (
      SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))
                          * CAST(o_totalprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sxx,
             COUNT(*) AS n
      FROM orders
    )
    SELECT o_orderkey,
           ROUND((o_totalprice - sx / n) /
                 SQRT(sxx / n - (sx / n) * (sx / n)), 6) + 0e0 AS z
    FROM orders, s
    """,
)
def q108_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score standardization (population std) — the feature-scaling map:
    moments from one decimal aggregation pass, broadcast back onto the
    scan; the z expression is evaluated in one fixed order so round6 output
    is bit-identical across engines."""
    from .functions.scalar import dec

    o = load_table(spark, sf_dir, "orders")
    s = o.agg(
        F.sum(dec("o_totalprice", 18, 4)).cast("double").alias("sx"),
        F.sum(dec("o_totalprice", 18, 4) * dec("o_totalprice", 18, 4))
        .cast("double")
        .alias("sxx"),
        F.count(F.lit(1)).alias("n"),
    )
    mu = F.col("sx") / F.col("n")
    sigma = F.sqrt(F.col("sxx") / F.col("n") - mu * mu)
    return o.crossJoin(F.broadcast(s)).select(
        "o_orderkey",
        round_disp((F.col("o_totalprice") - mu) / sigma, 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# Deeper TPC-H shape coverage, part 2: Q2 (correlated min over a join), Q18
# (HAVING-filtered semi join), Q21 (double-correlated EXISTS / NOT EXISTS),
# Q22 (scalar-subquery threshold + anti join)
# ---------------------------------------------------------------------------
@register(
    "q109_min_cost_supplier",
    oracle="""
    SELECT p_partkey, s_name, ROUND(l_extendedprice / l_quantity, 6) AS unit_price
    FROM part, lineitem, supplier
    WHERE l_partkey = p_partkey AND s_suppkey = l_suppkey AND p_size < 10
      AND l_extendedprice / l_quantity =
          (SELECT MIN(l2.l_extendedprice / l2.l_quantity) FROM lineitem l2
           WHERE l2.l_partkey = p_partkey)
    """,
)
def q109_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: lineitem is the part↔supplier link — this
    schema has no partsupp): for each small part, the supplier(s) achieving
    the minimum unit price, via correlated-min-equality. Spark plan: the
    correlated scalar subquery is a window MIN over l_partkey — ONE shuffle
    on the natural join key, no decorrelation re-join; the identical IEEE
    division on both engines makes the equality exact (float-parity
    convention #2)."""
    from pyspark.sql import Window

    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    # the correlated min only matters for parts that survive the p_size
    # filter — broadcast-semi-prune lineitem BEFORE the window shuffle
    # (the per-part min over the pruned set is identical)
    li = li.join(
        p.select("p_partkey"),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    unit = (F.col("l_extendedprice") / F.col("l_quantity"))
    w = Window.partitionBy("l_partkey")
    cand = (
        li.select("l_partkey", "l_suppkey", unit.alias("unit_price"))
        .withColumn("min_unit", F.min("unit_price").over(w))
        .filter(F.col("unit_price") == F.col("min_unit"))
    )
    return (
        cand.join(p, cand.l_partkey == p.p_partkey)
        .join(s, cand.l_suppkey == s.s_suppkey)
        .select("p_partkey", "s_name", F.round("unit_price", 6).alias("unit_price"))
    )


@register(
    "q110_large_orders",
    oracle="""
    SELECT c_name, c.c_custkey, o.o_orderkey, o_orderdate, o_totalprice,
           SUM(l_quantity) AS sum_qty
    FROM customer c, orders o, lineitem l
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
      AND c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def q110_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with very large orders — a HAVING-filtered
    aggregate feeds a semi join back onto the fact. Spark plan: the
    SUM(l_quantity)-per-order aggregate is computed ONCE and reused both as
    the semi-join filter and as the output sum_qty (no second scan of
    lineitem); the customer join is unhinted (size-dispatched). l_quantity sums are integer-valued
    doubles — exact in IEEE, no decimal detour needed."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", "sum_qty")
    )


@register(
    "q111_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      AND s_nationkey = n_nationkey AND n_name = 'NATION_1'
    GROUP BY s_name
    """,
)
def q111_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    finished multi-supplier order ("late" = shipped >60 days after order
    date; this schema has no commit/receipt dates). Double correlation —
    EXISTS over other suppliers' lines, NOT EXISTS over other suppliers'
    late lines — expressed ONCE as a per-order aggregate (count distinct
    suppliers, count distinct late suppliers) instead of two decorrelated
    joins: one shuffle of lineitem by orderkey replaces Catalyst's
    aggregate-twice plan."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    late_cut = F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    # one pass over (lineitem ⋈ orders): per (orderkey, suppkey) — did this
    # supplier ship late, and per orderkey — how many suppliers / how many
    # late suppliers
    lo = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey",
        (F.col("l_shipdate") > late_cut).cast("int").alias("is_late"),
    )
    per_supp = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("supp_late"),
        F.sum("is_late").alias("n_late_lines"),
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum("supp_late").alias("n_late_supps"),
        F.sum(F.when(F.col("supp_late") == 1, F.col("n_late_lines"))).alias("late_lines"),
    )
    # sole late supplier on a multi-supplier order; numwait counts that
    # supplier's LATE LINES on the order (the FROM-clause row multiplicity
    # of the reference SQL)
    sole = per_order.filter(
        (F.col("n_supps") > 1) & (F.col("n_late_supps") == 1)
    )
    culprit = per_supp.filter(F.col("supp_late") == 1).join(
        sole.select("l_orderkey", "late_lines"), "l_orderkey"
    )
    return (
        culprit.join(s, culprit.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.sum("late_lines").alias("numwait"))
    )


@register(
    "q112_dormant_customers",
    oracle="""
    WITH t AS (
      SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment, COUNT(*) AS numcust,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS total_bal
    FROM customer c, t
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1997-06-01 00:00:00')
    GROUP BY c_mktsegment
    """,
)
def q112_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: no phone prefixes — dormancy = no order
    since a cutoff): rich-but-dormant customers per market segment. Scalar
    subquery threshold (decimal-summed mean, convention #1) broadcast onto
    the scan; the NOT EXISTS is a left-anti join against the date-filtered
    order keys (filter pushed below the shuffle)."""
    from .functions.scalar import dec

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    t = c.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(dec("c_acctbal", 18, 4)).cast("double") / F.count(F.lit(1)))
        .alias("avg_bal")
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("1997-06-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(t))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(dec("c_acctbal", 18, 4)).cast("double").alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Reshaping + distribution windows: unpivot/melt, cumulative distinct users,
# percent_rank/cume_dist
# ---------------------------------------------------------------------------
@register(
    "q113_unpivot",
    oracle="""
    WITH agg AS (
      SELECT l_returnflag,
             CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_price,
             CAST(COUNT(*) AS DOUBLE) AS n_rows
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM agg
    UNION ALL
    SELECT l_returnflag, 'n_rows', n_rows FROM agg
    """,
)
def q113_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (melt): per-flag aggregate block unpivoted to
    (key, measure, value) triples via the native ``unpivot`` operator —
    a generate-side expression, zero extra shuffle beyond the aggregate."""
    from .functions.scalar import dec

    li = load_table(spark, sf_dir, "lineitem")
    agg_df = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice", 28, 4)).cast("double").alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    return agg_df.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "n_rows"], "measure", "value"
    )


@register(
    "q114_cumulative_distinct",
    oracle="""
    WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events)
    SELECT DISTINCT day, COUNT(DISTINCT user_id) OVER (ORDER BY day) AS cum_users
    FROM du
    """,
)
def q114_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day. Spark has no DISTINCT window
    aggregate — and a naive one would hold every user in window state. The
    scalable identity: a user first counts on their MIN(day), so cumulative
    distinct = running sum of per-day first-appearance counts. Two narrow
    aggregates + a 1-row-per-day window instead of an ever-growing distinct
    state."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    du = e.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    first_day = du.groupBy("user_id").agg(F.min("day").alias("day"))
    daily_new = first_day.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    days = du.select("day").distinct()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(daily_new, "day", "left")
        .withColumn("new_users", F.coalesce("new_users", F.lit(0)))
        .withColumn("cum_users", F.sum("new_users").over(w))
        .select("day", "cum_users")
    )


@register(
    "q115_percent_rank",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           ROUND(percent_rank() OVER w, 6) AS pr,
           ROUND(cume_dist() OVER w, 6) AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)
    """,
)
def q115_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution position windows: percent_rank ((rank−1)/(n−1)) and
    cume_dist within order status — identical IEEE division on both
    engines, round6 at output only."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


# ---------------------------------------------------------------------------
# Sketch-first heavy hitters (Misra–Gries candidates + exact verify)
# ---------------------------------------------------------------------------
@register(
    "q116_heavy_hitters",
    oracle="""
    SELECT l_partkey, COUNT(*) AS cnt
    FROM lineitem
    GROUP BY 1
    HAVING COUNT(*) > (SELECT COUNT(*) FROM lineitem) / 1500.0
    """,
)
def q116_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent parts (count > N/1500) via per-partition Misra–Gries
    summaries: candidate keys are provably complete for this relative
    threshold, and the exact count aggregates ONLY candidates — at 100 TB
    the shuffle carries ~capacity×partitions rows, not every distinct key.
    The DuckDB oracle is the naive exact GROUP BY/HAVING."""
    from .operators.sketches import heavy_hitters

    li = load_table(spark, sf_dir, "lineitem")
    return heavy_hitters(li, "l_partkey", min_frac=1.0 / 1500)


# ---------------------------------------------------------------------------
# Training-data pipeline: document chunking, PII redaction
# ---------------------------------------------------------------------------
@register(
    "q117_doc_chunks",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(trim(lower(text), ' '), '\\s+', ' ', 'g'), ' '),
                         x -> x <> '') AS toks
      FROM documents
    ),
    n AS (SELECT doc_id, toks, len(toks) AS nt FROM t WHERE len(toks) > 0)
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           array_to_string(toks[i*40+1 : i*40+50], ' ') AS chunk
    FROM n, UNNEST(range(CAST(ceil(nt / 40.0) AS BIGINT))) AS u(i)
    """,
)
def q117_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → overlapping training chunks (size 50, stride 40 tokens):
    builtin sequence/slice/posexplode — the whole chunker is a codegen'd
    map+generate, no Python on 100 TB of text."""
    from .functions.text import chunks

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.posexplode(chunks("text", 50, 40)).alias("chunk_id", "chunk"))
        .select("doc_id", F.col("chunk_id").cast("int").alias("chunk_id"), "chunk")
    )


@register(
    "q118_pii_redact",
    oracle="""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
             '[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}', '<CARD>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))
              + len(regexp_extract_all(text, '[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}'))
              AS INT) AS n_pii
    FROM documents
    """,
)
def q118_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training data: email/phone/card spans → typed
    placeholders, plus a per-document hit count — all JVM-side global
    regexp_replace/regexp_count, a pure map at any scale."""
    from .functions.text import pii_hits, redact_pii

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        redact_pii("text").alias("redacted"),
        pii_hits("text").cast("int").alias("n_pii"),
    )


# ---------------------------------------------------------------------------
# Incremental maintenance + ops: dynamic partition-overwrite MERGE, dedup
# canonical representative, skew diagnostics, incremental aggregate
# maintenance, exact-k stratified sampling
# ---------------------------------------------------------------------------
@register(
    "q119_partition_overwrite",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(
             CASE WHEN CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-11'
                  THEN value * 2 ELSE value END AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def q119_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental backfill via dynamic partition overwrite: events land
    partitioned by day; a 2-day correction batch (values doubled) is merged
    by rewriting ONLY those 2 of ~30 partition directories. The read-back
    per-day aggregate matches the oracle's CASE-corrected full recompute —
    and a unit test asserts untouched partitions' files are byte-identical
    (see tests/test_incremental.py)."""

    from .functions.scalar import dec
    from .operators.merge import merge_partition_overwrite

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    ).select("event_id", "ts", "user_id", "value", "event_date")
    base = _scratch_dir(spark, "po") + "/events_by_day"
    e.write.partitionBy("event_date").parquet(base)

    lo, hi = F.lit("2024-01-10").cast("date"), F.lit("2024-01-11").cast("date")
    fix = (
        e.filter((F.col("event_date") >= lo) & (F.col("event_date") <= hi))
        .withColumn("value", F.col("value") * 2)
    )
    merge_partition_overwrite(fix, base, ["event_date"])

    # explicit schema on the read-back (q242 convention): an all-empty
    # write leaves nothing to infer from — empty-feed days read back empty
    back = spark.read.schema(e.schema).parquet(base)
    return (
        back.groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value", 18, 6)).cast("double").alias("sum_value"),
        )
        .select(
            F.col("event_date").cast("timestamp").alias("event_date"),
            "n", "sum_value",
        )
    )


@register(
    "q120_dedup_canonical",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
             regexp_replace(trim(lower(text), ' '), '\\s+', ' ', 'g') AS norm
      FROM documents
    ),
    r AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY norm ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY norm) AS dup_count
      FROM t
    )
    SELECT doc_id, CAST(dup_count AS BIGINT) AS dup_count FROM r WHERE rn = 1
    """,
)
def q120_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection per exact-dup cluster: group by
    the 64-bit content fingerprint (NOT the text — the shuffle carries 8
    bytes per row, not documents), keep the longest variant (tiebreak
    doc_id), and report cluster size. The oracle groups by the normalized
    string itself — same equivalence classes, certifying the fingerprint
    path."""
    from pyspark.sql import Window

    from .functions.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fp").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.select("doc_id", "n_chars", fingerprint("text").alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("rn") == 1)
        .select("doc_id", "dup_count")
    )


@register(
    "q121_skew_report",
    oracle="""
    WITH c AS (SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
         n AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total, COUNT(*) AS n_keys FROM c)
    SELECT n_keys,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           ROUND(MAX(cnt) / ANY_VALUE(total), 6) AS max_share,
           ROUND(quantile_cont(cnt, 0.5), 6) AS p50_cnt,
           ROUND(quantile_cont(cnt, 0.99), 6) AS p99_cnt,
           ROUND(quantile_cont(cnt, 0.99) / quantile_cont(cnt, 0.5), 6) AS p99_over_p50
    FROM c, n
    GROUP BY n_keys
    """,
)
def q121_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew diagnostic — the report you run BEFORE picking a
    shuffle strategy at 100 TB: per-key count distribution (max share,
    p50/p99, tail ratio) from one groupBy + one tiny second-level
    aggregate. p99/p50 ≫ 1 or max_share ≫ 1/n_keys ⇒ salt or AQE-skew the
    downstream join."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    return c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("max_share"),
        F.round(F.expr("percentile(cnt, 0.5)"), 6).alias("p50_cnt"),
        F.round(F.expr("percentile(cnt, 0.99)"), 6).alias("p99_cnt"),
        F.round(
            F.expr("percentile(cnt, 0.99)") / F.expr("percentile(cnt, 0.5)"), 6
        ).alias("p99_over_p50"),
    ).where(F.col("n_keys") > 0)  # no keys -> no report row (oracle's GROUP BY agrees)


@register(
    "q122_incremental_agg",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
)
def q122_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance in batch: a materialized per-type
    aggregate over the history (< Jan 20) is updated with a delta batch
    (≥ Jan 20) by merging partial aggregates — counts add, decimal sums add
    exactly — instead of rescanning history. The oracle recomputes from
    scratch; matching it certifies merge(partial(A), partial(B)) ≡
    full(A∪B), the algebraic property that makes the aggregate maintainable
    at 100 TB. Decimal→double cast happens only AFTER the merge."""
    from .functions.scalar import dec

    e = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-20").cast("timestamp")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value", 18, 6)).alias("sum_dec"),
        )

    base = partial(e.filter(F.col("ts") < cut))       # the "materialized" state
    delta = partial(e.filter(F.col("ts") >= cut))     # the arriving batch
    merged = (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_dec").alias("sum_dec"))
    )
    return merged.select(
        "event_type", "n", F.col("sum_dec").cast("double").alias("sum_value")
    )


@register(
    "q123_sample_exact_k",
    oracle="""
    WITH r AS (
      SELECT event_id, event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY ((CAST(event_id AS HUGEINT) * 2654435761) % 10000
                         + 10000) % 10000, event_id
             ) AS rn
      FROM events
    )
    SELECT event_id, event_type, value FROM r WHERE rn <= 100
    """,
)
def q123_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget stratified sample: exactly 100 events per type, picked
    by deterministic hash order — the "at most k examples per class"
    curation primitive, stable under retry/repartition (content-derived,
    no RNG)."""
    from .operators.sampling import stratified_exact_k

    e = load_table(spark, sf_dir, "events")
    return stratified_exact_k(
        e.select("event_id", "event_type", "value"),
        key_col="event_id", stratum_col="event_type", k=100,
    )


# ---------------------------------------------------------------------------
# Time-series OHLC resampling, mergeable HLL sketch rollup, edit-distance
# pair mining (SymSpell blocking)
# ---------------------------------------------------------------------------
@register(
    "q124_ohlc_resample",
    oracle="""
    WITH b AS (
      SELECT user_id,
             make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS bucket,
             ts, event_id, value
      FROM events
    ), r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM b
    )
    SELECT user_id, bucket,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           COUNT(*) AS n
    FROM r GROUP BY 1, 2
    """,
)
def q124_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to 5-minute OHLC bars per user — the
    resample primitive: ONE groupBy with min_by/max_by picks open/close by
    event time with no window pass or self-join; the bucket is explicit
    epoch arithmetic so both engines align identically. open/close order
    on (ts, event_id) so same-timestamp ticks — real feeds have them —
    get a deterministic winner (the oracle's ROW_NUMBER uses the same
    composite key; a bare arg_min(value, ts) is tie-nondeterministic on
    both engines). The key is the packed-decimal event_order_key, not a
    struct: structs would demote this to Sort+SortAggregate."""
    from .functions.scalar import event_order_key

    e = load_table(spark, sf_dir, "events")
    bucket = F.timestamp_seconds(
        F.floor(F.unix_micros("ts") / F.lit(300_000_000)) * 300
    )
    ordk = event_order_key("ts", "event_id")
    return (
        e.groupBy("user_id", bucket.alias("bucket"))
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _q125_oracle() -> str:
    from .operators.sketches import hll_oracle_sql

    # register MAX is associative, so daily-registers-then-merge equals one
    # global register pass — the oracle replays the flat form; the Spark
    # side still materializes the daily rollup to exercise the merge path.
    hll = hll_oracle_sql("events", "user_id", ["event_type"], "est_users")
    return f"""
    SELECT h.event_type, h.est_users, d.n_days
    FROM ({hll}) h JOIN (
      SELECT event_type, COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
      FROM events GROUP BY event_type
    ) d USING (event_type)
    """


@register(
    "q125_hll_rollup",
    # Oracle (promoted r09, with q51): the hll_sketch_agg engine sketch this
    # query used through r08 is not replayable by another engine (the
    # written declination); the repo's md5-hash HLL is — identical register
    # arithmetic both engines, exact BIGINT fold, round4 estimate. The
    # engine-sketch API keeps a tolerance pin in the unit tests.
    oracle=_q125_oracle(),
)
def q125_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-(type, day) HLL register frames of
    distinct users, then ONE groupBy-MAX merge per type for the monthly
    estimate — the 100 TB pattern where daily sketches are persisted once
    and any coarser window (week/month/all-time) is a cheap register merge
    (≤ m rows per sketch), never a rescan of raw events."""
    from .operators.sketches import hll_estimate, hll_registers

    e = load_table(spark, sf_dir, "events")
    daily = hll_registers(
        e.withColumn("day", F.to_date("ts")), "user_id", ["event_type", "day"]
    )
    merged = daily.groupBy("event_type", "bucket").agg(F.max("r").alias("r"))
    est = hll_estimate(merged, ["event_type"]).withColumnRenamed(
        "est", "est_users"
    )
    # from the raw table, not the register frame: hll_registers drops
    # NULL-user rows, so a day whose events all lack user_id would vanish
    # from the rollup but not from COUNT(DISTINCT day) — countDistinct
    # mirrors the oracle's NULL semantics exactly
    n_days = e.groupBy("event_type").agg(
        F.countDistinct(F.to_date("ts")).alias("n_days")
    )
    return est.join(n_days, "event_type")


@register(
    "q126_editdist_pairs",
    oracle="""
    WITH d AS (SELECT c_custkey AS id, c_name AS name FROM customer
               WHERE c_custkey < 3000)
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
    FROM d a, d b
    WHERE a.id < b.id AND levenshtein(a.name, b.name) <= 1
    """,
)
def q126_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-match pair mining within edit distance 1 via symmetric-delete
    blocking: candidates come from an equi-join on delete-variant keys
    (~len keys/row), verified with builtin levenshtein — exact and
    complete with NO all-pairs comparison anywhere; the oracle IS the
    naive quadratic definition."""
    from .functions.dedup import editdist1_pairs

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 3000)
    return editdist1_pairs(c, "c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Streaming foreachBatch upsert, Z-ordered layout, EWMA
# ---------------------------------------------------------------------------
@register(
    "q127_streaming_upsert",
    oracle="""
    WITH r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, ts, event_id, event_type, value, props
    FROM r WHERE rn = 1
    """,
)
def q127_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyed-state maintenance: a file-source stream of events is
    reduced per micro-batch and MERGEd into a parquet state store via
    foreachBatch (4 micro-batches exercise the repeated-upsert path); the
    final store is latest-event-per-user and hash-matches the batch
    arg_max oracle — streaming and batch agree exactly."""
    import os

    from .streaming.upsert import streaming_latest_state

    out = streaming_latest_state(
        spark, os.path.join(sf_dir, "events.parquet"), key="user_id", ts="ts"
    )
    return out.select("user_id", "ts", "event_id", "event_type", "value", "props")


@register(
    "q128_zorder_layout",
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE)
             AS sum_price
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 199 AND l_suppkey BETWEEN 10 AND 29
    """,
)
def q128_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem rewritten Z-ordered on (l_partkey, l_suppkey) — Morton-key
    range clustering gives row-group min/max locality on BOTH columns —
    then read back through a 2-D range predicate. The oracle aggregates the
    original table: matching certifies the rewrite is lossless; the layout
    win (row-group skipping on either dimension) is the point at 100 TB."""

    from .functions.scalar import dec
    from .sources.writers import write_zordered

    li = load_table(spark, sf_dir, "lineitem")
    path = _scratch_dir(spark, "zorder") + "/lineitem_z"
    # normalize: bucket-index interleave works for any id domain (raw-value
    # mode's 21-bit guard fires once partkeys pass 2^21 — real id ranges)
    write_zordered(li, path, "l_partkey", "l_suppkey", bits=21, normalize=True)
    back = spark.read.parquet(path).filter(
        F.col("l_partkey").between(100, 199) & F.col("l_suppkey").between(10, 29)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_extendedprice", 28, 4)).cast("double").alias("sum_price"),
    )


@register(
    "q129_ewma",
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, ts,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS prefix
      FROM events
    )
    SELECT event_id, user_id, ts,
           ROUND(list_reduce(prefix, (acc, v) -> 0.3 * v + 0.7 * acc), 6)
             AS ewma
    FROM s
    """,
)
def q129_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values over event time (α=0.3,
    adjust=False) — the sequential-recurrence operator on the sanctioned
    Arrow path (applyInPandas per key). Oracle (promoted r06): DuckDB
    ``list_reduce`` replays the identical left fold over the per-key
    value prefix — bit-identical to pandas ``ewm(adjust=False)`` (IEEE
    ops in the same order; verified max-abs-diff 0.0 at sf0.01). The
    O(prefix²) list build is oracle-side only, never the Spark plan.
    The unit test additionally pins the recurrence against a numpy
    reference (tests/test_temporal.py)."""
    from .operators.temporal import ewma

    e = load_table(spark, sf_dir, "events")
    out = ewma(
        e.select("event_id", "user_id", "ts", "value"),
        value_col="value", ts_col="ts", partition_by=["user_id"], alpha=0.3,
        tiebreak="event_id",
    )
    return out.select("event_id", "user_id", "ts", F.round("ewma", 6).alias("ewma"))


# ---------------------------------------------------------------------------
# Weighted sampling, snapshot diff, schema evolution, PCA, ordered
# string_agg, OOV rate
# ---------------------------------------------------------------------------
@register(
    "q130_weighted_sample",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY POW(((CAST(o_orderkey AS HUGEINT) * 2654435761) % 10000 + 1)
                   / 10001.0,
                 1.0 / o_totalprice) DESC, o_orderkey
    LIMIT 500
    """,
)
def q130_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-Res):
    priority u^(1/w) with a DETERMINISTIC hash-derived uniform u — higher-
    priced orders are proportionally likelier, membership is reproducible
    under retry/repartition. Top-500 by priority compiles to
    TakeOrderedAndProject (per-partition k, no global sort); identical
    IEEE pow on both engines makes the oracle exact."""
    from .operators.sampling import knuth_bucket

    o = load_table(spark, sf_dir, "orders")
    # knuth_bucket: overflow-safe int64 congruence arithmetic, value-equal
    # to the oracle's HUGEINT multiply for every key (r12)
    u = (knuth_bucket("o_orderkey") + 1) / F.lit(10001.0)
    priority = F.pow(u, 1.0 / F.col("o_totalprice"))
    return (
        o.select("o_orderkey", "o_totalprice", priority.alias("__p"))
        .orderBy(F.desc("__p"), F.asc("o_orderkey"))
        .limit(500)
        .drop("__p")
    )


@register(
    "q131_snapshot_diff",
    oracle="""
    WITH old AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 0
    )
    SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
                  OR old.o_totalprice IS DISTINCT FROM new.o_totalprice
                  THEN 'changed'
                ELSE 'unchanged' END AS change_type
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE NOT (old.o_orderkey IS NOT NULL AND new.o_orderkey IS NOT NULL
               AND old.o_orderstatus IS NOT DISTINCT FROM new.o_orderstatus
               AND old.o_totalprice IS NOT DISTINCT FROM new.o_totalprice)
    """,
)
def q131_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change detection between table versions (CDC/audit): one
    full-outer join on the key classifies added/removed/changed with
    null-safe column comparison. The synthetic 'new' snapshot drops every
    10th order and reprices every 7th — both IEEE-identical derivations on
    both engines."""
    from .operators.diff import snapshot_diff

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = o.filter(F.col("o_orderkey") % 10 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 1.1
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(o, new, "o_orderkey")


@register(
    "q132_schema_evolution",
    oracle="""
    SELECT src, COUNT(*) AS n,
           COUNT(o_orderpriority) AS with_priority
    FROM (
      SELECT 'v1' AS src, NULL AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 'v2', o_orderpriority FROM orders WHERE o_orderkey % 2 = 1
    )
    GROUP BY 1
    """,
)
def q132_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read evolution: two parquet generations (v1 lacks a
    column) read together with mergeSchema — old files surface NULL for
    the new column, no rewrite of historical data. The oracle is the
    explicit NULL-padded union."""

    o = load_table(spark, sf_dir, "orders")
    root = _scratch_dir(spark, "schemaevo")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", F.lit("v1").alias("src")
    ).write.parquet(root + "/gen=1")
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", F.lit("v2").alias("src"), "o_orderpriority"
    ).write.parquet(root + "/gen=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        root + "/gen=1", root + "/gen=2"
    )
    return back.groupBy("src").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_orderpriority").alias("with_priority"),
    )


@register("q133_pca_project")
def q133_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA on the embedding corpus: moment partials via one mapInPandas
    pass (driver receives O(d²) numbers, independent of N), d×d eigh on
    the driver, components broadcast back for an Arrow-batched projection.
    Eigenvector sign pinned ⇒ reproducible. Not SQL-expressible ⇒
    rows-only; tests/test_ml_evaluation.py pins fit+projection against
    numpy on the same data. Output is posexploded to scalar
    (vec_id, pos, value) rows — the driver's rows-only canonicalizer
    sorts the frame and cannot sort array cells (r03 `err`); q58/q64 use
    the same flattening for embeddings."""
    from .ml.pca import pca_fit, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    if emb.isEmpty():
        # empty-in/empty-out: nothing to fit on a no-data day
        return spark.createDataFrame(
            [], "vec_id long, pc_pos int, pc_value double"
        )
    mean, comps = pca_fit(emb, "embedding", k=8)
    out = pca_project(emb, "embedding", mean, comps)
    return out.select(
        "vec_id", F.posexplode(F.transform("pc", lambda x: F.round(x, 6)))
    ).withColumnsRenamed({"pos": "pc_pos", "col": "pc_value"})


@register(
    "q134_string_agg",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities
    FROM orders GROUP BY 1
    """,
)
def q134_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered set aggregation to a delimited string (LISTAGG): collect_set
    → array_sort → array_join keeps the result deterministic regardless of
    partitioning — the unordered collect_list would be run-dependent."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias(
            "priorities"
        )
    )


@register(
    "q135_oov_rate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
        string_split(regexp_replace(trim(lower(text), ' '), '\\s+', ' ', 'g'), ' '),
        x -> x <> '')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rn
        FROM toks GROUP BY tok
      ) WHERE rn <= 50
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(COUNT(CASE WHEN tok NOT IN (SELECT tok FROM vocab) THEN 1 END)
                 * 1.0 / COUNT(*), 6) AS oov_rate
    FROM toks GROUP BY 1
    """,
)
def q135_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-50
    vocabulary — the tokenizer-coverage diagnostic: explode once, build the
    vocab with a two-phase count + deterministic top-k, broadcast the tiny
    vocab back as a left-semi membership flag (no second scan of the
    corpus)."""
    from .functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    # top-k via orderBy+limit = TakeOrderedAndProject (per-partition k),
    # never an unpartitioned window over every distinct token
    vocab = (
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(50)
        .select("tok")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("__in", F.lit(1))), "tok", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.count_if(F.col("__in").isNull()) / F.count(F.lit(1)), 6
        ).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# PageRank, gaps-and-islands, referential integrity, concurrency sweep,
# robust stats (MAD)
# ---------------------------------------------------------------------------

# --- oracle generators for fixed-iteration graph recursions (r06) -------
# The power-method queries run a FIXED number of rounds, so their oracles
# unroll into chained CTEs. Generated (not hand-written) so q136/q159/q267
# share one source of truth for the per-round expressions; the generated
# string is static at import time — the driver sees plain SQL.

_PR_EDGES = (
    "SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
)


def _pagerank_oracle(iterations: int, final_select: str) -> str:
    """Chained-CTE PageRank: mirrors operators/graph.py::pagerank — same
    damping/dangling/base expression grouping as the Spark driver code, so
    the only engine difference is float reduction order (≤1e-15 relative,
    absorbed by the rounded outputs)."""
    # MATERIALIZED: each round is referenced several times (next round's
    # inflow + dangling + diagnostics); default CTE inlining would re-read
    # the parquet scans exponentially across rounds
    ctes = [
        f"e AS MATERIALIZED ({_PR_EDGES})",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e"
        " UNION SELECT dst FROM e)",
        "deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1)",
        "c AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes)",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / c.n AS rk FROM nodes, c)",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"i{k} AS MATERIALIZED (SELECT e.dst, SUM(r.rk / d.deg) AS fl FROM e "
            f"JOIN r{k - 1} r ON r.node = e.src "
            f"JOIN deg d ON d.src = e.src GROUP BY 1)"
        )
        ctes.append(
            f"d{k} AS MATERIALIZED (SELECT COALESCE(SUM(r.rk), 0.0) AS dg FROM r{k - 1} r "
            f"LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL)"
        )
        ctes.append(
            f"r{k} AS MATERIALIZED (SELECT nn.node, "
            f"((1.0 - 0.85) / c.n + (0.85 * d{k}.dg) / c.n) "
            f"+ 0.85 * COALESCE(i{k}.fl, 0.0) AS rk "
            f"FROM nodes nn LEFT JOIN i{k} ON nn.node = i{k}.dst, c, d{k})"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + final_select


def _pagerank_diag_select(iterations: int) -> str:
    """Per-iteration L1/L∞/mass diagnostics over the r{k} chain — the
    q159 readout (operators/graph.py::pagerank_convergence)."""
    rows = [
        f"SELECT {k} AS iteration, "
        f"round(SUM(ABS(a.rk - b.rk)), 9) AS l1_delta, "
        f"round(MAX(ABS(a.rk - b.rk)), 9) AS linf_delta, "
        f"round(SUM(a.rk), 9) AS rank_mass "
        # HAVING: a key-free aggregate over the empty join (empty-table
        # fixture) would emit one all-NULL row per iteration where the
        # Spark side's empty graph emits nothing (r06 empty-sweep drift)
        f"FROM r{k} a JOIN r{k - 1} b ON a.node = b.node "
        f"HAVING COUNT(*) > 0"
        for k in range(1, iterations + 1)
    ]
    return " UNION ALL ".join(rows)


@register(
    "q136_pagerank",
    oracle=_pagerank_oracle(
        5, 'SELECT node, round(rk, 6) AS "rank" FROM r5'
    ),
)
def q136_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer→supplier purchase graph (edges from
    orders⋈lineitem) — the second iterative operator family next to
    connected components: per round one join + one aggregate, lineage cut
    via the shared reliable-checkpoint helper. Oracle (promoted r06): the
    iteration count is FIXED (5), so the power method unrolls into five
    chained CTE rounds — same damping/dangling/base expression grouping as
    the Spark driver code; per-round float sums differ only in reduction
    order (≤1e-15 relative), absorbed by the round-6 output convention.
    Tests additionally pin ranks against a numpy power iteration and
    assert Σrank = 1."""
    from .operators.graph import pagerank

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
    )
    out = pagerank(edges, iterations=5)
    return out.select("node", F.round("rank", 6).alias("rank"))


@register(
    "q137_missing_days",
    oracle="""
    WITH span AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
      FROM events GROUP BY 1
    ),
    expected AS (
      SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ),
    observed AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT e.user_id, CAST(e.day AS TIMESTAMP) AS missing_day
    FROM expected e LEFT JOIN observed o
      ON e.user_id = o.user_id AND e.day = o.day
    WHERE o.user_id IS NULL
    """,
)
def q137_missing_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: days with NO events per user inside that user's
    own activity span — expected calendar via sequence+explode (generated,
    never stored), anti-joined against observed days. Both sides reduce to
    (user, day) before the join."""
    e = load_table(spark, sf_dir, "events")
    span = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    expected = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    observed = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        expected.join(observed, ["user_id", "day"], "left_anti")
        .select("user_id", F.col("day").cast("timestamp").alias("missing_day"))
    )


@register(
    "q138_ref_integrity",
    oracle="""
    SELECT 'lineitem_orphan_orderkey' AS check,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
             AS violations
    UNION ALL
    SELECT 'orders_orphan_custkey',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_orphan_partkey',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
    """,
)
def q138_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan-count per foreign key via
    left-anti joins (each a broadcast when the parent keyset is small, a
    shuffle semi otherwise — never a full materialized join). Complements
    the single-pass q107 constraint report with cross-table checks."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")

    def orphans(child, parent, ck, pk, label):
        cnt = child.join(
            parent.select(pk).distinct(), child[ck] == F.col(pk), "left_anti"
        ).count()
        return (label, cnt)

    rows = [
        orphans(li, o, "l_orderkey", "o_orderkey", "lineitem_orphan_orderkey"),
        orphans(o, c, "o_custkey", "c_custkey", "orders_orphan_custkey"),
        orphans(li, p, "l_partkey", "p_partkey", "lineitem_orphan_partkey"),
    ]
    return spark.createDataFrame(rows, "check string, violations long")


@register(
    "q139_max_concurrency",
    oracle="""
    WITH sweep AS (
      SELECT CAST(ts AS DATE) AS day, ts AS t, 1 AS delta FROM events
      UNION ALL
      SELECT CAST(ts AS DATE), ts + INTERVAL 30 MINUTE, -1 FROM events
    ),
    running AS (
      SELECT day, SUM(delta) OVER (PARTITION BY day ORDER BY t, delta
                                   ROWS UNBOUNDED PRECEDING) AS cur
      FROM sweep
    )
    SELECT CAST(day AS TIMESTAMP) AS day_ts,
           CAST(MAX(cur) AS BIGINT) AS max_concurrent
    FROM running GROUP BY 1
    """,
)
def q139_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day via the +1/−1 interval sweep (each event
    opens a 30-minute session): union of starts/ends, day-partitioned
    running sum, max. Ends sort before starts at the same instant
    (closed-open sessions). The sweep is attributed to the session's start
    day — the window shuffles once on day, never globally. Note: the
    day_ts column stays a DATE-cast-to... (comparator normalizes); max is
    order-insensitive under ties because sums within a tie group are
    monotone."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    starts = e.select(
        F.to_date("ts").alias("day"), F.col("ts").alias("t"), F.lit(1).alias("delta")
    )
    ends = e.select(
        F.to_date("ts").alias("day"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    sweep = starts.unionByName(ends)
    w = Window.partitionBy("day").orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, 0
    )
    running = sweep.withColumn("cur", F.sum("delta").over(w))
    return (
        running.groupBy("day")
        .agg(F.max("cur").alias("max_concurrent"))
        .select(F.col("day").cast("timestamp").alias("day_ts"), "max_concurrent")
    )


@register(
    "q140_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           ROUND(ANY_VALUE(m.med), 6) AS median_val,
           ROUND(quantile_cont(ABS(e.value - m.med), 0.5), 6) AS mad
    FROM events e JOIN med m ON e.event_type = m.event_type
    GROUP BY e.event_type
    """,
)
def q140_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion
    statistic: two grouped exact percentiles with the group medians
    broadcast back between passes (both engines interpolate identically;
    round6 at output)."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 6).alias("median_val"),
            F.round(
                F.expr("percentile(abs(value - med), 0.5)"), 6
            ).alias("mad"),
        )
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join (shuffle elimination)
# ---------------------------------------------------------------------------
@register(
    "q141_bucketed_join",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE)
             AS sum_price
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1
    """,
)
def q141_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join on bucketed tables: both fact tables are written
    bucketBy(orderkey) once, so the join reads matching buckets directly —
    NO Exchange under the join (asserted in tests/test_joins.py); the only
    shuffle left is the final small aggregation. At 100 TB this is the
    difference between re-shuffling both tables on every join and paying
    the layout cost once at write time."""
    from .functions.scalar import dec
    from .sources.writers import write_bucketed

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # table names carry the scale tag AND the application id: concurrent
    # sessions (e.g. a bench run next to a correctness sweep) must never
    # drop/overwrite each other's warehouse locations mid-write. The
    # per-app names mean THIS session's overwrite can't reclaim a dead
    # session's directories, so sweep other apps' *_bkt_* leftovers —
    # but only ones untouched for an hour, so a LIVE concurrent session's
    # fresh dirs are never ripped out from under it (that race is exactly
    # what the app tag exists to prevent).
    import os
    import shutil
    import time as _time
    from urllib.parse import urlparse

    app_tag = spark.sparkContext.applicationId.replace("-", "_")[-10:]
    wh = urlparse(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    ).path or "spark-warehouse"
    if os.path.isdir(wh):
        cutoff = _time.time() - 3600
        for d in os.listdir(wh):
            full = os.path.join(wh, d)
            try:
                stale = os.path.getmtime(full) < cutoff
            except OSError:
                stale = False
            if "_bkt_" in d and not d.endswith(app_tag) and stale:
                shutil.rmtree(full, ignore_errors=True)
    sf_tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "_")
    to = f"orders_bkt_{sf_tag}_{app_tag}"
    tl = f"lineitem_bkt_{sf_tag}_{app_tag}"
    write_bucketed(o.select("o_orderkey", "o_orderpriority"), to, ["o_orderkey"])
    write_bucketed(li.select("l_orderkey", "l_extendedprice"), tl, ["l_orderkey"])
    ob, lb = spark.table(to), spark.table(tl)
    return (
        ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("l_extendedprice", 28, 4)).cast("double").alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# UDTF + grouped-aggregate pandas UDF (completing the §2.12 UDF/UDAF/UDTF
# surface)
# ---------------------------------------------------------------------------
@register(
    "q142_runlength_udtf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, toks[i] AS tok, CAST(i AS INT) AS pos
      FROM (
        SELECT doc_id,
               list_filter(string_split(regexp_replace(trim(lower(text), ' '),
                      '\\s+', ' ', 'g'), ' '), x -> x <> '') AS toks
        FROM documents
      ), UNNEST(range(1, len(toks) + 1)) AS u(i)
    ),
    isl AS (
      SELECT doc_id, tok, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY pos) AS grp
      FROM toks
    )
    SELECT doc_id, tok AS token, CAST(MIN(pos) AS INT) AS run_start,
           CAST(COUNT(*) AS INT) AS run_len
    FROM isl GROUP BY doc_id, tok, grp
    HAVING COUNT(*) >= 2
    """,
)
def q142_runlength_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): per document, emit one row per run of
    ≥2 consecutive identical tokens — the repetition-span detector, as a
    LATERAL table function. The per-doc Python loop is bounded by document
    length (a map over docs, embarrassingly parallel); the oracle is the
    SQL gaps-and-islands formulation. Positions are 1-based."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, run_start int, run_len int")
    class RunLength:
        def eval(self, text: str):
            import re

            if text is None:
                return
            # RE2's \s class [ \t\n\f\r] — EXACTLY the oracle's
            # regexp_replace('\s+') tokenization; Python str.strip()/
            # .split() would strip/split Unicode whitespace the oracle
            # keeps (the r10 tokenizer-class rule, bpe.java_ws_tokens
            # docstring; here BOTH sides are controllable so even the
            # \x0b Java-vs-RE2 gap is absent)
            toks = [t for t in re.split("[ \t\n\f\r]+", text.lower()) if t]
            i = 0
            while i < len(toks):
                j = i
                while j < len(toks) and toks[j] == toks[i]:
                    j += 1
                if j - i >= 2:
                    yield toks[i], i + 1, j - i
                i = j

    spark.udtf.register("runlength", RunLength)
    d = load_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("__docs_udtf")
    return spark.sql(
        "SELECT doc_id, r.token, r.run_start, r.run_len "
        "FROM __docs_udtf, LATERAL runlength(text) r"
    )


@register(
    "q143_geomean_udaf",
    oracle="""
    SELECT event_type,
           ROUND(EXP(AVG(LN(value))), 6) AS geo_mean,
           COUNT(*) AS n
    FROM events WHERE value > 0
    GROUP BY 1
    """,
)
def q143_geomean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF): geometric mean per event type —
    Arrow ships each group's values to one vectorized numpy reduction.
    The oracle is the exp-mean-log identity; round6 per float-path
    convention. (The builtin exp(avg(ln)) twin is what you'd deploy at
    100 TB — this entry exists to exercise the UDAF surface.)"""
    from .functions.udafs import geo_mean

    e = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    # a grouped-agg pandas UDF cannot share an agg with JVM aggregates —
    # compute the count in a separate tiny aggregate and broadcast-join
    gm = e.groupBy("event_type").agg(
        F.round(geo_mean("value"), 6).alias("geo_mean")
    )
    n = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return gm.join(F.broadcast(n), "event_type")


# ---------------------------------------------------------------------------
# GROUPING SETS with grouping_id, period-over-period growth
# ---------------------------------------------------------------------------
@register(
    "q144_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE)
             AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
)
def q144_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under rollup/cube — q48/q49)
    with grouping_id disambiguating NULL-as-subtotal from NULL-as-value:
    one pass, Spark expands sets map-side; no per-set rescans."""
    from .functions.scalar import dec

    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_gs")
    # DataFrame API has rollup/cube; explicit sets go through SQL
    df = spark.sql(
        "SELECT o_orderstatus, o_orderpriority, "
        "GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid, "
        "COUNT(*) AS n, "
        "SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS sum_dec "
        "FROM __orders_gs "
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), "
        "(o_orderstatus, o_orderpriority))"
    )
    return df.select(
        "o_orderstatus", "o_orderpriority",
        F.col("gid").cast("int").alias("gid"),
        "n", F.col("sum_dec").cast("double").alias("sum_price"),
    )


@register(
    "q145_mom_growth",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           ROUND(revenue / LAG(revenue) OVER (ORDER BY month) - 1, 6) + 0e0 AS mom_growth
    FROM m
    """,
)
def q145_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth: monthly decimal-exact revenue, then a
    lag-ratio window over the (bounded, months-sized) aggregate — the
    window runs on the already-reduced frame, never on raw orders."""
    from .functions.scalar import dec
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(dec("o_totalprice", 28, 4)).cast("double").alias("revenue")
    )
    w = Window.orderBy("month")
    return m.select(
        "month", "revenue",
        round_disp(F.col("revenue") / F.lag("revenue").over(w) - 1, 6).alias(
            "mom_growth"
        ),
    )


# ---------------------------------------------------------------------------
# Top-k WITH TIES, FILTER-clause conditional aggregation, ordered array agg
# ---------------------------------------------------------------------------
@register(
    "q146_topk_with_ties",
    oracle="""
    SELECT o_orderstatus, o_orderkey, o_totalprice
    FROM (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             RANK() OVER (PARTITION BY o_orderstatus
                          ORDER BY ROUND(o_totalprice, -3) DESC) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
)
def q146_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES per group: RANK (not row_number) keeps every row
    tied at the boundary — the coarsened sort key (price rounded to 1000s)
    makes ties real. One WindowGroupLimit shuffle, same as strict top-k."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc(F.round("o_totalprice", -3))
    )
    return (
        o.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderstatus", "o_orderkey", "o_totalprice")
    )


@register(
    "q147_filtered_agg",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) FILTER (WHERE o_totalprice < 100000) AS n_low,
           COUNT(*) FILTER (WHERE o_totalprice >= 100000
                            AND o_totalprice < 300000) AS n_mid,
           COUNT(*) FILTER (WHERE o_totalprice >= 300000) AS n_high,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4)))
                FILTER (WHERE o_orderpriority = '1-URGENT') AS VARCHAR) AS DOUBLE)
             AS urgent_revenue
    FROM orders GROUP BY 1
    """,
)
def q147_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER clause): four differently-filtered
    aggregates in ONE pass over the scan — the idiomatic replacement for
    four self-joined subqueries. Spark side uses count_if / when-gated
    sums, all inside one two-phase hash aggregate."""
    from .functions.scalar import dec

    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(price < 100000).alias("n_low"),
        F.count_if((price >= 100000) & (price < 300000)).alias("n_mid"),
        F.count_if(price >= 300000).alias("n_high"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", dec("o_totalprice", 28, 4))
        ).cast("double").alias("urgent_revenue"),
    )


@register(
    "q148_array_agg",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list(l_partkey ORDER BY l_partkey), ',') AS partkeys_csv,
           CAST(len(list(l_partkey)) AS INT) AS n_parts
    FROM lineitem
    WHERE l_orderkey < 1000
    GROUP BY 1
    """,
)
def q148_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array aggregation per key: collect_list → array_sort makes
    the nested result deterministic under any partitioning (bare
    collect_list order is run-dependent); serialized to CSV so the
    cross-engine comparison is a plain string."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.groupBy("l_orderkey").agg(
        F.array_join(F.array_sort(F.collect_list("l_partkey")), ",").alias(
            "partkeys_csv"
        ),
        F.size(F.collect_list("l_partkey")).cast("int").alias("n_parts"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training
# ---------------------------------------------------------------------------
@register(
    "q149_bpe_train",
    # Oracle (promoted r09): BPE training state is integers and strings
    # only — word freqs, pair counts, symbol lists — so the whole loop is
    # SQL: per round one unnest→GROUP BY (pair counts), one ORDER BY cnt
    # DESC, a, b LIMIT 1 (the argmax with the engine's exact tie-break,
    # binary collation both sides), one run-parity window pass (the greedy
    # left-to-right merge), unrolled 8 rounds as MATERIALIZED CTEs
    # (functions/bpe_oracle.py; validated against a pure-Python reference
    # on clean AND degenerate corpora incl. the 5000-char token).
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.functions.bpe_oracle", fromlist=["x"]
    ).bpe_train_oracle_sql("documents", "text", num_merges=8),
)
def q149_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule learning (Sennrich et al. 2016) over the corpus: the
    text is touched once (word-frequency collapse); every merge iteration
    is a codegen'd pair count over the VOCABULARY-sized frame + a
    vectorized merge — iteration cost is independent of corpus size.
    tests/test_textstats_sampling.py pins the learned rules against a
    pure-Python reference implementation of the paper's algorithm; the
    DuckDB oracle replays the full training loop."""
    from .functions.bpe import bpe_train

    d = load_table(spark, sf_dir, "documents")
    rules = bpe_train(d, "text", num_merges=8)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(rules)],
        "step int, left string, right string, freq long",
    )


@register(
    "q150_bpe_encode",
    # Oracle (promoted r09, with q149): encode re-derives each vocabulary
    # word from characters and per pass applies the LOWEST-RANK rule
    # present in the word; both engines share the explicit max_passes=16
    # cap, so the 16-round unrolled replay is unconditionally exact (see
    # functions/bpe.py::bpe_encode and bpe_oracle.py).
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.functions.bpe_oracle", fromlist=["x"]
    ).bpe_encode_oracle_sql(
        "documents", "text", "doc_id", num_merges=8, max_passes=16
    ),
)
def q150_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode with the rules learned on the same corpus (train = q149):
    per-document BPE token counts vs whitespace token counts — the token-
    budget estimator a real tokenizer would feed. Rule table ships in the
    closure (broadcast-sized); encode is a pure map with per-batch word
    memoization."""
    from .functions.bpe import bpe_encode, bpe_train

    d = load_table(spark, sf_dir, "documents")
    rules = bpe_train(d, "text", num_merges=8)
    return bpe_encode(d, "text", rules, max_passes=16)


@register(
    "q151_cms_estimate",
    # Oracle (promoted r08): with the 2-universal affine hash family the
    # sketch is plain modular arithmetic, so DuckDB replays the exact
    # (depth, slot) counters and the exact min-over-depths estimates —
    # "approximate" means approximate w.r.t. TRUE counts, not
    # non-deterministic; the estimator itself is a pure function of the
    # data the oracle can recompute.
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.operators.sketches", fromlist=["x"]
    ).cms_oracle_sql("lineitem", "l_partkey", "l_partkey < 50"),
)
def q151_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries: build the (depth·width ≤ 8192-row)
    sketch over lineitem part keys in one explode→groupBy, then estimate
    the count of every small partkey by joining the broadcast sketch —
    at 100 TB the sketch is the only thing shuffled, and daily sketches
    merge by summing. Uses the affine 2-universal hash family (integer
    keys), which an external SQL engine can replay exactly — the DuckDB
    oracle recomputes the full sketch and every point estimate
    (operators/sketches.py::cms_oracle_sql). The unit test additionally
    pins the CMS bounds (exact ≤ est ≤ exact + (e/width)·N)."""
    from .operators.sketches import cms_build, cms_estimate

    li = load_table(spark, sf_dir, "lineitem")
    cms = cms_build(li, "l_partkey", hash_family="affine")
    keys = li.filter(F.col("l_partkey") < 50).select("l_partkey")
    return cms_estimate(cms, keys, "l_partkey", hash_family="affine")


# ---------------------------------------------------------------------------
# Streaming EWMA (stateful recurrence across micro-batches) — the batch
# twin is q129; plus deeper TPC-H shape coverage (Q3/Q5/Q10/Q19/Q9) and
# Bloom-filter join pruning
# ---------------------------------------------------------------------------
@register(
    "q152_streaming_ewma",
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, ts,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS prefix
      FROM events
    )
    SELECT event_id, user_id, ts,
           ROUND(list_reduce(prefix, (acc, v) -> 0.3 * v + 0.7 * acc), 6)
             AS ewma
    FROM s
    """,
)
def q152_streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA as a REAL stateful stream: events split into three
    event-time-ordered files, one micro-batch each, the recurrence carried
    across batches in one scalar of state per key
    (``applyInPandasWithState``, streaming/stateful.py). Oracle (promoted
    r06): the stream is row-equivalent to the q129 batch twin by the
    state-carry construction, so q129's DuckDB ``list_reduce`` fold — the
    identical left fold, bit-identical IEEE ops — checks every emitted
    row. The batch-equivalence test (tests/test_streaming.py) pins the
    same rows a second way."""
    import os
    import shutil

    from .streaming.stateful import streaming_ewma

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    lo, hi = e.agg(F.min("ts"), F.max("ts")).first()
    if lo is None:
        # empty feed: nothing to stream (empty-in/empty-out)
        return spark.createDataFrame(
            [], "event_id long, user_id long, ts timestamp, ewma double"
        )
    span = (hi - lo) / 3
    stage = _scratch_dir(spark, "ewma_stream_src")
    splits = [
        e.filter(F.col("ts") <= F.lit(lo + span)),
        e.filter((F.col("ts") > F.lit(lo + span)) & (F.col("ts") <= F.lit(lo + 2 * span))),
        e.filter(F.col("ts") > F.lit(lo + 2 * span)),
    ]
    for i, part in enumerate(splits):
        tmp = os.path.join(stage, f"_w{i}")
        part.coalesce(1).write.parquet(tmp)
        src = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(stage, f"{i:03d}.parquet")
        shutil.move(os.path.join(tmp, src), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    out = streaming_ewma(
        spark, stage, schema=e.schema, alpha=0.3,
        query_name="q152_stream_out",
    )
    return out.select("event_id", "user_id", "ts", F.round("ewma", 6).alias("ewma"))


@register(
    "q153_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1997-06-30'
      AND l_shipdate > DATE '1997-06-30'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q153_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered customer
    joined into orders (unhinted — broadcast while it fits, shuffle at
    scale), date predicates pushed to both fact scans,
    decimal revenue per order, top-10 via TakeOrderedAndProject (per-
    partition k — no global sort). Deterministic tiebreak on l_orderkey."""
    from .functions.scalar import dec

    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-30").cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-30").cast("date")
    )
    joined = li.join(
        o.join(c, o.o_custkey == c.c_custkey),
        li.l_orderkey == o.o_orderkey,
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                dec("l_extendedprice", 18, 4) * dec(F.lit(1) - F.col("l_discount"), 18, 4)
            )
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q154_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
    GROUP BY 1
    """,
)
def q154_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): revenue where the customer
    and supplier share a nation inside one region — the classic snowflake
    with an extra cross-dimension equality. The 5-row ASIA nation slice
    broadcasts onto the customer and supplier legs BEFORE the fact joins
    (each shrinks ~5x); the pruned dimensions join unhinted — broadcast
    while they fit, shuffle at scale."""
    from .functions.scalar import dec

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # region(ASIA)→nation: a 5-row slice broadcast onto BOTH dimension
    # legs first, so customer and supplier shrink ~5x before any fact
    # join (same hand-routed selectivity as q12/q101 — Catalyst has no
    # CBO stats here to reorder by)
    asia = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    c2 = c.join(
        F.broadcast(asia.select(F.col("n_nationkey").alias("cn_key"))),
        c.c_nationkey == F.col("cn_key"),
        "left_semi",
    )
    s2 = s.join(F.broadcast(asia), s.s_nationkey == F.col("n_nationkey"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c2, o.o_custkey == F.col("c_custkey"))
        .join(
            s2,
            (li.l_suppkey == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return joined.groupBy("n_name").agg(
        F.sum(
            dec("l_extendedprice", 18, 4) * dec(F.lit(1) - F.col("l_discount"), 18, 4)
        )
        .cast("double")
        .alias("revenue")
    )


@register(
    "q155_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-04-01'
    GROUP BY 1, 2, 4, 5
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q155_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): lost revenue per customer
    from returned lineitems in one quarter — returnflag + date filters
    pushed to the fact scans, nation broadcast (customer unhinted), top-20 via
    TakeOrderedAndProject with a deterministic custkey tiebreak."""
    from .functions.scalar import dec

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                dec("l_extendedprice", 18, 4) * dec(F.lit(1) - F.col("l_discount"), 18, 4)
            )
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q156_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    """,
)
def q156_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (OR-of-ANDs predicate revenue, adapted to this
    schema's columns): the disjunction mixes columns from BOTH sides, so
    Catalyst can only push the per-side residuals (derived l_quantity ≤ 50
    and brand IN-list); the cross-side conjunctions evaluate post-join on
    the part join (unhinted, size-dispatched). Single-row decimal
    aggregate."""
    from .functions.scalar import dec

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#13") & sz.between(1, 15) & q.between(1, 20))
        | ((b == "Brand#20") & sz.between(10, 30) & q.between(10, 35))
        | ((b == "Brand#23") & sz.between(20, 50) & q.between(20, 50))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(
                dec("l_extendedprice", 18, 4) * dec(F.lit(1) - F.col("l_discount"), 18, 4)
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q157_product_profit",
    oracle="""
    SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS yr,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                         * CAST(1 - l_discount AS DECIMAL(18,4))
                       - CAST(p_retailprice AS DECIMAL(18,4))
                         * CAST(0.1 AS DECIMAL(18,4))
                         * CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q157_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year). This schema
    has no partsupp/ps_supplycost, so cost is modeled as 10% of
    p_retailprice per unit — the join topology (part name LIKE filter,
    supplier→nation rollup, order-year axis) and the mixed-sign decimal
    profit expression are the Q9 semantics under test. Part filter prunes
    before the join (unhinted, size-dispatched); one aggregate shuffle."""
    from .functions.scalar import dec

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    amount = dec("l_extendedprice", 18, 4) * dec(
        F.lit(1) - F.col("l_discount"), 18, 4
    ) - dec("p_retailprice", 18, 4) * dec(F.lit(0.1), 18, 4) * dec("l_quantity", 18, 4)
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("yr"),
    ).agg(F.sum(amount).cast("double").alias("profit"))


@register(
    "q158_bloom_join_prune",
    oracle="""
    SELECT l_orderkey, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
    GROUP BY 1
    """,
)
def q158_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (the hand-rolled public equivalent of
    Spark's runtime row-level filtering, operators/sketches.py): a 64 Kbit
    filter built from the selective orders side prunes ~all non-matching
    lineitem rows BEFORE the aggregation/join shuffle — at 100 TB the
    shuffle shrinks from |lineitem| to |matches| + ε false positives, for
    an 8 KB broadcast. A final exact semi join removes the false
    positives, so the result is exact and oracle-matched."""
    from .functions.scalar import dec_sum
    from .operators.sketches import bloom_literal_predicate, bloom_words

    li = load_table(spark, sf_dir, "lineitem")
    o_sel = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    )
    # words-level frame: the literal-predicate build collects <=1024 word rows
    bloom = bloom_words(o_sel, "o_orderkey")
    # literal-predicate form (Spark's own runtime-bloom move): the bit test
    # becomes a scan-level filter the optimizer cannot hoist above the semi
    # join — PLANS.md shows it in codegen directly above the lineitem scan,
    # below the exchange. The false-positive-removing semi join carries NO
    # join-strategy hint: Catalyst broadcasts the filtered orders side while
    # its stats fit autoBroadcastJoinThreshold (the honest fast path at
    # bench scale) and shifts to shuffle/sort-merge beyond it — the at-scale
    # regime is pinned by tests/test_round3_fixes.py, which re-plans with
    # the broadcast threshold disabled and asserts the SortMergeJoin.
    pruned = li.filter(
        bloom_literal_predicate(bloom, "l_orderkey")
    )
    exact = pruned.join(
        o_sel, pruned.l_orderkey == o_sel.o_orderkey, "left_semi"
    )
    return exact.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_sum("l_extendedprice").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Graph analytics: convergence diagnostics, triangle counting; set-
# similarity join; time-weighted average; Pareto contribution
# ---------------------------------------------------------------------------
@register(
    "q159_pagerank_convergence",
    oracle=_pagerank_oracle(5, _pagerank_diag_select(5)),
)
def q159_pagerank_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence diagnostics for iterative PageRank (same purchase graph
    as q136): per-iteration L1/L∞ deltas and the rank-mass invariant — how
    a production job picks its iteration budget instead of guessing.
    Oracle (promoted r06): the fixed 5-round power method unrolls into the
    same generated CTE chain as q136, with the per-round delta aggregates
    read off adjacent rounds; round-9 outputs absorb the engines'
    reduction-order float differences. The unit test additionally pins the
    deltas against a numpy power iteration and the ~damping contraction
    ratio."""
    from .operators.graph import pagerank_convergence

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    return pagerank_convergence(edges, iterations=5)


@register(
    "q160_triangle_count",
    oracle="""
    WITH pairs AS (
      SELECT l1.l_partkey AS a, l2.l_partkey AS b, COUNT(*) AS c
      FROM lineitem l1
      JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      GROUP BY 1, 2
    ), e AS (SELECT a AS u, b AS v FROM pairs WHERE c >= 2)
    SELECT
      (SELECT COUNT(*) FROM (SELECT u AS n FROM e UNION SELECT v FROM e)) AS n_nodes,
      (SELECT COUNT(*) FROM e) AS n_edges,
      (SELECT COUNT(*) FROM e e1
         JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
         JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) AS n_triangles
    """,
)
def q160_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the frequent-co-purchase graph (parts appearing
    together in ≥ 2 orders), via degree-ordered orientation
    (operators/graph.py::triangle_count): every node's out-degree is
    O(√m), so the wedge self-join cannot blow up on skewed degree
    distributions — the failure mode of the naive 3-way join the oracle
    runs. Same count, scale-safe shape."""
    from .operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem")
    from .operators.graph import copurchase_edges

    edges = copurchase_edges(li)
    return triangle_count(edges)


@register(
    "q161_jaccard_prefix_join",
    oracle="""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text, ' ')), '\\s+', ' ', 'g') AS t
      FROM documents
    ), tok AS (
      SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 8) AS token
      FROM norm, UNNEST(range(1, len(t) - 6)) AS u(i)
      WHERE len(t) >= 8
    ), sz AS (SELECT doc_id, COUNT(*) AS s FROM tok GROUP BY 1),
    inter AS (
      SELECT t1.doc_id AS id_a, t2.doc_id AS id_b, COUNT(*) AS i
      FROM tok t1
      JOIN tok t2 ON t1.token = t2.token AND t1.doc_id < t2.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / (s1.s + s2.s - i) AS jaccard
    FROM inter
    JOIN sz s1 ON s1.doc_id = id_a
    JOIN sz s2 ON s2.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (s1.s + s2.s - i) >= 0.8
    """,
)
def q161_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (SSJoin/PPJoin family)
    over distinct character 8-shingles: only each document's rarest
    ``|d|−⌈t·|d|⌉+1`` shingles become join keys (+ PPJoin length filter),
    so frequent features never drive the candidate join — the oracle's
    naive any-shared-token join is quadratic in feature frequency, the
    prefix join is not. Shingles (not words) because this corpus has a
    ~31-word vocabulary: with every word near-ubiquitous, word-set
    similarity degenerates toward all-pairs, while the shingle space stays
    selective. Threshold 0.8 is the design point: prefix length shrinks to
    ~0.2·|d| rarest shingles, so candidates stay near the true-pair count —
    prefix joins are the HIGH-threshold exact tool; for low thresholds the
    scale path is MinHash-LSH (q38). Exact verification on candidates ⇒
    identical result, exact and complete at the threshold."""
    from .functions.dedup import jaccard_prefix_pairs

    d = load_table(spark, sf_dir, "documents")
    return jaccard_prefix_pairs(d, "doc_id", "text", threshold=0.8, ngram=8)


@register(
    "q162_time_weighted_avg",
    oracle="""
    WITH stepped AS (
      SELECT user_id, value,
             CAST(epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           - ts) AS BIGINT) AS dur_us
      FROM events
    )
    SELECT user_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,6)) * dur_us) AS VARCHAR) AS DOUBLE)
             / SUM(dur_us) AS twa
    FROM stepped WHERE dur_us IS NOT NULL AND value IS NOT NULL
    GROUP BY 1
    """,
)
def q162_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user (sample-and-hold: each value holds
    until the user's next event): lead() duration in exact microseconds,
    decimal value·duration sums, one double division at the end — the
    right mean for irregularly sampled series, where the arithmetic mean
    over-weights bursts. One window + one aggregate shuffle."""
    from pyspark.sql import Window as W

    from .functions.scalar import dec

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = e.select(
        "user_id",
        "value",
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull() & F.col("value").isNotNull())
    return stepped.groupBy("user_id").agg(
        # try_divide: a user whose every event shares one timestamp has
        # zero total duration — NULL (no time to weight over), matching
        # the oracle's x/0 -> NULL instead of aborting the job
        F.try_divide(
            F.sum(dec("value", 28, 6) * F.col("dur_us")).cast("double"),
            F.sum("dur_us"),
        ).alias("twa")
    )


@register(
    "q163_pareto_contribution",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS revd
      FROM lineitem GROUP BY 1
    ), tot AS (SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4)))
                    AS VARCHAR) AS DOUBLE) AS t FROM lineitem)
    SELECT l_partkey,
           CAST(CAST(revd AS VARCHAR) AS DOUBLE) AS revenue,
           ROUND(CAST(CAST(SUM(revd) OVER (ORDER BY revd DESC, l_partkey)
                           AS VARCHAR) AS DOUBLE) / t, 6) AS cum_share,
           CASE WHEN CAST(CAST(SUM(revd) OVER (ORDER BY revd DESC, l_partkey)
                           AS VARCHAR) AS DOUBLE) / t
                     <= 0.8 THEN 1 ELSE 0 END AS in_top80
    FROM rev, tot
    """,
)
def q163_pareto_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC contribution analysis: per-part revenue, cumulative share
    of total in descending order, and the 80%-club flag. The running sum
    runs on the ALREADY-REDUCED per-part frame (|parts| rows, not
    |lineitem|) through global_running — |parts| still reaches 10^8 at
    100 TB, so the two-phase scan replaces the single-reducer
    Window.orderBy; the grand total rides along as a broadcast scalar,
    never a driver collect. The running sum stays DECIMAL through the
    scan (window-decimal harden rule): a double running sum would be
    addition-order-dependent, and the two-phase scan adds in a different
    order than the oracle's sequential window — decimals make both sides
    exact, the single double division happens once per row at the end."""
    from .functions.scalar import dec
    from .operators.windows import global_running

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice", 28, 4)).alias("revd")
    )
    gr = global_running(
        rev, [F.desc("revd"), F.asc("l_partkey")], sum_cols=["revd"]
    )
    # grand total from the per-part frame global_running already persisted
    # (sum of exact-decimal per-part sums == the lineitem sum) — a direct
    # li.agg would RESCAN the fact table, a second full 100 TB pass
    tot = gr.agg(F.sum("revd").cast("double").alias("t"))
    return (
        gr
        .crossJoin(F.broadcast(tot))
        .withColumn("cum", F.col("revd_cum").cast("double") / F.col("t"))
        .select(
            "l_partkey",
            F.col("revd").cast("double").alias("revenue"),
            F.round("cum", 6).alias("cum_share"),
            F.when(F.col("cum") <= 0.8, 1).otherwise(0).alias("in_top80"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming session windows (the merging stateful operator), Markov
# transitions, leave-one-out target encoding, k-fold CV as aggregate algebra
# ---------------------------------------------------------------------------
@register(
    "q164_streaming_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS is_new
      FROM events),
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n
    FROM sess GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 30 MINUTE <= (SELECT w FROM wm)
    """,
)
def q164_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows as a REAL stream — the merging stateful operator
    (open sessions extend/merge as events arrive; state finalizes when the
    watermark passes last_event + gap). Append mode emits each closed
    session exactly once; the oracle is q60's gaps-and-islands twin plus
    the watermark-cutoff HAVING (q95/q96 technique). Streaming twin of the
    batch q60."""
    import os

    from .streaming.windows import streaming_session_windows

    out = streaming_session_windows(
        spark, os.path.join(sf_dir, "events.parquet"),
        query_name="q164_stream_sess_out",
    )
    return out.select("user_id", "session_start", "session_end", "n")


@register(
    "q165_markov_transitions",
    oracle="""
    WITH pairs AS (
      SELECT event_type AS from_state,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_state
      FROM events
    ), cnt AS (
      SELECT from_state, to_state, COUNT(*) AS n
      FROM pairs WHERE to_state IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_state, to_state, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY from_state), 6) AS p
    FROM cnt
    """,
)
def q165_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    lead() pairs within user (one window shuffle on the raw frame), then
    counts and row-normalized probabilities — the normalizing window runs
    on the |states|² reduced frame. The sequence-model prior a
    training-data pipeline computes for session simulation / anomaly
    scoring."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("from_state"),
        F.lead("event_type").over(w).alias("to_state"),
    ).filter(F.col("to_state").isNotNull())
    cnt = pairs.groupBy("from_state", "to_state").agg(F.count(F.lit(1)).alias("n"))
    wn = W.partitionBy("from_state")
    return cnt.select(
        "from_state",
        "to_state",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wn), 6).alias("p"),
    )


@register(
    "q166_target_encoding_loo",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority,
             SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS s,
             COUNT(*) AS c
      FROM orders GROUP BY 1
    )
    SELECT o_orderkey, o.o_orderpriority,
           CASE WHEN c > 1 THEN
             CAST(CAST(s - CAST(o_totalprice AS DECIMAL(28,4)) AS VARCHAR) AS DOUBLE)
               / (c - 1)
           END AS te_loo
    FROM orders o JOIN g ON o.o_orderpriority = g.o_orderpriority
    """,
)
def q166_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe categorical
    encoder: each row's category is encoded as the target mean of all
    OTHER rows in the category, (Σ_grp − self)/(n_grp − 1). Group sums are
    one aggregate (|categories| rows, broadcast back); subtraction happens
    decimal-exact per row, one double division. NULL for singleton
    categories rather than a leaked self-mean."""
    from .functions.scalar import dec

    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.sum(dec("o_totalprice", 28, 4)).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    return (
        o.join(F.broadcast(g), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(
                F.col("c") > 1,
                (F.col("s") - dec("o_totalprice", 28, 4)).cast("double")
                / (F.col("c") - 1),
            ).alias("te_loo"),
        )
    )


@register(
    "q167_kfold_cv_ols",
    oracle="""
    WITH f AS (
      SELECT CAST(((CAST(l_orderkey AS HUGEINT) * 2654435761) % 5 + 5) % 5
                  AS INT) AS fold,
             -- 19,4: int128 storage so products are exact (DuckDB's int64
             -- multiply path overflows at 18,4); Spark side uses 18,4
             -- (decimal(37,8) products) — both exact, so values agree
             CAST(l_quantity AS DECIMAL(19,4)) AS x,
             CAST(l_extendedprice AS DECIMAL(19,4)) AS y
      FROM lineitem
    ), per_fold AS (
      SELECT fold, COUNT(*) AS n,
             SUM(x) AS dsx, SUM(y) AS dsy, SUM(x*x) AS dsxx,
             SUM(x*y) AS dsxy, SUM(y*y) AS dsyy
      FROM f GROUP BY 1
    ), tot AS (
      SELECT SUM(n) AS n, SUM(dsx) AS dsx, SUM(dsy) AS dsy,
             SUM(dsxx) AS dsxx, SUM(dsxy) AS dsxy, SUM(dsyy) AS dsyy
      FROM per_fold
    ), coefs AS (
      SELECT p.fold,
             p.n AS n_val,
             (t.n - p.n) AS n_tr,
             CAST(CAST(t.dsx - p.dsx AS VARCHAR) AS DOUBLE) AS sx_tr,
             CAST(CAST(t.dsy - p.dsy AS VARCHAR) AS DOUBLE) AS sy_tr,
             CAST(CAST(t.dsxx - p.dsxx AS VARCHAR) AS DOUBLE) AS sxx_tr,
             CAST(CAST(t.dsxy - p.dsxy AS VARCHAR) AS DOUBLE) AS sxy_tr,
             CAST(CAST(p.dsx AS VARCHAR) AS DOUBLE) AS sx_v,
             CAST(CAST(p.dsy AS VARCHAR) AS DOUBLE) AS sy_v,
             CAST(CAST(p.dsxx AS VARCHAR) AS DOUBLE) AS sxx_v,
             CAST(CAST(p.dsxy AS VARCHAR) AS DOUBLE) AS sxy_v,
             CAST(CAST(p.dsyy AS VARCHAR) AS DOUBLE) AS syy_v
      FROM per_fold p, tot t
    )
    SELECT fold, n_val,
           ROUND(slope, 6) AS slope, ROUND(intercept, 6) AS intercept,
           ROUND((syy_v - 2*intercept*sy_v - 2*slope*sxy_v
                  + n_val*intercept*intercept + 2*slope*intercept*sx_v
                  + slope*slope*sxx_v) / n_val, 6) AS val_mse
    FROM (
      SELECT *,
             (n_tr*sxy_tr - sx_tr*sy_tr) / (n_tr*sxx_tr - sx_tr*sx_tr) AS slope,
             (sy_tr - (n_tr*sxy_tr - sx_tr*sy_tr)
                      / (n_tr*sxx_tr - sx_tr*sx_tr) * sx_tr) / n_tr AS intercept
      FROM coefs
    )
    """,
)
def q167_kfold_cv_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validated simple OLS as PURE AGGREGATE ALGEBRA — the
    trick that makes CV scale: per-fold decimal-exact moment sums in ONE
    pass, train-fold sums derived as total − fold (no per-fold rescans, no
    row duplication into k train sets), closed-form slope/intercept per
    fold, and validation MSE expanded into the same moments
    (Σ(y−a−bx)² = Σy² − 2aΣy − 2bΣxy + na² + 2abΣx + b²Σx²). Fold
    assignment is a deterministic multiplicative hash (knuth_bucket:
    overflow-safe int64 congruence arithmetic — the old DECIMAL(38,0)
    multiply was a per-row BigDecimal op costing ~1 s of this query's
    2.1 s at sf0.1; values identical) — retry/repartition stable. One
    aggregate shuffle total for the whole 5-fold CV."""
    from .functions.scalar import dec
    from .operators.sampling import knuth_bucket

    li = load_table(spark, sf_dir, "lineitem")
    f = li.select(
        knuth_bucket("l_orderkey", buckets=5)
        .cast("int")
        .alias("fold"),
        dec("l_quantity", 18, 4).alias("x"),
        dec("l_extendedprice", 18, 4).alias("y"),
    )
    # decimal-exact moments per fold; totals and train-fold complements
    # stay decimal (order-independent) and convert to double ONCE
    per_fold = f.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("dsx"),
        F.sum("y").alias("dsy"),
        F.sum(F.col("x") * F.col("x")).alias("dsxx"),
        F.sum(F.col("x") * F.col("y")).alias("dsxy"),
        F.sum(F.col("y") * F.col("y")).alias("dsyy"),
    )
    tot = per_fold.agg(
        F.sum("n").alias("tn"), F.sum("dsx").alias("tsx"), F.sum("dsy").alias("tsy"),
        F.sum("dsxx").alias("tsxx"), F.sum("dsxy").alias("tsxy"),
        F.sum("dsyy").alias("tsyy"),
    )
    c = per_fold.crossJoin(F.broadcast(tot))
    n_tr = F.col("tn") - F.col("n")
    sx_tr = (F.col("tsx") - F.col("dsx")).cast("double")
    sy_tr = (F.col("tsy") - F.col("dsy")).cast("double")
    sxx_tr = (F.col("tsxx") - F.col("dsxx")).cast("double")
    sxy_tr = (F.col("tsxy") - F.col("dsxy")).cast("double")
    sx_v, sy_v = F.col("dsx").cast("double"), F.col("dsy").cast("double")
    sxx_v, sxy_v = F.col("dsxx").cast("double"), F.col("dsxy").cast("double")
    syy_v = F.col("dsyy").cast("double")
    slope = (n_tr * sxy_tr - sx_tr * sy_tr) / (n_tr * sxx_tr - sx_tr * sx_tr)
    intercept = (sy_tr - slope * sx_tr) / n_tr
    c = c.withColumn("slope_", slope).withColumn("intercept_", intercept)
    a, b = F.col("intercept_"), F.col("slope_")
    mse = (
        syy_v
        - 2 * a * sy_v
        - 2 * b * sxy_v
        + F.col("n") * a * a
        + 2 * a * b * sx_v
        + b * b * sxx_v
    ) / F.col("n")
    return c.select(
        "fold",
        F.col("n").alias("n_val"),
        F.round("slope_", 6).alias("slope"),
        F.round("intercept_", 6).alias("intercept"),
        F.round(mse, 6).alias("val_mse"),
    )


# ---------------------------------------------------------------------------
# Time-series decomposition, rolling anomaly detection, statistical LM
# scoring, histogram-sketch quantiles
# ---------------------------------------------------------------------------
@register(
    "q168_seasonal_decomposition",
    oracle="""
    WITH g AS (
      SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE)
               / COUNT(value) AS mu
      FROM events
    )
    SELECT CAST(EXTRACT(dow FROM ts) + 1 AS INT) AS dow,
           COUNT(value) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE)
             / COUNT(value) AS dow_mean,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE)
             / COUNT(value) - (SELECT mu FROM g) AS seasonal
    FROM events
    GROUP BY 1
    """,
)
def q168_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal decomposition by the seasonal-means method: day-of-week
    component = E[value | dow] − E[value] — the additive model's exact
    closed form under a constant trend, and the scalable first pass of an
    STL-style pipeline (residuals = value − trend − seasonal follow by one
    broadcast join). Two decimal-exact aggregates, one broadcast scalar."""
    from .functions.scalar import dec

    e = load_table(spark, sf_dir, "events")
    g = e.agg(
        (F.sum(dec("value", 28, 4)).cast("double") / F.count("value")).alias("mu")
    )
    dow = e.groupBy(F.dayofweek("ts").alias("dow")).agg(
        F.count("value").alias("n"),
        (F.sum(dec("value", 28, 4)).cast("double") / F.count("value")).alias(
            "dow_mean"
        ),
    )
    return dow.crossJoin(F.broadcast(g)).select(
        "dow", "n", "dow_mean", (F.col("dow_mean") - F.col("mu")).alias("seasonal")
    )


@register(
    "q169_rolling_zscore_anomalies",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, ts, value,
             CAST(value AS DECIMAL(19,6)) AS x
      FROM events WHERE value IS NOT NULL
    ), w AS (
      SELECT user_id, event_id, value,
             COUNT(*) OVER win AS n,
             CAST(CAST(SUM(x) OVER win AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(x*x) OVER win AS VARCHAR) AS DOUBLE) AS sxx
      FROM v
      WINDOW win AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 72 HOUR PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, z
    FROM (
      -- filter binds to the ROUNDED statistic (the alias, via the extra
      -- subquery) to match the engine, which rounds z for display and then
      -- filters — an unrounded z in (1.8, 1.8000005) must drop on BOTH sides
      SELECT user_id, event_id, ROUND(z, 6) + 0e0 AS z
      FROM (
        SELECT user_id, event_id,
               (value - sx/n) / SQRT((sxx - sx*sx/n) / (n-1)) AS z
        FROM w WHERE n >= 3 AND (sxx - sx*sx/n) > 1e-12
      )
    )
    WHERE ABS(z) > 1.8
    """,
)
def q169_rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: per-user 72-hour RANGE window,
    moments as DECIMAL window sums (order-independent — engine-native
    rolling stddev accumulates floats in engine-specific order and cannot
    hash-match), variance from the moment identity, flag |z| > 1.8. One
    window shuffle on (user, time); the frame never materializes, only
    its two running sums."""
    from pyspark.sql import Window as W

    from .functions.scalar import dec

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = e.select(
        "user_id", "event_id", "ts", "value", dec("value", 19, 6).alias("x")
    )
    win = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-72 * 3600 * 1_000_000, 0)
    )
    w = v.select(
        "user_id",
        "event_id",
        "value",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("x").over(win).cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(win).cast("double").alias("sxx"),
    )
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    z = (F.col("value") - F.col("sx") / F.col("n")) / F.sqrt(var)
    return (
        w.filter(
            (F.col("n") >= 3)
            & ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) > 1e-12)
        )
        .select("user_id", "event_id", round_disp(z, 6).alias("z"))
        .filter(F.abs(F.col("z")) > 1.8)
    )


@register(
    "q170_char_lm_score",
    oracle="""
    WITH chars AS (
      SELECT doc_id, c
      FROM (SELECT doc_id, unnest(string_split(lower(text), '')) AS c
            FROM documents)
      WHERE (c BETWEEN 'a' AND 'z') OR c = ' '
    ), tot AS (SELECT COUNT(*) AS t FROM chars),
    model AS (
      SELECT c,
             CAST(ROUND(LN(COUNT(*) * 1.0 / (SELECT t FROM tot)), 9)
                  AS DECIMAL(12,9)) AS lnp
      FROM chars GROUP BY 1
    ), dc AS (
      SELECT doc_id, c, COUNT(*) AS n FROM chars GROUP BY 1, 2
    )
    SELECT doc_id,
           ROUND(CAST(CAST(SUM(n * lnp) AS VARCHAR) AS DOUBLE) / SUM(n), 6)
             + 0e0 AS avg_logprob
    FROM dc JOIN model USING (c)
    GROUP BY 1
    """,
)
def q170_char_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical language-model quality scoring: train a character
    unigram model on the corpus (probabilities = exact count ratios), score
    each document by its average log-probability — the cheap perplexity proxy
    used to rank corpus quality before an expensive model pass. Exactness
    trick: per-char ln quantized to DECIMAL(12,9) so the per-doc weighted
    sum is order-independent; the model table (≤ 27 rows) broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "")).alias("c")
    ).filter(((F.col("c") >= "a") & (F.col("c") <= "z")) | (F.col("c") == " "))
    tot = chars.agg(F.count(F.lit(1)).alias("t"))
    model = (
        chars.groupBy("c")
        .agg(F.count(F.lit(1)).alias("cn"))
        .crossJoin(F.broadcast(tot))
        .select(
            "c",
            F.round(F.log(F.col("cn") * 1.0 / F.col("t")), 9)
            .cast("decimal(12,9)")
            .alias("lnp"),
        )
    )
    dc = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    return (
        dc.join(F.broadcast(model), "c")
        .groupBy("doc_id")
        .agg(
            round_disp(
                F.sum(F.col("n") * F.col("lnp")).cast("double") / F.sum("n"), 6
            ).alias("avg_logprob")
        )
    )


@register(
    "q171_histogram_quantiles",
    oracle="""
    WITH ext AS (
      SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
      FROM lineitem
    ),
    grid AS (
      SELECT lo, hi,
             CASE WHEN (hi - lo) / 128 = 0 THEN 1.0
                  ELSE (hi - lo) / 128 END AS width
      FROM ext
    ),
    hist AS (
      SELECT LEAST(CAST(FLOOR((l_extendedprice - g.lo) / g.width) AS INT),
                   127) AS bin,
             COUNT(*) AS cnt
      FROM lineitem, grid g
      WHERE l_extendedprice IS NOT NULL
      GROUP BY 1
    ),
    cum AS (
      SELECT bin, cnt,
             SUM(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS c,
             SUM(cnt) OVER () AS n
      FROM hist
    ),
    qs AS (
      SELECT CAST(q AS DOUBLE) AS q
      FROM (VALUES (0.25), (0.5), (0.9), (0.99)) AS t(q)
    ),
    hit AS (
      SELECT q, bin, cnt, c - cnt AS cum_prev, q * n AS rk,
             ROW_NUMBER() OVER (PARTITION BY q ORDER BY bin) AS rn
      FROM qs JOIN cum ON CAST(c AS DOUBLE) >= q * n
    )
    SELECT q,
           g.lo + (bin + GREATEST(LEAST((rk - cum_prev) / cnt, 1.0), 0.0))
                  * g.width AS est
    FROM hit, grid g
    WHERE rn = 1
    ORDER BY q
    """,
)
def q171_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a mergeable fixed-width histogram
    (operators/sketches.py): the full pass shuffles ≤ bins rows, daily
    histograms on the same grid merge by summing, and the estimate carries
    the deterministic bound |est − exact| ≤ (hi−lo)/bins — pinned against
    the exact percentile in tests. Approximate relative to the exact
    percentile, but DETERMINISTIC given the grid — the oracle (promoted
    r06) replays the same fixed-width binning + cumulative interpolation
    in SQL, identical IEEE expression order throughout."""
    from .operators.sketches import histogram_build, histogram_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    hist, lo, hi = histogram_build(li, "l_extendedprice", bins=128)
    return histogram_quantiles(hist, lo, hi, 128, [0.25, 0.5, 0.9, 0.99])


# ---------------------------------------------------------------------------
# ANN recall self-evaluation, grouped winsorize, surrogate keys, corpus
# curation funnel
# ---------------------------------------------------------------------------
@register(
    "q172_ann_recall",
    # Oracle (promoted r09): follows q42's promotion for free — both the
    # approx and exact sides are deterministic data functions, so the
    # self-eval recall is too (functions/similarity.py::
    # ann_recall_oracle_sql).
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.functions.similarity", fromlist=["x"]
    ).ann_recall_oracle_sql(
        table="embeddings", query_filter="vec_id < 5",
        k=10, dim=64, num_bits=16, bands=4,
    ),
)
def q172_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the SRP-LSH ANN path (q42) against the exact
    brute-force ground truth (q41), per query — the self-evaluation loop a
    production ANN deployment runs on a sampled query set to tune
    bits/bands before trusting the index at full scale. Join on
    (query, neighbor), count hits / k. Oracle-paired since r09 (the q42
    sign-bit replay makes the approx side externally computable); the
    unit tests keep pinning recall floors independently."""
    from .functions.similarity import cosine_topk, lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, q, k=10, query_id="query_id").select(
        "query_id", "vec_id"
    )
    approx = lsh_topk(emb, q, k=10, dim=64, num_bits=16, bands=4).select(
        "query_id", "vec_id"
    )
    hits = exact.join(approx, ["query_id", "vec_id"], "left_semi")
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            (F.coalesce("hit", F.lit(0)) / F.col("k")).alias("recall_at_10"),
        )
    )


@register(
    "q173_grouped_winsorize",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.05) AS p05,
             quantile_cont(o_totalprice, 0.95) AS p95
      FROM orders GROUP BY 1
    )
    SELECT o_orderkey, o.o_orderpriority,
           CASE WHEN o_totalprice < p05 THEN p05
                WHEN o_totalprice > p95 THEN p95
                ELSE o_totalprice END AS price_winsorized,
           CAST(o_totalprice < p05 OR o_totalprice > p95 AS INT) AS was_capped
    FROM orders o JOIN b ON o.o_orderpriority = b.o_orderpriority
    """,
)
def q173_grouped_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (P4's outlier cap, generalized to per-group
    exact percentile fences): group p05/p95 via exact interpolated
    percentile on the |groups|-sized aggregate, broadcast back, clamp.
    The robust-preprocessing step before fitting anything on heavy-tailed
    money columns."""
    o = load_table(spark, sf_dir, "orders")
    b = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("p05"),
        F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
    )
    return o.join(F.broadcast(b), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        F.when(F.col("o_totalprice") < F.col("p05"), F.col("p05"))
        .when(F.col("o_totalprice") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("o_totalprice"))
        .alias("price_winsorized"),
        (
            (F.col("o_totalprice") < F.col("p05"))
            | (F.col("o_totalprice") > F.col("p95"))
        )
        .cast("int")
        .alias("was_capped"),
    )


@register(
    "q174_surrogate_keys",
    oracle="""
    SELECT ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS sk,
           o_orderkey, o_orderdate
    FROM orders
    WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-02-01'
    """,
)
def q174_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous ordered surrogate keys for a dimension load: row_number
    over (date, natural key). The unpartitioned window is confined to the
    incremental slice (one month), which is the realistic warehouse load
    unit; for full-table backfills use zipWithIndex-style per-partition
    offsets (monotonically_increasing_id + partition-count prefix sums)
    instead of a single-reducer sort."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-02-01").cast("date"))
    )
    w = W.orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.row_number().over(w).alias("sk"), "o_orderkey", "o_orderdate"
    )


@register(
    "q175_curation_funnel",
    oracle="""
    WITH s0 AS (SELECT doc_id, text, lang, n_chars FROM documents),
    s1 AS (SELECT * FROM s0 WHERE lang IN ('en', 'fr')),
    s2 AS (SELECT * FROM s1 WHERE n_chars BETWEEN 200 AND 20000),
    s3 AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM s2) WHERE rn = 1
    ),
    s4 AS (
      SELECT * FROM s3
      WHERE len(string_split(text, ' ')) BETWEEN 40 AND 4000
    )
    SELECT 1 AS stage, 'raw' AS name, (SELECT COUNT(*) FROM s0) AS remaining
    UNION ALL SELECT 2, 'lang_filter', (SELECT COUNT(*) FROM s1)
    UNION ALL SELECT 3, 'length_filter', (SELECT COUNT(*) FROM s2)
    UNION ALL SELECT 4, 'exact_dedup', (SELECT COUNT(*) FROM s3)
    UNION ALL SELECT 5, 'token_budget', (SELECT COUNT(*) FROM s4)
    """,
)
def q175_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-curation funnel end-to-end — language filter → length
    filter → exact dedup (content hash, keep-min-id) → token budget — with
    per-stage survivor counts, the report a training-data pipeline emits
    per snapshot. Stages compose lazily into ONE job; each count is a
    thin aggregate over the shared lineage (Spark reuses the scan via
    whole-stage pipelines, and at 100 TB you'd cache s2 once)."""
    d = load_table(spark, sf_dir, "documents")
    s1 = d.filter(F.col("lang").isin("en", "fr"))
    s2 = s1.filter(F.col("n_chars").between(200, 20000))
    from pyspark.sql import Window as W

    s3 = (
        s2.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy(F.md5("text")).orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    s4 = s3.filter(F.size(F.split("text", " ")).between(40, 4000))
    stages = [
        (1, "raw", d),
        (2, "lang_filter", s1),
        (3, "length_filter", s2),
        (4, "exact_dedup", s3),
        (5, "token_budget", s4),
    ]
    out = None
    for stage, name, frame in stages:
        row = frame.agg(F.count(F.lit(1)).alias("remaining")).select(
            F.lit(stage).alias("stage"), F.lit(name).alias("name"), "remaining"
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Round 3: sequence packing, incremental corpus dedup, Gopher quality rules,
# domain mixture resampling, embedding quantization, and the remaining
# TPC-H join/agg shapes (Q4/Q13/Q15/Q16/Q17 analogs on the driver tables)
# ---------------------------------------------------------------------------
@register(
    "q176_sequence_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split(lower(trim(text, ' ')), ' '),
                                  w -> w <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS tok_offset
      FROM t
    )
    SELECT doc_id, source, n_tokens, tok_offset,
           CAST(FLOOR(tok_offset / 512.0) AS BIGINT) AS pack_start,
           CAST(FLOOR((tok_offset + GREATEST(n_tokens - 1, 0)) / 512.0) AS BIGINT)
             AS pack_end
    FROM c
    """,
)
def q176_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-then-chunk sequence packing (operators/packing.py):
    documents laid end-to-end per source stream and cut every 512 tokens —
    per-doc token offsets and the pack span, as pure window-cumsum
    arithmetic. One shuffle on the stream key; the per-source window keeps
    the sequential dependency inside natural training shards instead of a
    single global ordering (which would serialize the corpus at 100 TB)."""
    from .operators.packing import concat_chunk_packing

    d = load_table(spark, sf_dir, "documents")
    return concat_chunk_packing(d, "doc_id", "text", budget=512, group_col="source")


@register(
    "q177_greedy_packing",
    oracle="""
    WITH base AS (
      SELECT doc_id AS id,
             CAST(list_reduce(
               list_transform(
                 string_split_regex(
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) % 32 AS INT) AS bucket,
             CAST(len(list_filter(
               string_split_regex(lower(trim(text, ' ')), '\\s+'),
               t -> t != '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    pre AS (
      SELECT id, bucket, n_tokens,
             list(n_tokens) OVER (PARTITION BY bucket ORDER BY id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS prefix
      FROM base
    )
    SELECT id, bucket, n_tokens,
           list_reduce(
             list_transform(prefix, x -> [CAST(0 AS BIGINT), x]),
             (acc, v) -> CASE WHEN acc[2] > 0 AND acc[2] + v[2] > 512
                              THEN [acc[1] + 1, v[2]]
                              ELSE [acc[1], acc[2] + v[2]] END
           )[1] AS pack_id
    FROM pre
    """,
)
def q177_greedy_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split greedy bin packing into 512-token packs, sharded across 32
    hash buckets (operators/packing.py::greedy_pack). The greedy scan is
    inherently sequential, so it runs per bucket in an Arrow-batched
    applyInPandas — the worker-sharded packing discipline real training
    pipelines use. Oracle (promoted r06): the scan state is two INTEGERS
    (pack, fill), so DuckDB replays it exactly as a per-row prefix fold —
    no float anywhere; the md5-derived bucket (see greedy_pack) is
    computed identically by both engines. Semantics also pinned by
    tests/test_packing_curation.py (budget respected, packs contiguous,
    deterministic)."""
    from .operators.packing import greedy_pack

    d = load_table(spark, sf_dir, "documents")
    return greedy_pack(d, "doc_id", "text", budget=512, num_buckets=32)


@register(
    "q178_incremental_dedup",
    oracle="""
    WITH new_batch AS (
      SELECT doc_id, regexp_replace(lower(trim(text, ' ')), '\\s+', ' ', 'g') AS norm
      FROM documents WHERE doc_id % 5 = 0
    ), corpus AS (
      SELECT DISTINCT regexp_replace(lower(trim(text, ' ')), '\\s+', ' ', 'g') AS norm
      FROM documents WHERE doc_id % 5 <> 0
    )
    SELECT n.doc_id FROM new_batch n
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.norm = n.norm)
    """,
)
def q178_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the production shape: an arriving batch is
    deduplicated AGAINST the existing corpus (not the corpus against
    itself). Anti join on the 64-bit normalized-text fingerprint: the
    shuffle carries 8-byte keys for the corpus side, never document text,
    and only the (small) new batch is fully rescanned — at 100 TB the
    corpus side is a pre-computed fingerprint table and each increment
    costs O(|batch| + |corpus keys|). The oracle anti-joins on the
    normalized text itself: identical result unless two distinct
    normalized docs collide in 64 bits (P ≈ |corpus|²/2⁶⁵ — and the
    comparison would surface it)."""
    from .functions.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    new_batch = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    corpus_fp = corpus.select(fingerprint("text").alias("__fp")).distinct()
    return (
        new_batch.withColumn("__fp", fingerprint("text"))
        .join(corpus_fp, "__fp", "left_anti")
        .select("doc_id")
    )


@register(
    "q179_gopher_rules",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(trim(text, ' ')), ' '),
                                w -> w <> '')) AS word
      FROM documents
    ), agg AS (
      SELECT doc_id, COUNT(*) AS nw, COUNT(DISTINCT word) AS n_distinct,
             SUM(LEN(word)) AS sum_len
      FROM words GROUP BY 1
    )
    SELECT d.doc_id, COALESCE(nw, 0) AS n_words,
           ROUND(sum_len / CAST(COALESCE(nw, 0) AS DOUBLE), 6) AS mean_word_len,
           ROUND(1.0 - n_distinct / CAST(COALESCE(nw, 0) AS DOUBLE), 6)
             AS dup_word_frac,
           (COALESCE(nw, 0) BETWEEN 10 AND 100000)
             AND (ROUND(sum_len / CAST(COALESCE(nw, 0) AS DOUBLE), 6)
                  BETWEEN 2.0 AND 12.0)
             AND (ROUND(1.0 - n_distinct / CAST(COALESCE(nw, 0) AS DOUBLE), 6)
                  <= 0.6)
             AS passes
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
)
def q179_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule report (operators/textstats.py::
    gopher_quality_report): token count, mean word length, repeated-word
    share, and the combined pass verdict per document — the cheap
    first-pass curation filter. One explode → one doc-keyed shuffle, all
    builtin expressions."""
    from .operators.textstats import gopher_quality_report

    d = load_table(spark, sf_dir, "documents")
    return gopher_quality_report(d, "doc_id", "text")


@register(
    "q180_domain_mixture_sample",
    oracle="""
    WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
    m AS (SELECT CAST(CEIL(MIN(n) * 0.4) AS BIGINT) AS m FROM c),
    r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ((CAST(doc_id AS HUGEINT) * 2654435761) % 10000
                         + 10000) % 10000, doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source FROM r, m WHERE rn <= m.m
    """,
)
def q180_domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling for training-set composition: every source
    (domain) is deterministically downsampled to the same budget —
    ceil(0.4 × the smallest domain's size) — by ranking docs on a Knuth
    multiplicative hash (content-independent, retry-stable, no RNG state).
    One count aggregate (|domains| rows, broadcast back) + one window
    shuffle keyed by domain. The exact-k-per-stratum discipline of q123
    applied to the mixture-balancing problem every pretraining corpus
    has."""
    from pyspark.sql import Window as W

    from .operators.sampling import knuth_bucket

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    m = counts.agg(
        F.ceil(F.min("n") * F.lit(0.4)).cast("long").alias("m")
    )
    h = knuth_bucket("doc_id")
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number()
        .over(W.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc()))
        .alias("rn"),
    )
    return (
        ranked.join(F.broadcast(m), ranked.rn <= m.m)
        .select("doc_id", "source")
    )


@register(
    "q181_order_count_distribution",
    oracle="""
    WITH cnt AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY 1
    )
    SELECT c_count, COUNT(*) AS custdist FROM cnt GROUP BY 1
    """,
)
def q181_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: orders-per-customer distribution including
    zero-order customers (left outer join, COUNT of the nullable side,
    then a count-of-counts). Two shuffles, both keyed on genuinely needed
    keys; the second aggregates |customers| rows down to the distinct
    count values."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cnt = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return cnt.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q182_small_qty_revenue",
    oracle="""
    WITH avgq AS (SELECT l_partkey, AVG(l_quantity) AS a FROM lineitem GROUP BY 1)
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS small_rev,
           COUNT(*) AS n_small
    FROM lineitem JOIN avgq USING (l_partkey)
    WHERE l_quantity < 0.5 * a
    GROUP BY 1
    """,
)
def q182_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue of below-half-average-quantity line items,
    per part. The correlated scalar subquery becomes a per-part aggregate
    joined back to the fact table — the decorate-with-own-aggregate shape
    (J1) at TPC-H scale. The per-part average table is |parts| rows (the
    optimizer broadcasts it while it fits; plain shuffle join beyond).
    AVG of integral quantities is exact in doubles, so the 0.5·avg
    comparison is engine-stable."""
    from .functions.scalar import dec_sum

    li = load_table(spark, sf_dir, "lineitem")
    avgq = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("a"))
    return (
        li.join(avgq, "l_partkey")
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("a"))
        .groupBy("l_partkey")
        .agg(
            dec_sum("l_extendedprice").alias("small_rev"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@register(
    "q183_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * CAST(1 - l_discount AS DECIMAL(18,4))) AS r
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name,
           CAST(CAST(r AS VARCHAR) AS DOUBLE) AS total_revenue
    FROM rev JOIN supplier ON s_suppkey = l_suppkey
    WHERE r = (SELECT MAX(r) FROM rev)
    """,
)
def q183_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue per supplier, return the
    supplier(s) achieving the maximum (ties kept, per spec). The MAX
    scalar subquery is a 1-row global aggregate broadcast back onto the
    |suppliers|-row frame (NOT an unpartitioned window MAX, which would
    funnel the whole frame through one task); the equality test happens
    on EXACT decimals (cast to double only for output), so no
    float-boundary flakiness."""
    from .functions.scalar import dec

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    rev = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                dec("l_extendedprice", 18, 4)
                * dec(F.lit(1) - F.col("l_discount"), 18, 4)
            ).alias("r")
        )
    )
    mx = rev.agg(F.max("r").alias("__mx"))
    top = rev.crossJoin(F.broadcast(mx)).filter(F.col("r") == F.col("__mx"))
    return (
        top.join(s, top.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("r").cast("double").alias("total_revenue"),
        )
    )


@register(
    "q184_priority_late_orders",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 30 DAY
    )
    GROUP BY 1
    """,
)
def q184_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one line item shipped > 30 days
    after the order date, counted by priority. The EXISTS compiles to a
    LEFT SEMI join (no row duplication however many line items are late)
    with the date arithmetic in the join condition; one aggregate shuffle
    on the 5-value priority key afterwards."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@register(
    "q185_parts_supplier_counts",
    oracle="""
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2
    """,
)
def q185_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per part brand/size,
    excluding deficit-balance suppliers via an ANTI join (never NOT IN on
    a subquery at scale — anti joins stream, NOT IN null-semantics force
    a nullable cross check). COUNT(DISTINCT) runs as Spark's standard
    two-phase expand — exact, shuffle keyed by (brand, size, suppkey)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q186_market_share",
    oracle="""
    WITH rev AS (
      SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
             n2.n_name AS supp_nation,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * CAST(1 - l_discount AS DECIMAL(18,4))) AS r
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
      GROUP BY 1, 2
    )
    SELECT yr,
           ROUND(CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN r
                                    ELSE 0 END) AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(SUM(r) AS VARCHAR) AS DOUBLE), 6) AS mkt_share
    FROM rev GROUP BY 1
    """,
)
def q186_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_7's share of revenue from ASIA-region
    customers, per order year. The ASIA nation slice semi-prunes customer
    ~5x before the orders join; supplier joins unhinted with a 25-row
    name decoration; revenue accumulates in exact decimals per (year, supplier
    nation) — |years|×|nations| rows — and the share division is the only
    float step (round6). Conditional aggregation replaces a second scan."""
    from .functions.scalar import dec

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # ASIA→nation slice prunes CUSTOMER to 1/5 before the orders join
    # (hand-routed selectivity, q12/q101/q154 doctrine); the supplier leg
    # keeps all nations — supp_nation is the output axis — so it only
    # gets the 25-row name decoration
    asia_keys = (
        n.join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            n.n_regionkey == r.r_regionkey,
        )
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    c2 = c.join(
        F.broadcast(asia_keys), c.c_nationkey == F.col("cn_key"), "left_semi"
    )
    s2 = s.join(
        F.broadcast(
            n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name"))
        ),
        s.s_nationkey == F.col("sn_key"),
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c2, o.o_custkey == F.col("c_custkey"))
        .join(s2, li.l_suppkey == F.col("s_suppkey"))
    )
    amount = dec("l_extendedprice", 18, 4) * dec(
        F.lit(1) - F.col("l_discount"), 18, 4
    )
    rev = joined.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.col("n_name").alias("supp_nation"),
    ).agg(F.sum(amount).alias("r"))
    return rev.groupBy("yr").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_7", F.col("r")).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / F.sum("r").cast("double"),
            6,
        ).alias("mkt_share")
    )


@register(
    "q187_embedding_quantize",
    oracle="""
    WITH t AS (
      SELECT vec_id, embedding,
             CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
               AS am
      FROM embeddings
    )
    SELECT vec_id,
           ROUND(am / 127.0, 6) AS scale,
           CAST(u.pos AS BIGINT) AS pos,
           CASE WHEN am > 0 THEN
             GREATEST(-127, LEAST(127,
               CAST(ROUND(CAST(u.val AS DOUBLE) / (am / 127.0)) AS INT)))
           ELSE 0 END AS qval
    FROM t,
         LATERAL (SELECT generate_subscripts(embedding, 1) AS pos,
                         unnest(embedding) AS val) u
    """,
)
def q187_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column
    (functions/similarity.py::quantize_int8) — the 4× memory reduction
    every large-scale ANN index applies before serving. Pure higher-order
    array expressions, zero shuffles: embarrassingly row-parallel, the
    shape you want over 10^11 vectors.

    Driver contract: the quantized vector is posexploded to scalar
    ``(vec_id, scale, pos, qval)`` rows — the driver's canonicalizer
    hash-sorts cells and cannot hash an array cell (the r04 q187 `err`,
    same failure mode as r03's q133, fixed the same way q58/q64/q133
    already flatten their arrays). quantize_int8 itself still returns the
    array form for engine callers (q193/q207 consume it directly).

    Local-bench caveat (the q202 single-split pattern): the small-SF
    embeddings table arrives as ONE parquet split, so the CPU-bound array
    transform would run on 1 of 32 cores; repartition to the default
    parallelism first. At 100 TB the input is thousands of splits and the
    repartition is unnecessary (and this round-robin exchange would be
    dropped), but on one split it converts a serialized stage into a
    parallel one."""
    from .functions.similarity import quantize_int8

    e = load_table(spark, sf_dir, "embeddings")
    if e.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        e = e.repartition(spark.sparkContext.defaultParallelism)
    q = quantize_int8(e, "embedding", "vec_id")
    return q.select(
        "vec_id",
        "scale",
        F.posexplode("qvec").alias("pos0", "qval"),
    ).select(
        "vec_id",
        "scale",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.col("qval").cast("int").alias("qval"),
    )


@register(
    "q188_token_budget",
    oracle="""
    WITH t AS (
      SELECT source,
             CAST(len(list_filter(string_split(lower(trim(text, ' ')), ' '),
                                  w -> w <> '')) AS BIGINT) AS n
      FROM documents
    ), agg AS (
      SELECT source, COUNT(*) AS n_docs, SUM(n) AS n_tokens FROM t GROUP BY 1
    ), tot AS (SELECT SUM(n_tokens) AS tt FROM agg)
    SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(n_tokens / CAST(tt AS DOUBLE), 6) AS token_share
    FROM agg, tot
    """,
)
def q188_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting per source — the bookkeeping every
    pretraining mixture starts from: docs, tokens, and each domain's share
    of the total token budget. One doc-keyed map + one |domains|-row
    aggregate; the grand total arrives via a one-row broadcast (no second
    scan)."""
    from .functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    agg = (
        d.select("source", token_count("text").cast("long").alias("n"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_tokens"))
    )
    tot = agg.agg(F.sum("n_tokens").alias("tt"))
    return agg.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("tt").cast("double"), 6).alias(
            "token_share"
        ),
    )


@register(
    "q189_neardup_clusters",
    # Oracle (promoted r09): same replay chain as q78 at this query's
    # (64, 16, 0.7) config, plus the canonical-pick window.
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.functions.dedup", fromlist=["x"]
    ).neardup_clusters_oracle_sql(
        "documents", "doc_id", "text", num_hashes=64, bands=16, threshold=0.7
    ),
)
def q189_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-duplicate CLUSTERING — the composition a real corpus
    cleaner runs: MinHash-LSH candidate pairs (q38) → connected components
    (q78's pointer-jumping label propagation) → one canonical representative
    per cluster (lowest doc id; production would rank by quality score).
    Emits (cluster, doc_id, is_canonical) for every doc in a non-trivial
    cluster. md5_affine family since r09 ⇒ the full composition replays in
    SQL (functions/dedup.py::neardup_clusters_oracle_sql)."""
    from pyspark.sql import Window as W

    from .functions.dedup import connected_components, minhash_dedup_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(
        d, "text", "doc_id", threshold=0.7, hash_family="md5_affine"
    )
    comp = connected_components(pairs.select("id_a", "id_b"))  # (id, component)
    id_col, comp_col = comp.columns[0], comp.columns[1]
    w = W.partitionBy(comp_col).orderBy(F.asc(id_col))
    return (
        comp.withColumn("rn", F.row_number().over(w))
        .select(
            F.col(comp_col).alias("cluster"),
            F.col(id_col).alias("doc_id"),
            (F.col("rn") == 1).alias("is_canonical"),
        )
    )


@register(
    "q190_corpus_overlap",
    oracle="""
    WITH a AS (
      SELECT DISTINCT regexp_replace(lower(trim(text, ' ')), '\\s+', ' ', 'g') AS n
      FROM documents WHERE doc_id % 2 = 0
    ), b AS (
      SELECT DISTINCT regexp_replace(lower(trim(text, ' ')), '\\s+', ' ', 'g') AS n
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT (SELECT COUNT(*) FROM a) AS n_a,
           (SELECT COUNT(*) FROM b) AS n_b,
           (SELECT COUNT(*) FROM a JOIN b USING (n)) AS n_common,
           ROUND((SELECT COUNT(*) FROM a JOIN b USING (n))
                 / CAST((SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b)
                        - (SELECT COUNT(*) FROM a JOIN b USING (n)) AS DOUBLE),
                 6) AS jaccard
    """,
)
def q190_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level overlap between two corpora (even/odd halves here):
    distinct-document counts, common documents, and corpus Jaccard — the
    train/eval corpus-contamination summary. ONE scan: each document
    reduces to (8-byte fingerprint, side flag); a single fingerprint-keyed
    aggregate yields per-fingerprint membership bits, and one final
    aggregate folds them into all three counts — no join, no repeated
    corpus passes, shuffle carries longs, never text; the oracle
    reproduces it on normalized strings."""
    from .functions.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    per_fp = (
        d.select(
            fingerprint("text").alias("fp"),
            (F.col("doc_id") % 2 == 0).alias("ea"),
        )
        .groupBy("fp")
        .agg(
            F.max(F.when(F.col("ea"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(~F.col("ea"), 1).otherwise(0)).alias("in_b"),
        )
    )
    stats = per_fp.agg(
        # coalesce-to-0: these are COUNTS of membership bits — an empty
        # corpus has 0 distinct docs, not NULL (the oracle's COUNT(*)
        # agrees); try_divide keeps the 0/0 Jaccard NULL, not a crash
        F.coalesce(F.sum("in_a"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("in_b"), F.lit(0)).cast("long").alias("n_b"),
        F.coalesce(F.sum(F.col("in_a") * F.col("in_b")), F.lit(0))
        .cast("long")
        .alias("n_common"),
    )
    return stats.select(
        "n_a",
        "n_b",
        "n_common",
        F.round(
            F.try_divide(
                F.col("n_common"),
                (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
            ),
            6,
        ).alias("jaccard"),
    )


@register(
    "q191_top_quality_per_domain",
    oracle="""
    WITH words AS (
      SELECT doc_id, source,
             unnest(list_filter(string_split(lower(trim(text, ' ')), ' '),
                                w -> w <> '')) AS word
      FROM documents
    ), agg AS (
      SELECT doc_id, source, COUNT(*) AS n_words, COUNT(DISTINCT word) AS nd
      FROM words GROUP BY 1, 2
    ), scored AS (
      SELECT doc_id, source,
             ROUND(nd / CAST(n_words AS DOUBLE), 6) AS lex_diversity,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ROUND(nd / CAST(n_words AS DOUBLE), 6) DESC, doc_id
             ) AS rn
      FROM agg
    )
    SELECT doc_id, source, lex_diversity FROM scored WHERE rn <= 5
    """,
)
def q191_top_quality_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked selection per domain: score every document (lexical
    diversity = distinct/total tokens, round6) and keep each source's top 5
    — the 'best-of-domain' curation pass. Score is one explode→groupBy;
    selection is a per-domain window (never a global sort), deterministic
    tiebreak on doc id."""
    from pyspark.sql import Window as W

    from .functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", "source", F.explode(tokens("text")).alias("word"))
    agg = words.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.countDistinct("word").alias("nd"),
    )
    score = F.round(F.col("nd") / F.col("n_words").cast("double"), 6)
    scored = agg.select("doc_id", "source", score.alias("lex_diversity"))
    w = W.partitionBy("source").orderBy(
        F.desc("lex_diversity"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@register(
    "q192_streaming_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q192_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication via dropDuplicatesWithinWatermark: each
    (user, event_type) emitted once per watermark horizon, with key state
    EVICTED as the watermark passes (plain dropDuplicates on key columns
    alone never evicts and grows without bound on an unbounded stream). On
    this bounded replay the watermark only advances after the final batch,
    so nothing expires mid-run and the emitted key SET equals batch
    DISTINCT — the oracle; which physical row arrived first is
    micro-batch-order dependent and deliberately not part of the
    contract (only key columns are emitted)."""
    import os

    from .streaming.windows import streaming_dedup_keys

    return streaming_dedup_keys(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        keys=["user_id", "event_type"],
        query_name="q192_stream_dedup_out",
    )


@register(
    "q193_quantized_ann_recall",
    # Oracle (promoted r09): the q187 quantization replay + the q41 exact
    # re-rank compose into a full replay of this eval
    # (functions/similarity.py::quantized_recall_oracle_sql).
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.functions.similarity", fromlist=["x"]
    ).quantized_recall_oracle_sql(
        table="embeddings", query_filter="vec_id < 5", k=10
    ),
)
def q193_quantized_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of exact cosine search over the INT8-QUANTIZED corpus
    (q187's representation) against float ground truth (q41) — the
    evaluation that decides whether the 4× memory cut is free at serving
    time. Dequantize (scale·q) inside codegen and run the same exact
    top-k; join on (query, neighbor), hits / k. Oracle-paired since r09
    (the q187 quantization replay + q41 re-rank compose); the unit test
    keeps pinning the recall floor."""
    from .functions.similarity import cosine_topk, quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    deq = quantize_int8(emb, "embedding", "vec_id").select(
        "vec_id",
        F.transform(
            "qvec", lambda x: (x.cast("double") * F.col("scale")).cast("float")
        ).alias("embedding"),
    )
    exact = cosine_topk(emb, q, k=10, query_id="query_id").select(
        "query_id", "vec_id"
    )
    quant = cosine_topk(deq, q, k=10, query_id="query_id").select(
        "query_id", "vec_id"
    )
    hits = exact.join(quant, ["query_id", "vec_id"], "left_semi")
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            (F.coalesce("hit", F.lit(0)) / F.col("k")).alias("recall_at_10"),
        )
    )


@register(
    "q194_decontaminate",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             list_filter(string_split(lower(trim(text, ' ')), ' '), w -> w <> '') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
             array_to_string(toks[CAST(i AS INT):CAST(i + 4 AS INT)], ' ') AS gram
      FROM grams, UNNEST(range(1, len(toks) - 3)) AS u(i)
      WHERE len(toks) >= 5
    ), probe AS (
      SELECT DISTINCT doc_id, gram FROM g WHERE doc_id >= 20
    ), eval_set AS (
      SELECT DISTINCT gram FROM g WHERE doc_id < 20
    ), contaminated AS (
      SELECT p.doc_id
      FROM probe p JOIN eval_set e ON p.gram = e.gram
      GROUP BY p.doc_id
      HAVING COUNT(*) / CAST((SELECT COUNT(*) FROM probe p2
                              WHERE p2.doc_id = p.doc_id) AS DOUBLE) > 0.2
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id >= 20
      AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = d.doc_id)
    """,
)
def q194_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination ACTION (q88 only measures): drop every training
    document whose distinct word-5-gram overlap with the eval set
    (doc_id < 20 here) exceeds 20% — the n-gram-overlap rule actually
    applied before pretraining. Measurement reuses
    ngram_contamination (one gram-keyed join, eval side reduced to its
    distinct gram set); the action is an anti join on the contaminated
    ids. Docs too short to have any 5-gram are kept (null fraction ≠
    contaminated)."""
    from .operators.textstats import ngram_contamination

    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") >= 20)
    eval_set = d.filter(F.col("doc_id") < 20)
    frac = ngram_contamination(train, eval_set, "doc_id", "text", n=5)
    contaminated = frac.filter(F.col("contamination_frac") > 0.2).select("doc_id")
    return train.join(contaminated, "doc_id", "left_anti").select("doc_id")


@register(
    "q195_dataset_split",
    oracle="""
    SELECT doc_id,
           CASE
             WHEN ((CAST(doc_id AS HUGEINT) * 2654435761) % 10000
                   + 10000) % 10000 < 8000
               THEN 'train'
             WHEN ((CAST(doc_id AS HUGEINT) * 2654435761) % 10000
                   + 10000) % 10000 < 9000
               THEN 'val'
             ELSE 'test'
           END AS split
    FROM documents
    """,
)
def q195_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment from a
    multiplicative hash of the id — content-independent, RNG-free,
    retry/repartition-stable, and disjoint-by-construction (one hash value
    maps to exactly one split). The assignment every training pipeline
    needs to be REPRODUCIBLE across reruns and engines; pure row-parallel
    expression, no shuffle."""
    from .operators.sampling import knuth_bucket

    d = load_table(spark, sf_dir, "documents")
    h = knuth_bucket("doc_id")
    return d.select(
        "doc_id",
        F.when(h < 8000, F.lit("train"))
        .when(h < 9000, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Wave 9: remaining TPC-H shapes (Q6/Q11/Q12), CCNet-style chunk dedup,
# DSIR importance scoring, zero-shuffle char entropy, winnowing
# fingerprints, SCD-2 intervals, last-touch attribution, CUBE margins,
# MinHash self-evaluation
# ---------------------------------------------------------------------------
@register(
    "q196_tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q196_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan-filter-sum query — the predicate-
    pushdown showcase. Every predicate (two date bounds, a numeric range,
    a comparison) reaches the parquet reader as PushedFilters, the scan
    reads exactly three columns, and the aggregate is a two-phase
    partial/final sum with no shuffle beyond the 1-row exchange. Money sum
    in decimal per the float-parity convention. (Reference analog: the
    filtered means over Gricourt rows, R_groupe4.R:309-331.)"""
    from .functions.scalar import dec

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q197_tpch_q11_value_threshold",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * CAST(1 - l_discount AS DECIMAL(18,4))) AS val
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(CAST(val AS VARCHAR) AS DOUBLE) AS part_value
    FROM pv
    WHERE CAST(CAST(val AS VARCHAR) AS DOUBLE)
          > (SELECT CAST(CAST(SUM(val) AS VARCHAR) AS DOUBLE) FROM pv) * 0.0002
    """,
)
def q197_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: grouped value with a HAVING threshold computed from
    a GLOBAL aggregate (scalar subquery). Spark plan: one shuffle for the
    per-part aggregate, then the 1-row global total re-aggregated FROM the
    grouped result (no second scan) and broadcast into the filter — the
    scalar-subquery pattern that keeps the threshold computation off the
    driver. Threshold compare in correctly-rounded doubles on both engines
    (decimal→string→double on the DuckDB side, BigDecimal→double here)."""
    from .functions.scalar import dec

    li = load_table(spark, sf_dir, "lineitem")
    pv = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount")))
            .alias("val")
        )
    )
    total = pv.agg(F.sum("val").cast("double").alias("__total"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("val").cast("double") > F.col("__total") * 0.0002)
        .select("l_partkey", F.col("val").cast("double").alias("part_value"))
    )


@register(
    "q198_tpch_q12_priority_counts",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
)
def q198_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted to this schema's columns): join lineitem to
    orders and pivot the order priority into conditional counts per return
    flag. The CASE-inside-SUM conditional aggregation avoids two separate
    grouped counts + a re-join; the date filter prunes lineitem BEFORE the
    join so the shuffle carries only the year's rows. Exact integer counts
    — no float path."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "q199_chunk_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(trim(text, ' ')), ' '), w -> w <> '') AS t
      FROM documents
    ), chunks AS (
      SELECT doc_id,
             array_to_string(t[CAST(i*10+1 AS INT):CAST(i*10+10 AS INT)], ' ') AS chunk
      FROM toks, UNNEST(range(0, CAST(ceil(len(t) / 10.0) AS BIGINT))) u(i)
      WHERE len(t) > 0
    ), dup AS (
      SELECT chunk FROM chunks GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= 3
    ), kept AS (
      SELECT c.doc_id, c.chunk FROM chunks c
      WHERE NOT EXISTS (SELECT 1 FROM dup d WHERE d.chunk = c.chunk)
    )
    SELECT d.doc_id,
           COALESCE(k.kept_chunks, 0) AS kept_chunks,
           COALESCE(k.kept_tokens, 0) AS kept_tokens
    FROM documents d
    LEFT JOIN (
      SELECT doc_id, COUNT(*) AS kept_chunks,
             CAST(SUM(len(string_split(chunk, ' '))) AS BIGINT) AS kept_tokens
      FROM kept GROUP BY doc_id
    ) k USING (doc_id)
    """,
)
def q199_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document CHUNK dedup: split every document into
    non-overlapping 10-token chunks, drop any chunk whose exact text occurs
    in ≥ 3 distinct documents (boilerplate/template removal — the
    paragraph-dedup stage every web-corpus pipeline runs before model
    training), and report surviving chunk/token counts per document.

    Scale shape: chunking is a per-row array expression (no shuffle); the
    duplicate-chunk table is ONE groupBy on the chunk text (at 100 TB you'd
    group on xxhash64(chunk) so the shuffle carries 8-byte keys — kept as
    text here so the DuckDB twin is exact); the removal is a broadcast-able
    anti join (the ≥3-doc boilerplate set is tiny relative to the corpus).
    Distinct from q194 (overlapping n-gram MEASUREMENT) and q117 (chunking
    only): this is the act-on-it dedup."""
    from .functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens("text").alias("t")).filter(F.size("t") > 0)
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.ceil(F.size("t") / F.lit(10.0)) - 1),
                lambda i: F.array_join(F.slice("t", i * 10 + 1, 10), " "),
            )
        ).alias("chunk"),
    )
    dup = (
        chunks.groupBy("chunk")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 3)
        .select("chunk")
    )
    kept = chunks.join(dup, "chunk", "left_anti")
    per_doc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_chunks"),
        F.sum(F.size(F.split("chunk", " "))).alias("kept_tokens"),
    )
    return d.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("kept_chunks", F.lit(0)).alias("kept_chunks"),
        F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
    )


@register(
    "q200_dsir_importance",
    oracle="""
    WITH dt AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split(lower(trim(text, ' ')), ' '),
                                w -> w <> '')) AS w
      FROM documents
    ), dc AS (
      SELECT doc_id, lang, w, COUNT(*) AS cnt FROM dt GROUP BY doc_id, lang, w
    ), corpus AS (
      SELECT w, SUM(cnt) AS cc FROM dc GROUP BY w
    ), target AS (
      SELECT w, SUM(cnt) AS ct FROM dc WHERE lang = 'en' GROUP BY w
    ), consts AS (
      SELECT (SELECT SUM(cc) FROM corpus) AS nc,
             (SELECT COALESCE(SUM(ct), 0) FROM target) AS nt,
             (SELECT COUNT(*) FROM corpus) AS v
    ), terms AS (
      SELECT d.doc_id, d.cnt,
             CAST(ROUND(ln(((COALESCE(t.ct, 0) + 1.0) / (k.nt + k.v))
                           / ((c.cc + 1.0) / (k.nc + k.v))), 9)
                  AS DECIMAL(12,9)) AS lr
      FROM dc d
      JOIN corpus c USING (w)
      LEFT JOIN target t USING (w)
      CROSS JOIN consts k
    )
    SELECT doc_id,
           ROUND(CAST(CAST(SUM(lr * cnt) AS VARCHAR) AS DOUBLE)
                 / SUM(cnt), 6) + 0e0 AS llr,
           CASE WHEN ROUND(CAST(CAST(SUM(lr * cnt) AS VARCHAR) AS DOUBLE)
                           / SUM(cnt), 6) > 0 THEN 1 ELSE 0 END AS selected
    FROM terms GROUP BY doc_id
    """,
)
def q200_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the average unigram log-likelihood ratio between a TARGET distribution
    (here: the 'en' slice) and the full-corpus distribution, with add-1
    smoothing over the joint vocabulary; documents with llr > 0 look more
    target-like than corpus-like and get selected.

    Scale shape: the two language models reduce to VOCAB-sized count
    tables (same reduction as TF-IDF q87) joined into the per-doc
    term join (unhinted — vocab grows by Heaps' law, so the optimizer
    owns the broadcast-vs-shuffle call); the only corpus-sized shuffle is
    the (doc, word) count. At
    100 TB you'd feature-hash words into 2^20 buckets exactly as the paper
    does — same plan, bounded LM size. Float parity: each ln ratio is
    quantized to DECIMAL(12,9) so the per-doc sum is order-independent
    (the q170 convention), then one correctly-rounded double division."""
    from .functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    dc = (
        d.select("doc_id", "lang", F.explode(tokens("text")).alias("w"))
        .groupBy("doc_id", "lang", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    corpus = dc.groupBy("w").agg(F.sum("cnt").alias("cc"))
    target = dc.filter(F.col("lang") == "en").groupBy("w").agg(
        F.sum("cnt").alias("ct")
    )
    consts = corpus.agg(
        F.sum("cc").alias("nc"), F.count(F.lit(1)).alias("v")
    ).crossJoin(target.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt")))
    terms = (
        dc.join(corpus, "w")
        .join(target, "w", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            "cnt",
            F.round(
                F.log(
                    ((F.coalesce("ct", F.lit(0)) + F.lit(1.0)) / (F.col("nt") + F.col("v")))
                    / ((F.col("cc") + F.lit(1.0)) / (F.col("nc") + F.col("v")))
                ),
                9,
            )
            .cast("decimal(12,9)")
            .alias("lr"),
        )
    )
    llr = F.round(
        F.sum(F.col("lr") * F.col("cnt")).cast("double") / F.sum("cnt"), 6
    )
    return terms.groupBy("doc_id").agg(
        (llr + F.lit(0.0)).alias("llr"),
        F.when(llr > 0, F.lit(1)).otherwise(F.lit(0)).alias("selected"),
    )


@register(
    "q201_char_entropy",
    oracle="""
    WITH c AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
      FROM documents, UNNEST(range(1, len(text) + 1)) u(i)
    ), rc AS (
      SELECT c.doc_id, COUNT(*) AS cnt, d.n
      FROM c JOIN (SELECT doc_id, len(text) AS n FROM documents) d
        USING (doc_id)
      GROUP BY c.doc_id, c.ch, d.n
    ), ent AS (
      SELECT doc_id, n,
             CAST(SUM(CAST(ROUND((CAST(cnt AS DOUBLE) / n)
                                 * ln(CAST(cnt AS DOUBLE) / n), 9)
                           AS DECIMAL(12,9))) AS DOUBLE) AS s
      FROM rc GROUP BY doc_id, n
    )
    SELECT d.doc_id, len(d.text) AS n_chars,
           ROUND(-e.s, 6) + 0e0 AS entropy,
           ROUND(CAST(len(regexp_extract_all(d.text, '[0-9]')) AS DOUBLE)
                 / len(d.text), 6) AS digit_frac,
           ROUND(CAST(len(regexp_extract_all(d.text, '\\s')) AS DOUBLE)
                 / len(d.text), 6) AS space_frac
    FROM documents d LEFT JOIN ent e USING (doc_id)
    """,
)
def q201_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level quality signals with ZERO shuffle: Shannon entropy
    of the character distribution plus digit/whitespace fractions, computed
    entirely inside whole-stage codegen via array higher-order functions —
    split to chars, array_distinct for the alphabet (≤ a few dozen entries),
    and an `aggregate` lambda accumulating −Σ p·ln p. Low-entropy documents
    are repeated-character junk; high digit fractions are tables/serial
    dumps — the gibberish filters every pretraining pipeline applies.

    The relational alternative (explode chars → groupBy) shuffles one row
    PER CHARACTER of the corpus — at 100 TB that is a 100 TB shuffle; this
    form touches each row once and shuffles nothing. Each p·ln p term is
    quantized to DECIMAL(12,9) (q170 convention) so the sum is
    order-independent and hash-stable vs the oracle's relational twin."""
    d = load_table(spark, sf_dir, "documents")
    cs = F.filter(F.split(F.col("text"), ""), lambda c: c != F.lit(""))
    n = F.length("text")
    zero = F.lit("0").cast("decimal(28,9)")
    # try_divide: an empty document has n_chars = 0 — every ratio is NULL
    # (DuckDB's x/0), not a job abort
    p_of = lambda cnt: F.try_divide(cnt.cast("double"), F.col("n_chars"))  # noqa: E731
    term = lambda ch: F.round(  # noqa: E731
        p_of(F.size(F.filter(F.col("__cs"), lambda c: c == ch)))
        * F.log(p_of(F.size(F.filter(F.col("__cs"), lambda c: c == ch)))),
        9,
    ).cast("decimal(12,9)")
    return (
        d.select("doc_id", "text", cs.alias("__cs"), n.alias("n_chars"))
        .select(
            "doc_id",
            "n_chars",
            # a doc with no characters has no char distribution: entropy
            # NULL (the oracle's left join agrees). round_disp: a
            # single-char doc gives -(1·ln 1) = -0.0, which DuckDB's ROUND
            # keeps and Spark's drops — the degen-sweep drift the hardened
            # r10 gate exposed (entropy is nonnegative, but NEGATION of
            # +0.0 still manufactures the signed zero)
            F.when(
                F.col("n_chars") > 0,
                round_disp(
                    -F.aggregate(
                        F.array_distinct("__cs"),
                        zero,
                        lambda acc, ch: (acc + term(ch)).cast("decimal(28,9)"),
                    ).cast("double"),
                    6,
                ),
            ).alias("entropy"),
            F.round(
                F.try_divide(
                    F.regexp_count("text", F.lit("[0-9]")).cast("double"),
                    F.col("n_chars"),
                ),
                6,
            ).alias("digit_frac"),
            F.round(
                F.try_divide(
                    F.regexp_count("text", F.lit("\\s")).cast("double"),
                    F.col("n_chars"),
                ),
                6,
            ).alias("space_frac"),
        )
    )


@register(
    "q202_winnowing_fingerprints",
    oracle="""
    WITH g AS (
      -- BIGINT hash domain: a non-ASCII codepoint (up to 0x10FFFF) times the
      -- top power (923521) overflows INT32; both engines compute in 64-bit so
      -- long multilingual documents fingerprint instead of failing (r10
      -- verdict item 4 — long docs are the 100 TB norm)
      SELECT doc_id, i,
             (CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT)
              + CAST(ascii(substr(t, CAST(i + 1 AS INT), 1)) AS BIGINT) * 31
              + CAST(ascii(substr(t, CAST(i + 2 AS INT), 1)) AS BIGINT) * 961
              + CAST(ascii(substr(t, CAST(i + 3 AS INT), 1)) AS BIGINT) * 29791
              + CAST(ascii(substr(t, CAST(i + 4 AS INT), 1)) AS BIGINT) * 923521
             ) % 1000003 AS h,
             len(t) AS n
      FROM (SELECT doc_id, lower(text) AS t FROM documents),
           UNNEST(range(1, len(t) - 3)) u(i)
    ), w AS (
      SELECT doc_id, i,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             n
      FROM g
    ), fps AS (
      SELECT DISTINCT doc_id, fp FROM w WHERE i <= n - 7
    ), live AS (
      SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 50
    ), kept AS (
      SELECT f.doc_id, f.fp FROM fps f JOIN live l USING (fp)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 40
    """,
)
def q202_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via WINNOWING (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): rolling polynomial hashes of char
    5-grams, a sliding window of 4 keeps each window's MINIMUM hash, and
    the distinct selected fingerprints form the document's signature.
    Documents sharing ≥ 40 fingerprints are reported as likely partial
    copies — winnowing guarantees any shared substring ≥ w+k−1 chars
    produces at least one shared fingerprint (detection, unlike MinHash's
    whole-doc similarity estimate).

    Scale shape: gram hashing + window-min + distinct all happen INSIDE one
    row's array expressions (no shuffle, whole-stage codegen); only the
    ~2/w-sampled fingerprints explode into the corpus-wide index.
    Fingerprints appearing in > 50 docs are dropped as boilerplate "stop
    fingerprints" (standard MOSS practice) which also BOUNDS the self-join
    fan-out per bucket — the same hot-key cap as the LSH band join. The
    hash is an explicit polynomial (not xxhash64) so the DuckDB twin is
    bit-identical."""
    d = load_table(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))
    pw = [1, 31, 961, 29791, 923521]
    # 64-bit hash domain (matches the oracle's BIGINT casts): codepoints up
    # to 0x10FFFF × 923521 overflow INT32, so every term is long from the
    # first multiply — long multilingual docs must fingerprint, not fail.
    #
    # Codepoints are extracted ONCE per document into an array
    # (split(t, '') splits per Unicode codepoint — identical values to the
    # old per-gram ascii(substr(t, i+j, 1)), pinned in tests): substr by
    # character position is an O(position) UTF-8 scan, so the old 5
    # substr+ascii calls per gram made the hashing stage O(5·n²/2) bytes
    # scanned per document; element_at on the bound codepoint array is
    # O(1), making the stage linear in document length (guide §1.2 "per-
    # task work"; measured 2.4 s → ~0.9 s for q202 at sf0.1).
    cps = F.transform(F.split(F.col("__t"), ""), lambda c: F.ascii(c).cast("long"))
    gram_hash = lambda cp, i: (  # noqa: E731
        sum(F.element_at(cp, i + F.lit(j)) * F.lit(pw[j]) for j in range(5))
        % F.lit(1000003)
    )
    # bind the codepoint array ONCE as a lambda variable (the same
    # 1-element-array trick as window_mins below) — referencing `cps`
    # directly inside the per-gram lambda would re-evaluate the whole
    # O(n) split per gram
    hashes = F.flatten(
        F.transform(
            F.array(cps),
            lambda cp: F.transform(
                F.sequence(F.lit(1), F.col("__n") - 4),
                lambda i: gram_hash(cp, i),
            ),
        )
    )
    # bind the hash array ONCE as a lambda variable (outer transform over a
    # 1-element array): referencing the `hashes` expression directly inside
    # the window lambda would let CollapseProject inline and re-evaluate the
    # whole O(n) gram-hash array per window position — O(n²) per document.
    # per-window minimum as least() over 4 direct element_at reads:
    # array_min(slice(h, w, 4)) allocates a fresh 4-element array per
    # window position (one per character of the corpus) in the interpreted
    # HOF evaluator — least() on the same 4 longs is allocation-free and
    # value-identical (no NULLs in the hash array; measured 0.80 s → 0.32 s
    # for the hash+window stage at sf0.1, proven equal on the full corpus)
    window_mins = F.flatten(
        F.transform(
            F.array(hashes),
            lambda h: F.transform(
                F.sequence(F.lit(1), F.size(h) - 3),
                lambda w: F.least(*[F.element_at(h, w + F.lit(j)) for j in range(4)]),
            ),
        )
    )
    # The gram-hash stage is CPU-bound per row, and a small-SF corpus
    # arrives as ONE parquet split — without an explicit width the whole
    # O(docs × len) hashing runs on a single core (the q161 lesson:
    # byte-based split sizing serializes CPU-bound stages). At 100 TB the
    # scan has natural splits and this repartition is a cheap no-op-ish
    # rebalance; here it is the difference between 1 and 32 cores.
    par = spark.sparkContext.defaultParallelism
    fps = d.repartition(par).select(
        "doc_id", t.alias("__t"), F.length(t).alias("__n")
    ).filter(F.col("__n") >= 8).select(
        "doc_id",
        F.explode(F.array_distinct(window_mins)).alias("fp"),
    )
    # NO persist on fps (r12): with the linear codepoint-array hashing the
    # tokenize stage is cheap enough that recomputing it per consumer
    # (live + both self-join sides) beats the columnar cache
    # encode/decode round-trip — measured 0.89 s vs 1.4-1.6 s persisted
    # at sf0.1 (the q259 ReuseExchange lesson; the pre-r12 persist was
    # sized against the old quadratic substr hashing).
    live = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") <= 50)
        .select("fp")
    )
    kept = fps.join(live, "fp")
    a = kept.select("fp", F.col("doc_id").alias("doc_a"))
    b = kept.select("fp", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 40)
    )


@register(
    "q203_scd2_intervals",
    oracle="""
    WITH tiers AS (
      SELECT user_id, ts, event_id,
             CASE WHEN value >= 300 THEN 'high'
                  WHEN value >= 100 THEN 'mid'
                  ELSE 'low' END AS tier
      FROM events
    ), flagged AS (
      SELECT user_id, ts, event_id, tier,
             CASE WHEN lag(tier) OVER w IS NULL
                       OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
      FROM tiers
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), grouped AS (
      SELECT user_id, tier,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS grp,
             ts
      FROM flagged
    ), intervals AS (
      SELECT user_id, tier, grp, MIN(ts) AS valid_from, COUNT(*) AS n_events
      FROM grouped GROUP BY user_id, tier, grp
    )
    SELECT user_id, tier, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
             AS valid_to,
           n_events
    FROM intervals
    """,
)
def q203_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 history build: collapse each
    user's event stream into value-tier VALIDITY INTERVALS — consecutive
    events in the same tier merge into one row with [valid_from, valid_to)
    bounds, valid_to = the next interval's start (NULL = current). The
    change-flag + running-sum grouping is the standard sessionize-on-change
    idiom (one window pass, no self-join); all three window/group steps
    share the user_id partitioning so Spark shuffles ONCE and reuses the
    exchange. (user_id, ts) is unique in events ⇒ deterministic; tie-break
    on event_id anyway for engine parity."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    tier = (
        F.when(F.col("value") >= 300, "high")
        .when(F.col("value") >= 100, "mid")
        .otherwise("low")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select("user_id", "ts", "event_id", tier.alias("tier")).withColumn(
        "chg",
        F.when(
            F.lag("tier").over(w).isNull() | (F.lag("tier").over(w) != F.col("tier")),
            1,
        ).otherwise(0),
    )
    grouped = flagged.withColumn(
        "grp", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    intervals = grouped.groupBy("user_id", "tier", "grp").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return intervals.select(
        "user_id",
        "tier",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    )


@register(
    "q204_last_touch_attribution",
    oracle="""
    WITH marked AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS) OVER w AS ch,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN ts END IGNORE NULLS) OVER w AS ch_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, ts,
           CASE WHEN ch IS NOT NULL AND ch_ts >= ts - INTERVAL 7 DAY
                THEN ch ELSE 'direct' END AS channel
    FROM marked WHERE event_type = 'purchase'
    """,
)
def q204_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution with a 7-day lookback: each
    purchase is credited to the user's most recent PRIOR non-purchase
    event (view/click/signup/error = the "channel"), or 'direct' when none
    exists within the window. One window pass per user (ignore-nulls
    last_value over the preceding frame) — no self-join, no per-purchase
    subquery; the 7-day rule is a plain timestamp comparison on the
    carried-along channel timestamp. The interval compare uses ts
    DIFFERENCES so LTZ-vs-naive reading cancels out."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nonp = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    nonp_ts = F.when(F.col("event_type") != "purchase", F.col("ts"))
    marked = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(nonp, ignorenulls=True).over(w).alias("ch"),
        F.last(nonp_ts, ignorenulls=True).over(w).alias("ch_ts"),
    )
    return marked.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.when(
            F.col("ch").isNotNull()
            & (F.col("ch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
            F.col("ch"),
        )
        .otherwise("direct")
        .alias("channel"),
    )


@register(
    "q205_cube_margins",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    HAVING COUNT(*) > 0
    """,
)
def q205_cube_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id: all four margin combinations (cell, row
    total, column total, grand total) in ONE aggregation pass — Spark
    expands the grouping sets map-side, so the input is scanned once
    instead of four times (the UNION-of-GROUP-BYs a user would otherwise
    write). Completes the grouping-sets family started by q144 (explicit
    GROUPING SETS); gid disambiguates a real NULL dimension value from a
    margin row. Decimal revenue per the money convention."""
    from .functions.scalar import dec

    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount")))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "q206_minhash_eval",
    # Oracle (promoted r09 — the COVERAGE.md cell that said *(oracle)*
    # since r05 is finally true): with the md5_affine family the pred side
    # replays bit-for-bit and the truth side is exact set algebra; see
    # functions/dedup.py::minhash_eval_oracle_sql.
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.functions.dedup", fromlist=["x"]
    ).minhash_eval_oracle_sql(
        "documents", "doc_id", "text", "doc_id < 150", threshold=0.8
    ),
)
def q206_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH SELF-EVALUATION (the dedup twin of q172's ANN recall):
    on a bounded slice of the corpus (doc_id < 150 ⇒ ≤ 11k pairs), compute
    exact all-pairs char-5-gram Jaccard as ground truth and score the q38
    MinHash pipeline (64 hashes, 16 bands, est ≥ 0.8) against truth ≥ 0.8:
    precision / recall / F1 in one row. This is the tune-before-trust loop
    for the banding parameters — run it on a sample BEFORE a 100 TB dedup
    pass; the all-pairs truth is intentionally bounded to the sample
    (labeled oracle baseline, never the scale path). Runs the md5_affine
    family since r09 so the DuckDB oracle can replay the pred side
    end-to-end; invariants stay pinned in tests/test_wave9.py."""
    from .functions.dedup import minhash_dedup_pairs
    from .functions.text import char_ngrams

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    pred = minhash_dedup_pairs(
        d, "text", "doc_id", threshold=0.8, hash_family="md5_affine"
    ).select("id_a", "id_b")
    g = d.select(
        F.col("doc_id").alias("__id"),
        F.array_distinct(char_ngrams("text", 5)).alias("__g"),
    ).filter(F.size("__g") > 0)
    a = g.select(F.col("__id").alias("id_a"), F.col("__g").alias("__ga"))
    b = g.select(F.col("__id").alias("id_b"), F.col("__g").alias("__gb"))
    inter = F.size(F.array_intersect("__ga", "__gb")).cast("double")
    union = F.size(F.array_union("__ga", "__gb")).cast("double")
    truth = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(inter / union >= 0.8)
        .select("id_a", "id_b")
    )
    tp = pred.join(truth, ["id_a", "id_b"]).count()
    n_pred = pred.count()
    n_truth = truth.count()
    # final arithmetic as Spark EXPRESSIONS (F.round, not Python round —
    # Python rounds half-even, the engines round half-away) on raw IEEE
    # divisions the oracle mirrors term-for-term
    base = spark.createDataFrame(
        [(n_pred, n_truth, tp)], "n_pred bigint, n_truth bigint, tp bigint"
    )
    p_raw = F.when(F.col("n_pred") == 0, F.lit(1.0)).otherwise(
        F.col("tp") / F.col("n_pred")
    )
    r_raw = F.when(F.col("n_truth") == 0, F.lit(1.0)).otherwise(
        F.col("tp") / F.col("n_truth")
    )
    f1_raw = F.when(p_raw + r_raw == 0.0, F.lit(0.0)).otherwise(
        F.lit(2.0) * p_raw * r_raw / (p_raw + r_raw)
    )
    return base.select(
        "n_pred",
        "n_truth",
        "tp",
        F.round(p_raw, 6).alias("precision"),
        F.round(r_raw, 6).alias("recall"),
        F.round(f1_raw, 6).alias("f1"),
    )


# ---------------------------------------------------------------------------
# Wave 10: product-quantization ANN, corpus statistics (Zipf, lexical
# richness), language-ID evaluation, small-file compaction
# ---------------------------------------------------------------------------
def _q207_oracle() -> str:
    from .ml.kmeans import kmeans_lloyd_ctes

    M, K, DSUB = 8, 16, 8
    ctes = ["tr AS MATERIALIZED (SELECT * FROM embeddings WHERE vec_id % 2 = 0)"]
    cents = []
    for m in range(M):
        lo, hi = m * DSUB + 1, (m + 1) * DSUB
        c, cent, _ = kmeans_lloyd_ctes(
            "tr", "vec_id", f"embedding[{lo}:{hi}]",
            k=K, iters=10, dim=DSUB, prefix=f"b{m}",
        )
        ctes.extend(c)
        cents.append(cent)
    ctes.append(
        "allv AS MATERIALIZED (SELECT vec_id,"
        " CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)"
    )

    def subsq(vec_expr: str, m: int) -> str:
        # Σ over the m-th 8-dim subvector of (x − c)², same left fold
        return (
            f"list_reduce(list_transform(range(1, {DSUB + 1}), i ->"
            f" ({vec_expr}[{m * DSUB} + i] - c.c[i])"
            f" * ({vec_expr}[{m * DSUB} + i] - c.c[i])), (a, b) -> a + b)"
        )

    for m in range(M):
        ctes.append(
            f"enc{m} AS MATERIALIZED (SELECT vid, cell AS c{m} FROM ("
            f"SELECT a.vec_id AS vid, c.cell,"
            f" ROW_NUMBER() OVER (PARTITION BY a.vec_id"
            f" ORDER BY {subsq('a.emb', m)}, c.cell) AS rn"
            f" FROM allv a CROSS JOIN {cents[m]} c) x WHERE rn = 1)"
        )
    enc_join = " ".join(f"JOIN enc{m} USING (vid)" for m in range(1, M))
    ctes.append(
        "enc AS MATERIALIZED (SELECT vid, "
        + ", ".join(f"c{m}" for m in range(M))
        + f" FROM enc0 {enc_join})"
    )
    ctes.append(
        "q AS MATERIALIZED (SELECT vec_id AS qid, emb AS qv"
        " FROM allv WHERE vec_id < 5)"
    )
    for m in range(M):
        ctes.append(
            f"lut{m} AS MATERIALIZED (SELECT q.qid, c.cell,"
            f" {subsq('q.qv', m)} AS d"
            f" FROM q CROSS JOIN {cents[m]} c)"
        )
    adc_sum = " + ".join(f"l{m}.d" for m in range(M))
    lut_joins = " ".join(
        f"JOIN lut{m} l{m} ON l{m}.qid = q.qid AND l{m}.cell = e.c{m}"
        for m in range(M)
    )
    ctes.append(
        f"adc AS (SELECT q.qid, e.vid, ROUND({adc_sum}, 6) AS adc_dist"
        f" FROM q CROSS JOIN enc e {lut_joins})"
    )
    ctes.append(
        "short AS (SELECT qid, vid, adc_dist FROM ("
        "SELECT qid, vid, adc_dist,"
        " ROW_NUMBER() OVER (PARTITION BY qid"
        " ORDER BY adc_dist, vid) AS rn FROM adc) x WHERE rn <= 50)"
    )
    exact = (
        "list_reduce(list_transform(range(1, 65), i ->"
        " (q.qv[i] - a.emb[i]) * (q.qv[i] - a.emb[i])), (x, y) -> x + y)"
    )
    ctes.append(
        f"ex AS (SELECT s.qid AS query_id, s.vid AS neighbor_id, s.adc_dist,"
        f" ROUND({exact}, 6) AS l2_dist"
        " FROM short s JOIN q ON q.qid = s.qid"
        " JOIN allv a ON a.vec_id = s.vid)"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT query_id, neighbor_id, adc_dist, l2_dist FROM ("
        "SELECT query_id, neighbor_id, adc_dist, l2_dist,"
        " ROW_NUMBER() OVER (PARTITION BY query_id"
        " ORDER BY l2_dist, neighbor_id) AS rk FROM ex) x WHERE rk <= 10"
    )


@register("q207_pq_ann", oracle=_q207_oracle())
def q207_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization ANN (Jégou et al., PAMI 2011): split each
    64-dim vector into 8 subvectors, train a 16-centroid KMeans codebook
    per subspace (on a corpus SAMPLE — codebook training never needs the
    full data), encode every vector to 8 four-bit codes, and answer
    queries via ADC (asymmetric distance computation): the query's
    distance to each of the 8×16 centroids is precomputed into a
    lookup table, so scoring a database vector is 8 table lookups
    instead of 64 multiplies — and the encoded corpus is 64 B → 8 B
    per vector, the memory cut that lets a 100 TB embedding store fit
    an in-RAM serving tier.

    Scale shape: codebooks are tiny (8×16×8 floats) and broadcast as
    literal arrays; encoding and ADC scoring are zero-shuffle array
    expressions inside codegen; the ADC pass returns a 5× SHORTLIST that
    an exact-distance pass re-ranks (the standard two-stage PQ serving
    pipeline — full-precision math touches only the shortlist, never the
    corpus). Since r09 the codebooks train with the deterministic
    fixed-round Lloyd (ml/kmeans.py), so the ENTIRE pipeline — 8
    codebooks, 4-bit encoding, per-query LUTs, ADC shortlist, exact
    re-rank — replays in DuckDB (_q207_oracle); recall@10 vs exact
    search stays pinned in tests/test_wave10.py."""
    M, K, DSUB = 8, 16, 8  # subspaces, centroids per codebook, dims each
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    if vecs.isEmpty():
        # empty-in/empty-out: no codebooks to train on a no-data day —
        # same columns as the non-empty path (the r09 empty-sweep drift:
        # this guard kept the pre-promotion schema while the output moved
        # to the ADC/re-rank columns)
        return spark.createDataFrame(
            [],
            "query_id long, neighbor_id long, adc_dist double, l2_dist double",
        )
    # per-subspace codebooks, trained on a deterministic sample with the
    # replayable fixed-round Lloyd (lowest-id init per subspace). All 8
    # blocks train in ONE aggregate per round (kmeans_lloyd_blocks — proven
    # bit-identical to the per-subspace loop it replaced): the old shape's
    # 8×10 sequential driver-coordinated jobs were pure scheduling overhead
    # and the whole smoke's slowest row at sf1 (71 s → the batched trainer
    # needs ~11 round-trips for the same bounded 8·16·9-cell collect).
    from .ml.kmeans import kmeans_lloyd_blocks

    train = vecs.filter(F.col("vec_id") % 2 == 0)
    codebooks = kmeans_lloyd_blocks(
        train, "emb", "vec_id", k=K, iters=10, n_blocks=M, dsub=DSUB
    )
    if codebooks is None:  # no even-id train rows: fail fast, as the
        raise ValueError("q207: empty training sample")  # old loop did

    # broadcast codebooks as one literal array<array<array<double>>>
    cb = F.array(
        *[
            F.array(*[F.array(*[F.lit(x) for x in cent]) for cent in book])
            for book in codebooks
        ]
    )

    def l2sq(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    # encode: per subspace, argmin centroid (4-bit code). The codebook is
    # bound once as a lambda variable so it is not re-evaluated per vector.
    codes_expr = F.transform(
        F.sequence(F.lit(0), F.lit(M - 1)),
        lambda m: F.aggregate(
            F.sequence(F.lit(0), F.lit(K - 1)),
            F.struct(F.lit(-1).alias("c"), F.lit(float("inf")).alias("d")),
            lambda acc, k: F.when(
                l2sq(
                    F.slice("emb", m * F.lit(DSUB) + 1, DSUB),
                    F.element_at(F.element_at(cb, m + 1), k + 1),
                )
                < acc["d"],
                F.struct(
                    k.alias("c"),
                    l2sq(
                        F.slice("emb", m * F.lit(DSUB) + 1, DSUB),
                        F.element_at(F.element_at(cb, m + 1), k + 1),
                    ).alias("d"),
                ),
            ).otherwise(acc),
        )["c"],
    )
    encoded = vecs.select("vec_id", codes_expr.alias("codes"))

    # ADC: queries are the first 5 vectors; LUT[m][k] = l2² of query
    # subvector vs centroid, computed driver-side (5×8×16 floats) and
    # broadcast as literals per query
    queries = vecs.filter(F.col("vec_id") < 5).collect()
    out = None
    for qrow in queries:
        lut = [
            [
                sum(
                    (qrow.emb[m * DSUB + j] - codebooks[m][k][j]) ** 2
                    for j in range(DSUB)
                )
                for k in range(K)
            ]
            for m in range(M)
        ]
        lut_lit = F.array(
            *[F.array(*[F.lit(v) for v in row]) for row in lut]
        )
        adc = F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.sequence(F.lit(0), F.lit(M - 1)),
                lambda c, m: F.element_at(F.element_at(lut_lit, m + 1), c + 1),
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )
        # ADC shortlist (cheap, 8 lookups/vector) → exact re-rank of the
        # shortlist only (the standard PQ serving pipeline: quantized scan
        # for candidates, exact distances on the 5× shortlist)
        shortlist = (
            encoded.select(
                F.lit(qrow.vec_id).alias("query_id"),
                F.col("vec_id").alias("neighbor_id"),
                F.round(adc, 6).alias("adc_dist"),
            )
            .orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
            .limit(50)
        )
        qlit = F.array(*[F.lit(float(x)) for x in qrow.emb])
        exact_d2 = F.aggregate(
            F.zip_with(qlit, F.col("emb"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )
        topk = (
            shortlist.join(
                vecs.select(F.col("vec_id").alias("neighbor_id"), "emb"),
                "neighbor_id",
            )
            .select(
                "query_id",
                "neighbor_id",
                "adc_dist",
                F.round(exact_d2, 6).alias("l2_dist"),
            )
            .orderBy(F.asc("l2_dist"), F.asc("neighbor_id"))
            .limit(10)
        )
        out = topk if out is None else out.unionByName(topk)
    return out


@register(
    "q208_zipf_fit",
    oracle="""
    WITH wc AS (
      SELECT w, COUNT(*) AS freq
      FROM (SELECT unnest(list_filter(string_split(lower(trim(text, ' ')), ' '),
                                      t -> t <> '')) AS w
            FROM documents)
      GROUP BY w
    ), ranked AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, w ASC) AS rnk
      FROM wc
    ), pts AS (
      SELECT CAST(ROUND(ln(CAST(rnk AS DOUBLE)), 9) AS DECIMAL(15,9)) AS x,
             CAST(ROUND(ln(CAST(freq AS DOUBLE)), 9) AS DECIMAL(15,9)) AS y
      FROM ranked
    ), sums AS (
      SELECT COUNT(*) AS n,
             CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx
      FROM pts
    )
    SELECT n AS n_types,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0e0 AS slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 6) + 0e0 AS intercept
    FROM sums
    """,
)
def q208_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: regress ln(frequency) on
    ln(rank) — the slope (≈ −1 for natural language) is the standard
    sanity check that a scraped corpus has natural token statistics rather
    than machine-generated repetition. One corpus-wide word count (the
    TF-IDF reduction, vocab-sized output), a vocab-sized ranking, and a
    closed-form OLS on (ln rank, ln freq). The global rank runs through
    operators/windows.py::global_running (two-phase range-partitioned
    row_number) — a raw corpus vocabulary reaches 10^8-10^9 types at
    100 TB, too big for the single-reducer Window.orderBy it replaced.
    Each ln is quantized to DECIMAL(15,9) so the moment sums are
    order-independent (q170 convention); slope/intercept computed once in
    doubles from the exact sums."""
    from .functions.text import tokens
    from .operators.windows import global_running

    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = global_running(
        wc, [F.desc("freq"), F.asc("w")], rank_col="rnk"
    ).select("freq", "rnk")
    pts = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")), 9)
        .cast("decimal(15,9)")
        .alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 9)
        .cast("decimal(15,9)")
        .alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("n").alias("n_types"),
        round_disp(slope, 6).alias("slope"),
        round_disp((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


@register(
    "q209_lexical_richness",
    oracle="""
    WITH dt AS (
      SELECT source,
             unnest(list_filter(string_split(lower(trim(text, ' ')), ' '),
                                t -> t <> '')) AS w
      FROM documents
    ), wc AS (
      SELECT source, w, COUNT(*) AS cnt FROM dt GROUP BY source, w
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_types,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS ttr,
           ROUND(CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS hapax_frac
    FROM wc GROUP BY source
    """,
)
def q209_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness report per source: type-token ratio and hapax-
    legomenon fraction (words occurring exactly once). Low TTR / low hapax
    flags template-generated or boilerplate-heavy sources before they
    flood a training mix — the per-source twin of the corpus-wide Zipf
    check (q208). Two-stage aggregation: (source, word) counts shuffle
    vocab×sources rows, then reduce to one row per source; both stages
    map-side combine."""
    from .functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select("source", F.explode(tokens("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return wc.groupBy("source").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("cnt"), 6).alias("ttr"),
        F.round(
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hapax_frac"),
    )


@register(
    "q210_langid_confusion",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang AS labeled,
             COALESCE(list_filter(string_split(lower(trim(text, ' ')), ' '),
                                  t -> t <> ''), []) AS t
      FROM documents
    ), hits AS (
      SELECT doc_id, labeled,
             len(list_filter(t, x -> list_contains(
               ['der','die','das','und','ist','nicht','ein','eine','zu','mit'],
               x))) AS h_de,
             len(list_filter(t, x -> list_contains(
               ['the','and','of','to','is','in','that','it','was','for'],
               x))) AS h_en,
             len(list_filter(t, x -> list_contains(
               ['el','la','los','las','de','que','es','en','un','una'],
               x))) AS h_es,
             len(list_filter(t, x -> list_contains(
               ['le','la','les','de','des','et','est','un','une','que'],
               x))) AS h_fr
      FROM toks
    ), pred AS (
      SELECT doc_id, labeled,
             CASE
               WHEN greatest(h_de, h_en, h_es, h_fr) <= 0 THEN 'und'
               WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
               WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
               WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
               ELSE 'fr'
             END AS predicted
      FROM hits
    )
    SELECT labeled, predicted, COUNT(*) AS n
    FROM pred GROUP BY labeled, predicted
    """,
)
def q210_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID EVALUATION: confusion matrix of the heuristic
    stopword-marker classifier (q36's `language_id`) against the labeled
    `lang` column — the measure-before-trust step for any filter that
    routes documents by detected language. The oracle twin re-derives the
    classifier in SQL (per-language marker hits, argmax with
    alphabetically-first tie-break — exactly `language_id`'s fold order),
    so a green hash proves the Spark classifier and its documented
    semantics agree. One row-parallel classify pass + one tiny groupBy."""
    from .functions.text import language_id

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("labeled"),
            language_id("text").alias("predicted"),
        )
        .groupBy("labeled", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q211_compaction_roundtrip",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(SUM(user_id) AS BIGINT) AS sum_user_id,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    """,
)
def q211_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION — the lakehouse maintenance op every streaming
    ingest needs: a directory that accreted many small parquet files is
    rewritten into few right-sized files (repartition to the target file
    count, maxRecordsPerFile as the safety bound), and the result is read
    BACK and content-checksummed. The oracle computes the same checksums
    on the original table, so a green hash proves the rewrite is lossless
    — the invariant that actually matters in a compaction job. File-count
    assertions (fragmented in, few out) live in tests/test_wave10.py.

    Scale shape: compaction is one shuffle-free coalesce when reducing
    file count (repartition only when rebalancing skewed files); the
    checksum aggregates are exact integers."""

    e = load_table(spark, sf_dir, "events")
    root = _scratch_dir(spark, "compact")
    frag = f"{root}/fragmented"
    compact = f"{root}/compacted"
    # simulate the small-file problem deterministically: 64 tiny files
    e.repartition(64).write.mode("overwrite").parquet(frag)
    small = spark.read.parquet(frag)
    # the compaction itself: coalesce (no shuffle) to the target count
    small.coalesce(4).write.mode("overwrite").option(
        "maxRecordsPerFile", 5_000_000
    ).parquet(compact)
    back = spark.read.parquet(compact)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("sum_event_id"),
        F.sum("user_id").alias("sum_user_id"),
        F.count_distinct("event_type").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# Wave 11: search/indexing, entity resolution, privacy audit, stream-static
# enrichment, semantic dedup, corpus diversity
# ---------------------------------------------------------------------------
@register(
    "q212_intra_doc_dedup",
    oracle="""
    WITH dt AS (
      SELECT doc_id,
             list_filter(string_split(lower(trim(text, ' ')), ' '), w -> w <> '') AS t
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(t) AS w, unnest(range(len(t))) AS i
      FROM dt WHERE len(t) > 0
    ), ch AS (
      SELECT doc_id, i // 2 AS ci, string_agg(w, ' ' ORDER BY i) AS chunk
      FROM tok GROUP BY doc_id, i // 2
    )
    SELECT doc_id,
           COUNT(*) AS total_chunks,
           COUNT(DISTINCT chunk) AS kept_chunks,
           ROUND(1.0 - COUNT(DISTINCT chunk) / CAST(COUNT(*) AS DOUBLE), 6)
             AS dup_frac
    FROM ch GROUP BY doc_id
    """,
)
def q212_intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-chunk removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": repeated
    spans inside a single document are memorization fuel even when no other
    document shares them). Every doc is split into non-overlapping 2-token
    chunks; repeats of a chunk already seen in the SAME doc are dropped
    (keep-first) and the per-doc removal fraction reported. Complements
    q199 (cross-doc chunk dedup): this is the intra-doc stage CCNet runs
    first.

    Scale shape: the entire operator is higher-order array expressions on
    one row — chunk, array_distinct, size — ZERO shuffles, embarrassingly
    parallel over 10^10 docs. The oracle must unnest+string_agg because SQL
    lacks array lambdas; the Spark plan never explodes anything."""
    d = load_table(spark, sf_dir, "documents")
    from .functions.text import tokens

    # Filter token-empty docs BEFORE chunking (matching the oracle's
    # `WHERE len(t) > 0`): an empty token array would make the chunk-index
    # sequence descend (sequence(0, -1) → [0, -1]) and emit two ""-chunks,
    # keeping a doc the oracle excludes — the q261 slice-edge bug class.
    toks = d.select(
        "doc_id", F.filter(tokens("text"), lambda w: w != "").alias("t")
    ).filter(F.size("t") > 0)
    ch = F.transform(
        F.sequence(
            F.lit(0), (F.ceil(F.size("t") / F.lit(2.0))).cast("long") - 1
        ),
        lambda i: F.array_join(F.slice("t", i * 2 + 1, 2), " "),
    )
    out = toks.select("doc_id", ch.alias("ch"))
    return out.select(
        "doc_id",
        F.size("ch").alias("total_chunks"),
        F.size(F.array_distinct("ch")).alias("kept_chunks"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct("ch")) / F.size("ch").cast("double"),
            6,
        ).alias("dup_frac"),
    )


@register(
    "q213_inverted_index",
    oracle="""
    WITH dt AS (
      SELECT doc_id,
             list_filter(string_split(lower(trim(text, ' ')), ' '), w -> w <> '') AS t
      FROM documents
    ), w AS (SELECT doc_id, unnest(t) AS term FROM dt)
    SELECT term,
           COUNT(DISTINCT doc_id) AS df,
           COUNT(*) AS tf,
           array_to_string(list_sort(list(DISTINCT doc_id))[1:8], ',')
             AS postings_head
    FROM w GROUP BY term HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def q213_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the core text-retrieval structure: one row
    per term with document frequency, total term frequency, and the head
    of the sorted posting list (first 8 doc ids; full lists would be the
    payload of an index table, truncated here to keep the result
    comparable). Terms appearing in a single document are dropped (they
    never help conjunctive retrieval pruning).

    Scale shape: explode + ONE groupBy on the term — the same map-side-
    combinable shuffle as word count; posting heads via sort_array over a
    collect_set bounded by df (for a real serving index you'd write the
    full postings bucketed by term). No driver collection, no windows."""
    d = load_table(spark, sf_dir, "documents")
    from .functions.text import tokens

    return (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf"),
            F.array_join(
                F.slice(F.sort_array(F.collect_set("doc_id")), 1, 8), ","
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= 2)
    )


@register(
    "q214_index_search",
    oracle="""
    WITH dt AS (
      SELECT doc_id, n_chars,
             list_filter(string_split(lower(trim(text, ' ')), ' '), w -> w <> '') AS t
      FROM documents
    )
    SELECT doc_id, n_chars FROM dt
    WHERE list_contains(t, 'spark') AND list_contains(t, 'merge')
      AND list_contains(t, 'window')
    """,
)
def q214_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) keyword search answered the way a search engine
    does it: intersect posting lists instead of scanning full text. The
    token stream is filtered to the 3 query terms FIRST (a tiny fraction of
    the corpus), then a doc qualifies iff it matched all 3 distinct terms.

    Scale shape: the term filter prunes before the only shuffle, so the
    groupBy carries |matching postings| rows, not |corpus tokens|; the
    final semi join back to documents recovers display columns. Contrast
    with the oracle's LIKE-style full scan — same answer, but the Spark
    plan is the index-intersection shape that survives a 10^10-doc
    corpus."""
    d = load_table(spark, sf_dir, "documents")
    from .functions.text import tokens

    terms = ["spark", "merge", "window"]
    hits = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.count_distinct("term").alias("nt"))
        .filter(F.col("nt") == len(terms))
        .select("doc_id")
    )
    return d.join(hits, "doc_id", "left_semi").select("doc_id", "n_chars")


@register(
    "q215_er_blocking",
    oracle="""
    WITH n AS (
      SELECT lower(p_name) AS nm,
             regexp_extract(lower(p_name), '(\\S+)$', 1) AS blk,
             COUNT(*) AS n_rows
      FROM part GROUP BY 1, 2
    )
    SELECT a.blk AS blk, a.nm AS name_a, b.nm AS name_b,
           levenshtein(a.nm, b.nm) AS dist,
           a.n_rows AS rows_a, b.n_rows AS rows_b
    FROM n a JOIN n b ON a.blk = b.blk AND a.nm < b.nm
    WHERE levenshtein(a.nm, b.nm) <= 3
    """,
)
def q215_er_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution with BLOCKING — the classic record-linkage
    pipeline: canonicalize to distinct name strings first (exact dedup
    with occurrence counts), block on a cheap key (the last name token) so
    candidate pairs form only within a block, then verify candidates with
    edit distance ≤ 3. Emits matched name pairs with their occurrence
    counts — the input a merge step would consume.

    Scale shape: the distinct-name table is |vocabulary|, orders of
    magnitude smaller than the corpus, so the quadratic verify runs on
    name-level rows, never record-level; blocking bounds each join bucket
    (the standard skew control in ER). Distinct from q126 (SymSpell
    delete-variants over single tokens): this blocks full multi-token
    names and verifies with true Levenshtein."""
    p = load_table(spark, sf_dir, "part")
    names = (
        p.select(F.lower("p_name").alias("nm"))
        .groupBy("nm")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("blk", F.regexp_extract("nm", r"(\S+)$", 1))
    )
    a = names.select(
        F.col("blk"),
        F.col("nm").alias("name_a"),
        F.col("n_rows").alias("rows_a"),
    )
    b = names.select(
        F.col("blk").alias("blk_b"),
        F.col("nm").alias("name_b"),
        F.col("n_rows").alias("rows_b"),
    )
    return (
        a.join(
            b,
            (F.col("blk") == F.col("blk_b")) & (F.col("name_a") < F.col("name_b")),
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 3)
        .select("blk", "name_a", "name_b", "dist", "rows_a", "rows_b")
    )


@register(
    "q216_k_anonymity",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
           COUNT(*) AS n
    FROM customer
    GROUP BY 1, 2, 3 HAVING COUNT(*) < 5
    """,
)
def q216_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over a quasi-identifier tuple
    (nation, market segment, account-balance band): every QI group with
    fewer than k=5 members is a re-identification risk — the privacy check
    a training-data release pipeline runs before publishing per-group
    statistics. Emits the risky groups with their sizes; the release step
    would suppress or generalize exactly these rows.

    Scale shape: one map-side-combinable groupBy on the QI tuple — the
    same cost as any grouped count at 100 TB; banding the continuous
    attribute is a scalar expression, so no per-row Python anywhere."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / F.lit(2000.0)).cast("long").alias(
                "bal_band"
            ),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") < 5)
    )


@register(
    "q217_stream_static_enrich",
    oracle="""
    SELECT date_trunc('day', e.ts) AS day_start,
           c.c_mktsegment AS segment,
           COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def q217_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join — the one Structured Streaming join
    shape the registry didn't yet demonstrate: a live event stream joined
    to a slowly-changing batch dimension (customer → segment), then a
    watermarked daily windowed aggregate per segment. The static side needs
    no watermark and holds no join state: Spark re-plans it per micro-batch
    and joins it under the stream (broadcast while it fits), which is why stream-static is the
    recommended enrichment pattern over copying dimension data into the
    stream.

    Scale shape: state is O(open windows × segments); the broadcast
    dimension is the only non-stream input, re-read per trigger (at scale
    you'd cache it or use a Delta table so updates flow through). The
    oracle is the batch twin — append-mode emission is deterministic here
    because the file source drains fully."""
    import os

    from .functions.scalar import dec_sum
    from .sources.readers import read_stream_ns_safe

    path = os.path.join(sf_dir, "events.parquet")
    stage_dir = _scratch_dir(spark, "stream_static")
    stage_parquet_files(path, stage_dir)
    stream = read_stream_ns_safe(spark, path, stage_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    agg = (
        stream.join(dim, stream.user_id == dim.c_custkey)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), "segment")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("day_start"), "segment", "n", "sum_value")
    )
    qname = "q217_stream_static_out"
    sq = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .start()
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()
    return spark.table(qname)


@register(
    "q218_semantic_dedup",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), p AS (
      SELECT b.vec_id AS vec_id, b.label AS label, a.vec_id AS u,
             ROUND(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS score
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT vec_id, label, MIN(u) AS kept_by, COUNT(*) AS n_nbrs,
           MAX(score) AS max_score
    FROM p WHERE score >= 0.30 GROUP BY vec_id, label
    """,
)
def q218_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): inside each cluster of the
    embedding space, documents whose embeddings are near-parallel are
    semantic duplicates — keep one representative, drop the rest. The
    cluster key here is the precomputed `label` column (the k-means step is
    q69); within a cluster every vector that has a cosine ≥ τ neighbor with
    a smaller id is marked dropped, keeping the smallest id as the
    survivor. Emits each dropped vector with its keeper, neighbor count,
    and the strongest similarity.

    Scale shape: THE point of SemDeDup — clustering first makes the
    quadratic pairwise stage run per-cluster, never corpus-wide; the
    pairwise stage itself is the Arrow-vectorized
    :func:`..functions.similarity.cluster_pair_scores` (one shuffle keyed
    by label, numpy block accumulation — the r12 rewrite of the per-pair
    JVM zip_with/aggregate fold, which is CodegenFallback and paid an
    interpreted 128-element fold + array allocation per pair: measured
    2.5 s → 0.5 s at sf0.1, scores IEEE-identical by the sequential-sweep
    argument in that docstring). The batch-side 0.299999 prefilter only
    trims the Arrow return stream; the authoritative threshold stays the
    engine-side round6 ``>= 0.30`` below. τ is data-dependent (0.30 here:
    the synthetic embeddings are near-orthogonal; real sentence
    embeddings use ~0.95+)."""
    from .functions.similarity import cluster_pair_scores

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    pairs = cluster_pair_scores(
        e, "vec_id", "label", "v", prefilter=0.299999
    ).select(
        "vec_id",
        "label",
        "u",
        # the raw score rounds and thresholds ENGINE-side (HALF_UP round6,
        # NaN-is-largest comparison, NULL-drop) — identical semantics to
        # the replaced try_divide/round pipeline
        F.round(F.col("score_raw"), 6).alias("score"),
    )
    return (
        pairs.filter(F.col("score") >= 0.30)
        .groupBy("vec_id", "label")
        .agg(
            F.min("u").alias("kept_by"),
            F.count(F.lit(1)).alias("n_nbrs"),
            F.max("score").alias("max_score"),
        )
    )


@register(
    "q219_source_diversity",
    oracle="""
    WITH t AS (
      SELECT d.source, e.vec_id,
             list_transform(e.embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ), ex AS (
      SELECT source, vec_id, unnest(qv) AS q,
             unnest(range(len(qv))) AS pos
      FROM t
    ), cent AS (
      SELECT source, pos, SUM(q) AS s FROM ex GROUP BY 1, 2
    ), norms AS (
      SELECT source, SUM(CAST(s AS DECIMAL(38,0)) * s) AS norm_s
      FROM cent GROUP BY 1
    ), dots AS (
      SELECT ex.source, ex.vec_id,
             SUM(CAST(ex.q * cent.s AS DECIMAL(38,0))) AS dot,
             SUM(CAST(ex.q AS DECIMAL(38,0)) * ex.q) AS norm_q
      FROM ex JOIN cent ON ex.source = cent.source AND ex.pos = cent.pos
      GROUP BY 1, 2
    ), cos AS (
      SELECT d.source,
             CAST(ROUND(CAST(CAST(d.dot AS VARCHAR) AS DOUBLE)
                        / (sqrt(CAST(CAST(d.norm_q AS VARCHAR) AS DOUBLE))
                           * sqrt(CAST(CAST(n.norm_s AS VARCHAR) AS DOUBLE))), 9)
                  AS DECIMAL(12,9)) AS c
      FROM dots d JOIN norms n ON d.source = n.source
    )
    SELECT source, COUNT(*) AS n_docs,
           ROUND(CAST(CAST(SUM(c) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
             + 0e0 AS avg_cos,
           CAST(MIN(c) AS DOUBLE) AS min_cos,
           CAST(MAX(c) AS DOUBLE) AS max_cos
    FROM cos GROUP BY source
    """,
)
def q219_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus DIVERSITY: how tightly each source's document
    embeddings concentrate around their own centroid (avg/min/max cosine
    to the source centroid). Low average = diverse source, high = redundant
    or templated — the signal mixture designers use to discount a domain's
    token budget. Cosine to the centroid equals cosine to the SUM vector
    (scale invariance), so no division by n ever happens; embeddings are
    quantized to 1e-6 ints first so every aggregate on both engines is
    EXACT integer/decimal algebra (the float-sum ordering problem cannot
    arise), and the per-doc cosine is quantized to DECIMAL(12,9) before
    the final order-insensitive average.

    Scale shape: two grouped aggregates (|sources|×dim and |docs|) plus a
    broadcast of the |sources|×dim centroid table — no quadratic stage at
    all, in contrast to q218; this is the cheap diversity proxy you can
    afford on every ingest batch."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    t = d.join(e, d.doc_id == e.vec_id).select("source", "vec_id", qv.alias("qv"))
    ex = t.select("source", "vec_id", F.posexplode("qv").alias("pos", "q"))
    cent = ex.groupBy("source", "pos").agg(F.sum("q").alias("s"))
    norms = cent.groupBy("source").agg(
        F.sum(F.col("s").cast("decimal(38,0)") * F.col("s")).alias("norm_s")
    )
    dots = (
        ex.join(F.broadcast(cent), ["source", "pos"])
        .groupBy("source", "vec_id")
        .agg(
            F.sum((F.col("q") * F.col("s")).cast("decimal(38,0)")).alias("dot"),
            F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("norm_q"),
        )
    )
    cos = dots.join(F.broadcast(norms), "source").select(
        "source",
        F.round(
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("norm_q").cast("double"))
                * F.sqrt(F.col("norm_s").cast("double"))
            ),
            9,
        )
        .cast("decimal(12,9)")
        .alias("c"),
    )
    return cos.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        round_disp(
            F.sum("c").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_cos"),
        F.min("c").cast("double").alias("min_cos"),
        F.max("c").cast("double").alias("max_cos"),
    )


# ---------------------------------------------------------------------------
# Wave 12: mixture temperature, VARIANT ingestion, Python DataSource,
# DP release, unigram-LM tokenizer, tokenizer fertility
# ---------------------------------------------------------------------------
@register(
    "q220_alpha_mixture",
    oracle="""
    WITH t AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split(lower(trim(text, ' ')), ' '),
                                      w -> w <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ), tot AS (SELECT SUM(n_tokens) AS tt FROM t),
    p AS (
      SELECT source, n_tokens,
             pow(n_tokens / CAST(tt AS DOUBLE), 0.7) AS pa
      FROM t, tot
    ), z AS (SELECT SUM(pa) AS za FROM p)
    SELECT source, n_tokens,
           ROUND(pa / za, 6) AS alpha_share,
           CAST(ROUND(pa / za * 1000000) AS BIGINT) AS budget_tokens
    FROM p, z
    """,
)
def q220_alpha_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (the α-sampling of XLM-R /
    mC4: q_i ∝ p_i^α with α=0.7): upweight low-resource domains without
    letting the head domains dominate. Emits each source's raw token
    count, its α-scaled sampling share, and the token budget it receives
    out of a 1M-token allocation.

    Scale shape: one grouped token count (map-side combinable), then all
    arithmetic on a |domains|-row table with two one-row broadcasts for
    the normalizers — nothing here grows with corpus size except the
    first aggregate. pow/round6 is the documented float-path convention."""
    from .functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    t = (
        d.select("source", token_count("text").cast("long").alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("n_tokens"))
    )
    tot = t.agg(F.sum("n_tokens").alias("tt"))
    p = t.join(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.pow(F.col("n_tokens") / F.col("tt").cast("double"), 0.7).alias("pa"),
    )
    z = p.agg(F.sum("pa").alias("za"))
    return p.join(F.broadcast(z)).select(
        "source",
        "n_tokens",
        F.round(F.col("pa") / F.col("za"), 6).alias("alpha_share"),
        F.round(F.col("pa") / F.col("za") * 1000000).cast("long").alias(
            "budget_tokens"
        ),
    )


@register(
    "q221_variant_shred",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN json_valid(props)
                         THEN CAST(json_extract(props, '$.k') AS BIGINT) END)
                AS BIGINT) AS sum_k,
           COUNT(DISTINCT CASE WHEN json_valid(props)
                               THEN CAST(json_extract(props, '$.k') AS BIGINT) // 10
                          END) AS k_decades
    FROM events WHERE props IS NOT NULL
    GROUP BY 1
    """,
)
def q221_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through the VARIANT type (Spark 4):
    `parse_json` turns the raw JSON payload into a binary variant ONCE at
    scan time, and every downstream access is `variant_get` with a typed
    path — the open-schema ingestion pattern that replaces
    schema-on-write for event payloads (and the engine's answer to JSON
    columns that evolve weekly). Aggregates a typed field extracted from
    the variant per event type.

    Scale shape: variant parse + path extraction are per-row JVM
    expressions (no Python, no UDF); the single groupBy is map-side
    combinable. Compare q29 (string get_json_object): variant parses the
    JSON once even when several paths are read, which is the at-scale
    difference when payloads carry dozens of fields."""
    e = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    v = e.select(
        # try_parse_json: malformed payloads become a NULL variant (path
        # gets return NULL downstream) instead of FAILFAST aborting the
        # job on one corrupt record — open-schema ingestion must tolerate
        # the garbage row a 100 TB event feed always contains
        "event_type", F.try_parse_json("props").alias("pv")
    ).select(
        "event_type",
        F.variant_get("pv", "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.count_distinct(F.floor(F.col("k") / 10).cast("long")).alias(
            "k_decades"
        ),
    )


@register(
    "q222_python_datasource",
    oracle="""
    WITH g AS (
      SELECT i,
             i % 16 AS bucket,
             (i * 48271) % 1000003 AS metric
      FROM range(80000) t(i)
    )
    SELECT bucket, COUNT(*) AS n, CAST(SUM(metric) AS BIGINT) AS sum_metric,
           MIN(metric) AS min_metric, MAX(metric) AS max_metric
    FROM g GROUP BY 1
    """,
)
def q222_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Python DataSource API (Spark 4,
    SPARK-44076): a deterministic synthetic-telemetry source that plans 8
    input partitions, each generating its own id range worker-side — the
    template for wrapping any Python-reachable system (REST feed, custom
    binary format, internal queue) as a first-class `spark.read.format()`
    source with real partition parallelism. The oracle regenerates the
    same rows from the closed-form generator, proving the source is
    exact, not just plausible.

    Scale shape: partition planning happens on the driver (8 splits
    here; a real source would split by shard/offset), generation is
    embarrassingly parallel, and everything after the scan is ordinary
    JVM aggregation. The class is defined in-function so cloudpickle
    ships it by value — no worker-side module install needed."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    n_rows, n_parts = 80000, 8

    class _SynthReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(n_parts)]

        def read(self, partition):
            per = n_rows // n_parts
            start = partition.value * per
            for i in range(start, start + per):
                yield (i, i % 16, (i * 48271) % 1000003)

    class SyntheticTelemetry(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_telemetry"

        def schema(self):
            return "i BIGINT, bucket INT, metric BIGINT"

        def reader(self, schema):
            return _SynthReader()

    spark.dataSource.register(SyntheticTelemetry)
    df = spark.read.format("synthetic_telemetry").load()
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("metric").alias("sum_metric"),
        F.min("metric").alias("min_metric"),
        F.max("metric").alias("max_metric"),
    )


@register(
    "q223_tokenizer_fertility",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(list_filter(string_split(lower(trim(text, ' ')), ' '),
                                    w -> w <> ''))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')))
                AS BIGINT) AS bpe_tokens,
           CAST(SUM(len(text)) AS BIGINT) AS n_chars,
           ROUND(SUM(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                          AS BIGINT))
                 / CAST(SUM(CAST(len(list_filter(string_split(lower(trim(text, ' ')), ' '),
                                                 w -> w <> '')) AS BIGINT)) AS DOUBLE),
                 6) AS fertility,
           ROUND(SUM(CAST(len(text) AS BIGINT))
                 / CAST(SUM(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                                 AS BIGINT)) AS DOUBLE), 6) AS chars_per_token
    FROM documents GROUP BY 1
    """,
)
def q223_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY audit per language: pieces-per-word (how many
    subword tokens the BPE-ish pre-tokenizer emits per whitespace word)
    and chars-per-token (compression). Fertility far above ~1.3 on a
    language means the tokenizer fragments it — the standard fairness
    check before fixing a multilingual token budget (the reason XLM-R
    retrained its vocab). Pure counting twin of q220: q220 decides the
    budget, this measures how far each language's budget actually goes.

    Scale shape: per-row regexp counts + one grouped sum — all JVM
    codegen, no explode (regexp_count avoids materializing the token
    array), map-side combinable."""
    from .functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_count("text", F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).cast(
        "long"
    )
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text").cast("long")).alias("ws_tokens"),
        F.sum(bpe).alias("bpe_tokens"),
        F.sum(F.length("text").cast("long")).alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        "n_chars",
        F.round(F.col("bpe_tokens") / F.col("ws_tokens").cast("double"), 6).alias(
            "fertility"
        ),
        F.round(F.col("n_chars") / F.col("bpe_tokens").cast("double"), 6).alias(
            "chars_per_token"
        ),
    )


@register(
    "q224_dp_noisy_counts",
    oracle="""
    WITH counts AS (
      SELECT source, lang, COUNT(*) AS true_n FROM documents GROUP BY 1, 2
    ),
    seeded AS (
      SELECT source, lang, true_n,
             (CAST(list_reduce(
                list_transform(
                  string_split_regex(
                    substr(md5(concat_ws('|', source, lang, 'dp_salt_v1')),
                           1, 13), ''),
                  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                (a, b) -> a * 16 + b) AS DOUBLE) + 0.5)
             / CAST(4503599627370496 AS DOUBLE) AS u
      FROM counts
    )
    SELECT source, lang,
           GREATEST(0, CAST(round(
             true_n + (-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) / 1.0)
           ) AS BIGINT)) AS noisy_n,
           1.0 AS epsilon
    FROM seeded
    """,
)
def q224_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (ε=1 Laplace mechanism) over
    the (source, lang) histogram — the other half of the privacy surface
    next to q216's k-anonymity audit: instead of suppressing risky groups,
    every published count gets calibrated Laplace noise so any single
    document's presence changes the distribution by at most e^ε.

    The noise is DERIVED, not drawn: md5(group key | salt) → 52-bit
    uniform in (0,1) → inverse-CDF Laplace. Deterministic noise is what
    makes a DP release reproducible across reruns and testable (same
    seed ⇒ same release), exactly like the content-hash sampling in
    q89/q123; the privacy analysis is identical to random draws as long
    as the salt stays secret. md5 (not xxhash64) since r06 so BOTH
    engines can derive the identical seed — the oracle replays the full
    hash → uniform → inverse-CDF pipeline in SQL (judge-suggested
    promotion; integer-level rounding of the noisy count absorbs any
    last-ulp libm ln() difference).

    Scale shape: one map-side-combinable groupBy; the noise is a handful
    of JVM scalar ops per OUTPUT row (|groups|, not |corpus|)."""
    epsilon = 1.0
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("true_n"))
    # u in (0,1): first 52 bits (13 hex chars) of the group md5, offset
    # half a ulp so u is never exactly 0 or 1 and ln() below stays finite
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", "source", "lang", F.lit("dp_salt_v1"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + 0.5) / F.lit(float(2**52))
    # inverse-CDF Laplace(0, b=1/eps)
    centered = u - 0.5
    noise = (
        -F.signum(centered)
        * F.log(1.0 - 2.0 * F.abs(centered))
        / F.lit(epsilon)
    )
    return counts.select(
        "source",
        "lang",
        F.greatest(
            F.lit(0), F.round(F.col("true_n") + noise).cast("long")
        ).alias("noisy_n"),
        F.lit(epsilon).alias("epsilon"),
    )


@register("q225_unigram_tokenizer")
def q225_unigram_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (functions/unigram.py — Kudo 2018,
    the SentencePiece unigram model): EM over Viterbi segmentations of
    the distinct-word frame, piece probabilities renormalized each round,
    single-char coverage guaranteed. Complements q149 (BPE): the two
    subword families every production tokenizer comes from. Iterative
    float recurrence ⇒ rows-only; the EM mechanics are pinned on a
    hand-checkable corpus in tests/test_wave12.py."""
    from .functions.unigram import unigram_train

    d = load_table(spark, sf_dir, "documents")
    return unigram_train(d, "text", vocab_size=48, max_piece_len=4, iterations=2)


# ---------------------------------------------------------------------------
# Wave 13: stateful user profiles, watermark-sizing diagnostics, restart
# recovery, k-core decomposition
# ---------------------------------------------------------------------------
@register(
    "q226_transform_with_state",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS sum_micros,
           COUNT(DISTINCT event_type) AS n_types
    FROM events GROUP BY 1
    """,
)
def q226_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user profile as a stateful stream (streaming/stateful.py::
    user_profiles, ``applyInPandasWithState``): running event count,
    value-micros sum and distinct event types accumulated across 4
    micro-batches, Update-mode emissions, final profile per user. The
    oracle is the batch twin — state surviving batch boundaries is exactly
    what makes them equal."""
    import os

    from .streaming.stateful import user_profiles

    return user_profiles(
        spark, os.path.join(sf_dir, "events.parquet"), n_batches=4
    )


@register(
    "q227_event_disorder",
    oracle="""
    WITH d AS (
      SELECT user_id, ts, event_id,
             MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) AS max_so_far
      FROM events
    ), late AS (
      SELECT CAST(epoch_us(max_so_far) - epoch_us(ts) AS BIGINT) AS late_us
      FROM d
    )
    SELECT CASE WHEN late_us = 0 THEN 'in_order'
                WHEN late_us <= 60000000 THEN 'lt_1min'
                WHEN late_us <= 3600000000 THEN 'lt_1h'
                ELSE 'gt_1h' END AS disorder_bucket,
           COUNT(*) AS n,
           CAST(MAX(late_us) AS BIGINT) AS max_late_us
    FROM late GROUP BY 1
    """,
)
def q227_event_disorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time DISORDER profile — the data-driven answer to "how big
    should the watermark delay be": for each event, its lateness versus
    the maximum event time already seen in its user's arrival order
    (event_id = arrival sequence), bucketed into the watermark-sizing
    histogram. A p99 inside 'lt_1min' means a 1-minute watermark loses
    <1% of events; 'gt_1h' mass means the q71/q95 two-hour delay is load-
    bearing. The streaming operators in this registry pin their delays to
    exactly this measurement.

    Scale shape: one per-user window (running max over arrival order —
    users partition naturally, no global sort) + one tiny groupBy; lateness
    in exact integer micros so the bucket edges can't float-drift."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late_us = (
        F.unix_micros(F.max("ts").over(w)) - F.unix_micros(F.col("ts"))
    ).alias("late_us")
    late = e.select(late_us)
    bucket = (
        F.when(F.col("late_us") == 0, "in_order")
        .when(F.col("late_us") <= 60_000_000, "lt_1min")
        .when(F.col("late_us") <= 3_600_000_000, "lt_1h")
        .otherwise("gt_1h")
    )
    return late.groupBy(bucket.alias("disorder_bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("late_us").alias("max_late_us"),
    )


@register(
    "q228_restart_recovery",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS sum_micros,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
)
def q228_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a streaming query RESTART (streaming/recovery.py::
    restart_recovery_counts): half the feed is consumed into a
    checkpointed parquet sink, the query STOPS, the rest of the feed
    arrives, and a new query object resumes from the same checkpoint. The
    oracle aggregates the raw feed — equality proves the recovered sink
    holds every row exactly once (no replay after restart, no loss). This
    is the operational property that lets a 100 TB/day pipeline survive
    executor loss, code redeploys, and cluster moves."""
    import os

    from .streaming.recovery import restart_recovery_counts

    return restart_recovery_counts(spark, os.path.join(sf_dir, "events.parquet"))


def _kcore_oracle(k: int, rounds: int) -> str:
    """Chained-CTE k-core peeling (operators/graph.py::kcore over
    copurchase_edges): all-integer state, synchronous drop-all-deg<k
    rounds — identical to the Spark loop. The fixpoint depth is data-
    dependent (measured ≤8 on every fixture; unrolled with 3× margin),
    and the oracle FAILS LOUD rather than silently wrong: if one more
    round would still drop a vertex, a sentinel row is emitted so the
    row-count comparison goes red instead of certifying a half-peeled
    core."""
    ctes = [
        "ed AS MATERIALIZED (SELECT a, b FROM ("
        "SELECT l1.l_partkey AS a, l2.l_partkey AS b, COUNT(*) AS c "
        "FROM lineitem l1 JOIN lineitem l2 "
        "ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey "
        "GROUP BY 1, 2) WHERE c >= 2)",
        "e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed "
        "UNION ALL SELECT b, a FROM ed)",
    ]
    for j in range(1, rounds + 1):
        ctes.append(
            f"drop{j} AS MATERIALIZED (SELECT src FROM e{j - 1} "
            f"GROUP BY 1 HAVING COUNT(*) < {k})"
        )
        ctes.append(
            f"e{j} AS MATERIALIZED (SELECT e.src, e.dst FROM e{j - 1} e "
            f"WHERE NOT EXISTS (SELECT 1 FROM drop{j} d WHERE d.src = e.src) "
            f"AND NOT EXISTS (SELECT 1 FROM drop{j} d WHERE d.src = e.dst))"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT src AS node, COUNT(*) AS core_deg FROM e{rounds} "
        f"GROUP BY 1\n"
        f"UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) "
        f"WHERE EXISTS (SELECT src FROM e{rounds} "
        f"GROUP BY 1 HAVING COUNT(*) < {k})"
    )


@register("q229_kcore", oracle=_kcore_oracle(3, 24))
def q229_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the frequent-co-purchase graph (q160's edge set: parts
    co-ordered ≥ 2 times) via iterative peeling
    (operators/graph.py::kcore) — the dense-subgraph primitive between
    connected components (q78) and triangles (q160) in the graph family.
    Iterative fixpoint ⇒ rows-only; the peeling invariants (every member
    keeps ≥ k in-core neighbors; no non-member could) are asserted in
    tests/test_wave13.py against an independent Python peeler."""
    from .operators.graph import kcore

    li = load_table(spark, sf_dir, "lineitem")
    from .operators.graph import copurchase_edges

    edges = copurchase_edges(li)
    return kcore(edges, k=3)


# ---------------------------------------------------------------------------
# Wave 14: expectation suite, readability, PSI drift
# ---------------------------------------------------------------------------
@register(
    "q230_expectation_suite",
    oracle="""
    WITH t AS (SELECT COUNT(*) AS total FROM orders),
    rows_out AS (
      SELECT 'not_null(o_orderkey)' AS "constraint", 'o_orderkey' AS "column",
             (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL) AS violations,
             total FROM t
      UNION ALL
      SELECT 'unique(o_orderkey)', 'o_orderkey',
             (SELECT COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) FROM orders),
             total FROM t
      UNION ALL
      SELECT 'in_range(o_totalprice)', 'o_totalprice',
             (SELECT COUNT(*) FROM orders
              WHERE o_totalprice IS NOT NULL
                AND (o_totalprice < 0 OR o_totalprice > 600000)),
             total FROM t
      UNION ALL
      SELECT 'in_set(o_orderstatus)', 'o_orderstatus',
             (SELECT COUNT(*) FROM orders
              WHERE o_orderstatus IS NOT NULL
                AND o_orderstatus NOT IN ('O','F','P')),
             total FROM t
      UNION ALL
      SELECT 'matches(o_orderpriority)', 'o_orderpriority',
             (SELECT COUNT(*) FROM orders
              WHERE o_orderpriority IS NOT NULL
                AND NOT regexp_matches(o_orderpriority, '^[1-5]-')),
             total FROM t
      UNION ALL
      SELECT 'references(o_custkey)', 'o_custkey',
             (SELECT COUNT(*) FROM orders o
              WHERE o.o_custkey IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)),
             total FROM t
    )
    SELECT "constraint", "column", CAST(violations AS BIGINT) AS violations,
           CAST(total AS BIGINT) AS total,
           CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END AS status
    FROM rows_out
    """,
)
def q230_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite (operators/expectations.py — the
    Deequ / Great Expectations capability): six constraints over the
    orders table — not-null and uniqueness of the key, a price range, an
    accepted-value set, a format regex, and referential integrity to
    customer — compiled into ONE scan plus one anti join, reported as a
    per-constraint pass/fail ledger. This is the ingest gate a production
    pipeline runs before publishing a batch.

    Scale shape: every non-relational constraint is an expression in a
    single agg (adding a check adds no job); the RI check prunes to the
    key column before its anti join."""
    from .operators.expectations import Expect, run_suite

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    suite = [
        Expect("not_null", "o_orderkey"),
        Expect("unique", "o_orderkey"),
        Expect("in_range", "o_totalprice", lo=0, hi=600000),
        Expect("in_set", "o_orderstatus", values=["O", "F", "P"]),
        Expect("matches", "o_orderpriority", pattern="^[1-5]-"),
        Expect("references", "o_custkey", ref=c, ref_column="c_custkey"),
    ]
    return run_suite(o, suite)


@register(
    "q231_readability",
    oracle="""
    WITH m AS (
      SELECT lang,
             CAST(len(list_filter(string_split(lower(trim(text, ' ')), ' '),
                                  w -> w <> '')) AS BIGINT) AS words,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
               AS syllables,
             CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT) + 1
               AS sentences
      FROM documents
    )
    , q AS (
      SELECT lang,
             CAST(ROUND(206.835 - 1.015 * (words / CAST(sentences AS DOUBLE))
                        - 84.6 * (syllables / CAST(words AS DOUBLE)), 6)
                  AS DECIMAL(14,6)) AS s
      FROM m WHERE words > 0
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(CAST(CAST(SUM(s) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
             + 0e0 AS avg_flesch,
           CAST(MIN(s) AS DOUBLE) AS min_flesch
    FROM q GROUP BY 1
    """,
)
def q231_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per language (vowel-group syllable heuristic,
    sentence count from terminal punctuation + 1) — the classic
    readability member of the quality-signal family (q35 rule scores,
    q170 char-LM perplexity, q179 Gopher rules): pretraining filters
    routinely drop the extreme-unreadable tail.

    Scale shape: three regexp counts per row (no explode, no Python), one
    grouped average. Per-doc scores are quantized to DECIMAL(14,6) before
    summation (the q170 convention) so the grouped average is
    order-independent — a raw double AVG would hash-flake on partition
    layout."""
    from .functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    words = token_count("text").cast("long")
    syllables = F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).cast("long")
    sentences = (F.regexp_count("text", F.lit("[.!?]")) + 1).cast("long")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("words") / F.col("sentences").cast("double"))
        - F.lit(84.6) * (F.col("syllables") / F.col("words").cast("double"))
    )
    m = d.select(
        "lang",
        words.alias("words"),
        syllables.alias("syllables"),
        sentences.alias("sentences"),
    ).filter(F.col("words") > 0)
    q = m.select("lang", F.round(score, 6).cast("decimal(14,6)").alias("s"))
    return q.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        round_disp(
            F.sum("s").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_flesch"),
        F.min("s").cast("double").alias("min_flesch"),
    )


@register(
    "q232_psi_drift",
    oracle="""
    WITH base AS (
      SELECT event_id, event_type, value,
             (SELECT COUNT(*) FROM events) AS n_total,
             (SELECT MIN(value) FROM events) AS vmin,
             (SELECT MAX(value) FROM events) AS vmax
      FROM events
    ), tagged AS (
      SELECT CASE WHEN event_id < n_total // 2 THEN 'ref' ELSE 'cur' END AS period,
             event_type,
             LEAST(9, CAST(floor((value - vmin) / (vmax - vmin) * 10)
                           AS BIGINT)) AS bucket
      FROM base
    ), feats AS (
      SELECT period, 'value_decile' AS feature, CAST(bucket AS VARCHAR) AS cat
      FROM tagged
      UNION ALL
      SELECT period, 'event_type' AS feature, event_type AS cat FROM tagged
    ), counts AS (
      SELECT feature, cat,
             SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS nr,
             SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS nc
      FROM feats GROUP BY 1, 2
    ), tot AS (
      SELECT feature, SUM(nr) AS tr, SUM(nc) AS tc, COUNT(*) AS ncat
      FROM counts GROUP BY 1
    ), terms AS (
      SELECT c.feature,
             CAST(ROUND(((c.nr + 0.5) / (t.tr + 0.5 * t.ncat)
                         - (c.nc + 0.5) / (t.tc + 0.5 * t.ncat))
                        * ln(((c.nr + 0.5) / (t.tr + 0.5 * t.ncat))
                             / ((c.nc + 0.5) / (t.tc + 0.5 * t.ncat))), 9)
                  AS DECIMAL(12,9)) AS term
      FROM counts c JOIN tot t USING (feature)
    )
    SELECT feature,
           ROUND(CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE), 6) AS psi
    FROM terms GROUP BY 1
    """,
)
def q232_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index DRIFT report — the ML-ops monitor run
    between a reference batch and the current batch before retraining or
    alerting: the event feed splits into earlier/later halves (arrival
    order), each monitored feature is bucketed (fixed-width deciles for
    the numeric value, categories for event_type), and PSI =
    Σ (p−q)·ln(p/q) with 0.5 add-k smoothing per bucket. PSI > 0.2 is the
    standard retrain trigger.

    Scale shape: one pass tags period + bucket per row, one grouped count
    per (feature, category), and the PSI reduction runs on |categories|
    rows; per-bucket terms quantize to DECIMAL(12,9) pre-sum so the
    result is order-independent (q170 convention)."""
    e = load_table(spark, sf_dir, "events")
    stats = e.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    base = e.join(F.broadcast(stats))
    tagged = base.select(
        F.when(F.col("event_id") < (F.col("n_total") / 2).cast("long"), "ref")
        .otherwise("cur")
        .alias("period"),
        "event_type",
        F.least(
            F.lit(9),
            F.floor(
                (F.col("value") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin"))
                * 10
            ).cast("long"),
        ).alias("bucket"),
    )
    feats = tagged.select(
        "period", F.lit("value_decile").alias("feature"),
        F.col("bucket").cast("string").alias("cat"),
    ).unionByName(
        tagged.select(
            "period", F.lit("event_type").alias("feature"),
            F.col("event_type").alias("cat"),
        )
    )
    counts = feats.groupBy("feature", "cat").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0)).alias("nr"),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0)).alias("nc"),
    )
    tot = counts.groupBy("feature").agg(
        F.sum("nr").alias("tr"), F.sum("nc").alias("tc"),
        F.count(F.lit(1)).alias("ncat"),
    )
    p = (F.col("nr") + 0.5) / (F.col("tr") + 0.5 * F.col("ncat"))
    q = (F.col("nc") + 0.5) / (F.col("tc") + 0.5 * F.col("ncat"))
    terms = counts.join(F.broadcast(tot), "feature").select(
        "feature",
        F.round((p - q) * F.log(p / q), 9).cast("decimal(12,9)").alias("term"),
    )
    return terms.groupBy("feature").agg(
        F.round(F.sum("term").cast("double"), 6).alias("psi")
    )


# ---------------------------------------------------------------------------
# Wave 15 — nonparametric two-sample tests on the scalable prefix-scan
# (stats/ranktests.py + operators/windows.py::global_prefix_sum)
# ---------------------------------------------------------------------------
_SEG_GROUP_SQL = """
  SELECT o_totalprice AS v,
         CASE WHEN c_mktsegment = 'BUILDING'  THEN 1
              WHEN c_mktsegment = 'MACHINERY' THEN 2 END AS g
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
"""


@register(
    "q233_ks_two_sample",
    oracle=f"""
    WITH j AS ({_SEG_GROUP_SQL}),
    counts AS (
      SELECT v,
             SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS d1,
             SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS d2
      FROM j GROUP BY v
    ),
    cum AS (
      SELECT v,
             SUM(d1) OVER (ORDER BY v) AS c1,
             SUM(d2) OVER (ORDER BY v) AS c2
      FROM counts
    ),
    tot AS (SELECT CAST(SUM(d1) AS BIGINT) AS n1,
                   CAST(SUM(d2) AS BIGINT) AS n2 FROM counts),
    scored AS (
      SELECT v, n1, n2,
             CAST(ABS(c1 * n2 - c2 * n1) AS BIGINT) AS gap
      FROM cum, tot
    ),
    best AS (SELECT MAX(gap) AS max_gap FROM scored)
    SELECT n1, n2,
           ROUND(CAST(max_gap AS DOUBLE) / (n1 * n2), 6) AS d_stat,
           MIN(v) AS d_location,
           ROUND(1.358 * SQRT(CAST(n1 + n2 AS DOUBLE) / (n1 * n2)), 6)
             AS crit_05,
           (CAST(max_gap AS DOUBLE) / (n1 * n2))
             > (1.358 * SQRT(CAST(n1 + n2 AS DOUBLE) / (n1 * n2)))
             AS reject_05
    FROM scored, best WHERE gap = max_gap
    GROUP BY n1, n2, max_gap
    """,
)
def q233_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test: order totals of BUILDING
    vs MACHINERY customers (stats/ranktests.py::ks_two_sample). The
    engine's distribution-free sibling of the reference's parametric
    tests (R_groupe4.R:809-887 runs cor.test/ANOVA; base-R ks.test is the
    canonical companion), and the standard train/serve drift gate.

    Scale shape: join (AQE-broadcastable dim), one groupBy on distinct
    values, then the two-phase parallel prefix scan
    (operators/windows.py::global_prefix_sum) — NEVER a single-reducer
    global window — and a max reduction. D reduces to exact integer
    algebra (max |c1·n2 − c2·n1|), one division at the end (round6)."""
    from .stats.ranktests import ks_two_sample

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).where(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    grp = (
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .when(F.col("c_mktsegment") == "MACHINERY", 2)
    )
    return ks_two_sample(j, "o_totalprice", grp)


@register(
    "q234_mannwhitney_u",
    oracle=f"""
    WITH j AS ({_SEG_GROUP_SQL}),
    counts AS (
      SELECT v,
             SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS d1,
             SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END)
               + SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS t
      FROM j GROUP BY v
    ),
    cum AS (
      SELECT d1, t,
             SUM(t) OVER (ORDER BY v) - t AS before
      FROM counts
    ),
    a AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS n1,
             CAST(SUM(t - d1) AS BIGINT) AS n2,
             CAST(SUM(d1 * (2 * before + t + 1)) AS BIGINT) AS two_r1,
             CAST(SUM(t * t * t - t) AS BIGINT) AS tie_sum
      FROM cum
    )
    SELECT n1, n2,
           CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u_stat,
           ROUND((CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / 2.0
                   - CAST(n1 * n2 AS DOUBLE) / 2.0)
                 / SQRT(CAST(n1 * n2 AS DOUBLE) / 12.0
                        * (CAST(n1 + n2 + 1 AS DOUBLE)
                           - CAST(tie_sum AS DOUBLE)
                             / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE))),
                 6) + 0e0 AS z_score,
           ROUND(1.0 - CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE)
                       / CAST(n1 * n2 AS DOUBLE), 6) + 0e0 AS rank_biserial
    FROM a
    """,
)
def q234_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) with midrank ties and the
    tie-corrected normal approximation, same two customer segments as
    q233 (stats/ranktests.py::mannwhitney_u) — the location-shift member
    of the nonparametric pair (KS = shape, MWU = location).

    Scale shape: identical to q233 — distinct-value counts, two-phase
    prefix scan for the pooled before-counts, one sum reduction. 2·R1 and
    the tie term are exact integers; z and the rank-biserial effect size
    are single float expressions over them (round6)."""
    from .stats.ranktests import mannwhitney_u

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).where(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    grp = (
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .when(F.col("c_mktsegment") == "MACHINERY", 2)
    )
    return mannwhitney_u(j, "o_totalprice", grp)


@register(
    "q235_acf",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS x
      FROM orders GROUP BY 1, 2
    ),
    m AS (
      SELECT prio, CAST(SUM(CAST(x AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) AS mean_x,
             COUNT(*) AS n_days
      FROM daily GROUP BY 1
    ),
    dev AS (
      SELECT d.prio, d.day, n_days, d.x - mean_x AS dv
      FROM daily d JOIN m ON d.prio = m.prio
    ),
    lagged AS (
      SELECT prio, n_days, dv,
             LAG(dv, 1) OVER (PARTITION BY prio ORDER BY day) AS l1,
             LAG(dv, 2) OVER (PARTITION BY prio ORDER BY day) AS l2,
             LAG(dv, 3) OVER (PARTITION BY prio ORDER BY day) AS l3,
             LAG(dv, 7) OVER (PARTITION BY prio ORDER BY day) AS l7
      FROM dev
    ),
    terms AS (
      SELECT prio, n_days,
             CAST(ROUND(dv * dv, 4) AS DECIMAL(28,4)) AS d0,
             CAST(ROUND(dv * l1, 4) AS DECIMAL(28,4)) AS t1,
             CAST(ROUND(dv * l2, 4) AS DECIMAL(28,4)) AS t2,
             CAST(ROUND(dv * l3, 4) AS DECIMAL(28,4)) AS t3,
             CAST(ROUND(dv * l7, 4) AS DECIMAL(28,4)) AS t7
      FROM lagged
    )
    SELECT prio, n_days,
           ROUND(CAST(SUM(t1) AS DOUBLE) / CAST(SUM(d0) AS DOUBLE), 6) + 0e0 AS acf_1,
           ROUND(CAST(SUM(t2) AS DOUBLE) / CAST(SUM(d0) AS DOUBLE), 6) + 0e0 AS acf_2,
           ROUND(CAST(SUM(t3) AS DOUBLE) / CAST(SUM(d0) AS DOUBLE), 6) + 0e0 AS acf_3,
           ROUND(CAST(SUM(t7) AS DOUBLE) / CAST(SUM(d0) AS DOUBLE), 6) + 0e0 AS acf_7
    FROM terms GROUP BY prio, n_days
    """,
)
def q235_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the DAILY-REVENUE series per order priority at
    lags 1/2/3/7 — the seasonality detector that feeds q168's seasonal
    decomposition (a lag-7 spike ⇒ weekly period) and the q169 anomaly
    windows. r_k = Σ dv_t·dv_{t−k} / Σ dv_t² on the mean-centered series
    (full-series denominator — the statsmodels/Box-Jenkins convention).

    Scale shape: the raw table collapses to |priorities|×|days| rows in
    one groupBy before any window; the lag windows partition by priority
    (parallel; the per-partition sort is over the bounded calendar axis,
    not data). Exactness: daily x and its mean come from decimal sums;
    products quantize to DECIMAL(28,4) pre-sum (q170 convention) so the
    grouped sums are order-independent; one division + round6 at the end."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(28,4)")).alias("xd"))
    m = daily.groupBy("prio").agg(
        (F.sum("xd").cast("double") / F.count(F.lit(1))).alias("mean_x"),
        F.count(F.lit(1)).alias("n_days"),
    )
    dev = daily.join(F.broadcast(m), "prio").select(
        "prio", "day", "n_days", (F.col("xd").cast("double") - F.col("mean_x")).alias("dv")
    )
    w = Window.partitionBy("prio").orderBy("day")
    lagged = dev.select(
        "prio",
        "n_days",
        "dv",
        *[F.lag("dv", k).over(w).alias(f"l{k}") for k in (1, 2, 3, 7)],
    )
    q4 = lambda col: F.round(col, 4).cast("decimal(28,4)")
    terms = lagged.select(
        "prio",
        "n_days",
        q4(F.col("dv") * F.col("dv")).alias("d0"),
        *[q4(F.col("dv") * F.col(f"l{k}")).alias(f"t{k}") for k in (1, 2, 3, 7)],
    )
    den = F.sum("d0").cast("double")
    return terms.groupBy("prio", "n_days").agg(
        *[
            round_disp(F.sum(f"t{k}").cast("double") / den, 6).alias(f"acf_{k}")
            for k in (1, 2, 3, 7)
        ]
    )


@register(
    "q236_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS x
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT CAST(SUM(CAST(x AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) AS mean_x
      FROM daily
    ),
    dev AS (
      SELECT day, CAST(ROUND(x - mean_x, 4) AS DECIMAL(28,4)) AS dv,
             CAST(ROUND((x - mean_x) * (x - mean_x), 4) AS DECIMAL(28,4)) AS dv2
      FROM daily, m
    ),
    cum AS (
      SELECT day, SUM(dv) OVER (ORDER BY day) AS s FROM dev
    ),
    ss AS (SELECT CAST(SUM(dv2) AS DOUBLE) AS ssd FROM dev)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           ROUND(CAST(s AS DOUBLE) / SQRT(ssd), 6) + 0e0 AS cusum_norm
    FROM cum, ss
    -- order by the ROUNDED statistic (as the Spark side does): two days
    -- differing only past the 6th decimal at the top-5 cutoff must
    -- resolve by the same tie-break on both engines
    ORDER BY ABS(ROUND(CAST(s AS DOUBLE) / SQRT(ssd), 6)) DESC, day
    LIMIT 5
    """,
)
def q236_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift changepoint scan on the global daily-revenue
    series: S_t = Σ_{i≤t}(x_i − x̄), normalized by √(Σ dv²) so
    max |S_t|/√(Σdv²) is the standard CUSUM changepoint statistic; the
    five largest-|S| days are the candidate changepoints a monitoring
    pipeline alerts on (the batch twin of q169's rolling z-score).

    Scale shape: collapse to |days| rows in one groupBy, then the
    two-phase prefix scan (operators/windows.py::global_prefix_sum) for
    the cumulative sums — no single-reducer data window; top-5 by |S| via
    ordered LIMIT (TakeOrderedAndProject, no full sort materialized).
    Exactness: deviations and squares quantize to DECIMAL(28,4) pre-sum;
    the normalizing √Σdv² is one float op on an exact decimal (round6)."""
    from .operators.windows import global_prefix_sum

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,4)")).alias("xd")
    )
    m = daily.agg(
        (F.sum("xd").cast("double") / F.count(F.lit(1))).alias("mean_x")
    )
    dev = daily.join(F.broadcast(m)).select(
        "day",
        F.round(F.col("xd").cast("double") - F.col("mean_x"), 4)
        .cast("decimal(28,4)")
        .alias("dv"),
        F.round(
            (F.col("xd").cast("double") - F.col("mean_x"))
            * (F.col("xd").cast("double") - F.col("mean_x")),
            4,
        )
        .cast("decimal(28,4)")
        .alias("dv2"),
    )
    ss = dev.agg(F.sum("dv2").alias("ss"))
    cum = global_prefix_sum(dev, "day", ["dv"])
    scored = cum.join(F.broadcast(ss)).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        round_disp(
            F.col("dv_cum").cast("double") / F.sqrt(F.col("ss").cast("double")),
            6,
        ).alias("cusum_norm"),
    )
    return scored.orderBy(F.abs("cusum_norm").desc(), "day").limit(5)


# ---------------------------------------------------------------------------
# Wave 15b — WordPiece encoder, k-center coreset selection, label
# propagation communities
# ---------------------------------------------------------------------------
@register(
    "q237_wordpiece_stats",
    # Oracle (promoted r09, with q149/q150): the vocab derives from the
    # replayed BPE rules (initial + ## continuation forms); the greedy
    # longest-match segmenter is a per-round cross join against the ≤32-
    # piece vocab unrolled max_len=32 rounds — each round consumes ≥1
    # char and both engines [UNK] longer words, so the unroll always
    # suffices. Fertility/split_frac are single exact-integer divisions
    # round6 (bit-identical).
    oracle=__import__(
        "isen_projet_bigdata_a3s6_spark.functions.bpe_oracle", fromlist=["x"]
    ).wordpiece_stats_oracle_sql(
        "documents", "text", "doc_id", "lang", num_merges=8, max_len=32
    ),
)
def q237_wordpiece_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenization audit per language: vocab bootstrapped from
    the corpus's own BPE merges (functions/wordpiece.py::vocab_from_bpe),
    then the genuine greedy longest-match-first encoder with ## pieces —
    the third member of the tokenizer triad (BPE q149/q150 = merge
    replay, Unigram q225 = Viterbi, WordPiece = greedy set lookup).
    Reports docs, words, pieces, split-word share and fertility
    (pieces/word, round6) per lang — the cross-tokenizer comparison a
    pretraining team runs before committing a vocab.

    The greedy encoder is pinned against hand-worked segmentations in
    tests/test_wave15.py; the DuckDB oracle replays training + encode.
    Scale: vocab ships in the closure (broadcast-sized); encode is one
    Arrow-batched map; the aggregate is one |langs|-group shuffle."""
    from .functions.bpe import bpe_train
    from .functions.wordpiece import vocab_from_bpe, wordpiece_stats

    d = load_table(spark, sf_dir, "documents")
    vocab = vocab_from_bpe(bpe_train(d, "text", num_merges=8))
    stats = wordpiece_stats(d, "text", vocab, max_len=32)
    j = stats.join(d.select("doc_id", "lang"), "doc_id")
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_pieces").alias("n_pieces"),
        F.round(
            F.sum("n_pieces").cast("double") / F.sum("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_split_words").cast("double") / F.sum("n_words"), 6
        ).alias("split_frac"),
    )


def _kcenter_oracle(k: int) -> str:
    """Chained-CTE greedy k-center (functions/similarity.py::
    kcenter_select): the seed is the smallest id, each round's argmax and
    squared-distance fold replay bit-identically (float32→double casts
    are exact, the dim fold runs in index order in both engines, LEAST
    chains preserve exact doubles), so the per-round selections match
    exactly rather than approximately."""
    sq = (
        "list_reduce(list_transform(range(1, len(e.v) + 1), "
        "i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])), (a, b) -> a + b)"
    )
    ctes = [
        "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        "c1 AS MATERIALIZED (SELECT vec_id, v FROM emb ORDER BY vec_id"
        " LIMIT 1)",
        f"s1 AS MATERIALIZED (SELECT e.vec_id, e.v, {sq} AS d "
        f"FROM emb e, c1 c WHERE e.vec_id <> c.vec_id)",
    ]
    for j in range(2, k + 1):
        ctes.append(
            f"c{j} AS MATERIALIZED (SELECT vec_id, v, d FROM s{j - 1} "
            f"ORDER BY d DESC, vec_id LIMIT 1)"
        )
        if j < k:
            ctes.append(
                f"s{j} AS MATERIALIZED (SELECT e.vec_id, e.v, "
                f"LEAST(e.d, {sq}) AS d "
                f"FROM s{j - 1} e, c{j} c WHERE e.vec_id <> c.vec_id)"
            )
    selects = [
        "SELECT 1 AS step, vec_id, CAST(NULL AS DOUBLE) AS radius FROM c1"
    ] + [
        f"SELECT {j}, vec_id, round(sqrt(d), 6) FROM c{j}"
        for j in range(2, k + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(selects)


@register("q238_kcenter_coreset", oracle=_kcenter_oracle(8))
def q238_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset over the embeddings table
    (functions/similarity.py::kcenter_select, k=8): the diverse-subset
    selector for training-data curation — complements SemDeDup (q218
    removes redundancy) by SELECTING spread (Gonzalez 2-approx to the
    k-center radius). Returns the selection order with per-step coverage
    radii (non-increasing — pinned in tests alongside exact parity with a
    numpy reference run).

    Iterative argmax ⇒ rows-only. Scale: k map+reduce rounds over an
    (id, vec, d_min) frame; one row to the driver per round; no pairwise
    stage anywhere."""
    from .functions.similarity import kcenter_select

    e = load_table(spark, sf_dir, "embeddings")
    return kcenter_select(e, "embedding", "vec_id", k=8)


def _lpa_oracle(rounds: int) -> str:
    """Chained-CTE synchronous label propagation (operators/graph.py::
    label_propagation over copurchase_edges): all-integer state — per
    round a neighbor-label count and a (cnt desc, label asc) argmax —
    so the unrolled fixed-round sweep replays exactly."""
    ctes = [
        "ed AS MATERIALIZED (SELECT a, b FROM ("
        "SELECT l1.l_partkey AS a, l2.l_partkey AS b, COUNT(*) AS c "
        "FROM lineitem l1 JOIN lineitem l2 "
        "ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey "
        "GROUP BY 1, 2) WHERE c >= 2)",
        "e AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed "
        "UNION ALL SELECT b, a FROM ed)",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label"
        " FROM e)",
    ]
    for j in range(1, rounds + 1):
        ctes.append(
            f"v{j} AS MATERIALIZED (SELECT e.dst, l.label, COUNT(*) AS cnt "
            f"FROM e JOIN l{j - 1} l ON l.node = e.src GROUP BY 1, 2)"
        )
        ctes.append(
            f"l{j} AS MATERIALIZED (SELECT dst AS node, label FROM ("
            f"SELECT dst, label, ROW_NUMBER() OVER (PARTITION BY dst "
            f"ORDER BY cnt DESC, label ASC) AS rn FROM v{j}) WHERE rn = 1)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT label, COUNT(*) AS size FROM l{rounds} GROUP BY 1 "
        f"ORDER BY size DESC, label LIMIT 20"
    )


@register("q239_label_propagation", oracle=_lpa_oracle(5))
def q239_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes on the frequent-co-purchase graph (q160/q229's
    edge set) via deterministic synchronous label propagation
    (operators/graph.py::label_propagation, 5 rounds, most-frequent-
    neighbor-label rule with min-label ties): the community layer of the
    graph family — CC (q78) answers "connected?", LPA answers "which
    dense neighborhood?". Output: top-20 communities by size (ties by
    label) — deterministic because the update rule is.

    Iterative fixpoint ⇒ rows-only; the update rule is pinned against an
    independent Python sweep in tests/test_wave15.py."""
    from .operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    from .operators.graph import copurchase_edges

    edges = copurchase_edges(li)
    labels = label_propagation(edges)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), F.asc("label"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Wave 16 — BM25 retrieval, Theil–Sen robust slope, partition-pruned
# layout, grouped weighted median
# ---------------------------------------------------------------------------
@register(
    "q240_bm25_topk",
    oracle="""
    WITH dt AS (
      SELECT doc_id,
             list_filter(string_split(lower(trim(text, ' ')), ' '), w -> w <> '') AS t
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM dt),
    g AS (SELECT COUNT(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    w AS (SELECT doc_id, unnest(t) AS term FROM dt),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM w
      WHERE term IN ('spark', 'merge', 'window') GROUP BY 1, 2
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * 2.2)
                 / (tf + 1.2 * (0.25 + 0.75 * (dl.dl / avgdl))),
               9) AS DECIMAL(12,9)) AS s
      FROM tf JOIN df ON tf.term = df.term
      JOIN dl ON tf.doc_id = dl.doc_id, g
    )
    SELECT doc_id, ROUND(CAST(CAST(SUM(s) AS VARCHAR) AS DOUBLE), 6) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def q240_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson–Spärck Jones; the Lucene-variant
    idf ln((N−df+.5)/(df+.5)+1), k1=1.2, b=0.75) for the 3-term query of
    q214 — the SCORED counterpart of that boolean search, completing the
    retrieval family: q213 builds the index, q214 intersects it, this
    ranks. Top-10 docs, ties by doc_id.

    Scale shape: the token stream is filtered to the query's terms before
    the only data-sized shuffle (tf groupBy) — exactly how a search engine
    reads 3 posting lists, not the corpus; df and the (N, avgdl) scalars
    are a |terms|-row unhinted join (size-dispatched) and a 1-row
    broadcast. Float path: per-(doc,term) scores
    quantize to DECIMAL(12,9) (q170 convention) so the per-doc sum is
    order-independent; idf/tf-norm are single expressions over exact
    integers, identically associated in both engines."""
    from .functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.filter(tokens("text"), lambda w: w != "").alias("t"))
    dl = toks.select("doc_id", F.size("t").cast("long").alias("dl"))
    g = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    terms = ["spark", "merge", "window"]
    tf = (
        toks.select("doc_id", F.explode("t").alias("term"))
        .where(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tfnorm = (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * (F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(df_, "term")
        .join(dl, "doc_id")
        .join(F.broadcast(g))
        .select(
            "doc_id",
            F.round(idf * tfnorm, 9).cast("decimal(12,9)").alias("s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("s").cast("double"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


@register(
    "q241_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT DATE_DIFF('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS t,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS x
      FROM orders GROUP BY 1
    ),
    slopes AS (
      SELECT (b.x - a.x) / (b.t - a.t) AS s
      FROM daily a JOIN daily b ON b.t > a.t
    ),
    sl AS (SELECT ROUND(quantile_cont(s, 0.5), 6) AS slope,
                  COUNT(*) AS n_pairs FROM slopes)
    SELECT slope,
           ROUND(quantile_cont(x - slope * t, 0.5), 6) AS intercept,
           n_pairs
    FROM daily, sl GROUP BY slope, n_pairs
    """,
)
def q241_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend: slope = MEDIAN of all pairwise slopes of
    the daily-revenue series, intercept = median residual — the
    outlier-immune companion to the OLS family (M6 q33 closed-form, M4
    multiple OLS): one corrupted day moves OLS arbitrarily, moves
    Theil–Sen not at all (29% breakdown point).

    Scale shape: the raw table collapses to |days| rows FIRST (one
    groupBy); the pairwise self-join is over the bounded calendar axis
    (|days|² pairs ≈ 3M at 8 years — independent of row count, the same
    bounded-axis argument as q235), and exact-median interpolation runs
    on that pair set. Slopes are IEEE-identical in both engines (exact
    decimal-sourced doubles, one subtraction and one division); the
    median interpolation midpoint is round6'd."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")).alias("t")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(28,4)")).cast("double").alias("x"))
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = a.join(b, F.col("b.t") > F.col("a.t")).select(
        ((F.col("b.x") - F.col("a.x")) / (F.col("b.t") - F.col("a.t"))).alias("s")
    )
    sl = slopes.agg(
        F.round(F.expr("percentile(s, 0.5)"), 6).alias("slope"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    return (
        daily.join(F.broadcast(sl))
        .groupBy("slope", "n_pairs")
        .agg(
            F.round(
                F.expr("percentile(x - slope * t, 0.5)"), 6
            ).alias("intercept")
        )
        .select("slope", "intercept", "n_pairs")
    )


@register(
    "q242_partitioned_layout",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS sum_micros,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY 1
    """,
)
def q242_partitioned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout round-trip: events written
    ``partitionBy(event_date)``, read back through a partition-pruned scan
    (one week's filter touches only 7 directories — the layout primitive
    behind every date-partitioned lake table; sibling of q128 Z-order and
    q211 compaction in the layout family). The oracle aggregates the RAW
    feed under the same predicate — equality proves the partitioned
    round-trip is lossless AND the pruned read is complete (a dropped or
    double-read partition changes the counts). tests/test_wave16.py
    additionally asserts the physical scan prunes (PartitionFilters, not
    a post-scan filter).

    Scale shape: the write is one pass with no extra shuffle beyond the
    partition spill; the read's pruning is metadata-only — at 100 TB the
    7-day query plans 7/2922 partitions and never lists the rest."""
    import os

    e = load_table(spark, sf_dir, "events")
    out_dir = _scratch_dir(spark, "part_layout") + "/events_by_day"
    staged = e.withColumn("event_date", F.to_date("ts"))
    staged.write.mode("overwrite").partitionBy("event_date").parquet(out_dir)
    # explicit schema on the read-back: an all-empty write leaves no part
    # files and schema inference would fail (UNABLE_TO_INFER_SCHEMA) — the
    # empty-partition day must produce an empty result, not a crash
    back = spark.read.schema(staged.schema).parquet(out_dir).where(
        F.col("event_date").between("2024-01-08", "2024-01-14")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("sum_micros"),
        F.count_distinct("user_id").alias("n_users"),
    )


@register(
    "q243_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag AS flag, l_extendedprice AS v,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS wt
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT flag, v, wt,
             SUM(wt) OVER (PARTITION BY flag ORDER BY v) AS cw,
             SUM(wt) OVER (PARTITION BY flag) AS tw
      FROM w
    )
    SELECT flag,
           MIN(v) AS weighted_median,
           CAST(MAX(tw) AS DOUBLE) AS total_weight
    FROM cum WHERE 2 * cw >= tw GROUP BY flag
    """,
)
def q243_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact GROUPED WEIGHTED MEDIAN (lower-median convention: smallest v
    with cumulative weight ≥ half the total): extended price weighted by
    quantity per return flag — the robust center the plain median family
    (A2 q02, q140 MAD, q173 winsorize) can't express when rows carry
    unequal mass (shipped units, token counts, bytes).

    Scale shape: collapse to distinct (group, value) with decimal weight
    sums first; the cumulative weight runs in a PER-GROUP window
    (partition-parallel — the global-scan problem q233 solves doesn't
    arise because the partition key is the group); threshold + min per
    group ends it. All decimal-exact — no float until the reported total
    (cast once, round-free)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_extendedprice").alias("v")
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)"))
        .cast("decimal(28,4)")
        .alias("wt")
    )
    win = Window.partitionBy("flag").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("flag")
    cum = w.select(
        "flag",
        "v",
        F.sum("wt").over(win).alias("cw"),
        F.sum("wt").over(tot).alias("tw"),
    )
    return (
        cum.where(F.lit(2) * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("v").alias("weighted_median"),
            F.max("tw").cast("double").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 17 — RFM segmentation, DAU/MAU stickiness, WoE/IV, recursive CTE
# ---------------------------------------------------------------------------
@register(
    "q244_rfm_segments",
    oracle="""
    WITH anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
    rfm AS (
      SELECT o_custkey,
             DATE_DIFF('day', MAX(CAST(o_orderdate AS DATE)), mx) AS r,
             COUNT(*) AS f,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS m
      FROM orders, anchor GROUP BY o_custkey, mx
    ),
    cuts AS (
      SELECT ROUND(quantile_cont(r, 0.2), 6) AS r1, ROUND(quantile_cont(r, 0.4), 6) AS r2,
             ROUND(quantile_cont(r, 0.6), 6) AS r3, ROUND(quantile_cont(r, 0.8), 6) AS r4,
             ROUND(quantile_cont(f, 0.2), 6) AS f1, ROUND(quantile_cont(f, 0.4), 6) AS f2,
             ROUND(quantile_cont(f, 0.6), 6) AS f3, ROUND(quantile_cont(f, 0.8), 6) AS f4,
             ROUND(quantile_cont(m, 0.2), 6) AS m1, ROUND(quantile_cont(m, 0.4), 6) AS m2,
             ROUND(quantile_cont(m, 0.6), 6) AS m3, ROUND(quantile_cont(m, 0.8), 6) AS m4
      FROM rfm
    ),
    scored AS (
      SELECT
        5 - ((r > r1)::INT + (r > r2)::INT + (r > r3)::INT + (r > r4)::INT)
          AS r_score,
        1 + (f > f1)::INT + (f > f2)::INT + (f > f3)::INT + (f > f4)::INT
          AS f_score,
        1 + (m > m1)::INT + (m > m2)::INT + (m > m3)::INT + (m > m4)::INT
          AS m_score,
        m
      FROM rfm, cuts
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(ROUND(m, 4) AS DECIMAL(28,4))) AS DOUBLE) AS monetary
    FROM scored GROUP BY 1, 2, 3
    """,
)
def q244_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency (days since last order, HIGHER
    score = more recent), frequency, monetary scored 1–5 by exact
    quintile cutpoints, then segment sizes and revenue: the marketing-
    analytics workhorse built from this engine's aggregation + quantile +
    conditional primitives.

    Scale shape: one per-customer groupBy; cutpoints are a 1-row frame
    (broadcast — the scalable alternative to a global NTILE sort, per the
    ntile note in operators/windows.py); scoring is pure per-row
    comparisons. Cutpoints round6'd on BOTH engines before comparing so
    interpolation ULP can't flip a boundary bucket; segment revenue sums
    4-dp-quantized decimals."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("mx"))
    rfm = (
        o.join(F.broadcast(anchor))
        .groupBy("o_custkey", "mx")
        .agg(
            F.datediff(F.col("mx"), F.max(F.to_date("o_orderdate"))).alias("r"),
            F.count(F.lit(1)).alias("f"),
            F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
            .cast("double")
            .alias("m"),
        )
    )
    cuts = rfm.agg(
        *[
            F.round(F.expr(f"percentile({c}, {p})"), 6).alias(f"{c}{i}")
            for c in ("r", "f", "m")
            for i, p in enumerate((0.2, 0.4, 0.6, 0.8), start=1)
        ]
    )
    def score(c: str) -> F.Column:
        s = F.lit(1)
        for i in range(1, 5):
            s = s + (F.col(c) > F.col(f"{c}{i}")).cast("int")
        return s

    scored = rfm.join(F.broadcast(cuts)).select(
        (F.lit(6) - score("r")).alias("r_score"),
        score("f").alias("f_score"),
        score("m").alias("m_score"),
        "m",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.round(F.col("m"), 4).cast("decimal(28,4)"))
        .cast("double")
        .alias("monetary"),
    )


@register(
    "q245_dau_mau",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
    contrib AS (
      SELECT DISTINCT user_id,
             CAST(unnest(generate_series(day, day + INTERVAL 29 DAY,
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM ud
    ),
    mau AS (
      SELECT c.day, COUNT(*) AS mau
      FROM contrib c, bounds WHERE c.day BETWEEN d0 AND d1
      GROUP BY c.day
    )
    SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau, mau,
           ROUND(CAST(dau AS DOUBLE) / mau, 6) AS stickiness
    FROM dau JOIN mau ON dau.day = mau.day
    """,
)
def q245_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU STICKINESS per day — daily actives over trailing-30-day
    actives, the engagement ratio every product-analytics stack reports.
    Exact trailing count-distinct without a distinct-over-range window
    (which Spark lacks and which would serialize anyway): each distinct
    (user, day) CONTRIBUTES to the 30 following days' MAU, so a 30×
    explode of the deduped user-day frame + one groupBy gives the exact
    rolling distinct. Clipped to the observed day span.

    Scale shape: the raw feed collapses to distinct user-days first (the
    only data-sized shuffle); the 30× expansion is of that reduced frame,
    map-side, then one count per day. All integers; one round6 ratio."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    bounds = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 29))).alias(
            "day"
        ),
    ).distinct()
    mau = (
        contrib.join(F.broadcast(bounds))
        .where(F.col("day").between(F.col("d0"), F.col("d1")))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("mau"))
    )
    return (
        dau.join(mau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "mau",
            F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
    )


@register(
    "q246_woe_iv",
    oracle="""
    WITH s AS (
      SELECT MIN(o_totalprice) AS vmin, MAX(o_totalprice) AS vmax FROM orders
    ),
    b AS (
      SELECT LEAST(9, CAST(FLOOR((o_totalprice - vmin) / (vmax - vmin) * 10)
                           AS BIGINT)) AS bucket,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
      FROM orders, s
    ),
    agg_b AS (
      SELECT bucket,
             CAST(SUM(1 - bad) AS BIGINT) AS n_good,
             CAST(SUM(bad) AS BIGINT) AS n_bad
      FROM b GROUP BY bucket
    ),
    tot AS (SELECT SUM(n_good) AS g, SUM(n_bad) AS bd FROM agg_b)
    SELECT bucket, n_good, n_bad,
           ROUND(LN(((n_good + 0.5) / g) / ((n_bad + 0.5) / bd)), 6) + 0e0 AS woe,
           ROUND(((n_good + 0.5) / g - (n_bad + 0.5) / bd)
                 * LN(((n_good + 0.5) / g) / ((n_bad + 0.5) / bd)), 6)
             + 0e0 AS iv_term
    FROM agg_b, tot
    """,
)
def q246_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value report — the credit-scoring
    feature screen: orders bucketed into fixed-width totalprice deciles
    (q232's binning), label = finished status, per-bucket
    WoE = ln((good share)/(bad share)) with 0.5 smoothing and the IV
    contribution. |IV| > 0.3 flags a strongly predictive feature before
    any model is fit — the feature-selection sibling of q166's target
    encoding.

    Scale shape: one 1-row min/max broadcast, one bucket groupBy, then
    |buckets|-row arithmetic. Counts are exact integers; WoE/IV are
    single float expressions over them, identically associated in both
    engines (round6)."""
    o = load_table(spark, sf_dir, "orders")
    s = o.agg(
        F.min("o_totalprice").alias("vmin"), F.max("o_totalprice").alias("vmax")
    )
    b = o.join(F.broadcast(s)).select(
        F.least(
            F.lit(9),
            F.floor(
                (F.col("o_totalprice") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin"))
                * 10
            ).cast("long"),
        ).alias("bucket"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
    )
    agg_b = b.groupBy("bucket").agg(
        F.sum(F.lit(1) - F.col("bad")).alias("n_good"),
        F.sum("bad").alias("n_bad"),
    )
    tot = agg_b.agg(F.sum("n_good").alias("g"), F.sum("n_bad").alias("bd"))
    good_share = (F.col("n_good") + 0.5) / F.col("g")
    bad_share = (F.col("n_bad") + 0.5) / F.col("bd")
    woe = F.log(good_share / bad_share)
    return agg_b.join(F.broadcast(tot)).select(
        "bucket",
        "n_good",
        "n_bad",
        # round_disp on BOTH: woe is signed; iv_term is ≥0 in exact math
        # but neg_share × (+0.0 ln) yields -0.0 in IEEE (q43 convention)
        round_disp(woe, 6).alias("woe"),
        round_disp((good_share - bad_share) * woe, 6).alias("iv_term"),
    )


@register(
    "q247_recursive_bfs",
    oracle="""
    WITH p AS (
      SELECT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey
    ),
    ed AS (SELECT a, b FROM p GROUP BY a, b HAVING COUNT(*) >= 2),
    e AS (SELECT a AS src, b AS dst FROM ed UNION ALL SELECT b, a FROM ed),
    seed AS (SELECT MIN(src) AS s FROM e),
    r0 AS (
      WITH RECURSIVE r(node, depth) AS (
        SELECT s, 0 FROM seed
        UNION ALL
        SELECT e.dst, r.depth + 1 FROM r JOIN e ON e.src = r.node
        WHERE r.depth < 4
      )
      SELECT node, MIN(depth) AS min_depth FROM r GROUP BY node
    )
    SELECT min_depth, COUNT(*) AS n_nodes FROM r0 GROUP BY min_depth
    """,
)
def q247_recursive_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-limited BFS via Spark 4's RECURSIVE CTE (SQL:1999 recursion
    — new engine surface in 4.x) on the co-purchase graph: nodes within
    4 hops of the smallest part, counted per minimum distance. The SQL
    recursion complements the DataFrame-loop graph family (CC q78 /
    pagerank q103 / k-core q229 / LPA q239): same fixpoint idea, now
    expressible declaratively.

    Scale caveat (stated, not hidden): UNION ALL recursion enumerates
    WALKS, so it is only safe depth-limited on sparse graphs (this edge
    set: avg degree ~3.6, 64 walks to depth 3); unbounded reachability at
    100 TB belongs to the distinct-frontier iterative operators (q78's
    pointer jumping), not recursion. The MIN(depth) aggregate collapses
    the walk multiset exactly as BFS would."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("q247_lineitem")
    return spark.sql(
        """
        WITH p AS (
          SELECT l1.l_partkey AS a, l2.l_partkey AS b
          FROM q247_lineitem l1 JOIN q247_lineitem l2 USING (l_orderkey)
          WHERE l1.l_partkey < l2.l_partkey
        ),
        ed AS (SELECT a, b FROM p GROUP BY a, b HAVING COUNT(*) >= 2),
        e AS (SELECT a AS src, b AS dst FROM ed
              UNION ALL SELECT b, a FROM ed),
        seed AS (SELECT MIN(src) AS s FROM e),
        r0 AS (
          WITH RECURSIVE r(node, depth) AS (
            SELECT s, 0 FROM seed
            UNION ALL
            SELECT e.dst, r.depth + 1 FROM r JOIN e ON e.src = r.node
            WHERE r.depth < 4
          )
          SELECT node, MIN(depth) AS min_depth FROM r GROUP BY node
        )
        SELECT min_depth, COUNT(*) AS n_nodes FROM r0 GROUP BY min_depth
        """
    )


# ---------------------------------------------------------------------------
# Wave 18 — Naive Bayes classifier, Kaplan–Meier, A/B readout, link
# prediction, spend distribution windows
# ---------------------------------------------------------------------------
@register(
    "q248_naive_bayes_lang",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, (doc_id % 5 = 0) AS is_test,
             unnest(list_filter(string_split(lower(trim(text, ' ')), ' '),
                                w -> w <> '')) AS word
      FROM documents
    ),
    train_wl AS (
      SELECT lang, word, COUNT(*) AS cnt FROM toks WHERE NOT is_test
      GROUP BY 1, 2
    ),
    vocab AS (SELECT DISTINCT word FROM train_wl),
    vsize AS (SELECT COUNT(*) AS v FROM vocab),
    lang_tot AS (
      SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tok FROM train_wl GROUP BY 1
    ),
    priors AS (
      SELECT lang, COUNT(DISTINCT doc_id) AS nd FROM toks WHERE NOT is_test
      GROUP BY 1
    ),
    ptot AS (SELECT SUM(nd) AS n_train FROM priors),
    test_tf AS (
      SELECT doc_id, lang AS true_lang, word, COUNT(*) AS tf
      FROM toks WHERE is_test GROUP BY 1, 2, 3
    ),
    terms AS (
      SELECT t.doc_id, t.true_lang, lt.lang,
             t.tf * CAST(ROUND(LN(
               (COALESCE(w.cnt, 0) + 1) / CAST(lt.tok + v AS DOUBLE)), 9)
               AS DECIMAL(16,9)) AS term
      FROM test_tf t
      CROSS JOIN lang_tot lt CROSS JOIN vsize
      LEFT JOIN train_wl w ON w.lang = lt.lang AND w.word = t.word
    ),
    scores AS (
      SELECT doc_id, true_lang, terms.lang,
             SUM(term)
               + MAX(CAST(ROUND(LN(nd / CAST(n_train AS DOUBLE)), 9)
                          AS DECIMAL(16,9))) AS score
      FROM terms JOIN priors ON priors.lang = terms.lang, ptot
      GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT doc_id, true_lang, lang AS pred_lang,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rn
      FROM scores
    )
    SELECT true_lang, pred_lang, COUNT(*) AS n
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """,
)
def q248_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial NAIVE BAYES language classifier, trained and scored
    entirely in aggregation algebra (no ML library): add-1-smoothed word
    likelihoods from an 80% train split (doc_id % 5), log-score every
    test doc under all 5 languages, argmax, confusion matrix. The LEARNED
    counterpart of q36/q210's heuristic marker scorer — and evidence that
    'training' a bag-of-words model is just groupBy + join + sum at any
    corpus size.

    Scale shape: train collapses to (lang, word) counts (word-count
    shuffle); scoring joins the test token frequencies against that table
    per language — a plain shuffle join on word, never a corpus
    broadcast; priors/vocab-size are 1-row or |langs|-row broadcasts.
    Float path: each ln is quantized to DECIMAL(16,9) pre-sum (q170
    convention) so per-doc score sums are order-independent; argmax ties
    break lexicographically."""
    from .functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 5 == 0).alias("is_test"),
        F.explode(F.filter(tokens("text"), lambda w: w != "")).alias("word"),
    )
    train = toks.where(~F.col("is_test"))
    test = toks.where(F.col("is_test"))
    train_wl = train.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("cnt"))
    vsize = train_wl.select("word").distinct().agg(F.count(F.lit(1)).alias("v"))
    lang_tot = train_wl.groupBy("lang").agg(F.sum("cnt").alias("tok"))
    priors = train.groupBy("lang").agg(F.count_distinct("doc_id").alias("nd"))
    ptot = priors.agg(F.sum("nd").alias("n_train"))
    test_tf = test.groupBy(
        "doc_id", F.col("lang").alias("true_lang"), "word"
    ).agg(F.count(F.lit(1)).alias("tf"))
    w = (
        train_wl.withColumnRenamed("lang", "w_lang")
        .withColumnRenamed("word", "w_word")
        .withColumnRenamed("cnt", "w_cnt")
    )
    terms = (
        test_tf.crossJoin(F.broadcast(lang_tot))
        .crossJoin(F.broadcast(vsize))
        .join(
            w,
            (F.col("w_lang") == F.col("lang"))
            & (F.col("w_word") == F.col("word")),
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            "lang",
            (
                F.col("tf")
                * F.round(
                    F.log(
                        (F.coalesce(F.col("w_cnt"), F.lit(0)) + 1)
                        / (F.col("tok") + F.col("v")).cast("double")
                    ),
                    9,
                ).cast("decimal(16,9)")
            ).alias("term"),
        )
    )
    scores = (
        terms.join(F.broadcast(priors), "lang")
        .join(F.broadcast(ptot))
        .groupBy("doc_id", "true_lang", "lang")
        .agg(
            (
                F.sum("term")
                + F.max(
                    F.round(
                        F.log(F.col("nd") / F.col("n_train").cast("double")), 9
                    ).cast("decimal(16,9)")
                )
            ).alias("score")
        )
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    )
    pred = scores.withColumn("rn", rn).where(F.col("rn") == 1)
    return pred.groupBy(
        "true_lang", F.col("lang").alias("pred_lang")
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "q249_kaplan_meier",
    oracle="""
    WITH horizon AS (SELECT MAX(CAST(ts AS DATE)) AS mx FROM events),
    users AS (
      SELECT user_id,
             DATE_DIFF('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
               AS duration,
             (MAX(CAST(ts AS DATE)) < mx - INTERVAL 7 DAY)::INT AS ev
      FROM events, horizon GROUP BY user_id, mx
    ),
    by_t AS (
      SELECT duration AS t, CAST(SUM(ev) AS BIGINT) AS d, COUNT(*) AS obs
      FROM users GROUP BY 1
    ),
    risk AS (
      SELECT t, d,
             SUM(obs) OVER (ORDER BY t DESC) AS n_at_risk
      FROM by_t
    ),
    terms AS (
      SELECT t, d, n_at_risk,
             CASE WHEN d = 0 THEN CAST(0 AS DECIMAL(16,9))
                  WHEN d < n_at_risk THEN
                    CAST(ROUND(LN(1.0 - d / CAST(n_at_risk AS DOUBLE)), 9)
                         AS DECIMAL(16,9))
                  ELSE NULL END AS lnterm
      FROM risk
    ),
    curve AS (
      SELECT t, d, n_at_risk,
             SUM(lnterm) OVER (ORDER BY t) AS cum_ln,
             MAX(CASE WHEN lnterm IS NULL THEN 1 ELSE 0 END)
               OVER (ORDER BY t) AS hit_zero
      FROM terms
    )
    SELECT t AS duration_days, d AS n_events,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE ROUND(EXP(CAST(cum_ln AS DOUBLE)), 6) END AS survival
    FROM curve
    """,
)
def q249_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN–MEIER survival curve over user lifetimes: duration =
    first→last active day, event = churn (last activity more than 7 days
    before the horizon), right-censored otherwise — the standard
    retention-survival readout (the principled upgrade of q99's cohort
    grid). S(t) = Π_{tᵢ≤t}(1 − dᵢ/nᵢ) computed as exp of a cumulative sum
    of quantized logs, with the exact d=n → S=0 absorbing case.

    Scale shape: the feed collapses to one row per user, then to one row
    per DISTINCT DURATION — bounded by the observation span in days, so
    the two ordered windows (reverse at-risk cumsum, forward log cumsum)
    run over a calendar-bounded frame, not data (the q235/q241 bounded-
    axis argument). Logs quantize to DECIMAL(16,9) pre-sum; one exp +
    round6 per emitted point."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    horizon = e.agg(F.max(F.to_date("ts")).alias("mx"))
    users = (
        e.join(F.broadcast(horizon))
        .groupBy("user_id", "mx")
        .agg(
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias(
                "duration"
            ),
            (F.max(F.to_date("ts")) < F.date_sub(F.col("mx"), 7))
            .cast("int")
            .alias("ev"),
        )
    )
    by_t = users.groupBy(F.col("duration").alias("t")).agg(
        F.sum("ev").alias("d"), F.count(F.lit(1)).alias("obs")
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = by_t.select(
        "t", "d", F.sum("obs").over(w_desc).alias("n_at_risk")
    )
    lnterm = (
        F.when(F.col("d") == 0, F.lit(0).cast("decimal(16,9)"))
        .when(
            F.col("d") < F.col("n_at_risk"),
            F.round(
                F.log(1.0 - F.col("d") / F.col("n_at_risk").cast("double")), 9
            ).cast("decimal(16,9)"),
        )
        .otherwise(F.lit(None).cast("decimal(16,9)"))
    )
    terms = risk.select("t", "d", "n_at_risk", lnterm.alias("lnterm"))
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = terms.select(
        "t",
        "d",
        "n_at_risk",
        F.sum("lnterm").over(w_asc).alias("cum_ln"),
        F.max(F.when(F.col("lnterm").isNull(), 1).otherwise(0))
        .over(w_asc)
        .alias("hit_zero"),
    )
    return curve.select(
        F.col("t").alias("duration_days"),
        F.col("d").alias("n_events"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum_ln").cast("double")), 6))
        .alias("survival"),
    )


@register(
    "q250_ab_test_readout",
    oracle="""
    WITH assign AS (
      SELECT user_id, user_id % 2 AS arm,
             MAX(CASE WHEN event_type = 'purchase' AND value > 180
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1, 2
    ),
    arms AS (
      SELECT arm, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS conversions FROM assign
      GROUP BY 1
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN arm = 0 THEN n END) AS n0,
        MAX(CASE WHEN arm = 1 THEN n END) AS n1,
        MAX(CASE WHEN arm = 0 THEN conversions END) AS c0,
        MAX(CASE WHEN arm = 1 THEN conversions END) AS c1
      FROM arms
    )
    SELECT n0, n1, c0, c1,
           ROUND(c0 / CAST(n0 AS DOUBLE), 6) AS rate0,
           ROUND(c1 / CAST(n1 AS DOUBLE), 6) AS rate1,
           CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
             ROUND((c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE))
                   / SQRT(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                          * (1.0 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                          * (1.0 / n0 + 1.0 / n1)), 6) + 0e0
           END AS z_score
    FROM wide
    """,
)
def q250_ab_test_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B EXPERIMENT READOUT: deterministic 50/50 assignment (user_id
    parity — hash-bucket assignment in production; parity keeps the twin
    engines identical), conversion = any HIGH-VALUE purchase (value >
    180 — the plain any-purchase rate saturates at 1.0 on this feed and
    degenerates the z variance), pooled two-proportion z-test — the
    experimentation primitive on top of this engine's
    aggregation layer, sibling of the inference family (chi² q31, ANOVA
    q32, KS q233, MWU q234).

    Scale shape: one per-user collapse, one |arms|-row aggregate, then
    1-row arithmetic. Counts exact; rates and z single float expressions
    over them (round6), identically associated both engines."""
    assign = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", (F.col("user_id") % 2).alias("arm"))
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 180),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
    )
    arms = assign.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("conversions")
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("conversions"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("conversions"))).alias("c1"),
    )
    p0 = F.col("c0") / F.col("n0").cast("double")
    p1 = F.col("c1") / F.col("n1").cast("double")
    pp = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1")).cast("double")
    z = (p1 - p0) / F.sqrt(
        pp * (1.0 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    return wide.select(
        "n0",
        "n1",
        "c0",
        "c1",
        F.round(p0, 6).alias("rate0"),
        F.round(p1, 6).alias("rate1"),
        F.when(
            (F.col("c0") + F.col("c1") > 0)
            & (F.col("c0") + F.col("c1") < F.col("n0") + F.col("n1")),
            round_disp(z, 6),
        ).alias("z_score"),
    )


@register(
    "q251_link_prediction",
    oracle="""
    WITH p AS (
      SELECT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 USING (l_orderkey)
      WHERE l1.l_partkey < l2.l_partkey
    ),
    ed AS (SELECT a, b FROM p GROUP BY a, b HAVING COUNT(*) >= 2),
    adj AS (SELECT a AS src, b AS dst FROM ed UNION ALL SELECT b, a FROM ed),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM adj GROUP BY 1),
    cn AS (
      SELECT a1.dst AS a, a2.dst AS b, COUNT(*) AS common
      FROM adj a1 JOIN adj a2 ON a1.src = a2.src AND a1.dst < a2.dst
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT cn.a, cn.b, common FROM cn
      LEFT JOIN ed ON ed.a = cn.a AND ed.b = cn.b
      WHERE ed.a IS NULL
    )
    SELECT cand.a, cand.b, common,
           ROUND(common / CAST(da.deg + db.deg - common AS DOUBLE), 6)
             AS jaccard
    FROM cand
    JOIN deg da ON da.node = cand.a
    JOIN deg db ON db.node = cand.b
    ORDER BY jaccard DESC, a, b LIMIT 20
    """,
)
def q251_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION by neighborhood Jaccard (Liben-Nowell & Kleinberg
    2003): for non-adjacent part pairs sharing neighbors in the
    co-purchase graph, score |N(a)∩N(b)| / |N(a)∪N(b)| and rank the top
    20 — the "customers who bought these also buy…" primitive, rounding
    out the graph family (reachability q78, centrality q103, density
    q160/q229, community q239, now prediction).

    Scale shape: common neighbors enumerate length-2 paths — one
    self-join of the adjacency list on the middle node (Σ deg² wedges;
    on skewed graphs cap or orient by degree exactly as q160 does, noted
    not hidden); existing edges leave by anti join; degrees broadcast.
    Score is one division over exact counts (round6), ties break on the
    pair."""
    li = load_table(spark, sf_dir, "lineitem")
    from .operators.graph import copurchase_edges

    ed = copurchase_edges(li)
    adj = ed.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        ed.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = adj.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    a1 = adj.select(F.col("src").alias("x"), F.col("dst").alias("a"))
    a2 = adj.select(F.col("src").alias("x"), F.col("dst").alias("b"))
    cn = (
        a1.join(a2, "x")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = cn.join(ed, ["a", "b"], "left_anti")
    da = deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da")
    db = deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db")
    return (
        # degree frames are |nodes| rows and grow with the data — unhinted
        # (broadcast while they fit, shuffle at scale)
        cand.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common")
                / (F.col("da") + F.col("db") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "a", "b")
        .limit(20)
    )


@register(
    "q252_spend_distribution",
    oracle="""
    WITH spend AS (
      SELECT c_mktsegment AS segment, o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS m
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT segment, o_custkey, m,
             ROW_NUMBER() OVER (PARTITION BY segment
                                ORDER BY m DESC, o_custkey) AS rn,
             ROUND(PERCENT_RANK() OVER (PARTITION BY segment
                                        ORDER BY m DESC, o_custkey), 6)
               AS pct_rank,
             ROUND(CUME_DIST() OVER (PARTITION BY segment
                                     ORDER BY m DESC, o_custkey), 6)
               AS cume
      FROM spend
    )
    SELECT segment, o_custkey, m AS spend, rn, pct_rank, cume
    FROM ranked WHERE rn <= 5
    """,
)
def q252_spend_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 spenders per market segment with their PERCENT_RANK and
    CUME_DIST — the remaining two members of the ranking-window family
    (row_number/rank/dense_rank/ntile covered in operators/windows.py;
    these two are the distribution positions a leaderboard or pricing
    analysis quotes).

    Scale shape: per-customer collapse first, then ONE per-segment
    window partitioning serves all three window functions (row_number
    prunes to 5 rows per segment after); the order includes the key so
    ties are total. Spend is decimal-exact cast once; the two ratios
    round6."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
            .cast("double")
            .alias("m")
        )
    )
    w = Window.partitionBy("segment").orderBy(F.desc("m"), F.asc("o_custkey"))
    ranked = spend.select(
        "segment",
        "o_custkey",
        F.col("m").alias("spend"),
        F.row_number().over(w).alias("rn"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )
    return ranked.where(F.col("rn") <= 5)


# ---------------------------------------------------------------------------
# Wave 19 — Gini concentration, Benford digit test, mutual information,
# split-conformal intervals
# ---------------------------------------------------------------------------
@register(
    "q253_gini_concentration",
    oracle="""
    WITH spend AS (
      SELECT c_mktsegment AS segment, o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DECIMAL(28,4))
               AS x
      FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2
    ),
    runs AS (
      SELECT segment, x, COUNT(*) AS c FROM spend GROUP BY 1, 2
    ),
    pref AS (
      SELECT segment, x, c,
             CAST(SUM(c) OVER (PARTITION BY segment ORDER BY x) - c
                  AS BIGINT) AS b
      FROM runs
    ),
    agg AS (
      SELECT segment,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(x * c) AS DOUBLE) AS s0,
             CAST(SUM(x * (c * b + (c * (c + 1)) // 2)) AS DOUBLE) AS s1
      FROM pref GROUP BY segment
    )
    SELECT segment, n,
           ROUND(s0, 4) AS total_spend,
           ROUND(2.0 * s1 / (n * s0) - (n + 1.0) / n, 6) AS gini
    FROM agg
    """,
)
def q253_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of customer-spend concentration per market
    segment — the inequality metric behind 'top-1% of customers' claims,
    complementing q163's Pareto/ABC cut with the full-distribution
    number. Rank-weighted form G = 2·Σ i·xᵢ/(n·Σx) − (n+1)/n on the
    ascending sort, computed WITHOUT materializing ranks: collapse to
    distinct (segment, value) runs, take prefix counts per segment, and
    each run contributes x·(c·before + c(c+1)/2) — exact integer×decimal
    algebra, one per-segment window over distinct values.

    Scale shape: per-customer collapse, per-(segment,value) collapse,
    ONE per-segment window (partition-parallel), one groupBy. Float
    enters only in the final ratio (identical exact-decimal-sourced
    doubles both engines, round6)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
            .cast("decimal(28,4)")
            .alias("x")
        )
    )
    runs = spend.groupBy("segment", "x").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("segment").orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pref = runs.select(
        "segment",
        "x",
        "c",
        (F.sum("c").over(w) - F.col("c")).cast("long").alias("b"),
    )
    aggd = pref.groupBy("segment").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("x") * F.col("c")).cast("double").alias("s0"),
        F.sum(
            F.col("x")
            * (
                F.col("c") * F.col("b")
                + F.floor((F.col("c") * (F.col("c") + 1)) / 2).cast("long")
            )
        )
        .cast("double")
        .alias("s1"),
    )
    n = F.col("n")
    return aggd.select(
        "segment",
        "n",
        F.round(F.col("s0"), 4).alias("total_spend"),
        F.round(
            2.0 * F.col("s1") / (n * F.col("s0")) - (n + 1.0) / n, 6
        ).alias("gini"),
    )


@register(
    "q254_benford_digits",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(printf('%.4f', o_totalprice), 1, 1) AS BIGINT)
               AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs)
    SELECT digit, n_obs,
           ROUND(n * LOG10(1.0 + 1.0 / digit), 6) AS expected,
           ROUND((n_obs - n * LOG10(1.0 + 1.0 / digit))
                 * (n_obs - n * LOG10(1.0 + 1.0 / digit))
                 / (n * LOG10(1.0 + 1.0 / digit)), 6) AS chi2_term
    FROM obs, tot
    """,
)
def q254_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit audit of order totals: observed digit
    counts vs n·log₁₀(1+1/d) with per-digit χ² contributions — the
    classic forensic-accounting / synthetic-data smell test (this corpus
    is uniform-ish, so the query's JOB is to show the deviation, not to
    pass it). First digit comes from C-format printf('%.4f') on BOTH
    engines — identical strings, no log10-at-power-of-ten boundary
    hazard.

    Scale shape: one map + one 9-group aggregate + a 1-row total
    broadcast. Expected counts and χ² terms are single float expressions
    over exact integers (round6)."""
    o = load_table(spark, sf_dir, "orders")
    d = o.where(F.col("o_totalprice") >= 1).select(
        F.substring(F.format_string("%.4f", F.col("o_totalprice")), 1, 1)
        .cast("long")
        .alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    exp = F.col("n") * F.log10(1.0 + 1.0 / F.col("digit"))
    return obs.join(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        F.round(exp, 6).alias("expected"),
        F.round((F.col("n_obs") - exp) * (F.col("n_obs") - exp) / exp, 6).alias(
            "chi2_term"
        ),
    )


@register(
    "q255_mutual_information",
    oracle="""
    WITH base AS (
      SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow
      FROM events
    ),
    joint AS (SELECT event_type, dow, COUNT(*) AS nxy FROM base GROUP BY 1, 2),
    mx AS (SELECT event_type, CAST(SUM(nxy) AS BIGINT) AS nx FROM joint GROUP BY 1),
    my AS (SELECT dow, CAST(SUM(nxy) AS BIGINT) AS ny FROM joint GROUP BY 1),
    tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM joint)
    SELECT joint.event_type, joint.dow, nxy,
           ROUND(LN(nxy * CAST(n AS DOUBLE) / (nx * CAST(ny AS DOUBLE))), 6)
             + 0e0 AS pmi,
           ROUND((nxy / CAST(n AS DOUBLE))
                 * LN(nxy * CAST(n AS DOUBLE) / (nx * CAST(ny AS DOUBLE))), 9)
             + 0e0 AS mi_term
    FROM joint
    JOIN mx ON mx.event_type = joint.event_type
    JOIN my ON my.dow = joint.dow, tot
    """,
)
def q255_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION between event type and day-of-week: per-cell
    PMI and the quantized MI contribution (their sum is the MI the
    feature screen reports) — the information-theoretic sibling of the
    WoE/IV screen (q246: binary label; MI: any two categoricals) and of
    q200's DSIR log-likelihood ratios.

    Scale shape: one joint-count groupBy; marginals reduce FROM the
    joint table (never a second scan of the feed); |cells| ≈ 5×7 rows of
    float arithmetic. MI terms are round9 DOUBLEs on BOTH engines — a
    DECIMAL output column would arrive as Decimal objects from Spark but
    float64 from DuckDB and hash-differ in the driver (the r04 dtype-
    parity rule)."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type", (F.weekday(F.to_date("ts")) + 1).cast("long").alias("dow")
    )
    joint = base.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("nxy")
    )
    mx = joint.groupBy("event_type").agg(F.sum("nxy").cast("long").alias("nx"))
    my = joint.groupBy("dow").agg(F.sum("nxy").cast("long").alias("ny"))
    tot = joint.agg(F.sum("nxy").cast("long").alias("n"))
    ratio = (
        F.col("nxy")
        * F.col("n").cast("double")
        / (F.col("nx") * F.col("ny").cast("double"))
    )
    return (
        joint.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "dow")
        .join(F.broadcast(tot))
        .select(
            "event_type",
            "dow",
            "nxy",
            round_disp(F.log(ratio), 6).alias("pmi"),
            round_disp(
                (F.col("nxy") / F.col("n").cast("double")) * F.log(ratio), 9
            ).alias("mi_term"),
        )
    )


@register(
    "q256_conformal_interval",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem WHERE l_orderkey % 3 = 0
    ),
    fit AS (
      SELECT (sxy - sx * sy / CAST(n AS DOUBLE))
               / (sxx - sx * sx / CAST(n AS DOUBLE)) AS slope,
             sx, sy, n
      FROM m
    ),
    fit2 AS (
      SELECT slope, (sy - slope * sx) / CAST(n AS DOUBLE) AS icept FROM fit
    ),
    calib AS (
      SELECT ABS(l_extendedprice - (slope * l_quantity + icept)) AS ar
      FROM lineitem, fit2 WHERE l_orderkey % 3 = 1
    ),
    qhat AS (SELECT ROUND(quantile_cont(ar, 0.9), 6) AS q90,
                    COUNT(*) AS n_calib FROM calib),
    test AS (
      SELECT (ABS(l_extendedprice - (slope * l_quantity + icept)) <= q90)::INT
               AS hit
      FROM lineitem, fit2, qhat WHERE l_orderkey % 3 = 2
    )
    SELECT ROUND(slope, 6) AS slope,
           ROUND(icept, 6) AS intercept,
           q90, n_calib,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(SUM(hit) / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
    FROM test, fit2, qhat
    GROUP BY slope, icept, q90, n_calib
    """,
)
def q256_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL PREDICTION interval (Vovk; the
    distribution-free uncertainty wrapper): fit q33's closed-form OLS on
    split A (orderkey mod 3), take the 0.9 quantile of absolute
    residuals on calibration split B, report empirical coverage of
    ŷ ± q̂ on held-out split C — the finite-sample-valid interval a
    serving pipeline attaches to any point model, no normality assumed.

    Scale shape: three disjoint pushed-filter scans; the fit is one
    moment aggregate (q33's decimal-exact sums); calibration is one
    exact-percentile aggregate; coverage one boolean mean. The
    comparison threshold is the ROUND6'd quantile on both engines, so
    interpolation ULP cannot flip a boundary point."""
    li = load_table(spark, sf_dir, "lineitem")
    train = li.where(F.col("l_orderkey") % 3 == 0)
    m = train.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(38,4)")).cast("double").alias("sx"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,4)")).cast("double").alias("sy"),
        F.sum(
            F.col("l_quantity").cast("decimal(18,2)")
            * F.col("l_quantity").cast("decimal(18,2)")
        ).cast("double").alias("sxx"),
        F.sum(
            F.col("l_quantity").cast("decimal(18,2)")
            * F.col("l_extendedprice").cast("decimal(18,2)")
        ).cast("double").alias("sxy"),
    )
    nf = F.col("n").cast("double")
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / nf) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / nf
    )
    fit = m.select(
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / nf).alias("icept"),
    )
    calib = (
        li.where(F.col("l_orderkey") % 3 == 1)
        .join(F.broadcast(fit))
        .select(
            F.abs(
                F.col("l_extendedprice")
                - (F.col("slope") * F.col("l_quantity") + F.col("icept"))
            ).alias("ar")
        )
    )
    qhat = calib.agg(
        F.round(F.expr("percentile(ar, 0.9)"), 6).alias("q90"),
        F.count(F.lit(1)).alias("n_calib"),
    )
    test = (
        li.where(F.col("l_orderkey") % 3 == 2)
        .join(F.broadcast(fit))
        .join(F.broadcast(qhat))
        .select(
            "slope",
            "icept",
            "q90",
            "n_calib",
            (
                F.abs(
                    F.col("l_extendedprice")
                    - (F.col("slope") * F.col("l_quantity") + F.col("icept"))
                )
                <= F.col("q90")
            )
            .cast("int")
            .alias("hit"),
        )
    )
    return test.groupBy("slope", "icept", "q90", "n_calib").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.round(F.sum("hit") / F.count(F.lit(1)).cast("double"), 6).alias(
            "coverage"
        ),
    ).select(
        F.round(F.col("slope"), 6).alias("slope"),
        F.round(F.col("icept"), 6).alias("intercept"),
        "q90",
        "n_calib",
        "n_test",
        "coverage",
    )


# --- wave 20: ML evaluation curves, association rules, rank correlation,
#     co-occurrence PMI ---


@register(
    "q257_roc_curve",
    oracle="""
    WITH lab AS (
      SELECT l_quantity AS score,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    g AS (
      SELECT score, CAST(SUM(y) AS BIGINT) AS tp_at,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS fp_at
      FROM lab GROUP BY score
    ),
    c AS (
      SELECT score, tp_at, fp_at,
             CAST(SUM(tp_at) OVER (ORDER BY score DESC) AS BIGINT) AS tp_cum,
             CAST(SUM(fp_at) OVER (ORDER BY score DESC) AS BIGINT) AS fp_cum
      FROM g
    ),
    t AS (SELECT CAST(SUM(tp_at) AS BIGINT) AS p,
                 CAST(SUM(fp_at) AS BIGINT) AS nn FROM g)
    SELECT score, tp_at, fp_at,
           ROUND(tp_cum / CAST(p AS DOUBLE), 6) AS tpr,
           ROUND(fp_cum / CAST(nn AS DOUBLE), 6) AS fpr,
           ROUND(fp_at * (2 * tp_cum - tp_at)
                 / (2.0 * p * nn), 9) AS auc_term
    FROM c, t
    """,
)
def q257_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC CURVE + trapezoidal AUC of a ranking score against a binary
    label (score = l_quantity ranking l_returnflag='R') — the standard
    threshold-free classifier readout; SUM(auc_term) is the exact
    tie-corrected AUC (= the Mann-Whitney U statistic q234 computes,
    here in its geometric form with the full operating curve attached).

    Scale shape: collapse to DISTINCT SCORES first (the curve has one
    point per threshold, never one per row), then the cumulative TP/FP
    counts run through ``global_prefix_sum`` — the two-phase parallel
    prefix scan — so no single-reducer window exists even for
    high-resolution scores. Trapezoid terms need NO lag: with per-score
    increments tp_at/fp_at in hand, prev_tp = tp_cum - tp_at, so each
    term is fp_at·(2·tp_cum - tp_at) — exact integers until the one
    final division (round9 DOUBLE on both engines; a DECIMAL output
    would dtype-mismatch the oracle's float64 in the driver hash)."""
    from .operators.windows import global_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    lab = li.select(
        F.col("l_quantity").alias("score"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    g = lab.groupBy("score").agg(
        F.sum("y").cast("long").alias("tp_at"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("fp_at"),
    )
    # prefix scan runs ascending; order by the negated score for the
    # conventional high-score-first sweep
    cum = global_prefix_sum(
        g.withColumn("negscore", -F.col("score")), "negscore", ["tp_at", "fp_at"]
    ).select(
        "score",
        "tp_at",
        "fp_at",
        F.col("tp_at_cum").cast("long").alias("tp_cum"),
        F.col("fp_at_cum").cast("long").alias("fp_cum"),
    )
    tot = g.agg(
        F.sum("tp_at").cast("long").alias("p"),
        F.sum("fp_at").cast("long").alias("nn"),
    )
    return cum.join(F.broadcast(tot)).select(
        "score",
        "tp_at",
        "fp_at",
        F.round(F.col("tp_cum") / F.col("p").cast("double"), 6).alias("tpr"),
        F.round(F.col("fp_cum") / F.col("nn").cast("double"), 6).alias("fpr"),
        F.round(
            F.col("fp_at")
            * (2 * F.col("tp_cum") - F.col("tp_at"))
            / (2.0 * F.col("p") * F.col("nn")),
            9,
        ).alias("auc_term"),
    )


@register(
    "q258_calibration_bins",
    oracle="""
    WITH lab AS (
      SELECT LEAST(CAST(FLOOR(l_quantity / 5.0) AS INT), 9) AS bin,
             CAST(l_quantity AS DECIMAL(18,4)) AS q,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(q) AS DOUBLE) / (50.0 * COUNT(*)), 6) AS mean_p,
           ROUND(SUM(y) / CAST(COUNT(*) AS DOUBLE), 6) AS frac_pos,
           ROUND(CAST(SUM((q - 50 * y) * (q - 50 * y)) AS DOUBLE)
                 / (2500.0 * COUNT(*)), 6) AS brier
    FROM lab GROUP BY bin
    """,
)
def q258_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION / RELIABILITY DIAGRAM + per-bin Brier score for a
    probability-like score (p = l_quantity/50 predicting
    l_returnflag='R'): per decile-of-p bin, the mean predicted
    probability vs the observed positive fraction, plus the bin's Brier
    contribution — the standard probabilistic-forecast readout next to
    q257's threshold-free ROC.

    Exactness: NO libm anywhere. p is the rational q/50, so
    mean_p = Σq/(50n) and the Brier sum expands to Σ(q-50y)²/(2500n) —
    decimal-exact sums with ONE final correctly-rounded division each
    (round6). Binning is floor(q/5) on integral quantities: no
    float-boundary hazard for either engine.

    Scale shape: a single 10-group map-side-combining aggregate — the
    cheapest possible plan for this readout."""
    li = load_table(spark, sf_dir, "lineitem")
    lab = li.select(
        F.least(F.floor(F.col("l_quantity") / 5.0).cast("int"), F.lit(9)).alias(
            "bin"
        ),
        F.col("l_quantity").cast("decimal(18,4)").alias("q"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    return lab.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum("q").cast("double") / (50.0 * F.count(F.lit(1))), 6
        ).alias("mean_p"),
        F.round(F.sum("y") / F.count(F.lit(1)).cast("double"), 6).alias(
            "frac_pos"
        ),
        F.round(
            F.sum((F.col("q") - 50 * F.col("y")) * (F.col("q") - 50 * F.col("y")))
            .cast("double")
            / (2500.0 * F.count(F.lit(1))),
            6,
        ).alias("brier"),
    )


@register(
    "q259_association_rules",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey % 50 AS cat
      FROM lineitem
    ),
    items AS (SELECT cat, CAST(COUNT(*) AS BIGINT) AS c_item
              FROM baskets GROUP BY cat),
    n AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders FROM baskets),
    pairs AS (
      SELECT a.cat AS cat_a, b.cat AS cat_b, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM baskets a JOIN baskets b
        ON a.okey = b.okey AND a.cat < b.cat
      GROUP BY 1, 2
    )
    SELECT cat_a, cat_b, n_ab,
           ROUND(n_ab / CAST(n_orders AS DOUBLE), 6) AS support,
           ROUND(n_ab / CAST(ia.c_item AS DOUBLE), 6) AS conf_a_b,
           ROUND(n_ab / CAST(ib.c_item AS DOUBLE), 6) AS conf_b_a,
           ROUND(n_ab * CAST(n_orders AS DOUBLE)
                 / (ia.c_item * CAST(ib.c_item AS DOUBLE)), 6) AS lift
    FROM pairs
    JOIN items ia ON ia.cat = cat_a
    JOIN items ib ON ib.cat = cat_b, n
    WHERE n_ab >= 25
    """,
)
def q259_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET ASSOCIATION RULES (support / confidence both
    directions / lift) over order baskets, items rolled up to part
    categories (l_partkey mod 50) so co-occurrence is dense enough to
    rank — the Apriori-style readout for cross-sell and
    co-curriculum-mixing decisions.

    Scale shape: baskets collapse to DISTINCT (order, category) first
    (one shuffle — the distinct's Exchange subtree is IDENTICAL in every
    consumer branch, so ReuseExchange computes it once; r12 measured both
    "fixes" and reverted them: a lazy persist read 2.0-3.2 s vs 1.4-1.6 s
    plain — columnar cache encode/decode costs more than the reuse it
    buys — and an in-row collect_list pair expansion read 2.4 s vs 1.2 s,
    interpreted HOF expansion losing to the codegen hash join); pair
    generation is a self-equi-join ON THE ORDER KEY,
    so its cost is Σ basket_size², bounded by |categories|² per order —
    never a corpus cross product. Item marginals reduce to |categories|
    rows and broadcast; the lift arithmetic is pure IEEE mul/div over
    exact integer counts (identical across engines — no libm). A
    min-support floor (n_ab ≥ 25) is applied BEFORE output, and the
    result carries every surviving cell rather than a float-ordered
    top-k, so no cross-engine ordering hazard exists."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.select(
            F.col("l_orderkey").alias("okey"),
            (F.col("l_partkey") % 50).alias("cat"),
        )
        .distinct()
    )
    items = baskets.groupBy("cat").agg(
        F.count(F.lit(1)).cast("long").alias("c_item")
    )
    n = baskets.agg(
        F.countDistinct("okey").cast("long").alias("n_orders")
    )
    b2 = baskets.select(F.col("okey"), F.col("cat").alias("cat_b"))
    pairs = (
        baskets.join(b2, "okey")
        .where(F.col("cat") < F.col("cat_b"))
        .groupBy(F.col("cat").alias("cat_a"), "cat_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= 25)
    )
    ia = items.select(F.col("cat").alias("cat_a"), F.col("c_item").alias("c_a"))
    ib = items.select(F.col("cat").alias("cat_b"), F.col("c_item").alias("c_b"))
    return (
        pairs.join(F.broadcast(ia), "cat_a")
        .join(F.broadcast(ib), "cat_b")
        .join(F.broadcast(n))
        .select(
            "cat_a",
            "cat_b",
            "n_ab",
            F.round(F.col("n_ab") / F.col("n_orders").cast("double"), 6).alias(
                "support"
            ),
            F.round(F.col("n_ab") / F.col("c_a").cast("double"), 6).alias(
                "conf_a_b"
            ),
            F.round(F.col("n_ab") / F.col("c_b").cast("double"), 6).alias(
                "conf_b_a"
            ),
            F.round(
                F.col("n_ab")
                * F.col("n_orders").cast("double")
                / (F.col("c_a") * F.col("c_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "q260_spearman_corr",
    oracle="""
    WITH r AS (
      SELECT l_quantity AS x, l_extendedprice AS yv FROM lineitem
    ),
    rx AS (
      SELECT x, CAST(2 * RANK() OVER (ORDER BY x)
                     + COUNT(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS u
      FROM r
    ),
    ry AS (
      SELECT yv, CAST(2 * RANK() OVER (ORDER BY yv)
                      + COUNT(*) OVER (PARTITION BY yv) - 1 AS BIGINT) AS w
      FROM r
    ),
    ranked AS (
      SELECT u, w FROM (
        SELECT x, yv,
               ROW_NUMBER() OVER (ORDER BY x, yv) AS rid
        FROM r
      ) base
      JOIN (SELECT DISTINCT x, u FROM rx) dx USING (x)
      JOIN (SELECT DISTINCT yv, w FROM ry) dy USING (yv)
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(u AS DECIMAL(18,0))) AS DOUBLE) AS su,
             CAST(SUM(CAST(w AS DECIMAL(18,0))) AS DOUBLE) AS sw,
             CAST(SUM(CAST(u AS DECIMAL(18,0)) * CAST(w AS DECIMAL(18,0))) AS DOUBLE) AS suw,
             CAST(SUM(CAST(u AS DECIMAL(18,0)) * CAST(u AS DECIMAL(18,0))) AS DOUBLE) AS suu,
             CAST(SUM(CAST(w AS DECIMAL(18,0)) * CAST(w AS DECIMAL(18,0))) AS DOUBLE) AS sww
      FROM ranked
    )
    SELECT n,
           ROUND((n * suw - su * sw)
                 / SQRT((n * suu - su * su) * (n * sww - sw * sw)), 6)
             + 0e0 AS spearman
    FROM m
    """,
)
def q260_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION with tie midranks (quantity vs
    extendedprice) — the monotonic-association sibling of q30's Pearson,
    robust to any monotone transform and to outliers.

    Scale shape: ranks are NOT computed with a global per-row window.
    Quantity (50 distinct values) collapses to distinct values + counts,
    runs through ``global_prefix_sum``, and broadcast-joins back; the
    near-unique price column instead gets its midrank attached IN PLACE
    by ``global_midranks`` (r12): one range exchange of the fact rows,
    per-partition rank/tie-count windows, |partitions|-row offsets —
    the pre-r12 distinct-table path paid three data-sized exchanges
    (groupBy over ~|rows| distinct prices, range repartition, and the
    midrank join back to the facts) to compute the same 2r. Doubled
    midranks 2r = 2·c_less + c_eq + 1 keep everything in exact integers;
    the moment sums are DECIMAL(38,0)-exact, and the final rho is one
    float expression (IEEE mul/div + correctly-rounded sqrt — identical
    on both engines, round6)."""
    from .operators.windows import global_midranks, global_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    r = li.select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("yv")
    )

    def midranks(df: DataFrame, col: str, out: str) -> DataFrame:
        dv = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        pref = global_prefix_sum(dv, col, ["cnt"])
        return pref.select(
            col,
            (2 * (F.col("cnt_cum") - F.col("cnt")) + F.col("cnt") + 1)
            .cast("long")
            .alias(out),
        )

    # the explicit NULL filters reproduce the old equi-join's row drops
    # (midranks/global_midranks both still COUNT null rows into every
    # c_less, exactly as the NULL group flowed through the prefix scan)
    ranked = (
        # price meets global_midranks' near-unique contract (583k
        # distinct values over 600k rows at sf0.1; tie groups stay
        # ~rows/|distinct| at every SF, far under a partition)
        global_midranks(r, "yv", "w")
        .filter(F.col("yv").isNotNull() & F.col("x").isNotNull())
        .join(F.broadcast(midranks(r, "x", "u")), "x")
    )
    ud = F.col("u").cast("decimal(18,0)")
    wd = F.col("w").cast("decimal(18,0)")
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(ud).cast("double").alias("su"),
        F.sum(wd).cast("double").alias("sw"),
        F.sum(ud * wd).cast("double").alias("suw"),
        F.sum(ud * ud).cast("double").alias("suu"),
        F.sum(wd * wd).cast("double").alias("sww"),
    )
    return m.select(
        "n",
        round_disp(
            (F.col("n") * F.col("suw") - F.col("su") * F.col("sw"))
            / F.sqrt(
                (F.col("n") * F.col("suu") - F.col("su") * F.col("su"))
                * (F.col("n") * F.col("sww") - F.col("sw") * F.col("sw"))
            ),
            6,
        ).alias("spearman"),
    )


@register(
    "q261_cooccurrence_pmi",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tok FROM documents
    ),
    pos AS (
      SELECT doc_id, unnest(tok) AS w, generate_subscripts(tok, 1) AS p
      FROM toks
    ),
    pairs AS (
      SELECT a.w AS w1, b.w AS w2
      FROM pos a JOIN pos b
        ON a.doc_id = b.doc_id AND b.p - a.p IN (1, 2)
    ),
    cx AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM pos GROUP BY w),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pos),
    cxy AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_xy
            FROM pairs GROUP BY 1, 2),
    np AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS s FROM cxy)
    SELECT w1, w2, n_xy,
           ROUND(LN((n_xy / CAST(s AS DOUBLE))
                    / ((ca.c / CAST(n AS DOUBLE))
                       * (cb.c / CAST(n AS DOUBLE)))), 6) + 0e0 AS pmi
    FROM cxy
    JOIN cx ca ON ca.w = w1
    JOIN cx cb ON cb.w = w2, nt, np
    WHERE n_xy >= 50
    """,
)
def q261_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINDOWED WORD CO-OCCURRENCE PMI (skip-gram window of 2 forward)
    over the document corpus — the statistic under PPMI embedding
    matrices (Levy & Goldberg) and collocation extraction; q255 is the
    same quantity for two categorical COLUMNS, this is for token pairs
    inside TEXT.

    Scale shape: pair generation is JOIN-FREE — for each gap g∈{1,2} the
    pair list is zip_with(slice(tok,1,n-g), slice(tok,g+1,n-g)), pure
    array codegen inside the row, so the only shuffles are the two
    groupBy counts. Unigram marginals reduce to |vocab| rows and
    joined unhinted (vocab-sized — the optimizer owns the dispatch).
    The PMI ratio is composed in the SAME operation order on
    both engines ((n_xy/S) / ((c_x/N)·(c_y/N)) — IEEE-identical), ln is
    round6'd per the q255 convention, and the min-count floor (≥ 50)
    ships every surviving cell with no float-ordered top-k."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("tok")
    )

    def gap_pairs(g: int) -> DataFrame:
        # Clamp the slice length at 0: a 1-token document has n - 2 = -1,
        # which Spark's slice() rejects at runtime (q299's bigram builder
        # applies the same floor).
        n = F.greatest(F.size("tok") - g, F.lit(0))
        return toks.select(
            F.explode(
                F.zip_with(
                    F.slice("tok", 1, n),
                    F.slice(F.col("tok"), F.lit(g + 1), n),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("pr")
        ).select("pr.w1", "pr.w2")

    pairs = gap_pairs(1).unionAll(gap_pairs(2))
    cxy = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_xy")
    )
    unig = toks.select(F.explode("tok").alias("w"))
    cx = unig.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    nt = unig.agg(F.count(F.lit(1)).cast("long").alias("n"))
    np_ = cxy.agg(F.sum("n_xy").cast("long").alias("s"))
    ca = cx.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    cb = cx.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    r1 = F.col("n_xy") / F.col("s").cast("double")
    r2 = (F.col("c_a") / F.col("n").cast("double")) * (
        F.col("c_b") / F.col("n").cast("double")
    )
    return (
        cxy.where(F.col("n_xy") >= 50)
        .join(ca, "w1")
        .join(cb, "w2")
        .join(F.broadcast(nt))
        .join(F.broadcast(np_))
        .select("w1", "w2", "n_xy", round_disp(F.log(r1 / r2), 6).alias("pmi"))
    )


# --- wave 21: cohort LTV, grouped OLS, compression-ratio quality,
#     YoY-aligned growth, session path analysis ---


@register(
    "q262_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             CAST(date_trunc('month', MIN(CAST(o_orderdate AS DATE))) AS DATE)
               AS cohort
      FROM orders GROUP BY o_custkey
    ),
    sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_customers
              FROM firsts GROUP BY cohort),
    facts AS (
      SELECT f.cohort,
             CAST((year(o_orderdate) * 12 + month(o_orderdate))
                  - (year(cohort) * 12 + month(cohort)) AS INT) AS age,
             CAST(o_totalprice AS DECIMAL(28,4)) AS rev
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    ),
    monthly AS (
      SELECT cohort, age, SUM(rev) AS rev FROM facts GROUP BY cohort, age
    ),
    cum AS (
      SELECT cohort, age,
             CAST(CAST(SUM(rev) OVER (PARTITION BY cohort ORDER BY age
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS VARCHAR) AS DOUBLE) AS cum_rev
      FROM monthly
    )
    SELECT strftime(c.cohort, '%Y-%m') AS cohort, age, n_customers,
           ROUND(cum_rev, 4) AS cum_rev,
           ROUND(cum_rev / n_customers, 6) AS ltv
    FROM cum c JOIN sizes s ON s.cohort = c.cohort
    """,
)
def q262_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LTV CURVE: cumulative revenue per customer by months since
    the cohort's first order — the lifetime-value readout next to q99's
    retention triangle (retention counts WHO returns; LTV accumulates
    what they SPEND).

    Scale shape: first-order month is one groupBy(custkey) min; facts
    join back on custkey (shuffle both sides on the key, AQE free to
    broadcast the cohort table when small); revenue collapses to
    (cohort, age) BEFORE the cumulative window, which is partitioned BY
    COHORT over a calendar-bounded axis — parallel across cohorts, never
    a single reducer. Decimal-exact sums; the cumulative decimal routes
    through VARCHAR→DOUBLE in the oracle (the window form of the
    _harden_decimal_to_double rule) so both engines convert
    correctly-rounded."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min(F.to_date("o_orderdate")))
        .cast("date")
        .alias("cohort")
    )
    sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    facts = o.join(firsts, "o_custkey").select(
        "cohort",
        (
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            - (F.year("cohort") * 12 + F.month("cohort"))
        )
        .cast("int")
        .alias("age"),
        F.col("o_totalprice").cast("decimal(28,4)").alias("rev"),
    )
    monthly = facts.groupBy("cohort", "age").agg(F.sum("rev").alias("rev"))
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = monthly.select(
        "cohort", "age", F.sum("rev").over(w).cast("double").alias("cum_rev")
    )
    return cum.join(F.broadcast(sizes), "cohort").select(
        F.date_format("cohort", "yyyy-MM").alias("cohort"),
        "age",
        "n_customers",
        F.round("cum_rev", 4).alias("cum_rev"),
        F.round(F.col("cum_rev") / F.col("n_customers"), 6).alias("ltv"),
    )


@register(
    "q263_grouped_ols",
    oracle="""
    WITH m AS (
      SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT flag, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0e0 AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             + 0e0 AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0e0 AS r2
    FROM m
    """,
)
def q263_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED SIMPLE OLS: per-returnflag slope/intercept/R² of
    extendedprice on quantity — q33's closed-form fit lifted to one fit
    PER GROUP in a single aggregate pass (the "many small models" shape:
    per-segment elasticities, per-tenant trends).

    Scale shape: the entire query is ONE map-side-combining groupBy
    producing the five decimal-exact moment sums; every fit is then a
    handful of float expressions over |groups| rows. No per-group
    iteration, no driver loop — adding a million groups changes nothing
    but the shuffle width."""
    li = load_table(spark, sf_dir, "lineitem")
    q2 = F.col("l_quantity").cast("decimal(18,2)")
    p2 = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(38,4)")).cast("double").alias("sx"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,4)"))
        .cast("double")
        .alias("sy"),
        F.sum(q2 * q2).cast("double").alias("sxx"),
        F.sum(q2 * p2).cast("double").alias("sxy"),
        F.sum(p2 * p2).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "flag",
        "n",
        round_disp(slope, 6).alias("slope"),
        round_disp((sy - slope * sx) / n, 6).alias("intercept"),
        # r2 is >= 0 in exact math, but float cancellation in the
        # denominator (near-constant x within a group) can flip a ~0
        # product negative, so ROUND can yield -0.0 — same signed-zero
        # display class as slope/intercept (r10 ADVICE, medium)
        round_disp(
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


@register("q264_compression_ratio")
def q264_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSION-RATIO QUALITY PROXY (zlib level 6): compressed-bytes /
    raw-bytes per document, plus a low-complexity flag — the cheap
    redundancy detector LLM curation stacks run alongside q86's
    repetition ratios and q201's character entropy (boilerplate and
    generated spam compress far below prose).

    Rows-only by nature: DuckDB has no zlib. The pinned pytest
    recomputes ratios with Python's zlib directly and checks ordering
    invariants (a constant string compresses below a diverse one).

    Scale shape: one Arrow-batched pandas UDF (the sanctioned Python
    path — zlib is C speed, the batch transfer dominates), zero
    shuffles; the UDF is a LOCAL closure so a bare out-of-repo session's
    executors never need to import this package (worker-side pickling
    rule, NOTES.md)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _comp_len(texts):
        import zlib

        # None-safe: a null document has no compressed length (NULL out),
        # matching octet_length(NULL) on the raw side
        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6))
            if t is not None
            else None
        )

    # real-object annotations: this module's `from __future__ import
    # annotations` would stringify inline hints, which pandas_udf can't
    # resolve for a local closure
    _comp_len.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    comp_len = pandas_udf(_comp_len, "long")

    d = load_table(spark, sf_dir, "documents")
    raw_len = F.octet_length("text")
    return d.select(
        "doc_id",
        raw_len.cast("long").alias("raw_bytes"),
        comp_len(F.col("text")).alias("comp_bytes"),
    ).select(
        "doc_id",
        "raw_bytes",
        "comp_bytes",
        # try_divide: an empty document has raw_bytes 0 — ratio undefined
        # (NULL), not a job abort on one degenerate row
        F.round(
            F.try_divide(F.col("comp_bytes"), F.col("raw_bytes").cast("double")), 6
        ).alias("ratio"),
        (
            F.try_divide(F.col("comp_bytes"), F.col("raw_bytes").cast("double")) < 0.3
        ).alias("low_complexity"),
    )


@register(
    "q265_yoy_growth",
    oracle="""
    WITH monthly AS (
      SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mth,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT c.yr, c.mth, ROUND(c.rev, 4) AS rev, ROUND(p.rev, 4) AS rev_prev,
           ROUND((c.rev - p.rev) / p.rev, 6) + 0e0 AS yoy_growth
    FROM monthly c JOIN monthly p
      ON p.yr = c.yr - 1 AND p.mth = c.mth
    """,
)
def q265_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YEAR-OVER-YEAR GROWTH with calendar alignment: monthly revenue
    joined to the SAME MONTH one year earlier — the seasonality-neutral
    growth readout (q145's MoM lag answers "vs last period"; this
    answers "vs the comparable period"). Month alignment sidesteps the
    ISO-week/year boundary hazard entirely (week 53 has no stable
    prior-year partner; months always do).

    Scale shape: the feed collapses to |year×month| rows in one
    map-side-combining aggregate; the alignment is a self-equi-join on
    that tiny frame (broadcast). Decimal-exact sums; growth is IEEE
    sub/div over hardened doubles."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mth")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(28,4)")).cast("double").alias("rev"))
    prev = monthly.select(
        (F.col("yr") + 1).alias("yr"),
        F.col("mth"),
        F.col("rev").alias("rev_prev"),
    )
    return monthly.join(F.broadcast(prev), ["yr", "mth"]).select(
        "yr",
        "mth",
        F.round("rev", 4).alias("rev"),
        F.round("rev_prev", 4).alias("rev_prev"),
        round_disp((F.col("rev") - F.col("rev_prev")) / F.col("rev_prev"), 6).alias(
            "yoy_growth"
        ),
    )


@register(
    "q266_session_paths",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS sid
      FROM flagged
    ),
    ranked AS (
      SELECT user_id, sid, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                ORDER BY ts, event_id) AS rn
      FROM sess
    ),
    paths AS (
      SELECT user_id, sid,
             CONCAT_WS('>',
               MAX(CASE WHEN rn = 1 THEN event_type END),
               MAX(CASE WHEN rn = 2 THEN event_type END),
               MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
      FROM ranked WHERE rn <= 3 GROUP BY user_id, sid
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path HAVING COUNT(*) >= 5
    """,
)
def q266_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION PATH ANALYSIS: the first three event types of every
    30-minute session concatenated into a path, counted across sessions
    — the entry-flow / funnel-discovery readout product analytics teams
    read before committing to a fixed funnel (q100 checks ONE ordered
    funnel; this surfaces which paths exist).

    Scale shape: sessionization and ranking are per-user windows
    (partition-parallel — the same shape as q26/q60); the path string is
    built by a 3-way conditional MAX inside the per-session groupBy (no
    collect_list ordering hazard), and the final count reduces to
    |distinct paths| ≤ |event_types|³ rows. (ts, event_id) is the total
    order both engines share, so tie placement is deterministic.
    CONCAT_WS skips NULLs identically on both engines for 1- and 2-event
    sessions."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu))
            <= 1_800_000_000,
            0,
        )
        .otherwise(1)
        .alias("is_new"),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("is_new").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    ranked = sess.withColumn("rn", F.row_number().over(ws)).where(
        F.col("rn") <= 3
    )
    paths = ranked.groupBy("user_id", "sid").agg(
        F.concat_ws(
            ">",
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))),
            F.max(F.when(F.col("rn") == 2, F.col("event_type"))),
            F.max(F.when(F.col("rn") == 3, F.col("event_type"))),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .where(F.col("n_sessions") >= 5)
    )


# --- wave 22: HITS, XML roundtrip, ridge regression, isotonic PAVA,
#     file provenance ---


def _hits_oracle(iterations: int) -> str:
    """Chained-CTE HITS: mirrors operators/graph.py::hits — per round one
    authority half-step (sum of in-neighbor hubs, L2-normalized) and one
    hub half-step (sum of out-neighbor authorities, L2-normalized). Fixed
    iteration count ⇒ full unroll; round-6 outputs absorb reduction-order
    float differences between the engines."""
    # MATERIALIZED for the same reason as _pagerank_oracle: the chain is
    # deep and multiply-referenced — default inlining re-reads the parquet
    # scans exponentially
    ctes = [
        "e AS MATERIALIZED (SELECT DISTINCT 'c' || o_custkey AS src, "
        "'p' || l_partkey AS dst "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey)",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e"
        " UNION SELECT dst FROM e)",
        "h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"a{k}r AS MATERIALIZED (SELECT e.dst AS node, SUM(h.hub) AS raw FROM e "
            f"JOIN h{k - 1} h ON h.node = e.src GROUP BY 1)"
        )
        ctes.append(
            f"a{k}n AS MATERIALIZED (SELECT sqrt(SUM(raw * raw)) AS z FROM a{k}r)"
        )
        ctes.append(
            f"a{k} AS MATERIALIZED (SELECT node, raw / a{k}n.z AS authority "
            f"FROM a{k}r, a{k}n)"
        )
        ctes.append(
            f"h{k}r AS MATERIALIZED (SELECT e.src AS node, SUM(a.authority) AS raw FROM e "
            f"JOIN a{k} a ON a.node = e.dst GROUP BY 1)"
        )
        ctes.append(
            f"h{k}n AS MATERIALIZED (SELECT sqrt(SUM(raw * raw)) AS z FROM h{k}r)"
        )
        ctes.append(
            f"h{k} AS MATERIALIZED (SELECT node, raw / h{k}n.z AS hub FROM h{k}r, h{k}n)"
        )
    final = (
        f"SELECT n.node, round(COALESCE(h.hub, 0.0), 6) AS hub, "
        f"round(COALESCE(a.authority, 0.0), 6) AS authority "
        f"FROM nodes n LEFT JOIN h{iterations} h ON n.node = h.node "
        f"LEFT JOIN a{iterations} a ON n.node = a.node "
        f"WHERE n.node LIKE 'p%' "
        f"ORDER BY authority DESC, n.node LIMIT 25"
    )
    return "WITH " + ",\n".join(ctes) + "\n" + final


@register("q267_hits", oracle=_hits_oracle(8))
def q267_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS HUBS/AUTHORITIES on the directed customer→part purchase
    graph: hub customers (broad, influential baskets) and authority
    parts (bought by the strong hubs) — Kleinberg's mutual-reinforcement
    centrality, completing the graph family's centrality pair (PageRank
    q136 ranks by in-link mass; HITS separates the two roles, the
    natural bipartite readout).

    Rows-only by nature (iterative power method; no SQL twin) — the
    pinned test replays the same edge set through an independent numpy
    implementation. Returns the top 25 authorities with their scores;
    ordering ties break on node id. Scale shape: see
    ``operators.graph.hits`` — per-round co-located join+groupBy, 2
    bounded driver rows per round, lineage cut per round."""
    from .operators.graph import hits

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
        )
        .distinct()
    )
    scores = hits(edges, iterations=8)
    return (
        scores.where(F.col("node").startswith("p"))
        .orderBy(F.desc("authority"), "node")
        .limit(25)
    )


@register(
    "q268_xml_roundtrip",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(n_chars AS DECIMAL(28,0))) AS DOUBLE) AS sum_chars
    FROM documents WHERE n_chars >= 100
    GROUP BY lang
    """,
)
def q268_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML SOURCE/SINK ROUND TRIP (Spark 4 native XML, no external
    package): write the filtered documents table as XML, read it back
    with an explicit schema, aggregate — proving the third
    semi-structured format next to JSON (q90) and ORC (q91); the oracle
    aggregates the ORIGINAL table, so any row lost or mangled in either
    direction breaks the hash.

    Scale shape: format round trips are embarrassingly parallel (one
    file per task each way); the aggregate is the usual two-phase
    groupBy. Text content survives XML entity escaping round-trip by
    construction of the reader."""

    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 100)
    out_dir = _scratch_dir(spark, "xml_sink") + "/docs_xml"
    (
        d.select("doc_id", "lang", "n_chars", "text")
        .write.format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .mode("overwrite")
        .save(out_dir)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id long, lang string, n_chars long, text string")
        .load(out_dir)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("n_chars").cast("decimal(28,0)")).cast("double").alias("sum_chars"),
    )


@register(
    "q269_ridge_regression",
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(l_discount AS DECIMAL(38,8))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
                      * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s11,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
                      * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS s12,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,4))
                      * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS s22,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
                      * CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS s1y,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,4))
                      * CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS s2y
      FROM lineitem
    ),
    c AS (
      SELECT n,
             s11 - s1 * s1 / n AS c11,
             s12 - s1 * s2 / n AS c12,
             s22 - s2 * s2 / n AS c22,
             s1y - s1 * sy / n AS c1y,
             s2y - s2 * sy / n AS c2y,
             s1 / n AS m1, s2 / n AS m2, sy / n AS my
      FROM m
    ),
    fit AS (
      SELECT n, m1, m2, my,
             ((c1y * (c22 + 10.0)) - (c2y * c12))
               / (((c11 + 10.0) * (c22 + 10.0)) - (c12 * c12)) AS beta1,
             ((c2y * (c11 + 10.0)) - (c1y * c12))
               / (((c11 + 10.0) * (c22 + 10.0)) - (c12 * c12)) AS beta2
      FROM c
    )
    SELECT n, ROUND(beta1, 6) AS beta_quantity,
           ROUND(beta2, 6) AS beta_discount,
           ROUND(my - beta1 * m1 - beta2 * m2, 6) AS intercept
    FROM fit
    """,
)
def q269_ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIDGE REGRESSION (L2-regularized OLS, λ=10) of extendedprice on
    (quantity, discount), closed form via the 2×2 regularized normal
    equations solved by Cramer's rule — the numerically-stable answer to
    collinear features that plain OLS (q43/q263) lacks; λ applies to
    the raw feature scale (documented, not standardized).

    Scale shape: ONE moment aggregate (8 decimal-exact sums) and then
    scalar algebra on a single row. The fit costs exactly one pass
    whatever the row count; the same expressions both engines evaluate
    are pure IEEE mul/div over hardened doubles (round6)."""
    li = load_table(spark, sf_dir, "lineitem")
    q4 = F.col("l_quantity").cast("decimal(18,4)")
    d4 = F.col("l_discount").cast("decimal(18,4)")
    p4 = F.col("l_extendedprice").cast("decimal(18,4)")
    m = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(38,8)")).cast("double").alias("s1"),
        F.sum(F.col("l_discount").cast("decimal(38,8)")).cast("double").alias("s2"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,8)")).cast("double").alias("sy"),
        F.sum(q4 * q4).cast("double").alias("s11"),
        F.sum(q4 * d4).cast("double").alias("s12"),
        F.sum(d4 * d4).cast("double").alias("s22"),
        F.sum(q4 * p4).cast("double").alias("s1y"),
        F.sum(d4 * p4).cast("double").alias("s2y"),
    )
    n = F.col("n")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    lam = F.lit(10.0)
    det = (c11 + lam) * (c22 + lam) - c12 * c12
    beta1 = (c1y * (c22 + lam) - c2y * c12) / det
    beta2 = (c2y * (c11 + lam) - c1y * c12) / det
    m1, m2, my = F.col("s1") / n, F.col("s2") / n, F.col("sy") / n
    return m.select(
        "n",
        F.round(beta1, 6).alias("beta_quantity"),
        F.round(beta2, 6).alias("beta_discount"),
        F.round(my - beta1 * m1 - beta2 * m2, 6).alias("intercept"),
    )


@register(
    "q270_isotonic_calibration",
    oracle="""
    WITH b AS (
      SELECT l_quantity AS score, COUNT(*) AS n,
             SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos
      FROM lineitem GROUP BY 1
    ),
    o AS (
      SELECT score, n, pos,
             SUM(n) OVER w AS cn, SUM(pos) OVER w AS cp,
             ROW_NUMBER() OVER (ORDER BY score) AS i
      FROM b
      WINDOW w AS (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    seg AS (
      SELECT a.i AS a, z.i AS b,
             CAST(z.cp - a.cp + a.pos AS DOUBLE)
               / CAST(z.cn - a.cn + a.n AS DOUBLE) AS m
      FROM o a JOIN o z ON a.i <= z.i
    ),
    mins AS (
      SELECT s.a, idx.i, MIN(s.m) AS mn
      FROM seg s JOIN o idx ON s.a <= idx.i AND s.b >= idx.i
      GROUP BY 1, 2
    ),
    iso AS (SELECT i, MAX(mn) AS iso FROM mins GROUP BY i)
    SELECT o.score, o.n,
           round_even(CAST(o.pos AS DOUBLE) / o.n, 6) AS raw_rate,
           round_even(iso.iso, 6) AS iso_rate
    FROM o JOIN iso ON o.i = iso.i
    """,
)
def q270_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC CALIBRATION via pool-adjacent-violators (PAVA): the
    monotone-nondecreasing fit of P(l_returnflag='R') against the
    l_quantity score — the nonparametric calibrator used where q258's
    binned reliability diagram shows miscalibration (Zadrozny & Elkan
    2002). Returns per-score-bucket raw and isotonic rates.

    Oracle (promoted r06): the PAVA fit has the closed minimax form
    iso_i = max_{a≤i} min_{b≥i} mean(pos[a..b])/mean(n[a..b]) — exact
    integer prefix-sum ratios, O(|buckets|³) on the bounded score axis,
    no sequential pooling needed on the oracle side. The pinned test
    additionally replays the buckets through an independent O(n²)
    reference PAVA and asserts monotonicity + weighted-mean
    preservation.

    Scale shape: the feed collapses to DISTINCT SCORE BUCKETS first
    (bounded by score resolution — the Theil-Sen/calendar-axis
    argument), then ONE applyInPandas group runs the linear-time pooling
    over |buckets| rows. The UDF is a local closure (worker pickling
    rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    buckets = (
        li.groupBy(F.col("l_quantity").alias("score"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("l_returnflag") == "R").cast("long")).alias("pos"),
        )
    )

    def pava(pdf):
        import pandas as pd

        pdf = pdf.sort_values("score").reset_index(drop=True)
        # pooled blocks carry EXACT integer (n_sum, pos_sum) pairs, and the
        # violation test cross-multiplies (p1·n2 > p2·n1) — the emitted
        # value pos_sum/n_sum is then the SAME single integer-ratio IEEE
        # division the minimax oracle computes, bit-identical at every SF.
        # (Incrementally pooled float means agreed only to last-ulp, and
        # round-half-even at 6 decimals can flip on a half boundary.)
        blocks = []  # [n_sum, pos_sum, count_of_buckets]
        for _, row in pdf.iterrows():
            blocks.append([int(row["n"]), int(row["pos"]), 1])
            while (
                len(blocks) > 1
                and blocks[-2][1] * blocks[-1][0] > blocks[-1][1] * blocks[-2][0]
            ):
                n2, p2, k2 = blocks.pop()
                n1, p1, k1 = blocks.pop()
                blocks.append([n1 + n2, p1 + p2, k1 + k2])
        iso = []
        for nsum, psum, k in blocks:
            iso.extend([psum / nsum] * k)
        out = pdf[["score", "n", "pos"]].copy()
        out["raw_rate"] = (out["pos"] / out["n"]).round(6)
        out["iso_rate"] = pd.Series(iso).round(6)
        return out.drop(columns=["pos"])

    return buckets.groupBy().applyInPandas(
        pava, "score double, n long, raw_rate double, iso_rate double"
    )


@register(
    "q271_file_provenance",
    # Oracle (promoted r08, closing the r07 verdict's rows-only item):
    # DuckDB's read_parquet(..., filename=true) carries the same per-row
    # provenance Spark's _metadata.file_path does. The literal path is
    # the driver's sf0.01 fixture (the driver runs oracle SQL verbatim,
    # always at sf0.01); the local gate retargets the path to the SF
    # under check (oracle_check.check_query).
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           COUNT(*) AS n_rows,
           MIN(l_orderkey) AS min_orderkey,
           MAX(l_orderkey) AS max_orderkey,
           COUNT(DISTINCT l_partkey) AS n_parts
    FROM read_parquet('{DRIVER_FIXTURE_ROOT}/lineitem.parquet',
                      filename=true)
    GROUP BY 1
    """,
)
def q271_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-PROVENANCE AUDIT via the parquet ``_metadata`` hidden
    column: per source file, row count and key extents — the lineage
    primitive behind "which input file produced this bad row"
    investigations and incremental-load bookkeeping (the reader-side
    sibling of q119's partition-overwrite accounting).

    Oracle-paired since r08: DuckDB recomputes the audit from
    ``read_parquet(..., filename=true)`` on the same file.

    Scale shape: ``_metadata.file_path`` is constant-folded per split —
    no UDF, no extra scan; the audit is one groupBy over |files|
    groups."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.regexp_extract(F.col("_metadata.file_path"), r"([^/]+)$", 1).alias(
                "file_name"
            ),
            "l_orderkey",
            "l_partkey",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("l_orderkey").alias("min_orderkey"),
            F.max("l_orderkey").alias("max_orderkey"),
            F.countDistinct("l_partkey").cast("long").alias("n_parts"),
        )
    )


# --- wave 23: negative sampling, CEP pattern match, Bradley-Terry,
#     Mahalanobis outliers ---


@register(
    "q272_negative_sampling",
    oracle="""
    WITH pos AS (
      SELECT DISTINCT o_custkey AS cust, l_partkey % 100 AS item
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    custs AS (SELECT DISTINCT cust FROM pos),
    trials AS (
      SELECT cust, t,
             ((cust % 100000) * 2654435761 + t * 40503 + 17) % 100 AS item
      FROM custs, (SELECT unnest(generate_series(0, 7)) AS t)
    ),
    negs AS (
      SELECT tr.cust, tr.t, tr.item
      FROM trials tr ANTI JOIN pos p
        ON p.cust = tr.cust AND p.item = tr.item
    ),
    ranked AS (
      SELECT cust, item, t,
             ROW_NUMBER() OVER (PARTITION BY cust ORDER BY t) AS rn
      FROM negs
    )
    SELECT cust, item, CAST(t AS INT) AS trial
    FROM ranked WHERE rn <= 3
    """,
)
def q272_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC NEGATIVE SAMPLING for implicit-feedback training
    (recsys / contrastive embedding prep): for every customer, derive 8
    pseudo-random candidate items from a pure-integer LCG hash of
    (customer, trial), anti-join away true positives, keep the first 3
    survivors per customer — the negatives every two-tower / BPR
    training job mines, reproducible across engines and retries (the
    q89/q123 content-derived-hash sampling doctrine applied to pair
    mining).

    Exactness: the LCG stays in BIGINT range by reducing the key mod 1e5
    BEFORE multiplying (Spark wraps silently on int64 overflow, DuckDB
    raises — identical only while nothing overflows; documented bound).

    Scale shape: positives collapse to distinct (cust, item) once; trial
    expansion is an 8-element explode of the DISTINCT-CUSTOMER frame
    (8·|customers| rows, not 8·|facts|); the anti join shuffles on
    (cust, item); the keep-3 window partitions by customer."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    pos = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_partkey") % 100).alias("item"),
        )
        .distinct()
    )
    custs = pos.select("cust").distinct()
    trials = custs.select(
        "cust", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("t")
    ).select(
        "cust",
        "t",
        (((F.col("cust") % 100000) * 2654435761 + F.col("t") * 40503 + 17) % 100)
        .alias("item"),
    )
    negs = trials.join(pos, ["cust", "item"], "left_anti")
    ranked = negs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("cust").orderBy("t"))
    )
    return ranked.where(F.col("rn") <= 3).select(
        "cust", "item", F.col("t").cast("int").alias("trial")
    )


@register(
    "q273_sequence_pattern",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY user_id
    ),
    pats AS (
      SELECT unnest(['v.*s.*p', 'e.*e.*e', 'p.*p']) AS pattern
    )
    SELECT pattern,
           CAST(SUM(CASE WHEN regexp_matches(seq, pattern) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_users
    FROM pats CROSS JOIN seqs
    GROUP BY pattern
    """,
)
def q273_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-STYLE SEQUENCE PATTERN MATCHING (the batch analog of Flink
    CEP / SQL MATCH_RECOGNIZE): each user's event history compresses to
    an ordered symbol string (first letter of event_type), and declared
    patterns — view→…→signup→…→purchase, an error triple, repeat
    purchase — count matching users via regex. The funnel family's free
    -form sibling: q100 checks ONE fixed funnel, q266 enumerates paths,
    this matches arbitrary ordered patterns with gaps.

    Scale shape: one per-user aggregation (symbol strings bounded by
    events-per-user; unbounded streams would sessionize first, q266);
    the |patterns|×|users| cross join broadcasts the 3-row pattern side;
    match flags aggregate map-side. Ordering inside the string uses the
    shared (ts, event_id) total order; both engines' regex dialects
    agree on these `.*` patterns."""
    e = load_table(spark, sf_dir, "events")
    seqs = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id", F.substring("event_type", 1, 1).alias("sym")
                        )
                    )
                ),
                lambda x: x["sym"],
            ),
            "",
        ).alias("seq")
    )
    pats = spark.createDataFrame(
        [("v.*s.*p",), ("e.*e.*e",), ("p.*p",)], "pattern string"
    )
    return (
        seqs.join(F.broadcast(pats))
        .groupBy("pattern")
        .agg(
            F.sum(F.regexp_like(F.col("seq"), F.col("pattern")).cast("int"))
            .cast("long")
            .alias("n_users")
        )
    )


def _q274_oracle(iters: int = 100) -> str:
    """DuckDB replay of the quantized Bradley-Terry MM fit: the win
    matrix is exact integer/decimal algebra (cross-multiplied price
    comparison — no division anywhere), and each of the ``iters`` MM
    rounds re-quantizes the ratings to 8 decimals, so the ~1e-15
    relative difference between numpy's bincount scatter order and SQL's
    SUM order can never reach the next round (boundary gap 5e-9, noise
    1e-15). Unrolled as materialized CTEs like the IRLS/Lloyd oracles."""
    ctes = [
        """unit AS MATERIALIZED (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS se,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS sq
      FROM lineitem GROUP BY 1, 2)""",
        # cross-multiplication in HUGEINT on the 10^4-scaled exact sums:
        # order-preserving (both scale factors positive), and DuckDB's
        # DECIMAL(18)x DECIMAL(18) int64 fast path overflows on a
        # skew-fixture hot supplier (se*sq internal ints ~1e26 — the r09
        # skew-sweep catch); Spark's DECIMAL(37,8) product was never at
        # risk, so only the oracle widens
        """matrix AS MATERIALIZED (
      SELECT a.sk AS s1, b.sk AS s2, COUNT(*) AS n,
             SUM(CASE WHEN CAST(CAST(a.se AS DECIMAL(38,4)) * 10000 AS HUGEINT)
                           * CAST(CAST(b.sq AS DECIMAL(38,4)) * 10000 AS HUGEINT)
                         < CAST(CAST(b.se AS DECIMAL(38,4)) * 10000 AS HUGEINT)
                           * CAST(CAST(a.sq AS DECIMAL(38,4)) * 10000 AS HUGEINT)
                      THEN 1 ELSE 0 END) AS wins1
      FROM unit a JOIN unit b ON a.pk = b.pk AND a.sk < b.sk
      WHERE CAST(CAST(a.se AS DECIMAL(38,4)) * 10000 AS HUGEINT)
            * CAST(CAST(b.sq AS DECIMAL(38,4)) * 10000 AS HUGEINT)
         != CAST(CAST(b.se AS DECIMAL(38,4)) * 10000 AS HUGEINT)
            * CAST(CAST(a.sq AS DECIMAL(38,4)) * 10000 AS HUGEINT)
      GROUP BY 1, 2)""",
        """players AS MATERIALIZED (
      SELECT sid, SUM(w) AS w, SUM(n) AS g FROM (
        SELECT s1 AS sid, wins1 AS w, n FROM matrix
        UNION ALL
        SELECT s2 AS sid, n - wins1 AS w, n FROM matrix) u
      GROUP BY 1)""",
        "kcnt AS MATERIALIZED (SELECT COUNT(*) AS k FROM players)",
        "r0 AS MATERIALIZED (SELECT sid, CAST(1.0 AS DOUBLE) AS p FROM players)",
    ]
    for t in range(1, iters + 1):
        prev = f"r{t - 1}"
        ctes.append(
            f"""c{t} AS MATERIALIZED (
      SELECT m.s1, m.s2, CAST(m.n AS DOUBLE) / (ra.p + rb.p) AS contrib
      FROM matrix m JOIN {prev} ra ON ra.sid = m.s1
                    JOIN {prev} rb ON rb.sid = m.s2)"""
        )
        ctes.append(
            f"""d{t} AS MATERIALIZED (
      SELECT sid, SUM(contrib) AS denom FROM (
        SELECT s1 AS sid, contrib FROM c{t}
        UNION ALL
        SELECT s2 AS sid, contrib FROM c{t}) u
      GROUP BY 1)"""
        )
        ctes.append(
            f"""n{t} AS MATERIALIZED (
      SELECT pl.sid,
             CASE WHEN d.denom > 0 THEN CAST(pl.w AS DOUBLE) / d.denom
                  ELSE r.p END AS np
      FROM players pl JOIN {prev} r ON r.sid = pl.sid
      LEFT JOIN d{t} d ON d.sid = pl.sid)"""
        )
        ctes.append(
            f"""r{t} AS MATERIALIZED (
      SELECT sid, ROUND(np * (CAST(k AS DOUBLE) / tot), 8) AS p
      FROM n{t} CROSS JOIN kcnt
      CROSS JOIN (SELECT SUM(np) AS tot FROM n{t}) s)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""\n    SELECT pl.sid AS supplier, CAST(pl.g AS BIGINT) AS games,
           CAST(pl.w AS BIGINT) AS wins, r.p AS bt_score
    FROM players pl JOIN r{iters} r ON r.sid = pl.sid"""
    )


@register("q274_bradley_terry", oracle=_q274_oracle())
def q274_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRADLEY-TERRY SKILL RATING (the Arena-leaderboard model): every
    part supplied by ≥2 suppliers stages pairwise "matches" won by the
    lower average unit price; the distributed stage builds the
    |suppliers|² win matrix, then the minorization-maximization
    iteration p_i ← W_i / Σ_j n_ij/(p_i+p_j) (Hunter 2004) solves the
    ratings. Returns every supplier's games, wins, and normalized BT
    score.

    Oracle-paired since r09: the win matrix is exact algebra (the price
    comparison is CROSS-MULTIPLIED — se1·sq2 < se2·sq1 on exact decimal
    sums, removing the old rounded-decimal-division hazard), and each MM
    round re-QUANTIZES the ratings to 8 decimals, so numpy's bincount
    summation order and DuckDB's SUM order (~1e-15 apart) always
    collapse to the same value before the next round — the q44-IRLS
    doctrine applied to a 100-round driver-side fit. The pinned test
    still replays the win matrix through an independent Python MM loop
    (1e-4 parity).

    Scale shape: unit prices collapse per (part, supplier) in one
    groupBy; matches come from a self-equi-join ON THE PART KEY (Σ
    suppliers-per-part² pair instances, never all-pairs globally); the
    win matrix reduces to its SPARSE nonzero cells — pairs that share
    at least one part, |nnz| ≤ Σ_part C(suppliers_per_part, 2), a
    fixed small multiple of |parts| under the usual few-suppliers-
    per-part catalog shape. The fit transfers exactly those nnz rows
    via Arrow and runs the MM iteration as O(nnz) vectorized numpy
    (scatter-add denominators via bincount), so driver cost follows
    the SPARSITY, not |players|². (The r06 shape materialized a DENSE
    |players|² Python list-of-lists and a pure-Python O(k²)-per-
    iteration loop: 502 s at sf1's 10k-supplier roster. The rework
    runs the same 100 fixed-point iterations; bincount scatter-adds
    change the float summation ORDER vs the ordered Python sum, so
    scores are numerically equivalent to the 1e-4 parity the pinned
    test asserts, not bit-identical — the sf1 smoke now clears it in
    tens of seconds.)
    Exact price ties produce no match (documented)."""
    import numpy as np
    li = load_table(spark, sf_dir, "lineitem")
    unit = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("decimal(18,4)")
            .alias("se"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("decimal(18,4)")
            .alias("sq"),
        )
    )
    u2 = unit.select(
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("s2"),
        F.col("se").alias("se2"),
        F.col("sq").alias("sq2"),
    )
    # exact cross-multiplied price comparison: se1/sq1 < se2/sq2 ⟺
    # se1·sq2 < se2·sq1 (quantities positive) — DECIMAL(18,4) products
    # stay exact in both engines, no division anywhere
    games = (
        unit.withColumnRenamed("l_partkey", "pk")
        .withColumnRenamed("l_suppkey", "s1")
        .withColumnRenamed("se", "se1")
        .withColumnRenamed("sq", "sq1")
        .join(u2, "pk")
        .where(F.col("s1") < F.col("s2"))
        .where(F.col("se1") * F.col("sq2") != F.col("se2") * F.col("sq1"))
        .select(
            "s1",
            "s2",
            F.when(
                F.col("se1") * F.col("sq2") < F.col("se2") * F.col("sq1"), 1
            ).otherwise(0).alias("w1"),
        )
    )
    matrix = games.groupBy("s1", "s2").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("w1").cast("long").alias("wins1"),
    )
    # sparse Arrow transfer: exactly the nonzero (s1, s2, n, wins) cells
    pdf = matrix.toPandas()
    if len(pdf) == 0:
        return spark.createDataFrame(
            [], "supplier long, games long, wins long, bt_score double"
        )
    players, codes = np.unique(
        np.concatenate([pdf["s1"].to_numpy(), pdf["s2"].to_numpy()]),
        return_inverse=True,
    )
    k = len(players)
    half = len(pdf)
    ii, jj = codes[:half], codes[half:]
    nn = pdf["n"].to_numpy(dtype=np.float64)
    w1 = pdf["wins1"].to_numpy(dtype=np.float64)
    w = np.bincount(ii, weights=w1, minlength=k) + np.bincount(
        jj, weights=nn - w1, minlength=k
    )
    g = np.bincount(ii, weights=nn, minlength=k) + np.bincount(
        jj, weights=nn, minlength=k
    )
    p = np.ones(k)
    for _ in range(100):
        contrib = nn / (p[ii] + p[jj])
        denom = np.bincount(ii, weights=contrib, minlength=k) + np.bincount(
            jj, weights=contrib, minlength=k
        )
        newp = np.where(denom > 0, w / np.where(denom > 0, denom, 1.0), p)
        # per-round 8-decimal quantization: the oracle's SQL SUM order and
        # bincount's scatter order differ at ~1e-15 relative — quantizing
        # BOTH to the 5e-9-gap grid makes every round's input identical
        # across engines (the q44-IRLS doctrine)
        newq = np.round(newp * (k / newp.sum()), 8)
        # fixed-point early stop (r09 verdict item 4): each round is a pure
        # function of the quantized p, so reproducing the input exactly
        # (values AND zero signs) makes every later round the identity —
        # bit-identical to all 100 rounds, which is what the full-depth
        # unrolled oracle still runs
        if np.array_equal(newq, p) and np.array_equal(
            np.signbit(newq), np.signbit(p)
        ):
            p = newq
            break
        p = newq
    spark_rows = [
        (int(players[i]), int(g[i]), int(w[i]), float(p[i]))
        for i in range(k)
    ]
    return spark.createDataFrame(
        spark_rows, "supplier long, games long, wins long, bt_score double"
    )


@register(
    "q275_mahalanobis_outliers",
    oracle="""
    WITH m AS (
      SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(l_discount AS DECIMAL(38,8))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
                      * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s11,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
                      * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS s12,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,4))
                      * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS s22
      FROM lineitem GROUP BY l_returnflag
    ),
    cov AS (
      SELECT flag, n, s1 / n AS m1, s2 / n AS m2,
             (s11 - s1 * s1 / n) / (n - 1) AS v11,
             (s12 - s1 * s2 / n) / (n - 1) AS v12,
             (s22 - s2 * s2 / n) / (n - 1) AS v22
      FROM m
    ),
    scored AS (
      SELECT c.flag, n,
             ((l_quantity - m1) * (v22 * (l_quantity - m1) - v12 * (l_discount - m2))
              + (l_discount - m2) * (v11 * (l_discount - m2) - v12 * (l_quantity - m1)))
             / (v11 * v22 - v12 * v12) AS d2
      FROM lineitem JOIN cov c ON c.flag = l_returnflag
    )
    SELECT flag, n,
           CAST(SUM(CASE WHEN d2 > 13.815510557964274 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           ROUND(MAX(d2), 6) AS max_d2
    FROM scored GROUP BY flag, n
    """,
)
def q275_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAHALANOBIS MULTIVARIATE OUTLIERS per group: squared Mahalanobis
    distance of (quantity, discount) against each returnflag group's
    mean/covariance, counting exceedances of the χ²₂ 99.9 % quantile —
    the correlated-feature outlier detector that per-column z-scores
    (q108) and MAD (q140) cannot express (a point can be 2σ on each
    axis yet wildly improbable jointly).

    Scale shape: group moments are ONE map-side-combining aggregate; the
    2×2 covariance inverse is closed-form inside the d² expression; the
    scoring pass is a broadcast join of |groups| rows onto the feed and
    a second two-phase aggregate. All comparisons are on identical IEEE
    doubles derived from hardened decimal sums."""
    li = load_table(spark, sf_dir, "lineitem")
    q4 = F.col("l_quantity").cast("decimal(18,4)")
    d4 = F.col("l_discount").cast("decimal(18,4)")
    m = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(38,8)")).cast("double").alias("s1"),
        F.sum(F.col("l_discount").cast("decimal(38,8)")).cast("double").alias("s2"),
        F.sum(q4 * q4).cast("double").alias("s11"),
        F.sum(q4 * d4).cast("double").alias("s12"),
        F.sum(d4 * d4).cast("double").alias("s22"),
    )
    n = F.col("n")
    cov = m.select(
        "flag",
        "n",
        (F.col("s1") / n).alias("m1"),
        (F.col("s2") / n).alias("m2"),
        ((F.col("s11") - F.col("s1") * F.col("s1") / n) / (n - 1)).alias("v11"),
        ((F.col("s12") - F.col("s1") * F.col("s2") / n) / (n - 1)).alias("v12"),
        ((F.col("s22") - F.col("s2") * F.col("s2") / n) / (n - 1)).alias("v22"),
    )
    dx = F.col("l_quantity") - F.col("m1")
    dy = F.col("l_discount") - F.col("m2")
    d2 = (
        dx * (F.col("v22") * dx - F.col("v12") * dy)
        + dy * (F.col("v11") * dy - F.col("v12") * dx)
    ) / (F.col("v11") * F.col("v22") - F.col("v12") * F.col("v12"))
    scored = li.join(
        F.broadcast(cov), li.l_returnflag == cov.flag
    ).select("flag", "n", d2.alias("d2"))
    return scored.groupBy("flag", "n").agg(
        F.sum((F.col("d2") > 13.815510557964274).cast("int"))
        .cast("long")
        .alias("n_outliers"),
        F.round(F.max("d2"), 6).alias("max_d2"),
    )


# --- wave 24: Simpson audit, time-to-convert, quantile normalization,
#     shard manifest ---


@register(
    "q276_simpson_audit",
    oracle="""
    WITH m AS (
      SELECT l_partkey % 10 AS grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY 1
    ),
    slopes AS (
      SELECT grp, n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
             sx, sy, sxx, sxy
      FROM m
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
             SUM(sxx) AS sxx, SUM(sxy) AS sxy
      FROM slopes
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           ROUND(MAX(t.gslope), 6) + 0e0 AS global_slope,
           ROUND(MIN(slope), 6) + 0e0 AS min_group_slope,
           ROUND(MAX(slope), 6) + 0e0 AS max_group_slope,
           MAX(CASE WHEN t.gslope > 0 THEN 1 ELSE 0 END)
             * (CASE WHEN MAX(slope) < 0 THEN 1 ELSE 0 END)
           + MAX(CASE WHEN t.gslope < 0 THEN 1 ELSE 0 END)
             * (CASE WHEN MIN(slope) > 0 THEN 1 ELSE 0 END) AS simpson_flag
    FROM slopes,
         (SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS gslope
          FROM tot) t
    """,
)
def q276_simpson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPSON'S-PARADOX AUDIT: the pooled regression slope of
    extendedprice on quantity vs the per-group (part-category) slopes,
    flagging when every within-group trend contradicts the pooled trend
    — the aggregation-bias tripwire analysts run before trusting any
    pooled correlation (this corpus is uniform, so the flag's JOB here
    is to come back 0 — same doctrine as q254's Benford audit).

    Scale shape: per-group moments in ONE groupBy; the pooled moments
    are the SUM of the group moments (moment additivity — the feed is
    scanned exactly once); everything downstream is |groups|-row
    algebra."""
    li = load_table(spark, sf_dir, "lineitem")
    q2 = F.col("l_quantity").cast("decimal(18,2)")
    p2 = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy((F.col("l_partkey") % 10).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(38,4)")).cast("double").alias("sx"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,4)")).cast("double").alias("sy"),
        F.sum(q2 * q2).cast("double").alias("sxx"),
        F.sum(q2 * p2).cast("double").alias("sxy"),
    )
    n = F.col("n")
    slopes = m.select(
        "grp",
        "n",
        ((n * F.col("sxy") - F.col("sx") * F.col("sy"))
         / (n * F.col("sxx") - F.col("sx") * F.col("sx"))).alias("slope"),
        "sx", "sy", "sxx", "sxy",
    )
    tot = slopes.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("sxy").alias("sxy"),
    ).select(
        ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
         / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))).alias("gslope")
    )
    return slopes.join(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        round_disp(F.max("gslope"), 6).alias("global_slope"),
        round_disp(F.min("slope"), 6).alias("min_group_slope"),
        round_disp(F.max("slope"), 6).alias("max_group_slope"),
        (
            F.max((F.col("gslope") > 0).cast("long"))
            * (F.max("slope") < 0).cast("long")
            + F.max((F.col("gslope") < 0).cast("long"))
            * (F.min("slope") > 0).cast("long")
        ).alias("simpson_flag"),
    )


@register(
    "q277_time_to_convert",
    oracle="""
    WITH firstview AS (
      SELECT user_id, MIN(ts) AS v0 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    conv AS (
      SELECT f.user_id,
             CAST(epoch_us(MIN(e.ts)) - epoch_us(v0) AS BIGINT) AS delta_us
      FROM firstview f JOIN events e
        ON e.user_id = f.user_id AND e.event_type = 'purchase'
           AND e.ts > f.v0
      GROUP BY f.user_id, v0
    ),
    views AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_viewers FROM firstview)
    SELECT n_viewers, CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(COUNT(*) / CAST(n_viewers AS DOUBLE), 6) AS conversion_rate,
           ROUND(quantile_cont(delta_us / 1000000.0, 0.5), 6) AS median_sec,
           ROUND(quantile_cont(delta_us / 1000000.0, 0.9), 6) AS p90_sec
    FROM conv, views GROUP BY n_viewers
    """,
)
def q277_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT DISTRIBUTION: per user, the delay from first
    'view' to the first 'purchase' after it; report conversion rate and
    the median/p90 delay — the latency half of funnel analytics (q100
    counts WHO converts; this measures HOW LONG conversion takes).

    Scale shape: first-view collapses per user; the purchase join is an
    equi-join on user with the time predicate as join filter, collapsed
    by min BEFORE any percentile; percentiles run over ≤|users| rows.
    Deltas are exact integer micros (the events-ns convention); one
    division to seconds, round6 both engines."""
    e = load_table(spark, sf_dir, "events")
    firstview = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v0"))
    )
    purch = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    conv = (
        firstview.join(purch, "user_id")
        .where(F.col("pts") > F.col("v0"))
        .groupBy("user_id", "v0")
        .agg(
            (F.unix_micros(F.min("pts")) - F.unix_micros(F.col("v0")))
            .cast("long")
            .alias("delta_us")
        )
    )
    views = firstview.agg(F.count(F.lit(1)).cast("long").alias("n_viewers"))
    return (
        conv.join(F.broadcast(views))
        .groupBy("n_viewers")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            F.round(
                F.count(F.lit(1)) / F.col("n_viewers").cast("double"), 6
            ).alias("conversion_rate"),
            F.round(F.expr("percentile(delta_us / 1000000.0, 0.5)"), 6).alias(
                "median_sec"
            ),
            F.round(F.expr("percentile(delta_us / 1000000.0, 0.9)"), 6).alias(
                "p90_sec"
            ),
        )
        .select(
            "n_viewers", "n_converted", "conversion_rate", "median_sec", "p90_sec"
        )
    )


@register(
    "q278_quantile_normalization",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             CAST(2 * RANK() OVER (PARTITION BY source ORDER BY n_chars)
                  + COUNT(*) OVER (PARTITION BY source, n_chars) - 1
                  AS BIGINT) AS r2,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
      FROM documents
    ),
    pooled AS (
      SELECT n_chars AS v,
             CAST(SUM(COUNT(*)) OVER (ORDER BY n_chars) AS BIGINT) AS cum,
             CAST(SUM(COUNT(*)) OVER (ORDER BY n_chars) - COUNT(*)
                  AS BIGINT) AS cum_prev
      FROM documents GROUP BY n_chars
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
    target AS (
      SELECT doc_id, source, n_chars,
             CAST((r2 * nn + 2 * n_src - 1) // (2 * n_src) AS BIGINT) AS idx
      FROM ranked, tot
    )
    SELECT doc_id, source, n_chars, p.v AS qnorm_chars
    FROM target t JOIN pooled p
      ON t.idx > p.cum_prev AND t.idx <= p.cum
    """,
)
def q278_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION across sources (the batch-effect
    correction of microarray fame, here equalizing per-source document-
    length distributions): each doc's length maps to the POOLED
    distribution's value at its within-source midrank quantile (type-1,
    no interpolation — index math stays in exact integers:
    idx = ceil(midrank2·N / 2n) computed as an integer ceiling
    division).

    Scale shape: within-source midranks via per-source windows
    (partition-parallel); the pooled CDF collapses to DISTINCT VALUES
    (value-resolution bounded — document lengths, not documents) and
    joins back by a range predicate on the cumulative interval — the
    distinct-value table broadcasts under that resolution bound. No
    float appears anywhere: input, ranks, and output are all integers."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    ws = Window.partitionBy("source").orderBy("n_chars")
    ranked = d.select(
        "doc_id",
        "source",
        "n_chars",
        (
            2 * F.rank().over(ws)
            + F.count(F.lit(1)).over(Window.partitionBy("source", "n_chars"))
            - 1
        )
        .cast("long")
        .alias("r2"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("long")
        .alias("n_src"),
    )
    pooled_counts = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    from .operators.windows import global_prefix_sum

    pooled = global_prefix_sum(pooled_counts, "v", ["cnt"]).select(
        "v",
        F.col("cnt_cum").cast("long").alias("cum"),
        (F.col("cnt_cum") - F.col("cnt")).cast("long").alias("cum_prev"),
    )
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    # exact integer ceiling division (never a double divide: r2·nn can
    # exceed 2^53 at corpus scale)
    target = ranked.join(F.broadcast(tot)).select(
        "doc_id",
        "source",
        "n_chars",
        F.expr("(r2 * nn + 2 * n_src - 1) div (2 * n_src)").alias("idx"),
    )
    return target.join(
        F.broadcast(pooled),
        (F.col("idx") > F.col("cum_prev")) & (F.col("idx") <= F.col("cum")),
    ).select("doc_id", "source", "n_chars", F.col("v").alias("qnorm_chars"))


@register(
    "q279_shard_manifest",
    oracle="""
    SELECT doc_id % 16 AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM((CAST(doc_id AS HUGEINT) * 1000003 + n_chars) % 1000000007) AS BIGINT)
             AS checksum
    FROM documents GROUP BY 1
    """,
)
def q279_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET SHARD MANIFEST: deterministic 16-way shard assignment
    with per-shard row counts, payload size, and an order-independent
    content checksum — the reproducible-delivery bookkeeping a training
    job checks before consuming a dataset (complements q195's split and
    q188's token budget; a re-export with one changed row flips exactly
    one shard's checksum).

    Scale shape: one map-side-combining groupBy over 16 groups; the
    checksum terms stay below 1e9 each, so BIGINT sums never overflow on
    either engine and the sum is order-independent by integer exactness.
    The per-row doc_id * 1000003 runs in DECIMAL(38,0) (HUGEINT on the
    oracle): a long multiply overflows once doc_id passes ~9.2e12, which
    real corpus id ranges reach (caught by the sf1 upscale probe)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy((F.col("doc_id") % 16).alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(
            (F.col("doc_id").cast("decimal(38,0)") * 1000003 + F.col("n_chars"))
            % 1000000007
        )
        .cast("long")
        .alias("checksum"),
    )


# --- wave 25: density clustering, retrieval metrics, fairness audit ---


@register(
    "q280_grid_dbscan",
    # Oracle (promoted r08): the "iterative CC has no SQL twin" premise
    # was wrong — min-reachable-label connected components IS expressible
    # as a recursive CTE (transitive closure over the symmetric dense-cell
    # adjacency, then MIN per source). Every other step is deterministic
    # double/integer arithmetic both engines share. The closure is over
    # |dense cells| nodes, not points — bounded at oracle SFs.
    oracle="""
    WITH RECURSIVE
    pts AS (
      SELECT vec_id,
             CASE WHEN abs(CAST(embedding[1] AS DOUBLE) / 0.08) < 1.0e12
                   AND abs(CAST(embedding[2] AS DOUBLE) / 0.08) < 1.0e12
                  THEN (CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.08)
                             AS BIGINT) + 1000) * 100000
                       + (CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.08)
                               AS BIGINT) + 1000)
             END AS cell
      FROM embeddings
    ),
    dense AS (
      SELECT cell FROM pts WHERE cell IS NOT NULL
      GROUP BY cell HAVING COUNT(*) >= 4
    ),
    edges AS (
      SELECT a.cell AS src, b.cell AS dst
      FROM dense a JOIN dense b
        ON b.cell - a.cell IN (-100001, -100000, -99999, -1,
                               1, 99999, 100000, 100001)
    ),
    reach(src, dst) AS (
      SELECT cell, cell FROM dense
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (SELECT src AS cell, MIN(dst) AS cluster FROM reach GROUP BY src)
    SELECT p.vec_id,
           COALESCE(c.cluster, -1) AS cluster,
           c.cluster IS NULL AS is_noise
    FROM pts p LEFT JOIN comp c USING (cell)
    """,
)
def q280_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID-DBSCAN DENSITY CLUSTERING on the first two embedding
    dimensions: points land in h=0.08 cells, cells with ≥4 points are
    dense, 8-adjacent dense cells merge via connected components, and
    points outside dense cells are noise (cluster −1) — the density
    family's entry next to centroid (q69 KMeans), coverage (q238
    k-center) and graph (q239 LPA) clustering; cluster count is
    data-driven and noise is a first-class outcome, which neither
    KMeans nor k-center can express.

    Oracle-paired since r08 (recursive-CTE transitive closure over the
    dense-cell graph — min-label CC is SQL after all) — the pinned test
    replays the identical grid algorithm in Python.

    Scale shape: the cell histogram is one groupBy (|occupied cells| ≤
    points, usually ≪); adjacency is an 8-way explode of the DENSE-cell
    frame joined to itself on cell id (no point-level pairwise
    anything); CC runs on |dense cells| nodes — the same pointer-jumping
    operator q78 trusts; the final labeling is one unhinted equi-join of the
    cell→cluster map onto points."""
    from .functions.dedup import connected_components

    e = load_table(spark, sf_dir, "embeddings")
    h, min_pts = 0.08, 4
    # grid-domain guard: a corrupt coordinate (|x/h| beyond ~1e12) would
    # overflow the packed long cell key under ANSI and abort the job; such
    # far-out points cannot belong to any dense cell, so they take a NULL
    # cell here and fall through the left join below as noise (-1) — the
    # DBSCAN-correct label for an extreme outlier
    d1 = F.element_at("embedding", 1).cast("double") / F.lit(h)
    d2 = F.element_at("embedding", 2).cast("double") / F.lit(h)
    in_grid = (F.abs(d1) < F.lit(1.0e12)) & (F.abs(d2) < F.lit(1.0e12))
    pts = e.select(
        "vec_id",
        F.when(in_grid, F.floor(d1)).cast("long").alias("cx"),
        F.when(in_grid, F.floor(d2)).cast("long").alias("cy"),
    )
    cell_id = ((F.col("cx") + 1000) * 100000 + (F.col("cy") + 1000)).alias(
        "cell"
    )
    cells = pts.select("vec_id", cell_id)
    dense = (
        cells.where(F.col("cell").isNotNull())
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_pts)
        .select("cell")
    )
    # 8-neighbor adjacency between dense cells (a < b kills duplicates)
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]
    neigh = dense.select(
        "cell",
        F.explode(
            F.array(*[F.lit(dx * 100000 + dy) for dx, dy in offs])
        ).alias("off"),
    ).select("cell", (F.col("cell") + F.col("off")).alias("ncell"))
    pairs = (
        neigh.join(dense.withColumnRenamed("cell", "ncell"), "ncell")
        .where(F.col("cell") < F.col("ncell"))
        .select(F.col("cell").alias("id_a"), F.col("ncell").alias("id_b"))
    )
    comp = connected_components(pairs)
    # dense cells with no dense neighbor are their own singleton cluster
    labeled = dense.join(
        comp.withColumnRenamed("id", "cell"), "cell", "left"
    ).select(
        "cell", F.coalesce("component", F.col("cell")).alias("cluster")
    )
    return cells.join(labeled, "cell", "left").select(
        "vec_id",
        F.coalesce("cluster", F.lit(-1)).cast("long").alias("cluster"),
        F.col("cluster").isNull().alias("is_noise"),
    )


@register(
    "q281_retrieval_metrics",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
      FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
      SELECT q.query_id, q.qlabel, e.vec_id, e.label,
             ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6)
               AS score
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, qlabel, vec_id, label, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS rnk
      FROM scored
    ),
    rel_total AS (
      SELECT q.query_id,
             CAST(COUNT(*) FILTER (WHERE e.label = q.qlabel
                                   AND e.vec_id <> q.query_id) AS BIGINT)
               AS n_relevant
      FROM q, embeddings e GROUP BY q.query_id
    ),
    topk AS (SELECT * FROM ranked WHERE rnk <= 10),
    disc AS (
      SELECT unnest(generate_series(1, 10)) AS rnk,
             unnest([1.0, 0.6309297535714575, 0.5, 0.43067655807339306,
                     0.38685280723454163, 0.3562071871080222,
                     0.3333333333333333, 0.31546487678572877,
                     0.3010299956639812, 0.2890648263178879]) AS d
    ),
    cum AS (
      SELECT unnest(generate_series(0, 10)) AS j,
             unnest([0.0, 1.0, 1.6309297535714575, 2.1309297535714578,
                     2.5616063116448506, 2.9484591188793923,
                     3.3046663059874146, 3.637999639320748,
                     3.953464516106477, 4.254494511770458,
                     4.543559338088346]) AS idcg
    ),
    per_q AS (
      SELECT t.query_id,
             SUM(CASE WHEN t.label = t.qlabel THEN disc.d ELSE 0 END) AS dcg,
             MAX(CASE WHEN t.label = t.qlabel THEN 1.0 / t.rnk ELSE 0 END)
               AS mrr10
      FROM topk t JOIN disc ON disc.rnk = t.rnk
      GROUP BY t.query_id
    )
    SELECT p.query_id, r.n_relevant,
           ROUND(p.dcg / c.idcg, 6) AS ndcg10,
           ROUND(p.mrr10, 6) AS mrr10
    FROM per_q p
    JOIN rel_total r ON r.query_id = p.query_id
    JOIN cum c ON c.j = LEAST(r.n_relevant, 10)
    """,
)
def q281_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL-QUALITY METRICS (nDCG@10, MRR@10) for cosine ranking
    with label-match relevance — the ranking-eval family member next to
    q172's recall@k (recall asks "did the truth show up"; nDCG/MRR ask
    "how high"). The log2 discount curve is PINNED AS SHARED LITERALS
    on both engines (no libm at query time — the q254 printf doctrine
    applied to DCG), and ranking ties break on (round6 score, vec_id)
    exactly as q41 does.

    Scale shape: the query set broadcasts (bounded-query contract,
    q41/similarity.py); per-query work is a partitioned window over the
    candidate scores; ideal DCG is a constant-array lookup on
    min(|relevant|, 10)."""
    _DISC = [1.0, 0.6309297535714575, 0.5, 0.43067655807339306,
             0.38685280723454163, 0.3562071871080222, 0.3333333333333333,
             0.31546487678572877, 0.3010299956639812, 0.2890648263178879]
    _CUM = [0.0, 1.0, 1.6309297535714575, 2.1309297535714578,
            2.5616063116448506, 2.9484591188793923, 3.3046663059874146,
            3.637999639320748, 3.953464516106477, 4.254494511770458,
            4.543559338088346]
    from pyspark.sql import Window

    from .functions.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        e.join(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("score"),
        )
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("score"), "vec_id")
        ),
    ).where(F.col("rnk") <= 10)
    rel_total = (
        e.join(F.broadcast(q.select("query_id", "qlabel")))
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(
            F.sum((F.col("label") == F.col("qlabel")).cast("long"))
            .cast("long")
            .alias("n_relevant")
        )
    )
    disc_arr = F.array(*[F.lit(d) for d in _DISC])
    per_q = ranked.groupBy("query_id").agg(
        F.sum(
            F.when(
                F.col("label") == F.col("qlabel"),
                F.element_at(disc_arr, F.col("rnk").cast("int")),
            ).otherwise(0.0)
        ).alias("dcg"),
        F.max(
            F.when(
                F.col("label") == F.col("qlabel"), 1.0 / F.col("rnk")
            ).otherwise(0.0)
        ).alias("mrr10"),
    )
    cum_arr = F.array(*[F.lit(c) for c in _CUM])
    return per_q.join(rel_total, "query_id").select(
        "query_id",
        "n_relevant",
        F.round(
            # try_divide: a query with zero relevant corpus docs has ideal
            # DCG 0 — nDCG undefined -> NULL (DuckDB x/0), not a job abort
            F.try_divide(
                F.col("dcg"),
                F.element_at(
                    cum_arr,
                    (F.least(F.col("n_relevant"), F.lit(10)) + 1).cast("int"),
                ),
            ),
            6,
        ).alias("ndcg10"),
        F.round("mrr10", 6).alias("mrr10"),
    )


@register(
    "q282_fairness_audit",
    oracle="""
    WITH scored AS (
      SELECT c_mktsegment AS segment,
             CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END AS pred,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    per_seg AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pred * y) AS BIGINT) AS tp,
             CAST(SUM(pred * (1 - y)) AS BIGINT) AS fp,
             CAST(SUM(y) AS BIGINT) AS pos,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
      FROM scored GROUP BY segment
    ),
    rates AS (
      SELECT segment, n,
             ROUND(tp / CAST(pos AS DOUBLE), 6) AS tpr,
             ROUND(fp / CAST(neg AS DOUBLE), 6) AS fpr,
             ROUND((tp + fp) / CAST(n AS DOUBLE), 6) AS pred_rate
      FROM per_seg
    ),
    gaps AS (
      SELECT ROUND(MAX(tpr) - MIN(tpr), 6) AS tpr_gap,
             ROUND(MAX(fpr) - MIN(fpr), 6) AS fpr_gap,
             ROUND(MAX(pred_rate) - MIN(pred_rate), 6) AS demo_parity_gap
      FROM rates
    )
    SELECT segment, n, tpr, fpr, pred_rate,
           tpr_gap, fpr_gap, demo_parity_gap
    FROM rates, gaps
    """,
)
def q282_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBGROUP FAIRNESS AUDIT (equalized-odds + demographic-parity
    readout): per market segment, the classifier's TPR / FPR / positive
    -prediction rate, with the max-gap across segments attached to
    every row — the disaggregated-evaluation pass (Barocas-Hardt style)
    a model pipeline runs before shipping any classifier trained on its
    data; the confusion matrix (q44) reports the AGGREGATE, this
    reports who the errors land on.

    Scale shape: one fact-dim join (unhinted — customer grows with SF),
    one |segments|-group
    aggregate of four integer counts, and a 1-row gap broadcast joined
    back. All rates are single divisions over exact integers
    (round6)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    scored = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_totalprice") > 250000).cast("int").alias("pred"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    per_seg = scored.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("pred") * F.col("y")).cast("long").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("y"))).cast("long").alias("fp"),
        F.sum("y").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg"),
    )
    rates = per_seg.select(
        "segment",
        "n",
        F.round(F.col("tp") / F.col("pos").cast("double"), 6).alias("tpr"),
        F.round(F.col("fp") / F.col("neg").cast("double"), 6).alias("fpr"),
        F.round(
            (F.col("tp") + F.col("fp")) / F.col("n").cast("double"), 6
        ).alias("pred_rate"),
    )
    gaps = rates.agg(
        F.round(F.max("tpr") - F.min("tpr"), 6).alias("tpr_gap"),
        F.round(F.max("fpr") - F.min("fpr"), 6).alias("fpr_gap"),
        F.round(F.max("pred_rate") - F.min("pred_rate"), 6).alias(
            "demo_parity_gap"
        ),
    )
    return rates.join(F.broadcast(gaps)).select(
        "segment", "n", "tpr", "fpr", "pred_rate",
        "tpr_gap", "fpr_gap", "demo_parity_gap",
    )


# --- wave 26: price-volume-mix, transition dwell, column statistics ---


@register(
    "q283_price_volume_mix",
    oracle="""
    WITH per AS (
      SELECT l_returnflag AS flag,
             CASE WHEN year(l_shipdate) = 1995 THEN 0 ELSE 1 END AS period,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS rev
      FROM lineitem
      WHERE year(l_shipdate) IN (1995, 1996)
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT flag,
             MAX(CASE WHEN period = 0 THEN qty END) AS q0,
             MAX(CASE WHEN period = 0 THEN rev END) AS r0,
             MAX(CASE WHEN period = 1 THEN qty END) AS q1,
             MAX(CASE WHEN period = 1 THEN rev END) AS r1
      FROM per GROUP BY flag
    )
    SELECT flag, ROUND(r0, 4) AS rev_1995, ROUND(r1, 4) AS rev_1996,
           ROUND(r1 - r0, 4) + 0e0 AS delta,
           ROUND((q1 - q0) * (r0 / q0), 6) + 0e0 AS volume_effect,
           ROUND(q1 * (r1 / q1 - r0 / q0), 6) + 0e0 AS price_effect
    FROM wide
    """,
)
def q283_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE-VOLUME-MIX DECOMPOSITION (the BI bridge chart): the
    1995→1996 revenue delta per returnflag split into a volume effect
    ((Δqty)·p₀) and a price effect (qty₁·Δp) — the additive attribution
    finance runs before believing any growth number (volume_effect +
    price_effect reconstructs delta by construction).

    Scale shape: ONE filtered scan (year predicate pushed) into a
    (flag, period) aggregate; the pivot-to-wide and the decomposition
    are |flags|-row conditional-MAX algebra. Decimal-exact sums;
    effects are IEEE mul/div over hardened doubles (round6)."""
    li = load_table(spark, sf_dir, "lineitem")
    yr = F.year("l_shipdate")
    per = (
        li.where(yr.isin(1995, 1996))
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.when(yr == 1995, 0).otherwise(1).alias("period"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,4)")).cast("double").alias("qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,4)")).cast("double").alias("rev"),
        )
    )
    wide = per.groupBy("flag").agg(
        F.max(F.when(F.col("period") == 0, F.col("qty"))).alias("q0"),
        F.max(F.when(F.col("period") == 0, F.col("rev"))).alias("r0"),
        F.max(F.when(F.col("period") == 1, F.col("qty"))).alias("q1"),
        F.max(F.when(F.col("period") == 1, F.col("rev"))).alias("r1"),
    )
    p0 = F.col("r0") / F.col("q0")
    p1 = F.col("r1") / F.col("q1")
    return wide.select(
        "flag",
        F.round("r0", 4).alias("rev_1995"),
        F.round("r1", 4).alias("rev_1996"),
        round_disp(F.col("r1") - F.col("r0"), 4).alias("delta"),
        round_disp((F.col("q1") - F.col("q0")) * p0, 6).alias("volume_effect"),
        round_disp(F.col("q1") * (p1 - p0), 6).alias("price_effect"),
    )


@register(
    "q284_transition_dwell",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER w AS prev_type,
             LAG(ts) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT prev_type AS from_type, event_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0
                 / COUNT(*), 6) AS mean_dwell_sec
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q284_transition_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROCESS-MINING DWELL TIMES: mean seconds spent on each
    event-type transition (from→to), per the user-ordered event stream
    — the duration half of q165's Markov matrix (q165 answers "where do
    users go next", this answers "how long does each hop take"), the
    bottleneck readout of process mining.

    Scale shape: one per-user lag window (partition-parallel, the
    q26/q266 exchange shape) and one |event_types|²-group aggregate.
    Dwells are exact integer micros summed as BIGINT (bounded: 30-day
    corpus span × row count stays far under 2⁶³), ONE division at the
    end (round6)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    ).where(F.col("prev_type").isNotNull())
    return seq.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(F.unix_micros("ts") - F.unix_micros("prev_ts"))
            / 1000000.0
            / F.count(F.lit(1)),
            6,
        ).alias("mean_dwell_sec"),
    )


@register(
    "q285_column_stats",
    oracle="""
    WITH q AS (
      SELECT CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS ndv,
             CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS nulls,
             printf('%.4f', MIN(l_quantity)) AS min_val,
             printf('%.4f', MAX(l_quantity)) AS max_val,
             ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
             ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
             ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75
      FROM lineitem
    ),
    p AS (
      SELECT CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT) AS ndv,
             CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT) AS nulls,
             printf('%.4f', MIN(l_extendedprice)) AS min_val,
             printf('%.4f', MAX(l_extendedprice)) AS max_val,
             ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
             ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
             ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75
      FROM lineitem
    ),
    f AS (
      SELECT CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS ndv,
             CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT) AS nulls,
             MIN(l_returnflag) AS min_val,
             MAX(l_returnflag) AS max_val,
             CAST(NULL AS DOUBLE) AS p25, CAST(NULL AS DOUBLE) AS p50,
             CAST(NULL AS DOUBLE) AS p75
      FROM lineitem
    )
    SELECT 'l_quantity' AS col, * FROM q
    UNION ALL SELECT 'l_extendedprice', * FROM p
    UNION ALL SELECT 'l_returnflag', * FROM f
    """,
)
def q285_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE COLUMN STATISTICS: exact NDV, null count, min/max,
    and quartiles per column — the CBO statistics build every engine
    runs before cost-based planning (Spark's own ANALYZE TABLE … FOR
    COLUMNS computes approximate NDV; this is the exact, oracle-checked
    form; q107's data-quality report is the profiling sibling, this is
    the optimizer-facing one). Numeric min/max print through
    printf('%.4f') on BOTH engines — the q254 doctrine — so double
    formatting can't diverge.

    Scale shape: ONE aggregate pass per column over the same scan
    (Catalyst shares it), each map-side-combining; the long-format
    union is |columns| rows. Exact NDV is the honest O(distinct) form —
    the sketch alternative is q51's approx_count_distinct, noted not
    hidden."""
    li = load_table(spark, sf_dir, "lineitem")

    def num_stats(col: str) -> DataFrame:
        return li.agg(
            F.lit(col).alias("col"),
            F.countDistinct(col).cast("long").alias("ndv"),
            (F.count(F.lit(1)) - F.count(col)).cast("long").alias("nulls"),
            # NULL-gated printf: Spark's format_string renders SQL NULL as
            # the literal string 'null' (DuckDB printf yields NULL) — an
            # all-null column must report NULL min/max, not 'null'
            F.when(
                F.min(col).isNotNull(), F.format_string("%.4f", F.min(col))
            ).alias("min_val"),
            F.when(
                F.max(col).isNotNull(), F.format_string("%.4f", F.max(col))
            ).alias("max_val"),
            F.round(F.expr(f"percentile({col}, 0.25)"), 6).alias("p25"),
            F.round(F.expr(f"percentile({col}, 0.5)"), 6).alias("p50"),
            F.round(F.expr(f"percentile({col}, 0.75)"), 6).alias("p75"),
        )

    str_stats = li.agg(
        F.lit("l_returnflag").alias("col"),
        F.countDistinct("l_returnflag").cast("long").alias("ndv"),
        (F.count(F.lit(1)) - F.count("l_returnflag")).cast("long").alias("nulls"),
        F.min("l_returnflag").alias("min_val"),
        F.max("l_returnflag").alias("max_val"),
        F.lit(None).cast("double").alias("p25"),
        F.lit(None).cast("double").alias("p50"),
        F.lit(None).cast("double").alias("p75"),
    )
    return (
        num_stats("l_quantity")
        .unionByName(num_stats("l_extendedprice"))
        .unionByName(str_stats)
    )


# --- wave 27: Holt forecast, containment join, ABC-XYZ classification ---


# Holt smoothing constants shared by the forecaster (q286) and its
# backtest (q291): captured BY VALUE into the worker closures (floats
# pickle inline — no module reference reaches the executors), so tuning
# the forecaster automatically retunes what the backtest evaluates.
_HOLT_ALPHA, _HOLT_BETA = 0.3, 0.1


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared |days|-axis collapse for the forecasting family (q286/q291):
    daily order revenue with decimal-exact sums."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
        .cast("double")
        .alias("rev")
    )


@register(
    "q286_holt_forecast",
    oracle="""
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT day, rev,
             list(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS prefix
      FROM daily
    ),
    f AS (
      SELECT day, rev,
             list_reduce(
               list_transform(prefix, x -> [x, CAST(0 AS DOUBLE)]),
               (acc, v) ->
                 [0.3 * v[1] + 0.7 * (acc[1] + acc[2]),
                  0.1 * ((0.3 * v[1] + 0.7 * (acc[1] + acc[2])) - acc[1])
                  + 0.9 * acc[2]]) AS st
      FROM s
    )
    SELECT day, rev, st[1] AS level, st[2] AS trend,
           st[1] + st[2] AS forecast_next
    FROM f
    """,
)
def q286_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT'S LINEAR-TREND SMOOTHING (double exponential smoothing,
    α=0.3 β=0.1) over daily order revenue, with the one-step-ahead
    forecast per day — the trend-aware forecaster the EWMA family (q129/
    q152) can't express (EWMA flattens trends; Holt tracks them),
    completing the time-series set next to q168's seasonal decomposition.

    Oracle (promoted r06, the q129 list_reduce precedent): the
    level/trend recursion is a left fold with a two-field struct
    accumulator — DuckDB replays it bit-identically over the per-day
    revenue prefix (same IEEE ops, same order; the duplicated new-level
    subexpression in the lambda evaluates identically both times). The
    pinned test replays the identical recursion in Python a second way.

    Scale shape: the feed collapses to the |days| calendar axis in one
    groupBy (decimal-exact sums); the sequential recursion runs in ONE
    applyInPandas group over that bounded axis (the Theil-Sen/PAVA
    calendar-axis argument — the sequential part is O(|days|), never
    O(rows)). The UDF is a local closure (worker pickling rule)."""
    daily = _daily_revenue(spark, sf_dir)

    alpha, beta = _HOLT_ALPHA, _HOLT_BETA  # captured by value (pickle-safe)

    def holt(pdf):
        pdf = pdf.sort_values("day").reset_index(drop=True)
        level, trend = None, 0.0
        levels, trends, fcasts = [], [], []
        for rev in pdf["rev"]:
            if level is None:
                level = rev
                trend = 0.0
            else:
                prev_level = level
                level = alpha * rev + (1 - alpha) * (level + trend)
                trend = beta * (level - prev_level) + (1 - beta) * trend
            # raw doubles, no rounding: the recursion is bit-identical to
            # the oracle's list_reduce fold, and rounding is the ONLY step
            # where the engines' conventions (exact-decimal vs scale-based)
            # can disagree on a knife-edge — unrounded is the exact compare
            levels.append(level)
            trends.append(trend)
            fcasts.append(level + trend)
        out = pdf[["day", "rev"]].copy()
        out["level"] = levels
        out["trend"] = trends
        out["forecast_next"] = fcasts
        return out

    return daily.groupBy().applyInPandas(
        holt, "day string, rev double, level double, trend double, forecast_next double"
    )


@register(
    "q287_containment_join",
    oracle="""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text, ' ')), '\\s+', ' ', 'g') AS t
      FROM documents
    ), tok AS (
      SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 8) AS token
      FROM norm, UNNEST(range(1, len(t) - 6)) AS u(i)
      WHERE len(t) >= 8
    ), sz AS (SELECT doc_id, COUNT(*) AS s FROM tok GROUP BY 1),
    inter AS (
      SELECT t1.doc_id AS id_a, t2.doc_id AS id_b, COUNT(*) AS i
      FROM tok t1
      JOIN tok t2 ON t1.token = t2.token AND t1.doc_id <> t2.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(i AS DOUBLE) / s1.s AS containment
    FROM inter
    JOIN sz s1 ON s1.doc_id = id_a
    WHERE CAST(i AS DOUBLE) / s1.s >= 0.85
    """,
)
def q287_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET-CONTAINMENT JOIN (|A∩B|/|A| ≥ 0.85 over character
    8-shingles): finds documents CONTAINED in another — quotes,
    excerpts, template expansions — the asymmetric case q161's Jaccard
    join structurally misses (a 100-token doc inside a 1000-token doc
    has J ≈ 0.1 but containment 1.0; Jaccard's length filter prunes the
    pair before it is ever scored). Ordered pairs, both directions
    emitted when both qualify.

    Scale shape: :func:`functions.dedup.containment_prefix_pairs` —
    one-sided prefix filtering (only the contained side's rarest
    shingles become join keys; the container side is indexed fully,
    with the |B| ≥ t·|A| lower bound at join time), exact
    array_intersect verify on candidates. The containment value is one
    exact IEEE division (identical across engines, no rounding
    needed)."""
    from .functions.dedup import containment_prefix_pairs

    d = load_table(spark, sf_dir, "documents")
    return containment_prefix_pairs(d, "doc_id", "text", threshold=0.85, ngram=8)


@register(
    "q288_abc_xyz",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey AS part,
             SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS rev
      FROM lineitem GROUP BY 1
    ),
    monthly AS (
      SELECT l_partkey AS part,
             year(l_shipdate) * 12 + month(l_shipdate) AS m,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    cv AS (
      SELECT part, COUNT(*) AS nm,
             SUM(qty) / COUNT(*) AS mean_q,
             CASE WHEN COUNT(*) > 1 THEN
               sqrt((SUM(qty * qty) - SUM(qty) * SUM(qty) / COUNT(*))
                    / (COUNT(*) - 1)) / (SUM(qty) / COUNT(*))
             ELSE 0.0 END AS cv
      FROM monthly GROUP BY part
    ),
    ranked AS (
      SELECT part, rev,
             SUM(rev) OVER (ORDER BY rev DESC, part) AS cum,
             SUM(rev) OVER () AS tot
      FROM per_part
    ),
    classed AS (
      SELECT r.part,
             CASE WHEN CAST(CAST(cum AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(tot AS VARCHAR) AS DOUBLE) <= 0.5
                  THEN 'A'
                  WHEN CAST(CAST(cum AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(tot AS VARCHAR) AS DOUBLE) <= 0.8
                  THEN 'B' ELSE 'C' END AS abc,
             CASE WHEN cv.cv < 0.5 THEN 'X'
                  WHEN cv.cv < 1.0 THEN 'Y' ELSE 'Z' END AS xyz
      FROM ranked r JOIN cv ON cv.part = r.part
    )
    SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM classed GROUP BY abc, xyz
    """,
)
def q288_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ INVENTORY CLASSIFICATION: parts classed by cumulative
    revenue contribution (A ≤ 50 %, B ≤ 80 %, C rest — q163's Pareto
    cut made categorical) crossed with demand-variability classes from
    the coefficient of variation of monthly quantity (X < 0.5, Y < 1.0,
    Z rest) — the 9-cell planning matrix supply-chain teams read to
    pick forecasting/stocking policy per cell.

    Scale shape: both classifications collapse to the |parts| axis
    first (one groupBy each, sharing the scan); the cumulative share
    over (rev DESC, part) runs through global_running — |parts| reaches
    10^8 at the 100 TB scale point, too big for the single-reducer
    Window.orderBy it replaced — and the grand total rides along as a
    1-row broadcast scalar instead of a Window.partitionBy() (which
    also funnels every row to one task); decimal-exact revenue sums
    route VARCHAR→DOUBLE in the oracle (the window-decimal harden
    rule). The 9-cell output is a |cells|-group count."""
    from .operators.windows import global_running

    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(28,4)")).alias("rev")
    )
    monthly = li.groupBy(
        F.col("l_partkey").alias("part"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("m"),
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(28,4)")).cast("double").alias("qty")
    )
    nm = F.count(F.lit(1))
    mean_q = F.sum("qty") / nm
    var = (F.sum(F.col("qty") * F.col("qty")) - F.sum("qty") * F.sum("qty") / nm) / (
        nm - 1
    )
    cv = monthly.groupBy("part").agg(
        F.when(nm > 1, F.sqrt(var) / mean_q).otherwise(F.lit(0.0)).alias("cv")
    )
    gr = global_running(per_part, [F.desc("rev"), F.asc("part")], sum_cols=["rev"])
    # grand total from global_running's persisted per-part frame, not a
    # per_part.agg — that plan subtree misses the cache and rescans lineitem
    tot = gr.agg(F.sum("rev").alias("t"))
    ranked = (
        gr
        .crossJoin(F.broadcast(tot))
        .select(
            "part",
            F.col("rev_cum").cast("double").alias("cum"),
            F.col("t").cast("double").alias("tot"),
        )
    )
    share = F.col("cum") / F.col("tot")
    classed = ranked.join(cv, "part").select(
        F.when(share <= 0.5, "A").when(share <= 0.8, "B").otherwise("C").alias("abc"),
        F.when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return classed.groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )


# --- wave 28: kNN classifier eval, interval union, forecast backtest ---


@register(
    "q289_knn_classifier",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, label AS true_label
      FROM embeddings WHERE vec_id >= 480 AND vec_id < 500
    ),
    scored AS (
      SELECT q.query_id, q.true_label, e.vec_id, e.label,
             ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6)
               AS score
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id AND e.vec_id < 480
    ),
    topk AS (
      SELECT * FROM (
        SELECT query_id, true_label, vec_id, label, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id) AS rnk
        FROM scored) t
      WHERE rnk <= 10
    ),
    votes AS (
      SELECT query_id, true_label, label,
             CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM topk GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT query_id, true_label,
             CAST(arg_max(label, n_votes * 1000 - label) AS INT) AS pred_label,
             CAST(MAX(n_votes) AS BIGINT) AS top_votes
      FROM votes GROUP BY 1, 2
    )
    SELECT query_id, true_label, pred_label, top_votes,
           CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS correct
    FROM pred
    """,
)
def q289_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN CLASSIFIER (k=10, cosine, majority vote with deterministic
    smallest-label tie-break) over a train/test embedding split —
    classification-by-retrieval, the lazy-learning baseline next to the
    parametric family (logistic q44, Naive Bayes q248); the per-query
    `correct` column aggregates to the accuracy readout.

    Scale shape: the test-query set broadcasts (bounded-query contract);
    scoring and ranking are the q41/q281 shapes; the vote is a
    ≤ k·|labels|-row groupBy and the argmax uses max_by on the
    (votes, −label) pair — the tie-break is exact integer comparison on
    both engines."""
    from pyspark.sql import Window

    from .functions.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings")
    # both split bounds explicit: the query set is a FIXED id window, not
    # an open tail — `>= 480` alone grows with the corpus (at the sf1
    # upscale fixture every key-shifted copy passed it: ~18k broadcast
    # queries, 155 s) and silently breaks the bounded-query contract
    q = e.where(F.col("vec_id").between(480, 499)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    )
    train = e.where(F.col("vec_id") < 480)
    scored = (
        train.join(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("score"),
        )
    )
    topk = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("score"), "vec_id")
        ),
    ).where(F.col("rnk") <= 10)
    votes = topk.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    # vote order encoded as one integer key: more votes win, ties go to
    # the SMALLER label (votes·1000 − label) — DuckDB's arg_max can't
    # order by a struct, and the integer key is exact on both engines
    pred = votes.groupBy("query_id", "true_label").agg(
        F.max_by("label", F.col("n_votes") * 1000 - F.col("label"))
        .cast("int")
        .alias("pred_label"),
        F.max("n_votes").cast("long").alias("top_votes"),
    )
    return pred.select(
        "query_id",
        "true_label",
        "pred_label",
        "top_votes",
        (F.col("pred_label") == F.col("true_label")).cast("int").alias("correct"),
    )


@register(
    "q290_interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, ts AS s, ts + INTERVAL 15 MINUTE AS e FROM events
    ),
    marks AS (
      SELECT user_id, s AS t, 1 AS d FROM iv
      UNION ALL SELECT user_id, e, -1 FROM iv
    ),
    swept AS (
      SELECT user_id, t, d,
             SUM(d) OVER (PARTITION BY user_id ORDER BY t, d DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS depth,
             LEAD(t) OVER (PARTITION BY user_id ORDER BY t, d DESC) AS nxt
      FROM marks
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN depth > 0
                         THEN epoch_us(nxt) - epoch_us(t) ELSE 0 END)
                // 1000000 AS BIGINT) AS covered_sec
    FROM swept WHERE nxt IS NOT NULL
    GROUP BY user_id
    """,
)
def q290_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-UNION COVERAGE (sweep line): total seconds each user was
    "active" under overlapping 15-minute activity intervals — the
    measure-theoretic union length that naive SUM(duration)
    double-counts on overlaps; the coverage sibling of q139's
    max-concurrency sweep (same ±1 mark trick, different aggregate:
    q139 takes MAX depth, this integrates time-at-depth>0).

    Scale shape: 2 marks per event, one per-user window (partition-
    parallel, (t, d DESC) total order so a closing and opening mark at
    the same instant keeps the segment closed consistently on both
    engines), one aggregate. Durations are exact integer micros; the
    integer-division to seconds is exact on both engines."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    iv = e.select("user_id", F.col("ts").alias("s"),
                  (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("ev"))
    marks = iv.select("user_id", F.col("s").alias("t"), F.lit(1).alias("d")).unionAll(
        iv.select("user_id", F.col("ev").alias("t"), F.lit(-1).alias("d"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("t"), F.desc("d"))
    swept = marks.select(
        "user_id",
        "t",
        "d",
        F.sum("d")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("depth"),
        F.lead("t").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    return swept.groupBy("user_id").agg(
        F.expr(
            "CAST(SUM(CASE WHEN depth > 0 THEN unix_micros(nxt) - unix_micros(t)"
            " ELSE 0 END) div 1000000 AS BIGINT)"
        ).alias("covered_sec")
    )


@register(
    "q291_forecast_backtest",
    oracle="""
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT day, rev,
             ROW_NUMBER() OVER (ORDER BY day) AS rn,
             lag(rev) OVER (ORDER BY day) AS prev,
             list(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS pprev
      FROM daily
    ),
    errs AS (
      SELECT rn,
             rev - (st[1] + st[2]) AS he,
             rev - ew AS ee,
             rev - prev AS ne
      FROM (
        SELECT rn, rev, prev,
               list_reduce(
                 list_transform(pprev, x -> [x, CAST(0 AS DOUBLE)]),
                 (acc, v) ->
                   [0.3 * v[1] + 0.7 * (acc[1] + acc[2]),
                    0.1 * ((0.3 * v[1] + 0.7 * (acc[1] + acc[2])) - acc[1])
                    + 0.9 * acc[2]]) AS st,
               list_reduce(pprev, (acc, v) -> 0.3 * v + 0.7 * acc) AS ew
        FROM s WHERE rn >= 2
      )
    ),
    agg AS (
      SELECT list(he ORDER BY rn) AS lh, list(ee ORDER BY rn) AS le,
             list(ne ORDER BY rn) AS ln, COUNT(*) AS n
      FROM errs
    ),
    m AS (
      SELECT 'holt' AS method, lh AS l, n FROM agg
      UNION ALL SELECT 'ewma', le, n FROM agg
      UNION ALL SELECT 'naive', ln, n FROM agg
    )
    SELECT method, n AS n_evaluated,
           CASE WHEN n = 0 THEN NULL ELSE
             list_reduce(list_transform(l, x -> abs(x)),
                         (a, b) -> a + b) / n END AS mae,
           CASE WHEN n = 0 THEN NULL ELSE
             sqrt(list_reduce(list_transform(l, x -> x * x),
                              (a, b) -> a + b) / n) END AS rmse
    FROM m
    WHERE (SELECT COUNT(*) FROM daily) > 0
    """,
)
def q291_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING-ORIGIN FORECAST BACKTEST: one-step-ahead MAE of Holt
    (q286's α=0.3 β=0.1), single EWMA (α=0.3) and the naive
    last-value forecaster over the daily revenue series — the honest
    model-selection loop (never evaluate a forecaster in-sample; each
    day is predicted using only prior days). Returns one row per
    method with MAE/RMSE and n_evaluated.

    Oracle (promoted r06): all three forecasters are per-day prefix
    folds — the Holt struct fold and EWMA scalar fold replay in DuckDB
    ``list_reduce`` exactly as in q286/q129, and the MAE/RMSE
    accumulations fold the error lists in day order so even the
    reduction order matches Python's sequential sums. The pinned test
    replays all three recursions in Python a second way.

    Scale shape: the feed collapses to the |days| calendar axis in one
    decimal-exact groupBy; the three O(|days|) recursions share ONE
    applyInPandas group over the bounded axis (q286's calendar-axis
    argument). The UDF is a local closure (worker pickling rule)."""
    daily = _daily_revenue(spark, sf_dir)

    alpha, beta = _HOLT_ALPHA, _HOLT_BETA  # captured by value (pickle-safe)

    def backtest(pdf):
        import pandas as pd

        xs = pdf.sort_values("day")["rev"].tolist()
        holt_err, ewma_err, naive_err = [], [], []
        level, trend, ew = None, 0.0, None
        for i, x in enumerate(xs):
            if level is not None:
                holt_err.append(x - (level + trend))
                ewma_err.append(x - ew)
                naive_err.append(x - xs[i - 1])
            if level is None:
                level, trend, ew = x, 0.0, x
            else:
                prev = level
                level = alpha * x + (1 - alpha) * (level + trend)
                trend = beta * (level - prev) + (1 - beta) * trend
                ew = alpha * x + (1 - alpha) * ew
        rows = []
        for name, errs in (
            ("holt", holt_err),
            ("ewma", ewma_err),
            ("naive", naive_err),
        ):
            n = len(errs)
            if n == 0:
                # a sub-2-day series yields no one-step-ahead errors:
                # report n_evaluated=0 instead of dividing by zero
                rows.append((name, 0, None, None))
                continue
            # raw doubles (bit-identical to the oracle's in-order folds;
            # see q286's rounding note)
            mae = sum(abs(e) for e in errs) / n
            rmse = (sum(e * e for e in errs) / n) ** 0.5
            rows.append((name, n, mae, rmse))
        return pd.DataFrame(
            rows, columns=["method", "n_evaluated", "mae", "rmse"]
        )

    return daily.groupBy().applyInPandas(
        backtest, "method string, n_evaluated long, mae double, rmse double"
    )


# --- wave 29: log-rank test, subsample bootstrap CI ---


@register(
    "q292_logrank_test",
    oracle="""
    WITH users AS (
      SELECT user_id,
             DATE_DIFF('day', MIN(CAST(ts AS DATE)),
                       COALESCE(MIN(CASE WHEN event_type = 'purchase'
                                         THEN CAST(ts AS DATE) END),
                                MAX(CAST(ts AS DATE)))) AS duration,
             CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                                THEN CAST(ts AS DATE) END) IS NOT NULL
                  THEN 1 ELSE 0 END AS ev,
             CAST(user_id % 2 AS INT) AS g
      FROM events GROUP BY user_id
    ),
    by_t AS (
      SELECT duration AS t,
             CAST(SUM(ev) AS BIGINT) AS d,
             CAST(SUM(g * ev) AS BIGINT) AS d1,
             CAST(COUNT(*) AS BIGINT) AS obs,
             CAST(SUM(g) AS BIGINT) AS obs1
      FROM users GROUP BY 1
    ),
    risk AS (
      SELECT t, d, d1,
             CAST(SUM(obs) OVER (ORDER BY t DESC) AS BIGINT) AS n,
             CAST(SUM(obs1) OVER (ORDER BY t DESC) AS BIGINT) AS n1
      FROM by_t
    ),
    terms AS (
      SELECT d1,
             CAST(ROUND(d * n1 / CAST(n AS DOUBLE), 9) AS DECIMAL(16,9)) AS e1,
             CAST(ROUND(CASE WHEN n > 1 THEN
                    d * (n1 / CAST(n AS DOUBLE))
                      * (1.0 - n1 / CAST(n AS DOUBLE))
                      * (n - d) / (n - 1.0)
                  ELSE 0.0 END, 9) AS DECIMAL(16,9)) AS v1
      FROM risk WHERE d > 0
    ),
    tot AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             CAST(CAST(SUM(e1) AS VARCHAR) AS DOUBLE) AS e1,
             CAST(CAST(SUM(v1) AS VARCHAR) AS DOUBLE) AS v1
      FROM terms
    )
    SELECT o1 AS observed_1, ROUND(e1, 6) AS expected_1,
           ROUND(v1, 6) AS variance_1,
           ROUND((o1 - e1) / sqrt(v1), 6) AS z,
           ROUND((o1 - e1) * (o1 - e1) / v1, 6) AS chi2
    FROM tot
    """,
)
def q292_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK TEST (Mantel-Cox) on TIME TO FIRST PURCHASE, arms split
    by user-id parity (an A/A placebo split — the statistic's JOB on
    this corpus is to come back near zero, the q254/q276 audit
    doctrine) — the hypothesis test that completes q249's
    Kaplan-Meier curve (KM describes each arm; log-rank says whether
    the arms differ). Duration runs from a user's first event to their
    first purchase; users who never purchase are right-censored at
    their last observed day. The statistic is the standard
    hypergeometric O−E/V accumulation over distinct event times.

    Exactness: per-time E and V terms are single float expressions over
    exact integer at-risk counts, quantized to DECIMAL(16,9) (the q170
    convention) so their sums are order-independent; the z and χ²
    statistics are one division each (round6). At-risk counts come from
    a DESCENDING cumulative window over the |distinct durations| axis —
    calendar-bounded, the q249 posture.

    Scale shape: one per-user collapse, one |durations|-group count,
    one axis window, then 1-row algebra."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    first_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.to_date("ts"))
    )
    users = (
        e.groupBy("user_id")
        .agg(
            F.datediff(
                F.coalesce(first_purchase, F.max(F.to_date("ts"))),
                F.min(F.to_date("ts")),
            ).alias("duration"),
            first_purchase.isNotNull().cast("int").alias("ev"),
        )
        .select(
            "duration", "ev", (F.col("user_id") % 2).cast("int").alias("g")
        )
    )
    by_t = users.groupBy(F.col("duration").alias("t")).agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.col("g") * F.col("ev")).cast("long").alias("d1"),
        F.count(F.lit(1)).cast("long").alias("obs"),
        F.sum("g").cast("long").alias("obs1"),
    )
    w = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = by_t.select(
        "t",
        "d",
        "d1",
        F.sum("obs").over(w).cast("long").alias("n"),
        F.sum("obs1").over(w).cast("long").alias("n1"),
    ).where(F.col("d") > 0)
    nf = F.col("n").cast("double")
    p1 = F.col("n1") / nf
    terms = risk.select(
        "d1",
        F.round(F.col("d") * F.col("n1") / nf, 9).cast("decimal(16,9)").alias("e1"),
        F.round(
            F.when(
                F.col("n") > 1,
                F.col("d") * p1 * (1.0 - p1) * (F.col("n") - F.col("d"))
                / (F.col("n") - 1.0),
            ).otherwise(0.0),
            9,
        )
        .cast("decimal(16,9)")
        .alias("v1"),
    )
    tot = terms.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("e1").cast("double").alias("e1"),
        F.sum("v1").cast("double").alias("v1"),
    )
    return tot.select(
        F.col("o1").alias("observed_1"),
        F.round("e1", 6).alias("expected_1"),
        F.round("v1", 6).alias("variance_1"),
        F.round((F.col("o1") - F.col("e1")) / F.sqrt("v1"), 6).alias("z"),
        F.round(
            (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("v1"),
            6,
        ).alias("chi2"),
    )


@register(
    "q293_bootstrap_ci",
    oracle="""
    WITH reps AS (SELECT unnest(generate_series(0, 49)) AS b),
    sampled AS (
      SELECT b, o_totalprice
      FROM orders, reps
      WHERE ((o_orderkey % 1000000) * 2654435761 + b * 40503 + 11) % 1000
            < 500
    ),
    means AS (
      SELECT b,
             ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4)))
                             AS VARCHAR) AS DOUBLE) / COUNT(*), 9) AS m
      FROM sampled GROUP BY b
    ),
    point AS (
      SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*) AS mean_full
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
           ROUND(MAX(mean_full), 6) AS mean_full,
           ROUND(quantile_cont(m, 0.05), 6) AS ci_lo,
           ROUND(quantile_cont(m, 0.95), 6) AS ci_hi
    FROM means, point
    """,
)
def q293_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSAMPLE BOOTSTRAP CI (50 deterministic half-sample replicates):
    a 90 % confidence interval for mean order value from the replicate-
    mean distribution — distribution-free uncertainty for ANY plug-in
    statistic, the resampling sibling of q256's conformal interval
    (conformal wraps predictions; this wraps estimates). Replicate
    membership is the q272 LCG doctrine — hash(row key, replicate) —
    so every engine, retry, and partitioning draws the SAME subsamples.

    Scale shape: the 50× replicate expansion feeds a 50-group
    map-side-combining aggregate (decimal-exact sums — each row is
    touched 50× but never shuffled raw; at 100 TB drop to Poisson
    weights in ONE pass by summing w·x per replicate, noted not
    hidden); the CI is an exact percentile over 50 replicate means,
    each round9'd so interpolation sees identical doubles."""
    o = load_table(spark, sf_dir, "orders")
    reps = o.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), F.lit(49))).alias("b"),
    ).where(
        ((F.col("o_orderkey") % 1000000) * 2654435761 + F.col("b") * 40503 + 11)
        % 1000
        < 500
    )
    means = reps.groupBy("b").agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(28,4)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("m")
    )
    point = o.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(28,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_full")
    )
    return means.join(F.broadcast(point)).agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.round(F.max("mean_full"), 6).alias("mean_full"),
        F.round(F.expr("percentile(m, 0.05)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.95)"), 6).alias("ci_hi"),
    )


# --- wave 30: corrupt-record ingestion, wide-table build ---


@register(
    "q294_corrupt_csv_ingest",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
             AS sum_price,
           CAST(3 AS BIGINT) AS n_corrupt_total
    FROM orders WHERE o_totalprice > 150000
    GROUP BY o_orderstatus
    """,
)
def q294_corrupt_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERROR-TOLERANT CSV INGESTION (PERMISSIVE mode +
    ``columnNameOfCorruptRecord``): a CSV export polluted with three
    malformed lines is read back with an explicit schema; corrupt rows
    land in the quarantine column instead of failing the job or
    silently coercing, good rows aggregate normally, and the corrupt
    count is reported alongside — the ingestion posture every
    production pipeline needs (a 100 TB load WILL contain garbage
    lines; FAILFAST aborts hour-10, silent DROPMALFORMED lies). The
    oracle aggregates the ORIGINAL table plus the known corrupt count,
    so a row lost either way breaks the hash.

    Scale shape: CSV write/read are per-file parallel; the corrupt
    filter and aggregate are ordinary pushdown + two-phase groupBy.
    The three bad lines are written as a separate single file in the
    same directory (deterministic content, no RNG)."""
    import os

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    out_dir = _scratch_dir(spark, "csv_corrupt") + "/orders_csv"
    (
        o.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.option("header", "false")
        .mode("overwrite")
        .csv(out_dir)
    )
    # inject three deterministic malformed lines as one extra part file:
    # wrong arity, non-numeric price, and a bare fragment
    with open(os.path.join(out_dir, "part-corrupt.csv"), "w") as f:
        f.write("9999999,X\nBAD,F,not_a_number\ngarbage-line\n")
    # the append happened OUTSIDE Spark: drop the session's cached file
    # listing / cached plans for this path, or a REPEAT invocation in one
    # session reads a stale 4-file listing and quarantines 0 rows (the
    # write's own overwrite-refresh ran BEFORE the append)
    spark.catalog.refreshByPath(out_dir)
    back = (
        spark.read.schema(
            "o_orderkey long, o_orderstatus string, o_totalprice double, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(out_dir)
    )
    back = back.cache()
    corrupt = back.where(F.col("_bad").isNotNull()).count()
    good = back.where(F.col("_bad").isNull())
    return good.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_good"),
        F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
        .cast("double")
        .alias("sum_price"),
        F.lit(corrupt).cast("long").alias("n_corrupt_total"),
    )


@register(
    "q295_wide_table_build",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             SUM(CAST(l_extendedprice AS DECIMAL(28,4))
                 * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS net
      FROM lineitem GROUP BY 1
    )
    SELECT r_name AS region, n_name AS nation, c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(n_lines) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(net) AS VARCHAR) AS DOUBLE) AS net_revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    JOIN li ON li.l_orderkey = o_orderkey
    GROUP BY 1, 2, 3
    """,
)
def q295_wide_table_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-BIG-TABLE BUILD (semantic-layer denormalization): the full
    dimension chain region→nation→customer decorated onto orders with
    per-order lineitem rollups pre-joined, summarized per
    (region, nation, segment) — the wide-table materialization every
    BI/feature layer runs so downstream queries stop paying the join
    chain (the ELT counterpart of the TPC-H join shapes q12/q153).

    Scale shape: the lineitem rollup collapses to |orders| rows BEFORE
    joining (never a fact×fact row explosion); all three dimension
    joins dispatched by size (nation/region hinted, customer unhinted);
    the big shuffle join is orders⋈rollup on
    the order key, then one map-side-combining aggregate. Net revenue
    stays decimal-exact until the hardened final cast."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    li = load_table(spark, sf_dir, "lineitem")
    rollup = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(28,4)")
            * (1 - F.col("l_discount").cast("decimal(18,4)"))
        ).alias("net"),
    )
    wide = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .join(rollup, F.col("o_orderkey") == rollup.l_orderkey)
    )
    return wide.groupBy(
        F.col("r_name").alias("region"),
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("n_lines").cast("long").alias("n_lines"),
        F.sum("net").cast("double").alias("net_revenue"),
    )


# --- wave 31: Fellegi-Sunter linkage scoring, haversine 1-NN ---


@register(
    "q296_fellegi_sunter",
    oracle="""
    WITH recs AS (
      SELECT c_custkey AS id, c_nationkey AS blk, c_mktsegment AS seg,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_b,
             substr(c_name, length(c_name), 1) AS last_d
      FROM customer
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM recs),
    u_seg AS (
      SELECT SUM(c * c) / (MAX(nn) * CAST(MAX(nn) AS DOUBLE)) AS u
      FROM (SELECT COUNT(*) AS c FROM recs GROUP BY seg), n
    ),
    u_bal AS (
      SELECT SUM(c * c) / (MAX(nn) * CAST(MAX(nn) AS DOUBLE)) AS u
      FROM (SELECT COUNT(*) AS c FROM recs GROUP BY bal_b), n
    ),
    u_dig AS (
      SELECT SUM(c * c) / (MAX(nn) * CAST(MAX(nn) AS DOUBLE)) AS u
      FROM (SELECT COUNT(*) AS c FROM recs GROUP BY last_d), n
    ),
    pairs AS (
      SELECT (a.seg = b.seg)::INT AS a_seg,
             (a.bal_b = b.bal_b)::INT AS a_bal,
             (a.last_d = b.last_d)::INT AS a_dig
      FROM recs a JOIN recs b ON a.blk = b.blk AND a.id < b.id
    )
    SELECT a_seg, a_bal, a_dig, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(
             (CASE WHEN a_seg = 1 THEN LN(0.9 / u_seg.u)
                   ELSE LN(0.1 / (1.0 - u_seg.u)) END)
           + (CASE WHEN a_bal = 1 THEN LN(0.9 / u_bal.u)
                   ELSE LN(0.1 / (1.0 - u_bal.u)) END)
           + (CASE WHEN a_dig = 1 THEN LN(0.9 / u_dig.u)
                   ELSE LN(0.1 / (1.0 - u_dig.u)) END), 6) + 0e0 AS score
    FROM pairs, u_seg, u_bal, u_dig
    GROUP BY a_seg, a_bal, a_dig, u_seg.u, u_bal.u, u_dig.u
    """,
)
def q296_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FELLEGI-SUNTER RECORD-LINKAGE SCORING (the probabilistic-matching
    decision model, 1969): candidate pairs from nation blocking are
    scored by per-field agreement log-likelihood weights — agreement on
    field f adds ln(m/u_f), disagreement ln((1−m)/(1−u_f)) — with m
    pinned at the classic 0.9 and each u_f (chance-agreement rate)
    ESTIMATED FROM THE DATA as Σ count(v)²/n². Completes the ER family:
    q215 blocks and verifies by edit distance; this is the principled
    scorer a merge step thresholds. Output is one row per agreement
    pattern (score is constant within a pattern) — 8 rows, not 44k.

    Scale shape: u-rates reduce to |distinct values| per field and
    broadcast as 1-row frames; pair generation is the blocked self-join
    (bounded per block, the q215 skew control); the pattern aggregate
    is 8 groups. ln at query time follows the q255 round6 convention —
    one rounding on the SUMMED score."""
    c = load_table(spark, sf_dir, "customer")
    # lazy persist: recs feeds five branches (three u-rate aggregates,
    # the count, both self-join sides) — the prefix-pairs doctrine
    recs = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("blk"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_b"),
        F.substring(F.col("c_name"), -1, 1).alias("last_d"),
    ).persist()
    n = recs.agg(F.count(F.lit(1)).cast("long").alias("nn"))

    def u_rate(col: str, alias: str) -> DataFrame:
        counts = recs.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        return counts.join(F.broadcast(n)).agg(
            (
                F.sum(F.col("c") * F.col("c"))
                / (F.max("nn") * F.max("nn").cast("double"))
            ).alias(alias)
        )

    b = recs.select(
        F.col("blk"),
        F.col("id").alias("id_b"),
        F.col("seg").alias("seg_b"),
        F.col("bal_b").alias("bal_bb"),
        F.col("last_d").alias("last_db"),
    )
    pairs = (
        recs.join(b, "blk")
        .where(F.col("id") < F.col("id_b"))
        .select(
            (F.col("seg") == F.col("seg_b")).cast("int").alias("a_seg"),
            (F.col("bal_b") == F.col("bal_bb")).cast("int").alias("a_bal"),
            (F.col("last_d") == F.col("last_db")).cast("int").alias("a_dig"),
        )
    )
    m = F.lit(0.9)

    def w(agree: str, u: str):
        return F.when(
            F.col(agree) == 1, F.log(m / F.col(u))
        ).otherwise(F.log((1 - m) / (1 - F.col(u))))

    return (
        pairs.groupBy("a_seg", "a_bal", "a_dig")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .join(F.broadcast(u_rate("seg", "u_seg")))
        .join(F.broadcast(u_rate("bal_b", "u_bal")))
        .join(F.broadcast(u_rate("last_d", "u_dig")))
        .select(
            "a_seg",
            "a_bal",
            "a_dig",
            "n_pairs",
            round_disp(
                w("a_seg", "u_seg") + w("a_bal", "u_bal") + w("a_dig", "u_dig"),
                6,
            ).alias("score"),
        )
    )


@register(
    "q297_haversine_knn",
    oracle="""
    WITH cust AS (
      SELECT c_custkey,
             -5.0 + (c_custkey % 1000) * 0.01 AS lon,
             41.0 + ((c_custkey * 7) % 1000) * 0.009 AS lat
      FROM customer
    ),
    supp AS (
      SELECT s_suppkey,
             -5.0 + (s_suppkey * 13 % 1000) * 0.01 AS lon,
             41.0 + (s_suppkey * 31 % 1000) * 0.009 AS lat
      FROM supplier
    ),
    scored AS (
      SELECT c_custkey, s_suppkey,
             ROUND(2 * 6371.0088 * asin(sqrt(
               pow(sin(radians(s.lat - c.lat) / 2), 2)
               + cos(radians(c.lat)) * cos(radians(s.lat))
                 * pow(sin(radians(s.lon - c.lon) / 2), 2))), 6) AS d_km
      FROM cust c CROSS JOIN supp s
    ),
    ranked AS (
      SELECT c_custkey, s_suppkey, d_km,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY d_km, s_suppkey) AS rn
      FROM scored
    )
    SELECT c_custkey, s_suppkey AS nearest_supp, d_km
    FROM ranked WHERE rn = 1
    """,
)
def q297_haversine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVERSINE 1-NN on the SPHERE: each customer's nearest supplier
    by great-circle distance over synthetic WGS84 coordinates — the
    spherical closer to the geo family (q45 projects Lambert-93→WGS84;
    q16 solves planar 1-NN; this is the geodesic metric those
    coordinates actually live in). Distances round6 BEFORE the argmin
    and ties break on supplier id — the q41 doctrine that keeps libm
    trig ULP differences from flipping the winner between engines.

    Scale shape: size-based dispatch via
    :func:`operators.joins.haversine_knn_1nn_auto` — the q16 discipline
    applied to the spherical metric. Below the work threshold the
    supplier side broadcasts (the dimension-sized regime); above it the
    EXACT grid path buckets by cell and joins neighbor rings (at the sf1
    probe the broadcast cross was 150k×10k = 1.5e9 scored rows, 283 s —
    the auto grid path is the plan you'd want at planet scale, and its
    rounded-global-ordering guarantee keeps the result identical)."""
    from .operators.joins import haversine_knn_1nn_auto

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (-5.0 + (F.col("c_custkey") % 1000) * 0.01).alias("clon"),
        (41.0 + ((F.col("c_custkey") * 7) % 1000) * 0.009).alias("clat"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (-5.0 + (F.col("s_suppkey") * 13 % 1000) * 0.01).alias("slon"),
        (41.0 + (F.col("s_suppkey") * 31 % 1000) * 0.009).alias("slat"),
    )
    out = haversine_knn_1nn_auto(
        c,
        s,
        probe_id="c_custkey",
        probe_latlon=("clat", "clon"),
        known_latlon=("slat", "slon"),
        payload_cols=["s_suppkey"],
        dist_col="d_km",
        tiebreak="s_suppkey",
        round_to=6,
    )
    return out.select(
        "c_custkey", F.col("s_suppkey").alias("nearest_supp"), "d_km"
    )


# --- wave 32: energy distance, greedy set-cover selection ---


@register(
    "q298_energy_distance",
    oracle="""
    WITH x AS (
      SELECT l_quantity AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
    ),
    y AS (
      SELECT l_quantity AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1
    ),
    nx AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM x),
    ny AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM y),
    exy AS (
      SELECT CAST(SUM(x.c * y.c * CAST(ABS(x.v - y.v) AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS s
      FROM x CROSS JOIN y
    ),
    exx AS (
      SELECT CAST(SUM(a.c * b.c * CAST(ABS(a.v - b.v) AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS s
      FROM x a CROSS JOIN x b
    ),
    eyy AS (
      SELECT CAST(SUM(a.c * b.c * CAST(ABS(a.v - b.v) AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS s
      FROM y a CROSS JOIN y b
    )
    SELECT nx.n AS n_x, ny.n AS n_y,
           ROUND(2.0 * CAST(CAST(exy.s AS VARCHAR) AS DOUBLE) / (nx.n * CAST(ny.n AS DOUBLE))
                 - CAST(CAST(exx.s AS VARCHAR) AS DOUBLE) / (nx.n * CAST(nx.n AS DOUBLE))
                 - CAST(CAST(eyy.s AS VARCHAR) AS DOUBLE) / (ny.n * CAST(ny.n AS DOUBLE)),
                 6) AS energy_distance
    FROM nx, ny, exy, exx, eyy
    """,
)
def q298_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENERGY DISTANCE two-sample statistic (Székely-Rizzo):
    2E|X−Y| − E|X−X'| − E|Y−Y'| between returned and non-returned
    quantity distributions — sensitive to ANY distributional difference
    (location, scale, shape), where KS (q233) keys on the max CDF gap
    and Mann-Whitney (q234) on stochastic ordering; zero iff the
    distributions coincide.

    Exactness: both samples collapse to DISTINCT VALUES + counts first,
    so each pairwise expectation is a |distinct|² cross join of count
    products times exact |u−v| decimals — DECIMAL(38,2)-exact sums,
    three hardened divisions, one round6. No float enters before the
    final expression.

    Scale shape: the cross joins are value-resolution bounded
    (|distinct quantity|² = 2500 cells), never row-level — the same
    collapse-first doctrine as q233/q260; counts themselves come from
    two pushed-filter aggregates over one scan."""
    li = load_table(spark, sf_dir, "lineitem")

    def dist(flag: str) -> DataFrame:
        return (
            li.where(F.col("l_returnflag") == flag)
            .groupBy(F.col("l_quantity").alias("v"))
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    x, y = dist("R"), dist("N")

    def pair_sum(a: DataFrame, b: DataFrame) -> DataFrame:
        bb = b.select(F.col("v").alias("v2"), F.col("c").alias("c2"))
        return a.join(F.broadcast(bb)).agg(
            F.sum(
                F.col("c")
                * F.col("c2")
                * F.abs(F.col("v") - F.col("v2")).cast("decimal(18,2)")
            )
            .cast("decimal(38,2)")
            .alias("s")
        )

    nx = x.agg(F.sum("c").cast("long").alias("n_x"))
    ny = y.agg(F.sum("c").cast("long").alias("n_y"))
    exy = pair_sum(x, y).select(F.col("s").alias("sxy"))
    exx = pair_sum(x, x).select(F.col("s").alias("sxx"))
    eyy = pair_sum(y, y).select(F.col("s").alias("syy"))
    return (
        nx.join(F.broadcast(ny))
        .join(F.broadcast(exy))
        .join(F.broadcast(exx))
        .join(F.broadcast(eyy))
        .select(
            "n_x",
            "n_y",
            F.round(
                2.0 * F.col("sxy").cast("double")
                / (F.col("n_x") * F.col("n_y").cast("double"))
                - F.col("sxx").cast("double")
                / (F.col("n_x") * F.col("n_x").cast("double"))
                - F.col("syy").cast("double")
                / (F.col("n_y") * F.col("n_y").cast("double")),
                6,
            ).alias("energy_distance"),
        )
    )


def _setcover_oracle(rounds: int) -> str:
    """Chained-CTE greedy set cover (q299): the state is pure sets and
    integer counts — each round's argmax (count desc, doc_id asc) and
    covered-set growth replay exactly; remaining{j+1} = remaining{j}
    minus the picked doc's still-uncovered bigrams, which equals the
    accumulate-covered-list formulation the Spark loop uses."""
    ctes = [
        "r1 AS MATERIALIZED ("
        "SELECT DISTINCT doc_id, w FROM ("
        "SELECT doc_id, unnest(list_transform(range(1, len(ws)), "
        "i -> ws[i] || ' ' || ws[i + 1])) AS w "
        "FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws"
        " FROM documents)) "
        "WHERE w NOT LIKE ' %' AND w NOT LIKE '% ' AND w <> '')",
    ]
    for j in range(1, rounds + 1):
        ctes.append(
            f"g{j} AS MATERIALIZED (SELECT doc_id, COUNT(*) AS nt "
            f"FROM r{j} GROUP BY 1)"
        )
        ctes.append(
            f"p{j} AS MATERIALIZED (SELECT doc_id, nt FROM g{j} "
            f"ORDER BY nt DESC, doc_id LIMIT 1)"
        )
        if j < rounds:
            ctes.append(
                f"r{j + 1} AS MATERIALIZED (SELECT t.doc_id, t.w FROM r{j} t "
                f"WHERE NOT EXISTS (SELECT 1 FROM r{j} t2, p{j} "
                f"WHERE t2.doc_id = p{j}.doc_id AND t2.w = t.w))"
            )
    rows = " UNION ALL ".join(
        f"SELECT {j} AS pick_order, doc_id, nt AS new_tokens FROM p{j}"
        for j in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT pick_order, doc_id, new_tokens, "
        f"CAST(SUM(new_tokens) OVER (ORDER BY pick_order) AS BIGINT) "
        f"AS covered_vocab FROM ({rows})"
    )


@register("q299_setcover_selection", oracle=_setcover_oracle(10))
def q299_setcover_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY SET-COVER CORPUS SELECTION: pick 10 documents that
    maximize cumulative vocabulary coverage (the 1−1/e-approximate
    greedy for submodular coverage) — the curation primitive for
    "smallest probe set that exercises the most vocabulary" (eval-set
    construction, annotation budgeting), next to q238's k-center
    (geometry coverage) and q191's per-domain quality pick.

    Rows-only by nature (iterative greedy; no SQL twin) — the pinned
    test replays the identical greedy in Python, including the
    smallest-doc-id tie-break.

    Scale shape: one tokenize pass builds the (doc, token) stream; each
    of the 10 rounds is an anti join against the covered-token set
    (broadcast — covered vocabulary is |vocab|-bounded) + a per-doc
    count + a 1-row max_by collect. Driver traffic is 1 row per round
    (the pagerank/k-center bounded-collect contract)."""
    d = load_table(spark, sf_dir, "documents")
    # coverage unit = word BIGRAMS: this corpus's ~31-word unigram vocab
    # saturates on one document; the ~|V|² bigram space differentiates
    # documents (same reason q161 shingles instead of tokenizing words)
    words = F.split(F.lower(F.col("text")), " ")
    bigrams = F.zip_with(
        F.slice(words, 1, F.size(words) - 1),
        F.slice(words, F.lit(2), F.size(words) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # a bigram with an empty side (double/leading/trailing space in the
    # raw text) renders as ' x' / 'x ' / ' ' — excluded, matching the
    # pinned test's `if a and b`; single words can't contain spaces, so
    # the edge test is exact
    tok = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(bigrams)).alias("w"),
        )
        .where(
            (~F.col("w").startswith(" ")) & (~F.col("w").endswith(" "))
            & (F.col("w") != "")
        )
        .persist()
    )
    spark_session = d.sparkSession
    covered: list[str] = []
    picks = []
    for rnd in range(10):
        remaining = tok
        if covered:
            cov_df = spark_session.createDataFrame(
                [(w,) for w in covered], "w string"
            )
            remaining = tok.join(F.broadcast(cov_df), "w", "left_anti")
        gain = remaining.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("new_tokens")
        )
        top = gain.orderBy(F.desc("new_tokens"), "doc_id").limit(1).collect()
        if not top or top[0]["new_tokens"] == 0:
            break
        doc = top[0]["doc_id"]
        new_words = [
            r["w"]
            for r in remaining.where(F.col("doc_id") == doc)
            .select("w")
            .distinct()
            .collect()
        ]
        covered.extend(new_words)
        picks.append((rnd + 1, int(doc), int(top[0]["new_tokens"]), len(covered)))
    tok.unpersist()
    return spark_session.createDataFrame(
        picks, "pick_order int, doc_id long, new_tokens long, covered_vocab long"
    )


@register(
    "q300_curation_pipeline",
    oracle="""
    WITH quality AS (
      SELECT doc_id, text, lang, source, n_chars,
             length(text) - length(replace(text, ' ', '')) + 1 AS n_words
      FROM documents
    ),
    filtered AS (
      SELECT * FROM quality
      WHERE n_chars >= 80 AND n_words >= 15
        AND n_chars / CAST(n_words AS DOUBLE) >= 3.0
    ),
    deduped AS (
      SELECT MIN(doc_id) AS doc_id, text,
             arg_min(lang, doc_id) AS lang,
             arg_min(n_chars, doc_id) AS n_chars
      FROM filtered GROUP BY text
    ),
    ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM deduped
    ),
    selected AS (SELECT * FROM ranked WHERE rn <= 40)
    SELECT lang, doc_id % 4 AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM((CAST(doc_id AS HUGEINT) * 1000003 + n_chars) % 1000000007) AS BIGINT)
             AS checksum
    FROM selected GROUP BY 1, 2
    """,
)
def q300_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END CURATION PIPELINE (the capstone composite): quality
    gate (length + word count + chars-per-word, the SQL-expressible
    core of q179's Gopher rules) → exact dedup with canonical
    smallest-id pick (q37/q120) → top-40-per-language selection by
    length (q191's shape) → deterministic 4-way sharding with
    order-independent checksums (q279) — one lazy plan from raw corpus
    to delivery manifest, oracle-checked END TO END so a row lost or
    duplicated at ANY stage breaks the hash. The full-strength chain
    (MinHash near-dup, token budgets, decontamination) lives in q175;
    this is its fully-SQL-verifiable spine.

    Scale shape: the quality gate is pushdown-friendly row predicates;
    dedup shuffles once on the text (at 100 TB: on the 8-byte
    fingerprint, q37's shape, noted); selection is a per-language
    window (partition-parallel); the manifest is a small-group
    aggregate. Every stage feeds the next lazily — Catalyst sees ONE
    plan."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    n_words = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    )
    filtered = d.select(
        "doc_id", "text", "lang", "n_chars", n_words.alias("n_words")
    ).where(
        (F.col("n_chars") >= 80)
        & (F.col("n_words") >= 15)
        & (F.col("n_chars") / F.col("n_words").cast("double") >= 3.0)
    )
    # the canonical copy's attributes travel TOGETHER with the smallest
    # id (min_by/arg_min) — independent per-column MINs could stitch an
    # incoherent row from different duplicate copies
    deduped = filtered.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("n_chars", "doc_id").alias("n_chars"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    selected = deduped.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 40
    )
    return selected.groupBy(
        "lang", (F.col("doc_id") % 4).alias("shard")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(
            (F.col("doc_id").cast("decimal(38,0)") * 1000003 + F.col("n_chars"))
            % 1000000007
        )
        .cast("long")
        .alias("checksum"),
    )
