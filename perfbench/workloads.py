"""The benchmark's workloads: which registered queries run, on which fixture.

Why each workload exists, and what it should and should not move, is in
README.md; the judged ones are listed in BENCHMARK.json.
"""

from __future__ import annotations

from dataclasses import dataclass

# fixture scale factor of every workload (lineitem = 6M x SF rows)
SF = 0.01


@dataclass(frozen=True)
class Workload:
    name: str
    # registered query name -> its primary input table (the largest it loads);
    # rows_per_s counts that table's rows once per query execution
    queries: dict[str, str]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap_tpch",
            {
                "q01_grouped_agg": "lineitem",
                "q11_join_topk_revenue": "lineitem",
                "q196_tpch_q6_forecast_revenue": "lineitem",
                "q198_tpch_q12_priority_counts": "lineitem",
            },
        ),
        Workload(
            "text_dedup",
            {
                "q37_dedup_exact": "documents",
                "q38_minhash_pairs": "documents",
                "q41_ann_bruteforce": "embeddings",
                "q199_chunk_dedup": "documents",
                "q213_inverted_index": "documents",
                "q218_semantic_dedup": "embeddings",
            },
        ),
        Workload(
            "reference_pipeline",
            {
                "q04_dedup_keep_first": "lineitem",
                "q16_knn_1nn": "customer",
                "q45_crs_transform": "customer",
                "q33_simple_ols": "lineitem",
                "q79_train_test_r2": "lineitem",
                "q52_csv_roundtrip": "orders",
            },
        ),
    )
}
