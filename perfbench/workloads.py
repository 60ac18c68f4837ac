"""The benchmark's workloads: which registered queries one pass runs.

``BENCHMARK.json`` declares the first two, cut to warm passes of a few
seconds at four cores so a run can measure several passes; README.md gives
the reason for each workload and the queries left out.  The last two are
the full iteration-heavy and text/vector query sets, run by hand.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    #: Unreported passes between the cold pass and the measured ones, run
    #: while the JIT compiles the hot paths and the pass time still falls.
    settle_passes: int = 1
    #: Point ``sources.io.FIXTURE_ROOT`` at a fresh directory for every pass,
    #: so each pass writes its fixtures and reads them back.
    fresh_fixtures: bool = False


WORKLOADS: dict[str, Workload] = {
    "covid_reports": Workload((
        "agg_groupby",
        "join_sortmerge",
        "win_moving_avg",
        "win_row_number_topk",
        "report_market_share",
    ), settle_passes=4),
    "etl_iterative": Workload(
        (
            "read_csv_schema",
            "read_json_lines",
            "sink_parquet_partitioned",
            "read_orc_roundtrip",
            "etl_merge_into",
            "graph_pagerank",
            "graph_reciprocity",
            "llm_lang_id",
        ),
        settle_passes=2,
        fresh_fixtures=True,
    ),
    "iterative_analytics": Workload((
        "graph_pagerank",
        "graph_hits_scores",
        "ml_pca_power",
        "ml_kmeans_lloyd",
        "graph_connected_components",
        "llm_dedup_clusters",
        "llm_ann_pq",
    )),
    "text_vector_cpu": Workload((
        "llm_lang_id",
        "llm_dedup_fuzzy",
        "llm_sim_topk",
        "llm_text_tokens",
        "llm_sparse_cosine",
        "llm_dedup_embedding",
        "llm_ann_ivf",
        "udf_pandas_vectorized",
    )),
}
