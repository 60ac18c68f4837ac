"""Query registry.

Each operator from the SURVEY.md §2 inventory registers itself here via
the :func:`query` decorator.  ``__spark_entry__.py`` exposes the two
registries to the driver:

- ``QUERIES[name]`` — callable ``(spark, sf_dir) -> DataFrame`` (lazy;
  the driver collects).
- ``ORACLES[name]`` — equivalent DuckDB ANSI-SQL string over the
  pre-registered parquet views, or absent for non-SQL-expressible
  operators (the driver then records a weaker rows-only check).

Determinism rules applied by every registered query (SURVEY.md §5.3):
alias every computed column identically in both forms; total-order every
window/top-k with a unique tie-break key; round order-dependent double
aggregates the same on both sides; never emit raw ns timestamps.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as inventory query ``name`` with optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: Front-of-registry order for round 16.  External correctness sweeps
#: sample the first 50 registry entries in iteration order.  A round is
#: one such sample: it closes when its CORRECTNESS_rN.json is committed,
#: and ROUND_MARKER then holds N, the last closed round.  The PRs in
#: between belong to round N+1 and leave both the marker and this
#: window alone (the CHECK_rN sweep artifacts are numbered per sweep,
#: not per round).  Round 15 re-sampled the round-14 window, so this
#: window is rebuilt by FRESHNESS (SCALE.md §"r14 window plan"):
#: (1) the one id never sampled, (2) the two queries whose cached
#: edge frames this round re-partitions, (3) every strong id whose
#: latest external row is r02 (18) or r03 (19), back-filled with the
#: first 10 r04-stale ids in registration order.  Largest share with
#: any prior window: 20 ids (r03), under the 30-id cap.
_WINDOW_PRIORITY: list[str] = [
    # ---- never sampled ----
    "llm_ann_recall",
    # ---- cached-plan partitioning changed this round ----
    "graph_reciprocity",
    "graph_pagerank",
    # ---- freshness refresh: the 18 r02-stale strong ids ----
    "sample_stratified",
    "set_except_all",
    "set_intersect_all",
    "join_range_binned",
    "agg_ratio",
    "agg_count_distinct",
    "agg_stats",
    "agg_percentile",
    "agg_filtered",
    "agg_collect",
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "pivot_wide",
    "agg_histogram",
    "agg_mode",
    "agg_corr_exact",
    "agg_listagg",
    # ---- freshness refresh: the 19 r03-stale ids ----
    "stream_file_sink",
    "stream_foreach_batch",
    "stream_multi_batch_replay",
    "llm_dedup_exact",
    "llm_dedup_fuzzy",
    "llm_sim_cosine_pairs",
    "llm_sim_topk",
    "llm_knn_per_query",
    "llm_centroids",
    "llm_semantic_groupby",
    "llm_text_tokens",
    "llm_tfidf",
    "llm_text_stats",
    "llm_ngrams",
    "llm_multimodal_struct",
    "llm_inverted_index",
    "llm_pmi_cooccur",
    "llm_lang_id",
    "llm_quality_score",
    # ---- back-fill: the first 10 r04-stale ids ----
    "math_funcs",
    "ts_trend_forecast",
    "ts_resample_ffill",
    "etl_upsert_scd1",
    "etl_keep_latest",
    "etl_scd2_intervals",
    "etl_compact_small_files",
    "etl_partition_overwrite",
    "dq_profile_columns",
    "etl_cascade_delete",
]


def _reorder_front(priority: list[str]) -> None:
    """Rebuild the registry dicts with ``priority`` names first.

    Names absent from the registry are skipped (a rename must not
    silently truncate the window); the remainder keeps module
    registration order.
    """
    front = [n for n in priority if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(front)]
    for d in (QUERIES, ORACLES):
        reordered = {n: d[n] for n in front + rest if n in d}
        d.clear()
        d.update(reordered)


def load_all() -> None:
    """Import every operator module so the registries are fully populated.

    Iteration order is deliberate (see ``_WINDOW_PRIORITY``): external
    correctness sweeps sample the registry front-to-back, so the
    queries with the least accumulated sweep evidence are moved to the
    front after all modules register.
    """
    # Imports are at call time so a failure in one module surfaces loudly
    # rather than silently truncating the registry at package import.
    from covid_19_data_analysis_bigdata_spark.functions import (  # noqa: F401
        scalars,
        udfs,
    )
    from covid_19_data_analysis_bigdata_spark.streaming import ops  # noqa: F401
    from covid_19_data_analysis_bigdata_spark.operators import (  # noqa: F401
        attribution,
        llm,
        textprep,
        llmprep,
        curation,
        retrieval,
        multimodal,
        timeseries,
        etl,
        iterative,
        nonparam,
        reports,
        sqlsurface,
        scale,
        relational,
        joins,
        aggregates,
        windows,
    )
    from covid_19_data_analysis_bigdata_spark.sources import (  # noqa: F401
        pysource,
        scans,
    )

    _reorder_front(_WINDOW_PRIORITY)
