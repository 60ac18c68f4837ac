"""SparkSession factory + defensive per-session configuration.

The driver may hand us an already-built ``SparkSession``; therefore all
*runtime-settable* SQL confs are (re)applied by :func:`ensure_confs`,
which every query callable runs through (via the scan layer).  Only
confs that must be set before JVM start (driver memory, master) live in
:func:`get_spark`.

Scale notes (100 TB design, SURVEY.md §4.3): AQE stays on so shuffle
partition counts, skew splitting and sort-merge→broadcast demotion are
decided from real runtime statistics rather than hand-tuned constants —
the same code runs on local[32] and on a 1000-executor cluster.
"""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import SparkSession


def _env_bool(name: str, default: str) -> str:
    """Read a boolean env override, normalized to 'true'/'false'.

    A typo ('True ', '1', 'yes') would otherwise surface only as an
    opaque session-build failure deep inside conf application
    (ADVICE r14) — normalize the common spellings and fall back to the
    default with the raw value ignored when unrecognizable.
    """
    raw = os.environ.get(name)
    if raw is None:
        return default
    v = raw.strip().lower()
    if v in ("true", "1", "yes", "on"):
        return "true"
    if v in ("false", "0", "no", "off"):
        return "false"
    return _ignored(name, raw, default)


def _env_size(name: str, default: str) -> str:
    """Read a byte-size env override (Spark size-string: '64m', '1g',
    '0', '262144b', '64mb', '1gb', ...), falling back to the default on
    malformed input rather than failing session build.  Spark's
    byte-string parser takes both the one-letter and the two-letter
    suffixes, so both pass through unchanged."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    v = raw.strip().lower()
    if re.fullmatch(r"\d+(?:b|[kmgt]b?)?", v):
        return v
    return _ignored(name, raw, default)


def _ignored(name: str, raw: str, default: str) -> str:
    """Print a one-line stderr warning that an override was ignored."""
    print(
        f"warning: ignoring ${name}={raw!r} (unrecognized); using {default!r}",
        file=sys.stderr,
    )
    return default

#: Runtime-settable SQL confs every query depends on.
RUNTIME_CONFS: dict[str, str] = {
    # events.ts is parquet TIMESTAMP(NANOS); Spark 4.1.2 rejects it outright
    # (PARQUET_TYPE_ILLEGAL) unless read as raw bigint nanos (SURVEY.md §1.3.1).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Pin the session timezone so collected timestamps agree bit-for-bit with
    # DuckDB's naive (UTC-less) timestamps regardless of machine TZ.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transport for pandas_udf / applyInPandas / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Adaptive execution: runtime re-planning at shuffle boundaries.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE small-shuffle coalescing policy.  Round 7 set this false
    # (respect the 64 MB advisory, collapse doc-grain stages to 1-2
    # partitions; measured then: 8-query bench 10.1 s -> 9.0 s).  Round
    # 14 re-measured after the spread()/persist topology changes and
    # the workload's CPU-dense tail grew dominant: a 14-query drill A/B
    # read false=22.9 s vs true=20.6 s with wins on 11/14 (join_sortmerge
    # 1.06->0.59, llm_sim_topk 1.43->0.95, llm_span_dedup 1.18->0.79) —
    # byte-light stages here are CPU-heavy, so keeping partitions up to
    # the 1 MB minPartitionSize floor (the upstream Spark DEFAULT)
    # beats advisory-size collapse.  Env-parameterized: busy shared
    # clusters should set SPARK_GRAFT_AQE_PARALLELISM_FIRST=false per
    # the Spark docs' resource-efficiency guidance.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": _env_bool(
        "SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"
    ),
    # AQE runtime SMJ->shuffled-hash demotion (guide §3.1): when every
    # post-shuffle build partition is under this threshold, the sort on
    # both sides is skipped at runtime.  Static plans (and the plan-pin
    # tests) are untouched; partitions over the threshold keep SMJ, so
    # the OOM risk SHJ normally carries is bounded by construction.
    # r14 drill A/B (14-query set, after the parallelismFirst flip):
    # 20.6 s -> 19.4 s, wins on 10/14 (llm_dedup_clusters 2.41->1.63,
    # report_volume_shipping 1.46->1.17), losses within run noise.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": _env_size(
        "SPARK_GRAFT_SHJ_LOCAL_MAP_THRESHOLD", "64m"
    ),
    # Let AQE coalesce the final shuffle of every persisted plan.  The
    # Spark default (false) makes CacheManager plan each persisted frame
    # with final-stage shuffle optimizations off, so a cached frame whose
    # plan ends in a shuffle keeps all spark.sql.shuffle.partitions
    # partitions and every later scan of it runs that many tasks — 32
    # tasks over the ≤600-row nation trade graph graph_pagerank and
    # graph_reciprocity iterate on.  With it on, each cached output is
    # sized from its measured bytes (a tiny frame becomes 1 partition, a
    # large one keeps its parallelism).  Measured at sf0.1, local[4] on a
    # 4-vCPU VM: a traced perfbench etl_iterative pass ran 381 -> 39
    # tasks and 3.55 -> 1.42 executor CPU-s; untraced, cpu_s fell
    # 5.15 -> 3.84 s (medians of 10 alternating pairs, 10/10 wins).  No
    # env override: the setting changes how cached outputs are
    # partitioned, never their rows, and no workload here wants cached
    # output held at the fixed shuffle width.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Runtime-settable, so externally-built sessions (the driver's plain
    # session defaults to 200) also get a parallelism-matched value; AQE
    # coalesces further downward per-stage.  Overridable for bench A/B
    # experiments via $SPARK_GRAFT_SHUFFLE_PARTITIONS.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
}


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Apply :data:`RUNTIME_CONFS` to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf a future Spark makes static must not kill the query path.
            pass
    return spark


def get_spark(app_name: str = "covid19-bigdata-spark") -> SparkSession:
    """Build (or fetch) the engine's configured local session.

    Local parallelism comes from ``$SPARK_GRAFT_CPUS`` (default: all
    cores); on a real cluster the same code is submitted with a cluster
    master and these local-mode settings are inert.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return ensure_confs(builder.getOrCreate())
