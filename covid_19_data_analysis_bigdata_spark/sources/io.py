"""Typed scan layer: parquet in, fixture round-trips, partitioned sinks.

Parquet schemas are inferred once per session, path and file
signature, then passed to every later read of the same files as an
explicit schema, so a warm ``load_table`` fires no Spark job (see
:func:`_scan_key`).  CSV/JSON round-trips read back with the pinned
``schemas.TABLES`` StructType — no inference pass.

The one ingest repair the corpus needs is ``events.ts``, whose on-disk
encoding has varied across testdata generations; the repair is
*encoding-adaptive* so any of the three observed encodings loads to the
same UTC ``TimestampType``:

- parquet ``TIMESTAMP(NANOS)``: Spark 4.1.2 refuses it; with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as bigint
  nanoseconds → ``timestamp_micros(ts DIV 1000)`` (*integer* division:
  ns epoch values ≈ 1.7e18 exceed double's 53-bit mantissa, so a float
  division would corrupt low microseconds).
- parquet ``timestamp[us]`` naive (isAdjustedToUTC=false): Spark reads
  ``TIMESTAMP_NTZ`` → ``cast('timestamp')``.  The session timezone is
  pinned UTC (session.py), so the cast is value-preserving and matches
  DuckDB's naive-as-UTC epoch semantics.
- parquet ``timestamp[us]`` UTC-adjusted: already ``TimestampType``;
  no-op.
"""

from __future__ import annotations

import glob
import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from covid_19_data_analysis_bigdata_spark import schemas
from covid_19_data_analysis_bigdata_spark.session import ensure_confs

#: Root for engine-written fixtures (CSV/JSONL round-trips, partitioned
#: sinks).  Never inside /root/testdata (read-only).
FIXTURE_ROOT = os.path.join(tempfile.gettempdir(), "covid19_bigdata_spark_fixtures")


def repair_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to UTC ``TimestampType``, whatever it read as.

    Encoding-adaptive (see module docstring): bigint nanos →
    ``timestamp_micros(ts DIV 1000)``; ``timestamp_ntz`` →
    ``cast('timestamp')`` (UTC session tz pinned, value-preserving);
    already ``timestamp`` → no-op.  Shared by the batch scan layer and
    the streaming source so the two paths can never diverge again.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def events_ts_physical_type(sf_dir: str) -> str:
    """Metadata-only footer probe of the on-disk ``events.ts`` encoding.

    Returns the pyarrow type string (``timestamp[ns]``, ``timestamp[us]``,
    ``timestamp[us, tz=UTC]``, ``int64``, …), or ``"int96"`` for the
    legacy INT96 encoding (Spark's own default parquet timestamp
    output).  INT96 must be detected from the PHYSICAL type in the
    parquet metadata — arrow's logical schema reports it as
    ``timestamp[ns]``, indistinguishable from true int64 nanos, but
    Spark reads INT96 as TIMESTAMP regardless of ``nanosAsLong``
    (found round 8 when a Spark-written 4× replica broke the declared
    stream schema).  Reads one parquet footer — no data pages — so it
    is safe to call per-query even at 100 TB (the footer of a single
    file decides the whole dataset's declared schema).
    """
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        inner = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if inner:
            path = inner[0]
    meta = pq.read_metadata(path)
    idx = meta.schema.to_arrow_schema().get_field_index("ts")
    if meta.row_group(0).column(idx).physical_type == "INT96":
        return "int96"
    return str(pq.read_schema(path).field("ts").type)


def _scan_key(spark: SparkSession, path: str) -> tuple | None:
    """``(applicationId, path, stat signature)`` keying the scan memos.

    The signature is ``(file, size, mtime_ns)`` for every file under
    ``path`` (or of ``path`` itself when it is one file), so rewriting
    any file of a table yields a new key: a stale entry can cost one
    extra inference, never a stale answer.  ``None`` (do not memoize)
    when nothing local is found — a remote URI or a missing path.
    """
    files = _table_files(path)
    if not files:
        return None
    return (spark.sparkContext.applicationId, path, tuple(map(_stat_sig, files)))


def _table_files(path: str) -> list[str]:
    """``path`` itself when it is one file, else every file under it."""
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(root, f) for root, _, names in os.walk(path) for f in names
    )


def _stat_sig(path: str) -> tuple[str, int, int]:
    st = os.stat(path)
    return (path, st.st_size, st.st_mtime_ns)


#: _scan_key -> raw parquet schema (before ``repair_events_ts``, so the
#: repair stays encoding-adaptive).  Inference is a one-task Spark job
#: per read; with the schema passed explicitly the read fires none.
_SCHEMA_MEMO: dict[tuple, StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table from ``sf_dir`` with its repaired schema.

    Returns a fresh DataFrame on every call (self-joins need distinct
    expression ids); only the inferred schema is memoized.
    """
    # Confs first: inference must always see the pinned nanosAsLong.
    ensure_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _scan_key(spark, path)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_MEMO[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = repair_events_ts(df)
    return df


#: _scan_key -> planned scan partition count.  Probing costs one
#: FileSourceScan partition-planning pass (no job); memoized so repeated
#: bench samples pay it once per session and file signature.
_SCAN_PARTS_MEMO: dict[tuple, int] = {}

#: Measurement toggle (r15, VERDICT item 2): when False, ``spread`` is
#: byte-for-byte ``load_table``.  Exists so tools/ab_flag.py can run a
#: same-session alternating A/B of each spread call site (the only
#: attributable measurement on this box — OPTIMIZATION_r14.md ambient
#: drift note) without editing operator code between samples.
SPREAD_ENABLED = True


def spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` + parallelism repair for under-parallelized scans.

    The optimization-guide §2.5 unsplittable-input case: a table stored
    as few files with few row groups yields a scan with fewer tasks
    than the session has cores, and every CPU-dense map-side consumer
    (shingling, per-row hashing, vector distances, decimal moments)
    then serializes on those few cores no matter how many are free —
    measured r14: llm_dedup_fuzzy's whole minhash stage ran (0+1)/1 on
    local[32].  The repair is one round-robin repartition to the
    session's parallelism immediately after the read.

    Scale discipline: the repartition is CONDITIONAL on the planned
    scan partition count being under half the session's cores (strictly:
    ``n * 2 > cores`` keeps the raw scan, so exactly half still
    repartitions), probed from the actual file layout and memoized per
    applicationId, path and file signature (:func:`_scan_key`), so a
    table rewritten mid-session is probed again.  On a real cluster
    reading a 100 TB table laid out as thousands of files the condition
    is false and this is byte-for-byte ``load_table`` — no extra
    exchange ever enters the plan.  Only operators whose map
    stage is CPU-dense opt in; plain scans/filters keep the raw scan.
    """
    df = load_table(spark, sf_dir, name)
    if not SPREAD_ENABLED:
        return df
    try:
        cores = spark.sparkContext.defaultParallelism
        key = _scan_key(spark, os.path.join(sf_dir, f"{name}.parquet"))
        n = _SCAN_PARTS_MEMO.get(key)
        if n is None:
            n = df.rdd.getNumPartitions()
            if key is not None:
                _SCAN_PARTS_MEMO[key] = n
    except Exception:
        return df
    if n * 2 > cores:
        return df
    return df.repartition(cores)


#: ``(file, size, mtime_ns)`` -> sha256 of the file's bytes, so a warm
#: :func:`_source_fingerprint` stats files and reads none.
_CONTENT_MEMO: dict[tuple[str, int, int], str] = {}


def _file_sha256(path: str) -> str:
    sig = _stat_sig(path)
    digest = _CONTENT_MEMO.get(sig)
    if digest is None:
        h = hashlib.sha256()
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        digest = _CONTENT_MEMO[sig] = h.hexdigest()
    return digest


def _source_fingerprint(sf_dir: str) -> str:
    """Content fingerprint of the source parquet files (names + bytes).

    Keys every cached fixture, the CHECK artifact headers and the sketch
    pins.  It is a sha256 over each file's relative name and the sha256
    of its bytes, so regenerated testdata with different bytes gets a
    new fingerprint (stale fixtures are abandoned instead of silently
    compared against a fresh oracle), while a byte-identical
    re-materialization or a bare touch keeps it.  File hashes are
    memoized per ``(file, size, mtime_ns)``: only a new or rewritten
    file is read again.
    """
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        for f in _table_files(p):
            h.update(f"{os.path.relpath(f, sf_dir)}:{_file_sha256(f)}\n".encode())
    return h.hexdigest()[:12]


def fixture_dir(sf_dir: str, kind: str) -> str:
    """Deterministic scratch dir for a given (scale factor, fixture kind)."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(
        FIXTURE_ROOT, f"{tag}-{_source_fingerprint(sf_dir)}", kind
    )
    os.makedirs(path, exist_ok=True)
    return path


def roundtrip_csv(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Write ``name`` to CSV once, read back with the pinned explicit schema.

    Models the reference's CSV ingest path (JHU/Kaggle COVID CSVs,
    SURVEY.md §2 cat. 1) without ``inferSchema`` — the read is a single
    pass with a declared StructType.
    """
    out = os.path.join(fixture_dir(sf_dir, "csv"), name)
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        load_table(spark, sf_dir, name).write.mode("overwrite").option(
            "header", True
        ).csv(out)
    return (
        spark.read.schema(schemas.TABLES[name])
        .option("header", True)
        .csv(out)
    )


def roundtrip_jsonl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Write ``name`` as JSON-lines once, read back with explicit schema."""
    out = os.path.join(fixture_dir(sf_dir, "jsonl"), name)
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        load_table(spark, sf_dir, name).write.mode("overwrite").json(out)
    return spark.read.schema(schemas.TABLES[name]).json(out)


def partitioned_sink(spark: SparkSession, sf_dir: str) -> str:
    """Write lineitem partitioned by ``l_returnflag``; return the path.

    Partition layout is the primary pruning lever at 100 TB: a filter on
    the partition column becomes directory pruning, never a data scan.
    """
    out = os.path.join(fixture_dir(sf_dir, "sink"), "lineitem_by_flag")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        load_table(spark, sf_dir, "lineitem").write.partitionBy(
            "l_returnflag"
        ).mode("overwrite").parquet(out)
    return out
