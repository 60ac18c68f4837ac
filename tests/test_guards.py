"""Invariant guards (SURVEY.md §4.3 discipline, made permanent).

Two classes of one-off round-1 fixes are converted into CI invariants
here so they cannot regress:

1. No driver-side materialization inside the package — ``toPandas()``
   and ``collect()`` pull unbounded data onto the driver; every
   operator must keep data distributed (bench.py, outside the package,
   is the one legitimate materialization point).
2. No nested (array/map/struct) columns in any registered query's
   output schema — result-comparison harnesses canonicalize cells with
   pandas and cannot hash array cells; list-valued results must be
   flattened (concat_ws / per-element columns / to_json) in-plan.
"""

from __future__ import annotations

import pathlib
import re
from datetime import timezone

import pytest

from covid_19_data_analysis_bigdata_spark import core

PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "covid_19_data_analysis_bigdata_spark"
)

#: ``.collect()`` with no arguments — distinct from collect_list/
#: collect_set (aggregate functions, fine) and localCheckpoint.
_MATERIALIZE = re.compile(r"\.(toPandas|collect|toLocalIterator)\(\)")


def test_no_driver_materialization_in_package():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        for lineno, line in enumerate(
            path.read_text().splitlines(), start=1
        ):
            if _MATERIALIZE.search(line):
                offenders.append(f"{path.relative_to(PKG.parent)}:{lineno}")
    assert not offenders, (
        "driver-side materialization in package (keep data distributed; "
        f"bench.py is the only legitimate sink): {offenders}"
    )


@pytest.fixture(scope="module")
def all_queries():
    core.load_all()
    return dict(core.QUERIES)


def test_no_nested_output_schemas(spark, sf_dir, all_queries):
    """Every registered query must emit only scalar columns.

    Builds each plan lazily (no execution) and inspects the analyzed
    schema; streaming queries execute their availableNow replay, which
    is why this runs at the smallest fixture scale.
    """
    bad = {}
    for name, fn in sorted(all_queries.items()):
        df = fn(spark, sf_dir)
        nested = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if nested:
            bad[name] = nested
    assert not bad, f"nested output columns (unhashable cells): {bad}"


class TestEventsTsEncodings:
    """events.ts must load as UTC TimestampType for every on-disk
    encoding the testdata generator has produced (bigint ns, naive µs,
    UTC-adjusted µs).  Round-2 regression: the generator switched ns →
    naive µs and the single-encoding repair silently collapsed event
    time to 1970 in four streaming queries."""

    # 2024-03-01T12:34:56.789012 UTC in epoch microseconds
    EPOCH_US = 1709296496789012

    @staticmethod
    def _arrow_type(enc):
        import pyarrow as pa

        return {
            "ns_naive": pa.timestamp("ns"),
            "ns_utc": pa.timestamp("ns", tz="UTC"),
            "us_naive": pa.timestamp("us"),
            "us_utc": pa.timestamp("us", tz="UTC"),
        }[enc]

    def _write(self, tmp_path, arrow_type):
        import pyarrow as pa
        import pyarrow.parquet as pq

        # int64 → timestamp casts reinterpret the integer in the target
        # unit, so scale µs → ns when the target is nanosecond-grained.
        raw = self.EPOCH_US * 1000 if arrow_type.unit == "ns" else self.EPOCH_US
        tbl = pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([raw], pa.int64()).cast(arrow_type),
                "user_id": pa.array([7], pa.int64()),
                "event_type": pa.array(["view"], pa.string()),
                "value": pa.array([1.5], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            }
        )
        d = tmp_path / "events.parquet"
        pq.write_table(tbl, d)
        return str(tmp_path)

    @pytest.mark.parametrize(
        "enc", ["ns_naive", "ns_utc", "us_naive", "us_utc"]
    )
    def test_batch_load_normalizes(self, spark, tmp_path, enc):
        from covid_19_data_analysis_bigdata_spark.sources.io import load_table

        arrow_type = self._arrow_type(enc)
        sf = self._write(tmp_path, arrow_type)
        df = load_table(spark, sf, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", enc
        row = df.collect()[0]
        # Spark collect() returns naive datetimes in the session tz
        # (pinned UTC); attach UTC explicitly so .timestamp() does not
        # reinterpret in the host OS timezone on non-UTC machines.
        got = row["ts"].replace(tzinfo=timezone.utc)
        assert int(got.timestamp() * 1_000_000) == self.EPOCH_US, enc

    def test_in_place_rewrite_invalidates_schema_memo(self, spark, tmp_path):
        """load_table memoizes the inferred parquet schema per file
        signature; rewriting the same path with another ``ts`` encoding
        mid-session must re-infer, never reuse the old schema."""
        from covid_19_data_analysis_bigdata_spark.sources.io import load_table

        # Each step changes the raw Spark type of ts: bigint ->
        # timestamp_ntz -> timestamp -> bigint.
        for enc in ["ns_naive", "us_naive", "us_utc", "ns_utc"]:
            sf = self._write(tmp_path, self._arrow_type(enc))
            df = load_table(spark, sf, "events")
            assert dict(df.dtypes)["ts"] == "timestamp", enc
            got = df.collect()[0]["ts"].replace(tzinfo=timezone.utc)
            assert int(got.timestamp() * 1_000_000) == self.EPOCH_US, enc

    @pytest.mark.parametrize(
        "enc", ["ns_naive", "ns_utc", "us_naive", "us_utc"]
    )
    def test_stream_source_normalizes(self, spark, tmp_path, enc):
        from covid_19_data_analysis_bigdata_spark.streaming.ops import (
            events_stream,
            run_to_table,
        )

        arrow_type = self._arrow_type(enc)
        sf = self._write(tmp_path, arrow_type)
        ev = events_stream(spark, sf)
        assert dict(ev.dtypes)["ts"] == "timestamp", enc
        out = run_to_table(spark, ev.select("event_id", "ts"), f"t_enc_{enc}", "append")
        row = out.collect()[0]
        got = row["ts"].replace(tzinfo=timezone.utc)
        assert int(got.timestamp() * 1_000_000) == self.EPOCH_US, enc


def _newest_job_id(spark):
    """Id of the newest job in the status store, once the listener bus
    has applied every posted event (-1 before the first job)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    if jobs.size() == 0:
        return -1
    return max(jobs.apply(0).jobId(), jobs.apply(jobs.size() - 1).jobId())


def test_warm_load_table_fires_no_job(spark, sf_dir):
    """Schema inference is a one-task Spark job; load_table pays it once
    per table and file signature, so a warm call fires no job and yields
    the schema inference would."""
    from covid_19_data_analysis_bigdata_spark.sources.io import (
        load_table,
        repair_events_ts,
    )

    names = sorted(
        p.name[: -len(".parquet")] for p in pathlib.Path(sf_dir).glob("*.parquet")
    )
    assert names, sf_dir
    for name in names:
        load_table(spark, sf_dir, name)
        before = _newest_job_id(spark)
        df = load_table(spark, sf_dir, name)
        assert _newest_job_id(spark) == before, f"warm load_table({name}) ran a job"
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            inferred = repair_events_ts(inferred)
        assert df.schema == inferred.schema, name


class TestStrictComparator:
    """tools/check.py norm() must distinguish cross-engine TYPE
    divergences, not just values.  Round-3 regression: DuckDB ceil/
    floor returned DOUBLE (4.0) where Spark returned BIGINT (4); the
    old numeric norm() said 4 == 4.0 so the local sweep was green while
    the external rendered-value hash failed (math_funcs).  These pairs
    must NEVER compare equal again."""

    def test_numeric_type_divergences_detected(self):
        import sys

        sys.path.insert(0, str(PKG.parent / "tools"))
        from decimal import Decimal

        from check import norm

        # (spark-side, oracle-side) pairs that are numerically equal
        # but render differently — each must be distinguished.
        for a, b in [
            (4, 4.0),                    # bigint vs double
            (Decimal("4.0"), 4.0),       # decimal vs double
            (Decimal("4.00"), Decimal("4.0")),  # decimal scale
            (1, True),                   # int vs bool
            (0.0, -0.0),                 # sign of zero renders differently
        ]:
            assert norm(a) != norm(b), (a, b)
            # nested containers inherit strictness
            assert norm([a]) != norm([b]), (a, b)

    def test_multiset_compare_is_order_free_and_multiplicity_exact(self):
        """The r12 Counter-based compare must stay a true multiset:
        column order and row order never matter; duplicate multiplicity
        always does (the sorted-list compare it replaced had the same
        contract — this pins it through the representation change)."""
        import sys

        sys.path.insert(0, str(PKG.parent / "tools"))
        from check import to_multiset

        a = to_multiset(["x", "y"], [(1, 2), (3, 4), (1, 2)])
        b = to_multiset(["y", "x"], [(4, 3), (2, 1), (2, 1)])
        assert a == b  # column + row order free
        c = to_multiset(["x", "y"], [(1, 2), (3, 4)])
        assert a != c  # multiplicity 2 vs 1 must fail

    def test_equal_values_still_match(self):
        import sys

        sys.path.insert(0, str(PKG.parent / "tools"))
        from datetime import datetime
        from decimal import Decimal

        from check import norm

        for a, b in [
            (4, 4),
            (4.25, 4.25),
            (Decimal("4.00"), Decimal("4.00")),
            (float("nan"), float("nan")),  # canonicalized, must match
            (b"ab", bytearray(b"ab")),     # engines differ in bin class
            (datetime(2024, 3, 1, 12, 0, 0),
             datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc)),
            (None, None),
        ]:
            assert norm(a) == norm(b), (a, b)


def test_committed_check_artifact_not_stale():
    """A committed CHECK_r*.txt must carry a source-fingerprint header
    matching the CURRENT testdata — regenerated testdata changes the
    fingerprint, so stale green can never be presented as evidence."""
    repo = pathlib.Path(__file__).resolve().parents[1]
    artifacts = sorted(
        repo.glob("CHECK_r*.txt"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    if not artifacts:
        pytest.skip("no committed CHECK artifact yet")
    latest = artifacts[-1]
    first = latest.read_text().splitlines()[0]
    m = re.match(r"# sf_dir=(\S+) source_fingerprint=(\w+)", first)
    assert m, (
        f"{latest.name} lacks a fingerprint header — regenerate with tools/check.py"
    )
    sf_dir, fp = m.groups()
    import glob as _glob

    if not _glob.glob(f"{sf_dir}/*.parquet"):
        pytest.skip(f"{sf_dir} not present on this machine — cannot date the artifact")
    from covid_19_data_analysis_bigdata_spark.sources.io import _source_fingerprint

    assert _source_fingerprint(sf_dir) == fp, (
        f"{latest.name} was generated against different testdata; rerun tools/check.py"
    )


def test_source_fingerprint_is_content_addressed(tmp_path, monkeypatch, sf_dir):
    """Data identity follows bytes, not mtimes: a touched copy keeps its
    fingerprint, a changed byte moves it, and a warm call reads no file
    (per-file hashes are memoized by ``(file, size, mtime_ns)``)."""
    import os
    import shutil

    from covid_19_data_analysis_bigdata_spark.sources import io

    for p in pathlib.Path(sf_dir).glob("*.parquet"):
        shutil.copy(p, tmp_path / p.name)
    copy = str(tmp_path)
    fp = io._source_fingerprint(copy)
    assert fp == io._source_fingerprint(sf_dir)

    def no_reads(*a, **k):
        raise AssertionError("a warm fingerprint read file bytes")

    with monkeypatch.context() as m:
        m.setattr(io, "open", no_reads, raising=False)
        assert io._source_fingerprint(copy) == fp

    nation = tmp_path / "nation.parquet"
    st = nation.stat()
    os.utime(nation, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert io._source_fingerprint(copy) == fp

    data = bytearray(nation.read_bytes())
    data[len(data) // 2] ^= 0xFF
    nation.write_bytes(bytes(data))
    assert io._source_fingerprint(copy) != fp


@pytest.mark.parametrize(
    "raw, want, warned",
    [("64mb", "64mb", False), ("1GB", "1gb", False), ("0", "0", False),
     ("512k", "512k", False), ("64 mb", "8m", True), ("lots", "8m", True)],
)
def test_env_size_accepts_spark_suffixes_and_warns(
    monkeypatch, capsys, raw, want, warned
):
    from covid_19_data_analysis_bigdata_spark import session

    monkeypatch.setenv("SIZE_OVERRIDE", raw)
    assert session._env_size("SIZE_OVERRIDE", "8m") == want
    assert ("ignoring $SIZE_OVERRIDE" in capsys.readouterr().err) == warned


def test_env_bool_warns_when_it_ignores_an_override(monkeypatch, capsys):
    from covid_19_data_analysis_bigdata_spark import session

    monkeypatch.setenv("BOOL_OVERRIDE", "maybe")
    assert session._env_bool("BOOL_OVERRIDE", "true") == "true"
    assert "ignoring $BOOL_OVERRIDE" in capsys.readouterr().err
    monkeypatch.setenv("BOOL_OVERRIDE", " Off")
    assert session._env_bool("BOOL_OVERRIDE", "true") == "false"
    assert capsys.readouterr().err == ""


class TestOracleTypeLattice:
    """The round-4 driver failures (dq_expectations, etl_incremental_agg)
    were DuckDB ``sum(BIGINT)`` → HUGEINT widenings: values identical,
    rendered hash different.  Two standing guards: (a) the check.py type
    gate must flag a HUGEINT column against a Spark BIGINT schema, and
    (b) no registered oracle may declare an out-of-lattice type."""

    def test_type_gate_flags_hugeint(self):
        import sys

        sys.path.insert(0, str(PKG.parent / "tools"))
        import duckdb
        from pyspark.sql import types as T

        from check import type_problems

        rel = duckdb.connect().sql(
            "SELECT sum(x) AS s, count(*) AS c FROM (SELECT CAST(1 AS BIGINT) AS x)"
        )
        sch = T.StructType(
            [T.StructField("s", T.LongType()), T.StructField("c", T.LongType())]
        )
        bad = type_problems(["s", "c"], sch, rel.columns, rel.types)
        assert bad and "int128" in bad[0], bad

    def test_type_gate_passes_matching_types(self):
        import sys

        sys.path.insert(0, str(PKG.parent / "tools"))
        import duckdb
        from pyspark.sql import types as T

        from check import type_problems

        rel = duckdb.connect().sql(
            "SELECT CAST(sum(x) AS BIGINT) AS s, 'a' AS t, "
            "CAST(1.5 AS DOUBLE) AS d "
            "FROM (SELECT CAST(1 AS BIGINT) AS x)"
        )
        sch = T.StructType(
            [
                T.StructField("s", T.LongType()),
                T.StructField("t", T.StringType()),
                T.StructField("d", T.DoubleType()),
            ]
        )
        assert type_problems(["s", "t", "d"], sch, rel.columns, rel.types) == []

    def test_classify_flags_every_decimal(self):
        """DECIMAL output columns of ANY precision are hash-unsafe.
        The r12 'p<=18 is INT64-backed, so safe' whitelist was disproved
        in r13: the external driver renders DuckDB decimals via the
        pandas/float64 path, and float64 shortest-repr drops trailing
        zeros at the declared scale ('…8990' → '…899') while Spark's
        Decimal keeps scale — bit-identical values, hash mismatch.
        classify() must flag every decimal, bare and nested."""
        import sys

        sys.path.insert(0, str(PKG.parent / "tools"))
        import duckdb

        from scan_oracle_types import classify

        rel = duckdb.connect().sql(
            "SELECT CAST(1 AS DECIMAL(38,4)) AS wide, "
            "CAST(1 AS DECIMAL(18,4)) AS narrow, "
            "[CAST(1 AS DECIMAL(19,0))] AS nested_wide, "
            "{'v': CAST(1 AS DECIMAL(12,2))} AS nested_narrow, "
            "CAST(1 AS BIGINT) AS ok_int, "
            "CAST(1.5 AS DOUBLE) AS ok_dbl"
        )
        by_col = dict(zip(rel.columns, rel.types))
        assert classify(by_col["wide"]), "DECIMAL(38,4) must be unsafe"
        assert classify(by_col["nested_wide"]), "DECIMAL(19,0) in a list must be unsafe"
        assert classify(by_col["narrow"]), "DECIMAL(18,4) must be unsafe too (r13 witness)"
        assert classify(by_col["nested_narrow"]), "DECIMAL(12,2) in a struct must be unsafe"
        assert classify(by_col["ok_int"]) == []
        assert classify(by_col["ok_dbl"]) == []

    def test_no_registered_oracle_emits_unsafe_types(self, sf_dir):
        """Run every oracle's DuckDB side and assert zero HUGEINT/
        UHUGEINT/UBIGINT columns (nested types included).  This is the
        repo-wide landmine sweep the judge performed manually in round 4,
        now automated."""
        import os
        import sys

        sys.path.insert(0, str(PKG.parent / "tools"))
        import duckdb

        import __spark_entry__ as E
        from scan_oracle_types import TABLE_NAMES, classify

        con = duckdb.connect()
        for t in TABLE_NAMES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        unsafe = []
        for name, sql in E.oracle_sql().items():
            rel = con.sql(sql)
            for col, typ in zip(rel.columns, rel.types):
                if classify(typ):
                    unsafe.append(f"{name}.{col}:{typ}")
        assert unsafe == [], unsafe


class TestLshBucketBound:
    """Round-8 advice: a mass-duplicate LSH bucket must not materialize
    an unbounded flattened pair array in one task.  Pairing is windowed
    over the first LSH_BUCKET_MAXB members; overflow members each emit
    one star pair to the bucket minimum, preserving connectivity."""

    def _pairs(self, spark, n, cap, maxb, monkeypatch):
        from covid_19_data_analysis_bigdata_spark.operators import llm

        monkeypatch.setattr(llm, "LSH_BUCKET_MAXB", maxb)
        bands = spark.createDataFrame(
            [(i, 1, "x") for i in range(n)], "doc_id long, band int, sig string"
        )
        return sorted(
            (r.a_id, r.b_id)
            for r in llm._lsh_candidate_pairs(bands, cap=cap).collect()
        )

    def test_small_bucket_emits_full_pair_set(self, spark, monkeypatch):
        got = self._pairs(spark, n=6, cap=64, maxb=4096, monkeypatch=monkeypatch)
        assert got == [(a, b) for a in range(6) for b in range(a + 1, 6)]

    def test_overflow_members_star_connected(self, spark, monkeypatch):
        got = self._pairs(spark, n=12, cap=3, maxb=8, monkeypatch=monkeypatch)
        # windowed pairs only among/from the first 8 members …
        windowed = {
            (a, b) for a in range(8) for b in range(a + 1, min(a + 4, 12))
        }
        # … plus one star pair per overflow member to the bucket min
        star = {(0, b) for b in range(8, 12)}
        assert set(got) == windowed | star
        # every member is connected: union-find over the pairs
        parent = list(range(12))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in got:
            parent[find(a)] = find(b)
        assert len({find(i) for i in range(12)}) == 1

    def test_pair_array_is_bounded(self, spark, monkeypatch):
        # 50-member bucket, maxb=8, cap=3: ≤ 8·3 windowed + 42 star
        got = self._pairs(spark, n=50, cap=3, maxb=8, monkeypatch=monkeypatch)
        assert len(got) <= 8 * 3 + 42
        assert all(b > a for a, b in got)


def test_stream_interval_join_equals_batch_join(spark, sf_dir):
    """The availableNow replay of the stream-stream interval join must
    emit exactly the pairs the equivalent BATCH interval join produces
    (engine-internal equivalence, independent of the DuckDB oracle)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from covid_19_data_analysis_bigdata_spark.sources.io import load_table

    got = {
        (r.click_id, r.purchase_id, r.user_id, r.gap_ms)
        for r in E.queries()["stream_interval_join"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
    )
    want = {
        (r.click_id, r.purchase_id, r.c_user, r.gap_ms)
        for r in a.join(
            b,
            (F.col("b_user") == F.col("c_user"))
            & (F.col("b_ts") >= F.col("c_ts"))
            & (F.col("b_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            "click_id",
            "purchase_id",
            "c_user",
            (F.unix_millis("b_ts") - F.unix_millis("c_ts")).alias("gap_ms"),
        )
        .collect()
    }
    assert got == want and got


def test_interval_join_state_survives_micro_batches(spark, tmp_path):
    """A click and its matching purchase arriving in DIFFERENT
    micro-batches must still pair: the join's state store buffers the
    first side until the second arrives (or the watermark passes the
    match horizon).  Replays a 2-file fixture with maxFilesPerTrigger=1
    — whichever side lands first, the emitted pair set must equal the
    batch interval join."""
    import os
    from datetime import datetime

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    t = lambda h, m: datetime(2024, 3, 1, h, m)  # noqa: E731
    batch_a = [(1, t(10, 0), 1, "click", 1.0), (99, t(10, 5), 2, "purchase", 1.0)]
    batch_b = [
        (2, t(10, 10), 1, "purchase", 1.0),  # pairs with e1 across batches
        (3, t(12, 0), 1, "click", 1.0),
        (4, t(12, 5), 1, "purchase", 1.0),  # same-batch pair
    ]
    src = str(tmp_path / "ev")
    for i, rows in enumerate([batch_a, batch_b]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    # exactly 2 part files -> 2 micro-batches at maxFilesPerTrigger=1
    n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_files == 2

    def side(ev, typ, pre):
        return ev.filter(F.col("event_type") == typ).select(
            F.col("event_id").alias(f"{pre}_id"),
            F.col("user_id").alias(f"{pre}_user"),
            F.col("ts").alias(f"{pre}_ts"),
        )

    ev = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    joined = side(ev, "click", "c").withWatermark("c_ts", "1 hour").join(
        side(ev, "purchase", "b").withWatermark("b_ts", "1 hour"),
        F.expr(
            "b_user = c_user AND "
            "b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
    )
    from covid_19_data_analysis_bigdata_spark.streaming.ops import run_to_table

    out = run_to_table(spark, joined, "t_xbatch_interval", "append", 4)
    got = {(r.c_id, r.b_id) for r in out.collect()}
    assert got == {(1, 2), (3, 4)}  # cross-batch pair AND same-batch pair


def _interval_fixture_schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )


def _interval_sides(ev):
    from pyspark.sql import functions as F

    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("b_id"),
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("b_ts"),
        )
        .withWatermark("b_ts", "1 hour")
    )
    return c, b


def test_join_windowed_agg_watermark_band(spark, tmp_path):
    """r11 ADVICE guard: the interval join delays the downstream
    aggregate's watermark by the 30-min join interval, so a day window
    emits iff window_end < min(max_c, max_b) − 1 h − 30 min STRICTLY.
    The fixture places max ts INSIDE the flagged (wm−30min, wm] band —
    where the old `end <= max(ts) − 1h` oracle would claim emission —
    and at the exact boundary, so the divergence surfaces
    deterministically instead of at a new scale factor."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from covid_19_data_analysis_bigdata_spark.streaming.ops import (
        run_to_table,
    )

    schema = _interval_fixture_schema()
    D = datetime

    def run(tag, minute):
        rows = [
            (1, D(2024, 3, 1, 10, 0), 1, "click", 1.0),
            (2, D(2024, 3, 1, 10, 10), 1, "purchase", 1.0),
            # max-ts drivers: one per side (each withWatermark sits
            # above its event_type filter, so only that side's rows
            # advance its watermark), non-matching users
            (3, D(2024, 3, 2, 1, minute), 99, "click", 1.0),
            (4, D(2024, 3, 2, 1, minute), 98, "purchase", 1.0),
        ]
        src = str(tmp_path / f"wmband_{tag}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        ev = spark.readStream.schema(schema).parquet(src)
        c, b = _interval_sides(ev)
        joined = c.join(
            b,
            F.expr(
                "b_user = c_user AND "
                "b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 30 MINUTES"
            ),
        )
        daily = joined.groupBy(F.window("c_ts", "1 day").alias("w")).agg(
            F.count(F.lit(1)).alias("conversions")
        )
        out = run_to_table(spark, daily, f"t_wmband_{tag}", "append", 4)
        return [(str(r.w.start), r.conversions) for r in out.collect()]

    # mx = 01:15 -> wm−30min = 00:15−30min < 00:00: inside the old
    # oracle's false-emission band; the window must be WITHHELD
    assert run("band", 15) == []
    # mx = 01:30 -> wm−30min = 00:00 == window end: strict boundary,
    # still withheld
    assert run("edge", 30) == []
    # mx = 01:31 -> wm−30min = 00:01 > 00:00: emitted
    assert run("past", 31) == [("2024-03-01 00:00:00", 1)]


def test_interval_join_watermark_uses_per_side_maxima(spark, tmp_path):
    """Pin for the oracle's `max(ts) FILTER (WHERE event_type = ...)`:
    each side's ``withWatermark`` sits ABOVE its event_type filter, so
    a later event of another type must NOT advance either watermark.
    The fixture's global max ts is a `view` event far past every
    click's expiry horizon — if the watermark were computed from the
    global max, the unmatched click would expire and emit a null row;
    with per-side maxima it stays buffered and emits nothing."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from covid_19_data_analysis_bigdata_spark.streaming.ops import (
        run_to_table,
    )

    schema = _interval_fixture_schema()
    D = datetime
    rows = [
        (1, D(2024, 3, 1, 10, 0), 5, "click", 1.0),  # no matching purchase
        (2, D(2024, 3, 1, 10, 1), 6, "purchase", 1.0),  # other user
        # global max ts, wrong type: contributes to NEITHER watermark
        (3, D(2024, 3, 5, 0, 0), 99, "view", 1.0),
    ]
    src = str(tmp_path / "perside")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    ev = spark.readStream.schema(schema).parquet(src)
    c, b = _interval_sides(ev)
    joined = c.join(
        b,
        F.expr(
            "b_user = c_user AND "
            "b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
        "left_outer",
    )
    out = run_to_table(spark, joined, "t_perside", "append", 4)
    # side maxima: click 10:00, purchase 10:01 -> wm = 09:01; the
    # click's horizon 10:30 > wm, so no null extension despite the
    # March-5 view event
    assert out.collect() == []


def test_single_stateful_window_flush_is_inclusive(spark, tmp_path):
    """Companion pin to test_join_windowed_agg_watermark_band: WITHOUT
    an upstream join, a windowed aggregate in append mode emits at the
    exact boundary — window_end == watermark flushes (inclusive),
    whereas the join-fed aggregate withholds at its boundary (strict).
    This asymmetry is why `stream_watermark_late` /
    `stream_chained_agg` oracles say `<=` while
    `stream_join_windowed_agg`'s says `<`: both spellings are
    empirically pinned, not stylistic."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from covid_19_data_analysis_bigdata_spark.streaming.ops import (
        run_to_table,
    )

    schema = _interval_fixture_schema()
    D = datetime
    rows = [
        (1, D(2024, 3, 1, 10, 5), 1, "click", 1.0),
        (2, D(2024, 3, 1, 10, 10), 1, "view", 1.0),
        # max ts exactly window_end + delay: wm == end of [10:00,11:00)
        (3, D(2024, 3, 1, 12, 0), 99, "view", 1.0),
    ]
    src = str(tmp_path / "flushinc")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    ev = spark.readStream.schema(schema).parquet(src)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = run_to_table(spark, agg, "t_flush_inclusive", "append", 4)
    got = sorted((str(r.w.start), r.cnt) for r in out.collect())
    assert got == [("2024-03-01 10:00:00", 2)]


def test_left_interval_join_emits_null_on_expiry(spark, tmp_path):
    """State-TIMEOUT semantics of the left outer interval join: an
    unmatched click must emit its null-extended row once the watermark
    strictly passes c_ts + 30 min — including when the click and the
    watermark-advancing events arrive in DIFFERENT micro-batches (the
    expiry fires in a later batch's state eviction, not at ingest).
    Boundary clicks (horizon == watermark) stay buffered and emit
    nothing."""
    import os
    from datetime import datetime

    from pyspark.sql import functions as F

    from covid_19_data_analysis_bigdata_spark.streaming.ops import (
        run_to_table,
    )

    schema = _interval_fixture_schema()
    D = datetime
    # final watermark: min-side max ts = 2024-03-02 01:15 -> wm 00:15
    batch_a = [
        (10, D(2024, 3, 1, 23, 0), 5, "click", 1.0),  # horizon 23:30 < wm
        (11, D(2024, 3, 1, 23, 45), 6, "click", 1.0),  # horizon == wm
        (12, D(2024, 3, 2, 0, 0), 7, "click", 1.0),  # horizon 00:30 > wm
        (13, D(2024, 3, 1, 10, 0), 8, "click", 1.0),  # matched pair
        (14, D(2024, 3, 1, 10, 10), 8, "purchase", 1.0),
    ]
    batch_b = [
        (15, D(2024, 3, 2, 1, 15), 99, "click", 1.0),
        (16, D(2024, 3, 2, 1, 15), 98, "purchase", 1.0),
    ]
    src = str(tmp_path / "lexp")
    for rows in (batch_a, batch_b):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    assert (
        len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 2
    )
    ev = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    c, b = _interval_sides(ev)
    joined = c.join(
        b,
        F.expr(
            "b_user = c_user AND "
            "b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
        "left_outer",
    )
    out = run_to_table(spark, joined, "t_left_expiry", "append", 4)
    got = {(r.c_id, r.b_id) for r in out.collect()}
    # click 10: expired -> null row; click 11: exact boundary, held;
    # clicks 12/15: horizon inside watermark, held; 13/14: matched
    assert got == {(10, None), (13, 14)}


def test_full_interval_join_expires_both_sides(spark, tmp_path):
    """Both null-extension classes of the FULL outer interval join,
    across micro-batches: an unmatched click expires iff c_ts + 30 min
    < wm strictly (same horizon as the left join), while an unmatched
    purchase expires iff b_ts < wm strictly — a DIFFERENT effective
    horizon, because ``b_ts >= c_ts`` means a purchase only becomes
    unmatchable once the watermark itself passes b_ts (no +30 min
    extension).  Boundary rows on EITHER side (click horizon == wm,
    purchase b_ts == wm) stay buffered and emit nothing.  The
    watermark-advancing anchors arrive in a LATER micro-batch, so both
    expiries fire in state eviction, not at ingest."""
    import os
    from datetime import datetime

    from pyspark.sql import functions as F

    from covid_19_data_analysis_bigdata_spark.streaming.ops import (
        run_to_table,
    )

    schema = _interval_fixture_schema()
    D = datetime
    # final per-side maxima: click 2024-03-02 01:15, purchase 01:20
    # -> wm = min - 1h = 2024-03-02 00:15
    batch_a = [
        # unmatched clicks (users with no purchases)
        (10, D(2024, 3, 1, 23, 0), 5, "click", 1.0),   # horizon 23:30 < wm
        (11, D(2024, 3, 1, 23, 45), 6, "click", 1.0),  # horizon == wm: held
        (12, D(2024, 3, 2, 0, 0), 7, "click", 1.0),    # horizon > wm: held
        # unmatched purchases (users with no clicks)
        (20, D(2024, 3, 2, 0, 0), 15, "purchase", 1.0),   # b_ts < wm
        (21, D(2024, 3, 2, 0, 15), 16, "purchase", 1.0),  # b_ts == wm: held
        (22, D(2024, 3, 2, 0, 30), 17, "purchase", 1.0),  # b_ts > wm: held
        # matched pair
        (13, D(2024, 3, 1, 10, 0), 8, "click", 1.0),
        (14, D(2024, 3, 1, 10, 10), 8, "purchase", 1.0),
    ]
    batch_b = [
        (30, D(2024, 3, 2, 1, 15), 99, "click", 1.0),
        (31, D(2024, 3, 2, 1, 20), 98, "purchase", 1.0),
    ]
    src = str(tmp_path / "fexp")
    for rows in (batch_a, batch_b):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 2
    ev = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    c, b = _interval_sides(ev)
    joined = c.join(
        b,
        F.expr(
            "b_user = c_user AND "
            "b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
        "full_outer",
    )
    out = run_to_table(spark, joined, "t_full_expiry", "append", 4)
    got = {(r.c_id, r.b_id) for r in out.collect()}
    assert got == {(10, None), (None, 20), (13, 14)}


def test_right_interval_join_expires_purchases(spark, tmp_path):
    """The RIGHT outer interval join's single null-extension class,
    across micro-batches: an unmatched purchase expires iff b_ts < wm
    STRICTLY (no +30 min extension — ``b_ts >= c_ts`` makes a purchase
    unmatchable only once the watermark passes b_ts itself); boundary
    purchases (b_ts == wm) stay buffered; unmatched CLICKS never emit
    anything, at any horizon.  The watermark-advancing anchors arrive
    in a LATER micro-batch, so expiry fires in state eviction, not at
    ingest."""
    import os
    from datetime import datetime

    from pyspark.sql import functions as F

    from covid_19_data_analysis_bigdata_spark.streaming.ops import (
        run_to_table,
    )

    schema = _interval_fixture_schema()
    D = datetime
    # final per-side maxima: click 2024-03-02 01:15, purchase 01:20
    # -> wm = min - 1h = 2024-03-02 00:15
    batch_a = [
        # unmatched clicks: must NEVER null-extend in a right join,
        # even when fully expired
        (10, D(2024, 3, 1, 23, 0), 5, "click", 1.0),   # horizon < wm
        (12, D(2024, 3, 2, 0, 0), 7, "click", 1.0),    # horizon > wm
        # unmatched purchases (users with no clicks)
        (20, D(2024, 3, 2, 0, 0), 15, "purchase", 1.0),   # b_ts < wm: expires
        (21, D(2024, 3, 2, 0, 15), 16, "purchase", 1.0),  # b_ts == wm: held
        (22, D(2024, 3, 2, 0, 30), 17, "purchase", 1.0),  # b_ts > wm: held
        # matched pair
        (13, D(2024, 3, 1, 10, 0), 8, "click", 1.0),
        (14, D(2024, 3, 1, 10, 10), 8, "purchase", 1.0),
    ]
    batch_b = [
        (30, D(2024, 3, 2, 1, 15), 99, "click", 1.0),
        (31, D(2024, 3, 2, 1, 20), 98, "purchase", 1.0),
    ]
    src = str(tmp_path / "rexp")
    for rows in (batch_a, batch_b):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 2
    ev = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    c, b = _interval_sides(ev)
    joined = c.join(
        b,
        F.expr(
            "b_user = c_user AND "
            "b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
        "right_outer",
    )
    out = run_to_table(spark, joined, "t_right_expiry", "append", 4)
    got = {(r.c_id, r.b_id) for r in out.collect()}
    assert got == {(None, 20), (13, 14)}


def test_left_interval_join_boundary_collision_storm(spark, tmp_path):
    """r12 verdict task 7: the expiry cutoff is STRICT (c_ts + 30 min
    < wm), and that must hold when THOUSANDS of clicks share the exact
    boundary timestamp across many user_id state partitions — guarding
    against any future Spark change to eviction-batch ordering deciding
    ties differently in different state stores.  2,000 clicks sit
    exactly ON the boundary (horizon == wm: all held), 2,000 one minute
    earlier (horizon < wm: all expire); the assertion is exact set
    equality, so ONE flipped row on either side of the tie fails."""
    import os
    from datetime import datetime

    from pyspark.sql import functions as F

    from covid_19_data_analysis_bigdata_spark.streaming.ops import (
        run_to_table,
    )

    schema = _interval_fixture_schema()
    D = datetime
    # final per-side maxima: click 2024-03-02 01:15, purchase 01:20
    # -> wm = 2024-03-02 00:15; boundary horizon == wm at c_ts 23:45
    n = 2000
    batch_a = (
        # event_ids 10000..11999: exact-boundary clicks, 500 distinct users
        [(10000 + i, D(2024, 3, 1, 23, 45), i % 500, "click", 1.0)
         for i in range(n)]
        # event_ids 20000..21999: one minute inside expiry, same users
        + [(20000 + i, D(2024, 3, 1, 23, 44), i % 500, "click", 1.0)
           for i in range(n)]
    )
    batch_b = [
        (30, D(2024, 3, 2, 1, 15), 9999, "click", 1.0),
        (31, D(2024, 3, 2, 1, 20), 9998, "purchase", 1.0),
    ]
    src = str(tmp_path / "storm")
    for rows in (batch_a, batch_b):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 2
    ev = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    c, b = _interval_sides(ev)
    joined = c.join(
        b,
        F.expr(
            "b_user = c_user AND "
            "b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
        "left_outer",
    )
    out = run_to_table(spark, joined, "t_boundary_storm", "append", 16)
    got = sorted(r.c_id for r in out.collect())
    assert got == sorted(20000 + i for i in range(n)), (
        f"expected exactly the {n} sub-boundary clicks to expire; got "
        f"{len(got)} rows, first/last {got[:2]}/{got[-2:]}"
    )


def test_interval_join_oracles_emit_nothing_on_single_type_data(
    spark, tmp_path
):
    """r12 ADVICE: DuckDB's ``least()`` ignores NULLs, so on degenerate
    single-type data (e.g. clicks only) an unguarded oracle's watermark
    falls back to the present side's max and emits expiry rows/windows
    — while Spark's min-of-per-side-watermarks never initializes and
    emits NOTHING.  The oracles now guard with CASE ... IS NULL; this
    runs BOTH engines end-to-end through the registered queries on a
    clicks-only events table and asserts both are empty."""
    import duckdb as _duck
    from pyspark.sql import functions as F

    from covid_19_data_analysis_bigdata_spark.core import (
        ORACLES,
        QUERIES,
        load_all,
    )

    load_all()

    # clicks-only events spanning two days: an UNGUARDED oracle would
    # expire the first click (horizon 3/1 10:30 << 3/3 09:00)
    rows = [
        (1, "2024-03-01 10:00:00", 5, "click", 1.0, "{}"),
        (2, "2024-03-03 10:00:00", 6, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, "
        "event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sf_dir = str(tmp_path / "solo")
    df.coalesce(1).write.parquet(str(tmp_path / "solo_stage"))
    import glob
    import os
    import shutil

    os.makedirs(sf_dir)
    part = glob.glob(str(tmp_path / "solo_stage" / "*.parquet"))[0]
    shutil.copy(part, os.path.join(sf_dir, "events.parquet"))

    con = _duck.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'events.parquet')}')"
    )
    for qid in (
        "stream_interval_join_left",
        "stream_interval_join_full",
        "stream_join_windowed_agg",
    ):
        assert con.sql(ORACLES[qid]).fetchall() == [], (
            f"{qid}: guarded oracle must emit nothing on clicks-only data"
        )
        assert QUERIES[qid](spark, sf_dir).collect() == [], (
            f"{qid}: Spark emits nothing when one side never initializes"
        )


def test_compare_sweeps_parses_both_line_shapes(tmp_path):
    """tools/compare_sweeps.py must parse PASS lines with the
    spark/oracle split AND WEAK lines without it (weak checks print no
    oracle timing), and survive the progress-bar junk check.py leaves
    on the same physical line."""
    import sys

    sys.path.insert(0, str(PKG.parent / "tools"))
    from compare_sweeps import parse

    art = tmp_path / "CHECK_x.txt"
    # Every line below is a shape check.py ACTUALLY emits (r13 ADVICE:
    # the old fixture pinned a FAIL-with-timing shape that check.py
    # never prints, so real failures fell out of the census).
    art.write_text(
        "[Stage 3:===>   (1 + 2) / 4]  "
        "PASS agg_groupby: rows=4 (1.2s; spark=1.0s oracle=0.2s)\n"
        "WEAK agg_approx_distinct: rows=7 cols=['a', 'b'] (0.8s)\n"
        "FAIL broken_spark: spark error: AnalysisException: no column\n"
        "FAIL broken_duck: duckdb error: BinderException: nope\n"
        "FAIL broken_vals: rowcount spark=3 oracle=4 | values differ "
        "in 2 rows; spark-only=('x',) oracle-only=('y',)\n"
        "525 pass, 5 weak, 0 fail / 530 total\n"
    )
    got = parse(str(art))
    assert got["agg_groupby"] == {
        "status": "PASS", "total": 1.2, "spark": 1.0, "oracle": 0.2
    }
    assert got["agg_approx_distinct"]["status"] == "WEAK"
    assert got["agg_approx_distinct"]["spark"] is None
    assert got["agg_approx_distinct"]["total"] == 0.8
    for q in ("broken_spark", "broken_duck", "broken_vals"):
        assert got[q]["status"] == "FAIL"
        assert got[q]["total"] is None
    assert len(got) == 5


def test_compare_sweeps_censuses_pass_to_fail(tmp_path, capsys):
    """A genuine PASS->FAIL flip must surface in STATUS CHANGES even
    though the FAIL line carries no timing (it must not silently drop
    into only-old)."""
    import sys

    sys.path.insert(0, str(PKG.parent / "tools"))
    import compare_sweeps

    old = tmp_path / "CHECK_a.txt"
    new = tmp_path / "CHECK_b.txt"
    old.write_text("PASS q1: rows=4 (1.0s; spark=0.8s oracle=0.2s)\n"
                   "PASS q2: rows=4 (2.0s; spark=1.8s oracle=0.2s)\n")
    new.write_text("FAIL q1: spark error: Py4JJavaError: boom\n"
                   "PASS q2: rows=4 (2.1s; spark=1.9s oracle=0.2s)\n")
    sys.argv = ["compare_sweeps.py", str(old), str(new)]
    compare_sweeps.main()
    out = capsys.readouterr().out
    assert "q1: PASS -> FAIL" in out
    assert "only-new=none" in out and "only-old=none" in out


def test_bench_previous_total_ignores_uncommitted_artifacts():
    """r12 ADVICE: the regression trigger's baseline must come from the
    last COMMIT, not the working tree — the driver writes the current
    round's BENCH artifact into the working tree before committing it,
    and a directory listing would make the trigger compare the run
    against its own round.  Pin: a planted uncommitted higher-numbered
    artifact changes nothing."""
    import json
    import os
    import subprocess
    import sys

    sys.path.insert(0, str(PKG.parent))
    import bench

    repo = str(PKG.parent)
    committed = subprocess.run(
        ["git", "-C", repo, "ls-tree", "--name-only", "HEAD"],
        capture_output=True, text=True, check=True, timeout=30,
    ).stdout.split()
    # Match bench._previous_committed_total's own filename rule: strict
    # BENCH_r<N>.json only — the driver also commits side artifacts like
    # BENCH_r14_c8.json (the 8-core scaling run) that the reader ignores
    # and a naive split() would trip over (r15 inherited-state fix).
    import re

    rounds = [
        int(m.group(1))
        for n in committed
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", n))
    ]
    assert rounds, "no committed BENCH artifacts — cannot pin the reader"
    baseline = bench._previous_committed_total()
    assert baseline is not None
    planted = os.path.join(repo, f"BENCH_r{max(rounds) + 500}.json")
    assert not os.path.exists(planted)
    try:
        with open(planted, "w") as fh:
            json.dump({"metric": "planted", "value": 0.001}, fh)
        assert bench._previous_committed_total() == baseline, (
            "reader consulted the working tree instead of HEAD"
        )
    finally:
        os.remove(planted)


def test_bench_ab_reference_obeys_canary_discipline(monkeypatch):
    """r13 verdict task 5: the matched-conditions A/B accepted a
    reference re-bench with canary spread 2.279 — above the 1.8
    threshold that forces a re-measure on the primary path.  Pin: when
    the reference child's spread exceeds CANARY_SPREAD_MAX the child is
    re-run once, the lower-spread attempt is the one ratioed, and every
    reference attempt's spread lands in ``ref_attempt_spreads``."""
    import sys

    sys.path.insert(0, str(PKG.parent))
    import bench

    attempts = [
        {"value": 60.0, "canary_spread": 2.3},   # noisy first reference
        {"value": 40.0, "canary_spread": 1.2},   # clean re-measure
    ]
    calls = []

    def fake_child(repo, wt, sf_dir):
        calls.append(wt)
        return attempts[len(calls) - 1], None

    monkeypatch.setattr(bench, "_run_child_bench", fake_child)
    monkeypatch.setattr(
        bench, "_previous_round_ref", lambda repo: ("deadbeef", "tag")
    )
    monkeypatch.setattr(bench, "_git", lambda *a, **k: "")

    out = bench._matched_conditions_ab(40.0, "/root/testdata/sf0.1")
    assert len(calls) == 2, "noisy reference must be re-measured once"
    assert out["ref_attempt_spreads"] == [2.3, 1.2]
    assert out["prev_total_sec"] == 40.0, "lower-spread attempt must win"
    assert out["prev_canary_spread"] == 1.2
    assert out["matched_conditions_ratio"] == 1.0

    # Clean first attempt: exactly one child run, no re-measure.
    calls.clear()
    attempts[:] = [{"value": 50.0, "canary_spread": 1.1}]
    out2 = bench._matched_conditions_ab(40.0, "/root/testdata/sf0.1")
    assert len(calls) == 1
    assert out2["ref_attempt_spreads"] == [1.1]
    assert out2["prev_total_sec"] == 50.0


class TestDfCappedPostingPairs:
    """Round-11 hardening (r10 ADVICE): the inverted-index candidate
    generator prunes hot grams with a constant-state count aggregate
    BEFORE any posting list is collected, so no aggregation buffer
    ever holds a hot gram's full posting."""

    def _pairs(self, spark, rows, cap):
        from covid_19_data_analysis_bigdata_spark.operators import textprep

        tok = spark.createDataFrame(rows, "doc_id long, g string")
        return sorted(
            (r.a_id, r.b_id)
            for r in textprep._df_capped_posting_pairs(tok, cap).collect()
        )

    def test_hot_gram_pruned_rare_gram_kept(self, spark):
        rows = [(i, "hot") for i in range(10)] + [(1, "rare"), (7, "rare")]
        got = self._pairs(spark, rows, cap=4)
        assert got == [(1, 7)]  # hot's 45 pairs pruned, singleton-free

    def test_singleton_grams_emit_nothing(self, spark):
        got = self._pairs(spark, [(1, "a"), (2, "b")], cap=4)
        assert got == []

    def test_count_prefilter_precedes_collect(self, spark):
        # The optimized plan must filter on the count aggregate's df
        # BEFORE the collect_list aggregate — never a size() filter on
        # collected arrays (the unbounded-buffer shape this replaced).
        from covid_19_data_analysis_bigdata_spark.operators import textprep

        tok = spark.createDataFrame([(1, "a")], "doc_id long, g string")
        op = (
            textprep._df_capped_posting_pairs(tok, 4)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "collect_list" in op
        assert "size(collect_list" not in op  # cap is not a post-filter
        assert "LeftSemi" in op  # the de-hinted rare-gram semi-join
        # Positive ordering property (r11 ADVICE: substring absence
        # proves one spelling is gone, not that the prefilter ordering
        # holds).  In the printed tree children (upstream inputs)
        # appear BELOW their consumers, so the df Filter must sit
        # after the collect_list Aggregate (it feeds the semi-join
        # that gates collection) and before the count Aggregate that
        # defines df (it consumes that aggregate's output).
        import re

        lines = op.splitlines()
        i_collect = next(
            i for i, ln in enumerate(lines) if "collect_list" in ln
        )
        i_filter = next(
            i
            for i, ln in enumerate(lines)
            if re.search(r"Filter .*\bdf#\d+L? >=", ln)
        )
        i_count = next(
            i
            for i, ln in enumerate(lines)
            if re.search(r"count\(1\) AS df#\d+", ln)
        )
        assert i_collect < i_filter < i_count, (
            "df prefilter is not between the collect_list consumer and "
            f"the count aggregate: {i_collect=} {i_filter=} {i_count=}"
        )


def test_no_duplicate_module_constants():
    """Round-9 tripwire: a second top-level assignment to an
    ALL_CAPS constant inside an operators module silently desyncs
    every EARLIER query's runtime behavior from its import-time-baked
    oracle f-string (observed: a batch-75 COVERAGE_KS redefinition
    broke llm_tokenizer_coverage, caught only by the full sweep).
    Constants are define-once per module."""
    import ast
    import glob
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "covid_19_data_analysis_bigdata_spark",
    )
    offenders = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        seen = set()
        for node in ast.parse(open(path).read()).body:
            targets = []
            if isinstance(node, ast.Assign):
                targets = [
                    t.id for t in node.targets if isinstance(t, ast.Name)
                ]
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                targets = [node.target.id]
            for name in targets:
                if name.isupper():
                    if name in seen:
                        offenders.append(f"{os.path.basename(path)}:{name}")
                    seen.add(name)
    assert not offenders, offenders


# --------------------------------------------------------------------------
# Round-10 (r9 advice, medium): llm_sparse_cosine minoverlap recall contract
# --------------------------------------------------------------------------

class TestSparseCosineMinoverlapContract:
    """Pin the recall trade of llm_sparse_cosine's candidate stage.

    The DuckDB oracle embeds the SAME ``n_shared >= SPARSE_CAND_MIN_SHARED``
    approximation as the Spark plan, so the sweep can never detect
    recall loss on a new data distribution — PASS certifies agreement,
    not exhaustiveness.  This fixture makes the trade observable: one
    true near-dup pair (exact cosine ~0.996, brute-force-verified in
    the test itself) shares exactly MIN_SHARED-1 sub-cap grams and is
    EXPECTED-MISS; its 5-shared twin is EXPECTED-HIT.  If anyone
    retunes SPARSE_CAND_MIN_SHARED or the candidate cap, this test
    states exactly which qualifying pairs start (or stop) surfacing.
    """

    def _fixture_dir(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        # Pair (1, 2): 4-word cycle -> exactly 4 shared trigram types.
        t1 = " ".join(["qa qb qc qd"] * 10)
        t2 = t1 + " qx qy qz"  # 3 unique boundary trigrams, tf=1 each
        # Pair (3, 4): 5-word cycle -> exactly 5 shared trigram types.
        t3 = " ".join(["pa pb pc pd pe"] * 8)
        t4 = t3 + " pu pv pw"
        texts = [t1, t2, t3, t4]
        tbl = pa.table(
            {
                "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * 4, pa.string()),
                "source": pa.array(["src0"] * 4, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        return str(tmp_path)

    @staticmethod
    def _trigram_counts(text):
        ws = text.split(" ")
        out = {}
        for i in range(len(ws) - 2):
            g = " ".join(ws[i : i + 3])
            out[g] = out.get(g, 0) + 1
        return out

    def test_expected_miss_and_hit_pinned(self, spark, tmp_path):
        import math

        from covid_19_data_analysis_bigdata_spark.operators import retrieval

        sf = self._fixture_dir(tmp_path)
        # Brute-force ground truth: BOTH pairs qualify (cosine >= tau).
        c1, c2 = self._trigram_counts(
            " ".join(["qa qb qc qd"] * 10)
        ), self._trigram_counts(" ".join(["qa qb qc qd"] * 10) + " qx qy qz")
        shared = set(c1) & set(c2)
        assert len(shared) == retrieval.SPARSE_CAND_MIN_SHARED - 1
        dot = sum(c1[g] * c2[g] for g in shared)
        cos = dot / math.sqrt(
            sum(v * v for v in c1.values()) * sum(v * v for v in c2.values())
        )
        assert cos >= retrieval.SPARSE_TAU, cos  # a TRUE near-dup...
        got = {
            (r.a_id, r.b_id)
            for r in retrieval.llm_sparse_cosine(spark, sf).collect()
        }
        # ...that the minoverlap candidate gate drops by contract:
        assert (1, 2) not in got, (
            "pair sharing MIN_SHARED-1 capped grams surfaced — the "
            "candidate gate semantics changed; update the docstring "
            "recall note and this pin together"
        )
        # while the >=MIN_SHARED twin with the same construction hits:
        assert (3, 4) in got, (
            "pair sharing exactly MIN_SHARED capped grams was dropped — "
            "recall regressed below the documented contract"
        )


def test_attribution_rejects_reserved_state_names(spark, tmp_path):
    """Round-10 advice fix: an event_type equal to a reserved Markov
    state name ('start'/'conv'/'null'/'base') would silently merge with
    the synthetic state in BOTH engines — the oracle can't see it, so
    the plan must fail loudly instead."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from covid_19_data_analysis_bigdata_spark.operators.attribution import (
        events_markov_removal_attribution,
    )

    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000 + i for i in range(3)],
                           pa.timestamp("us")),
            "user_id": pa.array([7, 7, 7], pa.int64()),
            "event_type": pa.array(["view", "null", "purchase"], pa.string()),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(["{}"] * 3, pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    with pytest.raises(Exception, match="reserved Markov state"):
        events_markov_removal_attribution(spark, str(tmp_path)).collect()
