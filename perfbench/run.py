"""Layer-attributed benchmark of the engine's registered queries.

    python3 perfbench/run.py --workload covid_reports --seed 1 --seconds 10 --trace 0

One closed-loop client (this process's main thread) runs a workload's
queries at sf0.1 on ``local[nproc]``: each query is built, executed and
returned with ``toPandas()``, and the next is submitted only after it
returned.  A *pass* runs every query of the workload once, in an order
permuted by ``--seed``; both cache registries are cleared at the start of
each pass.  A run is:

1. set-up: process start until the session is up and ``core.load_all()``
   has returned;
2. the cold pass, then the oracle gate on its results (not timed);
3. the workload's settling passes, checked but not reported: the JIT keeps
   compiling for several passes after the cold one, and a pass measured on
   that slope reads 20-40% slow by an amount that depends on how busy the
   host is.  They are counted in passes, not seconds, because the JIT warms
   by invocations: on a busy host a time limit would settle fewer passes;
4. measured warm passes until ``--seconds`` of their pass time have run, and
   at least :data:`MIN_WARM` untraced ones.  ``pass_s`` and ``cpu_s`` are
   those of a median pass: each query's median over the untraced measured
   passes, summed over the queries, so one slow pass or one slow query does
   not move the figure.  With ``--trace 1`` untraced and traced warm passes
   alternate (untraced, traced, untraced, ...), and the layer metrics of
   the traced passes are reported with the tracing overhead.

The last stdout line is the JSON result; the full per-query record of the
run goes to ``.perfbench/results/``.  Scratch writes (fixtures, the
warehouse, Spark local dirs, JVM temp files) stay under ``.perfbench/`` and
are removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "covid_19_data_analysis_bigdata_spark"
SCRATCH = ROOT / ".perfbench"
#: Untraced warm passes a run measures at least.
MIN_WARM = 2

sys.path[:0] = [str(HERE), str(ROOT)]

from layers import (  # noqa: E402
    SourcesProbe,
    catalyst_ms,
    fingerprint,
    peak_rss_mb,
    process_age_s,
    steal_ticks,
    to_pandas_keeping_arrow,
    tree_bytes,
)
from ledger import SparkStatus, StageDelta  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def start_engine() -> tuple[object, dict[str, float]]:
    """Bring the session up and load the query registry; time each step."""
    t0 = time.perf_counter()
    from covid_19_data_analysis_bigdata_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    from covid_19_data_analysis_bigdata_spark import core

    core.load_all()
    t2 = time.perf_counter()
    return spark, {
        "setup_s": process_age_s(),
        "get_spark_s": t1 - t0,
        "load_all_s": t2 - t1,
    }


def stop_engine(spark) -> None:
    """Stop the session and wait for its JVM (and the JVM's workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway.proc.poll() is not None:
        return
    spark.stop()
    # Disconnect py4j first: Python objects collected after the JVM is gone
    # then skip their release calls instead of logging connection errors.
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    gateway.proc.wait(timeout=60)


def prepare_scratch() -> Path:
    """Point every temp and output location of Python, the JVM and Spark at
    a per-run directory under ``.perfbench/``, and make it the cwd so the
    default ``spark-warehouse`` lands there too."""
    work = SCRATCH / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    # local[nproc]: an inherited value would benchmark another shape.
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.chdir(work)
    return work


def sha256_files(paths: list[Path]) -> str:
    """Content hash of files (name and bytes), independent of their mtimes."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def provenance(spark, args, sf_dir: str) -> dict:
    git_sha = None
    if (ROOT / ".git").exists():
        git_sha = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip() or None
    return {
        "git_sha": git_sha,
        "program_sha256": sha256_files(
            list((ROOT / PACKAGE).rglob("*.py")) + [ROOT / "__spark_entry__.py"]
        ),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "seed": args.seed,
        "workload": args.workload,
        "sf_dir": sf_dir,
        "data_sha256": sha256_files(list(Path(sf_dir).glob("*.parquet"))),
    }


class Runner:
    """Runs passes of one workload and keeps the per-query records."""

    def __init__(self, spark, queries, order, sf_dir, workload, work: Path) -> None:
        from covid_19_data_analysis_bigdata_spark import cache
        from covid_19_data_analysis_bigdata_spark.sources import io

        self.spark, self.queries, self.order = spark, queries, order
        self.sf_dir, self.workload, self.work = sf_dir, workload, work
        self.cache, self.io = cache, io
        self.status = SparkStatus(spark)
        self.sources = SourcesProbe(io)
        self.cores = spark.sparkContext.defaultParallelism
        self.status.stage_delta()  # count nothing that ran before the first pass
        self.status.new_jobs()

    def run_pass(self, index: int, traced: bool) -> dict:
        name = f"pass-{index}" if self.workload.fresh_fixtures else "shared"
        root = self.work / "fixtures" / name
        self.io.FIXTURE_ROOT = str(root)
        written_before = tree_bytes(str(root))
        self.cache.clear_cache()
        self.spark.catalog.clearCache()
        gc.collect()  # leave no garbage of the previous pass or the gate to this one
        cache_before = self.cache.cache_stats()
        if traced:
            self.sources.install()
        try:
            records = [self.run_query(q, traced) for q in self.order]
        finally:
            self.sources.remove()
        cache_after = self.cache.cache_stats()
        return {
            "index": index,
            "traced": traced,
            "fixture_root": str(root),
            "wall_s": sum(r["build_s"] + r["action_s"] for r in records),
            "cpu_s": sum(r["stages"]["cpu_s"] for r in records),
            "bytes_written": tree_bytes(str(root)) - written_before,
            "cache": {
                "hits": cache_after["hits"] - cache_before["hits"],
                "misses": cache_after["misses"] - cache_before["misses"],
                "live": cache_after["live"],
            },
            "queries": records,
        }

    def run_query(self, name: str, traced: bool) -> dict:
        """Build and ``toPandas()`` one query; only those two calls are timed.

        ``stages`` holds every stage the query fired.  A traced query splits
        them into the ``build`` call's and the action's; an untraced one
        reads the status store only after the action, outside the timing.
        """
        rec: dict = {"query": name, "error": None, "build_s": 0.0, "action_s": 0.0}
        df = pdf = batches = None
        build = StageDelta()
        t0 = time.perf_counter()
        try:
            df = self.queries[name](self.spark, self.sf_dir)
            rec["build_s"] = time.perf_counter() - t0
            if traced:
                build = self.status.stage_delta()
                rec["build_jobs"] = self.status.new_jobs()
            t1 = time.perf_counter()
            pdf, batches = to_pandas_keeping_arrow(df)
            rec["action_s"] = time.perf_counter() - t1
        except Exception as exc:  # a failed query is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:2000]
        execute = self.status.stage_delta()
        jobs = self.status.new_jobs()
        rec["stages"] = vars(StageDelta().add(build).add(execute))
        if traced:
            rec.setdefault("build_jobs", jobs)
            rec["sources"] = self.sources.take()
            rec["build"], rec["exec"] = vars(build), vars(execute)
        if pdf is not None:
            rec["rows"] = len(pdf)
            rec["fingerprint"] = fingerprint(pdf)
            rec["arrow_mb"] = sum(b.nbytes for b in batches) / 2**20
            if traced:
                rec["catalyst_ms"] = catalyst_ms(df)
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                rec["noop_s"] = time.perf_counter() - t2
                self.status.stage_delta()  # the noop execute is not the query's
                self.status.new_jobs()
        rec["_df"], rec["_batches"] = df, batches
        return rec

    def finish_pass(self, p: dict) -> None:
        """Drop the pass's frames and Arrow batches, and a per-pass fixture root."""
        for r in p["queries"]:
            del r["_df"], r["_batches"]
        if self.workload.fresh_fixtures:
            shutil.rmtree(p["fixture_root"], ignore_errors=True)


def median_pass(passes: list[dict], value) -> float:
    """Sum over the queries of each query's median ``value`` over the passes."""
    per_query: dict[str, list[float]] = {}
    for p in passes:
        for r in p["queries"]:
            per_query.setdefault(r["query"], []).append(value(r))
    return sum(median(v) for v in per_query.values())


def layer_metrics(passes: list[dict], setup: dict, cores: int) -> dict:
    """Per-layer metrics of each traced pass (see README.md for each one)."""
    per_pass = []
    for p in passes:
        qs, ok = p["queries"], [q for q in p["queries"] if q["error"] is None]
        ex = {k: sum(q["exec"][k] for q in qs) for k in vars(StageDelta())}
        src = {k: sum(q["sources"][k] for q in qs) for k in qs[0]["sources"]}
        cat = {k: sum(q["catalyst_ms"][k] for q in ok) for k in ("analysis", "optimization", "planning")}
        action_s = sum(q["action_s"] for q in qs)
        hits, misses = p["cache"]["hits"], p["cache"]["misses"]
        per_pass.append({
            "operators.build_s": sum(q["build_s"] for q in qs),
            "operators.build_jobs": sum(q["build_jobs"] for q in qs),
            "operators.build_cpu_s": sum(q["build"]["cpu_s"] for q in qs),
            "cache.hits": hits,
            "cache.misses": misses,
            "cache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
            "cache.live": p["cache"]["live"],
            "sources.load_table_calls": src["load_table_calls"],
            "sources.load_table_s": src["load_table_s"],
            "sources.spread_repartitions": src["spread_repartitions"],
            "sources.fixture_dir_s": src["fixture_dir_s"],
            "sources.bytes_written_mb": p["bytes_written"] / 2**20,
            "catalyst.analysis_ms": cat["analysis"],
            "catalyst.optimization_ms": cat["optimization"],
            "catalyst.planning_ms": cat["planning"],
            "exec.action_s": action_s,
            "exec.cpu_s": ex["cpu_s"],
            "exec.run_s": ex["run_s"],
            "exec.gc_s": ex["gc_s"],
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "exec.shuffle_read_mb": ex["shuffle_read_mb"],
            "exec.shuffle_write_mb": ex["shuffle_write_mb"],
            "exec.spill_mb": ex["spill_mb"],
            "exec.parallel_eff": ex["cpu_s"] / (action_s * cores) if action_s else 0.0,
            "arrow.transfer_s": sum(q["action_s"] - q["noop_s"] for q in ok),
            "arrow.result_rows": sum(q["rows"] for q in ok),
            "arrow.result_mb": sum(q["arrow_mb"] for q in ok),
        })
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out["session.get_spark_s"] = setup["get_spark_s"]
    out["core.load_all_s"] = setup["load_all_s"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not (ROOT / PACKAGE).is_dir() or not (ROOT / "tools" / "check.py").is_file():
        sys.exit(f"{ROOT} holds no {PACKAGE}/ package and tools/check.py to benchmark")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    work = prepare_scratch()
    spark = None
    try:
        spark, setup = start_engine()
        return run(spark, setup, spec, args, work)
    finally:
        if spark is not None:
            stop_engine(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def run(spark, setup, spec, args, work: Path) -> int:
    import __spark_entry__ as entry
    from pyspark import SparkContext

    from oracle import OracleGate

    sf_dir = os.path.join(os.path.dirname(entry.SMOKE_SF_DIR), "sf0.1")
    if not os.path.isdir(sf_dir):
        sys.exit(f"no test data at {sf_dir}")
    workload = WORKLOADS[args.workload]
    order = random.Random(args.seed).sample(workload.queries, len(workload.queries))
    prov = provenance(spark, args, sf_dir)
    runner = Runner(spark, entry.queries(), order, sf_dir, workload, work)
    jvm_pid = SparkContext._gateway.proc.pid

    timeline = {"setup": process_age_s()}
    steal_before = steal_ticks()
    cold = runner.run_pass(0, traced=False)
    timeline["cold_pass"] = process_age_s()
    gate = OracleGate(sf_dir, entry.oracle_sql(), SCRATCH / "oracle", prov["data_sha256"], ROOT)
    verdicts = {}
    for r in cold["queries"]:
        if r["error"] is not None:
            verdicts[r["query"]] = [f"spark error: {r['error']}"]
        else:
            verdicts[r["query"]] = gate.problems(
                r["query"], r["_df"].columns, r["_df"].schema, r["_batches"]
            )
    gate.close()
    runner.finish_pass(cold)
    timeline["oracle_gate"] = process_age_s()

    settle: list[dict] = []
    for index in range(1, workload.settle_passes + 1):
        p = runner.run_pass(index, traced=False)
        runner.finish_pass(p)
        settle.append(p)
    timeline["settle_passes"] = process_age_s()
    warm: list[dict] = []
    while (
        sum(not p["traced"] for p in warm) < MIN_WARM
        or sum(p["wall_s"] for p in warm) < args.seconds
    ):
        p = runner.run_pass(
            len(settle) + len(warm) + 1, traced=len(warm) % 2 == 1 and bool(args.trace)
        )
        runner.finish_pass(p)
        warm.append(p)
    timeline["warm_passes"] = process_age_s()
    steal, total = (b - a for a, b in zip(steal_before, steal_ticks()))
    # Share of the host's CPU time taken by other guests while the passes
    # ran: sets of runs taken under different steal are not comparable.
    prov["steal_frac"] = steal / total if total else 0.0
    rss_mb = peak_rss_mb(os.getpid()) + peak_rss_mb(jvm_pid)

    # An execution fails when it raised, when its query failed the oracle
    # gate, or when its result differs from the gate-checked cold result.
    reference = {r["query"]: r.get("fingerprint") for r in cold["queries"]}
    attempted = failed = 0
    for p in [cold] + settle + warm:
        for r in p["queries"]:
            r["ok"] = (
                r["error"] is None
                and not verdicts[r["query"]]
                and r["fingerprint"] == reference[r["query"]]
            )
            attempted += 1
            failed += not r["ok"]

    if args.trace:
        traced = [p for p in warm if p["traced"]]
        values = layer_metrics(traced, setup, runner.cores)
        # Each traced pass against the untraced pass right after it, which
        # any remaining warm-up trend favours: an overestimate, not a mask.
        values["trace.overhead_s"] = median([
            p["wall_s"] - warm[i + 1]["wall_s"]
            for i, p in enumerate(warm[:-1]) if p["traced"]
        ])
        values["peak_rss_mb"] = rss_mb
        values["failed_frac"] = failed / attempted
        declared = spec["per_layer"]
    else:
        untraced = [p for p in warm if not p["traced"]]
        values = {
            "setup_s": setup["setup_s"],
            "cold_pass_s": cold["wall_s"],
            "pass_s": median_pass(untraced, lambda r: r["build_s"] + r["action_s"]),
            "cpu_s": median_pass(untraced, lambda r: r["stages"]["cpu_s"]),
        }
        declared = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}

    results = SCRATCH / "results"
    results.mkdir(parents=True, exist_ok=True)
    artifact = results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    artifact.write_text(json.dumps({
        "provenance": prov,
        "order": order,
        "oracle": verdicts,
        "setup": setup,
        "peak_rss_mb": rss_mb,
        "timeline_s": timeline,
        "passes": [cold] + settle + warm,
        "metrics": metrics,
    }, indent=1))
    print("provenance " + json.dumps(prov))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
