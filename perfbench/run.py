"""Closed-loop query-stream benchmark for the insight_patents_spark engine.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 20 --trace 0

One client issues one query at a time to one SparkSession built by
``session.get_spark`` at ``local[<half the cpus of this process>]``. Each query
is a registered operator: its ``QuerySpec.fn(spark, data_dir)`` call
(the operator layer) and the noop-sink ``save()`` of the DataFrame it
returns are timed from outside; ``runtime.release_ephemeral`` runs after
each query, outside the timed window.

Inputs: the ten engine tables are generated by ``datagen.py`` at a
fixed scale and data seed into ``perfbench/.work/`` (once per
checkout). ``--seed`` sets only the order of each pass over the
workload's fixed query list, so every seed does the same work. After
the set-up (see WORKLOADS below) a run times ``round(--seconds / pass_s)``
passes, at least three; a query run the host disturbed is repeated
(see STEAL_MAX). The timings are built from each query's median
latency over the passes (``query_medians``).

Output check: every timed write carries ``DataFrame.observe`` with the
row count and ``sum(xxhash64(columns in name order) & 0xFFFFFFFF)``,
computed by the write job itself (no extra job). The pair must equal
the one recorded in ``expected.json`` for the generated data's stamp;
``record.py`` records it only from outputs that match the DuckDB oracle.
A query fails if it raises or its digest differs.

The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run enables the
Spark event log and tags every job with the query and phase, and the
metrics are the per-layer ones (see ``eventlog.py``). Everything else,
including per-query rows, goes to stderr and ``.work/last_<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shlex
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

T_PROCESS = time.perf_counter()

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
SF = 0.01

# Set-up, timed by setup_s, runs in this order:
# - the Python worker self-test (_check_worker_imports): the session's
#   first job, so it also pays the JVM's first-query class loading, and
#   it starts the worker pool;
# - the workload's shared-artifact owners (bench.py's _cache_warm): the
#   first query that touches a shared cache builds it, so the owners run
#   here and the timed queries read the cache in whatever order the seed
#   gives them. graph_build: pair/edge cache of the graph operators;
# - the workload's "warm" untimed passes over its queries: a query's
#   first run in a process pays its own codegen (that pass is 1.5-2x
#   slower than the next).
#
# Then round(--seconds / pass_s) timed passes, at least three. The JIT
# keeps cutting a pass's CPU for eight passes and more (olap: 22 to
# 11 CPU-s), longer than the benchmark's time budget can wait out, so
# the count is fixed for given --seconds and does not depend on measured
# times: every run, on every commit, times the same passes of the same
# warm-up curve. pass_s is about the workload's warm pass time on 2 Spark
# cores at SF 0.01; the benchmark's runs share a fixed time budget, so a
# run, set-up included, stays under a minute at --seconds 18.
#
# A query run during which the hypervisor ran other guests for more than
# STEAL_MAX of this machine's CPU time (steal in /proc/stat) timed the
# host more than the program: on a shared 4-core VM, olap runs with 7-15%
# steal read 30-45% slower in every query, those with 0.5-2.5% steal
# within the usual spread. Such a run is repeated at once, up to
# RETRIES_PER_QUERY times and RETRIES_PER_QUERY passes' worth of queries
# per benchmark run, and the least disturbed attempt counts. Repeating
# the query at once, rather than adding passes at the end, keeps every
# attempt at the same point of the JIT warm-up curve.
STEAL_MAX = 0.04
RETRIES_PER_QUERY = 2
WORKLOADS: dict[str, dict] = {
    # Picked by mechanism from the agg_* and join_* families: heavy hash
    # aggregation (agg_basket_triples), windows (agg_cohort_ltv,
    # agg_dau_mau), percentiles (agg_iqr_outliers), unpivot, and salted
    # skew, shuffle-hash and runtime-bloom-filter joins. JVM-only: no
    # Python workers, no shared artifacts, no writes, so Python-kernel,
    # shared-artifact and stage-count changes should read flat here.
    "olap": {
        "artifacts": (),
        "queries": (
            "agg_basket_triples", "agg_cohort_ltv", "agg_dau_mau",
            "agg_iqr_outliers", "agg_unpivot", "join_skew_salted",
            "join_shuffle_hash", "join_runtime_bloom",
        ),
        "warm": 1,
        "pass_s": 6.0,
    },
    # Picked by mechanism, one or two queries each: driver loops with
    # eager localCheckpoint builds over the shared graph_build cache
    # (graph_pagerank, graph_bfs_khop), micro-batches with pickled
    # per-group state (stream_stateful_custom), a numpy kernel over
    # Arrow batches (vec_mips), a row-at-a-time Python UDF
    # (udf_python_scalar) and Arrow batches through mapInArrow
    # (udtf_map_in_arrow).
    "python_graph": {
        "artifacts": ("graph_build",),
        "queries": (
            "graph_pagerank", "graph_bfs_khop", "stream_stateful_custom",
            "vec_mips", "udf_python_scalar", "udtf_map_in_arrow",
        ),
        "warm": 1,
        "pass_s": 6.0,
    },
}


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _environment(run_dir: Path, trace: bool) -> None:
    """Size the session to this machine and keep every file it writes
    inside the run directory. Must run before the JVM starts."""
    # Half the CPUs this process may use run Spark tasks; the other half
    # keep the JVM's JIT and GC threads, the driver and the Python workers
    # from queueing behind them. On a shared host a stage waits for its
    # slowest task, and with a task thread on every core any core the host
    # takes away stalls the stage. The queries are overhead-bound at this
    # scale: at local[4] on 4 cores olap was no faster (7.4-7.7 s a pass
    # against 6.8 s at local[2]).
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    # get_spark's default driver heap (16g) can exceed this machine's RAM.
    # The heap is small (the inputs are ~2 MB) and touched in full at
    # start, so peak RSS does not depend on when G1 grows the heap.
    heap_mb = min(1536, mem_kb // 1024 // 4)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    conf = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"-Xms{heap_mb}m -XX:+AlwaysPreTouch",
        f"spark.sql.warehouse.dir={run_dir / 'warehouse'}",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        (run_dir / "eventlog").mkdir()
        conf += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{run_dir / 'eventlog'}",
        ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=str(tmp),
        TMPDIR=str(tmp),
        PYSPARK_PYTHON=sys.executable,
        # No hsperfdata files in /tmp from the launcher JVM or the driver.
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        # Python workers start in the JVM's working directory (the run
        # directory), so the package is importable only from this path.
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {shlex.quote(c)}" for c in conf)
        + " pyspark-shell",
    )


def _check_worker_imports(spark) -> None:
    """Self-test: a Python worker, started outside the repository root,
    can import the engine package (operators ship closures that do)."""

    def probe(batches):
        import insight_patents_spark  # noqa: F401

        yield from batches

    n = spark.range(1).mapInPandas(probe, "id long").count()
    if n != 1:
        raise RuntimeError(f"worker import probe returned {n} rows")


def execute(spark, df) -> tuple[int, int]:
    """Write ``df`` to the noop sink; return (rows, digest) observed by
    the write job itself."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    cols = [df[c] for c in sorted(df.columns)]
    h = F.xxhash64(*cols) if cols else F.lit(0)
    obs = Observation()
    df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))), F.lit(0)).alias("h"),
    ).write.format("noop").mode("overwrite").save()
    got = obs.get
    return int(got["n"]), int(got["h"])


def query_medians(rows: list[dict]) -> dict[str, float]:
    """Each query's median latency over its successful timed runs.

    The end-to-end timings are built from these: a run's passes differ
    in what else the host is doing, and a query's median over the
    passes drops a single slow run of it (one GC pause, one stolen
    core) where a pass total or a percentile over all samples keeps it.
    """
    by_query: dict[str, list[float]] = {}
    for r in rows:
        if r["ok"]:
            by_query.setdefault(r["query"], []).append(r["latency_s"])
    return {q: statistics.median(v) for q, v in by_query.items()}


def tail(values) -> float:
    """p90 (``statistics.quantiles``, inclusive method) of the per-query
    latencies. A run has 18-24 latency samples, too few for a percentile
    with ten samples above it; over the per-query medians the p90 sits
    between the two slowest queries and moves with both."""
    values = list(values)
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def gmean(values) -> float:
    """Geometric mean: every query weighs the same, whatever its latency."""
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = _parse()
    if not (ROOT / "insight_patents_spark" / "registry.py").is_file():
        _log(f"engine package not found under {ROOT}")
        return 2
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)

    t_data = time.perf_counter()
    sys.path.insert(0, str(BENCH))
    import datagen

    data_dir = WORK / f"data_sf{SF}"
    stamp = datagen.ensure(data_dir, SF)
    expected_all = json.loads((BENCH / "expected.json").read_text())
    expected = expected_all.get(stamp)
    if expected is None:
        _log(f"no expected digests for data stamp {stamp}")
        return 3
    data_s = time.perf_counter() - t_data

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _environment(run_dir, trace)
    os.chdir(run_dir)
    sys.path.insert(0, str(ROOT))

    import procs

    try:
        with procs.MemorySampler() as sampler:
            result = _run(args, wl, trace, str(data_dir), expected, data_s)
        if not trace:
            result["metrics"]["peak_rss_mb"] = {
                "value": round(sampler.peak / 2**20, 3), "unit": "MB"}
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    _emit(result)
    return 0


_REAL_STDOUT = -1


def _emit(result: dict) -> None:
    os.write(_REAL_STDOUT, (json.dumps(result) + "\n").encode())


def _run(args, wl, trace, data_dir, expected, data_s):
    import procs

    layer: dict[str, float] = {}
    t0 = time.perf_counter()
    from insight_patents_spark import registry
    from insight_patents_spark.runtime import release_ephemeral
    from insight_patents_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    jvm_proc = spark.sparkContext._gateway.proc
    try:
        layer["session.start_s"] = time.perf_counter() - t0
        t = time.perf_counter()
        specs = registry.load_all()
        layer["registry.load_s"] = time.perf_counter() - t
        t = time.perf_counter()
        _check_worker_imports(spark)
        layer["platform.warm_s"] = time.perf_counter() - t
        t = time.perf_counter()
        for name in wl["artifacts"]:
            ta = time.perf_counter()
            execute(spark, specs[name].fn(spark, data_dir))
            _log(f"artifact {name} {time.perf_counter() - ta:.3f}s")
        layer["runtime.warm_s"] = time.perf_counter() - t
        sc = spark.sparkContext
        rng = random.Random(args.seed)
        queries = list(wl["queries"])
        t = time.perf_counter()
        warm = [_one(spark, sc, specs, name, -1, data_dir, expected, False,
                     release_ephemeral)
                for _ in range(wl["warm"])
                for name in rng.sample(queries, len(queries))]
        warm_passes_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_PROCESS - data_s
        _log(f"setup {setup_s:.3f}s " + " ".join(
            f"{k}={v:.3f}" for k, v in layer.items())
            + f" warm_passes_s={warm_passes_s:.3f}")

        rows: list[dict] = []
        passes: list[dict] = []
        t_loop = time.perf_counter()
        n_passes = max(3, round(args.seconds / wl["pass_s"]))
        # The traced run gives counts per pass, so it runs each query once.
        retries = 0 if trace else RETRIES_PER_QUERY * len(queries)
        for p in range(n_passes):
            order = rng.sample(queries, len(queries))
            snap0 = procs.snapshot()
            tp = time.perf_counter()
            for name in order:
                for attempt in range(RETRIES_PER_QUERY + 1):
                    clock0, cpu0 = procs.host_clock(), procs.snapshot().cpu
                    row = _one(spark, sc, specs, name, p, data_dir,
                               expected, trace, release_ephemeral)
                    row.update(attempt=attempt, cpu_s=procs.snapshot().cpu - cpu0,
                               steal=procs.steal_share(clock0, procs.host_clock()))
                    rows.append(row)
                    if row["steal"] <= STEAL_MAX or not retries:
                        break
                    retries -= 1
            wall_s = time.perf_counter() - tp
            snap1 = procs.snapshot()
            passes.append({
                "order": order, "wall_s": wall_s,
                "cpu_s": snap1.cpu - snap0.cpu,
                "driver.cpu_s": snap1.driver_cpu - snap0.driver_cpu,
                "jvm.cpu_s": snap1.jvm_cpu - snap0.jvm_cpu,
                "pyworker.cpu_s": snap1.pyworker_cpu - snap0.pyworker_cpu,
            })
        measured_s = time.perf_counter() - t_loop
    finally:
        t = time.perf_counter()
        spark.stop()
        _stop_jvm(jvm_proc)
        _log(f"teardown {time.perf_counter() - t:.3f}s")

    failed = sum(1 for r in warm + rows if not r["ok"])
    # Of a query's attempts in a pass, the one the host disturbed least
    # gives its latency. CPU comes from the first attempts whatever their
    # steal: the kernel leaves stolen time out of a process's CPU time,
    # and contention raised a pass's CPU by at most ~12% against 30-45%
    # of its wall time.
    used = {}
    for r in rows:
        key = (r["pass"], r["query"])
        if key not in used or r["steal"] < used[key]["steal"]:
            used[key] = r
    qmed = query_medians(list(used.values())) or {"": 0.0}
    cpu_s = sum(r["cpu_s"] for r in rows if r["attempt"] == 0) / n_passes
    suite_s = sum(qmed.values())
    med = lambda key: statistics.median(p[key] for p in passes)  # noqa: E731
    summary = {
        "workload": args.workload, "seed": args.seed,
        "passes": [p["order"] for p in passes],
        "retried": sum(r["attempt"] > 0 for r in rows),
        "measured_s": measured_s, "setup_s": setup_s, "data_s": data_s,
        "error_rate": failed / len(warm + rows), "warm_passes_s": warm_passes_s,
        "suite_s": suite_s, "query_medians": qmed,
        "setup": layer, "per_pass": passes, "queries": rows,
    }
    for r in warm + rows:
        if not r["ok"]:
            _log(f"FAILED {r['query']}: {r['error']}")
    _log(f"{args.workload} seed={args.seed} passes={len(passes)} "
         f"error_rate={failed}/{len(warm + rows)} suite_s={suite_s:.3f} "
         f"pass_wall_s={[round(p['wall_s'], 3) for p in passes]} "
         f"retried={summary['retried']}")
    if trace:
        import eventlog

        metrics = eventlog.layer_metrics(Path.cwd() / "eventlog", rows, passes)
        metrics.update(layer)
        for key in ("driver.cpu_s", "jvm.cpu_s", "pyworker.cpu_s"):
            metrics[key] = med(key)
        metrics["trace.suite_s"] = suite_s
        summary["layers"] = metrics
        for r in rows:
            _log(f"{r['query']:30s} " + " ".join(
                f"{k}={v:.6g}" for k, v in sorted(r["layers"].items())))
        _trace_overhead(args.workload, args.seed, metrics["trace.suite_s"])
        out = {k: {"value": round(v, 6), "unit": eventlog.UNITS[k]}
               for k, v in metrics.items()}
    else:
        out = {
            "setup_s": {"value": round(setup_s, 6), "unit": "s"},
            "suite_s": {"value": round(suite_s, 6), "unit": "s"},
            "query_gmean_s": {"value": round(gmean(qmed.values()), 6),
                              "unit": "s"},
            "query_tail_s": {"value": round(tail(qmed.values()), 6), "unit": "s"},
            "cpu_s": {"value": round(cpu_s, 6), "unit": "CPU-s"},
        }
        (WORK / f"untraced_{args.workload}.json").write_text(json.dumps(
            {"seed": args.seed, "suite_s": suite_s}))
    (WORK / f"last_{args.workload}.json").write_text(
        json.dumps(summary, indent=1, default=str))
    return {"correct": failed == 0, "attempted": len(warm + rows),
            "failed": failed, "metrics": out}


def _one(spark, sc, specs, name, p, data_dir, expected, trace, release):
    row = {"query": name, "pass": p, "ok": False, "error": None,
           "t_start": time.time()}
    try:
        if trace:
            sc.setJobGroup(f"perfbench:{p}:{name}:build", name)
        t0 = time.perf_counter()
        df = specs[name].fn(spark, data_dir)
        t1 = time.perf_counter()
        if trace:
            sc.setJobGroup(f"perfbench:{p}:{name}:sink", name)
        row["t_sink"] = time.time()
        got = execute(spark, df)
        t2 = time.perf_counter()
        row.update(build_s=t1 - t0, sink_s=t2 - t1, latency_s=t2 - t0,
                   rows=got[0], digest=got[1])
        want = expected.get(name)
        if want is None or tuple(want) != got:
            row["error"] = f"digest {list(got)} != expected {want}"
        else:
            row["ok"] = True
    except Exception as exc:  # noqa: BLE001 — one query's failure is data
        row["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        traceback.print_exc(file=sys.stderr)
    finally:
        row["t_end"] = time.time()
        row.setdefault("t_sink", row["t_end"])
        if trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
        t = time.perf_counter()
        row["released_rdds"] = len(release(spark))
        row["release_s"] = time.perf_counter() - t
    return row


def _stop_jvm(proc) -> None:
    """End the JVM (and with it the Python daemon and workers) and wait."""
    if proc is None:
        return
    try:
        proc.stdin.close()  # the gateway exits on stdin EOF
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — fall through to a hard stop
        proc.kill()
        proc.wait()
    import procs

    deadline = time.time() + 30
    while len(procs.snapshot().pids) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in procs.snapshot().pids[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _trace_overhead(workload: str, seed: int, traced: float) -> None:
    """Log traced minus untraced suite_s, against the last untraced run
    of this workload in this checkout if it had the same seed (so the
    same query order in every pass)."""
    path = WORK / f"untraced_{workload}.json"
    last = json.loads(path.read_text()) if path.exists() else {}
    if last.get("seed") != seed:
        _log("tracing overhead: no untraced run with this query order yet")
        return
    untraced = last["suite_s"]
    _log(f"tracing overhead: traced suite_s {traced:.3f} - untraced "
         f"{untraced:.3f} = {traced - untraced:+.3f} s")


if __name__ == "__main__":
    # Anything the JVM or a library prints to stdout goes to stderr; the
    # result line is written to the saved real stdout.
    _REAL_STDOUT = os.dup(1)
    os.dup2(2, 1)
    sys.exit(main())
