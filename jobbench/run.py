"""Job benchmark: full backfill, incremental delivery and corpus
curation, each timed end to end and checked against an oracle.

    python3 jobbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 jobbench/run.py --quick      # every workload, tiny inputs

Run from the repository root.  One run is one process: it generates
its inputs from the seed, starts a Spark session at local[nproc],
warms the workload up, times ops until their summed time reaches
``--seconds``, checks the outputs, stops Spark and prints one JSON
object as its last line.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` records spans and Spark's event log and
reports the per-layer metrics instead (and writes the spans to
``.jobbench_out/``).  Everything the run writes goes to a private
scratch root under ``.jobbench_scratch/``, removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the curation workload's catalog entries (``workloads.CURATION_ENTRIES``;
#: repeated here so the metric list needs no Spark import)
CURATION_ENTRIES = (
    "dedup_minhash_lsh",
    "dedup_jaccard_invindex",
    "dedup_containment",
    "dedup_components",
    "dedup_exact",
    "curate_corpus",
)

END_TO_END = (
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("throughput_per_s", "1/s"),
    ("cpu_s", "s"),
    ("written_mb", "MB"),
)

#: Top-level spans (directly under an op) whose Spark jobs are folded
#: into reported per-layer metrics, each with the folded figures that
#: move on this benchmark's inputs (no stage spills; the sink and the
#: landing run no GC-visible or memory-heavy stage).
SPARK_SPANS = {
    "plans.full_backfill_clustered": (
        "jobs", "tasks", "executor_run_s", "gc_s", "shuffle_write_mb",
        "peak_exec_mem_mb", "output_mb",
    ),
    "sinks.es.write_bulk": ("jobs", "tasks", "executor_run_s", "output_mb"),
    "streaming.landing.land_parts": (
        "jobs", "tasks", "executor_run_s", "shuffle_write_mb", "output_mb",
    ),
    "streaming.incremental_versions": (
        "jobs", "tasks", "executor_run_s", "gc_s", "shuffle_write_mb",
        "peak_exec_mem_mb", "output_mb",
    ),
    **{
        f"plans.{entry}": (
            "jobs", "tasks", "executor_run_s", "gc_s", "shuffle_write_mb",
        )
        for entry in CURATION_ENTRIES
    },
}


def _per_layer() -> tuple[tuple[str, str], ...]:
    seconds = [
        "session.get_spark_s",
        "plans.full_backfill_clustered_s",
        *(f"plans.{entry}_s" for entry in CURATION_ENTRIES),
        "operators.backfill.landing_write_s",
        "operators.backfill.walk_s",
        "sinks.es.write_bulk_s",
        "streaming.landing.land_parts_s",
        "streaming.incremental_versions.discover_s",
        "streaming.incremental_versions.append_s",
        "streaming.incremental_versions.rebuild_write_s",
        "streaming.incremental_versions.swap_s",
        "streaming.progress.trigger_execution_s",
        "streaming.progress.add_batch_s",
        "streaming.progress.query_planning_s",
        "streaming.progress.wal_commit_s",
        "streaming.progress.commit_offsets_s",
        "streaming.progress.latest_offset_s",
        "streaming.start_stop_s",
        "tmpdirs.gc_now_s",
        "trace.latency_p50_s",
    ]
    out = [(n, "s") for n in seconds]
    out += [
        ("streaming.incremental_versions.buckets_touched", "count"),
        ("streaming.incremental_versions.rewrite_ratio", "ratio"),
    ]
    for span, metrics in SPARK_SPANS.items():
        for metric in metrics:
            if metric in ("jobs", "tasks"):
                unit = "count"
            else:
                unit = "s" if metric.endswith("_s") else "MB"
            out.append((f"{span}.{metric}", unit))
    return tuple(out)


#: Warm-up ops run inside set-up.  The first op of a fresh JVM pays
#: class loading, JIT and code generation (2.5-3x a later op).  A
#: fixed count keeps every run at the same point of the warm-up
#: curve.  ``incremental`` needs none of its own: its set-up builds
#: the initial store through the same delivery path in the cold JVM.
WARMUP_OPS = {"backfill": 1, "incremental": 0, "curation": 1}
#: timed ops run until their summed time reaches --seconds, and at
#: least this many.  Every op of this benchmark takes longer than the
#: declared run length, so a run times exactly one op: the run budget
#: (4 + 22 x workloads fresh-JVM runs) leaves room for no more.
MIN_TIMED_OPS = 1
#: stop starting ops once the process is this old (the run must end
#: within 180 s including checks and shutdown)
AGE_LIMIT_S = 140.0


def _process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    boot = time.clock_gettime(time.CLOCK_BOOTTIME)
    return boot - start_ticks / os.sysconf("SC_CLK_TCK")


def _scratch_env(scratch: str, trace: bool) -> None:
    """Point every temp and spill location of this process, the JVM
    and its workers at the private scratch root."""
    import tempfile

    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    events = os.path.join(scratch, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(scratch, "warehouse")
    args = [
        "--conf spark.ui.showConsoleProgress=false",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
    ]
    if trace:
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{events}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def _stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started has exited."""
    import procstat
    from pyspark import SparkContext

    pids = [p for p in procstat.tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: str) -> tuple[dict, dict]:
    """One benchmark run; returns (info, result)."""
    import gen
    import procstat
    from spans import Tracer

    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    steal_start = procstat.steal_s()
    scratch = os.path.join(
        ROOT, ".jobbench_scratch", f"{workload}-{seed}-{os.getpid()}"
    )
    os.makedirs(scratch)
    spark = None
    try:
        _scratch_env(scratch, trace)
        from bugzilla_etl_spark import tmpdirs
        from bugzilla_etl_spark.plans import catalog
        from bugzilla_etl_spark.session import get_spark

        import workloads as W

        data_dir = os.path.join(scratch, "data")
        manifest = gen.generate(data_dir, seed, size)
        tracer = Tracer(trace)
        with tracer.span("session.get_spark") as session_span:
            spark = get_spark("jobbench", cpus=nproc)
        spark.sparkContext.setLogLevel("ERROR")
        tracer.bind(spark.sparkContext)
        catalog.load_all()
        work = os.path.join(scratch, "work")
        os.makedirs(work)
        wl = W.WORKLOADS[workload](spark, data_dir, work, manifest, tracer)
        t0 = time.perf_counter()
        wl.setup()
        setup_store_s = time.perf_counter() - t0

        def can_run() -> bool:
            return workload != "incremental" or wl.slices_left() > 0

        checks: dict[str, bool] = {}
        check_s = 0.0
        if workload == "incremental":
            # the mid-run check: the store the set-up delivered
            t0 = time.perf_counter()
            checks["store"] = wl.check(-1)
            check_s += time.perf_counter() - t0

        k = 0
        warm: list[float] = []
        while len(warm) < WARMUP_OPS[workload] and can_run():
            t0 = time.perf_counter()
            with tracer.op(k, timed=False):
                if workload == "curation" and not warm:
                    wl.op(k, collect=True)  # the checked pass
                else:
                    wl.op(k)
            warm.append(time.perf_counter() - t0)
            with tracer.span("tmpdirs.gc_now", op=k):
                tmpdirs.gc_now()
            k += 1
        setup_s = _process_age() - check_s

        lat: list[float] = []
        cpu: list[float] = []
        wrote: list[float] = []
        records = 0
        attempted = failed = 0
        peak_mb = procstat.sample()["hwm_mb"]
        while can_run():
            before = procstat.sample()
            t0 = time.perf_counter()
            with tracer.op(k, timed=True):
                n = wl.op(k)
            dt = time.perf_counter() - t0
            after = procstat.sample()
            attempted += 1
            lat.append(dt)
            cpu.append(after["cpu_s"] - before["cpu_s"])
            wrote.append((after["wchar_b"] - before["wchar_b"]) / 1e6)
            peak_mb = max(peak_mb, after["hwm_mb"])
            records += n
            if trace and workload == "incremental":
                wl.record_layers(k)
            last = (
                sum(lat) >= seconds and attempted >= MIN_TIMED_OPS
            ) or _process_age() > AGE_LIMIT_S
            # outside the timed region: checks, then release the op's
            # scratch dirs and caches
            if workload == "backfill" or (
                workload == "incremental" and (last or not can_run())
            ):
                t0 = time.perf_counter()
                ok = wl.check(k)
                check_s += time.perf_counter() - t0
                checks[f"op{k}"] = ok
                failed += 0 if ok else 1
            with tracer.span("tmpdirs.gc_now", op=k):
                tmpdirs.gc_now()
            k += 1
            if last:
                break
        if workload == "curation":
            t0 = time.perf_counter()
            ok = wl.check(k)
            check_s += time.perf_counter() - t0
            checks.update(wl.detail)
            if not ok:  # the timed passes ran the same plans
                failed = attempted
        if trace and workload == "backfill":
            checks.update(_traced_curation(wl, tracer, k))
        peak_mb = max(peak_mb, procstat.sample()["hwm_mb"])
        session_s = session_span["end"] - session_span["start"]
        _stop_spark(spark)
        spark = None

        correct = attempted > 0 and failed == 0 and all(checks.values())
        if trace:
            metrics = _traced_metrics(
                tracer, os.path.join(scratch, "eventlog"), lat, session_s,
            )
            trace_path = _write_trace(workload, seed, tracer, metrics)
            correct = correct and tracer.nesting_ok()
        else:
            metrics = {
                "setup_s": setup_s,
                "latency_p50_s": statistics.median(lat),
                "throughput_per_s": records / sum(lat),
                "cpu_s": statistics.median(cpu),
                "written_mb": statistics.median(wrote),
            }
            trace_path = None
        units = dict(END_TO_END if not trace else _per_layer())
        info = {
            "workload": workload,
            "seed": seed,
            "size": size,
            "nproc": nproc,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg()[0],
            "steal_s": round(procstat.steal_s() - steal_start, 2),
            "session_s": round(session_s, 3),
            "workload_setup_s": round(setup_store_s, 3),
            "warmup_op_s": [round(x, 4) for x in warm],
            "check_s": round(check_s, 3),
            "op_s": [round(x, 4) for x in lat],
            "checks": checks,
            "peak_rss_mb": round(peak_mb, 1),
            "n_events": manifest["n_events"],
            "n_docs": manifest["n_docs"],
            "trace_file": trace_path,
        }
        result = {
            "correct": bool(correct),
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
                for name, unit in units.items()
            },
        }
        return info, result
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)


def _traced_curation(backfill, tracer, k: int) -> dict[str, bool]:
    """One checked warm-up pass and one timed pass of the curation job,
    recorded as ops ``k`` and ``k + 1`` of a traced backfill run, so
    the layers only curation reaches (``operators.dedup``, ``.text``,
    ``.sampling``) are measured although ``curation`` is not one of
    the benchmark's workloads (see README, *Run budget*)."""
    import workloads as W
    from bugzilla_etl_spark import tmpdirs

    cur = W.Curation(backfill.spark, backfill.data_dir, backfill.work,
                     backfill.manifest, tracer)
    with tracer.op(k, timed=False):
        cur.op(k, collect=True)
    with tracer.op(k + 1, timed=True):
        cur.op(k + 1)
    with tracer.span("tmpdirs.gc_now", op=k + 1):
        tmpdirs.gc_now()
    cur.check(k + 1)
    return {f"curation.{name}": ok for name, ok in cur.detail.items()}


def _traced_metrics(tracer, log_dir: str, lat: list[float],
                    session_s: float) -> dict:
    fold = tracer.fold_event_log(log_dir)
    return tracer.per_layer(
        fold,
        {
            "session.get_spark_s": session_s,
            "trace.latency_p50_s": statistics.median(lat),
        },
    )


def _write_trace(workload: str, seed: int, tracer, metrics: dict) -> str:
    out_dir = os.path.join(ROOT, ".jobbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{workload}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": workload,
                "seed": seed,
                "timed_ops": sorted(tracer.timed_ops),
                "nesting_ok": tracer.nesting_ok(),
                "spans": tracer.spans,
                "metrics": metrics,
            },
            f,
        )
    return os.path.relpath(path, ROOT)


def quick() -> int:
    """The benchmark's own test: every workload, untraced and traced,
    at tiny size, each in a fresh process like a real run; checks the
    result line's shape, correctness, and the metric names against
    BENCHMARK.json."""
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    spec = None
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            spec = json.load(f)
    bad = []
    for workload in ("backfill", "incremental", "curation"):
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"),
                "--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--size", "quick",
            ]
            t0 = time.perf_counter()
            p = subprocess.run(
                cmd, cwd=ROOT, capture_output=True, text=True, timeout=180
            )
            took = time.perf_counter() - t0
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                res = None
            want = (
                {n for n, _ in END_TO_END} if not trace
                else {n for n, _ in _per_layer()}
            )
            if spec is not None:
                want_spec = {
                    m["name"]
                    for m in spec["per_layer" if trace else "end_to_end"]
                }
                if want_spec != want:
                    bad.append(f"{workload}/trace={trace}: BENCHMARK.json "
                               "metric names differ from run.py")
            ok = (
                p.returncode == 0
                and res is not None
                and set(res) == {"correct", "attempted", "failed", "metrics"}
                and res["correct"] is True
                and res["failed"] == 0
                and res["attempted"] >= 1
                and set(res["metrics"]) == want
            )
            print(f"{'PASS' if ok else 'FAIL'} {workload} trace={trace} "
                  f"({took:.1f} s)", flush=True)
            if not ok:
                bad.append(f"{workload}/trace={trace}")
                sys.stderr.write(p.stderr[-4000:])
                sys.stderr.write(p.stdout[-2000:])
    print(json.dumps({"quick_failures": bad}))
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(
        description="full backfill, incremental delivery and corpus "
        "curation benchmark"
    )
    ap.add_argument("--workload", choices=("backfill", "incremental",
                                           "curation"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "quick"), default="full")
    ap.add_argument("--quick", action="store_true",
                    help="run every workload at tiny size and check it")
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "bugzilla_etl_spark")):
        sys.stderr.write("jobbench: the program (bugzilla_etl_spark/) is "
                         "not in this checkout\n")
        return 2
    if args.quick:
        return quick()
    if args.workload is None:
        ap.error("--workload is required")
    info, result = run(args.workload, args.seed, args.seconds,
                       bool(args.trace), args.size)
    print(json.dumps({"info": info}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
