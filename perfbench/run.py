"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run generates its inputs from the
seed, starts one Spark session on ``local[<cpus/2>]`` through the
engine's own ``session.get_session``, sets the workload up, runs whole
rounds of its operations in a closed loop until ``--seconds`` are used,
checks every output, and prints two JSON lines: a full report (run
record, diagnostics, checks), then the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` the run installs span wrappers around every layer's
public functions and the metrics are the per-layer ones.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is removed at the end, except a small history of
untraced wall times that the traced run uses to report its overhead.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "garden_net_backend_spark")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
END_TO_END = ["setup_s", "wall_s", "read_p50_ms", "proc_cpu_s"]
UNITS = {"setup_s": "s", "wall_s": "s", "read_p50_ms": "ms", "proc_cpu_s": "s"}


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tail_percentile(values: list[float]) -> tuple[float, float | None]:
    """The highest percentile of the ladder with at least ten samples
    beyond it -> (value, percentile). With fewer than 20 samples no
    percentile qualifies and the maximum is reported (percentile None)."""
    n = len(values)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            import numpy as np

            return float(np.percentile(values, p)), p
    return max(values), None


def driver_memory() -> str:
    """A quarter of the box's memory, capped at 4 GiB: the engine's 48g
    default does not start on small hosts."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def code_identity() -> dict:
    """Git revision when the checkout has one, and a hash of the engine
    sources either way."""
    rev = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            rev = open(p).read().strip() if os.path.isfile(p) else ref[5:]
        else:
            rev = ref
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(PACKAGE_DIR)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {"git_rev": rev, "source_sha256": h.hexdigest()[:16]}


def configure_env(work: str, cpus: int, trace: bool) -> dict:
    """Engine knobs (read by ``session.get_session``) and JVM scratch
    locations, all inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(2 * cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    }
    os.environ.update(conf)
    os.environ.pop("OMP_NUM_THREADS", None)
    # JIT and GC threads sized to the task cores: with the JVM defaults
    # the compiler threads alone keep a core busy for the whole run
    jvm = f"-XX:CICompilerCount=2 -XX:ParallelGCThreads={cpus} -XX:ConcGCThreads=1"
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} {jvm}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        # keep every job and stage of the run in the status store
        for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions"):
            submit += ["--conf", f"{k}=1000000"]
        submit += ["--conf", "spark.ui.retainedTasks=10000000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f'"{a}"' if " " in a else a for a in submit) + " pyspark-shell"
    return conf


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait until no process
    this run started is left."""
    from pyspark import SparkContext

    import procstats

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    me = os.getpid()
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in procstats.tree_pids(me) if p != me]
        if not left:
            return
        time.sleep(0.2)
    for p in procstats.tree_pids(me):
        if p != me:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    for p in procstats.tree_pids(me):
        if p != me:
            try:
                os.waitpid(p, 0)
            except ChildProcessError:
                pass


def readers_input_mb(tracer) -> float:
    """Bytes of the files and directories passed to reader functions."""
    seen, total = set(), 0
    for s in tracer.spans:
        if s.layer != "sources.readers":
            continue
        for a in s.args:
            if isinstance(a, str) and os.path.exists(a) and a not in seen:
                seen.add(a)
                if os.path.isdir(a):
                    total += sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(a) for f in fs)
                else:
                    total += os.path.getsize(a)
    return total / 1e6


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(PACKAGE_DIR, "session.py")):
        _fail(f"engine package not found at {PACKAGE_DIR}; run from a full checkout")
    try:
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import pyspark
    except ImportError as e:
        _fail(f"missing dependency: {e}")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    trace = bool(args.trace)
    # half the cores run tasks; the driver JVM's planning, JIT and GC
    # threads and the Python workers use the rest, so the run does not
    # queue on a shared host's scheduler
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    in_dir = os.path.join(work, "inputs")
    os.makedirs(in_dir)
    try:
        return measure(args, wl, work, in_dir, cpus, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_op(kind: str, fn, request: str, tracer):
    """One operation; an exception counts it as failed."""
    from workloads import Op

    if tracer is not None:
        tracer.request = request
    t = time.perf_counter()
    try:
        op = fn()
    except Exception as e:
        op = Op(kind, "error", time.perf_counter() - t, ok=False, error=f"{type(e).__name__}: {e}")
    op.request = request
    return op


def measure(args, wl, work: str, in_dir: str, cpus: int, trace: bool) -> int:
    import numpy as np
    import pyspark

    import procstats
    import spans as tracing

    env = configure_env(work, cpus, trace)
    calib_s = procstats.calibration_probe()
    t = time.perf_counter()
    sizes = wl.generate(np.random.default_rng(args.seed), in_dir)
    gen_s = time.perf_counter() - t

    sampler = procstats.TreeSampler().start()
    tracer = tracing.Tracer().install() if trace else None
    spark = None
    try:
        from garden_net_backend_spark import session

        t0 = time.perf_counter()
        spark = session.get_session("perfbench")
        session_s = time.perf_counter() - t0
        spark.range(4096).selectExpr("sum(id)").collect()  # warm-up: first job, executor threads
        warm_s = time.perf_counter() - t0 - session_s
        try:
            wl.setup(spark, work)
        except Exception:
            traceback.print_exc()
            _fail("workload set-up failed", 1)
        setup_s = time.perf_counter() - t0

        ops = []
        snap0 = sampler.snapshot()
        rounds = 0
        while True:
            for kind, fn in wl.round(rounds, args.seed):
                ops.append(run_op(kind, fn, f"{kind}#{len(ops)}", tracer))
            rounds += 1
            if time.perf_counter() - snap0[0] >= args.seconds or rounds == wl.MAX_ROUNDS:
                break
        snap1 = sampler.snapshot()
        measured = procstats.interval(snap0, snap1)
        # the traced run's extra operations: per-layer numbers only
        extras = [run_op("write", fn, f"extra#{i}", tracer)
                  for i, fn in enumerate(wl.traced_extras())] if trace else []
        wl.check(ops + extras)
        if tracer is not None:
            tracer.uninstall()
            layer, raw = tracing.layer_metrics(tracer, spark.sparkContext)
            layer.update(workload_layer_metrics(wl, ops, tracer, raw))
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            stop_spark(spark)
        sampler.stop()

    reads = [o.latency_s * 1e3 for o in ops if o.kind == "read" and not o.error]
    writes = [o.latency_s * 1e3 for o in ops if o.kind == "write" and not o.error]
    failed = sum(1 for o in ops + extras if not o.ok or o.error)
    attempted = len(ops) + len(extras)
    tail, tail_p = tail_percentile(reads) if reads else (None, None)
    e2e = {
        "setup_s": setup_s,
        "wall_s": measured["wall_s"] / rounds,
        "read_p50_ms": statistics.median(reads) if reads else None,
        "proc_cpu_s": measured["proc_cpu_s"] / rounds,
    }
    code = code_identity()
    history = os.path.join(WORK_ROOT, "history.jsonl")
    overhead = None
    if trace:
        try:
            with open(history) as fh:
                past = [json.loads(line) for line in fh]
            walls = [h["wall_s"] for h in past if h["workload"] == args.workload and h["rounds"] == rounds
                     and h.get("source_sha256") == code["source_sha256"]]
            if walls:
                overhead = measured["wall_s"] - statistics.median(walls)
        except (OSError, ValueError):
            pass
    else:
        with open(history, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": args.seed, "rounds": rounds,
                                 "source_sha256": code["source_sha256"], "wall_s": measured["wall_s"]}) + "\n")

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": int(trace),
        "run_record": {
            "cpus": len(os.sched_getaffinity(0)),
            "spark_cores": cpus,
            "driver_memory": env["SPARK_GRAFT_DRIVER_MEM"],
            "shuffle_partitions": int(env["SPARK_GRAFT_SHUFFLE_PARTITIONS"]),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            **code,
            "host_other_busy_cores": round(measured["host_other_busy_cores"], 3),
            "host_steal_cores": round(measured["host_steal_cores"], 3),
            "calibration_probe_s": round(calib_s, 4),
            "load_avg_1m": os.getloadavg()[0],
        },
        "inputs": {"generate_s": round(gen_s, 3), **sizes},
        "setup": {"session_s": session_s, "warmup_s": warm_s, "workload_s": setup_s - session_s - warm_s},
        "rounds": rounds,
        "ops": {"reads": len(reads), "writes": len(writes), "attempted": attempted, "failed": failed,
                "latency_ms": [f"{o.request}:{o.label}:{o.latency_s * 1e3:.0f}" for o in ops + extras]},
        # one write per run (one cold micro-batch on corpus_ingest): its
        # run-to-run spread comes near the largest bound, so wall_s
        # carries the writes' cost in the gated set
        "write_p50_ms": statistics.median(writes) if writes else None,
        # too few reads per run for a tail with ten samples beyond it
        "read_tail_ms": tail,
        "read_tail_percentile": tail_p,
        "read_tail_samples": len(reads),
        "failed_frac": failed / attempted,
        # not an end-to-end metric: its run-to-run spread exceeds any bound
        "peak_rss_mb": sampler.peak_rss_mb,
        "end_to_end": {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END},
        "checks": {o.request: o.out["check"] for o in ops + extras if "check" in o.out},
        "errors": [f"{o.request}: {o.error or o.out.get('check')}" for o in ops + extras
                   if o.error or not o.ok][:20],
    }
    if trace:
        report["tracing_overhead_s"] = overhead
        report["spans"] = len(tracer.spans)
    print(json.dumps({"report": report}, default=str))
    if trace:
        units = per_layer_units()
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def workload_layer_metrics(wl, ops, tracer, raw) -> dict:
    """Layer-specific ratios of the traced run; 0 where the workload
    does not reach the layer."""
    import oracle
    import spans as tracing

    out = {
        "plans.serving.hit_frac": 0.0,
        "plans.search.seeds_per_request": 0.0,
        "plans.search.rows_read_per_result": 0.0,
        "streaming.ingest.accept_frac": float(getattr(wl, "accept_frac", 0.0)),
        "sources.readers.input_mb": readers_input_mb(tracer),
        "session.start_s": sum(s.end - s.start for s in tracer.spans
                               if s.layer == "session" and s.parent is None),
    }
    searches = [o for o in ops if "hit" in o.out]
    if searches:
        out["plans.serving.hit_frac"] = sum(o.out["hit"] for o in searches) / len(searches)
        misses = [o for o in searches if not o.out["hit"]]
        seeds = rows = results = 0
        for o in misses:
            n, e, s, _ = oracle.parse_cytoscape(o.out["result"])
            seeds += len(s)
            results += len(n) + len(e)
            rows += tracing.input_records_for(tracer.request_spans(o.request), raw)
        if misses:
            out["plans.search.seeds_per_request"] = seeds / len(misses)
        if results:
            out["plans.search.rows_read_per_result"] = rows / results
    return out


if __name__ == "__main__":
    sys.exit(main())
