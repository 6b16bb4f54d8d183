"""Benchmark entry point: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload flagship_typed --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (see perfbench/README.md for what each one measures).
Everything the run writes goes to ``.perfbench_work/`` in the current
directory, which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from probes import (RssSampler, persisted_rdd_ids, plan_facts, query_phases_ms,
                    read_event_log, span_metrics)


def _process_age_s() -> float:
    """Seconds since this process was started by the OS."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T0 = time.perf_counter() - _process_age_s()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_REPS = 5
WARMUP_REPS = 2
BUILD_REPEATS = 3
REP_WALL_CAP_S = 90.0  # stop repeating once this much wall time has gone

END_TO_END = {"rows_per_s": "1/s", "setup_s": "s"}
# first_run_s (one cold sample per run) and peak_rss_mb (JVM heap growth)
# spread more than a tenth across seeds, so they are per-layer numbers
PER_LAYER = {
    "first_run_s": "s", "peak_rss_mb": "MB",
    "session.start_s": "s", "runner.init_ms": "ms", "runner.engine": "kernel",
    "compiler.build_ms": "ms", "plan.optimize_ms": "ms", "plan.planning_ms": "ms",
    "kernel.compile_ms": "ms", "kernel.us_per_doc": "us", "kernel.us_per_doc_bool": "us",
    "python.start_ms": "ms", "python.init_ms": "ms", "python.run_ms": "ms",
    "python.bytes_to": "bytes", "python.bytes_from": "bytes",
    "exec.tasks": "count", "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.deser_s": "s", "exec.task_skew": "ratio", "exec.busy_share": "share",
    "scan.bytes": "bytes", "scan.rows": "count", "scan.floor_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
    "ledger.s": "s",
    "checks.column_stats_s": "s", "checks.uniqueness_s": "s", "checks.referential_s": "s",
    "drift.snapshot_write_s": "s", "drift.ks_s": "s", "drift.psi_s": "s",
    "dedup.signatures_s": "s", "dedup.lsh_s": "s", "dedup.pairs": "count",
    "dedup.hot_bucket_drops": "count", "dedup.verify_yield": "share",
    "repetition.s": "s",
    "cache.carried_over": "count", "cache.inmemory_scans": "count",
    "trace.overhead_share": "share", "failed_share": "share",
}
# taken from the first (cold) rep: they are what a one-shot job pays
FIRST_REP_LAYERS = ("compiler.build_ms", "python.start_ms", "python.init_ms")


def _settings(cores: int) -> dict:
    """Machine-fitted settings, exported before the JVM starts."""
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // (1024 * 1024)
    work = os.path.join(os.getcwd(), ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    env = {
        # a quarter of RAM, 1..4g: the inputs are small and the host is shared
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, mem_gb // 4))}g",
        # the Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    }
    return {"master": f"local[{cores}]", "cores": cores, "mem_total_gb": mem_gb,
            "work": work, "env": env}


def _stop_jvm(gateway) -> None:
    """Close the py4j gateway and wait for the JVM to exit (it exits when
    its stdin closes), so a run leaves no process behind."""
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def _rep(spark, w, i: int, span: str | None) -> dict:
    """Run rep ``i`` of workload ``w`` inside job group ``span`` (no group
    when None), then, outside timing, inspect its executed plans and check
    its output against the known answer."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", span)
    before = persisted_rdd_ids(spark)
    t = time.perf_counter()
    try:
        output, frames, ops = w.rep(i)
    except Exception as e:  # a failing rep is counted, not fatal
        print(f"{w.name} rep {i} raised: {e!r}", file=sys.stderr)
        wall = time.perf_counter() - t
        return {"wall": wall, "timed": wall, "ok": False}
    wall = time.perf_counter() - t
    sc.setJobGroup("check", "outside timing")
    facts = [plan_facts(df) for df in frames]
    kernel_ran = any(f["python_udf"] for f in facts)
    reused = sum(1 for f in facts for r in f["cached_rdds"] if r in before)
    engine_ok = w.engine is None or kernel_ran == (w.engine == "kernel")
    answer_ok = w.check(output)
    ok = answer_ok and engine_ok and not reused
    if not ok:
        print(f"{w.name} rep {i} failed: answer_ok={answer_ok} engine_ok={engine_ok} "
              f"earlier_cache_scans={reused}", file=sys.stderr)
    phases = [query_phases_ms(df) for df in frames]
    layer = dict(ops)
    layer.update(w.output_facts(output, facts))
    layer.update({
        "runner.engine": 1.0 if kernel_ran else 0.0,
        "cache.carried_over": float(len(before)),
        "cache.inmemory_scans": float(reused),
        "plan.optimize_ms": sum(p.get("optimization", 0.0) for p in phases),
        "plan.planning_ms": sum(p.get("planning", 0.0) for p in phases),
    })
    print(f"{w.name} rep {i}: wall {wall:.3f}s ops {ops} ok={ok}", file=sys.stderr, flush=True)
    return {"wall": wall, "timed": ops.get("action_s", wall), "ok": ok, "layer": layer}


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    cores = len(os.sched_getaffinity(0))
    cfg = _settings(cores)
    shutil.rmtree(cfg["work"], ignore_errors=True)
    os.makedirs(cfg["env"]["TMPDIR"])
    os.environ.update(cfg["env"])
    print("perfbench settings:", json.dumps({k: v for k, v in cfg.items() if k != "work"}),
          flush=True)

    from json_schema_spark.session import get_spark
    from workloads import SIDE_JOBS, WORKLOADS

    events_dir = os.path.join(cfg["work"], "events")
    extra = {"spark.ui.showConsoleProgress": "false",
             "spark.local.dir": cfg["env"]["SPARK_LOCAL_DIRS"]}
    if trace:
        os.makedirs(events_dir)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": "file://" + events_dir})
    w = WORKLOADS[workload]()
    recs: list[dict] = []  # (rep index, record) of every main rep
    side_recs: list[dict] = []

    rss = RssSampler()
    if trace:  # polling /proc costs CPU, so untraced runs do not sample
        rss.start()
    try:
        t_session = time.perf_counter()
        spark = get_spark(app="perfbench", cores=cores, extra=extra)
        session_up = time.perf_counter()
        builds = []
        for _ in range(BUILD_REPEATS):
            t = time.perf_counter()
            w.build()
            builds.append(time.perf_counter() - t)
        setup_s = session_up - T0 + statistics.median(builds)

        spark.sparkContext.setJobGroup("generate", "input generation")
        t = time.perf_counter()
        rows = w.generate(spark, seed, os.path.join(cfg["work"], w.name))
        print(f"generated {rows} rows in {time.perf_counter() - t:.1f}s", file=sys.stderr)

        timed: list[float] = []
        t_loop = time.perf_counter()
        i = 0
        while time.perf_counter() - t_loop < REP_WALL_CAP_S and not (
                len(timed) >= MIN_REPS and sum(timed) >= seconds):
            # rep 0 is the cold first run, reps up to WARMUP_REPS warm up.
            # Trace runs put odd reps (and rep 0) in a span and leave even
            # reps plain; the rows/s gap between the two is the overhead.
            traced = trace and (i == 0 or i % 2 == 1)
            rec = _rep(spark, w, i, f"rep{i}" if traced else None)
            rec.update(i=i, traced=traced)
            recs.append(rec)
            if i > WARMUP_REPS and rec["ok"]:
                timed.append(rec["timed"])
            if traced and "layer" in rec:
                spark.sparkContext.setJobGroup("extras", "outside timing")
                w.extras(i, rec["layer"])
            i += 1

        if trace:
            # operators no end-to-end workload runs, measured per layer:
            # a cold rep, then a warm rep whose numbers are reported
            side = SIDE_JOBS[workload]()
            spark.sparkContext.setJobGroup("generate", "input generation")
            side.generate(spark, seed, os.path.join(cfg["work"], side.name))
            for j in range(2):
                rec = _rep(spark, side, j, f"{side.name}{j}")
                if "layer" in rec:
                    side.extras(j, rec["layer"])
                side_recs.append(rec)
        gateway = spark.sparkContext._gateway
        spark.stop()
        _stop_jvm(gateway)
    finally:
        rss.stop()

    all_recs = recs + side_recs
    failed = sum(1 for r in all_recs if not r["ok"])
    result = {"correct": failed == 0, "attempted": len(all_recs), "failed": failed}
    median_rep = statistics.median(timed or [r["timed"] for r in recs])
    print(f"perfbench {workload}: rows={rows} timed_reps={len(timed)} "
          f"median_rep_s={median_rep:.4f} first_run_s={recs[0]['wall']:.4f}", flush=True)
    if not trace:
        values = {"rows_per_s": rows / median_rep, "setup_s": setup_s}
        result["metrics"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        return result

    walls = {f"rep{r['i']}": r["timed"] for r in recs if r["traced"]}
    per_span = span_metrics(read_event_log(events_dir), cores, walls)
    traced_layers = []
    for r in recs:
        if r["traced"] and "layer" in r:
            r["layer"].update(per_span[f"rep{r['i']}"])
            traced_layers.append(r["layer"])
    warm = traced_layers[1:] or traced_layers
    layer = {"first_run_s": recs[0]["wall"], "peak_rss_mb": rss.peak_bytes / 2**20,
             "session.start_s": session_up - t_session,
             "runner.init_ms": statistics.median(builds) * 1e3 if w.engine else 0.0}
    for name in PER_LAYER:
        src = traced_layers[:1] if name in FIRST_REP_LAYERS else warm
        vals = [lay[name] for lay in src if name in lay]
        if vals:
            layer[name] = statistics.median(vals)
    if side_recs and "layer" in side_recs[-1]:
        for name, v in side_recs[-1]["layer"].items():
            if name.split(".")[0] in ("checks", "drift", "dedup", "repetition"):
                layer[name] = v
    if "validate_only_s" in warm[0]:
        layer["ledger.s"] = statistics.median(
            lay["action_s"] - lay["validate_only_s"] for lay in warm)
    plain = [r["timed"] for r in recs if r["i"] > WARMUP_REPS and not r["traced"] and r["ok"]]
    spanned = [r["timed"] for r in recs if r["i"] > WARMUP_REPS and r["traced"] and r["ok"]]
    if plain and spanned:
        # (untraced rows/s - traced rows/s) / untraced rows/s
        layer["trace.overhead_share"] = 1.0 - statistics.median(plain) / statistics.median(spanned)
    layer["failed_share"] = failed / len(all_recs)
    result["metrics"] = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                         for k, u in PER_LAYER.items()}
    return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import json_schema_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work")
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
