"""Benchmark harness: one run of one workload.

    python3 perfbench/run.py --workload nested_hof --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its seeded inputs
(cached under ``.perfbench/inputs``), pins the environment and starts one
Spark session on ``local[<cpus>]``. It makes one warm-up pass, whose
results it keeps for the output checks (set-up ends here), then the
workload's settle passes while the JIT finishes compiling, then as many
timed passes as fit ``--seconds`` at the workload's nominal pass time; a
fixed count, so every run times the same passes. It checks every output
and prints, as its last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` Spark's event log is enabled
(through ``PYSPARK_SUBMIT_ARGS``; no program file changes), every layer
call is wrapped in a span whose job group tags the Spark jobs it causes,
and the metrics are the per-layer ones, per timed pass.

``perfbench/report.py`` runs this several times and prints the summary
table, the tracing overhead and the count signature.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

import gen  # noqa: E402
import probe  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

E2E = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}

LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "plans.eager_jobs": "count",
    "driver.jobs": "count", "driver.stages": "count", "driver.tasks": "count",
    "driver.task_overhead_s": "s",
    "io.scan_s": "s", "io.input_bytes": "bytes", "io.input_rows": "count",
    "io.rows_per_result_row": "ratio",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.write_s": "s",
    "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "bytes", "shuffle.bytes_per_input_byte": "ratio",
    "python.run_s": "s", "python.start_s": "s", "python.init_s": "s",
    "python.bytes_sent": "bytes", "python.bytes_returned": "bytes",
    "streaming.batches": "count", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.planning_s": "s", "streaming.latest_offset_s": "s",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "lakehouse.versions": "count", "lakehouse.files_written": "count",
    "lakehouse.output_bytes": "bytes", "lakehouse.bytes_per_input_byte": "ratio",
    "trace.wall_s": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_env(work: str, trace: bool) -> dict:
    """Pin cores, driver memory, scratch and temp dirs inside the run's
    work dir, and the executor workers' import path; returns the record
    of what was pinned. The driver heap is committed at its full size
    from the start (-Xms = driver memory): otherwise the peak resident
    memory depends on when G1 chose to grow the heap, which moved it by
    a quarter between runs."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) // (1024 * 1024)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    mem = f"{max(1, min(2, total_gb // 6))}g"
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            x for x in (ROOT, os.environ.get("PYTHONPATH")) if x
        ),
        "TMPDIR": tmp,
    }
    submit = [
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    os.environ.update(env)
    return env


def stop_spark(spark, sampler) -> None:
    """Stop the session and the gateway JVM, then wait for every process
    the run started (JVM, Python workers) to end."""
    from pyspark import SparkContext

    sampler.seen |= probe.descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in sampler.seen if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is all three."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def layer_metrics(passes, first, spans, log_dir, result_rows, stream_input_bytes):
    """Reduce spans, the event log and streaming progress to per-layer
    metrics per timed pass; passes before ``first`` are left out."""
    timed = passes[first:]
    n = len(timed)
    prefixes = {f"p{k}:" for k in range(first, len(passes))}
    run_groups = {}
    for p in timed:
        run_groups.update(p.run_groups)
    agg = defaultdict(float)
    for group, m in probe.group_metrics(log_dir).items():
        g = run_groups.get(group, group)
        if g[: g.find(":") + 1] not in prefixes:
            continue
        for key, v in m.items():
            agg[key] += v
        if ":plans:" in g:
            agg["plans.eager_jobs"] += m.get("driver.jobs", 0)
    out = {k: v / n for k, v in agg.items()}
    groups = {r[2] for r in spans.records if r[2][: r[2].find(":") + 1] in prefixes}
    out["plans.build_s"] = spans.total("plans", groups) / n
    for p in timed:
        by_query = defaultdict(list)
        for prog in p.progress:
            by_query[prog["runId"]].append(prog)
        for progs in by_query.values():
            for key, v in probe.progress_metrics(progs).items():
                if key.startswith("streaming.state_"):
                    out[key] = max(out.get(key, 0.0), v)
                else:
                    out[key] = out.get(key, 0.0) + v / n
    if stream_input_bytes:
        out.update(workloads.lakehouse_metrics(
            os.path.join(timed[-1].results["base"], "table"), stream_input_bytes
        ))
    inb = out.get("io.input_bytes", 0.0)
    out["io.rows_per_result_row"] = out.get("io.input_rows", 0.0) / result_rows if result_rows else 0.0
    out["shuffle.bytes_per_input_byte"] = out.get("shuffle.write_bytes", 0.0) / inb if inb else 0.0
    out["trace.wall_s"] = statistics.median(p.wall_s for p in timed)
    return {k: float(out.get(k, 0.0)) for k in LAYER_UNITS if not k.startswith("session.")}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dask_awkward_sandbox_spark")):
        print(f"perfbench: package dask_awkward_sandbox_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    before_inputs = time.perf_counter() - T_START
    sf_dir = gen.ensure_inputs(os.path.join(STATE, "inputs"), args.seed, wl.sizes)
    with open(os.path.join(sf_dir, "MANIFEST.json")) as f:
        manifest = json.load(f)
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return run(args, wl, sf_dir, manifest, work, before_inputs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, wl, sf_dir, manifest, work, before_inputs: float) -> int:
    """Set up, warm up, time passes, check outputs and print the result.
    ``before_inputs`` is the set-up time spent before input generation,
    which itself does not count toward ``setup_s``."""
    env = pin_env(work, bool(args.trace))
    sampler = probe.RssSampler()
    t_setup = time.perf_counter()
    import pyarrow
    import pyspark

    import dask_awkward_sandbox_spark.plans  # noqa: F401  (registers every slot)
    from dask_awkward_sandbox_spark.session import get_spark

    t_import = time.perf_counter() - t_setup
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}")
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spans = probe.Spans(spark.sparkContext if args.trace else None)
        ctx = workloads.Ctx(spark, sf_dir, work, spans)
        passes = [wl.run_pass(ctx, 0, collect=True)]
        setup_s = before_inputs + time.perf_counter() - t_setup
        first = 1 + wl.settle_passes
        n_timed = max(1, int(args.seconds / wl.nominal_pass_s + 0.5))
        while len(passes) < first:
            passes.append(wl.run_pass(ctx, len(passes), collect=False))
        ticks0 = probe.cpu_ticks()
        cpu0 = probe.tree_cpu_s(os.getpid())
        with sampler.sampling():
            t_timed = time.perf_counter()
            while len(passes) < first + n_timed:
                passes.append(wl.run_pass(ctx, len(passes), collect=False))
        timed_s = time.perf_counter() - t_timed
        cpu_s = (probe.tree_cpu_s(os.getpid()) - cpu0) / n_timed
        ticks1 = probe.cpu_ticks()
        failed_ops, result_rows = wl.check(ctx, passes)
        env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        stop_spark(spark, sampler)
        sampler.close()
    env.update(pyspark=pyspark.__version__, pyarrow=pyarrow.__version__,
               python=sys.version.split()[0])

    attempted = failed = 0
    op_times, walls = [], []
    for k, p in enumerate(passes[first:], start=first):
        walls.append(p.wall_s)
        for op, dt in p.op_times:
            attempted += 1
            failed += op in failed_ops or op in p.errors or f"pass{k}" in failed_ops
            op_times.append(dt)
        if not p.op_times:  # a pass that failed before any operation ran
            attempted += 1
            failed += 1

    print(f"# env {json.dumps(env, sort_keys=True)}")
    print(f"# inputs {json.dumps(manifest, sort_keys=True)}")
    print(f"# setup import_s={t_import!r} session.start_s={start_s!r} warmup_s={passes[0].wall_s!r} "
          f"settle_walls={[round(p.wall_s, 3) for p in passes[1:first]]} timed_s={timed_s!r} cpu_s={cpu_s!r} "
          f"steal_frac={(ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])!r} "
          f"peak_split_mb={sampler.peak_split_mb}")
    for name, vals in (("wall_s", walls), ("op_time_s", op_times)):
        q1, q2, q3 = quartiles(vals)
        print(f"# {name} median={q2!r} q1={q1!r} q3={q3!r} n={len(vals)} "
              f"values={[round(v, 3) for v in vals]}")
    for op, reason in sorted(failed_ops.items()):
        print(f"# FAILED {op}: {reason}")

    if args.trace:
        metrics = {"session.start_s": start_s, "session.warmup_s": passes[0].wall_s}
        metrics.update(layer_metrics(
            passes, first, spans, os.path.join(work, "eventlog"), result_rows,
            manifest.get("stream", {}).get("input_bytes", {}).get("stream_dedup", 0),
        ))
        units = LAYER_UNITS
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "op_p50_s": statistics.median(op_times),
            "cpu_s": cpu_s,
            "peak_rss_mb": sampler.peak_mb,
        }
        units = E2E
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
