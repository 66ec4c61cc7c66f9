"""Repo benchmark: one workload, one seed, a fixed measuring time.

    python3 perfbench/run.py --workload etl_cycles --seed 1 --seconds 20 \\
        --trace 0

Run from the repository root. Workloads (see ``BENCHMARK.json`` for why
each was chosen, and ``perfbench/METRICS.md`` for what every metric
means and which end-to-end metric each per-layer metric should move):

- ``etl_cycles``: layered incremental ingestion through the job runner
  (``perfbench/etl.py``);
- ``query_iterative``: the fixed-point operators' catalog queries
  (``perfbench/queries.py``).

A run starts one Spark session on ``local[nproc]``, sets the workload up
(timed as ``setup_s``, with the repeatable part done three times and its
median kept), runs one untimed warm-up pass that also checks every
output, then runs round(``--seconds`` / the workload's nominal pass time)
closed-loop passes (at least one).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` warms up
twice, alternates untraced and traced passes and prints the per-layer
metrics, taken from
spans around each call into the engine and from Spark's status store,
plus the tracing overhead; the spans are written to
``perfbench/.traces/``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import uuid

from spans import (
    COUNTERS,
    Tracer,
    by_name,
    percentile,
    tail_percentile,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "pb_sf0.01")
# Pass time of each workload on a 4-core host. A run measures
# round(--seconds / this) passes (at least one), so every run of a
# workload measures the same work, however fast the host is that minute.
NOMINAL_PASS_S = {"etl_cycles": 10.0, "query_iterative": 15.0}
WORKLOADS = tuple(NOMINAL_PASS_S)
SETUP_REPEATS = 3

# Spans whose self time is reported, one per layer boundary.
SPAN_LAYERS = (
    "pass",
    "plans.dependencies",
    "plans.runner.job",
    "plans.metastore",
    "plans.recon",
    "pipelines.csv_ingest",
    "pipelines.flagship_ingest",
    "incremental.bootstrap",
    "incremental.append",
    "incremental.merge",
    "readers.snapshot_read",
    "streaming.ingest",
    "workloads.build",
    "workloads.action",
)

# name -> unit, in output order. Values are per pass (median over the
# traced passes) unless METRICS.md says otherwise.
PER_LAYER = {
    "session.start_s": "s",
    "workloads.build_s": "s",
    "workloads.action_s": "s",
    "workloads.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.slot_util": "ratio",
    "cache.entries_at_boundary": "count",
    "cache.mb_at_boundary": "MB",
    "incremental.append_s": "s",
    "incremental.merge_s": "s",
    "readers.snapshot_read_s": "s",
    "delta_log.versions": "count",
    "delta_log.log_mb": "MB",
    "delta_log.data_files": "count",
    "delta_log.write_amp": "ratio",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "runner.job_s": "s",
    "runner.queue_wait_s": "s",
    "runner.parallel_eff": "ratio",
    "metastore.record_s": "s",
    "recon.report_s": "s",
    "pipelines.flagship_ingest_s": "s",
    "lake_rows_per_s": "1/s",
    "lake_space_amp": "ratio",
    **{f"self.{name}_s": "s" for name in SPAN_LAYERS},
    "trace.overhead_s": "s",
}

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def host_fit(work: str) -> dict:
    """Fit Spark to this host: cores from nproc, driver heap from
    MemTotal (30%, at most 6 GiB), scratch dirs inside the checkout.

    The heap is committed at its full size and the young generation is
    fixed, so that peak RSS follows the program's live data instead of
    when G1 happens to grow the heap. -XX:-UsePerfData keeps the JVMs
    (spark-submit's launcher and the driver) from writing their perf
    counters under /tmp."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal"))
    driver_mb = max(1024, min(6144, int(mem_kb / 1024 * 0.3)))
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return {"cpus": cpus, "driver_mem": f"{driver_mb}m",
            "local_dirs": os.path.relpath(local, ROOT),
            "java_opts": f"-Xms{driver_mb}m -Xmn512m -XX:-UsePerfData "
                         f"-Djava.io.tmpdir={tmp}"}


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Context:
    """What a workload needs: the session, the tracer, the seed and
    where to read and write; plus the per-pass layer accumulators."""

    def __init__(self, seed: int, cpus: int, work_dir: str):
        self.seed = seed
        self.cpus = cpus
        self.work_dir = work_dir
        self.data_dir = DATA_DIR
        self.spark = None
        self.tracer = None
        self.layer: dict[str, float] = {}
        self.setup_reps: list[float] = []
        self.log = log
        self._lock = threading.Lock()

    def add(self, key: str, value: float) -> None:
        """Accumulate a per-pass layer value (runner threads call this
        concurrently)."""
        with self._lock:
            self.layer[key] = self.layer.get(key, 0.0) + value

    def repeat_setup(self, fn) -> None:
        """Run the repeatable part of set-up SETUP_REPEATS times."""
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            fn()
            self.setup_reps.append(time.perf_counter() - t0)

    def note_plan(self, df) -> None:
        """Driver-side analysis, optimization and planning of the action
        that just ran on ``df``."""
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            if opt.isDefined():
                self.add("workloads.plan_s", opt.get().durationMs() / 1e3)

    def note_cache(self) -> None:
        """Persisted frames an operation leaves behind, before the
        benchmark's own clearCache()."""
        jsc = self.spark.sparkContext._jsc.sc()
        self.add("cache.entries_at_boundary", jsc.getPersistentRDDs().size())
        self.add("cache.mb_at_boundary", sum(
            i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo()
        ) / 2**20)


def make_workload(name: str, ctx: Context):
    if name == "etl_cycles":
        from etl import EtlWorkload

        return EtlWorkload(ctx)
    from queries import QueryWorkload

    return QueryWorkload(ctx)


def pass_layer_metrics(ctx: Context, spans, wall: float) -> dict:
    """Per-layer values of one traced pass."""
    rows = by_name(spans)
    lay = ctx.layer
    out = {k: 0.0 for k in PER_LAYER}
    for k in COUNTERS:
        out[f"spark.{k}"] = sum(r[k] for r in rows.values())
    out["spark.slot_util"] = out["spark.executor_run_s"] / (wall * ctx.cpus)
    for name in SPAN_LAYERS:
        out[f"self.{name}_s"] = rows.get(name, {}).get("self_s", 0.0)
    for name in ("workloads.build", "workloads.action"):
        out[f"{name}_s"] = rows.get(name, {}).get("total_s", 0.0)
    for k in ("workloads.plan_s", "cache.entries_at_boundary",
              "cache.mb_at_boundary", "incremental.append_s",
              "incremental.merge_s", "readers.snapshot_read_s",
              "delta_log.versions", "delta_log.log_mb",
              "delta_log.data_files", "streaming.batches",
              "runner.job_s", "runner.queue_wait_s", "runner.parallel_eff",
              "metastore.record_s", "pipelines.flagship_ingest_s",
              "lake_space_amp"):
        out[k] = lay.get(k, 0.0)
    out["recon.report_s"] = lay.get("plans.recon_s", 0.0)
    if lay.get("batch_bytes"):
        out["delta_log.write_amp"] = lay["written_bytes"] / lay["batch_bytes"]
    if lay.get("streaming.batches"):
        out["streaming.batch_s"] = lay["streaming.trigger_s"] / lay[
            "streaming.batches"]
        out["streaming.add_batch_s"] = lay["streaming.add_batch_s"] / lay[
            "streaming.batches"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_id = uuid.uuid4().hex[:8]
    work = os.path.join(HERE, ".work", run_id)
    try:
        return start_and_measure(args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


def start_and_measure(args, run_id: str, work: str) -> int:
    fit = host_fit(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # Fail fast, before Spark starts, when the engine is not there.
    from aws_sql_server_to_s3_datalake_etl_migration_spark.session import (
        get_spark,
    )

    if not os.path.isdir(DATA_DIR):
        raise SystemExit(f"missing input tables: {DATA_DIR}")
    ctx = Context(args.seed, fit["cpus"], work)
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_confs={"spark.driver.extraJavaOptions": fit["java_opts"]},
    )
    session_s = time.perf_counter() - t0
    try:
        ctx.spark = spark
        ctx.tracer = Tracer(spark, run_id)
        return measure(args, ctx, fit, session_s)
    finally:
        stop_spark(spark)


def measure(args, ctx: Context, fit: dict, session_s: float) -> int:
    tracer = ctx.tracer
    wl = make_workload(args.workload, ctx)
    t0 = time.perf_counter()
    wl.setup()
    setup_once = time.perf_counter() - t0
    # the repeatable part counts once, at its median
    setup_s = (session_s + setup_once - sum(ctx.setup_reps)
               + statistics.median(ctx.setup_reps))
    t0 = time.perf_counter()
    attempted = failed = 0

    def run_pass():
        ctx.layer = {}
        return wl.run_pass()

    # Warm-up: untimed, checks every output. A traced run warms up twice,
    # so that its untraced and traced passes are equally warm.
    for _ in range(2 if args.trace else 1):
        _, ops = run_pass()
        attempted += len(ops)
        failed += sum(not ok for _, _, ok in ops)
    setup_s += time.perf_counter() - t0
    log(f"setup {setup_s:.3f}s (session {session_s:.3f}s, repeated part "
        f"{[round(r, 3) for r in ctx.setup_reps]}), warm-up done")

    walls, traced_walls, op_secs, layer_rows = [], [], [], []
    n_passes = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    if args.trace:  # untraced and traced passes alternate
        n_passes = max(2, n_passes)
    for i in range(n_passes):
        tracer.enabled = bool(args.trace) and i % 2 == 1
        mark = len(tracer.spans)
        wall, ops = run_pass()
        traced = tracer.enabled
        tracer.enabled = False
        attempted += len(ops)
        failed += sum(not ok for _, _, ok in ops)
        if traced:
            traced_walls.append(wall)
            layer_rows.append(pass_layer_metrics(
                ctx, tracer.spans[mark:], wall))
            layer_rows[-1]["rows_written"] = ctx.layer.get("rows_written", 0)
        else:
            walls.append(wall)
            op_secs.extend(s for name, s, ok in ops if s > 0)
        log(f"pass {i}: {wall:.3f}s, {len(ops)} ops"
            + (" (traced)" if traced else ""))

    if args.trace:
        metrics = {
            k: statistics.median(r[k] for r in layer_rows) for k in PER_LAYER
        }
        metrics["session.start_s"] = session_s
        rows = statistics.median(r["rows_written"] for r in layer_rows)
        metrics["lake_rows_per_s"] = rows / statistics.median(walls)
        metrics["trace.overhead_s"] = (
            statistics.median(traced_walls) - statistics.median(walls))
        units = PER_LAYER
        write_spans(args, tracer)
    else:
        pct = tail_percentile(len(op_secs))
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(walls),
            "op_p50_s": statistics.median(op_secs),
            "op_tail_s": percentile(op_secs, pct),
            "peak_rss_mb": vm_hwm_mb(os.getpid()) + vm_hwm_mb(
                ctx.spark._jvm.ProcessHandle.current().pid()),
        }
        units = END_TO_END
        log(f"op_tail_s is p{pct} of {len(op_secs)} operations")
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "host": fit,
        "passes": len(walls) + len(traced_walls),
        "failed_frac": failed / max(attempted, 1),
        "op_tail_pct": tail_percentile(len(op_secs)),
        "op_samples": len(op_secs),
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


def write_spans(args, tracer) -> None:
    out = os.path.join(HERE, ".traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "run_id": tracer.run_id,
            "by_layer": by_name(tracer.spans),
            "spans": [vars(s) for s in tracer.spans],
        }, f, indent=1)
    for name, row in sorted(by_name(tracer.spans).items()):
        log(f"{name:28s} n={row['n']:4d} total={row['total_s']:8.3f}s "
            f"self={row['self_s']:8.3f}s jobs={row['jobs']:.0f} "
            f"stages={row['stages']:.0f}")


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    sys.exit(main())
