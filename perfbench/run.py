"""Benchmark entry point.

    python3 perfbench/run.py --workload tsdb_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Generates the seeded inputs under
``.perfbench_run/`` (Spark's local dirs, temp files and the façade db go
there too), runs one workload, checks its outputs, prints a ``record``
line with the run context and every measured number, and prints as its
last line ``{"correct", "attempted", "failed", "metrics"}`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Exits 1 on a wrong output or a plan-hygiene hit, 2 when
the checkout lacks the engine.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

from perfbench import gen, workloads  # noqa: E402

WORKLOADS = ("tsdb_query", "curation", "tsdb_ingest")
DEFAULT_SF = 0.01

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
}

_SPARK_STATS = {
    "stages": "count", "tasks": "count", "idle_s": "s", "core_util": "ratio",
    "executor_run_s": "s", "executor_cpu_s": "s", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "gc_s": "s", "spill_mb": "MB", "input_mb": "MB",
    "output_mb": "MB", "failed_tasks": "count",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.queries_s": "s",
    "session.warmup_s": "s",
    "sources.register_views_s": "s",
    "sources.files_per_var": "count",
    "sources.stored_mb": "MB",
    "operators.build_s": "s",
    "operators.build_share": "ratio",
    "operators.build_jobs": "count",
    "plans.exchanges": "count",
    "plans.violations": "count",
    "spark.exec_s": "s",
    **{f"spark.{ph}.{k}": u for ph in ("build", "exec") for k, u in _SPARK_STATS.items()},
    "api.insert_batch_s": "s",
    "api.insert_batch_jobs": "count",
    "api.select_s": "s",
    "api.timerange_s": "s",
    "api.get_last_s": "s",
    "api.update_all_aggregates_s": "s",
    "api.compact_s": "s",
    **{f"{layer}.self_s": "s" for layer in ("bench", "sources", "operators", "plans", "spark", "api")},
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
    "rows_ingested_per_s": "1/s",
    "write_p50_s": "s",
    "read_p50_s": "s",
    "stored_bytes_per_user_byte": "ratio",
    "op_error_ratio": "ratio",
}
# Per-layer quantities reported as run totals; the rest are means per call.
_TOTALS = ("failed_tasks",)


class Ctx:
    def __init__(self, args, work_dir: str, sf_dir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work_dir = work_dir
        self.sf_dir = sf_dir
        self.t0 = 0.0
        self.spark = None
        self.tracer = None


def confine(work_dir: str, workload: str) -> None:
    """Point every place Spark, the JVM and the engine write to under
    ``work_dir``, and size the session to this host."""
    for sub in ("tmp", "spark-local", "engine"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_INGEST_DIR"] = os.path.join(work_dir, "engine")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={work_dir}/tmp"
    ).strip()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Half the cores run Spark tasks; the other half are left to the JIT
    # and GC threads and to this client.  At local[nproc] the stages
    # competed with them, so timings followed the host's scheduling.  The
    # façade's calls are single-file jobs of a few hundred rows: they get
    # one core, so an insert writes one part file instead of waiting on
    # the slower of several.
    cpus = 1 if workload == "tsdb_ingest" else max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))


def read_steal_s() -> float | None:
    """Host-wide CPU steal in seconds since boot (``/proc/stat``, the field
    bench.py reads)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def quantile(values: list[float], p: float) -> float:
    """Linear-interpolated quantile (numpy's default rule)."""
    xs = sorted(values)
    pos = p * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(min_calls: int) -> float:
    """The highest percentile with at least 10 samples beyond it, for the
    number of calls every run makes; never below the median."""
    return max(0.5, int(100 * (1 - 10 / min_calls)) / 100)


def run_context(args) -> dict:
    import duckdb
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "esxsnmp_tsdb_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(fh.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": args.sf,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "duckdb": duckdb.__version__,
        "git_commit": commit,
        "engine_sha256": digest.hexdigest()[:16],
    }


def call_stats(res) -> dict:
    """Numbers over the timed calls.  ``op_cpu_s`` is the CPU (this
    process and its JVM, user + system) of the timed phase per call:
    unlike wall time it leaves out what the host steals from the guest,
    which on a shared host moves every wall number of a run together.
    The wall numbers are built from each call type's median, so a call
    hit by a burst of host load does not move them.  ``ops_per_s`` is the
    rate of a round (step) of median calls: calls ÷ the sum of their
    types' medians.  ``op_p50_s`` combines the per-type medians by
    geometric mean: a round mixes ops whose walls span 0.2–3 s, and the
    plain median of such a mix jumps between op types from run to run."""
    walls = [w for _, w in res.calls]
    by_type: dict[str, list[float]] = {}
    for name, w in res.calls:
        by_type.setdefault(name, []).append(w)
    medians = {name: statistics.median(ws) for name, ws in by_type.items()}
    logs = [math.log(m) for m in medians.values()]
    p_tail = tail_percentile(res.min_calls)
    return {
        "op_cpu_s": res.extra["timed_cpu_s"] / len(walls),
        "ops_per_s": len(walls) / sum(len(by_type[n]) * m for n, m in medians.items()),
        "op_p50_s": math.exp(sum(logs) / len(logs)),
        "op_tail_s": quantile(walls, p_tail),
        "op_tail_percentile": p_tail,
        "op_samples": len(walls),
    }


def ingest_numbers(res) -> dict:
    """The façade-only numbers (zero for workloads that never write)."""
    writes = [w for n, w in res.calls if n == "insert_batch"]
    reads = [w for n, w in res.calls if n in workloads.READ_CALLS]
    if not writes:
        return {k: 0.0 for k in ("rows_ingested_per_s", "write_p50_s",
                                 "read_p50_s", "stored_bytes_per_user_byte",
                                 "sources.stored_mb")}
    return {
        "rows_ingested_per_s": res.extra["rows_timed"] / sum(writes),
        "write_p50_s": statistics.median(writes),
        "read_p50_s": statistics.median(reads),
        "stored_bytes_per_user_byte": res.extra["stored_bytes"] / (res.extra["rows_ingested"] * 24),
        "sources.stored_mb": res.extra["stored_bytes"] / (1 << 20),
    }


def per_layer(res, tracer, e2e: dict, error_ratio: float) -> dict:
    out = {k: v for k, v in {**res.setup, **e2e}.items() if k in PER_LAYER}
    for name, vals in res.layer.items():
        if name in PER_LAYER:
            total = name.endswith(_TOTALS)
            out[name] = sum(vals) if total else sum(vals) / len(vals)
    if "_wall_total" in res.layer:
        out["operators.build_share"] = sum(res.layer["_build_total"]) / sum(res.layer["_wall_total"])
    n_traced = max(1, len(res.traced))
    for layer, s in tracer.self_times().items():
        out[f"{layer}.self_s"] = s / n_traced
    if res.traced and res.untraced:
        base = statistics.median(res.untraced)
        out["trace.overhead_s"] = statistics.median(res.traced) - base
        out["trace.overhead_share"] = out["trace.overhead_s"] / base
    out["plans.violations"] = res.extra.get("plans.violations", 0)
    out["op_error_ratio"] = error_ratio
    out.update(ingest_numbers(res))
    # A layer the workload never calls reports 0.
    return {k: out.get(k, 0.0) for k in PER_LAYER}


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="scale factor of the generated tables")
    args = ap.parse_args(argv)

    import importlib.util

    for mod in ("esxsnmp_tsdb_spark", "oracle_harness"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: {mod} not found under {ROOT}", file=sys.stderr)
            return 2

    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    confine(work, args.workload)
    ctx = Ctx(args, work, os.path.join(work, "data"))
    t = time.perf_counter()
    if args.workload != "tsdb_ingest":
        gen.write_tables(ctx.sf_dir, args.seed, args.sf)
    gen_s = time.perf_counter() - t

    ctx.t0 = time.perf_counter()  # set-up starts at the engine import
    steal0 = read_steal_s()
    try:
        if args.workload == "tsdb_query":
            res = workloads.run_registry(ctx, workloads.READ_OPS, min_rounds=3)
        elif args.workload == "curation":
            res = workloads.run_registry(ctx, workloads.CURATION_OPS, min_rounds=3)
        else:
            res = workloads.run_ingest(ctx)
        steal1 = read_steal_s()
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        rss = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_pid)}
        context = run_context(args)
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    error_ratio = len(res.failed) / res.attempted
    stats = call_stats(res)
    e2e = {
        "setup_s": res.setup["setup_s"],
        "op_cpu_s": stats["op_cpu_s"],
        "ops_per_s": stats["ops_per_s"],
        "op_p50_s": stats["op_p50_s"],
        "op_tail_s": stats["op_tail_s"],
        "peak_rss_mb": rss["python"] + rss["jvm"],
    }
    layers = per_layer(res, ctx.tracer, e2e, error_ratio) if ctx.trace else None
    record = {
        "context": {
            **context,
            "steal_s": None if steal0 is None or steal1 is None else steal1 - steal0,
            "input_gen_s": gen_s,
            **{k: v for k, v in res.extra.items() if not k.startswith("plans.")},
            "op_tail_percentile": stats["op_tail_percentile"],
            "op_samples": stats["op_samples"],
            "rss_mb": rss,
            "setup": res.setup,
            "timed_s": res.timed_s,
        },
        "end_to_end": e2e,
        "per_call_p50_s": {
            name: statistics.median(w for n, w in res.calls if n == name)
            for name in sorted({n for n, _ in res.calls})
        },
        "op_error_ratio": error_ratio,
        "ingest": ingest_numbers(res),
        "per_layer": layers,
        "errors": res.errors[:20],
    }
    stem = f"{args.workload}-{args.seed}-t{args.trace}"
    with open(os.path.join(out_dir, f"record-{stem}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if ctx.tracer is not None:
        ctx.tracer.dump(os.path.join(out_dir, f"spans-{stem}.json"))
    print(json.dumps({"record": record}))
    for e in res.errors[:20]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)

    units = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": not res.failed,
        "attempted": res.attempted,
        "failed": len(res.failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if not res.failed else 1


if __name__ == "__main__":
    sys.exit(main())
