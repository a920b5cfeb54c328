"""The three closed-loop workloads: one client, each call waits for its
result before the next is sent.

``tsdb_query`` and ``curation`` run seeded-order rounds over registry ops
(build with ``registry.queries()[k](spark, sf_dir)``, materialize to the
``noop`` sink).  ``tsdb_ingest`` drives the ``TSDB/TSDBSet/TSDBVar`` façade
with the seeded counter stream of :mod:`perfbench.gen`.

Every workload returns a :class:`Result`; ``run.py`` turns it into metrics.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time

from perfbench import gen, model
from perfbench.trace import StageDeltas, Tracer

pc = time.perf_counter

READ_OPS = [
    "ts_range_scan", "ts_slot_dedup", "ts_time_spine", "ts_rate",
    "ts_downsample_avg", "ts_agg_cascade", "ts_bin_split", "hash_aggregate",
    "tpch_q3", "tpch_q5", "tpch_q18", "tpch_q9", "tpch_q21",
    "hash_join_inner", "broadcast_join", "asof_join", "window_rank",
    "sort_limit_topk",
]
# dedup_connected_components and dedup_cluster_size_stats belong to this
# family but are left out: their propagation loop stops at 20 rounds and
# raises on about one seeded corpus in eight (candidate graphs of
# diameter 30+ need more rounds), so a run would fail at random.
CURATION_OPS = [
    "dedup_near_minhash", "minhash_jaccard_estimate",
    "dedup_semantic_cells", "dedup_threshold_sweep",
    "pipeline_pretraining_mix", "dedup_minhash_indexed_smallbatch",
    "dedup_semantic_indexed_sqrtn",
]

# Façade calls that read (the rest write or maintain).
READ_CALLS = ("select", "timerange", "get_last")


class Result:
    """What one run measured.  ``calls`` holds every timed call as
    ``(name, wall_s)``; ``layer`` per-layer samples from traced calls."""

    def __init__(self):
        self.setup: dict[str, float] = {}
        self.calls: list[tuple[str, float]] = []
        self.untraced: list[float] = []
        self.traced: list[float] = []
        self.timed_s = 0.0
        self.attempted = 0
        self.errors: list[str] = []
        self.failed: set[str] = set()
        self.layer: dict[str, list[float]] = {}
        self.extra: dict[str, float] = {}
        self.min_calls = 0  # calls every run makes, whatever its speed

    def fail(self, call_id: str, what: str) -> None:
        """Record a problem with call ``call_id`` (one failed call however
        many problems it has)."""
        self.failed.add(call_id)
        self.errors.append(what)

    def add(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)


def _rounds(seed: int, keys: list[str], r: int) -> list[str]:
    order = list(keys)
    random.Random(f"{seed}/round/{r}").shuffle(order)
    return order


def _materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and the
    JVM it drives.  Time the host stole from the guest is not in it."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return time.process_time() + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _add_deltas(res: Result, phase: str, d: dict) -> None:
    for k, v in d.items():
        if k != "jobs":
            res.add(f"spark.{phase}.{k}", v)


# -- registry workloads ------------------------------------------------------


def run_registry(ctx, keys: list[str], min_rounds: int) -> Result:
    """Set-up (session, registry, a warm-up round that also collects every
    op's result for the output check), then whole seeded-order rounds until
    ``ctx.seconds`` have passed, then the oracle check."""
    from esxsnmp_tsdb_spark.plans import plan_violations
    from esxsnmp_tsdb_spark.session import get_session

    res = Result()
    spark = get_session("perfbench")
    res.setup["session.start_s"] = pc() - ctx.t0
    ctx.spark = spark
    t = pc()
    from esxsnmp_tsdb_spark import registry

    queries = registry.queries()
    res.setup["registry.queries_s"] = pc() - t

    # Warm-up round: build, inspect the plan (clocked apart), collect.
    t_warm, check_s = pc(), 0.0
    collected = {}
    for key in _rounds(ctx.seed, keys, -1):
        res.attempted += 1
        try:
            df = queries[key](spark, ctx.sf_dir)
            t = pc()
            bad = plan_violations(df)
            check_s += pc() - t
            if bad:
                res.fail(key, f"{key}: plan violations {bad}")
                res.extra["plans.violations"] = res.extra.get("plans.violations", 0) + len(bad)
            collected[key] = df.toPandas()
        except Exception as e:  # a failing op is a measured outcome
            res.fail(key, f"{key}: {type(e).__name__}: {e}")
    res.setup["session.warmup_s"] = pc() - t_warm - check_s
    res.setup["setup_s"] = pc() - ctx.t0 - check_s

    tracer = Tracer() if ctx.trace else None
    stages = StageDeltas(spark) if ctx.trace else None
    res.min_calls = min_rounds * len(keys)
    t_timed, cpu0 = pc(), cpu_s()
    deadline = t_timed + ctx.seconds
    r = 0
    while r < min_rounds or pc() < deadline:
        traced = ctx.trace and r % 2 == 1
        for key in _rounds(ctx.seed, keys, r):
            res.attempted += 1
            try:
                if traced:
                    _traced_op(res, tracer, stages, spark, queries, key, ctx.sf_dir)
                else:
                    t0 = pc()
                    _materialize(queries[key](spark, ctx.sf_dir))
                    wall = pc() - t0
                    res.calls.append((key, wall))
                    res.untraced.append(wall)
            except Exception as e:
                res.fail(f"{key}/{r}", f"{key} (round {r}): {type(e).__name__}: {e}")
        r += 1
    res.timed_s = pc() - t_timed
    res.extra["timed_cpu_s"] = cpu_s() - cpu0
    res.extra["rounds"] = r
    if tracer is not None:
        ctx.tracer = tracer

    for key, problem in oracle_check(ctx.sf_dir, collected):
        res.fail(key, problem)
    return res


def oracle_check(sf_dir: str, collected: dict) -> list[tuple[str, str]]:
    """``(op, problem)`` for every collected result that differs from its
    DuckDB oracle over the same files, by the repo's canonical
    order-insensitive compare (tests/oracle_harness.py)."""
    import oracle_harness
    from esxsnmp_tsdb_spark import registry

    oracle = registry.oracle_sql()
    out = []
    con = oracle_harness.duck_connection(sf_dir)
    try:
        for key, pdf in collected.items():
            try:
                problems = oracle_harness.compare(pdf, con.execute(oracle[key]).fetchdf(), key)
            except Exception as e:
                problems = [f"{key}: oracle raised {type(e).__name__}: {e}"]
            out += [(key, p) for p in problems]
    finally:
        con.close()
    return out


def _traced_op(res, tracer, stages, spark, queries, key, sf_dir):
    from esxsnmp_tsdb_spark.plans import plan_str
    from esxsnmp_tsdb_spark.sources.catalog import register_views

    with tracer.span("bench.op", op=key) as op:
        with tracer.span("sources.register_views", op=key) as s:
            register_views(spark, sf_dir)
        res.add("sources.register_views_s", s["end"] - s["start"])
        w0 = time.time()
        with tracer.span("operators.build", op=key) as b:
            df = queries[key](spark, sf_dir)
        w1 = time.time()
        d_build = stages.delta(w0, w1)
        with tracer.span("plans.explain", op=key):
            res.add("plans.exchanges", _exchanges(plan_str(df, "simple")))
        w2 = time.time()
        with tracer.span("spark.exec", op=key) as x:
            _materialize(df)
        d_exec = stages.delta(w2, time.time())
    build, run = b["end"] - b["start"], x["end"] - x["start"]
    res.calls.append((key, build + run))
    res.traced.append(op["end"] - op["start"])
    res.add("operators.build_s", build)
    res.add("spark.exec_s", run)
    res.add("operators.build_jobs", d_build["jobs"])
    res.add("_build_total", build)
    res.add("_wall_total", build + run)
    _add_deltas(res, "build", d_build)
    _add_deltas(res, "exec", d_exec)


def _exchanges(plan: str) -> int:
    """Exchange nodes in a simple-mode plan (shuffle, broadcast, reused)."""
    return len(re.findall(r"\b\w*Exchange\b", plan))


# -- façade ingest workload --------------------------------------------------

N_VARS = 3
READ_VARS = 1
# Untimed steps before the timed phase, each reading every var: the read
# path and the aggregate update keep speeding up over their first ten or
# so calls while the JIT warms.
WARMUP_STEPS = 3
AGGREGATES = ("5m", "1h", "1d")


def run_ingest(ctx) -> Result:
    """Set-up builds a db of ``N_VARS`` vars with a 5m/1h/1d ladder
    (configured, built by the first maintenance of each var) and a week of
    history each, then runs ``WARMUP_STEPS`` untimed steps that read every
    var.  Each timed step inserts one batch per var, reads ``READ_VARS``
    seeded vars (``select``, ``timerange(step=3600)``, ``get_last``), and
    maintains one var in rotation (``update_all_aggregates`` then
    ``compact``).  The LWW model replays every insert and checks every
    read afterwards."""
    from esxsnmp_tsdb_spark.api import TSDB
    from esxsnmp_tsdb_spark.session import get_session

    res = Result()
    spark = get_session("perfbench")
    res.setup["session.start_s"] = pc() - ctx.t0
    ctx.spark = spark
    t = pc()
    from esxsnmp_tsdb_spark import registry

    registry.queries()
    res.setup["registry.queries_s"] = pc() - t

    t = pc()
    stream = gen.IngestStream(ctx.seed, n_vars=N_VARS)
    root = os.path.join(ctx.work_dir, "db")
    shutil.rmtree(root, ignore_errors=True)
    db = TSDB.create(spark, root)
    vars_ = []
    log: list[tuple] = []  # (kind, var, payload, result, call id) in call order
    rows_total = 0
    for v, path in enumerate(stream.var_paths()):
        set_name, var_name = path.split("/")
        var = db.add_set(set_name).add_var(var_name, step=stream.STEP)
        for spec in AGGREGATES:
            var.add_aggregate(spec)
        rows = stream.history(v)
        var.insert_batch(rows)
        log.append(("insert", v, rows, None, None))
        rows_total += len(rows)
        vars_.append(var)
    res.setup["sources.preload_s"] = pc() - t

    tracer = Tracer() if ctx.trace else None
    stages = StageDeltas(spark) if ctx.trace else None

    def call(name: str, v: int, fn, timed: bool):
        """One façade call; returns ``(ok, result)``.  Untimed (warm-up)
        calls still count as attempts and still feed the model check."""
        res.attempted += 1
        traced = timed and tracer is not None and k % 2 == 0
        if traced and name in READ_CALLS:
            res.add("sources.files_per_var", vars_[v].file_count())
        w0 = time.time()
        t0 = pc()
        try:
            if traced:
                with tracer.span(f"api.{name}", op=f"{name}:{v}"):
                    out = fn()
            else:
                out = fn()
        except Exception as e:
            res.fail(f"{name}/{v}/{k}/{len(log)}", f"{name} var {v} step {k}: {type(e).__name__}: {e}")
            return False, None
        wall = pc() - t0
        if timed:
            res.calls.append((name, wall))
            (res.traced if traced else res.untraced).append(wall)
        if traced:
            d = stages.delta(w0, time.time())
            res.add(f"api.{name}_s", wall)
            if name == "insert_batch":
                res.add("api.insert_batch_jobs", d["jobs"])
            _add_deltas(res, "exec", d)
        return True, out

    def step(timed: bool) -> int:
        nonlocal rows_total
        for v in range(N_VARS):
            rows = stream.batch(v, k)
            ok, _ = call("insert_batch", v, lambda: vars_[v].insert_batch(rows), timed)
            if not ok:
                continue
            log.append(("insert", v, rows, None, None))
            rows_total += len(rows)
            if timed:
                res.extra["rows_timed"] = res.extra.get("rows_timed", 0) + len(rows)
        for v, sel, rng in stream.reads(k, READ_VARS if timed else N_VARS):
            var = vars_[v]
            _, got = call("select", v, lambda: var.select(*sel).collect(), timed)
            log.append(("select", v, sel, got, len(log)))
            _, got = call("timerange", v,
                          lambda: var.timerange(*rng, step=3600).collect(), timed)
            log.append(("timerange", v, rng, got, len(log)))
            _, got = call("get_last", v, var.get_last, timed)
            log.append(("get_last", v, None, got, len(log)))
        v = k % N_VARS
        if call("update_all_aggregates", v, vars_[v].update_all_aggregates, timed)[0]:
            log.append(("update", v, None, None, None))
        call("compact", v, vars_[v].compact, timed)
        return 3 * READ_VARS + N_VARS + 2

    t_warm = pc()
    for k in range(WARMUP_STEPS):
        step(timed=False)
    res.setup["session.warmup_s"] = pc() - t_warm
    res.setup["setup_s"] = pc() - ctx.t0

    min_steps, n_steps = 6, 0
    t_timed, cpu0 = pc(), cpu_s()
    deadline = t_timed + ctx.seconds
    while n_steps < min_steps or pc() < deadline:
        k += 1
        n_steps += 1
        n_calls = step(timed=True)
        if n_steps <= min_steps:
            res.min_calls += n_calls
    res.timed_s = pc() - t_timed
    res.extra["timed_cpu_s"] = cpu_s() - cpu0
    res.extra["steps"] = n_steps
    if tracer is not None:
        ctx.tracer = tracer

    # Output check: replay the log through the model, then read every
    # slot of every var once more.
    models = [model.VarModel(stream.STEP) for _ in range(N_VARS)]
    for kind, v, payload, got, call_id in log:
        m = models[v]
        if kind == "insert":
            m.insert(payload)
        elif kind == "update":
            m.update_aggregates()
        elif got is None:
            continue  # the call raised; already counted
        elif kind == "select":
            problems = model.check_select(m, *payload, got)
        elif kind == "timerange":
            problems = model.check_timerange(m, *payload, 3600, got)
        else:
            problems = model.check_get_last(m, got)
        if kind in READ_CALLS:
            for p in problems:
                res.fail(f"read/{call_id}", f"var {v} {p}")
    end = stream.T0 + stream.head_slot(k + 1) * stream.STEP
    for v, var in enumerate(vars_):
        res.attempted += 1
        for p in model.check_select(models[v], stream.T0, end,
                                    var.select(stream.T0, end).collect()):
            res.fail(f"final/{v}", f"final var {v} {p}")
    stored = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    )
    res.extra["rows_ingested"] = rows_total
    res.extra["stored_bytes"] = stored
    return res
