"""Smoke tests of the benchmark itself, at tiny scale.

    python3 -m pytest perfbench/tests -q

The last test runs every workload end to end (sf 0.001, one-second runs,
traced and untraced), so the file takes a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

from perfbench import gen, model, workloads  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _ingest_bytes(seed: int) -> bytes:
    s = gen.IngestStream(seed, n_vars=3)
    payload = {
        "history": [s.history(v) for v in range(s.n_vars)],
        "batches": [[s.batch(v, k) for v in range(s.n_vars)] for k in range(5)],
        "reads": [s.reads(k, 1) for k in range(5)],
    }
    return json.dumps(payload).encode()


def test_one_seed_regenerates_identical_ingest_inputs():
    assert _ingest_bytes(7) == _ingest_bytes(7)
    assert _ingest_bytes(7) != _ingest_bytes(8)


def _digest(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_one_seed_regenerates_identical_tables(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 5, 0.001)
    b = gen.write_tables(str(tmp_path / "b"), 5, 0.001)
    c = gen.write_tables(str(tmp_path / "c"), 6, 0.001)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_oracle_check_rejects_a_wrong_result(tmp_path):
    import oracle_harness
    from esxsnmp_tsdb_spark import registry

    sf_dir = gen.write_tables(str(tmp_path / "sf"), 1, 0.001)
    oracle = registry.oracle_sql()
    con = oracle_harness.duck_connection(sf_dir)
    keys = ["tpch_q5", "dedup_threshold_sweep"]
    right = {k: con.execute(oracle[k]).fetchdf() for k in keys}
    con.close()
    assert workloads.oracle_check(sf_dir, right) == []

    wrong = {k: df.copy() for k, df in right.items()}
    col = wrong["tpch_q5"].select_dtypes("number").columns[0]
    wrong["tpch_q5"].loc[0, col] += 1
    wrong["dedup_threshold_sweep"] = wrong["dedup_threshold_sweep"].iloc[1:]
    bad = workloads.oracle_check(sf_dir, wrong)
    assert {k for k, _ in bad} == set(keys)


def test_model_rejects_wrong_reads():
    m = model.VarModel(300)
    m.insert([(1000, 5.0, 1), (1010, 6.0, 1), (1400, None, 0), (1700, 9.0, 1)])
    # slot 900 holds the later write (6.0); slot 1200 was blanked
    sel = [
        dict(tse=1010, flags=1, value=6.0, slot=900),
        dict(tse=1400, flags=0, value=None, slot=1200),
        dict(tse=1700, flags=1, value=9.0, slot=1500),
    ]
    assert model.check_select(m, 900, 1800, sel) == []
    sel[0] = dict(tse=1000, flags=1, value=5.0, slot=900)
    assert model.check_select(m, 900, 1800, sel)

    assert model.check_get_last(m, dict(tse=1700, flags=1, value=9.0, slot=1500)) == []
    assert model.check_get_last(m, dict(tse=1010, flags=1, value=6.0, slot=900))

    m.update_aggregates()
    m.insert([(1750, 100.0, 1)])  # after the update: not in the aggregate
    want = [dict(slot=0, value=7.5, n=2)]
    assert model.check_timerange(m, 0, 3600, 3600, want) == []
    assert model.check_timerange(m, 0, 3600, 3600, [dict(slot=0, value=100.0, n=2)])


def test_empty_checkout_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        BENCH["command"] + ["--workload", BENCH["workloads"][0]["name"],
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


# Every metric the benchmark's specification names; the spark.* stage
# statistics are reported per phase, as spark.build.<x> and spark.exec.<x>.
NAMED = (
    "setup_s ops_per_s op_p50_s op_tail_s op_error_ratio peak_rss_mb "
    "rows_ingested_per_s write_p50_s read_p50_s stored_bytes_per_user_byte "
    "session.start_s registry.queries_s session.warmup_s "
    "sources.register_views_s sources.files_per_var sources.stored_mb "
    "operators.build_s operators.build_share operators.build_jobs "
    "plans.exchanges plans.violations spark.exec_s "
    "api.insert_batch_s api.insert_batch_jobs api.select_s api.timerange_s "
    "api.get_last_s api.update_all_aggregates_s api.compact_s"
).split()
SPARK_NAMED = (
    "input_mb stages tasks idle_s core_util executor_run_s executor_cpu_s "
    "shuffle_write_mb shuffle_read_mb gc_s spill_mb output_mb failed_tasks"
).split()


def test_every_named_metric_is_in_the_benchmark():
    emitted = set(END_TO_END) | set(PER_LAYER)
    assert set(NAMED) <= emitted
    assert {f"spark.{ph}.{k}" for ph in ("build", "exec") for k in SPARK_NAMED} <= emitted


def test_benchmark_json_names_what_run_emits():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == PER_LAYER
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] > 0
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in last["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in last["metrics"].values())
    record = json.loads(proc.stdout.strip().splitlines()[-2])["record"]
    for key in ("nproc", "SPARK_GRAFT_CPUS", "steal_s", "seed", "spark",
                "python", "duckdb", "op_tail_percentile", "op_samples"):
        assert key in record["context"]
