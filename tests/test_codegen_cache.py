"""The generated-code cache holds a repeated workload's working set.

Spark keeps 100 generated classes by default; one pass over the
read-path ops below mints about twice that, so with the default size
every pass recompiles evicted classes (and the JIT re-warms them).  With
``CODEGEN_CACHE_ENTRIES`` the second pass must hit the cache for every
class.
"""

from __future__ import annotations

from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.session import codegen_compiles

from tests.conftest import SF_SMOKE

# The 18 read-path ops of perfbench's tsdb_query workload.
READ_OPS = [
    "ts_range_scan",
    "ts_slot_dedup",
    "ts_time_spine",
    "ts_rate",
    "ts_downsample_avg",
    "ts_agg_cascade",
    "ts_bin_split",
    "hash_aggregate",
    "tpch_q3",
    "tpch_q5",
    "tpch_q18",
    "tpch_q9",
    "tpch_q21",
    "hash_join_inner",
    "broadcast_join",
    "asof_join",
    "window_rank",
    "sort_limit_topk",
]


def _materialize_all(spark) -> int:
    queries = registry.queries()
    before = codegen_compiles(spark)
    for key in READ_OPS:
        queries[key](spark, SF_SMOKE).write.mode("overwrite").format("noop").save()
    return codegen_compiles(spark) - before


def test_second_pass_compiles_nothing(spark):
    first = _materialize_all(spark)
    second = _materialize_all(spark)
    assert second == 0, f"second pass recompiled {second} classes (first pass: {first})"
