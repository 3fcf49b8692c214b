"""The table-load contract of ``disq_original_spark.tables``: Spark infers
each parquet file's schema once per process, and every later load of the
same file (same size, mtime and schema confs) passes that schema and runs
no Spark job.  The query tables are generated from a fixed seed with the
benchmark's own generator (``perfbench/gen.py``), so nothing here reads
data from outside the checkout.
"""

from __future__ import annotations

import importlib.util
import itertools
import os
import re
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from disq_original_spark import tables
from disq_original_spark.cache import release_persists
from disq_original_spark.queries import QUERIES
from disq_original_spark.tables import TABLES, load_table, parquet_schema

_GEN = Path(__file__).resolve().parent.parent / "perfbench" / "gen.py"
_spec = importlib.util.spec_from_file_location("perfbench_gen", _GEN)
gen = sys.modules.setdefault(_spec.name, importlib.util.module_from_spec(_spec))
_spec.loader.exec_module(gen)

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
# the queries of the benchmark's query_mix, plus q36 (six tables, and every
# job of its build was schema inference)
IDENTITY = ["q02_filter", "q65_tpch_q2", "d07_dup_clusters", "g05_binned_interval_join",
            "q36_tpch_q5"]
_groups = itertools.count()


@pytest.fixture(scope="module")
def query_sf(tmp_path_factory) -> str:
    out = tmp_path_factory.mktemp("query_tables")
    gen.query_tables(401, out, 0.001)
    return str(out)


@pytest.fixture(autouse=True)
def _cold_cache(spark):
    prev = spark.conf.get(NANOS)
    tables._SCHEMAS.clear()
    yield
    tables._SCHEMAS.clear()
    spark.conf.set(NANOS, prev)
    release_persists()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"test_tables_{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    """The optimized plan with expression and RDD ids normalized."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    text = re.sub(r"#\d+L?", "#", text)
    return re.sub(r"(ExistingRDD|LogicalRDD)\b([^\n]*?), \d+", r"\1\2, _", text)


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


def test_second_build_of_q36_runs_no_job(spark, query_sf):
    """q36 loads six tables; cold, each load is one inference job, and a
    second build passes the six cached schemas and runs none."""
    build = QUERIES["q36_tpch_q5"].build
    _, cold = _jobs(spark, lambda: build(spark, query_sf))
    _, warm = _jobs(spark, lambda: build(spark, query_sf))
    assert (cold, warm) == (6, 0)


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    pq.write_table(pa.table({"n_nationkey": pa.array([0, 1], pa.int32())}), path)
    _, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs == 1
    before = os.stat(path).st_mtime_ns
    _, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs == 0
    pq.write_table(pa.table({"n_nationkey": pa.array([0, 1], pa.int32()),
                             "n_name": pa.array(["A", "B"])}), path)
    assert os.stat(path).st_mtime_ns != before
    df, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs == 1
    assert df.columns == ["n_nationkey", "n_name"]
    assert _rows(df) == [(0, "A"), (1, "B")]
    _, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs == 0


def test_nanos_as_long_toggle_is_inferred_again(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``events.ts`` is a nanos ``long`` under
    ``nanosAsLong`` and, with the conf off, a type Spark refuses.  The
    cached long must not outlive the conf: with it off the load infers
    again and gets Spark's own answer, the refusal.  A table inferred with
    the conf off has no such column, so the ``events`` loader turning the
    conf on does not make it infer again."""
    ts = np.array(["2024-01-01T00:00:00.123456789", "2024-01-02T00:00:00"],
                  "datetime64[ns]")
    pq.write_table(pa.table({"event_id": pa.array([1, 2], pa.int64()),
                             "ts": pa.array(ts, pa.timestamp("ns"))}),
                   tmp_path / "events.parquet")
    pq.write_table(pa.table({"n_nationkey": pa.array([0, 1], pa.int64())}),
                   tmp_path / "nation.parquet")
    path = str(tmp_path / "events.parquet")
    spark.conf.set(NANOS, "false")
    _, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs == 1
    df, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 1
    assert spark.conf.get(NANOS) == "true"
    assert parquet_schema(spark, path)["ts"].dataType.typeName() == "long"
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert [r.ts.isoformat() for r in df.orderBy("event_id").collect()] == [
        "2024-01-01T00:00:00.123456", "2024-01-02T00:00:00"]
    _, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs == 0
    spark.conf.set(NANOS, "false")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        _jobs(spark, lambda: parquet_schema(spark, path))
    spark.conf.set(NANOS, "true")
    schema, jobs = _jobs(spark, lambda: parquet_schema(spark, path))
    assert schema["ts"].dataType.typeName() == "long"
    assert jobs == 0


def test_cached_loads_match_cold_loads(spark, query_sf):
    """Every table's schema (nullability included), and each query's
    optimized plan and rows, are the same from a cold and a cached load."""
    for t in TABLES:
        tables._SCHEMAS.clear()
        cold = load_table(spark, query_sf, t).schema
        warm, jobs = _jobs(spark, lambda: load_table(spark, query_sf, t).schema)
        assert jobs == 0, t
        assert warm.jsonValue() == cold.jsonValue(), t
    for name in IDENTITY:
        tables._SCHEMAS.clear()
        cold = QUERIES[name].build(spark, query_sf)
        cold_plan, cold_rows = _plan(cold), _rows(cold)
        release_persists()
        warm = QUERIES[name].build(spark, query_sf)
        assert _plan(warm) == cold_plan, name
        assert _rows(warm) == cold_rows, name
        release_persists()


def test_unstatable_path_infers_every_load(spark, tmp_path):
    """A ``file:`` URI is readable by Spark but not by ``os.stat``: it
    takes the fallback, loads, and infers on every load."""
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int32())}),
                   tmp_path / "region.parquet")
    sf = f"file://{tmp_path}"
    with pytest.raises(OSError):
        os.stat(f"{sf}/region.parquet")
    for _ in range(2):
        df, jobs = _jobs(spark, lambda: load_table(spark, sf, "region"))
        assert jobs == 1
        assert df.count() == 3
    assert tables._SCHEMAS == {}
