"""Differential correctness: every registered query with an oracle runs on
Spark and DuckDB; results must match (count, schema, order-insensitive
values) — the same gate the driver applies at sf0.01."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from disq_original_spark.queries import QUERIES

from .util import assert_frames_match

ORACLE_QUERIES = sorted(name for name, q in QUERIES.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(name for name, q in QUERIES.items() if q.oracle is None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, ddb, sf_dir, name):
    q = QUERIES[name]
    spark_pdf = q.build(spark, sf_dir).toPandas()
    oracle_pdf = ddb.sql(q.oracle).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)


def test_every_query_is_hash_checkable():
    """Since q12's companion-boolean conversion (r6) the registry has NO
    rows-only queries left: every entry carries a DuckDB oracle, so the
    driver hash-checks 100% of the surface.  A new rows-only query should
    be a deliberate, documented exception — this test makes the regression
    loud (and replaces the rows-only smoke runner, whose parameter set is
    now empty)."""
    assert ROWS_ONLY_QUERIES == [], (
        "queries without an oracle (driver can only rows-check them): "
        f"{ROWS_ONLY_QUERIES}"
    )


def test_q12_approx_within_tolerance(spark, ddb, sf_dir):
    """The companion-boolean form (each engine checks its own sketch) is
    what the driver hashes; this test additionally pins Spark's RAW sketch
    value against DuckDB's exact count — the original ±5% contract."""
    from disq_original_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    approx = li.agg(F.approx_count_distinct("l_partkey").alias("adp")).collect()[0][
        "adp"
    ]
    exact = ddb.sql("SELECT count(DISTINCT l_partkey) FROM lineitem").fetchone()[0]
    assert abs(approx - exact) <= 0.05 * exact
    row = QUERIES["q12_approx_distinct"].build(spark, sf_dir).collect()[0]
    assert row["exact_cnt"] == exact and bool(row["within_5pct"]) is True


def test_entry_smoke(spark):
    import __spark_entry__ as se

    df = se.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(se.oracle_sql()) <= set(se.queries())


def test_s03_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF is approximate; pin its recall@10 against the s01 exact baseline
    so bucketing bugs (wrong cell assignment, lost probes) surface as a
    recall collapse rather than silently returning plausible rows."""
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in QUERIES["s01_knn_bruteforce"].build(spark, sf_dir).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in QUERIES["s03_ann_ivf"].build(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall@10 collapsed: {recall:.2f}"


def test_s05_pq_recall_vs_exact_l2(spark, sf_dir):
    """PQ+rerank is approximate; pin recall@10 against exact squared-L2
    brute force so encoding bugs (wrong subspace slicing, bad table gather,
    shortlist truncation) collapse recall instead of returning plausible
    rows.  At the default test scale the rerank depth covers the corpus, so
    recall is exactly 1.0; at sf0.01 it measured 0.76 on the synthetic
    (worst-case iid) embeddings — the floor leaves noise margin."""
    import numpy as np

    from disq_original_spark.queries import QUERIES
    from disq_original_spark.tables import load_table

    pdf = load_table(spark, sf_dir, "embeddings").toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    m = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
    exact = set()
    for qi in range(5):
        d = ((m - m[ids == qi][0]) ** 2).sum(1)
        d[ids == qi] = np.inf
        for n in ids[np.argsort(d, kind="stable")[:10]]:
            exact.add((qi, int(n)))
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in QUERIES["s05_ann_pq"].build(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"PQ recall@10 collapsed: {recall:.2f}"


def test_null_text_documents_survive_fused_passes(spark, ddb, sf_dir):
    """The fused Arrow passes must handle NULL text the way the DuckDB
    oracles do (drop the doc / all-zero simhash / empty-string hash),
    not crash.  The testdata has no nulls, so inject one."""
    import duckdb

    from disq_original_spark.tables import load_table
    from tests.util import assert_frames_match

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(20)
    withnull = base.unionByName(
        spark.createDataFrame([(999_999, None)], "doc_id long, text string")
    )
    withnull.createOrReplaceTempView("documents_nulltest")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        f"ORDER BY doc_id LIMIT 20"
    )
    con.execute(
        "CREATE VIEW documents_n AS SELECT * FROM documents "
        "UNION ALL SELECT 999999, NULL"
    )

    import disq_original_spark.queries.dedup as dd
    import disq_original_spark.queries.textops as tx
    from disq_original_spark.queries import QUERIES

    # run the Spark builders against the null-injected frame by monkeypatching
    # the loader they use
    import disq_original_spark.tables as tables_mod

    orig_wide, orig_load = tables_mod.load_wide, tables_mod.load_table
    dd_wide, dd_load = dd.load_wide, dd.load_table
    try:
        dd.load_wide = lambda spark_, sf_, name: withnull
        dd.load_table = lambda spark_, sf_, name: withnull
        tx.load_wide = lambda spark_, sf_, name: withnull
        for name in (
            "d03_minhash_lsh",
            "d06_simhash",
            "t06_winnow_fingerprint",
            "d13_lsh_bucket_audit",  # NULL-text docs must not skew counts
        ):
            oracle = QUERIES[name].oracle.replace("FROM documents", "FROM documents_n")
            assert_frames_match(
                QUERIES[name].build(spark, sf_dir).toPandas(),
                con.execute(oracle).fetchdf(),
                f"{name}+null",
            )
    finally:
        dd.load_wide, dd.load_table = dd_wide, dd_load
        tx.load_wide = orig_wide


def test_driver_window_rotation_contract():
    """The driver's CORRECTNESS harness snapshots the FIRST 50 names of
    queries().  Round 2 lost 29 queries from its snapshot because the
    priority list went stale.  Pin the invariant directly against the
    committed CORRECTNESS_r0N.json files: every registered query must
    either already have a driver row in some committed round OR sit
    inside the current first-50 window, so no query can silently fall
    out of the rolling witness rotation."""
    import json
    from pathlib import Path

    import __spark_entry__ as se
    from disq_original_spark.queries import QUERIES

    names = list(se.queries())
    assert len(names) == len(QUERIES) == len(set(names))
    assert set(se.oracle_sql()) <= set(names)

    repo = Path(__file__).resolve().parent.parent
    witnessed: set[str] = set()
    for f in sorted(repo.glob("CORRECTNESS_r*.json")):
        witnessed |= set(json.loads(f.read_text()))
    assert witnessed, "no committed CORRECTNESS_r*.json found"
    window = set(names[:50])
    uncovered = set(QUERIES) - witnessed - window
    assert not uncovered, (
        f"queries with no driver row and outside the next 50-row window: "
        f"{sorted(uncovered)}"
    )


def test_witness_freshness_gate():
    """simulate_driver_window.py --freshness must report NO registered
    query whose latest green driver witness is older than one full
    rotation cycle (ceil(registry/50) rounds — the best a 50-slot driver
    window can do) and which also sits outside the current window — the
    machine-checked form of the rotation rule queries() derives from the
    committed witnesses (VERDICT r6 directive #6).  This fails exactly
    when that ordering goes stale."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "simwin",
        Path(__file__).resolve().parent.parent / "tools" / "simulate_driver_window.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.freshness() == 0


def test_s06_sq8_recall_vs_exact_l2(spark, sf_dir):
    """SQ8+rerank is approximate; pin recall@10 against the exact-L2 top-k
    so grid bugs (wrong min/max dim, off-by-one quantization) collapse
    recall instead of returning plausible rows.  int8 distortion is mild,
    so the floor is high."""
    import numpy as np

    from disq_original_spark.tables import load_table

    pdf = load_table(spark, sf_dir, "embeddings").toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    m = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
    exact = set()
    for qi in range(5):
        d = ((m - m[ids == qi][0]) ** 2).sum(1)
        ranked = [int(i) for _d, i in sorted(zip(d, ids), key=lambda t: (t[0], t[1])) if i != qi]
        exact |= {(qi, i) for i in ranked[:10]}
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in QUERIES["s06_ann_sq8"].build(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"SQ8 recall@10 collapsed: {recall:.2f}"


def test_s09_nn_descent_improves_recall(spark, sf_dir):
    """One NN-Descent round must not lose recall@3 vs the seed bucketed
    graph (candidates are a superset re-ranked by the same metric) and on
    this data must strictly recover at least one cross-bucket true
    neighbor the LSH seed misses."""
    import numpy as np

    from disq_original_spark.tables import load_table

    pdf = load_table(spark, sf_dir, "embeddings").toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    m = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    gram = m @ m.T
    np.fill_diagonal(gram, -np.inf)
    exact = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in np.argsort(-gram[i], kind="stable")[:3]
    }

    def recall(name):
        got = {
            (r["src"], r["dst"])
            for r in QUERIES[name].build(spark, sf_dir).collect()
        }
        return len(got & exact) / len(exact)

    r_seed, r_refined = recall("s07_knn_graph"), recall("s09_nn_descent_round")
    assert r_refined >= r_seed
    assert r_refined > r_seed  # at least one cross-bucket neighbor recovered


def test_q68_spark_sketch_meets_documented_rank_bound(spark, sf_dir):
    """The q68 hash row checks a shared 1% rank tolerance; this pins
    Spark's OWN documented guarantee — approx_percentile with accuracy A
    has rank error <= n/A (A=10000 here) — against the exact ranks, the
    q12 pattern of testing the raw sketch beyond the emitted boolean."""
    from disq_original_spark.queries.relational import _int_units

    import pyspark.sql.functions as F

    cents = [
        r[0]
        for r in QUERIES["q68_quantile_sketch_audit"]
        .build.__globals__["_t"](spark, sf_dir, "lineitem")
        .select(_int_units(F.col("l_extendedprice")).alias("c"))
        .collect()
    ]
    cents.sort()
    n = len(cents)
    approx = (
        spark.createDataFrame([(c,) for c in cents], "c long")
        .agg(F.percentile_approx("c", [0.5, 0.9, 0.99], 10000).alias("av"))
        .collect()[0][0]
    )
    import bisect
    for q, av in zip((0.5, 0.9, 0.99), approx):
        target = (int(q * 100) * n + 99) // 100  # ceil(q*n) with q = k/100
        lo = bisect.bisect_left(cents, av)       # #(< av)
        hi = bisect.bisect_right(cents, av)      # #(<= av)
        tol = n // 10000 + 1
        assert lo <= target + tol and hi >= target - tol, (q, av, lo, hi, target, n)


def test_q68_emits_labels_on_empty_input(spark, sf_dir, tmp_path):
    """ADVICE r12: on an EMPTY lineitem the oracle's `FROM n, av` cross
    join still emits its 3 label rows, so the Spark side must too — the
    all-NULL histogram pad row keeps the crossJoin alive.  Differential:
    both engines over a zero-row lineitem with the real schema."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(f"{sf_dir}/lineitem.parquet")
    empty = pa.table(
        {f.name: pa.array([], type=f.type) for f in schema}, schema=schema
    )
    pq.write_table(empty, str(tmp_path / "lineitem.parquet"))

    q = QUERIES["q68_quantile_sketch_audit"]
    spark_pdf = q.build(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet')"
    )
    oracle_pdf = con.sql(q.oracle).fetchdf()
    con.close()
    assert len(spark_pdf) == 3 and len(oracle_pdf) == 3
    assert_frames_match(spark_pdf, oracle_pdf, "q68_empty_input")


def test_q36_half_cent_revenue_matches_oracle(spark, sf_dir, tmp_path):
    """A nation's DECIMAL revenue ending in exactly half a cent (33423.0750)
    has no exact double: rounding after the double cast went up in Spark
    (.08) and down in DuckDB (.07).  q36 now rounds the DECIMAL sum to
    cents first, so both engines give 33423.08.  One hand-built row per
    table, with the real schemas."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    defaults = {pa.string(): "x", pa.timestamp("us"): datetime.datetime(1996, 6, 1)}
    rows = {
        "region": {"r_regionkey": 2, "r_name": "ASIA"},
        "nation": {"n_nationkey": 18, "n_name": "CHINA", "n_regionkey": 2},
        "supplier": {"s_suppkey": 7, "s_nationkey": 18},
        "customer": {"c_custkey": 5, "c_nationkey": 18},
        "orders": {"o_orderkey": 3, "o_custkey": 5},
        "lineitem": {"l_orderkey": 3, "l_suppkey": 7,
                     "l_extendedprice": 33423.075, "l_discount": 0.0},
    }
    con = duckdb.connect()
    for t, row in rows.items():
        schema = pq.read_schema(f"{sf_dir}/{t}.parquet")
        table = pa.table(
            {f.name: pa.array([row.get(f.name, defaults.get(f.type, 0))], type=f.type)
             for f in schema},
            schema=schema,
        )
        pq.write_table(table, str(tmp_path / f"{t}.parquet"))
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')"
        )
    q = QUERIES["q36_tpch_q5"]
    spark_pdf = q.build(spark, str(tmp_path)).toPandas()
    oracle_pdf = con.sql(q.oracle).fetchdf()
    con.close()
    assert spark_pdf["revenue"].tolist() == [33423.08]
    assert oracle_pdf["revenue"].tolist() == [33423.08]


def test_q35_half_cent_revenue_matches_oracle(spark, sf_dir, tmp_path):
    """q35's twin of the q36 half-cent case: one BUILDING-segment order
    whose one line item sums to exactly 33423.0750.  q35 rounds the
    DECIMAL sum to cents before the double cast, so both engines give
    33423.08.  One hand-built row per table, with the real schemas."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    defaults = {pa.string(): "x", pa.timestamp("us"): datetime.datetime(1996, 6, 1)}
    rows = {
        "customer": {"c_custkey": 5, "c_mktsegment": "BUILDING"},
        "orders": {"o_orderkey": 3, "o_custkey": 5},
        "lineitem": {"l_orderkey": 3, "l_extendedprice": 33423.075, "l_discount": 0.0,
                     "l_shipdate": datetime.datetime(1998, 8, 1)},
    }
    con = duckdb.connect()
    for t, row in rows.items():
        schema = pq.read_schema(f"{sf_dir}/{t}.parquet")
        table = pa.table(
            {f.name: pa.array([row.get(f.name, defaults.get(f.type, 0))], type=f.type)
             for f in schema},
            schema=schema,
        )
        pq.write_table(table, str(tmp_path / f"{t}.parquet"))
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')"
        )
    q = QUERIES["q35_tpch_q3"]
    spark_pdf = q.build(spark, str(tmp_path)).toPandas()
    oracle_pdf = con.sql(q.oracle).fetchdf()
    con.close()
    assert spark_pdf["revenue"].tolist() == [33423.08]
    assert oracle_pdf["revenue"].tolist() == [33423.08]
