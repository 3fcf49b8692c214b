"""Simulate the driver's 50-row CORRECTNESS window before the driver does:
build each of the first 50 queries() entries at sf0.01 on a vanilla
session, run its oracle_sql() in DuckDB, and compare with the driver's
semantics (columns sorted by name, exact values).  Run from the repo
root; prints one JSON dict of per-query status and a BAD dict that must
be empty before a round ships.

    python tools/simulate_driver_window.py [sf_dir] [--all]
    python tools/simulate_driver_window.py --freshness

``--all`` sweeps the ENTIRE registry instead of the 50-name window —
the full-mirror gate a round should pass on its final tree.

``--freshness`` (no Spark needed) reads the committed CORRECTNESS_r*.json
history and prints each registered query's latest GREEN-witness round, the
round histogram, the current 50-name window's composition by staleness,
and flags anything witnessed more than one full rotation cycle ago (or
never) that the current window does not re-witness — so window
composition stops being hand-maintained arithmetic in comments
(VERDICT r6 directive #6).  The cycle length is ceil(registry/50): the
best freshness a 50-slot driver window can deliver.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def freshness() -> int:
    """Latest green-witness round per registered query (the fold is
    ``__spark_entry__.green_witnesses``, the same one queries() orders
    by), the round histogram and the current window's staleness."""
    import __spark_entry__ as se

    latest = se.green_witnesses()
    max_round = max(latest.values(), default=0)
    window = list(se.queries())[:50]
    registry = list(se.queries())
    hist: dict[int, int] = {}
    for q in registry:
        hist[latest.get(q, 0)] = hist.get(latest.get(q, 0), 0) + 1
    # The staleness bound is CAPACITY-DERIVED, not chosen: the driver
    # witnesses exactly 50 queries per round, so a registry of N queries
    # cannot cycle faster than ceil(N/50) rounds — at 149 that was 3
    # (the historical hardcoded value), at 151+ it is 4.  Flagging at a
    # tighter bound than the window permits would make the gate
    # unsatisfiable for ANY rotation; this keeps it at the provably best
    # achievable freshness.
    cycle = max(3, -(-len(registry) // 50))
    stale = {
        q: latest.get(q, 0)
        for q in registry
        if latest.get(q, 0) <= max_round - cycle
    }
    out = {
        "max_round": max_round,
        "registry": len(registry),
        "cycle_rounds": cycle,
        "histogram": {f"r{r}" if r else "never": n for r, n in sorted(hist.items())},
        "latest_witness": {q: latest.get(q, 0) for q in sorted(registry)},
        "window_by_staleness": {
            f"r{latest.get(q, 0)}" if latest.get(q, 0) else "never": sorted(
                w for w in window if latest.get(w, 0) == latest.get(q, 0)
            )
            for q in window
        },
        "stale_beyond_cycle_not_in_window": sorted(set(stale) - set(window)),
    }
    print(json.dumps(out, indent=1))
    return 1 if out["stale_beyond_cycle_not_in_window"] else 0


def compare_query(df, rel) -> str:
    """The driver's compare, shared by this tool and check_new_queries.py
    (a diverged copy once let a DECIMAL oracle print 'green' in the
    pre-flight tool and PANDAS_FETCH_RISK in the full mirror): sorted
    column names, exact repr rows, plus the pandas-fetch risk flag.
    Returns 'green:<n>' or a BAD status string."""
    cols = sorted(df.columns)
    rows = [tuple(r[c] for c in cols) for r in df.collect()]
    ocols = list(rel.columns)
    # fetchall() yields exact Python ints/Decimals, but the REAL driver
    # fetches through pandas, where HUGEINT / UBIGINT / wide DECIMAL
    # render as float64 ('123.0' vs Spark's '123') and hash-mismatch even
    # on identical values — the r8 g27 lesson, re-hit by q52/p13 in r9
    # (DuckDB silently widens sum(BIGINT) to HUGEINT).  Flag those types
    # as BAD so a round never ships an oracle the driver can't witness.
    spark_double = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("double", "float")
    }
    risky = [
        f"{c}:{t}"
        for c, t in zip(ocols, (str(t) for t in rel.types))
        if t in ("HUGEINT", "UHUGEINT", "UBIGINT")
        or (t.startswith("DECIMAL") and c not in spark_double)
    ]
    oidx = [ocols.index(c) for c in sorted(ocols)]
    orows = [tuple(r[i] for i in oidx) for r in rel.fetchall()]
    if risky:
        return f"PANDAS_FETCH_RISK {risky}"
    if sorted(ocols) != cols:
        return f"SCHEMA_MISMATCH spark={cols} oracle={sorted(ocols)}"
    if len(rows) != len(orows):
        return f"ROWCOUNT {len(rows)} vs {len(orows)}"
    a, b = sorted(map(repr, rows)), sorted(map(repr, orows))
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"VALUE_MISMATCH {diff}"
    return f"green:{len(a)}"


def main() -> int:
    import __spark_entry__ as se
    from disq_original_spark.session import get_spark
    from disq_original_spark.tables import TABLES

    args = [a for a in sys.argv[1:] if a != "--all"]
    sweep_all = "--all" in sys.argv[1:]
    sf = args[0] if args else "/root/testdata/sf0.01"
    # get_spark, not a bare builder: the UTC session timezone it pins is
    # what makes date_format outputs match the strftime oracles on any
    # host TZ (the real driver runs a vanilla session on a UTC host —
    # pinning UTC here mirrors that determinism host-independently), and
    # TABLES keeps the DuckDB views in lockstep with conftest
    spark = get_spark(master="local[16]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    qs, osql = se.queries(), se.oracle_sql()
    results: dict[str, str] = {}
    for name in (list(qs) if sweep_all else list(qs)[:50]):
        try:
            df = qs[name](spark, sf)
            if name not in osql:
                results[name] = f"rows_only:{df.count()}"
                continue
            results[name] = compare_query(df, con.sql(osql[name]))
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            results[name] = "ERROR " + repr(e)[:200]

    bad = {
        k: v for k, v in results.items()
        if not v.startswith(("green", "rows_only"))
    }
    print(json.dumps(results, indent=0))
    print("BAD:", json.dumps(bad, indent=0))
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    if "--freshness" in sys.argv[1:]:
        raise SystemExit(freshness())
    raise SystemExit(main())
