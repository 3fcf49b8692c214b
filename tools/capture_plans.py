"""Capture .explain('formatted') for bench entries into plans/<tag>/.

    python tools/capture_plans.py <out_subdir> [name ...]

With no names, captures every HEADLINE entry from bench.py.  Each query's
plan goes to plans/<out_subdir>/<name>.txt under the repository root, a
git-ignored output directory: dumps are for diffing, not for the tree.
Driver-only: plans are built and formatted, nothing is executed.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from disq_original_spark.cache import release_persists  # noqa: E402
from disq_original_spark.queries import QUERIES  # noqa: E402
from disq_original_spark.session import get_spark  # noqa: E402


def main() -> int:
    out_dir = Path(__file__).resolve().parent.parent / "plans" / sys.argv[1]
    out_dir.mkdir(parents=True, exist_ok=True)
    names = sys.argv[2:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = QUERIES[name].build(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (out_dir / f"{name}.txt").write_text(plan)
            print(name, "ok")
        except Exception as exc:  # streaming frames can't explain pre-start
            print(name, "SKIP", type(exc).__name__, str(exc)[:120])
        release_persists()
        spark.catalog.clearCache()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
