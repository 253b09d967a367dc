"""Capture .explain("formatted") per query into plans/<round>/ files.

Usage: python tools/capture_plans.py <outdir> <suffix> q52,q104,...
Query args match on prefix (q52 -> q52_minhash_lsh_pairs). Builders
run their normal driver-side work (fits, counts, persists) so the
captured plan is the one the bench executes; the final action itself
is NOT run (explain only). Expression ids (``#123``) and
``plan_id=123`` are written as ``#N`` / ``plan_id=N``, so plans of two
checkouts diff cleanly.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")


def normalize_plan(plan: str) -> str:
    return _PLAN_ID.sub("plan_id=N", _EXPR_ID.sub("#N", plan))


def main() -> int:
    outdir = sys.argv[1]
    suffix = sys.argv[2]
    prefixes = sys.argv[3].split(",")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from sklearn_raster_spark.plans.registry import load_all_queries
    from sklearn_raster_spark.session import get_spark
    from sklearn_raster_spark.utils.cache import release_shared_caches

    spark = get_spark(app_name="capture_plans")
    registry = load_all_queries()
    os.makedirs(outdir, exist_ok=True)
    for name, spec in sorted(registry.items()):
        if not any(name.startswith(p) for p in prefixes):
            continue
        try:
            df = spec.fn(spark, sf_dir)
            plan = normalize_plan(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building plan: {exc}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
        release_shared_caches()
        spark.catalog.clearCache()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
