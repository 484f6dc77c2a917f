#!/usr/bin/env python
"""Catalog-wide sweep of the r11 q21-class finding: flag every catalog
entry whose physical plan builds a BroadcastHashJoin hash table from a
FACT table scanned without a selective filter or reducing operator.

The check itself lives in `duckdb_vortex_spark.plans.lint.
fact_broadcast_findings` and runs in CI on every entry
(tests/test_catalog_oracle.py); this script is the ad-hoc CLI form
for auditing after a plan change without waiting on the suite.

Background: the local 64 MB broadcast threshold sees the PROJECTED
size, so a 2-column slice of a huge fact table auto-broadcasts long
after the table itself could never be resident — q21's orders build
cost +0.86 s of 1.95 s at the 8x replica, q4 broadcast a 4.8M-row
lineitem build (CHANGES_r11.md).

Usage: python scripts/audit_fact_broadcasts.py [entry ...]
Exit 1 on any hit.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_vortex_spark import catalog  # noqa: E402
from duckdb_vortex_spark.plans.lint import fact_broadcast_findings  # noqa: E402
from duckdb_vortex_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> int:
    from tests.test_catalog_oracle import FACT_TABLES

    names = [a for a in sys.argv[1:] if not a.startswith("-")] or sorted(
        catalog.queries()
    )
    qs = catalog.queries()
    spark = get_spark("audit-fact-broadcasts")
    flagged, streaming = [], []
    # No blanket except (ADVICE r12): the old version turned ANY entry
    # failure into a stderr "skip" while still exiting 0 with "0
    # flagged", so a bad SF_DIR could report a clean sweep without
    # analyzing anything. Every builder in the catalog returns a
    # lintable batch DataFrame (the CI form asserts exactly that on
    # all entries), so the only legitimate skip is a streaming DF —
    # detected explicitly — and any exception now propagates and
    # fails the run loudly.
    for name in names:
        df = qs[name](spark, SF_DIR)
        if df.isStreaming:
            streaming.append(name)
            continue
        hits = fact_broadcast_findings(df, FACT_TABLES)
        if not hits:
            continue
        flagged.append((name, hits))
        print(f"  FLAG {name}: unfiltered fact table(s) {hits} on a broadcast build side")
    spark.stop()
    print(
        f"\naudited {len(names) - len(streaming)} of {len(names)} entries; "
        f"{len(streaming)} skipped (streaming: {streaming or 'none'}); "
        f"{len(flagged)} flagged"
    )
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
