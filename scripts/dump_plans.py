#!/usr/bin/env python
"""Dump the ACTUAL physical plan of every driver-window query to
PLANS_DUMP.md — generated evidence for the hand-written analyses in
PLANS.md (PushedFilters/ReadSchema pruning, broadcast vs shuffle joins,
partial aggregation, WholeStageCodegen spans are all visible verbatim).

    python scripts/dump_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_etl_spark.plans.catalog import QUERIES, _DRIVER_WINDOW
from yelp_etl_spark.session import get_spark

# Queries that execute jobs at build time (streaming runs, file writes,
# driver-held codebook collects) — their returned frame's plan is the
# post-materialization tail, noted as such instead of dumped misleadingly.
MATERIALIZING = {
    "stream_dedup_totals",
    "partitioned_write_roundtrip",
    "jsonl_scan_roundtrip",
    "time_travel_diff",
    "snapshot_changelog",
    "snapshot_merge_delete",
    "snapshot_compact",
    "snapshot_evolution",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or list(_DRIVER_WINDOW)
    spark = get_spark("plan-dump", cpus=8, shuffle_partitions=8)
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLANS_DUMP.md",
    )
    with open(out_path, "w") as out:
        out.write(
            "# PLANS_DUMP — generated physical plans (driver window)\n\n"
            f"`spark.version` {spark.version}, sf_dir {sf_dir}, "
            "shuffle_partitions 8. Regenerate: `python scripts/dump_plans.py`.\n"
        )
        for name in names:
            df = QUERIES[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            note = (
                " *(plan below is the tail AFTER in-query"
                " materialization — streaming run or file write)*"
                if name in MATERIALIZING
                else ""
            )
            out.write(f"\n## {name}{note}\n\n```\n{buf.getvalue()}```\n")
            print(f"dumped {name}")
    print(f"\nwrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
