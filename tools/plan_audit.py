"""Regenerate the PLANS.md metrics table: explain("formatted") every
registered query at the given sf and count the plan features that
matter (joins, exchanges, pushdown, top-k, Python stages).

Usage: python tools/plan_audit.py [sf_dir] [query ...] > plan_table.md
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from etl_portfolio_tracker_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    qs = E.queries()
    names = sys.argv[2:] or list(qs)
    spark = get_spark("plan_audit")
    print("| query | BHJ | SMJ | exchanges | pushed scans | top-k | py |")
    print("|---|---|---|---|---|---|---|")
    for name in names:
        try:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                qs[name](spark, sf).explain("formatted")
            s = buf.getvalue()
            bhj = s.count("BroadcastHashJoin")
            smj = s.count("SortMergeJoin")
            exch = s.count("Exchange")
            pushed = len(re.findall(r"PushedFilters: \[(?!\])", s))
            topk = s.count("TakeOrderedAndProject")
            py = s.count("MapInPandas") + s.count("FlatMapGroupsInPandas")
            print(f"| {name} | {bhj} | {smj} | {exch} | {pushed} | {topk} | {py} |")
        except Exception as ex:
            print(f"| {name} | ERR {str(ex)[:40]} | | | | | |")


if __name__ == "__main__":
    main()
