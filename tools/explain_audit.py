"""Plan-quality audit: .explain("formatted") for the headline operators.

Checks the things that matter at 100 TB and prints PASS/WARN per query:
- parquet scans carry PushedFilters / pruned ReadSchema where expected
- small-side joins are broadcast (BroadcastHashJoin), not sort-merge
- top-k plans use TakeOrderedAndProject, not global Sort
- no row-at-a-time Python eval (BatchEvalPython) in any hot path
  (ArrowEvalPython / FlatMapGroupsInPandas are the sanctioned slow paths)
- optional exact node counts, e.g. a spec tree scans its postings once

Usage: python tools/explain_audit.py [sf_dir] [names...]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

import __spark_entry__ as E  # noqa: E402
from pubmedkb_web_spark.session import build_session  # noqa: E402

# one parquet scan and one Exchange (the doc_id repartition below the
# flag aggregate) for a spec tree of any shape
ONE_SCAN = {"Scan parquet": 1, "Exchange": 1}

EXPECT = {
    # name: (must_contain, must_not_contain[, {node: exact count}])
    "tpch_pricing_summary": (["PushedFilters: [IsNotNull(l_shipdate)", "HashAggregate"], ["BatchEvalPython"]),
    "top_revenue_orders": (["TakeOrderedAndProject"], ["BatchEvalPython"]),
    "market_join": (["BroadcastHashJoin"], ["SortMergeJoin", "BatchEvalPython"]),
    "cosine_topk": (["TakeOrderedAndProject"], ["BatchEvalPython", "ArrowEvalPython"]),
    # pagination/ranking must plan TakeOrderedAndProject: the window ranks
    # only the ≤page_end survivors, never the full relation in one task
    "rel_relevance_page": (["TakeOrderedAndProject"], ["BatchEvalPython"], ONE_SCAN),
    "rrf_fusion_orders": (["TakeOrderedAndProject"], ["BatchEvalPython"]),
    "spec_and_or": ([], ["BatchEvalPython"], ONE_SCAN),
    "spec_pair": ([], ["BatchEvalPython"], ONE_SCAN),
    "minhash_signatures": (["HashAggregate"], ["BatchEvalPython", "ArrowEvalPython"]),
    "simhash_docs": (["HashAggregate"], ["BatchEvalPython", "ArrowEvalPython"]),
    "bm25_docs": (["BroadcastHashJoin"], ["BatchEvalPython"]),
    "lang_id_docs": ([], ["BatchEvalPython", "ArrowEvalPython"]),
    "fingerprint_docs": ([], ["BatchEvalPython", "ArrowEvalPython"]),
    "quality_scores": ([], ["BatchEvalPython", "ArrowEvalPython"]),
    "orders_page": (["TakeOrderedAndProject"], ["BatchEvalPython"]),
    "anti_join_customers": (["BroadcastHashJoin"], ["BatchEvalPython"]),
    # round-5 surfaces: presentation + LitVar parse are pure codegen
    # (no Python anywhere); IVF probe must hit the partitioned index as
    # partition pruning and rank via TakeOrderedAndProject
    "html_escape_docs": ([], ["BatchEvalPython", "ArrowEvalPython"]),
    "paper_meta_html_docs": ([], ["BatchEvalPython", "ArrowEvalPython"]),
    "litvar_parse_docs": ([], ["BatchEvalPython", "ArrowEvalPython"]),
    "user_sessions": (["HashAggregate"], ["BatchEvalPython", "ArrowEvalPython"]),
    "ivf_cosine_topk": (
        ["TakeOrderedAndProject", "PartitionFilters"],
        ["BatchEvalPython", "ArrowEvalPython"],
    ),
    # round-6: repetition metrics are explode → two-level hash aggregation
    # (map-side partial combine), all JVM
    "repetition_docs": (["HashAggregate"], ["BatchEvalPython", "ArrowEvalPython"]),
    # round-6: gopher rule filters are pure map-only column expressions
    "gopher_filters": ([], ["BatchEvalPython", "ArrowEvalPython", "Exchange"]),
    # round-6: PII scrub and C4 line filters — chained regexp/array
    # lambdas, map-only
    "pii_scrub": ([], ["BatchEvalPython", "ArrowEvalPython", "Exchange"]),
    "c4_line_filters": ([], ["BatchEvalPython", "ArrowEvalPython", "Exchange"]),
    # round-6: decontamination — the eval-sized benchmark side must
    # broadcast so the corpus-side shingle scan never shuffles pre-join
    "decontaminate_docs": (
        ["BroadcastHashJoin"],
        ["BatchEvalPython", "ArrowEvalPython", "SortMergeJoin"],
    ),
}


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = build_session(cores=8, shuffle_partitions=8, driver_memory="8g")
    qs = E.queries()
    failures = 0
    for name, (need, forbid, *counts) in EXPECT.items():
        if only and name not in only:
            continue
        # merged driver gates (round 6) keep their per-capability q_
        # functions; audit those plans, not the union wrapper
        df = (qs.get(name) or getattr(E, f"q_{name}"))(spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        missing = [s for s in need if s not in plan]
        present = [s for s in forbid if s in plan]
        # node detail headers of the formatted plan: "(4) Exchange"
        miscounted = {
            node: n
            for node, want in (counts[0] if counts else {}).items()
            if (n := len(re.findall(rf"^\(\d+\) {node}\b", plan, re.M))) != want
        }
        status = "PASS" if not missing and not present and not miscounted else "WARN"
        if status == "WARN":
            failures += 1
        print(
            f"{status}  {name:26s} missing={missing} forbidden_present={present}"
            f" miscounted={miscounted}"
        )
        if only:
            print(plan)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
