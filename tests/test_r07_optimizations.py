"""Round-7 optimization regression guards.

Each test pins a plan shape (or exact-output equivalence) that a round-7
rewrite established, so a future refactor cannot silently reintroduce the
shuffle / interpreted path that was removed. Plan strings come from the
physical plan before execution (`executedPlan().toString()` — with AQE the
initial plan, which is what the shape assertions target).
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry  # noqa: E402
from pubmedkb_web_spark.ops import similarity  # noqa: E402

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_qa_target_filter_is_map_only(spark):
    # r7: per-doc match lists are array expressions over the token array;
    # the old explode + groupBy(doc_id) exchange must stay gone.
    plan = _plan(entry.q_qa_target_filter(spark, SF))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_postings_builders_are_map_only(spark):
    # r7: vocabulary membership/tf/halves postings carry no aggregation
    # exchange — dedup/tf happen inside the per-row array.
    for builder in (entry._doc_postings, entry._tf_postings, entry._ht_postings):
        plan = _plan(builder(spark, SF))
        assert "Exchange" not in plan, builder.__name__


def test_embed_text_portable_plan_shape(spark):
    # r7: codegen assembly (no ObjectHashAggregate collect_list->map path,
    # no interpreted transform/aggregate lambdas in the hot path) and the
    # distinct-token md5 map joined by BROADCAST.
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(similarity.embed_text(docs, dim=16, portable=True))
    assert "ObjectHashAggregate" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embed_text_xxhash_path_has_no_broadcast_map(spark):
    # the 100 TB (portable=False) path hashes inline — no token-map INNER
    # join (the LeftOuter zero-doc join remains in both paths).
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(similarity.embed_text(docs, dim=16, portable=False))
    assert "xxhash64" in plan
    assert "Inner" not in plan


def test_top_revenue_orders_topk_before_join(spark):
    # r7: top-20 on the thin aggregate first, then a 20-row broadcast
    # probe of orders — never a sort-merge join of two full relations.
    plan = _plan(entry.q_top_revenue_orders(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_pair_contingency_matches_self_join_formulation(spark):
    # r7: collect_set + pair explode must reproduce the old distinct +
    # self-join pair counts exactly (a, b, c, d and derived stats).
    from pyspark.sql import functions as F

    from pubmedkb_web_spark.pipeline import extractors

    rows = [
        ("d1", 0, "alpha"), ("d1", 0, "beta"), ("d1", 0, "alpha"),
        ("d1", 1, "alpha"), ("d2", 0, "beta"), ("d2", 0, "gamma"),
        ("d2", 0, "ALPHA"), ("d3", 0, "beta"),
    ]
    mentions = spark.createDataFrame(rows, "doc_id string, sent_idx int, name string")
    sentences = mentions.select("doc_id", "sent_idx").distinct()
    got = {
        (r["n1"], r["n2"]): (r["a"], r["b"], r["c"], r["d"])
        for r in extractors.pair_contingency(mentions, sentences).collect()
    }
    # 4 distinct sentences; per-sentence distinct lowercased names:
    # (d1,0)={alpha,beta} (d1,1)={alpha} (d2,0)={alpha,beta,gamma} (d3,0)={beta}
    assert got[("alpha", "beta")] == (2, 1, 1, 0)
    assert got[("alpha", "gamma")] == (1, 2, 0, 1)
    assert got[("beta", "gamma")] == (1, 2, 0, 1)
    assert set(got) == {("alpha", "beta"), ("alpha", "gamma"), ("beta", "gamma")}


@pytest.mark.parametrize("name", ["spec_and_or", "spec_pair", "rel_relevance_page"])
def test_spec_gates_scan_postings_once(spark, name):
    # a spec tree of any shape reads its postings source in ONE scan that
    # flags every leaf — no per-leaf scans joined or unioned back together
    # (tools/explain_audit.py ONE_SCAN checks the same shape)
    plan = _plan(entry.queries()[name](spark, SF))
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") == 1


def test_spec_evaluation_plans_one_exchange_below_its_aggregates(spark):
    # one repartition(doc_id) feeds the flag aggregate; every doc-keyed
    # aggregate above it reuses that partitioning
    from pubmedkb_web_spark.query import spec

    postings = entry._ht_postings(spark, SF)
    leaf = lambda t: ("type_name", ("Token", t))  # noqa: E731
    tree = ("AND", (leaf("spark"), ("OR", (leaf("join"), leaf("merge")))))
    for hits in (
        spec.SpecCompiler(postings).compile(tree),
        spec.evaluate_single(postings, tree),
        spec.evaluate_pair(postings, tree, leaf("hash")),
    ):
        lines = _plan(hits).splitlines()
        exchanges = [i for i, line in enumerate(lines) if "Exchange" in line]
        aggregates = [i for i, line in enumerate(lines) if "HashAggregate" in line]
        assert len(exchanges) == 1 and aggregates
        assert exchanges[0] > max(aggregates)  # printed deeper = runs before
