"""Dump .explain('formatted') for named declared queries to files.

Usage: python tools/dump_plans.py OUT_DIR SUFFIX [names...]
Writes OUT_DIR/<name>_<SUFFIX>.txt for each query (default: a fixed list
of the round-7 touched queries). SPARK_GRAFT_SF_DIR picks the data
(default sf0.1 — plan shape, not timing, is what matters here).

       python tools/dump_plans.py OUT_DIR SUFFIX --rel [KB_ROOT]
Runs a rel_single and a rel_pair ``rel.run_rel`` request over the KB at
KB_ROOT (default: a fresh 1000-doc ``run_kg_pipeline`` build in a temp dir)
and writes OUT_DIR/<request>_<SUFFIX>.txt: the final (AQE) plan of every
SQL execution the request ran, in order.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = [
    "embed_text_docs", "spec_and_or", "spec_pair", "rel_relevance_page",
    "cooccurrence_tokens", "odds_ratio_pairs", "qa_target_filter",
    "glof_rollup", "gvd_stats", "kg_extractor_slice", "mesh_bfs",
    "mesh_subgraph", "bm25_docs", "minhash_signatures", "simhash_docs",
    "lsh_near_dup_pairs", "repetition_docs", "cosine_topk",
]


def dump_rel(spark, out_dir: str, suffix: str, kb_root: str | None) -> None:
    import tempfile

    from pubmedkb_web_spark import fixtures
    from pubmedkb_web_spark.pipeline import runner
    from pubmedkb_web_spark.query import rel

    variant = ("type_id", ("VARIANT", fixtures.GOLDEN_SNP_ID))
    disease = ("type_id", ("Disease", fixtures.GOLDEN_DISEASE_ID))
    requests = {
        "rel_single": dict(e1_spec=variant, sort_key="relevance"),
        "rel_pair": dict(e1_spec=("type_name", ("Gene", "braf")), e2_spec=disease, sort_key="citation"),
    }
    if kb_root is None:
        kb_root = tempfile.mkdtemp(prefix="dump_plans_kb_")
        runner.run_kg_pipeline(spark, kb_root, n_docs=1000)
    read = lambda t: spark.read.parquet(os.path.join(kb_root, t))  # noqa: E731
    tables = [read(t) for t in ("entity_postings", "annotations", "sentences", "meta")]
    store = spark._jsparkSession.sharedState().statusStore()
    for name, args in requests.items():
        first = store.executionsCount()
        rel.run_rel(*tables, **args)
        execs = store.executionsList(first, store.executionsCount() - first)
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            for i in range(execs.length()):
                e = execs.apply(i)
                f.write(f"===== SQL execution {i + 1}/{execs.length()}: {e.description()}\n")
                f.write(e.physicalPlanDescription() + "\n")
        print("wrote", name, execs.length(), "executions", flush=True)


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as E
    from pubmedkb_web_spark.session import build_session

    spark = build_session(
        app_name="dump_plans", cores=8, shuffle_partitions=8, driver_memory="12g"
    )
    if names[0] == "--rel":
        dump_rel(spark, out_dir, suffix, names[1] if len(names) > 1 else None)
        spark.stop()
        return
    qs = E.queries()
    resolve = lambda n: qs.get(n) or getattr(E, f"q_{n}")  # noqa: E731
    for name in names:
        try:
            df = resolve(name)(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as ex:  # noqa: BLE001
            plan = f"ERROR building plan: {type(ex).__name__}: {ex}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print("wrote", name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
