"""Traced probes of the query and operator layers, and the per-layer
metrics assembled from every span of a traced run.

Both workloads end a traced run with the same probes over the KB root they
built: one traced cycle of the serving mix, then one call into each
operator layer (``ops.textstats``, ``ops.dedup``, ``ops.similarity``,
``query.retrieval``, ``query.kbqueries``, and ``__spark_entry__``'s token
and VarSum builders over a small seeded table set). Every per-layer metric
is therefore measured in both workloads.
"""

from __future__ import annotations

import os
import random
import statistics

import pandas as pd

from bench_kg import REPLAY_UNITS, noop
from bench_trace import digest_event_log, span_totals

STAGES = (
    "source", "sentences", "mentions", "annotations", "canonical_map", "glof", "triples",
    "entity_postings", "pair_stats", "chem_disease", "cgd_paths", "meta",
)
# replay units that also report spill, skew and Python-UDF time
DEEP_UNITS = {
    "mentions.build_mentions": ("spill_mb", "task_skew", "udf_s"),
    "extractors.extract_all": ("spill_mb", "task_skew", "udf_s"),
    "materialize.triples": ("spill_mb", "task_skew"),
}
OPERATOR_PROBES = (
    "textstats.document_quality",
    "dedup.near_duplicates_minhash",
    "similarity.ivf_index",
    "retrieval.build_bm25_index",
    "retrieval.bm25_score",
    "kbqueries.glof_rollup",
    "entry.tokens",
    "varsum.clean_varsum_table",
)
SERVE_METRICS = (
    "spec.evaluate.s_hot", "spec.evaluate.s_cold", "spec.rows_examined_per_hit",
    "rel.page.s", "rel.hydrate.s", "rel.statistics.s", "summary.summarize_page.s",
    "rel.jobs_per_query", "rel.span_coverage",
    "nen.fuzzy_names.s", "nen.fuzzy_names.udf_s",
    "graph.cgd_drug_discovery.s", "graph.chem_disease_lookup.s",
)


def metric_units() -> dict[str, str]:
    """Every per-layer metric name → its unit, in report order."""
    units: dict[str, str] = {f"runner.stage_s.{s}": "s" for s in STAGES}
    units["runner.overlap"] = "ratio"
    units["runner.resume_s"] = "s"
    qty_unit = {"s": "s", "jobs": "count", "shuffle_mb": "MB", "spill_mb": "MB",
                "task_skew": "ratio", "udf_s": "s"}
    for u in REPLAY_UNITS:
        for q in ("s", "jobs", "shuffle_mb", *DEEP_UNITS.get(u, ())):
            units[f"{u}.{q}"] = qty_unit[q]
    for m in SERVE_METRICS:
        units[m] = {"spec.rows_examined_per_hit": "ratio", "rel.jobs_per_query": "count",
                    "rel.span_coverage": "ratio"}.get(m, "s")
    for p in OPERATOR_PROBES:
        for q in ("s", "jobs", "shuffle_mb"):
            units[f"{p}.{q}"] = qty_unit[q]
    units.update({"trace.setup_s": "s", "trace.op_p50_ms": "ms"})
    return units


# ------------------------------------------------------------------ probes


def _probe_tables(path: str, n_docs: int, seed: int) -> None:
    """``documents`` and ``customer`` tables in the shape the
    ``__spark_entry__`` builders read, with words from their vocabulary."""
    import __spark_entry__ as E
    from pubmedkb_web_spark import fixtures

    rng = random.Random(seed)
    words = list(E.VOCAB) + fixtures.FILLER
    texts = [" ".join(rng.choice(words) for _ in range(rng.randint(8, 40))) for _ in range(n_docs)]
    os.makedirs(path, exist_ok=True)
    pd.DataFrame({
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [rng.choice(("en", "es", "de")) for _ in range(n_docs)],
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }).to_parquet(os.path.join(path, "documents.parquet"), index=False)
    pd.DataFrame({"c_custkey": list(range(1, n_docs + 1))}).to_parquet(
        os.path.join(path, "customer.parquet"), index=False
    )


def probe_operators(ctx, root: str, kb) -> dict:
    """One traced call into each operator layer; returns name → span."""
    import __spark_entry__ as E
    from pubmedkb_web_spark.ops import dedup, similarity, textstats
    from pubmedkb_web_spark.query import kbqueries, retrieval

    spark, tr = ctx.spark, ctx.tracer
    source = spark.read.parquet(os.path.join(root, "source"))
    probe_dir = os.path.join(ctx.run_dir, "probe_tables")
    _probe_tables(probe_dir, ctx.docs, ctx.seed)
    terms = random.Random(ctx.seed).sample(["braf", "melanoma", "tumor", "cells", "mutation", "risk"], 3)

    def ivf():
        emb = similarity.embed_text(source, text_col="content", id_col="doc_id", dim=16, portable=False)
        cents = similarity.ivf_train(emb, n_centroids=8, n_iter=4, id_col="doc_id")
        noop(similarity.ivf_assign(emb, cents))

    bm25 = {}

    def build_bm25():
        bm25["idx"] = retrieval.build_bm25_index(
            kb.sentences, os.path.join(ctx.run_dir, "bm25"), text_col="sentence"
        )

    probes = {
        "textstats.document_quality": lambda: noop(textstats.document_quality(source, text_col="content")),
        "dedup.near_duplicates_minhash": lambda: noop(dedup.near_duplicates_minhash(
            source, threshold=0.7, id_col="doc_id", text_col="content", portable=False,
            work_dir=os.path.join(ctx.run_dir, "near_dup_work"), max_bucket_size=1024,
        )),
        "similarity.ivf_index": ivf,
        "retrieval.build_bm25_index": build_bm25,
        "retrieval.bm25_score": lambda: retrieval.bm25_score(
            bm25["idx"][0], terms, bm25["idx"][1], bm25["idx"][2]
        ).collect(),
        "kbqueries.glof_rollup": lambda: noop(kbqueries.glof_rollup(kb.glof)),
        "entry.tokens": lambda: noop(E.q_spec_and_or(spark, probe_dir)),
        "varsum.clean_varsum_table": lambda: noop(E.q_varsum_clean(spark, probe_dir)),
    }
    spans = {}
    for name in OPERATOR_PROBES:
        with tr.span(name) as sp:
            probes[name]()
        spans[name] = sp
    check_entry_legs(ctx, probe_dir, {"spec_and_or": E.q_spec_and_or, "varsum_clean": E.q_varsum_clean})
    return spans


def check_entry_legs(ctx, sf_dir: str, legs: dict) -> None:
    """Each ``__spark_entry__`` leg the probes ran must equal its DuckDB
    ``oracle_sql()`` twin, compared as ``tools/check_gate.py`` compares."""
    import duckdb

    import __spark_entry__ as E
    from tools.check_gate import normalize

    con = duckdb.connect()
    for t in ("documents", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    oracles = E.oracle_sql()
    for name, fn in legs.items():
        got = normalize(fn(ctx.spark, sf_dir).toPandas())
        want = normalize(con.execute(oracles[name]).fetchdf())
        ctx.attempted += 1
        ctx.check(got.equals(want), f"entry leg {name} differs from its oracle_sql twin")
    con.close()


# ----------------------------------------------------------------- metrics


def assemble(ctx, event_log: str) -> dict[str, float]:
    """All per-layer metrics of a traced run (after the session stopped)."""
    tr = ctx.tracer
    wj = digest_event_log(event_log, tr)
    out: dict[str, float] = {}
    stage_s, build_s, resume_s = ctx.pipeline
    for s in STAGES:
        out[f"runner.stage_s.{s}"] = stage_s.get(s, 0.0)
    out["runner.overlap"] = sum(stage_s.values()) / build_s
    out["runner.resume_s"] = resume_s

    for name, sp in ctx.layer_spans.items():
        t = span_totals(tr, sp, wj)
        out[f"{name}.s"] = sp.seconds
        out[f"{name}.jobs"] = t["jobs"]
        out[f"{name}.shuffle_mb"] = t["shuffle_mb"]
        for q in DEEP_UNITS.get(name, ()):
            out[f"{name}.{q}"] = t[q]

    rel = [o for o in ctx.traced_requests if o[0].kind in ("rel_single", "rel_pair")]

    def med(vals):
        vals = list(vals)
        return statistics.median(vals) if vals else 0.0

    def step(o, name):
        return next(s for s in tr.subtree(o[1]["span"]) if s.name == name)

    out["spec.evaluate.s_hot"] = med(o[1]["evaluate"].seconds for o in rel if o[0].hot)
    out["spec.evaluate.s_cold"] = med(o[1]["evaluate"].seconds for o in rel if not o[0].hot)
    scanned = sum(span_totals(tr, o[1]["evaluate"], wj)["input_rows"] for o in rel)
    out["spec.rows_examined_per_hit"] = scanned / max(1, sum(o[1]["hits"] for o in rel))
    for name in ("rel.page", "rel.hydrate", "rel.statistics", "summary.summarize_page"):
        out[f"{name}.s"] = med(step(o, name).seconds for o in rel)
    out["rel.jobs_per_query"] = med(span_totals(tr, o[1]["span"], wj)["jobs"] for o in rel)
    out["rel.span_coverage"] = min(
        sum(s.seconds for s in tr.spans if s.parent == o[1]["span"].id) / o[1]["span"].seconds
        for o in rel
    )
    others = [o for o in ctx.traced_requests if o[0].kind in ("nen", "graph")]
    for name in ("nen.fuzzy_names", "graph.cgd_drug_discovery", "graph.chem_disease_lookup"):
        spans = [step(o, name) for o in others if any(s.name == name for s in tr.subtree(o[1]["span"]))]
        out[f"{name}.s"] = med(s.seconds for s in spans)
        if name == "nen.fuzzy_names":
            out["nen.fuzzy_names.udf_s"] = med(s.udf_s for s in spans)

    e2e = ctx.end_to_end()
    out["trace.setup_s"] = e2e["setup_s"]
    out["trace.op_p50_ms"] = e2e["op_p50_ms"]
    return out
