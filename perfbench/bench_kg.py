"""kg_build: fresh ``run_kg_pipeline`` builds over a seeded corpus, then
resumes over the completed root; plus the traced replay of each pipeline
unit over the committed checkpoints."""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from pubmedkb_web_spark import fixtures
from pubmedkb_web_spark.pipeline import canonicalize, extractors, materialize, mentions, runner

def noop(df) -> None:
    """Run a plan to completion without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def annotator_counts(triples) -> dict[str, int]:
    return {r["annotator"]: r["count"] for r in triples.groupBy("annotator").count().collect()}


def build(spark, root: str, seed: int, source_path: str | None = None, n_docs: int | None = None,
          resume: bool = False):
    """One ``run_kg_pipeline`` call, driven to completion by counting the
    triples, as a user of the built KG would. Returns (tables, seconds)."""
    t0 = time.perf_counter()
    src = spark.read.parquet(source_path) if source_path else None
    tables = runner.run_kg_pipeline(
        spark, root, n_docs=n_docs, source_df=src, seed=seed, resume=resume
    )
    tables["triples"].count()
    return tables, time.perf_counter() - t0


def write_corpus(spark, path: str, n_docs: int, seed: int) -> None:
    fixtures.source_table(spark, n_docs, seed).write.mode("overwrite").parquet(path)


def stage_seconds(tables) -> dict[str, float]:
    return {name: r.seconds for name, r in tables["_pipeline"].results.items()}


# ----------------------------------------------------------------- replay

REPLAY_UNITS = (
    "mentions.build_mentions",
    "mentions.glof",
    "extractors.extract_all",
    "canonicalize.canonical_map",
    "materialize.triples",
    "materialize.build_entity_postings",
    "materialize.build_pair_stats",
    "materialize.build_chem_disease",
    "materialize.build_cgd_paths",
)


def replay_units(spark, root: str, seed: int, tracer) -> dict[str, object]:
    """Run each pipeline unit alone over the committed upstream checkpoints
    of ``root``, into the noop sink, one span each. Returns the spans."""
    read = lambda name: spark.read.parquet(os.path.join(root, name))  # noqa: E731
    entity_dict = fixtures.entity_dict_df(spark, seed).cache()
    max_tokens = int(
        entity_dict.agg(F.max(F.size(F.split("name", " "))).alias("m")).collect()[0]["m"]
    )
    entity_types = entity_dict.select("id", "type").distinct()
    source, sentences, mention_df = read("source"), read("sentences"), read("mentions")
    annotations, triples = read("annotations"), read("triples")
    n_sentences = sentences.count()
    glof_dict = fixtures.glof_dict_df(spark)
    glof_max = max(len(t.split(" ")) for t, _ in fixtures.GLOF_TERMS)

    def run_mentions():
        s, m = mentions.build_mentions(source, entity_dict, max_tokens=max_tokens)
        noop(s)
        noop(m)

    def run_glof():
        gm = mentions.build_glof_mentions(sentences, glof_dict, glof_max)
        noop(mentions.glof_evidence(mentions.subtract_glof_overlaps(mention_df, gm)))

    units = {
        "mentions.build_mentions": run_mentions,
        "mentions.glof": run_glof,
        "extractors.extract_all": lambda: noop(
            extractors.extract_all(mention_df, sentences, n_sentences=n_sentences)
        ),
        "canonicalize.canonical_map": lambda: noop(canonicalize.canonical_map(entity_dict)),
        "materialize.triples": lambda: noop(
            materialize.dedup_triples(
                canonicalize.rewrite_triples(
                    extractors.to_triples(annotations), read("canonical_map")
                )
            )
        ),
        "materialize.build_entity_postings": lambda: noop(
            materialize.build_entity_postings(annotations)
        ),
        "materialize.build_pair_stats": lambda: noop(materialize.build_pair_stats(triples)),
        "materialize.build_chem_disease": lambda: noop(
            materialize.build_chem_disease(triples, entity_types)
        ),
        "materialize.build_cgd_paths": lambda: noop(
            materialize.build_cgd_paths(triples, entity_types)
        ),
    }
    spans = {}
    for name in REPLAY_UNITS:
        with tracer.span(name) as sp:
            units[name]()
        spans[name] = sp
    entity_dict.unpersist()
    return spans


# --------------------------------------------------------------- workload


def run(ctx) -> None:
    """Run the workload in ``ctx`` (``run.Context``)."""
    spark, seed = ctx.spark, ctx.seed
    corpus = os.path.join(ctx.run_dir, "corpus")
    # set-up warms the Python worker pool (the corpus generator is a pandas
    # UDF) but not the JVM: the timed build is the first of its process, as
    # a build from the command line is
    with ctx.setup(), ctx.part("corpus"):
        write_corpus(spark, corpus, ctx.docs, seed)

    builds = []
    while True:
        root = os.path.join(ctx.run_dir, f"build{len(builds)}")
        with ctx.tracer.span("runner.run_kg_pipeline", request=f"build{len(builds)}"):
            tables, dt = build(spark, root, seed, source_path=corpus)
        ctx.op_done(dt)
        builds.append((root, tables, dt))
        if ctx.timed_out():
            break
    ctx.end_timed()

    # ---- output checks, outside the timed window
    want = ctx.oracle_counts()
    for i, (_root, tables, _dt) in enumerate(builds):
        got = annotator_counts(tables["triples"])
        ctx.check(got == want, f"build{i} annotator counts {got} != oracle {want}")

    # ---- a resume over the last completed root reuses every stage
    last_root = builds[-1][0]
    with ctx.tracer.span("runner.resume"):
        tables, resume_s = build(spark, last_root, seed, source_path=corpus, resume=True)
    ctx.attempted += 1
    stale = [n for n, r in tables["_pipeline"].results.items() if r.recomputed]
    got = annotator_counts(tables["triples"])
    ctx.check(not stale and got == want, f"resume recomputed {stale}, counts {got} != oracle {want}")
    ctx.report["kg_build_s"] = statistics.median(b[2] for b in builds)
    ctx.report["kg_resume_s"] = resume_s

    if ctx.tracer.enabled:
        ctx.trace_layers(seed, built=(last_root, builds[-1][1], builds[-1][2], resume_s))
