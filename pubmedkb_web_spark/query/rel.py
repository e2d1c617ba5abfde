"""The /query_rel pipeline (reference lifecycle at SURVEY.md §3.1;
/root/reference/server.py:770-958).

Stages: evaluate spec → relevance/citation/year/impact sort → offset-limit
pagination → hydration (page only) → statistics. The summary stage
(summary.py) runs on the collected page — it inspects ≤ one page of rows,
exactly like the reference.

Plan shape: a request is a handful of Spark jobs. The hits come from ONE
postings scan, cached hash-partitioned by doc_id, so the per-paper scores
aggregate without another shuffle and the orderBy+limit
(TakeOrderedAndProject) runs on that thin relation *before* hydration
(lazy hydration, server.py:875-887). Hydration pushes the page's literal
doc_ids into its scans; statistics sum per-doc aggregates. The page and its
relations are Arrow-built JVM-local frames: collecting them runs no job.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql import types as T

from ..functions.frames import collect_local, local_frame
from ..schemas import ANNOTATOR_NAMES
from . import spec as spec_mod

SORT_KEYS = ("relevance", "citation", "year", "journal_impact")


@dataclass
class RelResult:
    papers: DataFrame      # (doc_id, sort_score, rank) — the page
    relations: DataFrame   # hydrated page annotations + sentences
    statistics: dict       # overall + per-annotator counts
    summary: list = None   # NLG summary sentences for the page (server.py:924-958)


def paper_scores(hits: DataFrame) -> DataFrame:
    """relevance = per-paper sum of annotation scores (server.py:657-659)."""
    return hits.groupBy("doc_id").agg(F.round(F.sum("score"), 6).alias("relevance"))


# Pages whose end fits under this bound rank via orderBy().limit() —
# TakeOrderedAndProject, a per-partition heap + driver merge of ≤page_end
# rows. Deeper offsets switch to the range-partitioned path.
DEEP_PAGE_THRESHOLD = 100_000


def _doc_tiebreak() -> list:
    """Tie-break like the reference: int(pmid) desc (server.py:875);
    non-numeric ids fall back to string order."""
    return [
        F.col("doc_id").try_cast("bigint").desc_nulls_last(),
        F.col("doc_id").desc(),
    ]


def ranked_slice(df: DataFrame, order: list, page_start: int, page_end: int) -> DataFrame:
    """Attach a global ``rank`` under the total order ``order`` and slice
    (page_start, page_end] — without ever shuffling the full relation into
    one task.

    Head pages (page_end ≤ DEEP_PAGE_THRESHOLD): ``orderBy().limit(page_end)``
    plans TakeOrderedAndProject (per-partition top-k heaps, driver merge of
    ≤page_end rows); the row_number window then runs over that bounded
    relation only.

    Deep offsets: range-repartition on the sort key — each partition holds a
    contiguous rank range — rank locally per partition (parallel window,
    keyed by partition id), and add cumulative partition-count offsets (one
    small driver-side count per partition).
    """
    if page_end <= DEEP_PAGE_THRESHOLD:
        limited = df.orderBy(*order).limit(page_end)
        ranked = limited.withColumn("rank", F.row_number().over(W.orderBy(*order)))
        return ranked.filter((F.col("rank") > page_start) & (F.col("rank") <= page_end))

    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = (
        df.repartitionByRange(n, *order)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    try:
        counts = {
            int(r["_pid"]): int(r["n"])
            for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        offsets, acc = [], 0
        for pid in sorted(counts):
            offsets.append((pid, acc))
            acc += counts[pid]
        # small broadcast join, NOT a literal create_map: a 10k-partition
        # relation would otherwise embed 10k map entries into every task's
        # plan (round-2 ADVICE)
        off_df = local_frame(spark, offsets, "_pid int, _off long")
        w = W.partitionBy("_pid").orderBy(*order)
        ranked = (
            ranged.withColumn("_rn", F.row_number().over(w))
            .join(F.broadcast(off_df), "_pid")
            .withColumn("rank", (F.col("_rn") + F.col("_off")).cast("int"))
            .drop("_pid", "_rn", "_off")
        )
        page = ranked.filter((F.col("rank") > page_start) & (F.col("rank") <= page_end))
        # a deep page is still ≤ one page of rows: materialize it while the
        # cache is hot, then release the cached partitions — repeated
        # deep-page queries in a long session must not accumulate storage
        # (round-2 ADVICE leak)
        return collect_local(page)
    finally:
        ranged.unpersist()


def sorted_page(
    scores: DataFrame,
    meta: DataFrame | None,
    sort_key: str,
    page_start: int,
    page_end: int,
) -> DataFrame:
    """Sort by the chosen key (non-numeric meta values fall back to 0,
    server.py:846-869), tie-break int(doc_id) desc then doc_id desc
    (server.py:875), slice [start, end)."""
    if sort_key not in SORT_KEYS:
        raise ValueError(f"sort key must be one of {SORT_KEYS}")
    df = scores
    if sort_key == "relevance":
        key = F.col("relevance")
    else:
        assert meta is not None, "meta table required for non-relevance sorts"
        df = df.join(
            meta.select("doc_id", "citation", "year", "journal_impact"),
            "doc_id",
            "left",
        )
        col = {
            "citation": F.col("citation").cast("double"),
            "year": (F.col("year")).try_cast("double"),
            "journal_impact": (F.col("journal_impact")).try_cast("double"),
        }[sort_key]
        key = F.coalesce(col, F.lit(0.0))
    order = [F.col("sort_score").desc(), *_doc_tiebreak()]
    page = ranked_slice(df.withColumn("sort_score", key), order, page_start, page_end)
    return page.select("doc_id", "relevance", "sort_score", "rank")


def hydrate(
    page: DataFrame,
    hits: DataFrame,
    annotations: DataFrame,
    sentences: DataFrame,
) -> DataFrame:
    """Fetch full annotation + sentence records for the page only
    (server.py:665-745), as a JVM-local frame.

    ONE job: the page's literal doc_id list is pushed into the hits,
    annotations and sentences scans, which run as one union; the
    (doc_id, ann_id) and (doc_id, sent_idx) lookups then join ≤ a page of
    documents' rows on the driver. CRE rows re-sorted by parsed percent
    confidence happens at render (server.py:729-741) via the parsed
    ``confidence_value`` column."""
    rank = {r["doc_id"]: r["rank"] for r in page.select("doc_id", "rank").collect()}
    # "93.2%" → 93.2 (server.py:733 float(score[:-1]))
    ann = annotations.withColumn(
        "confidence_value",
        (F.regexp_extract(F.col("confidence"), r"^([\d.]+)%$", 1)).try_cast("double"),
    )
    on_page = F.col("doc_id").isin(sorted(rank))
    parts = [hits.select("doc_id", "ann_id"), ann, sentences.select("doc_id", "sent_idx", "sentence")]
    rows = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [p.filter(on_page).withColumn("_part", F.lit(i)) for i, p in enumerate(parts)],
    ).collect()
    keys = {(r["doc_id"], r["ann_id"]) for r in rows if r["_part"] == 0}
    sentence = {(r["doc_id"], r["sent_idx"]): r["sentence"] for r in rows if r["_part"] == 2}
    cols = ["doc_id", "sent_idx", "ann_id"]
    cols += [c for c in annotations.columns if c not in cols]
    schema = T.StructType(
        [ann.schema[c] for c in cols]
        + [page.schema["rank"], T.StructField("sentence", T.StringType()), ann.schema["confidence_value"]]
    )
    out = [
        (*[r[c] for c in cols], rank[r["doc_id"]], sentence.get((r["doc_id"], r["sent_idx"])), r["confidence_value"])
        for r in rows
        if r["_part"] == 1 and (r["doc_id"], r["ann_id"]) in keys
    ]
    return local_frame(page.sparkSession, out, schema)


def statistics(hits: DataFrame, annotations: DataFrame) -> dict:
    """Result statistics (server.py:895-921): papers / sentences /
    relations, plus per-annotator relation counts.

    Distinct counts without a distinct-aggregate shuffle: the per-doc
    figures (its sentence set's size, its relation count per annotator the
    pipeline writes, ``ANNOTATOR_NAMES``) are one aggregate over the matched
    annotations, and the totals are their sums — a sentence belongs to one
    paper."""
    ann = annotations.join(hits.select("doc_id", "ann_id"), ["doc_id", "ann_id"])
    per_doc = ann.groupBy("doc_id").agg(
        F.size(F.collect_set("sent_idx")).alias("sentences"),
        F.count(F.lit(1)).alias("relations"),
        *[F.count_if(F.col("annotator") == a).alias(a) for a in ANNOTATOR_NAMES],
    )
    row = per_doc.agg(
        F.count(F.lit(1)).alias("papers"),
        *[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in ("sentences", "relations", *ANNOTATOR_NAMES)],
    ).first()
    return {
        "papers": row["papers"],
        "sentences": row["sentences"],
        "relations": row["relations"],
        "relations_by_annotator": {a: row[a] for a in ANNOTATOR_NAMES if row[a]},
    }


def run_rel(
    postings: DataFrame,
    annotations: DataFrame,
    sentences: DataFrame,
    meta: DataFrame | None,
    e1_spec: spec_mod.Spec,
    e2_spec: spec_mod.Spec | None = None,
    pmid: str | None = None,
    sort_key: str = "relevance",
    page_start: int = 0,
    page_end: int = 10,
    with_statistics: bool = True,
    with_summary: bool = True,
) -> RelResult:
    if e2_spec is None:
        hits = spec_mod.evaluate_single(postings, e1_spec, pmid)
    else:
        hits = spec_mod.evaluate_pair(postings, e1_spec, e2_spec, pmid)
    # reused by scores, hydration and statistics; released in the finally:
    # a long-lived session issuing many rel queries must not accumulate
    # cached posting relations (same leak ranked_slice fixed in round 3)
    hits = hits.cache()
    try:
        # the page and its relations are ≤ a page of rows: kept as
        # JVM-local frames, which later collects answer without a job.
        # The reference renders every page it returns (server.py:665-745),
        # so the eager collects are the honest cost model, not added ones.
        page = collect_local(sorted_page(paper_scores(hits), meta, sort_key, page_start, page_end))
        relations = hydrate(page, hits, annotations, sentences)
        stats = statistics(hits, annotations) if with_statistics else {}
    finally:
        hits.unpersist()
    summary = None
    if with_summary:
        # the reference returns the NLG summary with every /query_rel page
        # (server.py:924-958); it inspects ≤ one page of hydrated rows
        from . import summary as summary_mod

        summary = summary_mod.summarize_page(
            [r.asDict() for r in relations.collect()],
            e1_spec=e1_spec,
            e2_spec=e2_spec,
            pmid=pmid,
        )
    return RelResult(papers=page, relations=relations, statistics=stats, summary=summary)
