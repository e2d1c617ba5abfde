"""kb_serve: a closed loop with one client over a built KB.

The request mix is uniform over the four request types: every cycle holds
two ``rel_single``, two ``rel_pair``, two ``nen`` and two ``graph``
requests, one of each pair on a Zipf-head entity of the entity dictionary
and one on a tail entity, and the seed only picks the entities. Nothing
records how often the web UI sends each type, so each weighs the same.
Each request is answered the way the web UI answers it (``rel.run_rel``,
``nen.fuzzy_names``, ``graph.*``), and checked afterwards against a
pure-Python recomputation over its input tables.

The timed operation is one whole cycle. Its latency is the sum of its
requests' latencies, so it does not depend on which request type happens
to sit in the middle of a cycle.
"""

from __future__ import annotations

import difflib
import hashlib
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
from bench_kg import build

from pubmedkb_web_spark import fixtures
from pubmedkb_web_spark.query import graph, nen, rel, spec as spec_mod, summary

from tests import oracle

KINDS = ("rel_single", "rel_pair", "nen", "graph")
PAGE = 10
KB_SEED = 42  # corpus seed of the cached serving KB; --seed picks the requests
# The first cycle of a fresh server pays code generation and JIT warm-up
# (about 30 s on a 4-vCPU host, the next about 15 s). A separate warm-up
# cycle plus two timed ones would not fit a run's minute; two timed cycles,
# the first cold, measure three times the work of one warm cycle, and their
# spread is half as wide.
MIN_CYCLES = 2


@dataclass
class Request:
    rid: str
    kind: str
    hot: bool
    args: dict = field(default_factory=dict)


class KB:
    """The tables a built KG root serves from, read back from parquet."""

    def __init__(self, spark, root: str, seed: int):
        read = lambda name: spark.read.parquet(os.path.join(root, name))  # noqa: E731
        self.postings = read("entity_postings")
        self.annotations = read("annotations")
        self.sentences = read("sentences")
        self.meta = read("meta")
        self.cgd_paths = read("cgd_paths")
        self.chem_disease = read("chem_disease")
        self.glof = read("glof")
        dict_path = os.path.join(root, "entity_dict")
        if not os.path.exists(dict_path):
            fixtures.entity_dict_df(spark, seed).write.parquet(dict_path)
        self.entity_dict = spark.read.parquet(dict_path)


class Inputs:
    """The KB's input tables, read straight from their parquet, for the
    checks and the request planner."""

    def __init__(self, root: str, seed: int):
        read = lambda name: pd.read_parquet(os.path.join(root, name))  # noqa: E731
        self.postings = read("entity_postings")
        self.cgd = read("cgd_paths")
        self.chem = read("chem_disease")
        self.entity = fixtures.build_entity_dict(seed)
        self.dict_names = read("entity_dict")["name"].tolist()
        self.posting_rows = self.postings.to_dict("records")


# ----------------------------------------------------------------- planning


def _misspell(rng: random.Random, name: str) -> str:
    """One edit: substitute, delete or insert a letter (never the first)."""
    i = rng.randrange(1, len(name)) if len(name) > 1 else 0
    op = rng.choice(("sub", "del", "ins")) if len(name) > 3 else "ins"
    c = rng.choice("abcdefghijklmnopqrstuvwxyz")
    if op == "sub":
        return name[:i] + (c if c != name[i] else "q") + name[i + 1:]
    if op == "del":
        return name[:i] + name[i + 1:]
    return name[:i] + c + name[i:]


def plan_requests(seed: int, inp: Inputs) -> list[Request]:
    """One cycle of the mix, its order shuffled by the seed."""
    rng = random.Random(seed)
    p = inp.postings
    by_id = p[p.idx_kind == "type_id"]
    present = set(zip(by_id["type"], by_id["key"]))
    # Zipf rank of each (type, id) by dictionary frequency
    freq = inp.entity.groupby(["type", "id"])["freq"].sum().sort_values(ascending=False)
    ranked = [k for k in freq.index if k in present]
    head = ranked[: max(4, len(ranked) // 10)]
    tail = ranked[len(ranked) // 2:]
    pick = lambda hot: rng.choice(head if hot else tail)  # noqa: E731

    def name_of(key: tuple) -> str:
        rows = p[(p.idx_kind == "type_name") & (p["type"] == key[0])]
        ann = by_id[(by_id["type"] == key[0]) & (by_id["key"] == key[1])][["doc_id", "ann_id", "role"]]
        names = sorted(set(rows.merge(ann, on=["doc_id", "ann_id", "role"])["key"]))
        return names[0]

    tid = lambda key: ("type_id", key)  # noqa: E731
    reqs: list[Request] = []

    def add(kind: str, hot: bool, **args) -> None:
        reqs.append(Request(f"{kind}{len(reqs)}", kind, hot, args))

    # rel_*: VARIANT umbrella, nested AND/OR, plain ids and a name spec;
    # all four sorts; first and deep pages; with and without a pmid
    variants = [k for k in head if k[0] in oracle.VARIANT_TYPES]
    v = rng.choice(variants) if variants else pick(True)
    add("rel_single", True, e1=("type_id", ("VARIANT", v[1])), sort_key="year", page_start=2 * PAGE)
    # AND of two ids one mention carries, OR a tail entity
    multi = by_id.groupby(["doc_id", "ann_id", "role", "type"])["key"].apply(
        lambda s: tuple(sorted(set(s)))
    )
    multi = sorted({(t, ks) for (_d, _a, _r, t), ks in multi.items() if len(ks) >= 2})
    t, ks = rng.choice(multi)
    nested = ("OR", (("AND", (tid((t, ks[0])), tid((t, ks[1])))), tid(pick(False))))
    add("rel_single", False, e1=nested, sort_key="journal_impact", page_start=0)
    # observed head/tail pairs: both ends in the head, then neither
    heads = by_id[by_id.role == "head"][["doc_id", "ann_id", "type", "key"]]
    tails = by_id[by_id.role == "tail"][["doc_id", "ann_id", "type", "key"]]
    pairs = heads.merge(tails, on=["doc_id", "ann_id"], suffixes=("_h", "_t"))
    pair_docs = pairs.groupby(["type_h", "key_h", "type_t", "key_t"])["doc_id"].apply(
        lambda s: sorted(set(s))
    )
    pair_docs = {((a, b), (c, d)): docs for (a, b, c, d), docs in pair_docs.items() if (a, b) != (c, d)}
    hot_set = set(head)
    hotness = lambda pr: (pr[0] in hot_set) + (pr[1] in hot_set)  # noqa: E731
    e1, e2 = rng.choice(sorted(pr for pr in pair_docs if hotness(pr) == 2) or sorted(pair_docs))
    add("rel_pair", True, e1=tid(e1), e2=tid(e2), sort_key="relevance", page_start=0)
    e1, e2 = rng.choice(sorted(pr for pr in pair_docs if hotness(pr) == 0) or sorted(pair_docs))
    add("rel_pair", False, e1=("type_name", (e1[0], name_of(e1))), e2=tid(e2), sort_key="citation",
        page_start=0, pmid=rng.choice(pair_docs[(e1, e2)]))

    # nen: a one-edit misspelling of a head name and of a tail name
    add("nen", True, query=_misspell(rng, name_of(pick(True))))
    add("nen", False, query=_misspell(rng, name_of(pick(False))))

    # graph: drug discovery for a frequent disease, evidence for a rare pair
    d_rank = inp.cgd.groupby("d").size().sort_values(ascending=False)
    add("graph", True, op="cgd", d=rng.choice(list(d_rank.index[: max(1, len(d_rank) // 4)])))
    paper = inp.chem[inp.chem.level == "paper"]
    cd_docs = paper.groupby(["c", "d"]).size().sort_values()
    c, d = rng.choice(list(cd_docs.index[: max(1, len(cd_docs) // 2)]))
    add("graph", False, op="chem", c=c, d=d)

    rng.shuffle(reqs)
    return reqs


# ---------------------------------------------------------------- execution


def execute(kb: KB, req: Request):
    """Answer one request as the web UI does; returns its response."""
    a = req.args
    if req.kind in ("rel_single", "rel_pair"):
        res = rel.run_rel(
            kb.postings, kb.annotations, kb.sentences, kb.meta,
            e1_spec=a["e1"], e2_spec=a.get("e2"), pmid=a.get("pmid"),
            sort_key=a["sort_key"], page_start=a["page_start"], page_end=a["page_start"] + PAGE,
        )
        page = [r["doc_id"] for r in res.papers.collect()]
        return {"page": page, "statistics": res.statistics, "summary": res.summary["text"]}
    if req.kind == "nen":
        return [tuple(r) for r in nen.fuzzy_names(kb.entity_dict, a["query"]).collect()]
    if a["op"] == "cgd":
        return [(r["c"], r["cd_score"]) for r in graph.cgd_drug_discovery(kb.cgd_paths, a["d"]).collect()]
    return [
        (r["c"], r["d"], r["n_docs"], list(r["doc_ids"]))
        for r in graph.chem_disease_lookup(kb.chem_disease, c=a["c"], d=a["d"]).collect()
    ]


def execute_traced(kb: KB, req: Request, tracer) -> dict:
    """``execute`` with one span per layer step. A rel request runs
    ``run_rel``'s steps in ``run_rel``'s order; the hits are counted inside
    the ``spec.evaluate`` span so that step's cost is charged to it."""
    a = req.args
    out = {}
    with tracer.span(f"request.{req.kind}", request=req.rid) as top:
        if req.kind in ("rel_single", "rel_pair"):
            with tracer.span("spec.evaluate") as sp:
                if a.get("e2") is None:
                    hits = spec_mod.evaluate_single(kb.postings, a["e1"], a.get("pmid"))
                else:
                    hits = spec_mod.evaluate_pair(kb.postings, a["e1"], a["e2"], a.get("pmid"))
                hits = hits.cache()
                out["hits"] = hits.count()
            out["evaluate"] = sp
            try:
                spark = hits.sparkSession
                with tracer.span("rel.page"):
                    page = rel.sorted_page(
                        rel.paper_scores(hits), kb.meta, a["sort_key"],
                        a["page_start"], a["page_start"] + PAGE,
                    )
                    page_rows = page.collect()
                    spark.createDataFrame(page_rows, page.schema)
                with tracer.span("rel.hydrate"):
                    relations = rel.hydrate(page, hits, kb.annotations, kb.sentences)
                    rel_rows = relations.collect()
                    spark.createDataFrame(rel_rows, relations.schema)
                with tracer.span("rel.statistics"):
                    stats = rel.statistics(hits, kb.annotations)
            finally:
                hits.unpersist()
            with tracer.span("summary.summarize_page"):
                summary.summarize_page(
                    [r.asDict() for r in rel_rows], e1_spec=a["e1"], e2_spec=a.get("e2"),
                    pmid=a.get("pmid"),
                )
            out["response"] = {"page": [r["doc_id"] for r in page_rows], "statistics": stats}
        elif req.kind == "nen":
            with tracer.span("nen.fuzzy_names"):
                out["response"] = execute(kb, req)
        else:
            name = "graph.cgd_drug_discovery" if a["op"] == "cgd" else "graph.chem_disease_lookup"
            with tracer.span(name):
                out["response"] = execute(kb, req)
    out["span"] = top
    return out


# ------------------------------------------------------------------- checks


def check(req: Request, resp, inp: Inputs) -> str | None:
    """None when ``resp`` is right, else what is wrong."""
    a = req.args
    if req.kind in ("rel_single", "rel_pair"):
        if req.kind == "rel_single":
            hits = {(d, ann) for _r, d, ann in oracle.eval_spec(inp.posting_rows, a["e1"], a.get("pmid"))}
        else:
            hits = oracle.eval_pair(inp.posting_rows, a["e1"], a["e2"], a.get("pmid"))
        docs = {d for d, _ann in hits}
        stats, page = resp["statistics"], resp["page"]
        want_len = max(0, min(len(docs), a["page_start"] + PAGE) - a["page_start"])
        if stats["papers"] != len(docs):
            return f"papers {stats['papers']} != oracle {len(docs)}"
        if not set(page) <= docs or len(page) != want_len or len(set(page)) != len(page):
            return f"page {page} is not {want_len} distinct hit docs"
        return None
    if req.kind == "nen":
        q = a["query"].lower()
        cands = {n.lower() for n in inp.dict_names if abs(len(n) - len(q)) <= nen.DEFAULT_MAX_LENGTH_DIFF}
        scored = []
        for n in cands:
            s = round(difflib.SequenceMatcher(a=n, b=q).ratio(), 6)
            if s >= nen.DEFAULT_MIN_SIMILARITY:
                scored.append((n, s))
        want = sorted(scored, key=lambda x: (-x[1], x[0]))[: nen.DEFAULT_MAX_NAMES]
        return None if resp == want else f"nen {resp} != {want}"
    if a["op"] == "cgd":
        rows = inp.cgd[inp.cgd.d == a["d"]]
        sums = rows.groupby("c")["cgd_score"].sum()
        want = sorted(((c, round(s, 6)) for c, s in sums.items()), key=lambda x: (-x[1], x[0]))[:10]
        ok = len(resp) == len(want) and all(
            rc == wc and abs(rs - ws) <= 1e-6 for (rc, rs), (wc, ws) in zip(resp, want)
        )
        return None if ok else f"cgd {resp} != {want}"
    rows = inp.chem[(inp.chem.level == "paper") & (inp.chem.c == a["c"]) & (inp.chem.d == a["d"])]
    docs = sorted(set(rows.doc_id))
    want = [(a["c"], a["d"], len(docs), docs)] if docs else []
    return None if resp == want else f"chem_disease {resp} != {want}"


# ----------------------------------------------------------------- workload


def source_key(root: str) -> str:
    """Hash of the package source, so a cached KB never outlives its code."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "pubmedkb_web_spark")
    for d, _dirs, files in sorted(os.walk(pkg)):
        for fn in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(d, fn)
            h.update(os.path.relpath(path, pkg).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def kb_root(ctx) -> str:
    """Where the serving KB of this checkout and code version is cached."""
    return os.path.join(ctx.cache_dir, f"kb-{source_key(ctx.root)}-{ctx.docs}")


def build_kb(spark, root: str, n_docs: int) -> None:
    """Build the serving KB from the fixture corpus into ``root``."""
    tmp = f"{root}.tmp{os.getpid()}"
    build(spark, tmp, KB_SEED, n_docs=n_docs)
    KB(spark, tmp, KB_SEED)  # writes the entity dictionary
    os.rename(tmp, root)


def run(ctx) -> None:
    """Run the workload in ``ctx`` (``run.Context``)."""
    with ctx.setup():
        with ctx.part("kb"):
            root = kb_root(ctx)
            kb = KB(ctx.spark, root, KB_SEED)
        with ctx.part("plan"):
            inp = Inputs(root, KB_SEED)
            cycle = plan_requests(ctx.seed, inp)

    first: dict[str, object] = {}
    lat: dict[str, list[float]] = {k: [] for k in KINDS}
    responses = []
    while True:  # whole cycles: the operation is one cycle
        t_cycle = 0.0
        for req in cycle:
            t0 = time.perf_counter()
            if ctx.tracer.enabled:  # one span per layer step
                out = execute_traced(kb, req, ctx.tracer)
                resp = out["response"]
                ctx.traced_requests.append((req, out))
            else:
                resp = execute(kb, req)
            dt = time.perf_counter() - t0
            t_cycle += dt
            lat[req.kind].append(dt)
            ctx.detail.setdefault("request_ms", {}).setdefault(req.rid, []).append(dt * 1e3)
            responses.append((req, resp))
        ctx.op_done(t_cycle, n=len(cycle))
        if len(ctx.ops) >= MIN_CYCLES and ctx.timed_out():
            break
    ctx.end_timed()

    for req, resp in responses:
        if req.rid not in first:
            first[req.rid] = resp
            err = check(req, resp, inp)
        else:
            err = None if resp == first[req.rid] else f"response differs from the first {first[req.rid]}"
        ctx.check(err is None, f"{req.rid} {req.args}: {err}")

    for k in KINDS:
        ctx.report[f"{k}_p50_ms"] = statistics.median(lat[k]) * 1e3
    if ctx.tracer.enabled:
        ctx.trace_layers(KB_SEED, kb=kb)
