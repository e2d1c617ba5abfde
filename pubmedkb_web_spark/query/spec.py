"""Entity-spec compiler: s-expression tree → DataFrame plan.

The reference evaluates specs bottom-up over in-memory inverted indexes
(/root/reference/kb_utils.py:1540-1682): leaf = index probe, AND = key-wise
set intersection (kb_utils.py:167-195), OR = key-wise union
(kb_utils.py:198-216), two-entity = head/tail cross pairing
(kb_utils.py:1651-1668), with per-query memoization and pmid pushdown.

Here a spec tree of any shape reads ``entity_postings`` ONCE:

- scan  → one filter ORing every distinct leaf (idx_kind, type, key)
          [+ pmid]; Catalyst pushes it into the parquet scan
- leaf  → one boolean flag column per distinct leaf; identical leaves share
          a column (the kb_utils.py:1556-1562 memoization analog); VARIANT
          umbrella → isin over the six concrete types (kb_utils.py:58-67)
- one ``repartition(doc_id)``, then ``max(flag)`` per (role, doc_id,
          ann_id) — or per (doc_id, ann_id) with each flag masked by role,
          for single and pair queries
- AND/OR → ``&``/``|`` over the aggregated flags: the reference intersects
          pmid keysets AND annotation value-sets, which together are
          exactly row-level intersection

Evaluation plans exactly one Exchange, and a later doc-keyed aggregate over
the hits (the paper scores) reuses its doc_id partitioning. The
reference's "smallest input first" and "abort empty AND"
(kb_utils.py:171-173,1572-1573) have nothing left to do: there is no join.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import VARIANT_TYPES

Spec = tuple  # ("AND"|"OR", (spec, ...)) | ("type_id"|"type_name", (type, key))

_HT_COLS = ["role", "doc_id", "ann_id", "score"]
_ROLES = ("head", "tail")


class SpecCompiler:
    def __init__(self, postings: DataFrame, pmid: str | None = None):
        self.postings = postings
        self.pmid = pmid
        self._leaves: dict[tuple, str] = {}  # (idx_kind, type, key) → flag column

    def condition(self, spec: Spec, role: str | None = None) -> Column:
        """The spec's AND/OR tree over the aggregated leaf flags of ``role``
        (None: the unmasked flags of a (role, doc_id, ann_id) group)."""
        op, args = spec
        if op in ("type_id", "type_name"):
            flag = self._leaves.setdefault((op, *args), f"_l{len(self._leaves)}")
            return F.col(f"{flag}_{role}" if role else flag)
        if op not in ("AND", "OR"):
            raise ValueError(f"unknown spec op: {op!r}")
        return reduce(
            operator.and_ if op == "AND" else operator.or_,
            [self.condition(b, role) for b in args],
        )

    def flags(self, keys: list[str], roles: tuple = (None,)) -> DataFrame:
        """One scan for every leaf a :meth:`condition` call has named:
        ``max(flag)`` (masked by each of ``roles``) and ``max(score)`` per
        ``keys`` group, over postings hash-partitioned by doc_id."""
        leaf = {
            name: (F.col("idx_kind") == idx_kind)
            & (F.col("key") == key)
            & F.col("type").isin(VARIANT_TYPES if etype == "VARIANT" else [etype])
            for (idx_kind, etype, key), name in self._leaves.items()
        }
        scan = reduce(operator.or_, leaf.values())
        if self.pmid is not None:  # pmid pushdown into the scan (P2)
            scan = scan & (F.col("doc_id") == self.pmid)
        rows = self.postings.filter(scan).select(
            *_HT_COLS, *[c.alias(n) for n, c in leaf.items()]
        )
        aggs = [
            F.max(F.col(n) & (F.col("role") == r) if r else F.col(n)).alias(
                f"{n}_{r}" if r else n
            )
            for n in leaf
            for r in roles
        ]
        return (
            rows.repartition("doc_id")
            .groupBy(*keys)
            .agg(F.max("score").alias("score"), *aggs)
        )

    def compile(self, spec: Spec) -> DataFrame:
        """(role, doc_id, ann_id, score) rows the spec matches."""
        cond = self.condition(spec)
        return self.flags(["role", "doc_id", "ann_id"]).filter(cond).select(*_HT_COLS)


def evaluate_single(postings: DataFrame, spec: Spec, pmid: str | None = None) -> DataFrame:
    """Single-entity query → (doc_id, ann_id, score): an annotation matches
    if the entity appears as head OR tail (kb_utils.py:1638-1649)."""
    c = SpecCompiler(postings, pmid)
    cond = c.condition(spec, "head") | c.condition(spec, "tail")
    return c.flags(["doc_id", "ann_id"], _ROLES).filter(cond).select("doc_id", "ann_id", "score")


def evaluate_pair(
    postings: DataFrame, e1_spec: Spec, e2_spec: Spec, pmid: str | None = None
) -> DataFrame:
    """Two-entity query: (e1.head ∩ e2.tail) ∪ (e1.tail ∩ e2.head) per
    annotation (kb_utils.py:1651-1668)."""
    c = SpecCompiler(postings, pmid)
    cond = (c.condition(e1_spec, "head") & c.condition(e2_spec, "tail")) | (
        c.condition(e2_spec, "head") & c.condition(e1_spec, "tail")
    )
    return c.flags(["doc_id", "ann_id"], _ROLES).filter(cond).select("doc_id", "ann_id", "score")
