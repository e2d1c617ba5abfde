"""NEN fuzzy name lookup (/query_name_to_id_alias, SURVEY.md §3.2).

Reference algorithm (/root/reference/kb_utils.py:296-380):

1. candidate blocking by name length: only names with
   ``|len(name) − len(query)| ≤ max_length_diff`` are scored
   (the ``length_name`` index, kb_utils.py:319-334) — here a derived
   ``length(name)`` column + range predicate, pushed to the scan;
2. similarity = ``difflib.SequenceMatcher.ratio()`` — NOT Levenshtein
   similarity (SURVEY.md §7 hard-part #1); we call stdlib difflib inside an
   Arrow-vectorized pandas UDF, so parity with the reference is exact *by
   construction*;
3. threshold ``min_similarity`` (default 0.85), top ``max_names`` by
   (similarity desc, name asc) — deterministic tiebreak;
4. per name: ids ranked by frequency desc (kb_utils.py:365-372);
5. per (type, id): top ``max_aliases`` aliases by frequency
   (kb_utils.py:374-380).

Scale: the dictionary is the only scanned table; blocking prunes ~everything
before Python is involved (the UDF sees only same-length-bucket names).
"""

from __future__ import annotations

import difflib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from ..functions.frames import local_frame
from ..schemas import VARIANT_TYPES as VARIANT_UMBRELLA

DEFAULT_MIN_SIMILARITY = 0.85
DEFAULT_MAX_LENGTH_DIFF = 1
DEFAULT_MAX_NAMES = 20
DEFAULT_MAX_ALIASES = 10


def fuzzy_names(
    entity_dict: DataFrame,
    query: str,
    case_sensitive: bool = False,
    min_similarity: float = DEFAULT_MIN_SIMILARITY,
    max_length_diff: int = DEFAULT_MAX_LENGTH_DIFF,
    max_names: int = DEFAULT_MAX_NAMES,
) -> DataFrame:
    """→ (name, similarity), the reference's get_names_by_query."""
    q = query if case_sensitive else query.lower()

    @F.pandas_udf(T.DoubleType())
    def ratio(names: pd.Series) -> pd.Series:
        # one SequenceMatcher with the query cached as seq2 (difflib caches
        # the b-side index) — vectorized over the Arrow batch
        sm = difflib.SequenceMatcher(a="", b=q)
        def score(n: str) -> float:
            sm.set_seq1(n)
            return sm.ratio()
        return names.map(score)

    name_col = F.col("name") if case_sensitive else F.lower(F.col("name"))
    candidates = (
        entity_dict.select(name_col.alias("cmp_name"), F.col("name"))
        .filter(
            (F.length("cmp_name") >= len(q) - max_length_diff)
            & (F.length("cmp_name") <= len(q) + max_length_diff)
        )
        .dropDuplicates(["cmp_name"])
    )
    return (
        candidates.withColumn("similarity", F.round(ratio(F.col("cmp_name")), 6))
        .filter(F.col("similarity") >= min_similarity)
        .orderBy(F.col("similarity").desc(), F.col("cmp_name").asc())
        .limit(max_names)
        .select(F.col("cmp_name").alias("name"), "similarity")
    )


def ids_by_name(entity_dict: DataFrame, names: DataFrame) -> DataFrame:
    """names(name) → (name, type, id, freq) ranked by freq desc per name
    (kb_utils.py:365-372)."""
    joined = entity_dict.join(
        F.broadcast(names.select("name")),
        F.lower(entity_dict["name"]) == F.lower(names["name"]),
        "inner",
    ).select(
        F.lower(entity_dict["name"]).alias("name"), "type", "id", "freq"
    )
    agg = joined.groupBy("name", "type", "id").agg(F.sum("freq").alias("freq"))
    w = W.partitionBy("name").orderBy(F.col("freq").desc(), F.col("id").asc())
    return agg.withColumn("rank", F.row_number().over(w))


def variant_dict(entity_dict: DataFrame) -> DataFrame:
    """The VariantNEN bidirectional id↔name store (kb_utils.py:1403-1434)
    as a relation: (type, id, name_lower), names lowercased and deduped per
    (id, name_lower) exactly like the reference's ``name_set`` guard; RS
    ids additionally get the synthesized ``rs<digits>`` surface the
    reference derives from the id itself (``"rs" + _id[len("RS#:"):]``).

    One row per membership fact — the in-KB probe (get_variant_in_kb) and
    both lookup directions are joins against this table."""
    vt = F.array(*[F.lit(t) for t in VARIANT_UMBRELLA])
    variants = entity_dict.filter(F.array_contains(vt, F.col("type")))
    from_names = variants.select(
        "type", "id", F.lower(F.col("name")).alias("name_lower")
    )
    from_rs_ids = (
        variants.filter(F.col("id").startswith("RS#:"))
        .select(
            "type",
            "id",
            F.concat(F.lit("rs"), F.substring(F.col("id"), 5, 1 << 20)).alias("name_lower"),
        )
    )
    return from_names.unionByName(from_rs_ids).dropDuplicates(["type", "id", "name_lower"])


def variant_in_kb(
    entity_dict: DataFrame, id_list: list[str], name_list: list[str]
) -> DataFrame:
    """get_variant_in_kb (kb_utils.py:385-396): probe every (variant type,
    id, name) combination against the per-(type, id) name→frequency store;
    emit hits sorted by frequency desc.

    The reference's ``sorted(key=-frequency)`` is *stable* over its
    enumeration order (type, then id_list order, then name_list order) —
    mirrored here with probe ordinals as tie-break columns, so the result
    is a total order identical to the reference's list."""
    spark = entity_dict.sparkSession
    probes = [
        (t, ti, i, ii, n, ni)
        for ti, t in enumerate(VARIANT_UMBRELLA)
        for ii, i in enumerate(id_list)
        for ni, n in enumerate(name_list)
    ]
    probe_df = local_frame(
        spark, probes, "type string, t_ord int, id string, i_ord int, name string, n_ord int"
    )
    freq = entity_dict.groupBy("type", "id", "name").agg(F.sum("freq").alias("frequency"))
    hits = freq.join(F.broadcast(probe_df), ["type", "id", "name"], "inner")
    return (
        hits.orderBy(
            F.col("frequency").desc(), F.col("t_ord"), F.col("i_ord"), F.col("n_ord")
        )
        .select("type", "id", "name", "frequency")
    )


def aliases_by_id(
    entity_dict: DataFrame, max_aliases: int = DEFAULT_MAX_ALIASES
) -> DataFrame:
    """per (type, id): top aliases by freq (kb_utils.py:374-380)."""
    w = W.partitionBy("type", "id").orderBy(F.col("freq").desc(), F.col("name").asc())
    return (
        entity_dict.withColumn("alias_rank", F.row_number().over(w))
        .filter(F.col("alias_rank") <= max_aliases)
        .select("type", "id", F.col("name").alias("alias"), "freq", "alias_rank")
    )
