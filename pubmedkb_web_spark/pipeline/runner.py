"""Pipeline orchestration with per-stage checkpoints, lineage and metrics.

A pipeline is a table of :class:`Stage` rows (name, build, upstream,
config, partition columns). :meth:`CheckpointedPipeline.run` starts each
stage as soon as all of its upstreams have committed, so stages that do
not depend on each other run concurrently from driver threads and Spark
schedules their jobs side by side. No stage sets a session conf: the
stages share one session, and a stage that needs its own shuffle width
plans it (``repartition(n, ...)``), where no other stage can see it.

North-rule requirements: resumable from per-stage checkpoints with
per-partition lineage + metrics. Each stage writes its output parquet and a
``_graft_meta.json`` marker containing the stage fingerprint (name + config
+ upstream fingerprints — a Merkle-style lineage chain), the row count,
per-partition row metrics, the schema it was written with, and when the
stage started and how long it took.
The marker is renamed into place after the parquet commits, so a stage has
committed exactly when its marker exists. On resume, a stage whose marker
matches its fingerprint is *read back* instead of recomputed; a missing,
stale or unreadable marker recomputes the stage, and everything downstream
of a recomputed stage follows. Markers, footers and side files go through
one filesystem resolved from the root (:class:`RootFs`).

Determinism guarantees that make resume byte-stable: no
monotonically_increasing_id, no RNG, no wall-clock anywhere in the stages
(ids are content hashes, salts are hashes of row keys).
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Callable, TypeVar

import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import fixtures
from ..functions.frames import collect_local
from . import canonicalize, extractors, materialize, mentions

MARKER = "_graft_meta.json"
T = TypeVar("T")


def _module_source_bytes(name: str, loader, file_path: str | None) -> bytes:
    """Source bytes for a module under ANY deployment: a plain checkout
    (open the file), or a ``spark-submit --py-files`` zip, where
    ``__file__`` is a path INSIDE the archive (``.../pkg.zip/pkg/mod.py``)
    that ``open()`` rejects with NotADirectoryError — the loader's
    ``get_source`` (zipimporter implements it) is the portable read. The
    round-3 fallback opened ``__file__`` directly and crashed every
    executor of a --py-files deployment (found by tools/submit_smoke.py)."""
    if loader is not None and hasattr(loader, "get_source"):
        try:
            src = loader.get_source(name)
            if src is not None:
                return src.encode()
        except (ImportError, OSError):
            pass
    if file_path:
        with open(file_path, "rb") as f:
            return f.read()
    raise OSError(f"no source available for module {name}")


def _compute_code_fingerprint() -> str:
    """Hash of the pipeline's own source modules. Mixed into every stage
    fingerprint so a checkpoint written by *older code* can never be read
    back as current — without it, editing an extractor silently resumed
    stale parquet (round-1 ADVICE)."""
    import hashlib
    import inspect

    from .. import fixtures as _fx, schemas as _sc
    from . import canonicalize as _cn, extractors as _ex, materialize as _mt, mentions as _mn

    h = hashlib.sha256()
    for mod in (_mn, _ex, _cn, _mt, _fx, _sc):
        try:
            h.update(inspect.getsource(mod).encode())
        except (OSError, TypeError):
            h.update(
                _module_source_bytes(
                    mod.__name__, getattr(mod, "__loader__", None), getattr(mod, "__file__", None)
                )
            )
    # this module last (can't inspect itself during import on some loaders);
    # __loader__ is set in the module globals while the body executes
    h.update(_module_source_bytes(__name__, globals().get("__loader__"), __file__))
    return h.hexdigest()[:16]


CODE_FINGERPRINT = _compute_code_fingerprint()


def _fingerprint(name: str, config: dict, upstream: list[str]) -> str:
    import hashlib

    payload = json.dumps(
        {
            "name": name,
            "config": config,
            "upstream": sorted(upstream),
            "code": CODE_FINGERPRINT,
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


class RootFs:
    """The filesystem of a checkpoint root (a local path or a ``file://``
    URI), for the files the pipeline keeps beside the stage parquet; paths
    are relative to the root. pyarrow's, not the JVM's Hadoop
    ``FileSystem``: there, the py4j round trips of the footer reads and
    marker writes took ~0.5 s of a 5 s warm 1000-doc build."""

    def __init__(self, root: str):
        self._fs, self._root = pafs.FileSystem.from_uri(
            root if "://" in root else os.path.abspath(root)
        )

    def _abs(self, path: str) -> str:
        return f"{self._root}/{path}"

    def read_text(self, path: str) -> str:
        with self._fs.open_input_stream(self._abs(path)) as f:
            return f.read().decode()

    def publish_text(self, path: str, text: str) -> None:
        """Write under a temporary name, then rename into place: a reader
        sees no file or the whole file, never a part of one."""
        tmp = self._abs(path + ".tmp")
        with self._fs.open_output_stream(tmp) as f:
            f.write(text.encode())
        self._fs.move(tmp, self._abs(path))

    def partition_metrics(self, path: str) -> list[dict]:
        """Per-file row counts of the committed parquet under ``path``, read
        from the FOOTERS (no Spark job, no data scan): the committed files
        ARE the stage's partitions, so these are its per-partition lineage."""
        base = self._abs(path)
        infos = self._fs.get_file_info(pafs.FileSelector(base, recursive=True))
        files = sorted(i.path for i in infos if i.is_file and i.path.endswith(".parquet"))
        return [
            {
                "partition": i,
                "rows": pq.read_metadata(f, filesystem=self._fs).num_rows,
                "file": f[len(base) + 1:],
            }
            for i, f in enumerate(files)
        ]


@dataclass
class StageResult:
    name: str
    path: str
    fingerprint: str
    row_count: int
    recomputed: bool
    partitions: list[dict] = field(default_factory=list)
    seconds: float = 0.0  # from start to commit (or read-back)
    started: float = 0.0  # seconds since the pipeline began


@dataclass(frozen=True)
class Stage:
    """One row of a stage table. ``build(pipe)`` plans the stage's output
    from its committed upstreams: ``pipe.frames[u]`` (read back from the
    checkpoint) and ``pipe.results[u]`` (row count, partitions)."""

    name: str
    build: Callable[["CheckpointedPipeline"], DataFrame]
    upstream: tuple[str, ...] = ()
    config: dict = field(default_factory=dict)
    partition_by: tuple[str, ...] = ()


class CheckpointedPipeline:
    """Runs a stage table with checkpoint/resume over a parquet root."""

    def __init__(self, spark: SparkSession, out_dir: str, resume: bool = True):
        self.spark = spark
        self.out_dir = out_dir
        self.resume = resume
        self.fs = RootFs(out_dir)
        self.results: dict[str, StageResult] = {}
        self.frames: dict[str, DataFrame] = {}
        self._t0 = time.perf_counter()

    def _read_marker(self, marker: str) -> dict | None:
        """The marker's fields; None when it is missing or unreadable (a
        write cut short, a hand edit) — either way the stage is stale."""
        try:
            meta = json.loads(self.fs.read_text(marker))
        except (OSError, ValueError):
            return None
        return meta if isinstance(meta, dict) and {"row_count", "schema"} <= meta.keys() else None

    def stage(self, spec: Stage, started: float) -> DataFrame:
        """Read one stage back from its checkpoint, or build, write and
        commit it. Its upstreams must have committed. ``started`` (seconds
        since the pipeline began) is when the scheduler submitted it.

        Stages run concurrently, so a build must not touch shared session
        state: a stage that wants its own shuffle width plans an explicit
        ``repartition`` instead of setting ``spark.sql.shuffle.partitions``
        (which AQE would also coalesce)."""
        fp = _fingerprint(spec.name, spec.config, [self.results[u].fingerprint for u in spec.upstream])
        path, marker = os.path.join(self.out_dir, spec.name), f"{spec.name}/{MARKER}"
        meta = self._read_marker(marker) if self.resume else None
        recomputed = (
            meta is None or meta.get("fingerprint") != fp
            or any(self.results[u].recomputed for u in spec.upstream)
        )
        if recomputed:
            df = spec.build(self)
            writer = df.write.mode("overwrite")
            if spec.partition_by:
                writer = writer.partitionBy(*spec.partition_by)
            writer.parquet(path)
            parts = self.fs.partition_metrics(spec.name)
            meta = {
                "stage": spec.name, "fingerprint": fp, "upstream": list(spec.upstream),
                "row_count": sum(p["rows"] for p in parts), "partitions": parts,
                "config": spec.config, "started": started,
                # the data columns as written: reading back with them skips
                # parquet schema inference, a Spark job per read that queues
                # behind the jobs of every stage already running
                "schema": StructType(
                    [f for f in df.schema.fields if f.name not in spec.partition_by]
                ).jsonValue(),
            }
        df = self.spark.read.schema(StructType.fromJson(meta["schema"])).parquet(path)
        seconds = time.perf_counter() - self._t0 - started
        if recomputed:
            self.fs.publish_text(marker, json.dumps({**meta, "seconds": seconds}, indent=1))
        self.results[spec.name] = StageResult(
            spec.name, path, fp, meta["row_count"], recomputed, meta.get("partitions", []),
            seconds, started,
        )
        return df

    def run(self, stages: list[Stage]) -> dict[str, DataFrame]:
        """Run a stage table: submit every stage whose upstreams have all
        committed, wait for the first to finish, repeat. A stage that
        raises stops new submissions; its error is re-raised once the
        stages already running have finished. Returns the committed
        frames by name, in commit order."""
        waiting, running = list(stages), {}
        error: BaseException | None = None
        with ThreadPoolExecutor(max_workers=max(1, len(stages))) as pool:
            while True:
                for s in [s for s in waiting if error is None and set(s.upstream) <= self.frames.keys()]:
                    waiting.remove(s)
                    running[pool.submit(self.stage, s, time.perf_counter() - self._t0)] = s.name
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for f in done:
                    name = running.pop(f)
                    if f.exception() is None:
                        self.frames[name] = f.result()
                    else:
                        error = error or f.exception()
        if error is not None:
            raise error
        if waiting:
            raise ValueError(f"stages whose upstream is not in the table: {[s.name for s in waiting]}")
        return self.frames


def _once(make: Callable[[], T]) -> Callable[[], T]:
    """``make()`` evaluated once, by whichever stage thread asks first."""
    lock, made = threading.Lock(), []

    def get() -> T:
        with lock:
            if not made:
                made.append(make())
        return made[0]

    return get


def kg_stages(
    spark: SparkSession,
    n_docs: int | None = None,
    source_df: DataFrame | None = None,
    seed: int = fixtures.SEED,
    with_dedup: bool = False,
    with_ann_index: bool | str = False,
    with_quality: bool = False,
) -> list[Stage]:
    """The M0→M4 stage table of :func:`run_kg_pipeline`."""

    # built by the first stage that needs it, off the source stage's path,
    # and not cached: it is a JVM-local relation already, and caching it
    # added a materialization job plus a cache stage to every plan reading
    # it (1000 docs, 4 cores: ~1 s of the first build's critical path)
    dictionary = _once(lambda: fixtures.entity_dict_df(spark, seed))
    # a broadcast of a JVM-local frame runs no job, where the dictionary
    # `distinct` re-ran its shuffle and broadcast jobs for each of the four
    # typed lookups of chem_disease and cgd_paths
    entity_types = _once(lambda: collect_local(dictionary().select("id", "type").distinct()))
    glof_terms = sorted(t for t, _ in fixtures.GLOF_TERMS)

    def build_mentions(p: CheckpointedPipeline) -> DataFrame:
        # The n-gram window sort is the one stage whose cost is superlinear
        # in post-shuffle partition size (3.2M docs / 8 cores: 391 s at
        # session defaults vs 110 s with data-sized small partitions — the
        # sort thrashes once a partition's token rows outgrow the
        # execution-memory sweet spot). Its width scales with the SENTENCE
        # count (the committed sentences stage's lineage) as one explicit
        # repartition, which AQE never coalesces, so the floor is one task
        # wave (1000 docs, 4 cores: 0.58 s at two waves, 0.41 s at one);
        # every other stage keeps the session's aggregation-friendly settings.
        width = max(
            spark.sparkContext.defaultParallelism, p.results["sentences"].row_count // 50_000
        )
        sents = p.frames["sentences"].repartition(width, "doc_id", "sent_idx")
        # the dictionary's max-name-token scalar is left to link_mentions: a
        # one-row aggregate inside this stage, off canonical_map's path
        return mentions.link_mentions(sents, dictionary())

    def build_glof(p: CheckpointedPipeline) -> DataFrame:
        # GLOF track (server.py:1292-1334 + 1472-1523): GLOF term mentions,
        # overlap-subtracted against normal mentions, rolled into the
        # entity-GLOF evidence table that /query_ent_glof serves.
        gm = mentions.build_glof_mentions(
            p.frames["sentences"], fixtures.glof_dict_df(spark),
            max(len(t.split(" ")) for t in glof_terms),
        )
        return mentions.glof_evidence(mentions.subtract_glof_overlaps(p.frames["mentions"], gm))

    stages = [
        Stage(
            "source",
            lambda p: fixtures.ingest(
                source_df if source_df is not None else fixtures.source_table(spark, n_docs or 0, seed)
            ),
            config={"n_docs": n_docs, "seed": seed, "external": source_df is not None},
        ),
        Stage("canonical_map", lambda p: canonicalize.canonical_map(dictionary()), config={"seed": seed}),
        Stage("sentences", lambda p: mentions.split_sentences(p.frames["source"]), ("source",)),
        Stage("meta", lambda p: fixtures.meta_table(spark, p.frames["source"], seed), ("source",)),
        Stage("mentions", build_mentions, ("sentences",)),
        Stage("glof", build_glof, ("sentences", "mentions"), config={"terms": glof_terms}),
        # the committed sentences table is one row per (doc_id, sent_idx) by
        # construction, so its lineage row_count IS the distinct sentence
        # total — passing it removes a full distinct+count job over the
        # sentence table from this stage's critical path
        Stage("annotations", lambda p: extractors.extract_all(
            p.frames["mentions"], p.frames["sentences"],
            n_sentences=p.results["sentences"].row_count,
        ), ("sentences", "mentions")),
        Stage("triples", lambda p: materialize.dedup_triples(canonicalize.rewrite_triples(
            extractors.to_triples(p.frames["annotations"]), p.frames["canonical_map"]
        )), ("annotations", "canonical_map"), partition_by=("annotator",)),
        Stage("entity_postings", lambda p: materialize.build_entity_postings(
            p.frames["annotations"]
        ).repartition(spark.sparkContext.defaultParallelism, "type", "key"), ("annotations",)),
        Stage("pair_stats", lambda p: materialize.build_pair_stats(p.frames["triples"]), ("triples",)),
        Stage("chem_disease", lambda p: materialize.build_chem_disease(
            p.frames["triples"], entity_types()
        ), ("triples",)),
        Stage("cgd_paths", lambda p: materialize.build_cgd_paths(
            p.frames["triples"], entity_types()
        ), ("triples",)),
    ]
    if with_quality:
        from ..ops import textstats as textstats_ops

        stages.append(Stage(
            "doc_quality",
            lambda p: textstats_ops.document_quality(p.frames["source"], text_col="content"),
            ("source",),
            # published defaults; named in the fingerprint so a future
            # threshold change re-runs the stage instead of resuming
            config={"families": "gopher+pii+c4", "thresholds": "published-defaults"},
        ))
    if with_dedup:
        from ..ops import dedup as dedup_ops

        dedup_cfg = {
            "threshold": 0.7, "n_shingle": 3, "num_hashes": 8,
            "bands": 4, "max_bucket_size": 1024,
        }

        def build_dedup(p: CheckpointedPipeline) -> DataFrame:
            # xxhash64 (portable=False) is the lock-free scale path;
            # shingle/signature relations materialize ONCE under the
            # pipeline root so the candidate/verify branches re-scan
            # thin tables instead of recomputing the corpus pass
            return dedup_ops.near_duplicates_minhash(
                p.frames["source"],
                threshold=dedup_cfg["threshold"],
                id_col="doc_id",
                text_col="content",
                portable=False,
                work_dir=os.path.join(p.out_dir, "near_dup_work"),
                max_bucket_size=dedup_cfg["max_bucket_size"],
            )

        stages.append(Stage("near_dup_pairs", build_dedup, ("source",), config=dedup_cfg))
    if with_ann_index:
        from ..ops import similarity as sim_ops

        def embed(p: CheckpointedPipeline) -> DataFrame:
            return sim_ops.embed_text(
                p.frames["source"], text_col="content", id_col="doc_id",
                dim=ann_cfg["dim"], portable=False,
            )

        if str(with_ann_index).lower() != "ivf":
            ann_cfg = {"kind": "lsh", "dim": 16, "n_planes": 8}

            def build_ann(p: CheckpointedPipeline) -> DataFrame:
                sig = sim_ops.hyperplane_signature(
                    F.col("embedding"), ann_cfg["dim"], ann_cfg["n_planes"]
                )
                return embed(p).withColumn("_sig", sig)

            ann_part = "_sig"
        else:
            ann_cfg = {"kind": "ivf", "dim": 16, "n_centroids": 8, "n_iter": 4}

            def build_ann(p: CheckpointedPipeline) -> DataFrame:
                emb = embed(p)
                centroids = sim_ops.ivf_train(
                    emb, n_centroids=ann_cfg["n_centroids"], n_iter=ann_cfg["n_iter"],
                    id_col="doc_id",
                )
                # probe-side artifact, persisted beside the stage parquet: a
                # RESUMED stage skips build_ann, so the file written by the
                # original run is the contract
                p.fs.publish_text("ann_index_centroids.json", json.dumps(centroids))
                return sim_ops.ivf_assign(emb, centroids)

            ann_part = "_cent"

        # the partition column ("_sig" sign buckets / "_cent" inverted
        # lists) gives the stage parquet the exact partition-pruned layout
        # build_ann_index / ivf_build write: probe-set filters touch only
        # the probed buckets' directories. "kind" in the config makes
        # switching layouts a fingerprint change, so a resume never serves
        # one layout as the other.
        stages.append(Stage(
            "ann_index", build_ann, ("source",), config=ann_cfg, partition_by=(ann_part,)
        ))
    return stages


def run_kg_pipeline(
    spark: SparkSession,
    out_dir: str,
    n_docs: int | None = None,
    source_df: DataFrame | None = None,
    seed: int = fixtures.SEED,
    resume: bool = True,
    with_dedup: bool = False,
    with_ann_index: bool | str = False,
    with_quality: bool = False,
) -> dict[str, DataFrame]:
    """Full M0→M4 build. Returns the materialized DataFrames by name, and
    the pipeline (per-stage :class:`StageResult` records) as ``_pipeline``.

    ``out_dir`` is a plain path or a ``file://`` URI. Every stage starts as
    soon as its upstreams commit: ``source`` and ``canonical_map`` at once;
    ``sentences`` and ``meta`` (and the optional stages below) on the
    source; ``mentions`` on the sentences; ``glof`` and ``annotations`` on
    the mentions; ``triples`` and ``entity_postings`` on the annotations
    (plus ``canonical_map`` for triples); the rest on the triples.

    ``with_quality`` adds a ``doc_quality`` stage: the one-scan composed
    corpus-cleaning pass (``ops.textstats.document_quality`` — Gopher
    rules + PII scrub + C4 line cleaning, map-only) over the source
    corpus, materialized like every other stage.

    ``with_dedup`` adds a ``near_dup_pairs`` stage (MinHash+LSH over the
    source corpus, shingle/signature relations materialized under
    ``out_dir/near_dup_work``, hot buckets star-collapsed at 1024) and
    ``with_ann_index`` adds an ``ann_index`` stage over a deterministic
    text embedding: ``True``/``"lsh"`` writes the hyperplane-signature
    layout (parquet-PARTITIONED by ``_sig``, the build_ann_index shape);
    ``"ivf"`` trains the deterministic coarse quantizer, writes inverted
    lists PARTITIONED by ``_cent`` (the ivf_build shape) plus the
    centroid JSON (``out_dir/ann_index_centroids.json``) probes need.
    Both are OPTIONAL stages with the same fingerprint-resume contract as
    every other stage; they read only the completed source stage, so
    enabling them never changes the core tables' counts (round-4 VERDICT
    #7)."""
    pipe = CheckpointedPipeline(spark, out_dir, resume=resume)
    stages = kg_stages(spark, n_docs, source_df, seed, with_dedup, with_ann_index, with_quality)
    frames = pipe.run(stages)
    out: dict[str, DataFrame] = {s.name: frames[s.name] for s in stages}
    out["_pipeline"] = pipe  # type: ignore[assignment]
    return out
