"""End-to-end and per-layer benchmark of pubmedkb_web_spark.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``kg_build``: fresh ``run_kg_pipeline`` builds over a seeded corpus,
  then resumes over the completed root.
- ``kb_serve``: one client in a closed loop over a KB built from the
  fixture corpus: ``rel.run_rel`` with one or two entity specs,
  ``nen.fuzzy_names`` and the ``graph`` lookups on ``--seed`` entities.

Every run uses ``local[N]`` with N the CPUs this process may use, and a
fresh directory under ``.perfbench_run/`` for Python's and the JVM's temp
files and Spark's local dirs, so no index cache or spill survives from an
earlier run. Set-up (session start, input generation or KB load)
is timed as ``setup_s``; then whole operations run for ``--seconds`` (at
least one build, at least two serving cycles); then every output is
checked against an oracle. ``op_p50_ms`` is the median operation.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on spans
around each call into a layer, one Spark job group per span, the Spark
event log and the Python-UDF profiler, and prints the per-layer metrics;
the spans are written to ``.perfbench_out/``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it reports the workload's named metrics (``kg_build_s``,
``serve_p50_ms``, ...). The exit code is 1 when any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DOCS = 1000  # corpus size of both workloads


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """A quarter of the host's memory, between 2 and 8 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(2, min(8, kb // (4 * 1024 * 1024)))}g"


def isolate(run_dir: str) -> dict[str, str]:
    """Point every temp, spill and cache path of this run into ``run_dir``
    and let Python workers import the tree under test. Returns the session
    confs that carry the same paths into the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}",
    }


class Context:
    """What a workload needs: the session and tracer, its inputs, the
    clock of the timed window, the counters and the checks."""

    def __init__(self, args, run_dir: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.docs = args.docs
        self.run_dir = run_dir
        self.root = ROOT
        # per-checkout cache of built inputs that outlive one run
        self.cache_dir = os.path.join(ROOT, ".bench_build", "perfbench")
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.ops: list[float] = []
        self.report: dict[str, float] = {}
        self.setup_s = 0.0
        self.setup_parts: dict[str, float] = {}
        self.detail: dict = {}  # extra figures for the report line
        self._t_setup = 0.0
        self._t_timed = 0.0
        self.timed_wall = 0.0
        # traced runs only
        self.pipeline: tuple[dict, float, float] | None = None
        self.layer_spans: dict = {}
        self.traced_requests: list = []
        self._oracle = None

    def start_session(self, trace: bool, confs: dict[str, str]) -> None:
        from pubmedkb_web_spark.session import build_session
        from bench_trace import Tracer

        if trace:
            log_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(log_dir)
            confs = {
                **confs,
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        n = cores()
        self._t_setup = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.workload}", master=f"local[{n}]", cores=n,
            shuffle_partitions=n, driver_memory=driver_heap(), extra_conf=confs,
        )
        self.tracer = Tracer(self.spark, trace)
        self.setup_parts["session"] = time.perf_counter() - self._t_setup

    def start_oracle(self, fn, *args) -> None:
        """Compute a pure-Python oracle on a side thread during set-up."""
        pool = ThreadPoolExecutor(max_workers=1)
        self._oracle = pool.submit(fn, *args)
        pool.shutdown(wait=False)

    def oracle_counts(self):
        return self._oracle.result()

    @contextmanager
    def part(self, name: str):
        """Time one named part of set-up, for the report."""
        t0 = time.perf_counter()
        yield
        self.setup_parts[name] = time.perf_counter() - t0

    @contextmanager
    def setup(self):
        yield
        self._t_timed = time.perf_counter()
        self.setup_s = self._t_timed - self._t_setup
        if self.tracer.enabled:  # profile Python UDFs from the timed phase on
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    def op_done(self, seconds: float, n: int = 1) -> None:
        """One timed operation of ``n`` requests took ``seconds``."""
        self.attempted += n
        self.ops.append(seconds)

    def timed_out(self) -> bool:
        return time.perf_counter() - self._t_timed >= self.seconds

    def end_timed(self) -> None:
        self.timed_wall = time.perf_counter() - self._t_timed

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def end_to_end(self) -> dict[str, float]:
        return {"setup_s": self.setup_s, "op_p50_ms": statistics.median(self.ops) * 1e3}

    def trace_layers(self, seed: int, built=None, kb=None) -> None:
        """The traced epilogue both workloads share, after the timed phase:
        the stage times of a fresh build and its resume, the replay of each
        pipeline unit, a traced cycle of the serving mix (unless the timed
        phase traced one) and one call into each operator layer.

        ``seed`` is the corpus seed of the KB. ``built`` is (root, tables,
        build seconds, resume seconds) of a build the workload made; without
        it a fresh build of the ``seed`` corpus is made here. ``kb`` is the
        workload's ``bench_serve.KB``, if it has one."""
        import bench_layers
        import bench_serve
        from bench_kg import build, replay_units, stage_seconds

        if built is None:
            root = os.path.join(self.run_dir, "kb")
            with self.tracer.span("runner.run_kg_pipeline"):
                tables, build_s = build(self.spark, root, seed, n_docs=self.docs)
            with self.tracer.span("runner.resume"):
                _tables, resume_s = build(self.spark, root, seed, n_docs=self.docs, resume=True)
        else:
            root, tables, build_s, resume_s = built
        self.pipeline = (stage_seconds(tables), build_s, resume_s)
        self.layer_spans.update(replay_units(self.spark, root, seed, self.tracer))
        if kb is None:
            kb = bench_serve.KB(self.spark, root, seed)
        if not self.traced_requests:
            inp = bench_serve.Inputs(root, seed)
            for req in bench_serve.plan_requests(self.seed, inp):
                out = bench_serve.execute_traced(kb, req, self.tracer)
                err = bench_serve.check(req, out["response"], inp)
                self.attempted += 1
                self.check(err is None, f"traced {req.rid}: {err}")
                self.traced_requests.append((req, out))
        self.layer_spans.update(bench_layers.probe_operators(self, root, kb))


def stop_spark(spark) -> None:
    """Stop the session and the JVM it started, and wait for the JVM; the
    next session starts a JVM of its own."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms"}


def named_report(ctx) -> dict[str, dict]:
    """The workload's named end-to-end metrics, with units."""
    r = {"setup_s": metric(ctx.setup_s, "s")}
    if ctx.workload == "kg_build":
        r["kg_build_s"] = metric(ctx.report["kg_build_s"], "s")
        r["kg_resume_s"] = metric(ctx.report["kg_resume_s"], "s")
    else:
        ops = sorted(t for ts in ctx.detail["request_ms"].values() for t in ts)
        r["serve_qps"] = metric(len(ops) / ctx.timed_wall, "ops/s")
        r["serve_p50_ms"] = metric(statistics.median(ops), "ms")
        # p90 only with at least ten samples above it
        p90 = statistics.quantiles(ops, n=10)[-1] if len(ops) >= 100 else None
        r["serve_p90_ms"] = metric(p90, "ms")
        for k in ("rel_single", "rel_pair", "nen", "graph"):
            r[f"{k}_p50_ms"] = metric(ctx.report[f"{k}_p50_ms"], "ms")
    r["failed_ratio"] = metric(ctx.failed / max(1, ctx.attempted), "ratio")
    return r


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("kg_build", "kb_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=DOCS, help="corpus size (documents)")
    args = ap.parse_args(argv)

    # the tree under test: import it before any JVM starts, so a checkout
    # without it fails at once
    sys.path[:0] = [ROOT, HERE]
    import bench_kg
    import bench_layers
    import bench_serve
    from tests import oracle

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    ctx = Context(args, run_dir)
    try:
        confs = isolate(run_dir)
        if args.workload == "kg_build":
            ctx.start_oracle(oracle.pipeline_annotator_counts, args.docs, args.seed)
        if args.workload == "kb_serve" and not os.path.exists(bench_serve.kb_root(ctx)):
            # once per checkout and code version, before set-up is timed and
            # in a JVM of its own, so every run serves from a cold JVM
            ctx.start_session(False, confs)
            try:
                bench_serve.build_kb(ctx.spark, bench_serve.kb_root(ctx), args.docs)
            finally:
                stop_spark(ctx.spark)
        ctx.start_session(bool(args.trace), confs)
        try:
            (bench_kg if args.workload == "kg_build" else bench_serve).run(ctx)
        finally:
            stop_spark(ctx.spark)
        if args.trace:
            (log,) = os.listdir(os.path.join(run_dir, "eventlog"))
            layers = bench_layers.assemble(ctx, os.path.join(run_dir, "eventlog", log))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for e in ctx.errors:
        print("CHECK FAILED:", e, file=sys.stderr)
    if args.trace:
        units = bench_layers.metric_units()
        metrics = {k: metric(layers[k], u) for k, u in units.items()}
    else:
        metrics = {k: metric(v, E2E_UNITS[k]) for k, v in ctx.end_to_end().items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cores": cores(),
                      "setup_parts_s": ctx.setup_parts, "named": named_report(ctx), **ctx.detail}))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0 if ctx.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
