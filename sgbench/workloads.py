"""The sgbench workloads: ``serve`` and ``nrt``.

Both run the same operations on the same kind of seeded inputs: set-up
(Spark, a copy of the cached base index, engine open, warm-up requests),
a timed closed-loop request stream and one maintenance cycle (layered add,
delete, reopen, the query that must show both). They differ in when the
request stream runs: ``serve`` sends it to the warm engine over the merged
index, ``nrt`` to the engine reopened inside the cycle, over a layered
segment and tombstones. So every metric is measured on both, and the query
metrics compare the two index states. A traced run
then also re-adds deleted identities and runs ``refresh_index``: too slow
for the untraced runs' budget (README.md, "Run budget").

Load model: one process, one client in a closed loop -- each request is
issued after the previous one returned, which is how the in-process serving
API is called. Spark runs as ``local[N]`` with N the usable cores. The
benchmark adds no threads or connections of its own.

Every result is checked against ``oracle.Bm25Oracle`` after the timed
region; the oracle is never computed inside it.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd

from . import inputs as gen
from .measure import PeakRss, descendants, median, tail
from .oracle import Bm25Oracle, compare, doc_ids
from .tracing import Tracer, duration, event_log_conf, jobs_within, parse_event_log, self_times

WORKLOADS = ("serve", "nrt")
K = 10
# the freshness query asks for more rows than match it (the marker doc and
# the victim-token docs that were not deleted), so its answer must hold
# the marker whatever the scores
FRESH_K = 2 * gen.SIZES.base_docs // gen.SIZES.victim_stride
N_SHARDS = 16  # build fan-out over a few thousand docs

END_TO_END = {  # metric -> unit, every workload (untraced runs)
    "query_p50_ms": "ms",
    "batch_ms_per_query": "ms",
    "freshness_s": "s",
    "index_bytes_per_source_byte": "ratio",
    "setup_s": "s",
}

PER_LAYER = {  # metric -> unit, every workload (traced runs)
    "analyzer.tokenize_us": "us",
    "query.engine.open_ms": "ms",
    "query.engine.first_query_ms": "ms",
    "query.engine.dict_lookup_ms": "ms",
    "query.engine.dict_lookup_jobs": "count",
    "query.engine.plan_ms": "ms",
    "query.engine.exec_ms": "ms",
    "query.engine.topk_widen": "count",
    "query.common.tombstones": "count",
    "query.wand.kernel_ms": "ms",
    "query.wand.batch_kernel_ms": "ms",
    "query.wand.blocks_read": "count",
    "query.wand.postings_read": "count",
    "query.wand.bytes_read": "B",
    "session.jobs_per_query": "count",
    "session.stages_per_query": "count",
    "session.tasks_per_query": "count",
    "session.scan_ms": "ms",
    "session.arrow_hop_ms": "ms",
    "session.blocks_cache_mb": "MB",
    "session.peak_rss_mb": "MB",
    "trace.overhead_ms": "ms",
    "index.build.stage_a_s": "s",
    "index.build.layered_segment_s": "s",
    "index.build.corpus_stats_s": "s",
    "index.build.segment_dictionary_s": "s",
    "index.build.ledger_appends": "count",
    "index.build.ledger_s": "s",
    "index.build.delete_s": "s",
    "index.build.refresh_s": "s",
    "index.build.refresh_stats_s": "s",
    "index.build.refresh_stage_b_s": "s",
    "index.build.refresh_dictionary_s": "s",
    "index.build.docs_tokenized": "count",
    "index.build.postings_emitted": "count",
    "index.build.blocks_written": "count",
    "index.varint.gap_bytes_per_posting": "B/posting",
    "index.varint.tf_bytes_per_posting": "B/posting",
    "index.varint.dl_bytes_per_posting": "B/posting",
    "session.maint_spark_jobs": "count",
    "session.maint_shuffle_write_mb": "MB",
    "session.maint_executor_cpu_s": "s",
    "session.maint_gc_s": "s",
    "session.maint_slot_utilization": "ratio",
}


class Outcome:
    """Operation counts and check failures for one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.unexpected: list[str] = []  # failures that make the run incorrect
        self.known: list[str] = []  # failures the known re-add defect predicts

    def op(self, what: str, err: str | None, known: bool = False) -> None:
        self.attempted += 1
        if err is None:
            return
        self.failed += 1
        (self.known if known else self.unexpected).append(f"{what}: {err}")


class Ctx:
    """One run: its settings, outcome, metrics and (traced) spans."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, root: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.root = root
        self.state = os.path.join(root, ".sgbench")
        self.work = os.path.join(self.state, f"work-{workload}-{seed}-{os.getpid()}")
        self.out = Outcome()
        self.rss = PeakRss()
        self.tracer = Tracer() if trace else None
        self.spark = None
        self.metrics: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        self.per_layer: dict[str, float] = {}
        self.maint_windows: list[tuple[float, float]] = []  # wall clock of the maintenance calls
        self.t0 = time.time()

    def log(self, msg: str) -> None:
        """Progress on standard error: seconds since the run started."""
        print(f"[sgbench {self.workload} +{time.time() - self.t0:6.1f}s] {msg}", file=sys.stderr, flush=True)

    def span(self, name: str, on: bool = True):
        if self.tracer is None or not on:
            return contextlib.nullcontext()
        return self.tracer.span(name)


# ------------------------------------------------------------------ spark


def start_spark(ctx: Ctx):
    """The program's own session factory at ``local[<usable cores>]``, with
    temporary and spill files kept inside the work directory."""
    from data_prepper_spark.session import get_spark

    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ctx.root, os.environ.get("PYTHONPATH")) if p
    )
    conf = {"spark.local.dir": tmp, "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    if ctx.trace:
        conf.update(event_log_conf(os.path.join(ctx.work, "eventlog")))
    ctx.spark = get_spark("sgbench", cores=len(os.sched_getaffinity(0)), extra_conf=conf)
    return ctx.spark


def stop_spark(ctx: Ctx) -> None:
    """Stop the session, end the gateway JVM and wait until it and every
    process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    if ctx.spark is None:
        return
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = descendants()
    ctx.spark.stop()
    ctx.spark = None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in tree + descendants()):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """True while a process runs; an exited child not yet reaped (zombie)
    counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith("."):  # skip the local filesystem's .crc files
                total += os.path.getsize(os.path.join(d, f))
    return total


def row_tuples(rows) -> list[tuple[int, int, float]]:
    return [(int(r["rank"]), int(r["doc_id"]), float(r["score"])) for r in rows]


def with_ids(df: pd.DataFrame, first_rk: int = 0) -> pd.DataFrame:
    return df.assign(rk=np.arange(first_rk, first_rk + len(df)), doc_id=doc_ids(df))


# ------------------------------------------------------------------ tracing


def install_wraps(tracer: Tracer) -> None:
    """Spans around the index.build and query.engine functions the
    per-layer report names, and miss counters on the dictionary lookup."""
    from data_prepper_spark.index import build as build_mod
    from data_prepper_spark.query import engine as engine_mod

    for attr in (
        "build_index",
        "add_to_index",
        "refresh_index",
        "delete_docs",
        "_run_stage_a",
        "_write_corpus_stats",
        "_run_stage_b",
        "_write_dictionary",
        "_ledger_append",
        "_layered_segment",
        "_write_segment_dictionary",
        "_tombstone_totals",
        "_ledger_stats",
    ):
        tracer.wrap(build_mod, attr, f"index.build.{attr}")

    def count_lookup(engine, terms):
        # kept per request kind: the request id's prefix
        kind = (tracer.request or "").split("-")[0]
        missing = [t for t in terms if t not in engine._dict_cache]
        tracer.count(f"dict.{kind}.terms", len(terms))
        tracer.count(f"dict.{kind}.misses", len(missing))
        tracer.count(f"dict.{kind}.jobs", 1 if missing else 0)

    E = engine_mod.IndexQueryEngine
    tracer.wrap(E, "__init__", "query.engine.open")
    tracer.wrap(E, "_term_stats", "query.engine.term_stats", before=count_lookup)
    tracer.wrap(E, "_topk_df", "query.engine.plan")
    tracer.wrap(E, "topk_batch", "query.engine.batch_plan")
    tracer.wrap(engine_mod, "tokenize_py", "analyzer.tokenize")


class JobCounter:
    """Spark jobs, stages and tasks of one request, through a job group
    set before it and the status tracker read after it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    def start(self) -> str:
        self.n += 1
        gid = f"sgbench-request-{self.n}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def counts(self, gid: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                stages += 1
                sinfo = st.getStageInfo(s)
                tasks += sinfo.numTasks if sinfo else 0
        self.sc.setJobGroup("sgbench-probe", "probe")
        return len(jobs), stages, tasks


def _hstats(engine, text: str) -> dict[int, dict]:
    from data_prepper_spark.analyzer import tokenize_py

    return {s["hash"]: s for s in engine._term_stats(sorted(set(tokenize_py(text)))).values()}


def probe_single(engine, text: str) -> dict[str, float]:
    """Out-of-request probes over one query's cached blocks: a count() scan,
    a no-op Arrow hop, and the shard kernels replayed in-process."""
    from pyspark.sql import functions as F

    from data_prepper_spark.query.wand import _wand_shard

    hstats = _hstats(engine, text)
    if not hstats:
        return {}
    blocks = engine.blocks.where(F.col("term_hash").isin(list(hstats)))
    out: dict[str, float] = {}
    t = time.perf_counter()
    blocks.count()
    out["session.scan_ms"] = (time.perf_counter() - t) * 1e3

    def noop(it):
        for pdf in it:
            yield pdf.iloc[:0][["shard"]]

    t = time.perf_counter()
    blocks.mapInPandas(noop, "shard int").collect()
    out["session.arrow_hop_ms"] = (time.perf_counter() - t) * 1e3
    pdf = blocks.toPandas()
    n = K + engine._n_tombstones
    kernel = 0.0
    for _, grp in pdf.groupby("shard"):
        t = time.perf_counter()
        _wand_shard(grp, hstats, engine.avgdl, n, engine._thr, engine._bounds)
        kernel += time.perf_counter() - t
    out["query.wand.kernel_ms"] = kernel * 1e3
    out["query.wand.blocks_read"] = float(len(pdf))
    out["query.wand.postings_read"] = float(pdf["n_docs"].sum())
    out["query.wand.bytes_read"] = float(
        sum(pdf[c].map(len).sum() for c in ("doc_gaps", "tfs", "dls"))
    )
    return out


def probe_batch(engine, queries: dict[str, str]) -> float:
    """In-process replay of one batch request's shard kernels, in ms."""
    from pyspark.sql import functions as F

    from data_prepper_spark.query.wand import _wand_shard, batch_exhaustive_shard

    per_q = {qid: _hstats(engine, text) for qid, text in queries.items()}
    hashes = sorted({h for hs in per_q.values() for h in hs})
    if not hashes:
        return 0.0
    pdf = engine.blocks.where(F.col("term_hash").isin(hashes)).toPandas()
    n = K + engine._n_tombstones
    t = time.perf_counter()
    for _, shard_df in pdf.groupby("shard"):
        if int(shard_df["n_docs"].sum()) <= engine._thr:
            batch_exhaustive_shard(shard_df, per_q, engine.avgdl, n)
            continue
        for hstats in per_q.values():
            sub = shard_df[shard_df["term_hash"].isin(list(hstats))]
            if len(sub):
                _wand_shard(sub, hstats, engine.avgdl, n, engine._thr, engine._bounds)
    return (time.perf_counter() - t) * 1e3


def blocks_cache_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 1e6


def dict_metrics(tracer: Tracer, kind: str) -> dict[str, float]:
    """Dictionary lookups made by the (one) request of a kind."""
    lookups = [
        tracer.spans[i]
        for i in tracer.named("query.engine.term_stats")
        if (tracer.spans[i]["request"] or "").split("-")[0] == kind
    ]
    c = tracer.counts
    return {
        "query.engine.dict_lookup_ms": sum(duration(s) for s in lookups) * 1e3,
        "query.engine.dict_lookup_jobs": c[f"dict.{kind}.jobs"],
    }


def warm_dictionary(engine, inp: gen.Inputs) -> None:
    """A warm engine knows its query terms: planning one query that holds
    every term of the stream (never collected) fills the dictionary cache
    with a single lookup."""
    reqs = inp.warmup + inp.requests
    texts = {t for r in reqs for t in r.get("queries", {"": r.get("query")}).values()}
    engine.topk(" ".join(sorted(texts)), K)


# ------------------------------------------------------------------ the run


def program_digest(root: str) -> str:
    """Short hash of the program's sources: a cached index is reused only
    by the code that built it."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "data_prepper_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def base_index(ctx: Ctx, spark, inp: gen.Inputs) -> str:
    """The merged index of the base corpus, built on the first run in a
    checkout and reused: the base does not depend on the seed, and a
    cold-JVM build costs more than half of a run's budget (README.md,
    "Run budget"). Runs copy it and never write to it."""
    from data_prepper_spark.index import build as build_mod

    sz = gen.SIZES
    key = (
        f"base-{sz.base_docs}-{sz.victim_stride}-{gen.BASE_OFFSET}-{N_SHARDS}"
        f"-{program_digest(ctx.root)}"
    )
    cache = os.path.join(ctx.state, "cache", key)
    idx = os.path.join(cache, "index")
    if os.path.isdir(idx):
        return idx
    tmp = os.path.join(ctx.work, "build")
    dirs = gen.write_inputs(inp, os.path.join(tmp, "inputs"), ("base",))
    build_mod.build_index(
        spark, dirs["base"], os.path.join(tmp, "index"),
        n_shards=N_SHARDS, units=1, shard_groups=1, resume=False,
    )
    os.makedirs(cache, exist_ok=True)
    try:
        os.rename(os.path.join(tmp, "index"), idx)  # atomic publish
    except OSError:
        if not os.path.isdir(idx):  # lost a race to another run: theirs is equal
            raise
    return idx


def do_request(ctx: Ctx, spark, engine, idx: str, req: dict, on: bool):
    """Send one serving request; (rows, error, wall ms)."""
    from data_prepper_spark.query import dsl

    kind = req["kind"]
    rows, err = None, None
    t = time.perf_counter()
    try:
        with ctx.span(f"request.{kind}", on):
            if kind == "single":
                rows = engine.topk_rows(req["query"], req.get("k", K))
            elif kind == "batch":
                rows = engine.topk_batch(req["queries"], K).collect()
            else:
                rows = dsl.search(spark, idx, {"match": {"content": req["query"]}}, size=K).collect()
    except Exception as e:  # one failed operation; the client carries on
        err = f"{type(e).__name__}: {e}"
    ms = (time.perf_counter() - t) * 1e3
    ctx.rss.sample()
    return rows, err, ms


class Run:
    """What one run collects for the checks after the timed region: every
    result with the oracle state it must match, and the latencies."""

    def __init__(self) -> None:
        # (what, oracle state, request, rows or None, error or None)
        self.results: list[tuple[str, str, dict, list | None, str | None]] = []
        self.lat: dict[str, list[float]] = {kind: [] for kind in set(gen.ROUND)}
        self.layer: dict[str, list[float]] = {}
        self.traced_single: list[float] = []
        self.plain_single: list[float] = []


def request_stream(ctx: Ctx, run: Run, spark, engine, idx: str, inp: gen.Inputs, state: str) -> float:
    """The timed request stream, closed loop, for ``--seconds`` and at
    least ``MIN_ROUNDS`` rounds; returns the wall-clock start of the phase."""
    tracer = ctx.tracer
    counter = JobCounter(spark) if tracer is not None else None
    lat = run.lat
    t_run = time.time()
    for i, req in enumerate(inp.requests):
        if i >= gen.MIN_ROUNDS * len(gen.ROUND) and time.time() - t_run >= ctx.seconds:
            break
        kind = req["kind"]
        # traced runs alternate single requests with tracing on and off:
        # the difference of the two medians is the tracing overhead
        on = tracer is not None and not (kind == "single" and len(lat["single"]) % 2)
        gid = counter.start() if on and kind == "single" else None
        if tracer is not None:
            tracer.request, tracer.enabled = f"{kind}-{i}", on
        rows, err, ms = do_request(ctx, spark, engine, idx, req, on)
        run.results.append((kind, state, req, rows, err))
        if err is not None:
            continue
        lat[kind].append(ms / len(req["queries"]) if kind == "batch" else ms)
        if kind == "single" and tracer is not None:
            (run.traced_single if on else run.plain_single).append(ms)
        if on:  # probes run after the request, outside its span
            tracer.enabled = False
            if gid is not None:
                for name, v in zip(("jobs", "stages", "tasks"), counter.counts(gid)):
                    run.layer.setdefault(f"session.{name}_per_query", []).append(v)
                for name, v in probe_single(engine, req["query"]).items():
                    run.layer.setdefault(name, []).append(v)
            elif kind == "batch":
                run.layer.setdefault("query.wand.batch_kernel_ms", []).append(
                    probe_batch(engine, req["queries"])
                )
    if tracer is not None:
        tracer.enabled, tracer.request = True, "maint"
        run.layer["session.blocks_cache_mb"] = [blocks_cache_mb(spark)]
    ctx.rss.sample()
    ctx.log(f"{sum(len(v) for v in lat.values())} timed requests done")
    return t_run


def run_pipeline(ctx: Ctx, inp: gen.Inputs) -> None:
    """Set-up, then the same operations on both workloads; they differ in
    when the timed request stream runs: ``serve`` sends it to the warm
    engine over the merged base index, before the maintenance cycle;
    ``nrt`` sends it to the engine reopened inside the cycle, over a
    layered segment and tombstones. Both streams see a warm dictionary; the
    reopened engine's cold start is in the freshness query. A traced run
    goes on with the update and the refresh (``update_and_refresh``)."""
    from data_prepper_spark.index import build as build_mod
    from data_prepper_spark.query import engine as engine_mod

    tracer = ctx.tracer
    if tracer is not None:
        install_wraps(tracer)
        tracer.request = "setup"
    dirs = gen.write_inputs(inp, os.path.join(ctx.work, "inputs"), ("add", "readd"))
    idx = os.path.join(ctx.work, "index")
    run = Run()

    # ---- set-up: Spark, a copy of the base index, engine open and warm-up
    t_setup = time.time()
    spark = start_spark(ctx)
    shutil.copytree(base_index(ctx, spark, inp), idx)
    engine = engine_mod.IndexQueryEngine(spark, idx)
    if ctx.workload == "serve":
        warm_dictionary(engine, inp)
    # the DSL match of the warm-up is checked on traced runs only: the
    # untraced runs' budget has no room for it (README.md, "Run budget")
    for req in inp.warmup:
        if req["kind"] == "dsl_match" and tracer is None:
            continue
        rows, err, ms = do_request(ctx, spark, engine, idx, req, False)
        run.results.append((f"warm-up {req['kind']}", "base", req, rows, err))
        ctx.samples.setdefault("warmup_ms", []).append(round(ms, 1))
    ctx.metrics["setup_s"] = time.time() - t_setup
    ctx.log(f"set-up done in {ctx.metrics['setup_s']:.1f}s")

    nb, na = len(inp.base), len(inp.add)
    rows = pd.concat(
        [with_ids(inp.base), with_ids(inp.add, nb), with_ids(inp.readd, nb + na)],
        ignore_index=True,
    )
    victim_ids = [int(rows["doc_id"].iloc[v]) for v in inp.victims]
    marker_id = int(rows["doc_id"].iloc[nb])

    def timed(what: str, fn, maint: bool = True):
        t, w = time.perf_counter(), time.time()
        try:
            out, err = fn(), None
        except Exception as e:  # a failed operation, recorded; the run goes on
            out, err = None, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t
        if maint:
            ctx.maint_windows.append((w, time.time()))
        ctx.out.op(what, err)
        ctx.rss.sample()
        ctx.log(f"{what}: {dt:.1f}s")
        return out, dt

    if ctx.workload == "serve":
        t_serve = request_stream(ctx, run, spark, engine, idx, inp, "base")
    engine.close()

    # ---- the cycle: layered add, delete, reopen, query until both show
    t_cycle = time.perf_counter()
    timed("add_to_index", lambda: build_mod.add_to_index(
        spark, dirs["add"], idx, n_shards=N_SHARDS, remerge=False))
    add_window = ctx.maint_windows[-1]
    timed("delete_docs", lambda: build_mod.delete_docs(spark, idx, victim_ids))
    if tracer is not None:
        tracer.request = "fresh"
    engine, open_s = timed("open", lambda: engine_mod.IndexQueryEngine(spark, idx), maint=False)
    if engine is None:
        raise RuntimeError("engine open failed: " + "; ".join(ctx.out.unexpected))
    fresh_q = f"{gen.MARKER} {gen.VICTIM}"
    req = {"kind": "single", "query": fresh_q, "k": FRESH_K}
    got, err, fresh_ms = do_request(ctx, spark, engine, idx, req, False)
    ctx.metrics["freshness_s"] = time.perf_counter() - t_cycle
    run.results.append(("fresh", "pre", req, got, err))
    if tracer is not None:
        ctx.per_layer.update(
            {
                "query.engine.topk_widen": float(K + engine._n_tombstones),
                "query.common.tombstones": float(engine._n_tombstones),
                "query.engine.open_ms": open_s * 1e3,
                "query.engine.first_query_ms": fresh_ms,
            }
        )
        ctx.per_layer.update(dict_metrics(tracer, "fresh"))
        tracer.request = "maint"
    if ctx.workload == "nrt":
        # the cold start of the reopened engine is the freshness query's;
        # the stream measures the layered, tombstoned index warm, as on
        # serve: dictionary filled, one batch sent to the new engine
        warm_dictionary(engine, inp)
        req = next(r for r in inp.warmup if r["kind"] == "batch")
        batch_rows, err, _ = do_request(ctx, spark, engine, idx, req, False)
        run.results.append(("warm-up batch (reopened)", "pre", req, batch_rows, err))
        t_serve = request_stream(ctx, run, spark, engine, idx, inp, "pre")
    engine.close()

    src_bytes = int(rows["content"][: nb + na].map(lambda s: len(s.encode("utf-8"))).sum())
    ctx.metrics["index_bytes_per_source_byte"] = dir_bytes(idx) / src_bytes
    post = update_and_refresh(ctx, spark, idx, dirs, inp, timed) if tracer is not None else None

    lat = run.lat
    ctx.metrics.update(
        {
            "query_p50_ms": median(lat["single"]),
            "batch_ms_per_query": median(lat["batch"]),
        }
    )
    ctx.samples.update({kind: len(v) for kind, v in lat.items()})
    ctx.samples["latencies_ms"] = {kind: [round(x, 1) for x in v] for kind, v in lat.items()}
    # (percentile, ms) of the highest tail with ten samples beyond it, if any
    ctx.samples["single_tail"] = tail(lat["single"])

    if tracer is not None:
        selfs = self_times(tracer.spans)

        def med_self(name):
            return median([selfs[j] for j in tracer.named(name, t0=t_serve)]) * 1e3

        pl = {
            "analyzer.tokenize_us": median(
                [duration(tracer.spans[j]) for j in tracer.named("analyzer.tokenize", t0=t_serve)]
            ) * 1e6,
            "query.engine.plan_ms": med_self("query.engine.plan"),
            "query.engine.exec_ms": med_self("request.single"),
            "trace.overhead_ms": median(run.traced_single) - median(run.plain_single),
        }
        pl.update({name: median(v) for name, v in run.layer.items()})
        pl.update(maint_layers(tracer, idx, add_window, post[3]))
        ctx.per_layer.update(pl)

    # ---- outside the timed region: oracle states and checks
    base = set(range(nb))
    base_add = set(range(nb + na))
    victims = set(inp.victims)
    oracle = Bm25Oracle(rows)
    oracle.add_state("base", base, base)
    # before the refresh: statistics count every indexed doc, results drop victims
    oracle.add_state("pre", base_add, base_add - victims)
    check_results(ctx, oracle, run.results, set(victim_ids), marker_id)
    if post is not None:
        check_post(ctx, oracle, post, base_add - victims, set(range(nb + na, len(rows))))
    oracle.close()
    ctx.log("checks done")


def update_and_refresh(ctx: Ctx, spark, idx: str, dirs: dict, inp: gen.Inputs, timed):
    """The update (a layered re-add of deleted identities), ``refresh_index``
    and one filtered DSL search (bool must match + term lang filter) whose
    answer must include a re-added identity. Returns (query, lang, rows or
    error, refresh start)."""
    from data_prepper_spark.index import build as build_mod
    from data_prepper_spark.query import dsl

    timed("add_to_index (re-add)", lambda: build_mod.add_to_index(
        spark, dirs["readd"], idx, n_shards=N_SHARDS, remerge=False))
    t_refresh = time.time()
    _, ctx.per_layer["index.build.refresh_s"] = timed(
        "refresh_index", lambda: build_mod.refresh_index(spark, idx)
    )
    q = f"{gen.UPDATE} {inp.nrt_queries[0]}"
    lang = str(inp.readd["lang"].iloc[0])
    body = {"bool": {"must": [{"match": {"content": q}}], "filter": [{"term": {"lang": lang}}]}}
    try:
        got = row_tuples(dsl.search(spark, idx, body, size=K).collect())
    except Exception as e:  # a failed operation, recorded with the checks
        got = f"{type(e).__name__}: {e}"
    ctx.rss.sample()
    return q, lang, got, t_refresh


def check_post(ctx: Ctx, oracle: Bm25Oracle, post, live_before: set[int], readd: set[int]) -> None:
    """The search after the refresh, under Lucene update semantics (the
    re-added identities are live). A mismatch that equals what the known
    defect predicts -- the re-added identities still hidden -- is a
    counted, expected failure."""
    q, lang, got, _ = post
    live = live_before | readd
    oracle.add_state("post", live, live)
    oracle.add_state("post_defect", live_before, live_before)
    err = got if isinstance(got, str) else compare(got, oracle.topk("post", q, K, lang), K)
    known = (
        err is not None
        and not isinstance(got, str)
        and compare(got, oracle.topk("post_defect", q, K, lang), K) is None
    )
    if known:
        err = f"re-added identity still tombstoned ({err})"
    ctx.out.op(f"query after refresh {q!r}", err, known)


def check_results(ctx: Ctx, oracle: Bm25Oracle, results, dead: set[int], marker_id: int) -> None:
    """Every request's result against its oracle state; batch results also
    rank-identical to ``topk_rows`` for texts sent both ways."""
    single_rows: dict[tuple[str, str], list] = {}
    for _, state, req, rows, err in results:
        if req["kind"] == "single" and "k" not in req and err is None:
            single_rows.setdefault((state, req["query"]), row_tuples(rows))
    for what, state, req, rows, err in results:
        if err is None and req["kind"] == "batch":
            err = check_batch(oracle, state, req["queries"], rows, single_rows)
        elif err is None:
            got = row_tuples(rows)
            if state != "base" and any(d in dead for _, d, _ in got):
                err = "deleted doc returned"
            elif what == "fresh" and marker_id not in {d for _, d, _ in got}:
                err = "marker doc not found"
            else:
                k = req.get("k", K)
                err = compare(got, oracle.topk(state, req["query"], k), k)
            err = err and f"{req['query']!r}: {err}"
        ctx.out.op(what, err)


def check_batch(oracle, state: str, queries: dict[str, str], rows, single_rows) -> str | None:
    """Every query of a batch against the oracle, and rank-identical to
    ``topk_rows`` for texts this run also sent as single requests."""
    by_q: dict[str, list] = {qid: [] for qid in queries}
    for r in rows:
        by_q[r["query_id"]].append((int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    for qid, text in queries.items():
        err = compare(by_q[qid], oracle.topk(state, text, K), K)
        single = single_rows.get((state, text))
        if err is None and single is not None:
            err = compare(by_q[qid], [(d, s) for _, d, s in sorted(single)], K)
            err = err and f"differs from topk_rows: {err}"
        if err is not None:
            return f"{qid} {text!r}: {err}"
    return None


def maint_layers(tracer: Tracer, idx: str, add: tuple[float, float], t_refresh: float) -> dict[str, float]:
    """Per-layer figures of the maintenance calls: the cycle's layered add
    (wall-clock window ``add``; the re-add runs the same calls later) and
    delete, the refresh, ledger counts and bytes per posting of each block
    buffer of the refreshed index."""
    import pyarrow.parquet as pq

    from data_prepper_spark.tableio import TableIO

    ref, seg = "index.build.refresh_index", "index.build._layered_segment"
    appends = tracer.named("index.build._ledger_append", t0=add[0], t1=add[1])
    out = {
        f"index.build.{metric}": tracer.total(f"index.build.{fn}", parent, *add)
        for metric, fn, parent in (
            ("stage_a_s", "_run_stage_a", "index.build.add_to_index"),
            ("layered_segment_s", "_layered_segment", "index.build.add_to_index"),
            ("corpus_stats_s", "_write_corpus_stats", seg),
            ("segment_dictionary_s", "_write_segment_dictionary", seg),
        )
    }
    out.update(
        {
            "index.build.ledger_appends": float(len(appends)),
            "index.build.ledger_s": sum(duration(tracer.spans[i]) for i in appends),
            "index.build.delete_s": tracer.total("index.build.delete_docs", t0=add[0]),
            "index.build.refresh_stats_s": sum(
                tracer.total(f"index.build.{fn}", ref, t_refresh)
                for fn in ("_tombstone_totals", "_ledger_stats", "_write_corpus_stats")
            ),
            "index.build.refresh_stage_b_s": tracer.total("index.build._run_stage_b", ref, t_refresh),
            "index.build.refresh_dictionary_s": tracer.total(
                "index.build._write_dictionary", ref, t_refresh
            ),
        }
    )
    io = TableIO(idx)
    ledger = pq.read_table(io.path("build_ledger")).to_pylist()
    for col in ("docs_tokenized", "postings_emitted", "blocks_written"):
        out[f"index.build.{col}"] = float(sum(int(r[col] or 0) for r in ledger))
    blocks = pq.read_table(
        io.rpath("posting_blocks"), columns=["n_docs", "doc_gaps", "tfs", "dls"]
    ).to_pandas()
    postings = float(blocks["n_docs"].sum())
    for col, metric in (("doc_gaps", "gap"), ("tfs", "tf"), ("dls", "dl")):
        out[f"index.varint.{metric}_bytes_per_posting"] = blocks[col].map(len).sum() / postings
    return out


def session_maint_layers(eventlog_dir: str, windows: list[tuple[float, float]], cores: int) -> dict[str, float]:
    """Spark task metrics summed over the jobs submitted during the
    maintenance calls (layered adds, delete, refresh)."""
    all_jobs = parse_event_log(eventlog_dir)
    jobs = [j for w in windows for j in jobs_within(all_jobs, *w)]
    wall_ms = sum(b - a for a, b in windows) * 1e3
    return {
        "session.maint_spark_jobs": float(len(jobs)),
        "session.maint_shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in jobs) / 1e6,
        "session.maint_executor_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "session.maint_gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "session.maint_slot_utilization": sum(j["run_ms"] for j in jobs) / (wall_ms * cores),
    }


def run(workload: str, seed: int, seconds: float, trace: bool, root: str) -> Ctx:
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    ctx = Ctx(workload, seed, seconds, trace, root)
    inp = gen.make_inputs(workload, seed)
    shutil.rmtree(ctx.work, ignore_errors=True)
    try:
        try:
            run_pipeline(ctx, inp)
        finally:
            if ctx.tracer is not None:
                ctx.tracer.restore()
            stop_spark(ctx)
        ctx.log("spark stopped")
        ctx.samples["peak_rss_mb"] = round(ctx.rss.peak, 1)
        if ctx.tracer is not None:
            ctx.per_layer["session.peak_rss_mb"] = ctx.rss.peak
            ctx.per_layer.update(
                session_maint_layers(
                    os.path.join(ctx.work, "eventlog"), ctx.maint_windows,
                    len(os.sched_getaffinity(0)),
                )
            )
            ctx.tracer.dump(
                os.path.join(ctx.state, f"trace-{workload}-seed{seed}.json"),
                {"per_layer": ctx.per_layer, "end_to_end_traced": ctx.metrics},
            )
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)
    return ctx
