"""The workloads, driven through the library's public functions.

Each ``measure_*`` runs its loop for the requested seconds, checks every
operation's outputs, and returns the samples its end-to-end metrics are
computed from. ``tracer`` is ``None`` on timed runs; on the traced run
it receives spans around each layer call.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import threading
import time
import traceback
from datetime import datetime

from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.operators.dedup import (
    minhash_lsh_candidates,
    substring_dup_pairs,
)
from logstash_integration_jdbc_spark.pipeline import (
    PipelineConfig,
    build_lookups,
    run_pipeline,
)
from logstash_integration_jdbc_spark.session import get_spark

import checks
import inputs
from stats import due_offsets
from trace import instrument_pipeline

clock = time.perf_counter

# Every session is kept referenced until the process ends:
# pipeline's dimension memo keys on id(spark), and a collected session's
# id could be handed to the next one.
_SESSIONS: list = []
_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


class Bench:
    """Run directories and the Spark session of one benchmark process."""

    def __init__(self, root: str, cores: int) -> None:
        self.root = root
        self.cores = cores
        self.cache = os.path.join(root, ".perfbench", "cache")
        self.work = os.path.join(root, ".perfbench", "work")
        self.event_log: dict[str, str] = {}  # extra conf of the traced run
        self.spark = None

    def fresh(self, name: str) -> str:
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # the heap is left at the library's default, so resident memory
        # follows what the program uses
        return {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            **self.event_log,
        }

    def start(self, cores: int | None = None):
        """Stop the current session (if any) and start a new one; the
        first call launches the JVM."""
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", master=f"local[{cores or self.cores}]",
                               extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        _SESSIONS.append(self.spark)
        return self.spark

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the session and end the JVM, waiting until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits at end of input
            proc.wait(timeout=120)


def pipeline_cfg(data: str, out: str, transcripts=None, clean: bool = True) -> PipelineConfig:
    """Config over ``data``'s dimensions; the transcripts default to the
    base table."""
    return PipelineConfig(
        transcripts_path=transcripts or os.path.join(data, "base"),
        tool_dim_path=os.path.join(data, "tool_dim.parquet"),
        role_dim_path=os.path.join(data, "role_dim.parquet"),
        out_dir=out,
        checkpoint_path=os.path.join(out, "ckpt.json"),
        clean_run=clean,
    )


class Tally:
    """Operations attempted and failed; a failed output check is a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, what: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                log(f"CHECK FAILED {what}: {p}")
        return not problems

    def run(self, what: str, fn):
        """Run ``fn``; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception:
            self.record(what, [traceback.format_exc()])
            return None


# -- set-up -------------------------------------------------------------

def setup_pipeline(bench: Bench, data: str, tracer=None) -> dict[str, float]:
    """One set-up: session start and the load of both dimensions
    (``DimensionLoader.get`` through ``build_lookups``)."""
    span = tracer.span if tracer else _nospan
    t0 = clock()
    with span("session.start"):
        spark = bench.start()
    if tracer:
        tracer.sc = spark.sparkContext
    t1 = clock()
    with span("loader.dim_load"):
        build_lookups(spark, pipeline_cfg(data, bench.work))
    t2 = clock()
    return {"session.start_s": t1 - t0, "loader.dim_load_s": t2 - t1, "setup_s": t2 - t0}


def setup_near_dup(bench: Bench, tracer=None) -> dict[str, float]:
    """One set-up: session start."""
    span = tracer.span if tracer else _nospan
    t0 = clock()
    with span("session.start"):
        spark = bench.start()
    if tracer:
        tracer.sc = spark.sparkContext
    return {"session.start_s": clock() - t0, "setup_s": clock() - t0}


def warm_pipeline(bench: Bench, data: str, tracer=None) -> None:
    """Untimed warm pass: one clean run_pipeline over the delta files
    (a small table of their own, never published during it), so codegen
    and the JIT are warm before anything is timed."""
    span = tracer.span if tracer else _nospan
    with span("pipeline.warm"):
        run_pipeline(bench.spark, pipeline_cfg(
            data, bench.fresh("warm"), transcripts=os.path.join(data, "deltas")))


def warm_near_dup(bench: Bench, corpus: str, tracer=None) -> None:
    """Untimed warm pass of both operators over the corpus, so Python
    workers, codegen and the JIT are warm before anything is timed."""
    span = tracer.span if tracer else _nospan
    with span("dedup.warm"):
        near_dup_pass(bench.spark, corpus, bench.fresh("warm"))


@contextlib.contextmanager
def _nospan(name):
    yield None


# -- pipeline ----------------------------------------------------------------

def run_batch(tally: Tally, what: str, spark, cfg: PipelineConfig, tracer=None):
    """One ``run_pipeline`` call; when traced, inside a ``pipeline.batch``
    span with the layer wrappers in place. None if it raised."""
    if tracer is None:
        return tally.run(what, lambda: run_pipeline(spark, cfg))
    with tracer.span("pipeline.batch"), instrument_pipeline(tracer):
        return tally.run(what, lambda: run_pipeline(spark, cfg))


def _batch_record(tally: Tally, what: str, out: str, m, wall: float, oracle) -> dict | None:
    """Check a clean batch's outputs; its record if they are correct."""
    if m is None:
        return None
    problems = tally.run(f"{what} check", lambda: checks.batch_outputs(out, m, oracle))
    if problems is None or not tally.record(what, problems):
        return None
    return {"wall": wall, "rows": m["stages"]["scan"]["rows"], "metrics": m,
            "sink_files": checks.output_files(out, subdirs=("sinks",)),
            "files": checks.output_files(out)}


def clean_batches(bench: Bench, data: str, n: int, tally: Tally, oracle, tracer=None) -> list[dict]:
    """``n`` clean batches over the base table, each into a scratch
    directory; one checked record per correct batch."""
    done = []
    for i in range(n):
        out = bench.fresh("batch")
        if tracer:
            tracer.batch = i
        t0 = clock()
        m = run_batch(tally, "clean batch", bench.spark, pipeline_cfg(data, out), tracer)
        rec = _batch_record(tally, "clean batch", out, m, clock() - t0, oracle)
        if rec:
            done.append(rec)
        shutil.rmtree(out, ignore_errors=True)
    return done


class Publisher(threading.Thread):
    """Open-loop load generator: copies delta k into the table directory
    at ``t0 + offsets[k]``, whatever the batch loop is doing. A hidden
    temp name plus rename makes each file appear whole."""

    def __init__(self, deltas: list[str], table: str, offsets: list[float], t0: float) -> None:
        super().__init__(daemon=True)
        self.deltas, self.table, self.offsets, self.t0 = deltas, table, offsets, t0
        self.cond = threading.Condition()
        self.published: list[tuple[str, float, float]] = []  # (path, due, published)
        self.done = False
        self.stop_event = threading.Event()
        self.error: OSError | None = None

    def run(self) -> None:
        try:
            for src, off in zip(self.deltas, self.offsets):
                due = self.t0 + off
                if self.stop_event.wait(max(0.0, due - clock())):
                    break
                dst = os.path.join(self.table, os.path.basename(src))
                tmp = os.path.join(self.table, "." + os.path.basename(src) + ".tmp")
                shutil.copyfile(src, tmp)
                os.replace(tmp, dst)
                with self.cond:
                    self.published.append((dst, due, clock()))
                    self.cond.notify_all()
        except OSError as e:  # reported by the batch loop
            self.error = e
        finally:
            with self.cond:
                self.done = True
                self.cond.notify_all()


def _wm_us(watermark: str) -> int:
    dt = datetime.fromisoformat(watermark)
    return round(dt.timestamp() * 1_000_000)


def commit_base(bench: Bench, data: str, tally: Tally, oracle) -> dict | None:
    """Copy the base files into a fresh table directory and commit them
    with one clean batch (checked against the oracle). Returns that
    batch's record plus the state the open loop continues from."""
    table = bench.fresh("pipeline/table")
    base = os.path.join(data, "base")
    for f in sorted(os.listdir(base)):
        if f.endswith(".parquet"):
            shutil.copyfile(os.path.join(base, f), os.path.join(table, "base-" + f))
    out = bench.fresh("pipeline/out")
    cfg = pipeline_cfg(data, out, transcripts=table, clean=True)
    t0 = clock()
    m = run_batch(tally, "base commit", bench.spark, cfg)
    rec = _batch_record(tally, "base commit", out, m, clock() - t0, oracle)
    if rec is None:
        return None
    rec.update({
        "table": table, "out": out,
        "table_files": {os.path.join(table, f): 0 for f in os.listdir(table)},
        "batches": [{"seq": 0, "run_id": m["run_id"], "w_us": 0}],
        "watermark": m["watermark"],
    })
    return rec


def measure_incremental(bench: Bench, data: str, seconds: float, tally: Tally,
                        state: dict, trace_every: int = 0, tracer=None) -> dict:
    """Open loop: deltas published at a fixed rate; resumable batches run
    back to back whenever a published delta has not yet been listed.
    Freshness of a delta runs from its due time to the return of the
    first batch that committed it (sinks, aggregate and checkpoint
    written). ``busy`` is the share of the loop's wall spent in batches."""
    spark = bench.spark
    deltas_dir = os.path.join(data, "deltas")
    deltas = sorted(os.path.join(deltas_dir, f) for f in os.listdir(deltas_dir))
    n = min(len(deltas), int(inputs.DELTA_RATE_PER_S * seconds))
    offsets = due_offsets(n, inputs.DELTA_RATE_PER_S)
    cfg = pipeline_cfg(data, state["out"], transcripts=state["table"], clean=False)
    pub = Publisher(deltas[:n], state["table"], offsets, clock())
    pub.start()
    runs = []  # (seq, before, after, start, commit, traced)
    seen = 0
    try:
        while True:
            with pub.cond:
                while len(pub.published) <= seen and not pub.done:
                    pub.cond.wait()
                if len(pub.published) <= seen:
                    break
            seq = state["batches"][-1]["seq"] + 1
            before = len(pub.published)
            traced = bool(tracer) and trace_every and seq % trace_every == 0
            if traced:
                tracer.batch = seq
            t0 = clock()
            m = run_batch(tally, "incremental batch", spark, cfg, tracer if traced else None)
            t1 = clock()
            after = len(pub.published)
            seen = before
            if m is None:
                break
            state["batches"].append({"seq": seq, "run_id": m["run_id"],
                                     "w_us": _wm_us(state["watermark"]),
                                     "rows": m["stages"]["scan"]["rows"]})
            state["watermark"] = m["watermark"]
            runs.append({"seq": seq, "before": before, "after": after,
                         "start": t0, "commit": t1, "traced": traced})
    finally:
        loop_s = clock() - pub.t0
        pub.stop_event.set()
        pub.join()
    log(f"open loop done in {loop_s:.1f} s; checking")
    if pub.error is not None:
        tally.record("publisher", [repr(pub.error)])
    published = pub.published
    # which batch first listed each delta: any delta published before a
    # batch started; one published while it ran only if it committed rows
    by_run = tally.run("incremental check", lambda: checks.delta_rows_by_run(
        [p for p, _, _ in published], os.path.join(state["out"], "sinks"))) or {}
    run_id = {b["seq"]: b["run_id"] for b in state["batches"]}
    fresh, late = [], []
    for k, (path, due, pub_t) in enumerate(published):
        late.append(pub_t - due)
        first = next((r for r in runs if k < r["before"]
                      or (k < r["after"] and by_run.get((path, run_id[r["seq"]]), 0))), None)
        if first is None:
            tally.record("incremental", [f"delta {k} was never listed by a batch"])
            continue
        state["table_files"][path] = first["seq"]
        fresh.append(first["commit"] - due)
    problems, per_run = tally.run("incremental check", lambda: checks.incremental(
        state["table_files"], state["batches"], os.path.join(state["out"], "sinks"))) or ([], {})
    # problems are charged to the batch whose run_id they name; the
    # rest (duplicates, the base commit) count as one more failure
    per_batch = {f"run {run_id[r['seq']]}": [] for r in runs}
    other = []
    for p in problems:
        per_batch.get(p.split(":")[0], other).append(p)
    for key, mine in per_batch.items():
        tally.record(f"incremental {key}", mine)
    if other:
        tally.record("incremental", other)
    return {
        "fresh": fresh, "late": late, "runs": runs,
        "rows": [per_run.get(run_id[r["seq"]], 0) for r in runs],
        "busy": sum(r["commit"] - r["start"] for r in runs) / loop_s,
    }


# -- near_dup ---------------------------------------------------------------

def near_dup_pass(spark, corpus: str, out: str, span=None):
    """MinHash-LSH candidates with the ≥0.8 jaccard verify, then winnowed
    exact-substring pairs; both pair sets are written out. Returns the
    two walls and the (materialised) candidate frame."""
    span = span or _nospan
    docs = spark.read.parquet(corpus)
    # the operator's candidate set is cached by plan: start cold each pass
    spark.catalog.clearCache()
    t0 = clock()
    with span("dedup.minhash"):
        # the operator materialises its candidate pairs eagerly; the
        # jaccard verify runs in the write
        with span("dedup.candidates"):
            cand = minhash_lsh_candidates(docs, num_hashes=64, bands=16)
        with span("dedup.verify"):
            cand.filter(F.col("jaccard") >= 0.8).write.parquet(os.path.join(out, "minhash"))
    t1 = clock()
    with span("dedup.substring"):
        substring_dup_pairs(docs, min_tokens=10, window=4).write.parquet(
            os.path.join(out, "substring"))
    t2 = clock()
    return t1 - t0, t2 - t1, cand


def planted_pair_set(n_docs: int) -> set[tuple[int, int]]:
    """Every near-dup pair the corpus plants: gen_docs' (id-1, id) pairs
    and every pair inside each cluster."""
    pairs = {(i - 1, i) for i in range(1, n_docs, inputs.DOC_DUP_EVERY)}
    c = inputs.CLUSTER_SIZE
    for j, base in enumerate(inputs.cluster_bases(n_docs)):
        members = [base] + [n_docs + j * (c - 1) + k for k in range(c - 1)]
        pairs |= {(a, b) for a in members for b in members if a < b}
    return pairs


def measure_near_dup(bench: Bench, corpus: str, n_docs: int, seconds: float,
                     tally: Tally, passes: int = 3, tracer=None) -> dict:
    """Closed loop, one client: near-dup passes back to back, at least
    ``passes`` of them and for at least ``seconds``."""
    expected = planted_pair_set(n_docs)
    mh, ss, files = [], [], []
    t_end = clock() + seconds
    while True:
        out = bench.fresh("near_dup")
        if tracer:
            tracer.batch = len(mh)
        res = tally.run("near_dup", lambda: near_dup_pass(
            bench.spark, corpus, out, tracer.span if tracer else None))
        if res is not None:
            problems = tally.run("near_dup check", lambda: checks.near_dup(out, expected))
            if problems is not None and tally.record("near_dup", problems):
                mh.append(res[0])
                ss.append(res[1])
                files.append(checks.output_files(out, subdirs=("minhash", "substring")))
        shutil.rmtree(out, ignore_errors=True)
        if (clock() >= t_end and len(mh) >= passes) or tally.failed >= 3:
            break
    # the candidate frame is kept only for the traced run's counts: its
    # checkpointed blocks would otherwise count as memory the program holds
    return {"minhash": mh, "substring": ss, "files": files,
            "candidates": res[2] if tracer is not None and res is not None else None}
