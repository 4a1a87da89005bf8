"""The separate traced run: every workload once more with spans around
each layer call, the Spark event log on, and untraced reference passes
beside the traced ones so tracing overhead can be reported. Ends with a
``local[1]`` reference run of the clean batch for core scaling.

Layer self times of the fused sink write come from noop-sink prefixes
of the same lineage: scan, then +parse, then +enrich.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics

import duckdb
from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.functions.parse import parse_tool_calls
from logstash_integration_jdbc_spark.operators.dedup import (
    minhash_band_buckets,
    winnow_anchors,
)
from logstash_integration_jdbc_spark.pipeline import build_lookups, enrich
from logstash_integration_jdbc_spark.sources.scan import incremental_scan
from logstash_integration_jdbc_spark.sources.value_tracking import EPOCH

import checks
import inputs
import workloads as wl
from trace import Tracer, event_log_conf, fold_by_name, fold_event_logs, task_skew

EVENT_LOG_FOLDS = ("executor_run_s", "gc_s", "spill_bytes", "tasks")
# the traced run's open loop is shorter than a timed run's, to keep the
# whole traced run well inside three minutes
INCR_TRACE_SECONDS = 4
# rounds of the noop-sink prefixes; layer self times are their medians
PREFIX_ROUNDS = 3

# per-layer metric → unit, in BENCHMARK.json order. ``batch.`` rows come
# from the pipeline workload's clean batch, ``incr.`` rows from its
# incremental batches, ``dedup.`` rows from near_dup; set-up rows are
# shared.
_PIPELINE = [
    ("pipeline.batch_s", "s"), ("pipeline.self_s", "s"), ("pipeline.jobs_per_batch", "count"),
    ("pipeline.rows_per_batch", "count"), ("scan.files_listed", "count"), ("scan.list_s", "s"),
    ("scan.cursors_s", "s"), ("router.write_s", "s"), ("router.jobs", "count"),
    ("router.shuffle_write_bytes", "bytes"), ("router.files_written", "count"),
    ("router.task_skew", "ratio"), ("aggregate.self_s", "s"), ("aggregate.files_read", "count"),
    ("aggregate.list_s", "s"),
    ("checkpoint.write_s", "s"), ("untraced_s", "s"), ("trace_overhead_s", "s"),
    ("trace_coverage", "ratio"),
]
_FOLDED = {
    "batch": ("scan_noop", "parse_noop", "lookup_noop", "router", "aggregate", "cursors"),
    "incr": ("router", "aggregate", "cursors"),
    "dedup": ("candidates", "verify", "substring"),
}
_SPAN_OF = {"scan_noop": "scan.noop", "parse_noop": "parse.noop", "lookup_noop": "lookup.noop",
            "router": "router.write", "aggregate": "aggregate", "cursors": "scan.cursors",
            "candidates": "dedup.candidates", "verify": "dedup.verify",
            "substring": "dedup.substring"}
_FOLD_UNIT = {"executor_run_s": "s", "gc_s": "s", "spill_bytes": "bytes", "tasks": "count"}

PER_LAYER: dict[str, str] = dict(
    [("session.start_s", "s"), ("loader.dim_load_s", "s"), ("pipeline.warm_s", "s"),
     ("dedup.warm_s", "s")]
    + [("batch." + n, u) for n, u in _PIPELINE]
    + [("batch.scan.self_s", "s"), ("batch.scan.rows_read", "count"),
       ("batch.scan.rows_kept", "count"), ("batch.parse.self_s", "s"),
       ("batch.parse.hit_ratio", "ratio"), ("batch.lookup.self_s", "s"),
       ("batch.lookup.ok_ratio", "ratio"), ("batch.lookup.jobs", "count"),
       ("batch.router.self_s", "s"), ("batch.turns_per_s", "1/s"),
       ("batch.local1_turns_per_s", "1/s"), ("batch.core_scaling_efficiency", "ratio")]
    + [("incr." + n, u) for n, u in _PIPELINE]
    + [("incr.batches", "count"), ("incr.busy_fraction", "ratio"),
       ("incr.generator_late_s", "s"), ("incr.freshness_p50_s", "s")]
    + [("dedup." + n, u) for n, u in [
        ("signature_s", "s"), ("pairs_s", "s"), ("verify_s", "s"), ("winnow_s", "s"),
        ("substring_pairs_s", "s"), ("python_worker_s", "s"), ("python_bytes", "bytes"),
        ("shuffle_bytes", "bytes"), ("candidate_pairs", "count"), ("verified_pairs", "count"),
        ("precision", "ratio"), ("max_bucket", "count"), ("minhash_docs_per_s", "1/s"),
        ("substring_docs_per_s", "1/s"), ("untraced_s", "s"), ("trace_overhead_s", "s"),
        ("trace_coverage", "ratio")]]
    + [(f"{w}.{layer}.{k}", _FOLD_UNIT[k])
       for w, layers in _FOLDED.items() for layer in layers for k in EVENT_LOG_FOLDS]
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _prefix_walls(tracer: Tracer, steps: list[tuple[str, object]]) -> dict[str, float]:
    """Median wall of each noop-sink prefix over PREFIX_ROUNDS
    interleaved rounds. Only the first round runs inside spans, so each
    prefix's jobs fold once into the event-log figures."""
    walls: dict[str, list[float]] = {name: [] for name, _ in steps}
    for i in range(PREFIX_ROUNDS):
        for name, df in steps:
            t0 = wl.clock()
            with tracer.span(name) if i == 0 else contextlib.nullcontext():
                _noop(df)
            walls[name].append(wl.clock() - t0)
    return {name: statistics.median(w) for name, w in walls.items()}


def _span_s(tracer: Tracer, name: str, workload: str) -> list[float]:
    return [s.duration for s in tracer.find(name, workload) if s.end is not None]


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _ids_under(tracer: Tracer, root_ids: set[int]) -> set[int]:
    """Span ids of the given roots and all their descendants."""
    ids = set(root_ids)
    for s in tracer.spans:  # spans are appended in start order
        if s.parent in ids:
            ids.add(s.id)
    return ids


def _rows_in(files: list[str]) -> int:
    con = duckdb.connect()
    try:
        return con.execute(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0]
    finally:
        con.close()


def _pipeline_spans(tracer: Tracer, workload: str, folds: dict, seqs=None) -> dict:
    """Medians over the traced batches (those in ``seqs`` when given) of
    each pipeline layer's span, plus the write's event-log figures."""
    roots = [s for s in tracer.find("pipeline.batch", workload)
             if seqs is None or s.batch in seqs]
    self_t = tracer.self_time()
    per_batch = [fold_by_name(folds, _ids_under(tracer, {r.id})) for r in roots]
    m = {
        "pipeline.batch_s": _med([r.duration for r in roots]),
        "pipeline.self_s": _med([self_t[r.id] for r in roots]),
        # wall inside a named layer: the batch minus run_pipeline's own
        # driver code between the layer calls
        "attributed_s": _med([r.duration - self_t[r.id] for r in roots]),
        "pipeline.jobs_per_batch": _med([sum(f["jobs"] for f in per.values()) for per in per_batch]),
        "lookup.jobs": _med([per["lookup.build"]["jobs"] if "lookup.build" in per else 0
                             for per in per_batch]),
        "router.jobs": _med([per["router.write"]["jobs"] for per in per_batch]),
        "router.shuffle_write_bytes": _med([per["router.write"]["shuffle_write_bytes"]
                                            for per in per_batch]),
        "router.task_skew": _med([task_skew(per["router.write"]) for per in per_batch]),
    }
    ids = _ids_under(tracer, {r.id for r in roots})
    for key, name in (("scan.list_s", "scan.list"), ("scan.cursors_s", "scan.cursors"),
                      ("router.write_s", "router.write"), ("aggregate.self_s", "aggregate"),
                      ("aggregate.list_s", "aggregate.list"),
                      ("checkpoint.write_s", "checkpoint.write")):
        m[key] = _med([s.duration for s in tracer.spans if s.name == name and s.id in ids])
    return m


def _folded(prefix: str, folds: dict, tracer: Tracer, workload: str, per: int = 1) -> dict:
    """Event-log task metrics per layer of one workload, divided by the
    number of traced batches ``per``."""
    by_name = fold_by_name(folds, {s.id for s in tracer.spans if s.workload == workload})
    out = {}
    for layer in _FOLDED[prefix]:
        f = by_name.get(_SPAN_OF[layer])
        for k in EVENT_LOG_FOLDS:
            out[f"{prefix}.{layer}.{k}"] = f[k] / per if f else 0
    return out


def traced_run(root: str, cores: int, workload: str, seed: int, seconds: int) -> dict:
    """Trace every workload in one process (so each per-layer metric is
    measured by every traced run); ``workload`` only names the run."""
    from run import WORKLOADS, input_dirs

    bench = wl.Bench(root, cores)
    log_dir = os.path.join(bench.work, "eventlog")
    bench.event_log = event_log_conf(log_dir)
    tracer = Tracer(workload="setup")
    tally = wl.Tally()
    out: dict[str, float] = {}
    try:
        spark = bench.start()
        dirs = {w: input_dirs(spark, bench.cache, w, seed, seconds) for w in WORKLOADS}
        data = dirs["pipeline"]["data"]
        corpus = os.path.join(dirs["near_dup"]["docs"], "documents.parquet")
        s = wl.setup_pipeline(bench, data, tracer=tracer)
        out.update({k: v for k, v in s.items() if k != "setup_s"})
        wl.warm_pipeline(bench, data, tracer=tracer)
        wl.warm_near_dup(bench, corpus, tracer=tracer)
        out["pipeline.warm_s"] = _span_s(tracer, "pipeline.warm", "setup")[0]
        out["dedup.warm_s"] = _span_s(tracer, "dedup.warm", "setup")[0]

        oracle = checks.batch_oracle(data)
        batch, base = _trace_batch(bench, tracer, tally, data, oracle)
        incr = _trace_incremental(bench, tracer, tally, data, base,
                                  min(seconds, INCR_TRACE_SECONDS))
        out.update(_trace_near_dup(bench, tracer, tally, dirs["near_dup"]["docs"]))

        # local[1] reference: the same clean batch in a one-core session
        # of the already warm JVM
        tracer.workload = "local1"
        bench.start(cores=1)
        one = wl.clean_batches(bench, data, 1, tally, oracle)
        local1_tps = one[0]["rows"] / one[0]["wall"] if one else 0.0
    finally:
        bench.stop()
    folds = fold_event_logs(log_dir)
    # spans and the full per-group folds (CPU time and shuffle reads too)
    # outlive the run's work directory
    keep = os.path.join(root, ".perfbench", "trace")
    os.makedirs(keep, exist_ok=True)
    tracer.dump(os.path.join(keep, "spans.jsonl"))
    with open(os.path.join(keep, "folds.json"), "w") as fh:
        json.dump({g: {k: v for k, v in f.items() if k != "stage_task_s"}
                   for g, f in folds.items()}, fh, indent=1)

    # the clean batch: the sink write's self time is what the noop-sink
    # prefixes (scan → +parse → +enrich) leave of it
    bm = {**batch, **_pipeline_spans(tracer, "batch", folds)}
    bm["router.self_s"] = bm["router.write_s"] - bm.pop("lookup_cum")
    bm["trace_overhead_s"] = bm["pipeline.batch_s"] - bm["untraced_s"]
    # coverage: the share of the untraced wall that named layers account
    # for; run_pipeline's own time (pipeline.self_s) is not counted
    bm["trace_coverage"] = bm.pop("attributed_s") / bm["untraced_s"]
    bm["local1_turns_per_s"] = local1_tps
    bm["core_scaling_efficiency"] = bm["turns_per_s"] / (cores * local1_tps) if local1_tps else 0.0
    out.update({"batch." + k: v for k, v in bm.items()})
    out.update(_folded("batch", folds, tracer, "batch"))

    traced = incr.pop("traced")
    im = {**incr, **_pipeline_spans(tracer, "incr", folds, seqs=traced)}
    im["trace_overhead_s"] = im["pipeline.batch_s"] - im["untraced_s"]
    attributed = im.pop("attributed_s")
    im["trace_coverage"] = attributed / im["untraced_s"] if im["untraced_s"] else 0.0
    del im["lookup.jobs"]
    out.update({"incr." + k: v for k, v in im.items()})
    out.update(_folded("incr", folds, tracer, "incr", per=max(len(traced), 1)))

    per = fold_by_name(folds, {s.id for s in tracer.spans
                               if s.workload == "near_dup" and s.batch == 0})
    out["dedup.python_worker_s"] = sum(f["python_worker_s"] for f in per.values())
    out["dedup.python_bytes"] = sum(f["python_bytes"] for f in per.values())
    out["dedup.shuffle_bytes"] = sum(f["shuffle_write_bytes"] for f in per.values())
    out.update(_folded("dedup", folds, tracer, "near_dup"))

    # a layer time got by subtracting a noop prefix from the fused
    # operation it feeds must not be negative: if it is, the prefixes do
    # not decompose that operation
    for k in ("batch.scan.self_s", "batch.parse.self_s", "batch.lookup.self_s",
              "batch.router.self_s", "dedup.pairs_s", "dedup.substring_pairs_s"):
        tally.record(f"self time {k}", [] if out[k] >= 0 else [
            f"{k} = {out[k]:.4f} s: the noop prefixes do not decompose the fused operation"])

    unknown = set(out) ^ set(PER_LAYER)
    if unknown:
        raise KeyError(f"traced metrics differ from the declared list: {sorted(unknown)}")
    for k, unit in PER_LAYER.items():
        wl.log(f"{k:44s} {out[k]:.6g} {unit}")
    return {
        "correct": tally.failed == 0,
        "attempted": max(tally.attempted, 1),
        "failed": tally.failed,
        "metrics": {k: {"value": out[k], "unit": u} for k, u in PER_LAYER.items()},
    }


def _trace_batch(bench, tracer: Tracer, tally, data: str, oracle) -> tuple[dict, dict]:
    """The traced clean batch, then the untraced base commit the
    incremental phase continues from (the untraced reference for the
    tracing overhead); then the noop-sink prefixes."""
    tracer.workload = "batch"
    traced = wl.clean_batches(bench, data, 1, tally, oracle, tracer=tracer)
    base = wl.commit_base(bench, data, tally, oracle)
    if not (traced and base):
        raise RuntimeError("a clean batch failed in the traced run")
    untraced = base["wall"]
    spark = bench.spark
    src = os.path.join(data, "base")
    files = [os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")]
    tracer.batch = None
    scanned = incremental_scan(spark.read.parquet(src), "ts", EPOCH)
    parsed = parse_tool_calls(scanned)
    enriched = enrich(parsed, build_lookups(spark, wl.pipeline_cfg(data, bench.fresh("noop"))))
    cum = _prefix_walls(tracer, [("scan.noop", scanned), ("parse.noop", parsed),
                                 ("lookup.noop", enriched)])
    s1, s2, s3 = cum["scan.noop"], cum["parse.noop"], cum["lookup.noop"]
    t = traced[0]
    rows = t["rows"]
    stages = t["metrics"]["stages"]
    return {
        "lookup_cum": s3,
        "untraced_s": untraced,
        "turns_per_s": base["rows"] / untraced,
        "pipeline.rows_per_batch": rows,
        "scan.self_s": s1,
        "parse.self_s": s2 - s1,
        "lookup.self_s": s3 - s2,
        "scan.rows_read": _rows_in(files),
        "scan.rows_kept": rows,
        "scan.files_listed": len(files),
        "parse.hit_ratio": stages["parse"]["parse_hits"] / rows,
        "lookup.ok_ratio": stages["enrich"]["lookups_ok"] / rows,
        "router.files_written": t["sink_files"],
        "aggregate.files_read": t["sink_files"],
    }, base


def _trace_incremental(bench, tracer: Tracer, tally, data: str, state: dict,
                       seconds: float) -> dict:
    """The open loop over the committed base, every other batch traced."""
    tracer.workload = "incr"
    n_base = len(state["table_files"])
    r = wl.measure_incremental(bench, data, seconds, tally, state, trace_every=2, tracer=tracer)
    traced = {x["seq"] for x in r["runs"] if x["traced"]}
    walls_u = [x["commit"] - x["start"] for x in r["runs"] if not x["traced"]]
    # per batch: files in the sinks dir when the aggregate lists it
    cum = checks.output_files(state["out"], state["batches"][0]["run_id"], subdirs=("sinks",))
    sink_files, files_read = [], []
    for x in r["runs"]:
        rid = next(b["run_id"] for b in state["batches"] if b["seq"] == x["seq"])
        n = checks.output_files(state["out"], rid, subdirs=("sinks",))
        cum += n
        sink_files.append(n)
        files_read.append(cum)
    return {
        "traced": traced,
        "untraced_s": _med(walls_u),
        "pipeline.rows_per_batch": _med(r["rows"]),
        "scan.files_listed": _med([n_base + x["before"] for x in r["runs"]]),
        "router.files_written": _med(sink_files),
        "aggregate.files_read": _med(files_read),
        "batches": len(r["runs"]),
        "busy_fraction": r["busy"],
        "generator_late_s": max(r["late"], default=0.0),
        "freshness_p50_s": _med(r["fresh"]),
    }


def _trace_near_dup(bench, tracer: Tracer, tally, docs_dir: str) -> dict:
    """Untraced, traced and untraced passes (the untraced ones bracket
    the traced one); then the noop-sink prefixes (signature, winnow) and
    the bucket-size diagnostic."""
    tracer.workload = "near_dup"
    corpus = os.path.join(docs_dir, "documents.parquet")
    n_docs = inputs.DOCS + inputs.CLUSTERS * (inputs.CLUSTER_SIZE - 1)
    run = lambda tr=None: wl.measure_near_dup(  # noqa: E731
        bench, corpus, inputs.DOCS, 0, tally, passes=1, tracer=tr)
    u1 = run()
    t = run(tracer)
    u2 = run()
    if not (t["minhash"] and u1["minhash"] and u2["minhash"]):
        raise RuntimeError("near_dup failed in the traced run")
    cand = t["candidates"]
    n_cand = cand.count()
    n_ver = cand.filter(F.col("jaccard") >= 0.8).count()
    spark = bench.spark
    docs = spark.read.parquet(corpus)
    tracer.batch = None
    pre = _prefix_walls(tracer, [
        ("dedup.signature", minhash_band_buckets(docs, num_hashes=64, bands=16)),
        ("dedup.winnow", winnow_anchors(docs, min_tokens=10, window=4))])
    sig, win = pre["dedup.signature"], pre["dedup.winnow"]
    tracer.workload = "near_dup.diagnostics"
    max_bucket = (minhash_band_buckets(docs, num_hashes=64, bands=16)
                  .groupBy("__band", "__bucket").count().agg(F.max("count")).first()[0])
    one = lambda name: _span_s(tracer, name, "near_dup")[0]  # noqa: E731
    mh_u = (u1["minhash"][0] + u2["minhash"][0]) / 2
    ss_u = (u1["substring"][0] + u2["substring"][0]) / 2
    traced_wall = one("dedup.minhash") + one("dedup.substring")
    # wall inside a named layer (the minhash span's own glue left out)
    attributed = one("dedup.candidates") + one("dedup.verify") + one("dedup.substring")
    return {"dedup." + k: v for k, v in {
        "signature_s": sig,
        "pairs_s": one("dedup.candidates") - sig,
        "verify_s": one("dedup.verify"),
        "winnow_s": win,
        "substring_pairs_s": one("dedup.substring") - win,
        "candidate_pairs": n_cand,
        "verified_pairs": n_ver,
        "precision": n_ver / n_cand if n_cand else 0.0,
        "max_bucket": max_bucket,
        "minhash_docs_per_s": n_docs / mh_u,
        "substring_docs_per_s": n_docs / ss_u,
        "untraced_s": mh_u + ss_u,
        "trace_overhead_s": traced_wall - (mh_u + ss_u),
        "trace_coverage": attributed / (mh_u + ss_u),
    }.items()}
