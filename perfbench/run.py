"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. ``--trace 0`` measures one workload with
tracing off and prints its end-to-end metrics; ``--trace 1`` is the
separate traced run, which covers every workload and prints the
per-layer metrics. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. Inputs are
cached under ``.perfbench/cache`` in the checkout; run outputs go to
``.perfbench/work``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "logstash_integration_jdbc_spark"

WORKLOADS = ("pipeline", "near_dup")

# name → unit, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "freshness_p50_s": "s",
    "freshness_tail_s": "s",
    "sink_files": "count",
    "live_mem_mb": "MB",
}

SETUP_REPEATS = 3


def cores() -> int:
    return len(os.sched_getaffinity(0))


# -- memory ---------------------------------------------------------------

def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _is_python_worker(pid: int) -> bool:
    """The PySpark daemon and the workers it forks. Other children of the
    JVM (the short-lived ``chmod``/``stat`` processes Hadoop's local file
    system forks) are left out: for an instant a fork shares the whole JVM
    heap, and its PSS would count half of it."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"pyspark.daemon" in fh.read()
    except OSError:
        return False


def _pss_kb(pid: int) -> int:
    """Proportional resident anonymous and shared memory of ``pid``.
    Proportional, so pages a forked Python worker still shares with its
    parent count once; file-backed pages (mapped libraries and data
    files) are left out, since how many of those are resident depends on
    the page cache."""
    kb = 0
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith(("Pss_Anon:", "Pss_Shmem:")):
                    kb += int(line.split()[1])
    except OSError:
        pass
    return kb


class LiveMemory(threading.Thread):
    """Memory the program holds: the JVM live set (heap after a full GC,
    plus non-heap: metaspace, code cache) where ``probe`` is called, the
    largest if it is called more than once, plus the peak summed PSS of
    the PySpark Python workers, sampled every ``period_s``.

    Not resident memory: with the library's 8 GB default heap the JVM's
    RSS follows the young generation G1 sizes from pause-time goals
    (0.65-1.7 GB of eden for the same workload), and its old generation
    holds whatever was promoted since the last mixed collection
    (0.8-1.3 GB on the same workload). The live set after a full GC
    shows what the program keeps, such as a persisted batch or a larger
    broadcast, and not when G1 last collected."""

    def __init__(self, spark, jvm_pid: int, period_s: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.period_s = period_s
        self.jvm_pid = jvm_pid
        self.mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.live = []
        self.first = []  # after the first GC of each probe, for the log
        self.peak_workers_kb = 0
        self._stop_event = threading.Event()

    def probe(self, settle_s: float = 1.0, tries: int = 6) -> None:
        """Full GC, then record the JVM's live heap plus non-heap. Only
        between measured operations: it takes a few seconds. A first GC
        clears the weak references through which Spark's ContextCleaner
        learns that a broadcast, shuffle or checkpoint is unreachable;
        the blocks it then removes, one after another, are freed by a
        later GC. So collect again every ``settle_s``, at least twice,
        until the heap stops shrinking (by less than 1%)."""
        self.mx.gc()
        heap = first = self.mx.getHeapMemoryUsage().getUsed()
        for i in range(tries):
            time.sleep(settle_s)
            self.mx.gc()
            prev, heap = heap, self.mx.getHeapMemoryUsage().getUsed()
            if i > 0 and heap > 0.99 * prev:
                break
        non_heap = self.mx.getNonHeapMemoryUsage().getUsed()
        self.first.append(first + non_heap)
        self.live.append(heap + non_heap)

    def sample(self) -> None:
        kb = sum(_pss_kb(p) for p in _proc_tree(self.jvm_pid) if _is_python_worker(p))
        self.peak_workers_kb = max(self.peak_workers_kb, kb)

    def run(self) -> None:
        while not self._stop_event.wait(self.period_s):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; the figure in MB."""
        from workloads import log

        self._stop_event.set()
        self.join()
        log(f"JVM live sets (MB): {[round(b / 2**20) for b in self.live]} "
            f"(after one GC: {[round(b / 2**20) for b in self.first]}); "
            f"python workers {self.peak_workers_kb / 1024:.0f}")
        return max(self.live, default=0) / 2**20 + self.peak_workers_kb / 1024.0


# -- inputs ----------------------------------------------------------------

def input_dirs(spark, cache: str, workload: str, seed: int, seconds: int) -> dict[str, str]:
    """Directories of a workload's cached inputs, generating any that are
    missing."""
    import inputs

    if workload == "near_dup":
        return {"docs": inputs.docs(spark, cache, inputs.DOCS, seed)}
    n_deltas = int(inputs.DELTA_RATE_PER_S * seconds) + 1
    return {"data": inputs.pipeline(spark, cache, n_deltas, seed)}


# -- timed run ---------------------------------------------------------------

def e2e(workload: str, seed: int, seconds: int) -> dict:
    import checks
    import inputs
    import workloads as wl
    from statistics import median

    from stats import tail

    bench = wl.Bench(ROOT, cores())
    tally = wl.Tally()
    mem = None
    samples = []
    try:
        # launch the JVM and generate missing inputs; the set-ups below
        # each restart the session
        dirs = input_dirs(bench.start(), bench.cache, workload, seed, seconds)
        wl.log("inputs ready")
        if workload == "near_dup":
            setups = [wl.setup_near_dup(bench) for _ in range(SETUP_REPEATS)]
        else:
            setups = [wl.setup_pipeline(bench, dirs["data"]) for _ in range(SETUP_REPEATS)]
        wl.log("set-ups done")
        # memory is sampled from here on: the session restarts have
        # stopped any Python worker that input generation started
        mem = LiveMemory(bench.spark, bench.jvm_pid())
        mem.start()
        if workload == "near_dup":
            n_docs = inputs.DOCS + inputs.CLUSTERS * (inputs.CLUSTER_SIZE - 1)
            corpus = os.path.join(dirs["docs"], "documents.parquet")
            wl.warm_near_dup(bench, corpus)
            wl.log("set-up and warm pass done")
            r = wl.measure_near_dup(bench, corpus, inputs.DOCS, seconds, tally)
            mem.probe()
            samples = [a + b for a, b in zip(r["minhash"], r["substring"])]
            items_per_s = median([n_docs / s for s in samples]) if samples else 0.0
            files = median(r["files"]) if r["files"] else 0
            wl.log(f"near_dup passes: {[round(s, 3) for s in samples]} s")
            if samples:
                wl.log(f"near_dup: minhash {median([n_docs / s for s in r['minhash']]):.1f} docs/s, "
                       f"substring {median([n_docs / s for s in r['substring']]):.1f} docs/s")
        else:
            wl.warm_pipeline(bench, dirs["data"])
            oracle = checks.batch_oracle(dirs["data"])
            wl.log("set-up and warm pass done, oracle computed")
            base = wl.commit_base(bench, dirs["data"], tally, oracle)
            if base is not None:
                wl.log("clean batch committed and checked")
                items_per_s = base["rows"] / base["wall"]
                files = base["files"]
                r = wl.measure_incremental(bench, dirs["data"], seconds, tally, base)
                mem.probe()
                samples = r["fresh"]
                wl.log(f"pipeline: clean batch {base['wall']:.3f} s; "
                       f"{len(r['runs'])} incremental batches, {len(samples)} deltas, "
                       f"loop busy {r['busy']:.3f}, "
                       f"generator late max {max(r['late'], default=0):.4f} s")
    finally:
        mem_mb = mem.stop() if mem is not None and mem.is_alive() else 0.0
        bench.stop()

    if not samples:
        return {"correct": False, "attempted": max(tally.attempted, 1),
                "failed": max(tally.failed, 1), "metrics": {}}
    t_val, t_pct, t_n = tail(samples)
    wl.log(f"{workload}: setups {[round(s['setup_s'], 3) for s in setups]} s; "
           f"freshness n={t_n}, tail at p{t_pct:.2f}")
    values = {
        "setup_s": median([s["setup_s"] for s in setups]),
        "items_per_s": items_per_s,
        "freshness_p50_s": median(samples),
        "freshness_tail_s": t_val,
        "sink_files": files,
        "live_mem_mb": mem_mb,
    }
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()},
    }


# -- entry -------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", "work")

    # keep every file Spark and Python write inside the checkout
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable

    if args.trace:
        from traced import traced_run

        result = traced_run(ROOT, cores(), args.workload, args.seed, args.seconds)
    else:
        result = e2e(args.workload, args.seed, args.seconds)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
