#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md and BENCHMARK.json):

- ``bulk_build``      build_index + write_index of the full corpus, repeated
- ``serve_mixed_rw``  doc-values, single, phrase, delete and upsert calls
                      against a 2-shard segmented index

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a traced run. Lines before
it are a human-readable report. Everything the run writes lives under
``.perfbench_work/`` in the current directory and is removed at exit.
"""

from __future__ import annotations

import time  # noqa: I001 — first, so the process start is stamped early

import argparse
import json
import os
import shutil
import statistics
import sys

import layers
from spans import CallSites, Tracer, collect_jobs, peak_rss_bytes

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# sizes: a run takes 50-60 s (bulk_build) or 60-85 s (serve_mixed_rw) on
# a 4-core host, most of it Spark session start, cold first builds and
# warm-up; a full pass of the benchmark has to fit in under an hour
SIZES = {
    "bulk_docs": 1000,
    "mixed_docs": 300,
    "mixed_batches": 2,  # per cycle, 8 requests each
    "mixed_deletes": 4,
    "upsert_docs": 50,
}


def host_canary() -> float:
    """The numpy host-speed kernel bench.py stamps its phases with
    (MB/s, single-threaded), on a quarter of its buffer (80 MB, still far
    beyond any cache). The host's throughput swings more than 2x between
    windows; this number says which window a run got."""
    import numpy as np

    buf = np.arange(10_000_000, dtype=np.uint64)
    t0 = time.perf_counter()
    for _ in range(3):
        buf = buf * np.uint64(0x9E3779B97F4A7C15) ^ (buf >> np.uint64(7))
    return round((3 * buf.nbytes / (1 << 20)) / (time.perf_counter() - t0), 1)


class Context:
    """What every workload shares: session, tracer, seed, sizes."""

    def __init__(self, args, work):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work = work
        self.sizes = SIZES
        self.cpus = len(os.sched_getaffinity(0))
        self.pinned_mb = 0.0
        self.segments_open = 1

    def start_session(self):
        """local[nproc], a driver heap well below physical RAM, scratch
        and temp files inside the work dir, workers that import the
        engine from any cwd."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        ram_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        heap = f"{max(1, min(2, int(ram_gb // 4)))}g"
        os.environ["SPARK_DRIVER_MEMORY"] = heap
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = tmp
        from zuliasearch_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app="perfbench",
            shuffle_partitions=self.cpus * 4,
            extra={
                # a heap committed and touched at start: the JVM's resident
                # size no longer depends on when its collector ran; what the
                # engine holds inside the heap is measured after the run
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                                 f"-Xms{heap} -XX:+AlwaysPreTouch",
                "spark.executorEnv.PYTHONPATH": ROOT,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.range(1).collect()  # first job: executor and codegen start
        self.session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark.sparkContext, self.trace)

    def stop_session(self):
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — the JVM ignored stdin EOF
                proc.kill()
                proc.wait(timeout=30)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def live_heap_bytes(self) -> int:
        """What the engine still holds in the JVM heap (pinned postings,
        caches): heap use right after a full collection."""
        self.spark._jvm.java.lang.System.gc()
        return self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()

    def peak_memory_bytes(self, heap_live: int) -> tuple[int, dict]:
        """Peak resident memory of the driver JVM and its Python workers,
        with the pre-touched heap counted at its live size instead of its
        committed size; and the parts, for the report."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
        jvm = self.jvm_pid()
        hwm = peak_rss_bytes(jvm)
        parts = {"jvm_outside_heap": hwm.pop(jvm) - committed, "heap_live": heap_live,
                 "python_workers": sum(hwm.values())}
        return sum(parts.values()), {**parts, "n_workers": len(hwm)}

    def storage_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / 2**20


def query_strings(wl) -> list[str]:
    """The parser's input: the clause ``q`` strings of every F3 shape and,
    for serve_mixed_rw, the ``qs`` strings of every doc-values kind."""
    import numpy as np

    from reqgen import SHAPES, RequestGen

    gen = RequestGen(wl.ctx.seed, 1000)
    reqs = [gen.shaped(s) for s in SHAPES * 10] + [gen.sym()[1] for _ in range(10)]
    if wl.name == "serve_mixed_rw":
        nb = np.arange(100, 20000, 100)
        reqs += [gen.dv(k, nb)[0] for k in RequestGen.DV_KINDS * 10]
    return [r.qs for r in reqs if r.qs] + [c.q for r in reqs for c in r.clauses if c.q]


def per_layer(ctx, wl, spans, jobs, tracer_s: float, loop_s: float) -> dict:
    jobs_by_group: dict[str, list] = {}
    for j in jobs:
        jobs_by_group.setdefault(j.group, []).append(j)
    out = {"session.start_s": ctx.session_s}
    from zuliasearch_spark.indexing.corpus import gen_corpus_pandas

    sample = gen_corpus_pandas(300, seed=ctx.seed)["content"]
    out["analysis.tokenize_mb_per_s"] = layers.tokenize_mb_per_s(sample, wl.cfg.analyzer("code_standard"))
    out.update(layers.builder_metrics(spans, jobs_by_group, wl.n_docs))
    out["search.parser.parse_us_per_query"] = layers.parse_us_per_query(query_strings(wl))
    ex, cross = layers.executor_metrics(spans, jobs_by_group)
    out.update(ex)
    out["search.executor.pinned_mb"] = ctx.pinned_mb
    out.update(layers.segment_metrics(spans, jobs_by_group))
    out["indexing.segments.segments_open"] = ctx.segments_open
    rep = layers.report(spans, wl.op_name, loop_s, sys.stdout)
    if cross:
        print(f"kernel job_ms minus Spark kernel job wall: median {statistics.median(cross) * 1e3:.1f} ms "
              f"over {len(cross)} batches")
    # untraced wall = traced wall minus the tracer's own bookkeeping
    # inside the operations (the set-up and verify spans are excluded)
    out["trace.overhead_ratio"] = rep["wall"] / (rep["wall"] - tracer_s) if rep["wall"] else 1.0
    out["trace.unspanned_share"] = rep["uncovered_share"]
    return out


UNITS = {
    "setup_s": "s", "throughput_per_s": "1/s", "op_latency_p50_s": "s",
    "peak_rss_mb": "MB", "index_bytes_per_source_byte": "count",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "zuliasearch_spark")):
        print(f"perfbench: engine package zuliasearch_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    ctx = Context(args, work)
    marks = [("start", T_START)]  # (phase, end time), for the report
    canary_before = host_canary()
    try:
        ctx.start_session()
        try:
            wl = WORKLOADS[args.workload](ctx)
            with ctx.tracer.span("setup"):
                wl.setup()
            setup_s = ctx.session_s + sum(wl.setup_parts.values())
            marks.append(("setup", time.perf_counter()))
            tracer_s = ctx.tracer.cost_s
            t0 = time.perf_counter()
            t_end = t0 + args.seconds
            i = 0
            while i < 1 or time.perf_counter() < t_end:
                wl.step(i)
                i += 1
            measured_s = time.perf_counter() - t0
            ctx.tracer.enabled = False
            tracer_s = ctx.tracer.cost_s - tracer_s
            marks.append(("measure", time.perf_counter()))
            peak_rss, rss_parts = ctx.peak_memory_bytes(ctx.live_heap_bytes())
            wl.verify()  # not traced
            e2e = wl.finish()
            marks.append(("verify+finish", time.perf_counter()))
            if ctx.trace:
                from zuliasearch_spark.indexing import builder, segments
                from zuliasearch_spark.search import executor

                jobs = collect_jobs(ctx.spark, CallSites([builder, segments, executor]))
                layer_metrics = per_layer(ctx, wl, ctx.tracer.spans, jobs, tracer_s, measured_s)
                marks.append(("trace", time.perf_counter()))
        finally:
            ctx.stop_session()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass
    marks.append(("stop", time.perf_counter()))
    canary_after = host_canary()

    report = e2e.pop("_report")
    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = peak_rss / 2**20
    fail = wl.fail
    print(f"workload {args.workload}  seed {args.seed}  cpus {ctx.cpus}  measured {measured_s:.2f} s  "
          f"ops {i}  trace {args.trace}")
    print(f"host canary MB/s: before {canary_before}  after {canary_after}")
    print("wall by phase: " + "  ".join(f"{b} {t1 - t0:.1f} s" for (_, t0), (b, t1) in zip(marks, marks[1:]))
          + f"  total {time.perf_counter() - T_START:.1f} s")
    print("peak memory parts MB: " + "  ".join(f"{k} {v / 2**20:.1f}" if k != "n_workers" else f"{k} {v}"
                                               for k, v in rss_parts.items()))
    print(f"setup parts: session {ctx.session_s:.3f} s  " + "  ".join(f"{k} {v:.3f} s" for k, v in wl.setup_parts.items()))
    for k, v in sorted(e2e.items()):
        print(f"  {k:<32} {v:14.4f} {UNITS[k]}")
    for k, v in report.items():
        print(f"  {k:<32} {v}")
    print(f"  failed_op_ratio                  {fail.failed / max(1, fail.attempted):.4f} "
          f"({fail.failed} of {fail.attempted})")
    for note in fail.notes:
        print(f"  failure: {note}")

    if ctx.trace:
        metrics = {k: {"value": layer_metrics[k], "unit": unit} for k, unit, _ in layers.METRICS}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": fail.failed == 0,
        "attempted": max(1, fail.attempted),
        "failed": fail.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
