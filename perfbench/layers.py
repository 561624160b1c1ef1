"""Per-layer metrics of a traced run, from spans and Spark job records.

Each metric is an average per operation of the layer it names; a layer
the workload never calls reports 0. ``report`` prints every span name's
self time, the time no engine-call span covers inside an operation, and
the time of the measuring loop outside every operation.
"""

from __future__ import annotations

import time

from spans import covered, self_times

# every per-layer metric, in report order: (name, unit, better)
METRICS = (
    ("session.start_s", "s", "lower"),
    ("analysis.tokenize_mb_per_s", "MB/s", "higher"),
    ("indexing.builder.id_offsets_s", "s", "lower"),
    ("indexing.builder.write_index_s", "s", "lower"),
    ("indexing.builder.postings_map_run_s", "s", "lower"),
    ("indexing.builder.postings_reduce_run_s", "s", "lower"),
    ("indexing.builder.docmap_job_s", "s", "lower"),
    ("indexing.builder.stats_jobs_s", "s", "lower"),
    ("indexing.builder.shuffle_write_bytes_per_doc", "B", "lower"),
    ("indexing.builder.output_bytes_per_doc", "B", "lower"),
    ("indexing.builder.gc_s", "s", "lower"),
    ("indexing.builder.spill_bytes", "B", "lower"),
    ("indexing.builder.jobs", "count", "lower"),
    ("indexing.builder.tasks", "count", "lower"),
    ("search.parser.parse_us_per_query", "us", "lower"),
    ("search.executor.driver_s", "s", "lower"),
    ("search.executor.term_stats_jobs", "count", "lower"),
    ("search.executor.term_stats_job_s", "s", "lower"),
    ("search.executor.kernel_job_s", "s", "lower"),
    ("search.executor.kernel_run_s", "s", "lower"),
    ("search.executor.kernel_tasks", "count", "higher"),
    ("search.executor.gather_s", "s", "lower"),
    ("search.executor.fetch_job_s", "s", "lower"),
    ("search.executor.jobs_per_batch", "count", "lower"),
    ("search.executor.blocks_decoded_ratio", "ratio", "lower"),
    ("search.executor.retried", "count", "lower"),
    ("search.executor.shuffle_bytes_per_batch", "B", "lower"),
    ("search.executor.dv_jobs_per_batch", "count", "lower"),
    ("search.executor.phrase_scan_bytes", "B", "lower"),
    ("search.executor.search_jobs_per_request", "count", "lower"),
    ("search.executor.delete_s", "s", "lower"),
    ("search.executor.pin_s", "s", "lower"),
    ("search.executor.pinned_mb", "MB", "lower"),
    ("indexing.segments.commit_s", "s", "lower"),
    ("indexing.segments.commit_jobs", "count", "lower"),
    ("indexing.segments.reopen_s", "s", "lower"),
    ("indexing.segments.segments_open", "count", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
    ("trace.unspanned_share", "ratio", "lower"),
)

# engine call-site functions (module.function) -> search job kind
_KERNEL = "executor.search_many"
_TERM_STATS = "executor._collect_term_stats"
_FETCH = "executor._attach_unique_ids"


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _under(spans, root):
    """Ids of ``root`` and every span below it."""
    kids = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = set(), [root.sid]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(k.sid for k in kids.get(sid, ()))
    return out


def _jobs_of(jobs_by_group, sids):
    return [j for sid in sids for j in jobs_by_group.get(f"pb{sid}", ())]


BUILDER_KEYS = (
    "id_offsets_s", "write_index_s", "postings_map_run_s", "postings_reduce_run_s", "docmap_job_s",
    "stats_jobs_s", "shuffle_write_bytes_per_doc", "output_bytes_per_doc", "gc_s", "spill_bytes", "jobs", "tasks",
)


def builder_metrics(spans, jobs_by_group, n_docs) -> dict:
    ops = [s for s in spans if s.name == "bulk_build.op"]
    per = []
    for op in ops:
        js = _jobs_of(jobs_by_group, _under(spans, op))
        wi = [s for s in spans if s.name == "indexing.builder.write_index" and s.parent == op.sid]
        post = [j for j in js if j.func == "write:postings"]
        dm = [j for j in js if j.func == "write:doc_map"]
        # stats tables, plus the schema reads write_index makes between writes
        stats = [j for sp in wi for j in _jobs_of(jobs_by_group, _under(spans, sp)) if j not in post and j not in dm]
        per.append({
            "id_offsets_s": sum(j.dur for j in js if j.func == "builder.id_offsets"),
            "write_index_s": sum(s.dur for s in wi),
            "postings_map_run_s": sum(j.total("run_s", lambda s: s.input_bytes > 0) for j in post),
            "postings_reduce_run_s": sum(j.total("run_s", lambda s: s.input_bytes == 0) for j in post),
            "docmap_job_s": sum(j.dur for j in dm),
            "stats_jobs_s": sum(j.dur for j in stats),
            "shuffle_write_bytes_per_doc": sum(j.total("shuffle_write_bytes") for j in js) / n_docs,
            "output_bytes_per_doc": sum(j.total("output_bytes") for j in js) / n_docs,
            "gc_s": sum(j.total("gc_s") for j in js),
            "spill_bytes": sum(j.total("spill_bytes") for j in js),
            "jobs": len(js),
            "tasks": sum(j.total("tasks") for j in js),
        })
    return {f"indexing.builder.{k}": _mean(p[k] for p in per) for k in BUILDER_KEYS}


def executor_metrics(spans, jobs_by_group) -> dict:
    # mixed batches; phrase and visibility batches are spans of their own
    batches = [s for s in spans if s.name == "search.executor.search_many"]
    phrases = [s for s in spans if s.name == "search.executor.search_many.phrase"]
    singles = [s for s in spans if s.name == "search.executor.search"]
    per = []
    dec = tot = 0
    cross = []
    for b in batches:
        js = _jobs_of(jobs_by_group, _under(spans, b))
        m = b.attrs.get("metrics", {})
        dec += m.get("blocks_decoded", 0)
        tot += m.get("blocks_total", 0)
        kern = [j for j in js if j.func == _KERNEL]
        ts = [j for j in js if j.func == _TERM_STATS]
        if kern:
            cross.append(m.get("job_ms", 0) / 1e3 - sum(j.dur for j in kern))
        per.append({
            "driver_s": b.dur - covered((max(j.start, b.start), min(j.end, b.end)) for j in js),
            "term_stats_jobs": len(ts),
            "term_stats_job_s": sum(j.dur for j in ts),
            "kernel_job_s": m.get("job_ms", 0) / 1e3,
            "kernel_run_s": sum(j.total("run_s") for j in kern),
            "kernel_tasks": sum(j.total("tasks") for j in kern),
            "gather_s": m.get("gather_ms", 0) / 1e3,
            "fetch_job_s": sum(j.dur for j in js if j.func == _FETCH),
            "jobs_per_batch": len(js),
            "retried": m.get("retried", 0),
            "shuffle_bytes_per_batch": sum(j.total("shuffle_read_bytes") + j.total("shuffle_write_bytes") for j in js),
            "dv_jobs_per_batch": sum(1 for j in js if j.func not in (_KERNEL, _TERM_STATS, _FETCH)),
        })
    keys = ("driver_s", "term_stats_jobs", "term_stats_job_s", "kernel_job_s", "kernel_run_s", "kernel_tasks",
            "gather_s", "fetch_job_s", "jobs_per_batch", "retried", "shuffle_bytes_per_batch", "dv_jobs_per_batch")
    out = {f"search.executor.{k}": _mean(p[k] for p in per) for k in keys}
    out["search.executor.blocks_decoded_ratio"] = dec / tot if tot else 0.0
    out["search.executor.phrase_scan_bytes"] = _mean(
        sum(j.total("input_bytes") for j in _jobs_of(jobs_by_group, _under(spans, p)) if j.func == _KERNEL)
        for p in phrases
    )
    out["search.executor.search_jobs_per_request"] = _mean(
        len(_jobs_of(jobs_by_group, _under(spans, s))) for s in singles
    )
    out["search.executor.delete_s"] = _mean(s.dur for s in spans if s.name == "search.executor.delete_by_unique_ids")
    out["search.executor.pin_s"] = _mean(s.dur for s in spans if s.name == "search.executor.pin")
    return out, cross


def segment_metrics(spans, jobs_by_group) -> dict:
    commits = [s for s in spans if s.name == "indexing.segments.commit_batch_segment"]
    return {
        "indexing.segments.commit_s": _mean(s.dur for s in commits),
        "indexing.segments.commit_jobs": _mean(len(_jobs_of(jobs_by_group, _under(spans, s))) for s in commits),
        "indexing.segments.reopen_s": _mean(s.dur for s in spans if s.name == "indexing.segments.reopen"),
    }


def tokenize_mb_per_s(texts, settings, reps: int = 3) -> float:
    from zuliasearch_spark.analysis.analyzers import tokenize

    mb = texts.str.len().sum() / 1e6
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        tokenize(texts, settings)
        runs.append(time.perf_counter() - t0)
    return mb / sorted(runs)[len(runs) // 2]


def parse_us_per_query(query_strings, reps: int = 3) -> float:
    from zuliasearch_spark.search.parser import parse_query

    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for q in query_strings:
            parse_query(q)
        runs.append(time.perf_counter() - t0)
    return sorted(runs)[len(runs) // 2] / len(query_strings) * 1e6


def report(spans, op_name, loop_s, out) -> dict:
    """Self time per span name over the traced operations, plus the
    part of each operation no engine-call span covers, against the
    measuring loop's own clock (``loop_s``): what the spans miss there is
    the benchmark's work between operations."""
    ops = [s for s in spans if s.name == op_name]
    ids = set()
    for op in ops:
        ids |= _under(spans, op)
    inside = [s for s in spans if s.sid in ids]
    wall = sum(s.dur for s in ops)
    selfs = self_times(inside)
    unspanned = selfs.pop(op_name, 0.0)
    print(f"traced {op_name}: {len(ops)} ops, wall {wall:.3f} s, measuring loop {loop_s:.3f} s", file=out)
    for name, t in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"  self {name:<44} {t:9.3f} s  {100 * t / loop_s:5.1f}%", file=out)
    print(f"  unspanned (benchmark + driver glue)          {unspanned:9.3f} s  {100 * unspanned / loop_s:5.1f}%",
          file=out)
    print(f"  outside any operation                        {loop_s - wall:9.3f} s  "
          f"{100 * (loop_s - wall) / loop_s:5.1f}%", file=out)
    uncovered = (unspanned + loop_s - wall) / loop_s
    print(f"  engine-call spans cover {100 * (1 - uncovered):.1f}% of the loop "
          f"({'within' if uncovered <= 0.10 else 'NOT within'} 10%)", file=out)
    return {"wall": wall, "uncovered_share": uncovered}
