"""The workloads: set-up, one closed-loop step, checks, metrics.

One client in one process drives the engine through its public API.
Every engine call it makes is wrapped in a span (``spans.Tracer``);
with tracing off a span costs one branch.

Each corpus is small enough for ``OracleIndex``, so the oracle checks
run against the index the workload itself measures.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig

from reqgen import SHAPES, RequestGen, matches_pred

def index_config(num_shards: int) -> IndexConfig:
    return IndexConfig(
        index_name="perfbench",
        unique_id_col="uniqueId",
        number_of_shards=num_shards,
        default_search_fields=("content",),
        field_configs=(
            FieldConfig("content", index_as=(IndexAs("content", "code_standard"),)),
            FieldConfig("lang", index_as=(IndexAs("lang", "lcKeyword"),)),
            FieldConfig("repo", index_as=(IndexAs("repo", "lcKeyword"),)),
        ),
    )


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def tail(values: list[float]) -> tuple[float, int]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile); p50 when there are fewer than twenty samples."""
    n = len(values)
    pct = max(50, int(100 * (n - 10) / n)) if n else 50
    return (float(np.percentile(values, pct)) if n else 0.0), pct


class Failures:
    """Operations attempted and failed; a failure is an exception or a
    wrong result."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def _note(self, what: str) -> None:
        self.failed += 1
        if len(self.notes) < 20:
            self.notes.append(what)
        print(f"FAILED: {what}", file=sys.stderr)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self._note(what)
        return ok

    def error(self, what: str) -> None:
        self.attempted += 1
        traceback.print_exc(file=sys.stderr)
        self._note(what)


def check_order(topk: list[dict]) -> bool:
    keys = [(-t["score"], t["shard"], t["doc_id"]) for t in topk]
    return keys == sorted(keys)


def same_result(got: dict, want: dict) -> bool:
    """F4 parity: identical ranked uniqueIds, scores within 1e-4, exact totalHits."""
    return (
        got["totalHits"] == want["totalHits"]
        and [t.get("uniqueId") for t in got["topk"]] == [t["uniqueId"] for t in want["topk"]]
        and all(abs(a["score"] - b["score"]) < 1e-4 for a, b in zip(got["topk"], want["topk"]))
    )


class Workload:
    """Shared state and helpers; subclasses define setup / step / finish
    and may check more after the loop in verify."""

    name = ""
    op_name = ""
    shards = 0

    def __init__(self, ctx):
        self.ctx = ctx  # run.Context: spark, tracer, seed, work dir, sizes
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.fail = Failures()
        self.cfg = index_config(self.shards)
        self.oracle = None
        self.setup_parts: dict[str, float] = {}

    def setup(self) -> None: ...
    def step(self, i: int) -> None: ...
    def verify(self) -> None:
        pass

    def finish(self) -> dict: ...

    def timed(self, key: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup_parts[key] = time.perf_counter() - t0
        return out

    def gen_corpus(self, n_docs: int):
        """The seeded F1 code corpus plus the stored numeric column
        ``n_bytes``, as one parquet file whose row groups give about two
        scan splits per core. One file keeps split order = row order, so
        doc ids follow the order OracleIndex assumes."""
        from zuliasearch_spark.indexing.corpus import gen_corpus_pandas

        def write():
            pdf = gen_corpus_pandas(n_docs, seed=self.ctx.seed)
            pdf["n_bytes"] = pdf["content"].str.len().astype("int32")
            path = os.path.join(self.ctx.work, "corpus")
            os.makedirs(path)
            splits = 2 * self.ctx.cpus
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), os.path.join(path, "part-0.parquet"),
                           row_group_size=-(-n_docs // splits))
            total = dir_bytes(path)
            self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(1 << 16, -(-total // splits))))
            return pdf, self.spark.read.parquet(path)

        with self.tr.span("setup.corpus"):
            self.pdf, corpus = self.timed("corpus", write)
        self.n_docs = n_docs
        self.uids = list(self.pdf["uniqueId"])
        self.source_bytes = int(self.pdf["n_bytes"].sum())
        return corpus

    def oracle_requests(self, gen: RequestGen) -> tuple[dict, dict]:
        """Two requests of every F3 shape and two known answers."""
        reqs, known = {}, {}
        for s in SHAPES:
            for j in range(2):
                reqs[f"v_{s}{j}"] = gen.shaped(s)
        for j in range(2):
            known[f"v_sym{j}"], reqs[f"v_sym{j}"] = gen.sym()
        return reqs, known

    def check_oracle(self, reqs: dict, got: dict, known: dict | None = None) -> None:
        """Engine results against OracleIndex over the same corpus:
        identical ranked uniqueIds, scores within 1e-4, exact totalHits;
        and each known answer."""
        from zuliasearch_spark.oracle.bm25_oracle import OracleIndex

        if self.oracle is None:
            self.oracle = OracleIndex(self.pdf.drop(columns=["n_bytes"]), self.cfg)
        for qid, req in reqs.items():
            self.fail.check(same_result(got[qid], self.oracle.search(req)), f"oracle mismatch {qid}: {req}")
        for qid, d in (known or {}).items():
            self.check_known(got[qid], d, qid)

    def check_known(self, res: dict, doc: int, what: str) -> None:
        self.fail.check(
            res["totalHits"] == 1 and res["topk"][0].get("uniqueId") == self.uids[doc],
            f"{what}: sym_{doc}_a gave {res['totalHits']} hits",
        )

    def run_op(self, i: int, fn) -> float:
        """One closed-loop step; a step that raises counts as failed."""
        t0 = time.perf_counter()
        try:
            with self.tr.span(self.op_name, req=i):
                fn(i)
        except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
            self.fail.error(f"{self.op_name} {i} raised")
        return time.perf_counter() - t0


# ---------------------------------------------------------------------------


class BulkBuild(Workload):
    """Each operation: build_index + write_index of the full corpus."""

    name = "bulk_build"
    op_name = "bulk_build.op"
    shards = 16

    def setup(self):
        self.corpus = self.gen_corpus(self.ctx.sizes["bulk_docs"])
        # two warm-up builds: the first starts JVM code paths and the
        # python worker pool, and the one after it is still slower than
        # the rest
        for r in range(2):
            warm = os.path.join(self.ctx.work, f"warm{r}")
            self.timed(f"build{r}", lambda: self.build(warm))
            shutil.rmtree(warm, ignore_errors=True)
        self.op_s: list[float] = []
        self.index_ratio: list[float] = []
        self.last_index = None

    def build(self, path):
        from zuliasearch_spark.indexing.builder import build_index, write_index

        with self.tr.span("indexing.builder.build_index"):
            tables = build_index(self.corpus, self.cfg, stored_cols=("n_bytes",))
        with self.tr.span("indexing.builder.write_index"):
            write_index(tables, path)

    def step(self, i):
        path = os.path.join(self.ctx.work, f"index_{i}")
        self.op_s.append(self.run_op(i, lambda i: self.build(path)))
        # untimed: every build holds every doc exactly once
        counts = pq.read_table(os.path.join(path, "shard_counts")).column("num_docs").to_pylist()
        self.fail.check(sum(counts) == self.n_docs and len(counts) == self.shards, f"build {i}: shard counts {counts}")
        self.index_ratio.append(dir_bytes(path) / self.source_bytes)
        if self.last_index:
            shutil.rmtree(self.last_index, ignore_errors=True)
        self.last_index = path

    def verify(self):
        """Oracle parity and known answers on the last build."""
        from zuliasearch_spark.indexing.builder import read_index
        from zuliasearch_spark.search.executor import SearchEngine

        eng = SearchEngine(read_index(self.spark, self.last_index, self.cfg))
        reqs, known = self.oracle_requests(RequestGen(self.ctx.seed, self.n_docs))
        self.check_oracle(reqs, eng.search_many(reqs), known)

    def finish(self):
        med = statistics.median(self.op_s)
        return {
            "throughput_per_s": self.n_docs / med,
            "op_latency_p50_s": med,
            "index_bytes_per_source_byte": statistics.median(self.index_ratio),
            "_report": {"build_docs_per_s": self.n_docs / med, "build_s": self.op_s, "docs": self.n_docs},
        }


# ---------------------------------------------------------------------------


class ServeMixedRW(Workload):
    """Reads with doc-values leaves, single requests, phrases, deletes
    and upserts against a 2-shard segmented index."""

    name = "serve_mixed_rw"
    op_name = "serve_mixed_rw.cycle"
    shards = 2

    def setup(self):
        from zuliasearch_spark.indexing.segments import SegmentedIndexWriter

        s = self.ctx.sizes
        self.path = os.path.join(self.ctx.work, "segidx")
        corpus = self.gen_corpus(s["mixed_docs"])

        def build():
            with self.tr.span("setup.build"):
                SegmentedIndexWriter(self.path, self.cfg, n_segments=1, stored_cols=("n_bytes",)).build(corpus)

        self.timed("build", build)
        self.index_ratio = dir_bytes(self.path) / self.source_bytes
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.shards))
        self.engine = self.timed("open", self.open)
        self.ctx.pinned_mb = self.ctx.storage_mb()

        # disjoint pools: a delete takes uids never deleted before (the
        # pool lasts 37 cycles, a cycle takes over 10 s); an upsert takes
        # the next slot of its pool, wrapping round, so later upserts
        # replace docs an earlier upsert already replaced
        rng = np.random.default_rng([self.ctx.seed, 0xD17E])
        order = rng.permutation(self.n_docs)
        half = self.n_docs // 2
        self.delete_pool = [self.uids[j] for j in order[:half]]
        self.upsert_pool = [self.uids[j] for j in order[half:]]
        self.gen = RequestGen(self.ctx.seed, self.n_docs)
        self.doc_tokens = [c.split(" ")[:400] for c in self.pdf["content"].head(200)]
        self.deleted: set[str] = set()
        self.model()
        self.next_segment = 1
        self.slot_marker: dict[int, str] = {}
        self.kind_s: dict[str, list[float]] = {}
        self.visible_s: list[float] = []
        self.n_ops = 0
        # warm-up: the first call of each read route is much slower than
        # the rest, so every route runs once here: a batch plus every F3
        # shape (the batch checked like any other, the shapes against the
        # oracle: no write yet), a single search, a phrase batch
        reqs, dv = self.mixed_batch(-1)
        vreqs, known = self.oracle_requests(RequestGen(self.ctx.seed + 2, self.n_docs))
        single = {"single": self.gen.shaped("hot")}
        phrases = {"phrase": self.gen.phrase(self.doc_tokens)}

        def warm():
            got = self.engine.search_many({**reqs, **vreqs})
            got["single"] = self.engine.search(single["single"])
            return {**got, **self.engine.search_many(phrases)}

        got = self.timed("warmup", warm)
        self.check_batch("warm-up", reqs, dv, got)
        self.check_oracle({**vreqs, **single, **phrases}, got, known)

    def open(self):
        """SearchEngine over freshly read segments, pinned (the serving topology)."""
        from zuliasearch_spark.indexing.segments import read_segmented_index
        from zuliasearch_spark.search.executor import SearchEngine

        with self.tr.span("search.executor.open"):
            eng = SearchEngine(read_segmented_index(self.spark, self.path, self.cfg))
        with self.tr.span("search.executor.pin"):
            eng.pin()
        return eng

    def model(self):
        """Client-side model of the live index for exact doc-values
        checks: analyzed terms and n_bytes per uniqueId."""
        from zuliasearch_spark.analysis.analyzers import analyze_series

        doc_idx, terms = analyze_series(self.pdf["content"], self.cfg.analyzer("code_standard"))
        base: dict[str, set] = {u: set() for u in self.uids}
        for d, t in zip(doc_idx, terms):
            base[self.uids[d]].add(t)
        self.base_terms = {u: frozenset(t) for u, t in base.items()}
        self.terms = dict(self.base_terms)
        self.n_bytes = dict(zip(self.uids, self.pdf["n_bytes"]))

    # -- requests ------------------------------------------------------------

    def mixed_batch(self, c: int):
        """One request of each doc-values kind and four F3 shapes, so
        every batch costs about the same."""
        reqs, dv = {}, {}
        nb = np.fromiter(self.n_bytes.values(), dtype=np.int64)
        for kind in RequestGen.DV_KINDS:
            qid = f"m{c}_{kind}"
            reqs[qid], words, pred = self.gen.dv(kind, nb)
            dv[qid] = (kind, words, pred)
        for j in range(4):
            reqs[f"m{c}_{j}"] = self.gen.shaped(SHAPES[(4 * c + j) % len(SHAPES)])
        return reqs, dv

    def expected_dv(self, kind, words, pred) -> set[str]:
        a, b = words
        out = set()
        for u, t in self.terms.items():
            if u in self.deleted:
                continue
            num = matches_pred(pred, self.n_bytes[u])
            if kind in ("range_and", "numeric_set"):
                ok = a in t and num
            elif kind == "range_should":
                ok = a in t or num
            else:
                ok = (a in t or num) and b in t
            if ok:
                out.add(u)
        return out

    def check_dv(self, what, res, spec) -> None:
        exp = self.expected_dv(*spec)
        got = [t.get("uniqueId") for t in res["topk"]]
        self.fail.check(
            res["totalHits"] == len(exp) and set(got) <= exp and len(got) == min(10, len(exp))
            and check_order(res["topk"]),
            f"{what}: totalHits {res['totalHits']} vs {len(exp)}",
        )

    def check_plain(self, what, res) -> None:
        got = [t.get("uniqueId") for t in res["topk"]]
        self.fail.check(
            check_order(res["topk"]) and not (set(got) & self.deleted) and None not in got,
            f"{what}: order, or a deleted uid returned",
        )

    def check_batch(self, what, reqs, dv, res) -> None:
        for qid in reqs:
            if qid in dv:
                self.check_dv(f"{what} {qid} {reqs[qid].qs}", res[qid], dv[qid])
            else:
                self.check_plain(f"{what} {qid}", res[qid])

    # -- the cycle -------------------------------------------------------------

    def call(self, kind: str, span: str, fn):
        t0 = time.perf_counter()
        with self.tr.span(span) as sp:
            out = fn()
            if sp is not None and kind == "batch":
                sp.attrs["metrics"] = dict(self.engine.last_metrics)
        self.kind_s.setdefault(kind, []).append(time.perf_counter() - t0)
        self.n_ops += 1
        return out

    def step(self, c):
        s = self.ctx.sizes
        n = s["mixed_batches"]
        batches = [self.mixed_batch(n * c + k) for k in range(n)]
        single = self.gen.shaped(("hot", "and", "filter", "camel")[c % 4])
        phrases = {f"p{c}": self.gen.phrase(self.doc_tokens)}
        victims = self.delete_pool[c * s["mixed_deletes"]:(c + 1) * s["mixed_deletes"]]

        def batch(k):
            reqs, dv = batches[k]
            res = self.call("batch", "search.executor.search_many", lambda: self.engine.search_many(reqs))
            self.check_batch(f"cycle {c}", reqs, dv, res)

        def cycle(c):
            batch(0)
            out = self.call("single", "search.executor.search", lambda: self.engine.search(single))
            self.check_plain(f"cycle {c} single", out)
            if not self.deleted:  # the index is still as built
                self.check_oracle({"single": single}, {"single": out})
            batch(1)
            res = self.call("phrase", "search.executor.search_many.phrase", lambda: self.engine.search_many(phrases))
            self.check_plain(f"cycle {c} phrase", res[f"p{c}"])
            if not self.deleted:
                self.check_oracle(phrases, res)
            for k in range(2, n):
                batch(k)
            marked = self.call("delete", "search.executor.delete_by_unique_ids",
                               lambda: self.engine.delete_by_unique_ids(victims))
            self.deleted |= set(victims)
            self.fail.check(marked == len(victims), f"cycle {c}: deleted {marked} of {len(victims)}")
            self.upsert(c)

        self.run_op(c, cycle)

    def upsert(self, c):
        """Replace live docs by copies that carry a marker token, reopen,
        and time until the marker is searchable; then check that the
        replaced docs have one live copy each."""
        from pyspark.sql import functions as F

        from zuliasearch_spark.indexing.segments import commit_batch_segment
        from zuliasearch_spark.search.query import QueryClause as C
        from zuliasearch_spark.search.query import SearchRequest

        size = self.ctx.sizes["upsert_docs"]
        k = (self.next_segment - 1) % (len(self.upsert_pool) // size)
        uids = self.upsert_pool[k * size:(k + 1) * size]
        marker = "zqmark" + "".join(chr(97 + int(d)) for d in str(c))
        batch = self.pdf[self.pdf["uniqueId"].isin(set(uids))].copy()
        batch["content"] = batch["content"] + " " + marker
        batch["n_bytes"] = batch["content"].str.len().astype("int32")
        df = self.spark.createDataFrame(batch).withColumn("n_bytes", F.col("n_bytes").cast("int"))
        t0 = time.perf_counter()
        ok = self.call("commit", "indexing.segments.commit_batch_segment",
                       lambda: commit_batch_segment(df, self.next_segment, self.path, self.cfg, stored_cols=("n_bytes",)))
        self.fail.check(bool(ok), f"upsert {c}: segment not committed")
        self.next_segment += 1
        old = self.engine
        self.engine = self.call("reopen", "indexing.segments.reopen", self.open)
        old.unpin()
        # the marker, and three replaced docs by their known answers
        docs = [self.uids.index(u) for u in uids if self.uids.index(u) >= 10][:3]
        reqs = {f"u{d}": self.gen.sym(d)[1] for d in docs}
        reqs["marker"] = SearchRequest((C("SCORE_SHOULD", q=marker, qf=("content",)),), amount=size + 10)
        stale = self.slot_marker.get(k)  # the marker these docs carried until now
        if stale:
            reqs["stale"] = SearchRequest((C("SCORE_SHOULD", q=stale, qf=("content",)),), amount=10)
        self.slot_marker[k] = marker
        res = self.call("visible", "search.executor.search_many.visible", lambda: self.engine.search_many(reqs))
        self.visible_s.append(time.perf_counter() - t0)
        got = [t.get("uniqueId") for t in res["marker"]["topk"]]
        self.fail.check(res["marker"]["totalHits"] == len(uids) and sorted(got) == sorted(uids),
                        f"upsert {c}: marker hits {res['marker']['totalHits']} of {len(uids)}")
        if stale:
            self.fail.check(res["stale"]["totalHits"] == 0,
                            f"upsert {c}: {res['stale']['totalHits']} stale copies still carry {stale}")
        for d in docs:
            self.check_known(res[f"u{d}"], d, f"upsert {c}: copies of doc {d}")
        # the replacement's terms are the original content's plus the
        # marker; an earlier marker on the same doc is gone
        for u, content in zip(batch["uniqueId"], batch["content"]):
            self.terms[u] = self.base_terms[u] | {marker}
            self.n_bytes[u] = len(content)

    def finish(self):
        from zuliasearch_spark.indexing.segments import committed_segments

        bs, rs = self.kind_s.get("batch", []), self.kind_s.get("single", [])
        bt, bp = tail(bs)
        rt, rp = tail(rs)
        ops_s = self.n_ops / sum(sum(v) for v in self.kind_s.values())
        self.ctx.segments_open = len(committed_segments(self.path))
        return {
            "throughput_per_s": ops_s,
            "op_latency_p50_s": statistics.median(bs),
            "index_bytes_per_source_byte": self.index_ratio,
            "_report": {
                "mixed_ops_per_s": ops_s,
                "batch_latency_p50_s": statistics.median(bs), "batch_s": bs,
                "batch_latency_tail_s": bt, "batch_latency_tail_pct": bp,
                "request_latency_p50_s": statistics.median(rs) if rs else 0.0,
                "request_latency_tail_s": rt, "request_latency_tail_pct": rp,
                "upsert_visible_s": statistics.median(self.visible_s) if self.visible_s else 0.0,
                "ops": {k: len(v) for k, v in self.kind_s.items()},
                "deleted": len(self.deleted),
            },
        }


WORKLOADS = {w.name: w for w in (BulkBuild, ServeMixedRW)}
