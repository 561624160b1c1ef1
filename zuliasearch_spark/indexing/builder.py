"""Distributed inverted-index build: corpus DataFrame → index tables.

The Spark-first re-expression of the reference's Store/index path
(ShardDocumentIndexer.java:74-103 routes BSON docs through per-field
Lucene indexers into sharded Lucene indexes; routing
ShardUtil.java:3-20). Here the whole build is a declarative plan:

    corpus
      → shard = djb2(uniqueId) % S            (vectorized pandas UDF)
      → doc_id = row_number per shard          (dense ids ⇒ tight delta gaps)
      → mapInArrow tokenize (byte-kernel analyzers, Arrow in/out)
        ⇒ doc-term rows (field, shard, doc_id, dl, terms[], tfs[])
      → groupBy(field, shard, bucket).applyInArrow(block encoder)
        ⇒ postings blocks (delta-gap varint docIDs, varint TFs,
          varint dls, per-block max_tf/min_dl/sum_tf) + one NORMS row
          per group (term=NULL: distinct docIDs + field lengths)
      → term_stats / field_stats / shard stats = plain groupBy·agg
        over BLOCK METADATA (no re-tokenize, no decode)

The single expensive pass (tokenize → one shuffle → encode) runs
exactly ONCE; every statistics table derives relationally from the
postings blocks' metadata columns:

    term_stats  = Σ n, Σ sum_tf       per (field, shard, term)
    field_stats = Σ n, Σ sum_dl       per (field, shard) over norms rows

Scale design (the part that must survive 10^12 docs / 1000 executors):

- **Hot-term skew**: postings groups are keyed (field, shard,
  bucket) where bucket = doc_id >> log2(docs_per_bucket). A group's
  size is bounded by docs_per_bucket × avg distinct terms/doc — it
  does NOT grow with corpus size or term popularity, so "the"/"def"
  never melt one reducer; a hot term's postings simply span many
  bucket rows, which the query kernel concatenates (block streams are
  doc-ordered across buckets by construction). This replaces an
  explicit salt+re-merge: the doc-range IS the salt, and no second
  shuffle is needed because bucket order == docID order.
- **Map-side combine**: the stats aggregations run over postings
  block metadata (orders of magnitude smaller than the tall frame)
  with partial aggregation before their shuffles.
- **Norms travel with postings**: each block stores the docs' field
  lengths (varint). +1-2 bytes/posting versus Lucene's separate
  per-doc norms file, but a query then touches ONLY the posting rows
  of its query terms — no per-query shuffle/broadcast of a
  shard-wide norms table. At 100 TB that trade wins: queries read
  KBs, not the norms of every doc in every shard.
- **Pushdown**: written postings are partitioned by (field) and
  sorted by (term) within files so Parquet row-group min/max stats
  prune non-query terms at scan time.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zuliasearch_spark.analysis.analyzers import term_freqs
from zuliasearch_spark.config import AnalyzerSettings, IndexConfig
from zuliasearch_spark.util.hashing import shard_for_series
from zuliasearch_spark.util.varint import varint_encode, varint_encode_with_offsets

POSTINGS_SCHEMA = (
    "field string, shard int, bucket long, term string, block_id int, "
    "first_doc long, last_doc long, n int, doc_bytes binary, tf_bytes binary, "
    "dl_bytes binary, pos_bytes binary, max_tf int, min_dl int, sum_tf long, sum_dl long"
)

TALL_SCHEMA = (
    "field string, shard int, doc_id long, dl int, "
    "terms array<string>, tfs array<int>, poss array<int>"
)


@dataclass
class IndexTables:
    """The index as DataFrames (backed by memory or parquet)."""

    config: IndexConfig
    doc_map: DataFrame  # shard, doc_id, uniqueId, content_sha256 [+ stored cols]
    postings: DataFrame  # POSTINGS_SCHEMA; term IS NULL rows = per-group norms
    term_stats: DataFrame  # field, shard, term, df, ttf
    field_stats: DataFrame  # field, shard, doc_count, sum_dl
    shard_counts: DataFrame  # shard, num_docs (doc_ids are dense 0..num_docs-1)
    # filesystem root when parquet-backed: enables durable tombstones
    # (<root>/tombstones/) that survive engine restarts
    root_path: str | None = None
    # IVF coarse centroids per indexed vector field name (tiny —
    # cells × dims floats, driver-side; persisted as
    # <root>/vector_centroids.json). None when no field uses
    # index_type="IVF".
    vector_centroids: dict | None = None
    # HNSW adjacency table for fields with index_type="HNSW"
    # (indexing/hnsw.py): field, graph_id, shard, doc_id, level,
    # neighbors array<long>, vector array<float> (level-0 rows only).
    # None when no field uses a graph. Written partitioned by
    # (field, shard) so a traversal task scans only its partition.
    vector_graphs: DataFrame | None = None

    def persist(self) -> "IndexTables":
        for df in (self.doc_map, self.postings, self.term_stats, self.field_stats, self.shard_counts):
            df.persist()
        if self.vector_graphs is not None:
            self.vector_graphs.persist()
        return self

    def unpersist(self) -> None:
        for df in (self.doc_map, self.postings, self.term_stats, self.field_stats, self.shard_counts):
            df.unpersist()
        if self.vector_graphs is not None:
            self.vector_graphs.unpersist()


def _make_tokenizer(field_specs, store_positions: bool = True, id_cfg=None, uid_col: str | None = None):
    """mapInArrow generator: corpus batch → per-doc term rows for
    EVERY indexed field in one pass.

    ``field_specs`` = [(stored_col, indexed_field_name, settings)].
    One kernel handles all fields so the corpus is scanned ONCE per
    build (round 1 scanned it once per field) and, critically, the
    tall frame is a single narrow branch — no union — so the
    partition indices seen by upstream id assignment stay the scan's
    own (TaskContext.partitionId is stage-relative; a union offsets
    it per branch).

    Arrow in, Arrow out: the content strings never become Python
    objects — the analyzer kernel reads the Arrow string buffer
    directly and the emitted term column is the kernel's own Arrow
    array. ``poss`` is each doc's flat position stream in (term,
    position) order — run lengths are the ``tfs`` entries — feeding
    the block encoder's positions stream (empty when positions off).
    """
    import pyarrow as pa

    from zuliasearch_spark.analysis.analyzers import (
        term_freqs_list,
        term_freqs_positions,
        term_freqs_positions_list,
    )

    def tokenize(batches):
        # when id_cfg is set, (shard, doc_id) are assigned HERE from
        # the count-pass offsets — the corpus then crosses the
        # JVM→Python boundary exactly once for the whole postings path
        assigner = _IdAssigner(*id_cfg) if id_cfg is not None else None
        for rb in batches:
            names = rb.schema.names
            if assigner is not None:
                shard, docid = assigner.next_ids(rb.column(names.index(uid_col)))
            else:
                shard = rb.column(names.index("shard")).to_numpy()
                docid = rb.column(names.index("doc_id")).to_numpy()
            for col, field_name, settings in field_specs:
                arr = rb.column(names.index(col))
                is_list = pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
                import pyarrow.compute as pc

                if is_list:
                    # multivalued field: each value runs its OWN
                    # analyzer chain with a 100-position gap between
                    # values (ZuliaFieldAnalyzer.getPositionIncrementGap
                    # — no cross-value phrases/shingles; KEYWORD emits
                    # one token per value, FieldWildcardTest
                    # docLanguage). The null mask stays the LIST's: an
                    # empty list is a present field (FIELDS_LIST_FIELD
                    # / NullEmptyTest `comments:*` matches List.of()).
                    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
                    valid = pc.is_valid(arr).to_numpy(zero_copy_only=False)
                else:
                    valid = pc.is_valid(
                        arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
                    ).to_numpy(zero_copy_only=False)
                if is_list:
                    if store_positions:
                        doc_idx, term_arr, tf, dl, posflat = term_freqs_positions_list(arr, settings)
                    else:
                        doc_idx, term_arr, tf, dl = term_freqs_list(arr, settings)
                        posflat = np.empty(0, dtype=np.int64)
                elif store_positions:
                    doc_idx, term_arr, tf, dl, posflat = term_freqs_positions(arr, settings)
                else:
                    doc_idx, term_arr, tf, dl = term_freqs(arr, settings)
                    posflat = np.empty(0, dtype=np.int64)
                # pack per-DOC rows (list columns): the downstream
                # shuffle moves ~200x fewer rows for the same bytes —
                # per-row serialization overhead at the exchange
                # dominates otherwise. doc_idx ascending by construction.
                # PRESENT = every doc whose field value is non-null —
                # zero-token docs ride along with dl=0 and empty term
                # lists, feeding the norms stream's field-exists
                # semantics (a present-but-empty value IS the field
                # existing, FieldExistsQuery / FIELDS_LIST_FIELD).
                n_in = len(arr)
                present = np.flatnonzero(valid).astype(np.int64)
                pair_counts = np.bincount(doc_idx, minlength=n_in).astype(np.int64)
                offsets_np = np.zeros(present.size + 1, dtype=np.int64)
                np.cumsum(pair_counts[present], out=offsets_np[1:])
                offsets = pa.array(offsets_np.astype(np.int32), type=pa.int32())
                term_vals = term_arr.cast(pa.string()) if term_arr.type != pa.string() else term_arr
                if store_positions and posflat.size:
                    # per-present-doc token counts == dl (Σ tf per doc)
                    pos_offsets = np.zeros(present.size + 1, dtype=np.int64)
                    np.cumsum(dl[present], out=pos_offsets[1:])
                    poss = pa.ListArray.from_arrays(
                        pa.array(pos_offsets.astype(np.int32), type=pa.int32()),
                        pa.array(posflat.astype(np.int32), type=pa.int32()),
                    )
                else:
                    poss = pa.ListArray.from_arrays(
                        pa.array(np.zeros(present.size + 1, dtype=np.int32), type=pa.int32()),
                        pa.array([], type=pa.int32()),
                    )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([field_name] * present.size, type=pa.string()),
                        pa.array(shard[present], type=pa.int32()),
                        pa.array(docid[present], type=pa.int64()),
                        pa.array(dl[present].astype(np.int32), type=pa.int32()),
                        pa.ListArray.from_arrays(offsets, term_vals),
                        pa.ListArray.from_arrays(offsets, pa.array(tf.astype(np.int32), type=pa.int32())),
                        poss,
                    ],
                    names=["field", "shard", "doc_id", "dl", "terms", "tfs", "poss"],
                )

    return tokenize


def _make_block_encoder(block_size: int):
    """applyInArrow kernel: one (field, shard, bucket) group → block rows.

    All terms of the bucket are encoded in a single vectorized pass:
    dictionary-encode terms (Arrow C++), lexsort by (term, doc_id), split each term run
    into blocks of ``block_size``, varint-encode the whole partition
    once and slice per block. Additionally emits ONE norms row
    (term = NULL) carrying the group's distinct docIDs and their
    field lengths — the source for field_stats and resumable
    per-group lineage (row counts live in block metadata).
    """

    import pyarrow as pa
    import pyarrow.compute as pc

    def encode(key, tbl):
        field, shard, bucket = (k.as_py() if hasattr(k, "as_py") else k for k in key)
        if tbl.num_rows == 0:
            return tbl
        # unpack per-doc list rows → flat (doc, term, tf, dl) arrays
        terms_col = tbl.column("terms").combine_chunks()
        flat_terms = terms_col.flatten()
        offs = terms_col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        counts = np.diff(offs)
        # dictionary_encode runs in Arrow C++ — terms never become PyStr
        dict_arr = pc.dictionary_encode(flat_terms)
        codes = dict_arr.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        uniques = dict_arr.dictionary
        row_docs = tbl.column("doc_id").to_numpy().astype(np.int64)
        row_dls = tbl.column("dl").to_numpy().astype(np.int64)
        doc = np.repeat(row_docs, counts)
        dl = np.repeat(row_dls, counts)
        tf = tbl.column("tfs").combine_chunks().flatten().to_numpy().astype(np.int64)
        posflat = tbl.column("poss").combine_chunks().flatten().to_numpy().astype(np.int64)
        # norms entry source: EVERY doc row of the group — including
        # zero-token docs (dl=0), which carry field-exists semantics
        # (FieldExistsQuery; NullEmptyTest title:* matches "") but are
        # excluded from the Lucene docCount recorded in sum_tf below
        norm_order = np.argsort(row_docs)
        udoc = row_docs[norm_order]
        udl = row_dls[norm_order]
        if len(codes) == 0:
            # group holds only zero-token docs: emit just the norms row
            ndeltas = np.empty_like(udoc)
            ndeltas[0] = udoc[0]
            np.subtract(udoc[1:], udoc[:-1], out=ndeltas[1:])
            return pa.table(
                {
                    "field": pa.array([field], type=pa.string()),
                    "shard": pa.array([shard], type=pa.int32()),
                    "bucket": pa.array([bucket], type=pa.int64()),
                    "term": pa.array([None], type=pa.string()),
                    "block_id": pa.array([-1], type=pa.int32()),
                    "first_doc": pa.array([udoc[0]], type=pa.int64()),
                    "last_doc": pa.array([udoc[-1]], type=pa.int64()),
                    "n": pa.array([udoc.size], type=pa.int32()),
                    "doc_bytes": pa.array([varint_encode(ndeltas)], type=pa.binary()),
                    "tf_bytes": pa.array([b""], type=pa.binary()),
                    "dl_bytes": pa.array([varint_encode(udl)], type=pa.binary()),
                    "pos_bytes": pa.array([b""], type=pa.binary()),
                    "max_tf": pa.array([0], type=pa.int32()),
                    "min_dl": pa.array([0], type=pa.int32()),
                    "sum_tf": pa.array([int((udl > 0).sum())], type=pa.int64()),
                    "sum_dl": pa.array([int(udl.sum())], type=pa.int64()),
                }
            )
        order = np.lexsort((doc, codes))
        if posflat.size:
            # positions travel as pair runs (lengths = tf): gather the
            # runs into the sorted pair order before re-slicing
            starts_orig = np.zeros(tf.size, dtype=np.int64)
            np.cumsum(tf[:-1], out=starts_orig[1:])
            tf_sorted = tf[order]
            from zuliasearch_spark.analysis.analyzers import _ranges_within

            gather = np.repeat(starts_orig[order], tf_sorted)
            gather += _ranges_within(tf_sorted.astype(np.int32)).astype(np.int64)
            posflat = posflat[gather]
        codes, doc, tf, dl = codes[order], doc[order], tf[order], dl[order]

        new_term = np.empty(len(codes), dtype=bool)
        new_term[0] = True
        np.not_equal(codes[1:], codes[:-1], out=new_term[1:])
        # rank within term run
        idx = np.arange(len(codes), dtype=np.int64)
        run_start = np.maximum.accumulate(np.where(new_term, idx, 0))
        rank = idx - run_start
        block_id = (rank // block_size).astype(np.int32)
        new_block = new_term | ((rank % block_size) == 0)
        bstarts = np.flatnonzero(new_block).astype(np.int64)
        bends = np.concatenate((bstarts[1:], [len(codes)]))

        # delta-gap: first value of each block absolute, rest gaps
        deltas = np.empty_like(doc)
        deltas[0] = doc[0]
        np.subtract(doc[1:], doc[:-1], out=deltas[1:])
        deltas[bstarts] = doc[bstarts]

        doc_buf, doc_offs = varint_encode_with_offsets(deltas)
        tf_buf, tf_offs = varint_encode_with_offsets(tf)
        dl_buf, dl_offs = varint_encode_with_offsets(dl)

        tf_cum = np.zeros(len(tf) + 1, dtype=np.int64)
        np.cumsum(tf, out=tf_cum[1:])

        if posflat.size:
            # positions stream: per posting run (length tf), first
            # position absolute, rest gaps — freq implies run length,
            # exactly Lucene's .pos stream layout
            run_starts = tf_cum[:-1]
            pdeltas = np.empty_like(posflat)
            pdeltas[0] = posflat[0]
            np.subtract(posflat[1:], posflat[:-1], out=pdeltas[1:])
            pdeltas[run_starts] = posflat[run_starts]
            pos_buf, pos_offs = varint_encode_with_offsets(pdeltas)
            mv_pos = memoryview(pos_buf)

        mv_doc, mv_tf, mv_dl = memoryview(doc_buf), memoryview(tf_buf), memoryview(dl_buf)
        nb = bstarts.size
        # norms entry (appended as the last row, term = NULL): every
        # doc row of the group ascending (udoc/udl built above, dl=0
        # docs included for field-exists)
        ndeltas = np.empty_like(udoc)
        ndeltas[0] = udoc[0]
        np.subtract(udoc[1:], udoc[:-1], out=ndeltas[1:])

        term_col = pa.concat_arrays(
            [
                pc.take(uniques, pa.array(codes[bstarts], type=pa.int64())).cast(pa.string()),
                pa.array([None], type=pa.string()),
            ]
        )
        doc_bytes = [bytes(mv_doc[doc_offs[a] : doc_offs[b]]) for a, b in zip(bstarts, bends)]
        tf_bytes = [bytes(mv_tf[tf_offs[a] : tf_offs[b]]) for a, b in zip(bstarts, bends)]
        dl_bytes = [bytes(mv_dl[dl_offs[a] : dl_offs[b]]) for a, b in zip(bstarts, bends)]
        if posflat.size:
            pos_bytes = [
                bytes(mv_pos[pos_offs[tf_cum[a]] : pos_offs[tf_cum[b]]])
                for a, b in zip(bstarts, bends)
            ]
        else:
            pos_bytes = [b""] * nb
        doc_bytes.append(varint_encode(ndeltas))
        tf_bytes.append(b"")
        dl_bytes.append(varint_encode(udl))
        pos_bytes.append(b"")

        def i32(block_vals, norm_val):
            return pa.array(np.concatenate((block_vals.astype(np.int32), [np.int32(norm_val)])), type=pa.int32())

        def i64(block_vals, norm_val):
            return pa.array(np.concatenate((block_vals.astype(np.int64), [np.int64(norm_val)])), type=pa.int64())

        return pa.table(
            {
                "field": pa.array([field] * (nb + 1), type=pa.string()),
                "shard": pa.array(np.full(nb + 1, shard, dtype=np.int32), type=pa.int32()),
                "bucket": pa.array(np.full(nb + 1, bucket, dtype=np.int64), type=pa.int64()),
                "term": term_col,
                "block_id": i32(block_id[bstarts], -1),
                "first_doc": i64(doc[bstarts], udoc[0]),
                "last_doc": i64(doc[bends - 1], udoc[-1]),
                "n": i32((bends - bstarts), udoc.size),
                "doc_bytes": pa.array(doc_bytes, type=pa.binary()),
                "tf_bytes": pa.array(tf_bytes, type=pa.binary()),
                "dl_bytes": pa.array(dl_bytes, type=pa.binary()),
                "pos_bytes": pa.array(pos_bytes, type=pa.binary()),
                "max_tf": i32(np.maximum.reduceat(tf, bstarts), 0),
                "min_dl": i32(np.minimum.reduceat(dl, bstarts), 0),
                # norms-row sum_tf records the Lucene docCount (docs
                # with >=1 token) — `n` must stay the byte-stream entry
                # count for decode, so the stat rides here
                "sum_tf": i64(tf_cum[bends] - tf_cum[bstarts], int((udl > 0).sum())),
                "sum_dl": i64(np.zeros(nb), udl.sum()),
            }
        )

    return encode


def shard_udf(num_shards: int):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def _shard(uid: pd.Series) -> pd.Series:
        return pd.Series(shard_for_series(uid, num_shards))

    return _shard


def _shards_of_arrow(uid_arr, num_shards: int) -> np.ndarray:
    """djb2(uid) % num_shards for an Arrow string column (Arrow →
    pandas uses the fast block path; the hash itself is vectorized)."""
    import pyarrow as pa

    if isinstance(uid_arr, pa.ChunkedArray):
        uid_arr = uid_arr.combine_chunks()
    return np.asarray(shard_for_series(uid_arr.to_pandas(), num_shards))


def id_offsets(corpus: DataFrame, config: IndexConfig) -> dict[int, dict[int, int]]:
    """Pass 1 of scale-safe id assignment: per-(scan-partition, shard)
    doc-count offsets.

    One shuffle-free job over just the uniqueId column (column-pruned
    scan; split planning is by file byte ranges, so the partition
    layout matches the consuming pass): a mapInArrow kernel counts
    docs per shard per partition and emits P×S tiny rows, which the
    driver prefix-sums into ``offsets[pid][shard]`` = the first doc_id
    of that partition's slice of the shard.

    This replaces the round-1 row_number()-over-shard Window + doc-
    level broadcast join (parallelism capped at #shards; broadcast
    died past ~10⁷ docs/segment) with NO window, NO join and NO
    shuffle of the wide corpus. doc_id = arrival order within shard —
    the same contract as Lucene segment docIDs. Deterministic for
    deterministic input plans (parquet scans, createDataFrame);
    shuffled lineage must be materialized first (build_index's upsert
    path localCheckpoints for exactly this reason).
    """
    import pyarrow as pa

    uid = config.unique_id_col
    num_shards = config.number_of_shards

    def count_kernel(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        counts: dict[int, int] = {}
        for rb in batches:
            sh = _shards_of_arrow(rb.column(0), num_shards)
            for s, n in zip(*np.unique(sh, return_counts=True)):
                counts[int(s)] = counts.get(int(s), 0) + int(n)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([pid] * len(counts), type=pa.int32()),
                pa.array(list(counts.keys()), type=pa.int32()),
                pa.array(list(counts.values()), type=pa.int64()),
            ],
            names=["pid", "shard", "n"],
        )

    rows = (
        corpus.select(F.col(uid).cast("string").alias(uid))
        .mapInArrow(count_kernel, "pid int, shard int, n long")
        .collect()
    )
    by_pid: dict[int, dict[int, int]] = {}
    for r in rows:
        by_pid.setdefault(int(r["pid"]), {})[int(r["shard"])] = int(r["n"])
    offsets: dict[int, dict[int, int]] = {}
    running: dict[int, int] = {}
    for pid in sorted(by_pid):
        offsets[pid] = {}
        for s, n in by_pid[pid].items():
            offsets[pid][s] = running.get(s, 0)
            running[s] = running.get(s, 0) + n
    return offsets


class _IdAssigner:
    """Per-task (shard, doc_id) assignment from the offsets table —
    shared by the doc_map kernel and the tokenizer kernel so the
    corpus crosses the JVM→Python boundary exactly once per path."""

    def __init__(self, offsets: dict[int, dict[int, int]], num_shards: int):
        self.offsets = offsets
        self.num_shards = num_shards
        self._base: dict[int, int] | None = None
        self._pid: int | None = None

    def next_ids(self, uid_arr) -> tuple[np.ndarray, np.ndarray]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if self._pid != pid:
            self._pid = pid
            self._base = dict(self.offsets.get(pid, {}))
        sh = _shards_of_arrow(uid_arr, self.num_shards)
        doc_id = np.empty(sh.size, dtype=np.int64)
        for s in np.unique(sh):
            m = sh == s
            start = self._base.get(int(s))
            if start is None:
                raise RuntimeError(
                    f"non-deterministic input plan: partition {pid} saw shard "
                    f"{s} absent from the count pass. id assignment needs a "
                    "stable partition layout (plain scans qualify); "
                    "materialize shuffled corpus lineage first, e.g. "
                    "corpus.localCheckpoint(eager=True)"
                )
            cnt = int(m.sum())
            doc_id[m] = np.arange(start, start + cnt, dtype=np.int64)
            self._base[int(s)] = start + cnt
        return sh.astype(np.int32), doc_id


def assign_ids(corpus: DataFrame, config: IndexConfig, offsets=None) -> DataFrame:
    """Add (shard, doc_id) columns (see :func:`id_offsets`)."""
    import pyarrow as pa

    uid = config.unique_id_col
    corpus = corpus.withColumn(uid, F.col(uid).cast("string"))
    if offsets is None:
        offsets = id_offsets(corpus, config)
    assigner_cfg = (offsets, config.number_of_shards)
    uid_name = uid

    def add_ids(batches):
        assigner = _IdAssigner(*assigner_cfg)
        for rb in batches:
            uid_arr = rb.column(rb.schema.names.index(uid_name))
            sh, doc_id = assigner.next_ids(uid_arr)
            yield pa.RecordBatch.from_arrays(
                [
                    *(rb.column(i) for i in range(rb.num_columns)),
                    pa.array(sh, type=pa.int32()),
                    pa.array(doc_id, type=pa.int64()),
                ],
                names=[*rb.schema.names, "shard", "doc_id"],
            )

    out_schema = ", ".join(
        f"`{name}` {dtype}" for name, dtype in corpus.dtypes
    ) + ", shard int, doc_id long"
    return corpus.mapInArrow(add_ids, out_schema)


def stats_from_postings(postings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(term_stats, field_stats) from block metadata — no decode.

    df = Σ n over a term's blocks (each doc appears once per term),
    ttf = Σ sum_tf; doc_count / sum_dl come from the norms rows
    (term IS NULL), whose docs are distinct within each (field,
    shard, bucket) group and buckets partition the doc-id space.
    """
    term_stats = (
        postings.filter(F.col("term").isNotNull())
        .groupBy("field", "shard", "term")
        .agg(F.sum("n").cast("long").alias("df"), F.sum("sum_tf").cast("long").alias("ttf"))
    )
    field_stats = (
        postings.filter(F.col("term").isNull())
        # norms-row sum_tf = docs with >=1 token (Lucene docCount);
        # `n` counts every norms entry incl. dl=0 field-exists docs
        .groupBy("field", "shard")
        .agg(
            F.sum("sum_tf").cast("long").alias("doc_count"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
        )
    )
    return term_stats, field_stats


def build_postings(tall: DataFrame, config: IndexConfig) -> DataFrame:
    bucket_shift = int(np.log2(config.docs_per_bucket))
    tall_b = tall.withColumn("bucket", F.shiftright("doc_id", bucket_shift).cast("long"))
    return tall_b.groupBy("field", "shard", "bucket").applyInArrow(
        _make_block_encoder(config.block_size), POSTINGS_SCHEMA
    )


def bool_coerce(col, string_input: bool = False):
    """Store-time BOOL coercion (``BooleanUtil.parseBoolean`` /
    BooleanFieldIndexer.java:21, BooleanFormatTest): every other value
    FAILS the build (`raise_error`), matching the reference's
    store-time rejection of e.g. "maybe", 2, 1.5.

    The reference dispatches on the runtime class of the document
    value: a STRING must be one of exactly true/t/yes/y/1 or
    false/f/no/n/0 (case insensitive, trimmed — "1.0" is rejected),
    while a NUMBER is accepted iff ``doubleValue()`` is exactly 1 or
    0 (so a typed 1.0 passes). A Spark column is uniformly typed, so
    pass ``string_input=True`` for string columns to get the strict
    string lexicon; the default models a mixed-provenance (JSON/
    Mongo-shaped) value column and accepts both forms. Pure codegen —
    apply to the corpus column before build_index and store the
    result via ``stored_cols``."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.lower(F.trim(c.cast("string")))
    if string_input:
        true_cond = s.isin("true", "t", "yes", "y", "1")
        false_cond = s.isin("false", "f", "no", "n", "0")
    else:
        d = c.cast("string").try_cast("double")  # non-numeric spellings -> NULL, not ANSI error
        true_cond = s.isin("true", "t", "yes", "y", "1") | (d == 1.0)
        false_cond = s.isin("false", "f", "no", "n", "0") | (d == 0.0)
    return (
        F.when(c.isNull(), F.lit(None).cast("boolean"))
        .when(true_cond, F.lit(True))
        .when(false_cond, F.lit(False))
        .otherwise(
            F.raise_error(F.concat(F.lit("invalid boolean value: "), s))
            .cast("boolean")
        )
    )


def int_coerce(col, bits: int = 32, string_input: bool = False):
    """Store-time NUMERIC_INT / NUMERIC_LONG coercion
    (IntFieldIndexer/LongFieldIndexer via NumericFieldIndexer.java:
    14-40; NumericFacetConversionTest): a Number value truncates
    through ``Number.intValue()``/``longValue()`` — a Double 2020.0
    and an Integer 2020 collapse into ONE indexed value, so the facet
    label reads "2020" with no decimal point and round-trips to a
    numeric-set query. A String value must parse as the integral type
    exactly (``Integer.parseInt`` — "2020.0" FAILS the build with
    NumberFormatException); pass ``string_input=True`` for string
    columns to get that strict behavior, since a Spark column is
    uniformly typed where the reference dispatches on the runtime
    class. Pure codegen, applied to the corpus column before
    ``build_index``."""
    if bits not in (32, 64):
        raise ValueError("bits must be 32 (NUMERIC_INT) or 64 (NUMERIC_LONG)")
    t = "int" if bits == 32 else "long"
    c = F.col(col) if isinstance(col, str) else col
    if string_input:
        parsed = F.trim(c.cast("string")).try_cast(t)
        return (
            F.when(c.isNull(), F.lit(None).cast(t))
            .when(parsed.isNotNull(), parsed)
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(f"string value cannot be parsed as {t}: "), c.cast("string")
                    )
                ).cast(t)
            )
        )
    # numeric source: Java's intValue()/longValue() truncates toward
    # zero, exactly what Spark's numeric->integral cast does
    return c.cast(t)


def _calibrate_quantization(corpus: DataFrame, config: IndexConfig) -> dict | None:
    """Per-shard scalar-quantization scales for INT8/INT4 fields with
    calibration="QUANTILE" — the Lucene-104 shape
    (Lucene99ScalarQuantizedVectorsFormat: each segment calibrates its
    quantizer from value quantiles rather than per-vector extremes;
    the reference inherits it through ZuliaPerFieldKnnVectorsFormat).

    Symmetric variant: per shard, scale = quantile(|component|,
    1 − 1/(dim+1)) / levels, computed driver-side over the same
    deterministic ≤65k uid-hash sample the IVF trainer uses (Lucene
    likewise calibrates from a bounded sample). Codes CLIP at
    ±levels: only components rarer than one full dimension's share of
    value mass can clamp (1 − 1/(dim+1) keeps any dense dimension,
    e.g. an embedding-model bias, inside range). The point is shape
    parity + storage/arithmetic: _zvs_ becomes one constant per shard
    (RLE-trivial in parquet instead of a float per vector), which is
    what permits an all-integer first pass; recall matches the
    per-vector max-abs baseline (tests/test_quantile_calibration.py)
    provided the query is quantized with the same shard scale
    (executor._quantized_candidates symmetric branch).
    Returns {indexed_field_name: {shard: scale}} or None."""
    import numpy as np

    fields = [
        (c, vc)
        for c, vc in config.vector_fields()
        if vc.encoding in ("INT8", "INT7", "INT4") and vc.calibration == "QUANTILE"
    ]
    if not fields:
        return None
    import pandas as pd

    from zuliasearch_spark.util.hashing import shard_for_series

    uid = config.unique_id_col
    n = corpus.count()
    mod = max(1, n // 65536)
    out = {}
    for col, vc in fields:
        rows = (
            corpus.select(uid, col)
            .filter(F.col(col).isNotNull())
            .filter(F.crc32(F.col(uid).cast("string")) % mod == 0)
            .orderBy(uid)
            .collect()
        )
        if not rows:
            raise ValueError(
                f"quantized vector field {vc.indexed_field_name!r}: no non-null "
                f"{col!r} values to calibrate on"
            )
        shards = shard_for_series(pd.Series([r[0] for r in rows]), config.number_of_shards)
        comps = [np.abs(np.asarray(r[1], dtype=np.float64)) for r in rows]
        dim = comps[0].size
        conf = 1.0 - 1.0 / (dim + 1)
        from zuliasearch_spark.config import QUANT_LEVELS

        levels = QUANT_LEVELS[vc.encoding]
        all_comps = np.concatenate(comps)
        global_scale = float(np.quantile(all_comps, conf) / levels)
        per_shard = {}
        for s in range(config.number_of_shards):
            mine = [c for c, sh in zip(comps, shards) if sh == s]
            if mine:
                q = float(np.quantile(np.concatenate(mine), conf))
                per_shard[s] = q / levels if q > 0 else global_scale
            else:
                # unsampled shard (tiny corpora): global-sample scale
                per_shard[s] = global_scale
        out[vc.indexed_field_name] = per_shard
    return out


def _guard_zero_vectors(doc_map: DataFrame, config: IndexConfig) -> DataFrame:
    """Store-time rejection of zero-magnitude vectors for every
    configured vector field — Lucene refuses to index a zero vector
    under cosine similarity (VectorUtil.cosine throws
    IllegalArgumentException; KnnFloatVectorField validates at
    document build), and the reference inherits that through its
    Lucene codecs. Without this guard a stored zero vector divides
    by zero at query time (cosine denominators) under ANSI mode.

    Pure codegen: each vector column is wrapped in a
    ``raise_error`` branch that fires during the build's first
    materialization (write_index / persist), naming the field and the
    offending uniqueId. NULL vectors stay legal (doc without the
    field); an empty array is rejected too (dimension 0 is invalid at
    Lucene field creation)."""
    dtypes = dict(doc_map.dtypes)
    for col, vc in config.vector_fields():
        if col not in doc_map.columns:
            continue
        vec = F.col(col)
        sumsq = F.aggregate(
            vec, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
        doc_map = doc_map.withColumn(
            col,
            F.when(
                vec.isNotNull() & (sumsq == 0.0),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"zero-magnitude vector for cosine field "
                            f"{vc.indexed_field_name!r} at uniqueId="
                        ),
                        F.col("uniqueId").cast("string"),
                    )
                ).cast(dtypes[col]),
            ).otherwise(vec),
        )
    return doc_map


def _add_vector_encodings(
    doc_map: DataFrame, config: IndexConfig, calib: dict | None = None
) -> DataFrame:
    """Materialize quantized copies of vector fields whose
    VectorConfig asks for a non-FLOAT32 encoding
    (zulia_index.proto VectorIndexingConfig; codec
    ZuliaPerFieldKnnVectorsFormat.java picks the quantized Lucene
    format per field). Per indexed vector name ``v``:

    - INT8 / INT7 / INT4: ``_zvq_v`` array<tinyint> — symmetric
      per-vector max-abs scalar quantization to ±127 / ±63 / ±7
      levels (config.QUANT_LEVELS) — plus
      ``_zvs_v`` (the scale) and ``_zvn_v`` (the quantized L2 norm,
      so query-time approximate cosine is ONE dot product per row).
      The reference delegates to Lucene's per-segment
      quantile-calibrated scalar quantizer; per-vector max-abs is a
      deterministic deviation with the same oversample+rescore
      contract (documented in VectorConfig).
    - BBQ: ``_zvq_v`` array<long> — sign bits packed 64 per word,
      MSB-first within each word, last word holding the remainder
      dims in its low bits. Approximate score is dim − 2·hamming.
    - BBQ_2BIT: two sign-packed planes ``_zvq_v`` (low bits) and
      ``_zvqh_v`` (high bits) of per-component 2-bit codes, plus
      ``_zvs_v``/``_zvn_v`` — the query side 4-bit-quantizes the
      query and scores with popcount dot products per plane pair
      (Lucene's DIBIT_QUERY_NIBBLE asymmetric scheme).

    All expressions are Catalyst (transform/aggregate/slice) — the
    encode stage is whole-stage codegen, no Python in the build path,
    and the quantized columns land in doc_map's parquet where a
    query scan prunes the full-precision column until rescore."""
    for col, vc in config.vector_fields():
        if vc.encoding == "FLOAT32":
            continue
        if col not in doc_map.columns:
            raise ValueError(
                f"vector field {vc.indexed_field_name!r} needs stored column {col!r}: "
                f"add it to stored_cols"
            )
        name = vc.indexed_field_name
        vec = F.col(col)
        if vc.encoding in ("INT8", "INT7", "INT4"):
            from zuliasearch_spark.config import QUANT_LEVELS

            levels = QUANT_LEVELS[vc.encoding]
            scales = (calib or {}).get(name)
            if scales is not None:
                # per-shard quantile-calibrated scale (Lucene-104
                # segment calibration): one literal per shard indexed
                # by the routing column; codes clip at ±levels
                arr = F.array(
                    *[
                        F.lit(float(scales[s]))
                        for s in range(config.number_of_shards)
                    ]
                )
                scale = F.element_at(arr, F.col("shard") + 1)
            else:
                # per-vector max-abs (calibration="MAXABS")
                maxabs = F.aggregate(
                    vec, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x.cast("double")))
                )
                scale = maxabs / F.lit(levels)
            q = F.transform(
                vec,
                lambda x: F.when(
                    scale > 0,
                    F.least(
                        F.greatest(F.round(x.cast("double") / scale), F.lit(-levels)),
                        F.lit(levels),
                    ),
                )
                .otherwise(F.lit(0.0))
                .cast("tinyint"),
            )
            doc_map = doc_map.withColumn(f"_zvq_{name}", q)
            doc_map = doc_map.withColumn(f"_zvs_{name}", scale)
            doc_map = doc_map.withColumn(
                f"_zvn_{name}",
                F.sqrt(
                    F.aggregate(
                        F.col(f"_zvq_{name}"),
                        F.lit(0.0),
                        lambda a, x: a + x.cast("double") * x.cast("double"),
                    )
                ),
            )
        elif vc.encoding == "BBQ":
            # 1-bit sign quantization, packed 64 dims per long
            n_words = F.ceil(F.size(vec) / F.lit(64)).cast("int")
            bits = F.transform(
                F.sequence(F.lit(0), n_words - 1),
                lambda w: F.aggregate(
                    F.slice(vec, w * 64 + 1, 64),
                    F.lit(0).cast("long"),
                    lambda acc, x: F.shiftleft(acc, 1)
                    + F.when(x >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
                ),
            )
            doc_map = doc_map.withColumn(f"_zvq_{name}", bits)
        else:  # BBQ_2BIT: 2-bit codes as TWO packed bit-planes
            # Lucene 104's DIBIT shape: component code c ∈ {0..3}
            # dequantizes to (c − 1.5)·s with per-vector scale
            # s = max|x|/1.5; the code's low/high bits land in two
            # sign-packed planes (64 dims per long, MSB-first like
            # BBQ) so the query side can take popcount dot products
            # per (doc-plane, query-plane) pair. _zvs_ stores s and
            # _zvn_ the dequantized norm for the approximate cosine.
            maxabs = F.aggregate(
                vec, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x.cast("double")))
            )
            s2 = maxabs / F.lit(1.5)
            codes = F.transform(
                vec,
                lambda x: F.when(
                    s2 > 0,
                    F.least(
                        F.greatest(F.round(x.cast("double") / s2 + 1.5), F.lit(0.0)),
                        F.lit(3.0),
                    ),
                )
                .otherwise(F.lit(0.0))
                .cast("int"),
            )
            doc_map = doc_map.withColumn(f"_zvc2_{name}", codes)
            cc = F.col(f"_zvc2_{name}")
            n_words = F.ceil(F.size(vec) / F.lit(64)).cast("int")
            def _plane(p):
                return F.transform(
                    F.sequence(F.lit(0), n_words - 1),
                    lambda w: F.aggregate(
                        F.slice(cc, w * 64 + 1, 64),
                        F.lit(0).cast("long"),
                        lambda acc, c: F.shiftleft(acc, 1)
                        + F.shiftright(c, p).bitwiseAND(F.lit(1)).cast("long"),
                    ),
                )

            doc_map = doc_map.withColumn(f"_zvq_{name}", _plane(0))
            doc_map = doc_map.withColumn(f"_zvqh_{name}", _plane(1))
            doc_map = doc_map.withColumn(f"_zvs_{name}", s2)
            doc_map = doc_map.withColumn(
                f"_zvn_{name}",
                s2
                * F.sqrt(
                    F.aggregate(
                        cc,
                        F.lit(0.0),
                        lambda a, c: a
                        + (c.cast("double") - 1.5) * (c.cast("double") - 1.5),
                    )
                ),
            )
            doc_map = doc_map.drop(f"_zvc2_{name}")
    return doc_map


def build_index(
    corpus: DataFrame,
    config: IndexConfig,
    stored_cols: tuple[str, ...] = (),
    timestamp: int | None = None,
) -> IndexTables:
    """Build all index tables from a corpus DataFrame (lazy plan).

    The returned postings/term_stats/field_stats share one lineage
    through the postings blocks; callers that materialize more than
    one table should ``persist()`` (in-memory use) or ``write_index``
    (which materializes postings FIRST, then derives stats from the
    written parquet — the tokenize pass runs exactly once).

    ``timestamp`` (epoch millis) stamps the ``_ztsf_`` store-timestamp
    column when ``config.store_timestamp`` is set — the reference's
    per-Store wall clock (ShardDocumentIndexer.java:82 LongPoint).
    Defaults to the build wall clock, captured once driver-side so
    every row of the build shares one deterministic value.
    """
    uid = config.unique_id_col
    if config.upsert_order_col:
        # upsert: keep the newest row per uniqueId (Store-replaces
        # semantics, ZuliaShard.java:337-352). One shuffle on uid —
        # uid is high-cardinality and uniform (it feeds djb2 routing)
        # so the window parallelizes across all partitions; ties on
        # the order column break deterministically by row digest.
        from pyspark.sql import Window

        w = Window.partitionBy(uid).orderBy(
            F.desc(config.upsert_order_col), F.desc(F.xxhash64(F.struct(*corpus.columns)))
        )
        corpus = (
            corpus.withColumn("_upsert_rn", F.row_number().over(w))
            .filter(F.col("_upsert_rn") == 1)
            .drop("_upsert_rn")
        )
        # id assignment requires a STABLE partition layout + row order
        # across its two passes and across every downstream action; a
        # shuffled lineage has neither (AQE re-coalesces the exchange
        # independently per query, reducers fetch map outputs in
        # arbitrary order). Materialize the deduped corpus once —
        # localCheckpoint pins the partitions and truncates the
        # lineage. At cluster scale, staging the deduped corpus to a
        # table serves the same role with spill-to-disk durability.
        corpus = corpus.localCheckpoint(eager=True)
    corpus = corpus.withColumn(uid, F.col(uid).cast("string"))
    offsets = id_offsets(corpus, config)

    # doc_map path: compute the sha JVM-side FIRST so only the narrow
    # (uid, sha, stored) projection crosses the Python id-assignment
    # stage — the wide content column never does
    narrow_cols = [F.col(uid)]
    content_col = next(
        (fc.stored_field_name for fc in config.field_configs for ia in fc.index_as), None
    )
    if content_col is not None:
        narrow_cols.append(F.sha2(F.col(content_col).cast("string"), 256).alias("content_sha256"))
    for c in stored_cols:
        narrow_cols.append(F.col(c))
    if config.store_timestamp:
        # _ztsf_ store timestamp (ZuliaFieldConstants.TIMESTAMP_FIELD;
        # SimpleTest.java:304-325 queries it with DATE range syntax).
        # One literal per build: timestamp-typed so the DATE range
        # coercion machinery treats it like any stored date column.
        if timestamp is None:
            import time as _time

            timestamp = int(_time.time() * 1000)
        narrow_cols.append(
            F.timestamp_millis(F.lit(int(timestamp))).alias("_ztsf_")
        )
    if config.store_length_meta:
        # _zcl_ char-length + _zll_ list-length meta columns
        # (ZuliaFieldConstants.java:14-15; FieldIndexer.java:19-35),
        # queryable as |field| / |||field||| through the parser
        dtypes = dict(corpus.dtypes)
        # FieldConfig-listed columns only: the implicit zuliaId
        # projection gets no |field| meta (FieldIndexer writes meta
        # per configured field, not for ID_FIELD)
        meta_cols = dict.fromkeys(
            fc.stored_field_name for fc in config.field_configs for _ in fc.index_as
        )
        for c in meta_cols:
            if dtypes.get(c, "").startswith("array"):
                # multivalued: char-length PER VALUE (StringFieldIndexer
                # writes one charLength meta per list item — |field|:0
                # matches a doc with ANY empty item, NullEmptyTest)
                narrow_cols.append(
                    F.transform(F.col(c), lambda x: F.length(x)).alias(f"_zcl_{c}")
                )
                narrow_cols.append(F.size(c).alias(f"_zll_{c}"))
            else:
                narrow_cols.append(F.length(F.col(c).cast("string")).alias(f"_zcl_{c}"))
                narrow_cols.append(
                    F.when(F.col(c).isNull(), 0).otherwise(1).alias(f"_zll_{c}")
                )
    narrow = corpus.select(*narrow_cols)
    base = assign_ids(narrow, config, offsets=offsets)
    doc_map = base.select(
        "shard",
        "doc_id",
        F.col(uid).alias("uniqueId"),
        *[c for c in narrow.columns if c != uid],
    )
    doc_map = _guard_zero_vectors(doc_map, config)
    doc_map = _add_vector_encodings(
        doc_map, config, calib=_calibrate_quantization(corpus, config)
    )
    centroids = _train_ivf_centroids(corpus, config)
    if centroids:
        from zuliasearch_spark.pipeline import ivf_cell_expr

        for col, vc in config.vector_fields():
            if vc.index_type == "IVF":
                # nearest-cell assignment as a codegen argmax over the
                # centroid literals — the cell id is a build-time
                # column, so query-time probing is a plain filter that
                # prunes at the parquet row-group level (write_index
                # cell-sorts doc_map)
                doc_map = doc_map.withColumn(
                    f"_zvc_{vc.indexed_field_name}",
                    ivf_cell_expr(centroids[vc.indexed_field_name], col=col),
                )
    vector_graphs = _build_hnsw_graphs(doc_map, config)

    # postings path: ids assigned INSIDE the tokenizer kernel so the
    # wide corpus crosses JVM→Python exactly once (id_offsets is the
    # only extra job, a column-pruned count scan)
    field_specs = [
        (stored_col, ia.indexed_field_name, config.analyzer(ia.analyzer_name))
        for stored_col, ia in config.indexed_fields()
    ]
    if not field_specs:
        raise ValueError("index config has no indexed fields")
    # uid is always selected first; with index_id_field the implicit
    # zuliaId spec references it too — don't select it twice
    cols = list(dict.fromkeys(c for c, _, _ in field_specs if c != uid))
    tall = corpus.select(uid, *cols).mapInArrow(
        _make_tokenizer(
            field_specs,
            config.store_positions,
            id_cfg=(offsets, config.number_of_shards),
            uid_col=uid,
        ),
        TALL_SCHEMA,
    )
    postings = build_postings(tall, config)
    term_stats, field_stats = stats_from_postings(postings)
    shard_counts = doc_map.groupBy("shard").agg(F.count(F.lit(1)).alias("num_docs"))
    return IndexTables(
        config,
        doc_map,
        postings,
        term_stats,
        field_stats,
        shard_counts,
        vector_centroids=centroids,
        vector_graphs=vector_graphs,
    )


GRAPH_SCHEMA = (
    "field string, graph_id string, shard int, doc_id long, uniqueId string, "
    "level int, neighbors array<long>, vector array<float>"
)


def _build_hnsw_graphs(doc_map: DataFrame, config: IndexConfig) -> DataFrame | None:
    """Per-shard HNSW graphs for fields with index_type="HNSW"
    (indexing/hnsw.py; the reference's per-segment Lucene HNSW via
    ZuliaPerFieldKnnVectorsFormat.java). One grouped-pandas pass per
    field over (shard, doc_id, uniqueId, vector) — each task builds
    its shard's graph independently, the exact parallelism of Lucene
    building one graph per segment at flush. Level-0 rows carry the
    raw vector and uniqueId so query-time traversal never joins back
    to doc_map (the graph table doubles as the .vec file)."""
    hnsw = [(c, vc) for c, vc in config.vector_fields() if vc.index_type == "HNSW"]
    if not hnsw:
        return None
    import uuid

    cols = [
        "field", "graph_id", "shard", "doc_id", "uniqueId",
        "level", "neighbors", "vector",
    ]
    out = None
    for col, vc in hnsw:
        name = vc.indexed_field_name
        m, efc = vc.hnsw_m, vc.hnsw_ef_construction
        budget_mb = vc.hnsw_shard_budget_mb
        gid = uuid.uuid4().hex

        def make_kernel(col=col, name=name, m=m, efc=efc, gid=gid, budget_mb=budget_mb):
            def kernel(key, pdf):
                import pandas as pd

                from zuliasearch_spark.indexing.hnsw import graph_rows

                pdf = pdf[pdf[col].notna()]
                if pdf.empty:
                    return pd.DataFrame(columns=cols)
                # per-shard memory guard (VectorConfig
                # .hnsw_shard_budget_mb): one task must hold the
                # shard's float32 vector block + int adjacency.
                # Estimate = n·dim·4 (vectors) + n·(2m+2)·8 (level-0
                # lists; upper layers are a geometric tail). Failing
                # HERE names the fix — more shards — instead of
                # OOM-killing the executor mid-build.
                n = len(pdf)
                dim = len(pdf[col].iloc[0])
                est_mb = (n * dim * 4 + n * (2 * m + 2) * 8) / (1024 * 1024)
                if est_mb > budget_mb:
                    raise ValueError(
                        f"HNSW shard {int(key[0])} of field {name!r}: "
                        f"{n} vectors x {dim} dims ~ {est_mb:.0f} MiB "
                        f"exceeds hnsw_shard_budget_mb={budget_mb}. "
                        f"Raise number_of_shards so each shard's vector "
                        f"block fits one task's memory, or raise the "
                        f"budget if the executors have headroom."
                    )
                vecs = np.stack([np.asarray(v, dtype=np.float32) for v in pdf[col]])
                rows = graph_rows(
                    pdf["doc_id"].to_numpy(np.int64),
                    vecs,
                    m,
                    efc,
                    uids=pdf["uniqueId"].to_numpy(object),
                )
                df = pd.DataFrame(rows)
                df.insert(0, "shard", int(key[0]))
                df.insert(0, "graph_id", gid)
                df.insert(0, "field", name)
                return df

            return kernel

        kernel = make_kernel()

        g = (
            doc_map.select("shard", "doc_id", "uniqueId", col)
            .groupBy("shard")
            .applyInPandas(kernel, GRAPH_SCHEMA)
        )
        out = g if out is None else out.unionByName(g)
    return out


def _train_ivf_centroids(corpus: DataFrame, config: IndexConfig) -> dict | None:
    """Train IVF coarse centroids per index_type="IVF" vector field
    (ZuliaPerFieldKnnVectorsFormat.java picks the per-field KNN
    format at build; here the build-time structure is a k-means cell
    partitioning instead of an HNSW graph).

    The standard IVF recipe: TRAIN driver-side on a deterministic
    sample (≤65k rows picked by a uid-hash filter — a column-pruned
    scan, no shuffle, stable across runs and cluster sizes), ASSIGN
    distributively (ivf_cell_expr codegen in build_index). Returns
    {indexed_field_name: [[centroid floats]]} or None when no field
    asks for IVF."""
    ivf = [(c, vc) for c, vc in config.vector_fields() if vc.index_type == "IVF"]
    if not ivf:
        return None
    from zuliasearch_spark.pipeline import kmeans_centroids_np

    uid = config.unique_id_col
    max_sample = 65536
    n = corpus.count()
    mod = max(1, n // max_sample)
    out = {}
    for col, vc in ivf:
        sample = (
            corpus.select(uid, col)
            .filter(F.col(col).isNotNull())
            .filter(F.crc32(F.col(uid).cast("string")) % mod == 0)
            .orderBy(uid)
            .collect()
        )
        if not sample:
            raise ValueError(
                f"IVF vector field {vc.indexed_field_name!r}: no non-null "
                f"{col!r} values to train centroids on"
            )
        cents = kmeans_centroids_np([r[col] for r in sample], n_cells=vc.ivf_cells)
        out[vc.indexed_field_name] = [[float(v) for v in row] for row in cents]
    return out


# ---------------------------------------------------------------------------
# parquet persistence (Iceberg-style layout: data + a manifest JSON)


def write_index(tables: IndexTables, path: str) -> IndexTables:
    """Write index tables as parquet; ONE pass over the corpus.

    Postings are written first (sorted by term within (field, shard)
    partitions for parquet min/max pushdown); the stats tables are
    then derived from the WRITTEN postings so the expensive
    tokenize+shuffle lineage is never recomputed. Returns the
    re-rooted IndexTables reading from ``path``.
    """
    spark = tables.postings.sparkSession
    (
        tables.postings.repartition("field", "shard")
        .sortWithinPartitions("term", "bucket", "block_id")
        .write.mode("overwrite")
        .partitionBy("field")
        .parquet(os.path.join(path, "postings"))
    )
    dm = tables.doc_map
    zvc_cols = [c for c in dm.columns if c.startswith("_zvc_")]
    if zvc_cols:
        # cell-sort within partitions so each parquet row group spans
        # few IVF cells: a probe filter (_zvc_ IN nearest cells) then
        # prunes row groups via min/max stats instead of scanning
        # every doc's vector
        dm = dm.sortWithinPartitions(*zvc_cols, "shard", "doc_id")
    dm.write.mode("overwrite").parquet(os.path.join(path, "doc_map"))
    if tables.vector_centroids:
        import json as _json

        with open(os.path.join(path, "vector_centroids.json"), "w") as fh:
            _json.dump(tables.vector_centroids, fh)
    if tables.vector_graphs is not None:
        # partitioned by (field, shard): a query's per-shard traversal
        # task partition-prunes to exactly its own graph file
        (
            tables.vector_graphs.repartition("field", "shard")
            .write.mode("overwrite")
            .partitionBy("field", "shard")
            .parquet(os.path.join(path, "vector_graphs"))
        )
    postings = spark.read.parquet(os.path.join(path, "postings"))
    term_stats, field_stats = stats_from_postings(postings)
    (
        term_stats.repartition("field")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("field")
        .parquet(os.path.join(path, "term_stats"))
    )
    field_stats.write.mode("overwrite").parquet(os.path.join(path, "field_stats"))
    doc_map = spark.read.parquet(os.path.join(path, "doc_map"))
    shard_counts = doc_map.groupBy("shard").agg(F.count(F.lit(1)).alias("num_docs"))
    shard_counts.write.mode("overwrite").parquet(os.path.join(path, "shard_counts"))
    return read_index(spark, path, tables.config)


def read_index(spark: SparkSession, path: str, config: IndexConfig) -> IndexTables:
    centroids = None
    cent_path = os.path.join(path, "vector_centroids.json")
    if os.path.exists(cent_path):
        import json as _json

        with open(cent_path) as fh:
            centroids = _json.load(fh)
    graphs = None
    graphs_path = os.path.join(path, "vector_graphs")
    if os.path.exists(graphs_path):
        graphs = spark.read.parquet(graphs_path)
    return IndexTables(
        config,
        spark.read.parquet(os.path.join(path, "doc_map")),
        spark.read.parquet(os.path.join(path, "postings")),
        spark.read.parquet(os.path.join(path, "term_stats")),
        spark.read.parquet(os.path.join(path, "field_stats")),
        spark.read.parquet(os.path.join(path, "shard_counts")),
        root_path=path,
        vector_centroids=centroids,
        vector_graphs=graphs,
    )
