"""Distributed BM25 index build (reference operators B1-B16).

Dataflow (reference parallel build, src/access/build_parallel.c:1-15,
re-expressed Spark-first):

  source df
    -> assign global doc_id (given id col, or xxhash64 of key columns)
    -> deterministic doc_id-range segment assignment (``div`` on a span
       recorded in the manifest — stable across resumes)
    -> one Arrow tokenizer pass (doc_term_arrays: ONE row per doc)
    -> groupBy(segment_id).applyInPandas(packer): sort, block, compress,
       write ``segments/seg-XXXXXX/{postings,docs}.parquet`` from the
       executor, then the ``_SEG_SUCCESS.json`` marker (finalize-then-mark,
       reference src/access/build.c:194-228)
    -> driver collects per-segment stats rows -> manifest commit

Checkpoint/resume: re-running ``build`` with the same arguments skips every
segment whose marker exists — the packer checks the marker before doing any
work and returns the recorded stats (idempotent per partition). Killing a
build mid-job and re-running therefore resumes instead of restarting.

Scale notes: no global sort anywhere; the only wide exchange is the
postings shuffle keyed by segment (doc-range locality keeps delta gaps
small and bounds any term's postings within a packer group by the segment's
doc count). Skewed terms split into bounded shard rows (segment.py).
Document metadata (incl. sha256) is written once as a columnar docmap
(``docs/``), not carried through the postings shuffle.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import Bm25Options
from ..spark_utils import doc_term_arrays
from .manifest import SEG_MARKER, Manifest, SegmentRecord
from .segment import MAX_POSTINGS_PER_ROW, pack_postings_frame

PACK_STATS_SCHEMA = T.StructType([
    T.StructField("segment_id", T.StringType()),
    T.StructField("num_docs", T.LongType()),
    T.StructField("total_len", T.LongType()),
    T.StructField("total_qlen", T.LongType()),
    T.StructField("num_terms", T.LongType()),
    T.StructField("num_postings", T.LongType()),
    T.StructField("bytes", T.LongType()),
    T.StructField("min_doc_id", T.LongType()),
    T.StructField("max_doc_id", T.LongType()),
    T.StructField("max_doc_freq", T.LongType()),
    T.StructField("skew_factor", T.DoubleType()),
    T.StructField("term_min", T.StringType()),
    T.StructField("term_max", T.StringType()),
    T.StructField("resumed", T.BooleanType()),
])

POSTINGS_DIR = "postings"
DOCS_DIR = "docs"

# Postings file layout, written by ONE function (``write_postings``) for
# built and merged segments alike. Rows are (term, shard)-sorted in row
# groups of at most POSTINGS_ROW_GROUP_ROWS rows, so each group's footer
# `term` min/max bounds a contiguous slice of the dictionary: a serving
# replica's cold-term fetch reads only the groups whose range can hold the
# term (the reference's dictionary-page + posting-block reads). Statistics
# are kept on `term` alone (the only column anything filters on) and
# dictionary encoding on `segment_id` alone (one value per file; every
# other column is near-unique per row). Smaller groups cost footer bytes
# and compression context: at 2 048 rows the zstd level below is what
# keeps a 7-segment, ~9.7 k-row-per-segment index no larger than the
# one-group layout.
POSTINGS_ROW_GROUP_ROWS = 2048
POSTINGS_ZSTD_LEVEL = 9


def _postings_arrow_schema(with_positions: bool):
    import pyarrow as pa
    fields = [
        ("segment_id", pa.string()),
        ("term", pa.string()), ("shard", pa.int64()),
        ("min_doc_id", pa.int64()), ("last_doc_id", pa.int64()),
        ("doc_freq", pa.int32()), ("num_blocks", pa.int32()),
        ("doc_ids_bin", pa.binary()), ("tfs_bin", pa.binary()),
        ("norms_bin", pa.binary()),
        ("skip_last_doc_id", pa.list_(pa.int64())),
        ("skip_doc_count", pa.list_(pa.int32())),
        ("skip_max_tf", pa.list_(pa.int32())),
        ("skip_min_norm", pa.list_(pa.int32())),
        ("skip_doc_off", pa.list_(pa.int64())),
        ("skip_tf_off", pa.list_(pa.int64())),
        ("pos_counts_bin", pa.binary()), ("pos_deltas_bin", pa.binary()),
        ("skip_pos_off", pa.list_(pa.int64())),
    ]
    return pa.schema(fields)


def _tmp_path(path: str) -> str:
    """A hidden temp name next to ``path`` (its directory is created),
    unique per call: a retried or speculative task attempt never writes
    into another attempt's file, and Spark's and the serving path's
    listings skip it (leading dot, no ``.parquet`` suffix)."""
    import uuid
    d, base = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f".{base}.{uuid.uuid4().hex[:12]}.tmp")


def write_postings(path: str, chunks, with_positions: bool,
                   row_group_rows: int | None = None) -> int:
    """Write packed postings frames into ONE parquet file at ``path`` in
    the layout above; returns its size in bytes. ``chunks`` is an iterable
    of frames (``segment_id`` + the packed columns), each (term, shard)-
    sorted and following the previous one in term order; it is consumed
    one frame at a time, so a caller can stream a partition through one
    writer. No frames still writes a readable, empty file. The file is put
    in place with ``os.replace``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = _postings_arrow_schema(with_positions)
    tmp = _tmp_path(path)
    with pq.ParquetWriter(tmp, schema, compression="zstd",
                          compression_level=POSTINGS_ZSTD_LEVEL,
                          use_dictionary=["segment_id"],
                          write_statistics=["term"],
                          sorting_columns=[pq.SortingColumn(1)]) as w:
        for packed in chunks:
            w.write_table(pa.Table.from_pandas(packed, schema=schema,
                                               preserve_index=False),
                          row_group_size=row_group_rows
                          or POSTINGS_ROW_GROUP_ROWS)
    os.replace(tmp, path)
    return os.path.getsize(path)


def write_docs(path: str, table) -> int:
    """Write one doc_id-sorted docmap Arrow ``table`` to ``path``; returns
    its size in bytes. Statistics on doc_id let resolve() skip row groups.
    No dictionaries: most columns are unique per row (ids,
    content_sha256), where a dictionary only adds an index stream."""
    import pyarrow.parquet as pq
    tmp = _tmp_path(path)
    pq.write_table(table, tmp, compression="zstd", use_dictionary=False,
                   write_statistics=["doc_id"])
    os.replace(tmp, path)
    return os.path.getsize(path)


def _pack_segment_pdf(pdf: pd.DataFrame, seg_id: str, seg_dir: str,
                      opts: Bm25Options, doc_cols: list[str],
                      write_marker: bool = True) -> dict:
    """Flatten one array-packed doc group into a written segment (B5-B10);
    returns the stats dict. ``write_marker=False`` for callers whose resume
    unit is coarser than one written segment (the spill packer's bucket)."""
    with_positions = opts.store_positions
    block_size = opts.block_size
    # duplicate doc ids (repeated natural keys or an xxhash64
    # collision) would silently inflate num_docs/total_len and
    # double-count scores — fail loudly instead
    dup = pdf["doc_id"].duplicated()
    if dup.any():
        bad = pdf["doc_id"][dup].iloc[0]
        raise ValueError(
            f"duplicate doc_id {bad} in segment {seg_id}: source has "
            "repeated ids/natural keys (dedupe the input, or pass a "
            "unique id_col)")
    # input is ONE array-packed row per doc (doc_term_arrays);
    # re-flatten to postings at C speed with repeat/concatenate
    docs = (pdf[["doc_id", "doc_len", "fieldnorm"] + doc_cols]
            .sort_values("doc_id"))
    lens = np.fromiter((len(t) for t in pdf["terms"]),
                       dtype=np.int64, count=len(pdf))
    nz = lens > 0
    if nz.any():
        cols = {
            "doc_id": np.repeat(pdf["doc_id"].to_numpy()[nz], lens[nz]),
            "term": np.concatenate(pdf["terms"].to_numpy()[nz]),
            "tf": np.concatenate(pdf["tfs"].to_numpy()[nz]),
            "fieldnorm": np.repeat(pdf["fieldnorm"].to_numpy()[nz],
                                   lens[nz]),
        }
        if with_positions:
            cols["positions"] = np.concatenate(
                pdf["positions"].to_numpy()[nz])
        postings = pd.DataFrame(cols)
    else:
        postings = pd.DataFrame(
            {"doc_id": [], "term": [], "tf": [], "fieldnorm": [],
             "positions": []})
    packed = pack_postings_frame(postings, block_size=block_size,
                                 with_positions=with_positions,
                                 codec=opts.codec)
    packed.insert(0, "segment_id", seg_id)
    import pyarrow as pa
    # files first; the marker is written last (finalize-then-mark)
    nbytes = (write_postings(os.path.join(seg_dir, POSTINGS_DIR,
                                          "part-0.parquet"),
                             [packed], with_positions)
              + write_docs(os.path.join(seg_dir, DOCS_DIR, "part-0.parquet"),
                           pa.Table.from_pandas(docs, preserve_index=False)))

    dfreqs = packed.groupby("term")["doc_freq"].sum() if len(packed) else pd.Series(dtype=np.int64)
    max_df = int(dfreqs.max()) if len(dfreqs) else 0
    mean_df = float(dfreqs.mean()) if len(dfreqs) else 0.0
    from ..functions.fieldnorm import DECODE_TABLE
    stats = {
        "segment_id": seg_id,
        "num_docs": int(len(docs)),
        "total_len": int(docs["doc_len"].sum()),
        # Σ quantized lengths — avgdl_mode='quantized' divides this by N
        "total_qlen": int(DECODE_TABLE[
            docs["fieldnorm"].to_numpy(dtype=np.int64)].sum()),
        "num_terms": int(dfreqs.size),
        "num_postings": int(len(postings)),
        "bytes": int(nbytes),
        "min_doc_id": int(docs["doc_id"].min()) if len(docs) else 0,
        "max_doc_id": int(docs["doc_id"].max()) if len(docs) else 0,
        "max_doc_freq": max_df,
        "skew_factor": float(max_df / mean_df) if mean_df else 0.0,
        # dictionary term range -> manifest-level segment pruning
        "term_min": str(packed["term"].min()) if len(packed) else "",
        "term_max": str(packed["term"].max()) if len(packed) else "",
        "resumed": False,
    }
    if write_marker:
        marker = os.path.join(seg_dir, SEG_MARKER)
        with open(marker + ".tmp", "w") as f:
            json.dump(stats, f)
        os.replace(marker + ".tmp", marker)
    return stats


def make_packer(index_path: str, seg_ids: dict[int, str], opts: Bm25Options,
                doc_cols: list[str] | None = None):
    """applyInPandas function packing one segment group (B5-B10).

    ``doc_cols``: extra per-doc columns (content_sha256 + source metadata)
    carried through the tokenizer pass and written into the per-segment
    docmap — the docmap needs NO second scan of the source."""
    doc_cols = doc_cols or []

    def pack(key, pdf):
        seg_no = int(key[0])
        seg_id = seg_ids[seg_no]
        seg_dir = os.path.join(index_path, "segments", seg_id)
        marker = os.path.join(seg_dir, SEG_MARKER)
        if os.path.exists(marker):  # checkpoint hit: segment already built
            with open(marker) as f:
                st = json.load(f)
            st["resumed"] = True
            st.setdefault("total_qlen", 0)   # marker from an older build
            st.setdefault("term_min", "")
            st.setdefault("term_max", "")
            return pd.DataFrame([st])[list(PACK_STATS_SCHEMA.names)]
        stats = _pack_segment_pdf(pdf, seg_id, seg_dir, opts, doc_cols)
        return pd.DataFrame([stats])[list(PACK_STATS_SCHEMA.names)]

    return pack


def make_spill_packer(index_path: str, seg_ids: dict[int, str],
                      opts: Bm25Options, doc_cols: list[str] | None = None):
    """mapInPandas packer with a memory budget (B13/B14 — the reference's
    maintenance_work_mem flush, src/access/build.c:1234-1248,1461-1536, and
    the memtable auto-spill trigger, build.c:263-295).

    Unlike applyInPandas (which materializes a whole group per task), the
    iterator-of-batches shape lets a task flush an independent sub-segment
    every time a bucket's buffered working set crosses
    ``opts.spill_budget_bytes`` — bounded executor memory even when doc-id
    bucketing is pathologically skewed. Sub-segments are ordinary level-0
    segments (ids ``<seg>-pNNNN``): query/merge/compaction treat them like
    streaming L0 appends, whose doc-id ranges may overlap too.

    Resume unit = bucket: shuffled batch order is not deterministic across
    task retries, so per-sub-segment markers can't prove completeness.
    A bucket marker (``<seg>.bucket.json``) listing every sub-segment's
    stats is written only after the bucket's final flush. Sub-segment dirs
    embed the task ATTEMPT number (``<seg>-aK-pNNNN``) so a retry — or a
    speculative duplicate attempt racing the original — never writes the
    dirs another live attempt owns; the manifest records only the rows
    returned by the winning attempt, and orphan dirs from losing attempts
    are unreachable (``vacuum`` reclaims them)."""
    doc_cols = doc_cols or []
    budget = int(opts.spill_budget_bytes)

    per_post = 48 if opts.store_positions else 40

    def row_costs(g: pd.DataFrame) -> "np.ndarray":
        # working-set proxy for the flatten in _pack_segment_pdf: one
        # posting row ≈ 8B doc_id + 8B tf + 8B fieldnorm + term chars +
        # ~16B object overhead; positions add ~8B/posting
        return np.fromiter(
            (per_post * len(t) + sum(len(w) for w in t) + 64
             for t in g["terms"]),
            dtype=np.float64, count=len(g))

    def pack_stream(batches):
        from pyspark import TaskContext
        ctx = TaskContext.get()
        attempt = int(ctx.attemptNumber()) if ctx is not None else 0
        acc: dict[int, list[pd.DataFrame]] = {}
        sizes: dict[int, int] = {}
        seen_ids: dict[int, set] = {}
        flushed: dict[int, list[dict]] = {}
        skip: set[int] = set()
        resumed_rows: list[dict] = []

        def flush(seg_no: int) -> pd.DataFrame:
            pdf = pd.concat(acc.pop(seg_no), ignore_index=True)
            sizes.pop(seg_no)
            subs = flushed.setdefault(seg_no, [])
            seg_id = f"{seg_ids[seg_no]}-a{attempt}-p{len(subs):04d}"
            seg_dir = os.path.join(index_path, "segments", seg_id)
            if os.path.exists(seg_dir):   # stale dir from a DEAD prior run
                shutil.rmtree(seg_dir)    # (attempt-unique within this run)
            st = _pack_segment_pdf(pdf, seg_id, seg_dir, opts, doc_cols,
                                   write_marker=False)
            subs.append(st)
            return pd.DataFrame([st])[list(PACK_STATS_SCHEMA.names)]

        for pdf in batches:
            for seg_no, g in pdf.groupby("seg"):
                seg_no = int(seg_no)
                if seg_no in skip:
                    continue
                bucket_marker = os.path.join(
                    index_path, "segments", f"{seg_ids[seg_no]}.bucket.json")
                if seg_no not in acc and seg_no not in flushed:
                    if os.path.exists(bucket_marker):  # bucket checkpoint
                        with open(bucket_marker) as f:
                            for st in json.load(f):
                                st["resumed"] = True
                                st.setdefault("total_qlen", 0)
                                st.setdefault("term_min", "")
                                st.setdefault("term_max", "")
                                resumed_rows.append(st)
                        skip.add(seg_no)
                        continue
                    seen_ids[seg_no] = set()
                # cross-flush duplicate check (the in-pdf check inside
                # _pack_segment_pdf only sees one flush at a time); the
                # id set is ~8-32 B/doc — negligible next to the postings
                # working set the budget bounds
                ids = set(g["doc_id"].tolist())
                seen = seen_ids[seg_no]
                if len(ids) != len(g) or (seen & ids):
                    bad = (g["doc_id"][g["doc_id"].duplicated()].iloc[0]
                           if len(ids) != len(g) else next(iter(seen & ids)))
                    raise ValueError(
                        f"duplicate doc_id {bad} in segment "
                        f"{seg_ids[seg_no]}: source has repeated "
                        "ids/natural keys")
                seen.update(ids)
                # an Arrow batch can be much larger than the budget (default
                # 10k rows/batch): split the group row-wise so every flush
                # lands near the budget instead of swallowing whole batches
                g = g.drop(columns=["seg"])
                costs = row_costs(g)
                i, n = 0, len(g)
                while i < n:
                    room = budget - sizes.get(seg_no, 0)
                    cum = np.cumsum(costs[i:])
                    j = int(np.searchsorted(cum, room)) + 1
                    take = g.iloc[i:i + j]
                    acc.setdefault(seg_no, []).append(take)
                    sizes[seg_no] = (sizes.get(seg_no, 0)
                                     + float(cum[min(j, len(cum)) - 1]))
                    i += j
                    if sizes[seg_no] >= budget:
                        yield flush(seg_no)

        for seg_no in list(acc):
            yield flush(seg_no)
        # bucket markers: written ONLY now, when every sub-segment of every
        # bucket this task owns is durably on disk (finalize-then-mark)
        for seg_no, subs in flushed.items():
            bucket_marker = os.path.join(
                index_path, "segments", f"{seg_ids[seg_no]}.bucket.json")
            with open(bucket_marker + ".tmp", "w") as f:
                json.dump(subs, f)
            os.replace(bucket_marker + ".tmp", bucket_marker)
        if resumed_rows:
            yield pd.DataFrame(resumed_rows)[list(PACK_STATS_SCHEMA.names)]

    return pack_stream


# metadata column names that collide with the build's internal schema
# (tokenizer output, docmap key, reorder columns); a source column with one
# of these names — e.g. a user 'doc_id' column on a hashed-id build, where
# it is NOT the id but ordinary metadata — rides into the docmap under a
# 'src_' prefix instead of shadowing the internal column
_RESERVED_META = {"doc_id", "terms", "tfs", "doc_len", "fieldnorm",
                  "positions", "content_sha256", "seg", "source_id",
                  "__newid", "blen"}


def _rename_reserved_meta(src: DataFrame, columns, id_col: str,
                          text_col: str) -> tuple[DataFrame, dict]:
    """Rename reserved-name metadata columns with a src_ prefix; returns
    (renamed df, {old: new})."""
    renamed: dict[str, str] = {}
    for c in columns:
        if c in (id_col, text_col) or c.startswith("__"):
            continue
        if c in _RESERVED_META:
            nc = "src_" + c
            while nc in columns:
                nc = "src_" + nc
            src = src.withColumnRenamed(c, nc)
            renamed[c] = nc
    return src, renamed


MIN_DOCS_PER_SEGMENT = 1024


def _default_num_segments(spark: SparkSession, n_docs: int,
                          opts: Bm25Options) -> int:
    """Segment count when the caller doesn't pin one.

    ``ceil(n / docs_per_segment)`` alone under-parallelizes medium corpora:
    400 k docs at the 65 536-doc reference default is 7 segments = 7 pack
    tasks, idling most of a 16-core cluster (measured 7x slower than a
    64-segment layout of the same build). The pack stage is the build's
    CPU bulk, so when the derived count falls below the cluster's core
    count we add segments up to defaultParallelism — bounded below by
    MIN_DOCS_PER_SEGMENT so tiny corpora keep tiny layouts (scores are
    segment-layout invariant; only the work distribution changes)."""
    derived = max(1, -(-n_docs // opts.docs_per_segment))
    par = spark.sparkContext.defaultParallelism
    if derived < par:
        derived = min(par, max(derived, -(-n_docs // MIN_DOCS_PER_SEGMENT)))
    return derived


def _murmur3_32_int(x: int, seed: int = 42) -> int:
    """Spark's ``Murmur3Hash`` of one IntegerType value (the function
    behind ``F.hash`` and ``HashPartitioning``) — public Murmur3 x86-32
    with Spark's seed. Verified value-for-value against ``F.hash``."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = (x & 0xFFFFFFFF) * c1 & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = k * c2 & 0xFFFFFFFF
    h = seed ^ k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4
    h ^= h >> 16
    h = h * 0x85EBCA6B & 0xFFFFFFFF
    h ^= h >> 13
    h = h * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h if h < 2 ** 31 else h - 2 ** 32


def _collision_free_seg_tokens(num_segments: int, parts: int) -> list[int]:
    """Segment-key values 0..k that land in DISTINCT shuffle buckets under
    ``pmod(murmur3(key), parts)``.

    groupBy().applyInPandas hash-partitions the group key, so with ~as
    many buckets as groups the birthday paradox makes ~1/4 of buckets hold
    2+ segment groups — and a doubled pack task's runtime IS the stage
    wall. Choosing key values whose hashes are bucket-distinct makes the
    pack stage exactly one segment per task."""
    tokens: list[int] = []
    used: set[int] = set()
    cand = 0
    while len(tokens) < num_segments:
        b = _murmur3_32_int(cand) % parts
        if b < 0:
            b += parts
        if b not in used:
            used.add(b)
            tokens.append(cand)
        cand += 1
        if cand > 100 * num_segments + 10_000:   # can't happen for parts>=n
            raise RuntimeError("collision-free token search overflow")
    return tokens


# name -> index registry backing the reference's colon query-constructor
# syntax ('index_name:query', src/types/query.c:194-225 — resolves the
# index by name the way tpquery_in resolves a relation OID). Weak values:
# the registry must not keep every index ever constructed alive, and a
# dropped index's name becomes free again.
import weakref

_NAMED_INDEXES: "weakref.WeakValueDictionary[str, Bm25Index]" = \
    weakref.WeakValueDictionary()


def register_index(name: str, index: "Bm25Index", _implicit: bool = False) -> None:
    """Explicit registration overwrites silently; the implicit
    directory-basename auto-registration warns when it rebinds a name that
    still points at a DIFFERENT live index (two open indexes whose paths
    share a basename), since search_tpquery would silently resolve to the
    newer one."""
    if _implicit:
        prev = _NAMED_INDEXES.get(name)
        if prev is not None and prev is not index and prev.path != index.path:
            import warnings
            warnings.warn(
                f"index name {name!r} rebound from {prev.path!r} to "
                f"{index.path!r}; use register_index() with a distinct "
                "alias to keep both addressable", stacklevel=3)
    _NAMED_INDEXES[name] = index


def search_tpquery(s: str, default_index: "Bm25Index | None" = None,
                   k: int | None | str = 10, mode: str = "or",
                   round_to: int = 4) -> DataFrame:
    """Search with the reference's ``'index_name:query'`` constructor
    string. A name-prefixed string resolves against the registry (indexes
    auto-register under their directory basename; ``register_index`` adds
    aliases); an unprefixed string requires ``default_index``."""
    from ..functions.tokenizer import parse_tpquery
    name, query = parse_tpquery(s)
    if name is not None:
        idx = _NAMED_INDEXES.get(name)
        if idx is None:
            raise KeyError(f"no index registered under name {name!r}")
    else:
        idx = default_index
        if idx is None:
            raise ValueError(
                "query string has no 'index:' prefix and no default_index "
                "was given")
    return idx.search(query, k=k, mode=mode, round_to=round_to)


class Bm25Index:
    """Public index API (reference SQL surface, SURVEY.md §2.4)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.manifest = Manifest.load(path)
        register_index(os.path.basename(os.path.normpath(path)), self,
                       _implicit=True)

    # -- build (CREATE INDEX ... USING bm25) --------------------------------
    @staticmethod
    def _length_rank_ids(src: DataFrame, text_col: str) -> tuple[DataFrame, int]:
        """(source_id -> dense new id ordered by (byte length, source_id),
        n_docs). Byte length is a tokenizer-free proxy for doc length —
        ranking happens BEFORE the (expensive) tokenize pass, so the
        build stays one tokenizer scan. Scale shape: range-partitioned
        sort of doc-count slim rows + per-partition offset assignment
        (the zipWithIndex pattern) — never a single-partition window."""
        from pyspark import TaskContext
        import pandas as pd

        spark = src.sparkSession
        par = max(src.sparkSession.sparkContext.defaultParallelism, 8)
        slim = src.select(
            F.col("__id").alias("source_id"),
            F.octet_length(F.coalesce(F.col(text_col).cast("string"),
                                      F.lit(""))).alias("blen"))
        ordered = (slim.repartitionByRange(par, "blen", "source_id")
                   .sortWithinPartitions("blen", "source_id"))
        # localCheckpoint (not persist): freezes partition contents so the
        # collected per-partition counts and the later mapInPandas see the
        # SAME rows, and the cached blocks are GC-reclaimed after the build
        # instead of leaking in the CacheManager for the session lifetime
        ordered = ordered.localCheckpoint(eager=True)
        counts = {r["pid"]: r["cnt"] for r in
                  ordered.withColumn("pid", F.spark_partition_id())
                  .groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
                  .collect()}
        n = int(sum(counts.values()))
        offsets = {}
        acc = 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += int(counts[pid])
        offs_bc = spark.sparkContext.broadcast(offsets)

        def assign(batches):
            pid = TaskContext.get().partitionId()
            base = offs_bc.value.get(pid, 0)
            seen = 0
            for pdf in batches:
                m = len(pdf)
                yield pd.DataFrame({
                    "source_id": pdf["source_id"],
                    "__newid": np.arange(base + seen, base + seen + m,
                                         dtype=np.int64)})
                seen += m

        mapping = ordered.mapInPandas(assign, "source_id long, __newid long")
        return mapping, n

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        text_col: str,
        path: str,
        id_col: str | None = None,
        opts: Bm25Options | None = None,
        num_segments: int | None = None,
        resume: bool = False,
        assume_full_id_range: bool = False,
    ) -> "Bm25Index":
        """``assume_full_id_range``: skip the min/max/count pre-scan and
        bucket over the full int64 range — correct whenever doc ids are
        hash-distributed (xxhash64 of a natural key), which is also the
        automatic path when ``id_col`` is None. Requires ``num_segments``."""
        opts = opts or Bm25Options()
        if Manifest.exists(path) and not resume:
            raise FileExistsError(
                f"index already exists at {path}; pass resume=True to resume/append-check")

        if opts.reorder_docs == "auto":
            # resolved HERE and stored resolved in the manifest: hashed
            # auto-assigned ids are uncorrelated with content, so the
            # length layout is pure win for BMW pruning; caller-supplied
            # ids are returned as-is (layout 'none') so search() output
            # needs no resolve() hop (see config.Bm25Options.reorder_docs)
            from dataclasses import replace as _replace
            opts = _replace(opts, reorder_docs="length" if id_col is None
                            else "none")

        if id_col is None:
            key_cols = [c for c in docs.columns if c != text_col]
            docs = docs.withColumn("__doc_id", F.xxhash64(*key_cols))
            id_col = "__doc_id"
            if num_segments is not None:
                assume_full_id_range = True

        src = docs.withColumn("__id", F.col(id_col).cast("long"))
        src, renamed = _rename_reserved_meta(src, docs.columns, id_col,
                                             text_col)
        if opts.reorder_docs == "length":
            # dense ids in ascending byte-length order; original ids ride
            # into the docmap as source_id (resolve() maps back).
            # The global rank is STRIDED across segments —
            # id = (rank mod S) * span + rank div S — so each segment's
            # contiguous id range samples the FULL length spectrum in
            # ascending order (a plain rank would turn range bucketing
            # into per-segment length bands, making block-max bounds flat
            # within every segment again).
            mapping, n = cls._length_rank_ids(src, text_col)
            if num_segments is None:
                num_segments = _default_num_segments(spark, n, opts)
            lo, span = 0, max(1, -(-n // num_segments))
            strided = F.expr(f"(__newid % {int(num_segments)}) "
                             f"* {int(span)}L "
                             f"+ (__newid DIV {int(num_segments)})")
            src = (src.join(mapping, src["__id"] == mapping["source_id"])
                   .drop("__id")
                   .withColumn("__id", strided)
                   .drop("__newid"))
            assume_full_id_range = False
        elif assume_full_id_range and num_segments is not None:
            lo = -(2 ** 63)
            span = (2 ** 64) // num_segments
        else:
            lo, hi, n = src.agg(
                F.min("__id"), F.max("__id"), F.count(F.lit(1))).collect()[0]
            if n == 0:
                raise ValueError("cannot build an index over an empty DataFrame")
            if num_segments is None:
                num_segments = _default_num_segments(spark, n, opts)
            span = max(1, -(-(hi - lo + 1) // num_segments))

        manifest = Manifest(path, opts)
        # pack-stage layout: one shuffle bucket per segment (see
        # _collision_free_seg_tokens). Tokens are deterministic in
        # num_segments, so resume re-derives the same grouping.
        pack_parts = max(num_segments * 2, 32)
        if num_segments <= 4096:
            seg_tokens = _collision_free_seg_tokens(num_segments, pack_parts)
        else:   # token search is O(n^2)-ish; past this size waves dominate
            seg_tokens = list(range(num_segments))
        seg_ids = {t: manifest.new_segment_id()
                   for t in seg_tokens}
        os.makedirs(os.path.join(path, "segments"), exist_ok=True)

        # docmap columns (sha256 + source metadata) ride the SAME tokenizer
        # pass and shuffle — the whole build is one scan of the source
        meta_cols = [renamed.get(c, c) for c in docs.columns
                     if c not in ("__id", "__doc_id", id_col, text_col)]
        if opts.reorder_docs == "length":
            meta_cols = ["source_id"] + meta_cols
        postings = doc_term_arrays(src, text_col, "__id", opts,
                                   extra_cols=meta_cols, with_sha=True)
        # overflow-safe range bucketing: hashed ids span the full int64
        # range, so (doc_id - lo) can overflow long under ANSI mode —
        # bucket in double space (deterministic, clamped), which keeps the
        # disjoint sorted doc-id ranges per segment that min/max pruning
        # and the merge fast path rely on
        seg_col = F.least(
            F.lit(int(num_segments - 1)),
            F.floor((F.col("doc_id").cast("double") - float(lo)) / float(span))
            .cast("int"))
        # remap range-bucket index -> collision-free group key
        seg_col = F.element_at(
            F.array(*[F.lit(int(t)) for t in seg_tokens]), seg_col + 1)
        doc_cols = ["content_sha256"] + meta_cols
        if opts.spill_budget_bytes is not None:
            # B13/B14 budget path: mapInPandas streams Arrow batches, so a
            # bucket never materializes beyond ~spill_budget_bytes — the
            # flush unit drops below the partition when a bucket is huge.
            # repartition-by-seg uses the same Murmur3 hashpartitioning the
            # groupBy would, so the collision-free tokens still give one
            # bucket per task.
            stats_df = (
                postings.withColumn("seg", seg_col)
                .repartition(pack_parts, "seg")
                .mapInPandas(make_spill_packer(path, seg_ids, opts, doc_cols),
                             PACK_STATS_SCHEMA)
            )
        else:
            # one pack task per segment: the pack stage is CPU-heavy with
            # few groups; AQE's byte-based coalescing (e.g. 64 groups -> 22
            # tasks) and hash collisions both create multi-segment
            # straggler tasks whose max time IS the stage wall. An EXPLICIT
            # repartition(pack_parts, seg) pins the exchange width (AQE
            # never coalesces a user-specified partition count) and its
            # hash partitioning already satisfies the groupBy's clustered
            # distribution, so no second exchange is inserted — and no
            # session conf is mutated (a save/restore of
            # spark.sql.shuffle.partitions would pin the session to the
            # resolved default when the user never set it explicitly).
            stats_df = (
                postings.withColumn("seg", seg_col)
                .repartition(pack_parts, "seg")
                .groupBy("seg")
                .applyInPandas(make_packer(path, seg_ids, opts, doc_cols),
                               PACK_STATS_SCHEMA)
            )
        stats = stats_df.collect()

        total = 0
        for r in stats:
            total += r["num_docs"]
            manifest.add_segment(SegmentRecord(
                segment_id=r["segment_id"], level=0,
                num_docs=r["num_docs"], total_len=r["total_len"],
                total_qlen=r["total_qlen"],
                num_terms=r["num_terms"], num_postings=r["num_postings"],
                bytes=r["bytes"], min_doc_id=r["min_doc_id"],
                max_doc_id=r["max_doc_id"], max_doc_freq=r["max_doc_freq"],
                skew_factor=r["skew_factor"],
                term_min=r["term_min"] or "", term_max=r["term_max"] or "",
                lineage={"kind": "build", "id_lo": int(lo),
                         "span": int(span), "resumed": bool(r["resumed"])},
            ))
        if total == 0:
            raise ValueError("cannot build an index over an empty DataFrame")
        manifest.save()
        return cls(spark, path)

    # -- introspection (bm25_summarize_index analogue) ----------------------
    def stats(self) -> dict:
        m = self.manifest
        return {
            "total_docs": m.total_docs,
            "total_len": m.total_len,
            "avgdl": m.avgdl,
            "num_segments": len(m.segments),
            "levels": {lvl: len(segs) for lvl, segs in m.levels.items()},
            "num_terms_per_segment": {s.segment_id: s.num_terms for s in m.segments},
            "bytes": sum(s.bytes for s in m.segments),
            "bytes_per_level": {lvl: sum(s.bytes for s in segs)
                                for lvl, segs in m.levels.items()},
            "max_skew_factor": max((s.skew_factor for s in m.segments), default=0.0),
            "options": m.opts.to_dict(),
        }

    def postings_paths(self) -> list[str]:
        return [os.path.join(self.manifest.segment_dir(s.segment_id), POSTINGS_DIR)
                for s in self.manifest.segments]

    def docs_paths(self) -> list[str]:
        return [os.path.join(self.manifest.segment_dir(s.segment_id), DOCS_DIR)
                for s in self.manifest.segments]

    def docmap(self) -> DataFrame:
        """Global docmap = union of per-segment docmaps (doc_id, doc_len,
        fieldnorm, content_sha256, source metadata)."""
        return self.spark.read.parquet(*self.docs_paths())

    def verify_content(self, source: DataFrame, text_col: str, id_col: str) -> int:
        """Assert per-row sha256(content) equality vs the source (input_hint
        end-to-end invariant). Returns number of rows checked; raises on any
        mismatch."""
        text_expr = F.col(text_col)
        if isinstance(source.schema[text_col].dataType, T.ArrayType):
            text_expr = F.concat_ws(" ", F.col(text_col))
        dm = self.docmap()
        # length-reordered layouts key the docmap by internal strided ids;
        # the source's ids live in source_id — join on those there
        key = "source_id" if "source_id" in dm.columns else "doc_id"
        src = source.select(
            F.col(id_col).cast("long").alias(key),
            F.sha2(F.coalesce(text_expr, F.lit("")), 256).alias("src_sha"))
        joined = dm.select(key, "content_sha256").join(src, key, "full")
        bad = joined.filter(
            F.col("content_sha256").isNull() | F.col("src_sha").isNull()
            | (F.col("content_sha256") != F.col("src_sha"))).count()
        if bad:
            raise AssertionError(f"content sha256 mismatch on {bad} rows")
        return joined.count()

    def describe(self) -> dict:
        """bm25_dump_index / bm25_summarize_index analogue
        (reference sql/pg_textsearch--1.4.0-dev.sql:236-255): stats plus
        per-segment records with lineage."""
        s = self.stats()
        s["segments"] = [rec.to_dict() for rec in self.manifest.segments]
        return s

    # -- search API lives in query.py; bound here for convenience -----------
    def search(self, query: str, k: int | None = 10, mode: str = "or",
               round_to: int = 4, negate: bool = False) -> DataFrame:
        """``negate=True`` returns the reference's ``<@>`` sign convention
        (negative BM25, lower = better — README.md:91)."""
        from .query import search_index
        out = search_index(self, query, k=k, mode=mode, round_to=round_to)
        if negate:
            out = out.select("doc_id", (-F.col("score")).alias("score")) \
                     .orderBy(F.asc("score"), F.asc("doc_id"))
        return out

    def serving(self, cache_terms: int = 4096):
        """Driver-local serving read path over this index's artifacts —
        point queries in milliseconds, no Spark job (see index/serve.py)."""
        from .serve import LocalSearcher
        return LocalSearcher(self.path, cache_terms=cache_terms)

    def resolve(self, results: DataFrame) -> DataFrame:
        """Attach the original document id (``source_id``) to a result
        frame keyed by internal ``doc_id`` — needed after a
        ``reorder_docs='length'`` build, a no-op alias join otherwise.
        The (tiny) result side broadcasts; the docmap scans once."""
        dm = self.docmap()
        if "source_id" not in dm.columns:
            out = results.withColumn("source_id", F.col("doc_id"))
        else:
            out = results.join(dm.select("doc_id", "source_id"), "doc_id")
        # the join does NOT preserve the input's sort; re-apply the result
        # contract (score DESC, id ASC) on the PUBLIC id so callers see the
        # same deterministic order search() promises
        if "score" in out.columns:
            order = [F.desc("score")]
            if "query_id" in out.columns:
                order = [F.asc("query_id")] + order
            out = out.orderBy(*order, F.asc("source_id"))
        return out

    def term_stats(self, terms: list[str]) -> DataFrame:
        from .query import term_stats
        return term_stats(self, terms)

    def search_profiled(self, query: str, k: int | None | str = 10,
                        mode: str = "or", round_to: int = 4):
        """Eager search returning (pandas top-k, BMW stats) — the
        reference's ``log_bmw_stats`` observability analogue."""
        from .query import search_profiled
        return search_profiled(self, query, k=k, mode=mode, round_to=round_to)

    def force_merge(self):
        from .merge import force_merge_all
        return force_merge_all(self)

    def compact(self) -> int:
        from .merge import compact_tiered
        return compact_tiered(self)

    def flush(self) -> int:
        """``bm25_spill_index`` analogue (reference
        sql/pg_textsearch--1.4.0-dev.sql + src/mod.c memtable spill): every
        ``append`` already lands as a durable L0 segment (the sanctioned
        micro-batch mapping, SURVEY.md §2.2 B11), so flush = run tiered
        compaction over whatever L0 has accumulated. Returns the number of
        merges performed."""
        return self.compact()

    def append(self, docs: DataFrame, text_col: str, id_col: str) -> None:
        from ..streaming.append import append_batch
        append_batch(self, docs, text_col, id_col)

    # -- deletions (reference VACUUM bulkdelete, M4-M6) ---------------------
    def delete(self, doc_ids) -> int:
        """Tombstone documents. On a ``reorder_docs='length'`` index the
        public ids are the SOURCE ids (what ``resolve()`` returns), so they
        are mapped to internal strided doc_ids via the docmap first —
        matching raw internal ids against user ids would silently tombstone
        the wrong docs (or none)."""
        from .delete import delete_docs
        if self.manifest.opts.reorder_docs == "length":
            doc_ids = self._map_source_ids(doc_ids)
        return delete_docs(self, doc_ids)

    def _map_source_ids(self, doc_ids) -> DataFrame:
        """source_id -> internal doc_id via the docmap (reordered layouts).
        Ids absent from the corpus map to nothing — same no-op semantics as
        tombstoning a nonexistent id on the identity layout."""
        dm = self.docmap().select(F.col("source_id").cast("long"),
                                  F.col("doc_id").cast("long"))
        if isinstance(doc_ids, DataFrame):
            wanted = doc_ids.select(F.col("doc_id").cast("long")
                                    .alias("source_id")).distinct()
            return dm.join(F.broadcast(wanted), "source_id").select("doc_id")
        ids = [int(i) for i in doc_ids]
        return dm.filter(F.col("source_id").isin(ids)).select("doc_id")

    def vacuum(self) -> dict:
        from .delete import vacuum
        return vacuum(self)
