"""LSM segment merges (reference operators M1-M3, M5).

The reference merges 8 same-level segments into one next-level segment by an
N-way term-sorted cursor walk (src/segment/merge.c:1409-1891) and recurses
when a level fills (tiered compaction, src/segment/merge.c:1896-1944).
``bm25_force_merge`` collapses everything to one segment
(src/segment/merge.c:1951-1972).

Spark-first re-expression: a merge is one job —

  read input segments' postings (columnar)
    -> decode to posting rows in Arrow batches (mapInPandas, streaming)
    -> repartition by (term, salt) where salt = doc_id DIV salt_span —
       SALTED REPARTITIONING: a mega-term (common keyword) is split into
       bounded doc-range groups instead of one skewed reducer, and because
       salt is a doc_id prefix the groups re-assemble deterministically as
       consecutive shard rows
    -> pack each group (same block/skip/varbyte layout as the base build)
    -> write the new segment with Spark's parquet writer
    -> commit manifest (remove inputs, add output), then delete input dirs
       (the reference's tombstone-then-free, src/segment/tombstone.c).

Doc ids are globally unique and segments are disjoint doc sets, so merging
never remaps ids (the reference must remap because its ids are
segment-local, merge.c:658-882 — our global-id design removes the problem).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..config import Bm25Options
from .manifest import SEG_MARKER, SegmentRecord
from .segment import decode_positions, decode_row, pack_postings_frame

def _merge_group_packer(opts: Bm25Options, seg_id: str, n_salts: int,
                        deleted_bc):
    """applyInPandas body for one (term, salt) group of PACKED shard rows:
    decode each input row (vectorized), drop tombstoned docs, concatenate,
    re-sort by doc_id, re-pack. The shuffle moves compressed shard rows —
    never per-posting rows — so merge shuffle volume ≈ index size, not
    postings count. Tombstones arrive via a Spark broadcast (once per
    executor), not inside the task closure."""
    block_size = opts.block_size
    with_pos = opts.store_positions
    codec = opts.codec

    def pack_group(key, pdf):
        term, salt = key[0], int(key[1])
        deleted = None
        if deleted_bc is not None:
            deleted = getattr(deleted_bc, "value", deleted_bc)
        ids_l, tfs_l, norms_l, pos_l = [], [], [], []
        for r in pdf.to_dict("records"):
            ids, tfs, norms = decode_row(r, block_size, codec)
            if deleted is not None and deleted.size and ids.size:
                p = np.searchsorted(deleted, ids)
                p[p >= deleted.size] = deleted.size - 1
                alive = deleted[p] != ids
                if with_pos:
                    pos = decode_positions(r) or []
                    pos_l.extend(pl for pl, a in zip(pos, alive) if a)
                ids, tfs, norms = ids[alive], tfs[alive], norms[alive]
            elif with_pos:
                pos = decode_positions(r) or []
                pos_l.extend(pos)
            ids_l.append(ids); tfs_l.append(tfs); norms_l.append(norms)
        ids = np.concatenate(ids_l) if ids_l else np.empty(0, np.int64)
        if ids.size == 0:
            empty = pack_postings_frame(pd.DataFrame(
                {"doc_id": [], "term": [], "tf": [], "fieldnorm": [],
                 "positions": []}), block_size, with_positions=with_pos,
                codec=codec)
            empty.insert(0, "segment_id", seg_id)
            return empty
        tfs = np.concatenate(tfs_l)
        norms = np.concatenate(norms_l)
        frame = {"doc_id": ids, "term": np.repeat(term, ids.size),
                 "tf": tfs, "fieldnorm": norms}
        if with_pos:
            # element-wise fill: np.asarray(..., object) goes 2D when all
            # position lists happen to share a length, which pandas rejects
            pos_arr = np.empty(len(pos_l), dtype=object)
            for i, p in enumerate(pos_l):
                pos_arr[i] = p
            frame["positions"] = pos_arr
        packed = pack_postings_frame(pd.DataFrame(frame), block_size,
                                     with_positions=with_pos, codec=codec)
        # unique shard ids across salts of the same term; doc-range order
        # is carried by min_doc_id (the query kernel never assumes shard
        # ranges are disjoint, only that docs are unique per term)
        packed["shard"] = packed["shard"].to_numpy() * n_salts + salt
        packed.insert(0, "segment_id", seg_id)
        return packed

    return pack_group


def merge_segments(index, seg_records: list[SegmentRecord], out_level: int,
                   n_salts: int = 32) -> SegmentRecord:
    """Merge the given segments into one new segment at out_level."""
    spark = index.spark
    manifest = index.manifest
    opts = manifest.opts
    seg_id = manifest.new_segment_id()
    seg_dir = manifest.segment_dir(seg_id)

    in_postings = [os.path.join(manifest.segment_dir(s.segment_id), "postings")
                   for s in seg_records]
    in_docs = [os.path.join(manifest.segment_dir(s.segment_id), "docs")
               for s in seg_records]

    lo = min(s.min_doc_id for s in seg_records)
    hi = max(s.max_doc_id for s in seg_records)
    salt_span = max(1, (hi - lo + 1) // n_salts)

    rows = spark.read.parquet(*in_postings)

    # tombstones (M4: the reference's dead-doc elimination at merge,
    # src/segment/merge.c:839-866): masked inside the group packer after
    # block decode — shard rows stay packed through the shuffle
    from .delete import load_deletes
    deleted = load_deletes(index)
    # slice to the ids that can occur in THIS merge's inputs (the union of
    # the input segments' doc-id ranges) — the broadcast scales with the
    # churn of the merged slice, not the index-lifetime tombstone total
    # (same locality the query path gets from live_deletes)
    if deleted.size:
        s_lo = np.searchsorted(deleted, lo, side="left")
        s_hi = np.searchsorted(deleted, hi, side="right")
        deleted = deleted[s_lo:s_hi]
    deleted_bc = (spark.sparkContext.broadcast(deleted)
                  if deleted.size else None)
    deleted = deleted if deleted.size else None

    # SALTED REPARTITIONING: shuffle by (term, doc-range salt of the shard
    # row's min_doc_id) so a mega-term (common keyword) spreads over up to
    # n_salts reducers instead of one skewed reducer. Rows stay compressed:
    # merge shuffle volume ~= index bytes, not postings count.
    salted = rows.withColumn(
        "salt",
        F.least(F.lit(int(n_salts - 1)),
                F.floor((F.col("min_doc_id").cast("double") - float(lo))
                        / float(salt_span)).cast("int")))

    pack_group = _merge_group_packer(opts, seg_id, n_salts, deleted_bc)

    from .build import POSTINGS_ROW_GROUP_ROWS
    spark_schema = ("segment_id string, term string, shard long, "
                    "min_doc_id long, last_doc_id long, doc_freq int, "
                    "num_blocks int, doc_ids_bin binary, tfs_bin binary, "
                    "norms_bin binary, skip_last_doc_id array<long>, "
                    "skip_doc_count array<int>, skip_max_tf array<int>, "
                    "skip_min_norm array<int>, skip_doc_off array<long>, "
                    "skip_tf_off array<long>, pos_counts_bin binary, "
                    "pos_deltas_bin binary, skip_pos_off array<long>")
    packed = (salted.groupBy("term", "salt")
              .applyInPandas(pack_group, spark_schema))
    # same layout as a built segment: each part file (term, shard)-sorted
    # in row groups of at most POSTINGS_ROW_GROUP_ROWS rows, so serving's
    # footer-range pruning applies to merged segments too (a hash-shuffled
    # part file otherwise spans the whole vocabulary in one row group)
    (packed.sortWithinPartitions("term", "shard").write.mode("overwrite")
     .option("parquet.block.row.count.limit", POSTINGS_ROW_GROUP_ROWS)
     .parquet(os.path.join(seg_dir, "postings")))

    docs = spark.read.parquet(*in_docs)
    if deleted is not None:
        from .delete import deletes_df
        dels = deletes_df(index)
        docs = docs.join(dels, "doc_id", "left_anti")
    docs.write.mode("overwrite").parquet(os.path.join(seg_dir, "docs"))
    if deleted_bc is not None:
        deleted_bc.unpersist()

    # stats for the manifest record
    st = spark.read.parquet(os.path.join(seg_dir, "postings")).agg(
        F.countDistinct("term").alias("num_terms"),
        F.sum("doc_freq").alias("num_postings"),
        F.min("min_doc_id").alias("min_id"),
        F.max("last_doc_id").alias("max_id"),
        F.min("term").alias("term_min"),
        F.max("term").alias("term_max"),
    ).collect()[0]
    from ..functions.fieldnorm import DECODE_TABLE
    qlen_col = F.element_at(
        F.array(*[F.lit(int(v)) for v in DECODE_TABLE]),
        F.col("fieldnorm").cast("int") + 1).cast("long")
    dstats = spark.read.parquet(os.path.join(seg_dir, "docs")).agg(
        F.count(F.lit(1)).alias("num_docs"),
        F.sum("doc_len").alias("total_len"),
        F.sum(qlen_col).alias("total_qlen"),
    ).collect()[0]
    tstats = (spark.read.parquet(os.path.join(seg_dir, "postings"))
              .groupBy("term").agg(F.sum("doc_freq").alias("df"))
              .agg(F.max("df").alias("max_df"), F.avg("df").alias("mean_df"))
              .collect()[0])
    nbytes = sum(os.path.getsize(os.path.join(dp, f))
                 for base in ("postings", "docs")
                 for dp in [os.path.join(seg_dir, base)]
                 for f in os.listdir(dp) if f.endswith(".parquet"))

    rec = SegmentRecord(
        segment_id=seg_id, level=out_level,
        num_docs=int(dstats["num_docs"]), total_len=int(dstats["total_len"] or 0),
        total_qlen=int(dstats["total_qlen"] or 0),
        num_terms=int(st["num_terms"] or 0), num_postings=int(st["num_postings"] or 0),
        bytes=int(nbytes),
        min_doc_id=int(st["min_id"] if st["min_id"] is not None else 0),
        max_doc_id=int(st["max_id"] if st["max_id"] is not None else 0),
        max_doc_freq=int(tstats["max_df"] or 0),
        skew_factor=float((tstats["max_df"] or 0) / tstats["mean_df"]) if tstats["mean_df"] else 0.0,
        term_min=str(st["term_min"] or ""), term_max=str(st["term_max"] or ""),
        lineage={"kind": "merge", "inputs": [s.segment_id for s in seg_records],
                 "n_salts": n_salts,
                 # carry every streaming batch id the inputs ingested, so
                 # append_batch's replay-idempotency check survives
                 # compaction (a retried micro-batch must stay a no-op
                 # after its L0 segment was merged away)
                 "batch_ids": sorted({
                     b for s in seg_records
                     for b in ([s.lineage.get("batch_id")]
                               + list(s.lineage.get("batch_ids") or []))
                     if b is not None})},
    )
    import json
    with open(os.path.join(seg_dir, SEG_MARKER), "w") as f:
        json.dump(rec.to_dict(), f)

    # atomic manifest swap, then reclaim input dirs (M5)
    manifest.replace_segments({s.segment_id for s in seg_records}, [rec])
    manifest.save()
    for s in seg_records:
        shutil.rmtree(manifest.segment_dir(s.segment_id), ignore_errors=True)
    return rec


def compact_tiered(index) -> int:
    """Tiered compaction (M1): while any level holds >= segments_per_level
    segments, merge the oldest batch into the next level. Returns number of
    merges performed."""
    opts = index.manifest.opts
    fanin = opts.segments_per_level
    merges = 0
    lvl = 0
    while lvl < 64:
        segs = index.manifest.levels.get(lvl, [])
        if len(segs) >= fanin:
            batch = sorted(segs, key=lambda s: s.segment_id)[:fanin]
            merge_segments(index, batch, lvl + 1)
            merges += 1
            continue  # re-check same level
        lvl += 1
        if lvl > max(index.manifest.levels, default=0):
            break
    return merges


def force_merge_all(index) -> SegmentRecord | None:
    """M3: merge ALL live segments (every level) into a single segment."""
    segs = index.manifest.segments
    if len(segs) <= 1:
        return None
    return merge_segments(index, segs, out_level=max(s.level for s in segs))
