"""LSM segment merges (reference operators M1-M3, M5): an N-way
term-sorted cursor walk (src/segment/merge.c:1409-1891), tiered compaction
(merge.c:1896-1944) and force-merge (merge.c:1951-1972).

A merge is two ``mapInArrow`` passes that write the new segment with the
build's writers and return the stats its record is summed from; nothing is
read back. Postings: compressed shard rows get a doc-range salt (a
mega-term spreads over up to N_SALTS groups), are range-partitioned on
(term, salt), sorted (term, salt, min_doc_id), decoded, stripped of
tombstoned docs, re-packed per salt and written one file per partition.
Docs: tombstones dropped, sorted by doc_id, written; no shuffle.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from itertools import chain

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from . import build
from .build import DOCS_DIR, POSTINGS_DIR, write_docs, write_postings
from .manifest import SEG_MARKER, SegmentRecord
from .segment import decode_positions, decode_row, pack_postings_frame

# doc-range groups per term; merged shard id = shard * N_SALTS + salt
N_SALTS = 32
# postings a task holds before it packs them at a (term, salt) boundary
FLUSH_POSTINGS = 1 << 20

_POSTINGS_STATS = pa.schema([
    (c, pa.string() if c.endswith("term") else pa.int64()) for c in (
        "bytes num_postings min_doc_id max_doc_id first_term first_df "
        "last_term last_df inner_terms inner_max_df").split()])
_DOCS_STATS = "bytes long, num_docs long, total_len long, total_qlen long"


def _postings_pass(seg_id: str, out_dir: str, opts, deleted_bc,
                   row_group_rows: int):
    """mapInArrow body over one partition of (term, salt, min_doc_id)-
    sorted shard rows: decode, drop tombstoned docs, re-pack per salt and
    stream the packed chunks into one part file. Yields a stats row per
    chunk: its inner terms are whole (a term's rows are contiguous across
    chunks and partitions); its first and last carry partial dfs."""
    with_pos = opts.store_positions

    def pack(rows: list, deleted, stats: list):
        n = [r[2].size for r in rows]
        frame = {"term": np.repeat(np.array([r[0] for r in rows], object), n),
                 "salt": np.repeat([r[1] for r in rows], n)}
        for i, c in enumerate(("doc_id", "tf", "fieldnorm"), 2):
            frame[c] = np.concatenate([r[i] for r in rows])
        if with_pos:
            frame["positions"] = np.empty(frame["doc_id"].size, object)
            frame["positions"][:] = [p for r in rows for p in r[5]]
        frame = pd.DataFrame(frame)
        if deleted is not None:
            frame = frame[~np.isin(frame["doc_id"].to_numpy(), deleted)]
        if not len(frame):
            return None
        parts = []
        for salt, g in frame.groupby("salt"):
            packed = pack_postings_frame(g, opts.block_size, codec=opts.codec,
                                         with_positions=with_pos)
            packed["shard"] = packed["shard"] * N_SALTS + int(salt)
            parts.append(packed)
        out = pd.concat(parts).sort_values(["term", "shard"],
                                           ignore_index=True)
        out.insert(0, "segment_id", seg_id)
        terms, starts = np.unique(out["term"].to_numpy(), return_index=True)
        dfs = np.add.reduceat(out["doc_freq"].to_numpy(np.int64), starts)
        stats.append(dict(
            num_postings=int(dfs.sum()), inner_terms=max(terms.size - 2, 0),
            inner_max_df=int(dfs[1:-1].max(initial=0)),
            min_doc_id=int(out["min_doc_id"].min()),
            max_doc_id=int(out["last_doc_id"].max()),
            first_term=str(terms[0]), first_df=int(dfs[0]),
            last_term=str(terms[-1]),   # a one-term chunk's df is first_df
            last_df=int(dfs[-1]) if terms.size > 1 else 0))
        return out

    def run(batches):
        deleted = getattr(deleted_bc, "value", None)
        stats: list[dict] = []

        def chunks():
            rows, key, held = [], None, 0
            for b in batches:
                cols = b.to_pydict()
                for i, term in enumerate(cols["term"]):
                    row = {c: v[i] for c, v in cols.items()}
                    if (term, row["salt"]) != key:
                        if held >= FLUSH_POSTINGS:
                            yield pack(rows, deleted, stats)
                            rows, held = [], 0
                        key = (term, row["salt"])
                    ids, tfs, norms = decode_row(row, opts.block_size,
                                                 opts.codec)
                    rows.append((term, row["salt"], ids, tfs, norms,
                                 decode_positions(row) if with_pos else None))
                    held += ids.size
            if rows:
                yield pack(rows, deleted, stats)

        packed = (c for c in chunks() if c is not None)
        first = next(packed, None)
        if first is not None:
            part = TaskContext.get().partitionId()
            stats[0]["bytes"] = write_postings(
                os.path.join(out_dir, f"part-{part:05d}.parquet"),
                chain([first], packed), with_pos, row_group_rows)
            yield pa.RecordBatch.from_pylist(stats, schema=_POSTINGS_STATS)

    return run


def _docs_pass(out_dir: str, schema, deleted_bc):
    """mapInArrow body over one partition of docmap rows: drop tombstoned
    docs, sort by doc_id, write one part file with ``schema``."""
    def run(batches):
        from ..functions.fieldnorm import DECODE_TABLE
        tbl = pa.Table.from_batches([b.cast(schema) for b in batches], schema)
        deleted = getattr(deleted_bc, "value", None)
        if deleted is not None:
            tbl = tbl.filter(~np.isin(tbl["doc_id"].to_numpy(), deleted))
        if not tbl.num_rows:
            return
        tbl = tbl.sort_by("doc_id")
        part = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{part:05d}.parquet")
        yield pa.RecordBatch.from_pylist([{
            "bytes": write_docs(path, tbl), "num_docs": tbl.num_rows,
            "total_len": int(tbl["doc_len"].to_numpy().sum()),
            # Σ quantized lengths — avgdl_mode='quantized' divides by N
            "total_qlen": int(DECODE_TABLE[
                tbl["fieldnorm"].to_numpy().astype(np.int64)].sum())}])

    return run


def merge_segments(index, seg_records: list[SegmentRecord],
                   out_level: int) -> SegmentRecord:
    """Merge the given segments into one new segment at out_level."""
    from .delete import load_deletes
    spark, manifest, opts = index.spark, index.manifest, index.manifest.opts
    seg_id = manifest.new_segment_id()
    seg_dir = manifest.segment_dir(seg_id)
    pdir, ddir = (os.path.join(seg_dir, d) for d in (POSTINGS_DIR, DOCS_DIR))
    in_dirs = [manifest.segment_dir(s.segment_id) for s in seg_records]

    # tombstones (M4, src/segment/merge.c:839-866) in the inputs' doc-id
    # range: one broadcast for both passes, sized by the merged slice
    lo = min(s.min_doc_id for s in seg_records)
    hi = max(s.max_doc_id for s in seg_records)
    deleted = load_deletes(index)
    deleted = deleted[np.searchsorted(deleted, lo, side="left"):
                      np.searchsorted(deleted, hi, side="right")]
    deleted_bc = (spark.sparkContext.broadcast(deleted)
                  if deleted.size else None)

    # postings: only the columns a re-pack reads (the skip lists are
    # rebuilt), with the schema given so Spark infers nothing
    cols = ("term string, min_doc_id long, doc_freq int, doc_ids_bin binary,"
            " tfs_bin binary, norms_bin binary")
    if opts.store_positions:
        cols += ", pos_counts_bin binary, pos_deltas_bin binary"
    salt_span = max(1, (hi - lo + 1) // N_SALTS)
    salt = F.least(F.lit(N_SALTS - 1), F.floor(
        (F.col("min_doc_id").cast("double") - float(lo)) / float(salt_span)
    ).cast("int"))
    pstats = (spark.read.schema(cols)
              .parquet(*[os.path.join(d, POSTINGS_DIR) for d in in_dirs])
              .withColumn("salt", salt)
              .repartitionByRange("term", "salt")
              .sortWithinPartitions("term", "salt", "min_doc_id")
              .mapInArrow(_postings_pass(seg_id, pdir, opts, deleted_bc,
                                         build.POSTINGS_ROW_GROUP_ROWS),
                          from_arrow_schema(_POSTINGS_STATS))
              .collect())
    # docs: one schema for every part, the union of the inputs' columns
    # (an append batch may lack a build's metadata column)
    docs = (spark.read.option("mergeSchema", "true")
            .parquet(*[os.path.join(d, DOCS_DIR) for d in in_dirs]))
    schema = to_arrow_schema(docs.schema)
    dstats = (docs.mapInArrow(_docs_pass(ddir, schema, deleted_bc),
                              _DOCS_STATS).collect())
    if deleted_bc is not None:
        deleted_bc.unpersist()
    # a merge that dropped every doc still leaves readable, empty dirs
    if not pstats:
        write_postings(os.path.join(pdir, "part-00000.parquet"), [],
                       opts.store_positions)
    if not dstats:
        write_docs(os.path.join(ddir, "part-00000.parquet"),
                   schema.empty_table())

    # exact term stats: join the chunks' edge terms, add their inner terms
    edges = Counter()
    for r in pstats:
        edges[r["first_term"]] += r["first_df"]
        edges[r["last_term"]] += r["last_df"]
    num_terms = sum(r["inner_terms"] for r in pstats) + len(edges)
    num_postings = sum(r["num_postings"] for r in pstats)
    max_df = max([r["inner_max_df"] for r in pstats] + list(edges.values()),
                 default=0)
    batch_ids = {b for s in seg_records for b in (
        s.lineage.get("batch_id"), *(s.lineage.get("batch_ids") or ()))}
    rec = SegmentRecord(
        segment_id=seg_id, level=out_level,
        **{c: sum(r[c] for r in dstats)
           for c in ("num_docs", "total_len", "total_qlen")},
        num_terms=num_terms, num_postings=num_postings,
        bytes=sum(r["bytes"] or 0 for r in pstats + dstats),
        min_doc_id=min((r["min_doc_id"] for r in pstats), default=0),
        max_doc_id=max((r["max_doc_id"] for r in pstats), default=0),
        max_doc_freq=max_df,
        skew_factor=(max_df / (num_postings / num_terms)
                     if num_postings else 0.0),
        term_min=min(edges, default=""), term_max=max(edges, default=""),
        # the inputs' batch ids: a replayed streaming batch stays a no-op
        lineage={"kind": "merge", "batch_ids": sorted(batch_ids - {None}),
                 "inputs": [s.segment_id for s in seg_records]})
    with open(os.path.join(seg_dir, SEG_MARKER), "w") as f:
        json.dump(rec.to_dict(), f)

    # atomic manifest swap, then reclaim input dirs (M5)
    manifest.replace_segments({s.segment_id for s in seg_records}, [rec])
    manifest.save()
    for d in in_dirs:
        shutil.rmtree(d, ignore_errors=True)
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
