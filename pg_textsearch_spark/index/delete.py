"""Deletions (reference operators M4-M6: VACUUM bulkdelete + alive bitset).

The reference flips bits in each segment's alive bitset in place and drops
dead postings at the next merge (src/access/vacuum.c:44-60,771-814,960-985;
src/segment/alive_bitset.c). Segments here are immutable Parquet, so the
Spark-native equivalent is a *tombstone sidecar*:

- ``index/deletes/*.parquet`` (one ``doc_id`` column) — appended atomically
  by :func:`delete_docs`; the analogue of flipped alive bits.
- Query kernels mask tombstoned ids per term after block decode (the
  reference checks the bitset per hit, src/scoring/bmw.c). Corpus stats
  (N, avgdl, doc_freq) intentionally keep dead docs until a merge — exactly
  the reference's semantics (num_docs stays, alive_count shrinks).
- Merges anti-join decoded postings against the tombstones, so dead docs
  are physically dropped and the totals shrink (reference
  src/segment/merge.c:839-866 dead-doc correction).
- :func:`vacuum` = force-merge-all + docmap rewrite + tombstone clear
  (M5/M6 page reclamation).

Scale note: tombstones stay distributed (a DataFrame anti-join) on the
merge path. The query path ships only the ids overlapping live segments'
doc-id ranges: :func:`live_deletes` keeps the sorted ids that fall in some
segment's ``min_doc_id``/``max_doc_id`` range (ids outside every range are
dropped on the driver), and :func:`tombstone_broadcast` ships that one
sorted array ONCE per executor as a Spark torrent broadcast — never inside
per-task closures. Kernels mask with a binary search into it, whichever
segments their rows come from.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DELETES_DIR = "deletes"


def _deletes_path(index) -> str:
    return os.path.join(index.path, DELETES_DIR)


def delete_docs(index, doc_ids) -> int:
    """Tombstone documents by id. ``doc_ids``: iterable of ints or a
    DataFrame with a ``doc_id`` column. Returns the number recorded."""
    path = _deletes_path(index)
    if isinstance(doc_ids, DataFrame):
        # materialize the deduped ids ONCE so the written rows and the
        # returned count come from the same data even for a
        # nondeterministic source
        df = doc_ids.select(F.col("doc_id").cast("long")).distinct().persist()
        try:
            n = df.count()
            if n:
                df.write.mode("append").parquet(path)
        finally:
            df.unpersist()
        return n
    ids = [int(i) for i in doc_ids]
    if not ids:
        return 0
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    t = pa.table({"doc_id": pa.array(sorted(set(ids)), pa.int64())})
    f = os.path.join(path, f"tomb-{uuid.uuid4().hex[:12]}.parquet")
    pq.write_table(t, f + ".tmp")
    os.replace(f + ".tmp", f)
    return len(set(ids))


def load_deletes(index) -> np.ndarray:
    """All tombstoned ids as a sorted unique int64 array (driver-side)."""
    path = _deletes_path(index)
    if not os.path.isdir(path) or not any(
            f.endswith(".parquet") for f in os.listdir(path)):
        return np.empty(0, dtype=np.int64)
    import pyarrow.dataset as ds
    arr = ds.dataset(path).to_table(columns=["doc_id"])["doc_id"].to_numpy()
    return np.unique(arr.astype(np.int64))


def live_deletes(index) -> np.ndarray | None:
    """The sorted tombstone ids that fall in some live segment's
    [min_doc_id, max_doc_id] range, or None when there are none. Ids
    outside every range are dropped here on the driver — nothing
    dead-in-no-segment ever ships."""
    arr = load_deletes(index)
    if not arr.size:
        return None
    keep = np.zeros(arr.size, dtype=bool)
    for s in index.manifest.segments:
        keep[np.searchsorted(arr, s.min_doc_id, side="left"):
             np.searchsorted(arr, s.max_doc_id, side="right")] = True
    return arr[keep] if keep.any() else None


def tombstone_broadcast(index):
    """:func:`live_deletes` as a cached Spark broadcast (shipped once per
    executor via torrent broadcast, NOT serialized into every task).
    Returns None when there are no tombstones. Cache key = deletes file
    listing + manifest version, so appends/merges/deletes invalidate it."""
    path = _deletes_path(index)
    files = tuple(sorted(os.listdir(path))) if os.path.isdir(path) else ()
    ver = (files, index.manifest.updated_at)
    cached = getattr(index, "_tomb_bc", None)
    if cached is not None and cached[0] == ver:
        return cached[1]
    if cached is not None and cached[1] is not None:
        try:
            cached[1].unpersist()
        except Exception:
            pass
    arr = live_deletes(index)
    bc = index.spark.sparkContext.broadcast(arr) if arr is not None else None
    index._tomb_bc = (ver, bc)
    return bc


def deletes_df(index) -> DataFrame | None:
    path = _deletes_path(index)
    if not os.path.isdir(path) or not any(
            f.endswith(".parquet") for f in os.listdir(path)):
        return None
    return index.spark.read.parquet(path).select(
        F.col("doc_id").cast("long")).distinct()


def clear_deletes(index) -> None:
    shutil.rmtree(_deletes_path(index), ignore_errors=True)


def reclaim_orphans(index) -> int:
    """Remove segment directories not referenced by the manifest, plus
    stale spill bucket markers (M5 page reclamation for build leftovers).

    Orphans arise from failed/speculative spill-pack attempts (sub-segment
    dirs are attempt-unique, so a losing attempt's dirs are never
    referenced) and from builds killed before their manifest commit. Only
    call on a committed index — an in-flight resumable build's segments
    are not yet in the manifest."""
    seg_root = os.path.join(index.path, "segments")
    if not os.path.isdir(seg_root):
        return 0
    live = {s.segment_id for s in index.manifest.segments}
    removed = 0
    for name in os.listdir(seg_root):
        full = os.path.join(seg_root, name)
        if name.endswith(".bucket.json"):
            os.unlink(full)
            continue
        if os.path.isdir(full) and name not in live:
            shutil.rmtree(full, ignore_errors=True)
            removed += 1
    return removed


def vacuum(index) -> dict:
    """Physically drop tombstoned docs: force-merge all segments with
    dead-doc filtering, rewrite the global docmap, clear tombstones, and
    reclaim unreferenced segment dirs left by failed build attempts."""
    from .merge import force_merge_all, merge_segments

    tombs = load_deletes(index)
    before = index.manifest.total_docs
    if index.manifest.segments:
        # the merge drops dead rows from postings AND the per-segment
        # docmaps in one pass; a single segment still needs a rewrite run
        if len(index.manifest.segments) > 1:
            force_merge_all(index)
        else:
            seg = index.manifest.segments[0]
            merge_segments(index, [seg], out_level=seg.level)
    clear_deletes(index)
    orphans = reclaim_orphans(index)
    return {"docs_before": before, "docs_after": index.manifest.total_docs,
            "tombstones_cleared": int(tombs.size),
            "orphan_dirs_reclaimed": orphans}
