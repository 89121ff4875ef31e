"""Driver-local serving read path — point queries WITHOUT a Spark job.

Spark is the build / merge / batch-analytics engine; its per-job
scheduling floor (~0.5-1 s even on local[32]) dominates single-query
latency no matter how little work the query does — round 3 measured
0.7-0.9 s/query against the reference's 5-178 ms (BASELINE.md). The
index artifacts, however, are plain Parquet plus an atomically-renamed
JSON manifest, and the scoring kernel (``query.make_kernel``: MaxScore +
block-max over lazily decoded blocks) is plain numpy. :class:`LocalSearcher`
reads the SAME files with pyarrow and runs the SAME kernel in-process.
Results are pinned identical to ``search_index`` / ``search_batch`` in
tests and oracle-checked by the driver (``bm25_topk_served``).

One pass per query. ``search`` is a batch of one query plan
(``query.plan_query``), so ``search`` and ``search_batch`` share one
code path (``_score``): fetch the plans' terms, hand ONE kernel call the
fetched rows of every segment as row dicts, and order the arrays it
returns. The kernel is segment-agnostic (a term's reader spans every
shard row it is handed, each with its own doc range, and doc ids are
unique across segments): one MaxScore pass whose blocks are ranked by
bound across the whole index, one running kth, one top-k heap per query
— the reference's single cross-segment BMW scan (reference
src/scoring/bmw.c:1477-1716). A cold segment's blocks are never decoded
once the running kth passes their bounds. The kernel factory is bound
here under two names, ``make_segment_kernel`` (called by ``search``) and
``make_batch_kernel`` (called by ``search_batch``), which the
benchmark's tracing hooks wrap as separate spans.
Tombstones are one sorted id array (``delete.live_deletes``); decoded
readers are cached per term and die with the term's cache entry.

Cold path. Postings files are written (term, shard)-sorted in row groups
of at most ``build.POSTINGS_ROW_GROUP_ROWS`` rows with ``term`` statistics
in the footer. Per manifest snapshot a replica opens each touched file
once and keeps every row group's [term_min, term_max]. A cold term then
(1) drops whole segments by the manifest's term range, (2) drops row
groups whose footer range cannot hold it, (3) reads the rest with
``read_row_groups`` and keeps the matching rows with ``pc.is_in``, and
(4) turns them into row dicts straight from Arrow. ``resolve`` reads the
docmap the same way: only ``doc_id`` plus the requested columns, only the
row groups whose ``doc_id`` range holds a result id. Files with a single
row group (older builds, Spark-written merge outputs) take the same path
and read their one group.

This is the reference's own split grafted onto Spark: pg_textsearch
builds segments with parallel workers but answers ``ORDER BY <@>``
queries from shared_buffers on one backend
(reference src/scoring/bmw.c:1477-1716) — build and serve are
separate concerns with shared storage.

100 TB shape: one LocalSearcher per serving replica, all reading the
manifest snapshot from shared storage (the JSON rename is the commit
point, so a reader never loads a half-written index; ``refresh()``
picks up LSM appends / merges / vacuums by mtime). Per-replica memory
is bounded by the LRU term cache — hot terms keep their posting
binaries resident, exactly the shared_buffers behaviour. The Spark
path remains the right shape for batch scoring, joins, faceting and
anything that composes with the rest of a pipeline.
"""

from __future__ import annotations

import os
from collections import OrderedDict

import numpy as np
import pandas as pd

from .build import DOCS_DIR, POSTINGS_DIR
from .delete import DELETES_DIR, live_deletes
from .manifest import MANIFEST_NAME, Manifest
from .query import POSITION_COLS, _holds, _resolve_k, _segments_holding
from .query import make_kernel as make_batch_kernel
from .query import make_kernel as make_segment_kernel
from .query import plan_query
from ..functions.tokenizer import tokenize_query

_EMPTY = {"doc_id": "int64", "score": "float64"}
_EMPTY_BATCH = {"query_id": "int32", "doc_id": "int64", "score": "float64"}


def _empty(spec: dict) -> pd.DataFrame:
    # typed empty arrays: a third of the cost of typed empty Series
    return pd.DataFrame({c: np.empty(0, t) for c, t in spec.items()},
                        copy=False)


def _read_footers(d: str, stat_col: str) -> list[tuple]:
    """``(path, footer, arrow schema, ranges)`` for every parquet file of
    directory ``d``; ``ranges[i]`` is row group i's footer (min, max) of
    ``stat_col``, or None when the footer carries no statistics for it
    (never pruned). Only the parsed footer is kept: no file stays open."""
    import pyarrow.parquet as pq
    out = []
    for f in sorted(os.listdir(d)):
        if not f.endswith(".parquet"):
            continue
        path = os.path.join(d, f)
        md = pq.read_metadata(path)
        # leaf-column index: row-group statistics are per parquet leaf
        col = [md.schema.column(i).path
               for i in range(md.num_columns)].index(stat_col)
        ranges = []
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(col).statistics
            ranges.append((st.min, st.max)
                          if st is not None and st.has_min_max else None)
        out.append((path, md, md.schema.to_arrow_schema(), ranges))
    return out


def _read_groups(path: str, md, rgs: list[int], columns=None):
    """Row groups ``rgs`` of one file whose footer ``md`` is already
    parsed. The file is open for this read only, so a replica holds no
    descriptor between queries however many files it has touched."""
    import pyarrow.parquet as pq
    with pq.ParquetFile(path, metadata=md) as pf:
        return pf.read_row_groups(rgs, columns=columns, use_threads=False)


def _row_dicts(tbl) -> list[dict]:
    """Row dicts straight from an Arrow table. Scalars and binaries become
    Python objects; list columns (the per-block skip arrays) become numpy
    views of the column's flat values, the representation the kernel's
    ``np.asarray`` calls take without a copy."""
    import pyarrow as pa
    cols = []
    for col in tbl.columns:
        if pa.types.is_list(col.type):
            arr = col.combine_chunks()
            vals = arr.values.to_numpy(zero_copy_only=False)
            off = arr.offsets.to_numpy()
            valid = (arr.is_valid().to_numpy(zero_copy_only=False)
                     if arr.null_count else None)
            cols.append([vals[off[i]:off[i + 1]]
                         if valid is None or valid[i] else None
                         for i in range(len(arr))])
        else:
            cols.append(col.to_pylist())
    names = tbl.column_names
    return [dict(zip(names, vs)) for vs in zip(*cols)]


class LocalSearcher:
    """Serve BM25 queries from a built index directory, in-process.

    ``cache_terms`` bounds the LRU of per-term posting rows (dictionary
    entry + compressed blocks + skip arrays, straight out of parquet);
    a hot term's second query skips the file read entirely.
    """

    def __init__(self, path: str, cache_terms: int = 4096):
        self.path = path
        self.cache_terms = int(cache_terms)
        self._load()

    # -- snapshot management ------------------------------------------------
    def _load(self) -> None:
        self.manifest = Manifest.load(self.path)
        self._manifest_mtime = os.path.getmtime(
            os.path.join(self.path, MANIFEST_NAME))
        self._terms: OrderedDict[str, list[dict]] = OrderedDict()
        self._gdf: dict[str, int] = {}
        # per-SNAPSHOT file footers, keyed by segment_id: each segment's
        # postings / docmap directory is listed and its footers parsed at
        # most once per manifest version; the cached row-group ranges
        # (term for postings, doc_id for docmaps) drive row-group pruning
        self._seg_files: dict[str, list[tuple]] = {}
        self._doc_files: dict[str, list[tuple]] = {}
        # decoded-posting readers persist ACROSS queries, one per term
        # spanning all its segments; lifetime is tied to the term LRU and
        # the tombstone snapshot — readers mask deletions at decode time,
        # so any tombstone change drops them all
        self._readers: dict = {}
        self._tomb_key = None
        self._tomb = None

    def refresh(self) -> bool:
        """Reload if the manifest changed on disk (append/merge/vacuum
        commit — each ends in an atomic manifest rename). Called at the
        top of every search: one stat(2), no I/O when unchanged."""
        mt = os.path.getmtime(os.path.join(self.path, MANIFEST_NAME))
        if mt != self._manifest_mtime:
            self._load()
            return True
        return False

    # -- artifact access ----------------------------------------------------
    def _postings_paths(self) -> list[str]:
        return [os.path.join(self.manifest.segment_dir(s.segment_id),
                             POSTINGS_DIR)
                for s in self.manifest.segments]

    def _tombstones(self):
        ddir = os.path.join(self.path, DELETES_DIR)
        key = (tuple(sorted(os.listdir(ddir)))
               if os.path.isdir(ddir) else (), self.manifest.updated_at)
        if key != self._tomb_key:
            # live_deletes needs only .path and .manifest
            self._tomb = live_deletes(self)
            self._tomb_key = key
            self._readers.clear()   # cached decodes masked old tombstones
        return self._tomb

    def _files_for(self, segment_id: str, docs: bool = False) -> list[tuple]:
        """:func:`_read_footers` entries of one segment's postings
        (``docs=False``, ranges on ``term``) or docmap (``docs=True``,
        ranges on ``doc_id``), listed once per manifest snapshot (the
        cache dies with :meth:`_load`)."""
        cache = self._doc_files if docs else self._seg_files
        files = cache.get(segment_id)
        if files is None:
            d = os.path.join(self.manifest.segment_dir(segment_id),
                             DOCS_DIR if docs else POSTINGS_DIR)
            files = _read_footers(d, "doc_id" if docs else "term")
            cache[segment_id] = files
        return files

    def _fetch(self, terms: list[str]) -> dict[str, list[dict]]:
        """Posting rows for ``terms`` from the LRU cache, reading the
        missing ones from ONLY the segments whose manifest term range
        [term_min, term_max] can contain a missing term, and within those
        from ONLY the row groups whose footer term range can (the
        driver-local analogue of the Spark path's ``term IN``
        PushedFilters). Each term's rows come back (segment_id, shard)-
        sorted."""
        missing = sorted({t for t in terms if t not in self._terms})
        if missing:
            import pyarrow as pa
            import pyarrow.compute as pc
            got: dict[str, list[dict]] = {}
            value_set = pa.array(missing, type=pa.string())
            # the segment id comes from the record, and the positions
            # sidecar is never read without positions: read neither
            skip = {"segment_id"}
            if not self.manifest.opts.store_positions:
                skip.update(POSITION_COLS)
            for s in _segments_holding(self.manifest.segments, missing):
                for path, md, sch, ranges in self._files_for(s.segment_id):
                    rgs = [i for i, r in enumerate(ranges)
                           if _holds(missing, r)]
                    if not rgs:
                        continue
                    tbl = _read_groups(path, md, rgs, [
                        c for c in sch.names if c not in skip])
                    tbl = tbl.filter(pc.is_in(tbl["term"],
                                              value_set=value_set))
                    for rec in _row_dicts(tbl):
                        rec["segment_id"] = s.segment_id
                        got.setdefault(rec["term"], []).append(rec)
            for t in missing:
                rows = sorted(got.get(t, ()),
                              key=lambda r: (r["segment_id"], r["shard"]))
                self._terms[t] = rows
                self._gdf[t] = int(sum(r["doc_freq"] for r in rows))
        out, gdf = {}, {}
        for t in terms:
            self._terms.move_to_end(t)
            out[t] = self._terms[t]
            gdf[t] = self._gdf[t]
        # evict AFTER snapshotting: this query keeps its rows and global
        # doc_freqs even when the LRU is smaller than the query
        while len(self._terms) > self.cache_terms:
            old, _ = self._terms.popitem(last=False)
            self._gdf.pop(old, None)
            self._readers.pop(old, None)
        return out, gdf

    def _forget_evicted(self, terms) -> None:
        """Drop the readers the kernel just built for terms the LRU already
        evicted (a query or batch with more terms than ``cache_terms``),
        so the reader cache never outgrows the term cache."""
        for t in terms:
            if t not in self._terms:
                self._readers.pop(t, None)

    @staticmethod
    def _by_segment(rows: dict[str, list[dict]]) -> list[dict]:
        """The kernel's ONE record list: every fetched row of every term,
        across all segments, each term's rows in the (segment_id, shard)
        order :meth:`_fetch` keeps (no pandas frame per query). The name
        predates the single pass; the benchmark's tracing hooks bind it."""
        return [r for rws in rows.values() for r in rws]

    def resolve(self, results: pd.DataFrame,
                cols: tuple[str, ...] = ("source_id",)) -> pd.DataFrame:
        """Attach docmap columns (default: the original ``source_id``) to
        a result frame keyed by internal doc_id — the serving analogue of
        ``Bm25Index.resolve``. Reads ONLY the docmaps of segments whose
        doc-id range intersects the results (top-k ids usually hit one or
        two segments), and in them only ``doc_id`` plus the requested
        columns of the row groups whose doc_id range holds a result id (a
        column is available when any touched docmap holds it, null for
        rows of docmaps that lack it); then re-applies the public ordering
        contract (score DESC, source_id ASC) like the Spark path. The
        output frame is built once, from arrays already in that order."""
        import pyarrow as pa
        if not len(results):
            return results.reset_index(drop=True)
        cols_out = {c: results[c].to_numpy() for c in results.columns}
        ids = cols_out["doc_id"].astype(np.int64, copy=False)
        uniq = np.unique(ids)
        lo, hi = int(uniq[0]), int(uniq[-1])
        files = [f for s in self.manifest.segments
                 if not (s.max_doc_id < lo or s.min_doc_id > hi)
                 for f in self._files_for(s.segment_id, docs=True)]
        # docmap columns follow the frame each segment was written from
        # (an append batch may lack a build's metadata column): a column
        # any touched docmap holds is available, null where a file lacks it
        schema = (pa.unify_schemas([sch for _, _, sch, _ in files])
                  if files else pa.schema([]))
        want = [c for c in cols if c in schema.names and c != "doc_id"]
        got = {}
        if "source_id" in cols and "source_id" not in schema.names:
            got["source_id"] = ids                # identity-layout build
        if want:
            sel = ["doc_id"] + want
            parts = []
            for path, md, sch, ranges in files:
                rgs = [i for i, r in enumerate(ranges) if _holds(uniq, r)]
                if not rgs:
                    continue
                part = _read_groups(path, md, rgs,
                                    [c for c in sel if c in sch.names])
                for c in sel:
                    if c not in part.column_names:
                        f = schema.field(c)
                        part = part.append_column(
                            f, pa.nulls(part.num_rows, f.type))
                parts.append(part.select(sel))
            tbl = (pa.concat_tables(parts, promote_options="default")
                   if parts else schema.empty_table().select(sel))
            # map each result id to its docmap row: sorted-id search, no
            # pandas merge; ids absent from the docmap get nulls
            dm = tbl["doc_id"].to_numpy()
            order = np.argsort(dm, kind="stable")
            pos = np.searchsorted(dm[order], ids)
            found = pos < dm.size
            found[found] = dm[order[pos[found]]] == ids[found]
            idx = np.zeros(ids.size, np.int64)
            idx[found] = order[pos[found]]
            take = pa.array(idx, mask=None if found.all() else ~found)
            for c in want:
                # pandas' conversion of the Arrow column sets the dtype
                got[c] = tbl[c].take(take).to_pandas().array
        cols_out.update(got)
        if "score" in cols_out and "source_id" in cols_out:
            # the public ordering: (query_id ASC,) score DESC, source_id
            # ASC with null source ids last, stable like the Spark sort
            src = cols_out["source_id"]
            null = pd.isna(src)
            if null.any():
                src = src.copy()
                src[null] = src[~null][0] if (~null).any() else 0
            keys = [src, null, -cols_out["score"]]
            if "query_id" in cols_out:
                keys.append(cols_out["query_id"])
            o = np.lexsort(keys)
            cols_out = {c: v[o] for c, v in cols_out.items()}
        return pd.DataFrame(cols_out, copy=False)

    # -- queries --------------------------------------------------------
    def search(self, query: str, k: int | None | str = 10, mode: str = "or",
               round_to: int = 4) -> pd.DataFrame:
        """Top-k for one query; identical results, ordering and tie rules
        to ``Bm25Index.search`` (pinned in tests/test_serve.py): a batch
        of one plan. ``last_stats`` reports the distinct segments whose
        rows reached the kernel."""
        self.refresh()
        self.last_stats = {"segments_visited": 0}   # also for early returns
        opts = self.manifest.opts
        k = _resolve_k(k, opts)
        plan = plan_query(query, mode, opts, tokenize_query)
        if not plan.terms:
            return _empty(_EMPTY)
        _, ids, sc = self._score(make_segment_kernel, [plan], k, round_to)
        if not ids.size:
            return _empty(_EMPTY)
        return pd.DataFrame({"doc_id": ids, "score": sc}, copy=False)

    def search_batch(self, queries: list[str], k: int = 10,
                     round_to: int = 4) -> pd.DataFrame:
        """Batched disjunctive top-k; the same kernel and output as the
        Spark ``search_batch`` (a block decodes at most once across the
        whole batch), each query with its own MaxScore pass and running
        kth."""
        self.refresh()
        opts = self.manifest.opts
        plans = [plan_query(q, "or", opts) for q in queries]
        if not any(p.terms for p in plans):
            return _empty(_EMPTY_BATCH)
        qid, ids, sc = self._score(make_batch_kernel, plans, k, round_to)
        if not qid.size:
            return _empty(_EMPTY_BATCH)
        return pd.DataFrame({"query_id": qid, "doc_id": ids, "score": sc},
                            copy=False)

    def _score(self, make, plans, k, round_to):
        """ONE kernel call, built by ``make``, over the fetched rows of
        every segment: (query_id, doc_id, rounded score) arrays ordered
        query_id ASC, score DESC, doc_id ASC."""
        terms = list(dict.fromkeys(t for p in plans for t, _ in p.terms))
        rows, gdf = self._fetch(terms)
        tomb = self._tombstones()   # may clear self._readers — call first
        recs = self._by_segment(rows)
        self.last_stats = {
            "segments_visited": len({r["segment_id"] for r in recs})}
        kernel = make(plans, self.manifest.total_docs, k, self.manifest.opts,
                      max(self.manifest.avgdl, 1e-9), deleted_bc=tomb,
                      round_to=round_to, reader_cache=self._readers)
        qid, ids, sc = kernel(gdf, recs)    # each query already cut to k
        self._forget_evicted(rows)
        sc = np.round(sc, round_to)
        o = np.lexsort((ids, -sc, qid))
        return qid[o], ids[o], sc[o]
