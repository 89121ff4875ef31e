"""Top-k BM25 retrieval over segment indexes (reference operators Q1-Q8).

Lifecycle (SURVEY.md §3.1 Spark equivalent):
 1. driver tokenizes the query with the index's config (Q1) and broadcasts
    [(term, query_freq)],
 2. stage 1: dictionary lookup — read the segment Parquet filtered to the
    query terms (Catalyst pushes ``term IN (...)`` into the scan: per-file
    min/max + dictionary pruning = the reference's binary-searched term
    dictionary, Q10), aggregate global doc_freq per term (Q2),
 3. driver computes IDFs from the manifest's global stats (Q3: N, avgdl are
    global across all segments — segment layout never changes scores),
 4. stage 2: ONE scoring kernel (:func:`make_kernel`) per segment
    (applyInPandas over segment_id). A single query and a batch are the
    same thing to it: a list of :class:`QueryPlan` (terms with query
    frequencies, mode, phrase offsets), a single query being a batch of
    one. It runs numpy-vectorized term-at-a-time accumulation with
    block-max pruning (Q4/Q5/Q11/Q12) and a top-k per query (Q6),
 5. stage 3: global top-k merge — ``orderBy(score desc, doc_id
    asc).limit(k)`` (TakeOrderedAndProject) for ``search_index``; for
    ``search_batch`` the per-segment top-ks meet in one partition, sorted,
    and each query keeps its first k.

Block-max pruning (the reference's BMW, src/scoring/bmw.c:469-642 single
-term and 1477-1716 multi-term, safe-skip bound at bmw.c:1526-1571),
re-expressed term-at-a-time for a columnar numpy kernel:

- the FIRST term in MaxScore order (== the only term of a single-term
  query) is decoded progressively: blocks sorted by descending per-block
  upper bound, decoded in doubling batches, stopping as soon as the next
  block's bound plus the other terms' bounds cannot beat the running kth
  contribution — true block-max early termination;
- every LATER essential term decodes only blocks whose bound plus the
  other terms' bounds can beat the kth accumulated partial score (skipped
  blocks are random-accessed never — the skip entries' byte offsets give
  block-level seek, segment.decode_row_blocks);
- once the summed bounds of all remaining terms cannot beat the kth
  partial score, the non-essential phase decodes only candidate-bearing
  blocks (``_TermReader.candidate_contrib``).

Decoded postings live in one flat store per term (``_TermReader``):
``ids`` / ``contrib`` arrays addressed by per-block posting offsets, a
decoded-block mask and an alive mask for tombstoned postings. Fetching
blocks is one gather, and the non-essential lookup is one pass over all
of a term's rows, so the kernel's numpy call count does not grow with
the number of segments or blocks a term spans.

All thresholds carry an ``eps = 10^-round_to`` slack so pruning can never
disturb ties at the ROUNDED-score boundary the public API (and the DuckDB
oracle) orders by. Per-segment ``blocks_decoded``/``blocks_total``
counters (the reference's log_bmw_stats analogue) come back through
:func:`search_profiled` / :func:`search_batch_profiled`: with
``profile=True`` the one Spark adapter (:func:`_spark_kernel`) appends a
sentinel row (``query_id = -1``) carrying its kernel's counters, and one
collector splits the sentinels back out.

The kernel takes row dicts and gives arrays out, ``(query_id, doc_id,
raw_score)``; it is segment-agnostic: a term's reader spans every shard
row it is handed, whatever segment each row came from, and accumulation
is keyed by doc id (unique across segments). The Spark path hands it one
segment's rows (``applyInPandas`` over ``segment_id``, for parallelism);
the serving path (index/serve.py) hands ONE kernel call the rows of every
segment, so one MaxScore pass and one top-k heap span the whole index —
the reference's single cross-segment BMW scan
(src/scoring/bmw.c:1477-1716).

Tombstones reach the kernel as ONE sorted id array: the ids that fall
in some live segment's [min_doc_id, max_doc_id] (delete.live_deletes),
shipped once per executor as a Spark broadcast on the Spark path
(delete.tombstone_broadcast). Readers mask dead ids right after block
decode with a binary search into it.
"""

from __future__ import annotations

import math
from bisect import bisect_left
from collections import OrderedDict
from typing import TYPE_CHECKING, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import Bm25Options
from ..functions.fieldnorm import DECODE_TABLE
from ..functions.tokenizer import tokenize_query
from .segment import (decode_positions, decode_positions_blocks, decode_row,
                      decode_row_blocks)

if TYPE_CHECKING:
    from .build import Bm25Index


def idf(n_docs: int, df_t: int) -> float:
    return math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))


def _resolve_k(k, opts: Bm25Options) -> int | None:
    """Public ``k`` contract (reference src/index/limit.c:22-28):
    ``k=None`` applies the ``default_limit`` GUC; the explicit string
    ``"all"`` is the unbounded escape hatch for oracle/exhaustive paths."""
    if k == "all":
        return None
    if k is None:
        return int(opts.default_limit)
    return int(k)


def _holds(vals, rng) -> bool:
    """Whether sorted ``vals`` hold a value in the closed range ``rng``
    ((min, max), or None for a range that was never recorded)."""
    if rng is None:
        return True
    j = bisect_left(vals, rng[0])
    return j < len(vals) and vals[j] <= rng[1]


def _segments_holding(segments, terms: list[str]) -> list:
    """Segment records whose dictionary term range [term_min, term_max]
    can hold one of the SORTED ``terms``: a bisect per segment, so the
    cost is O(segments x log terms). Records without a recorded range
    (older builds) are always kept. Shared by the Spark read and the
    serving fetch, so both prune segments by one predicate."""
    return [s for s in segments
            if not (s.term_min and s.term_max)
            or _holds(terms, (s.term_min, s.term_max))]


def _prune_segments_by_term(index: "Bm25Index",
                            terms: list[str]) -> list[str]:
    """Postings dirs of segments whose dictionary term range can contain
    at least one query term — whole segment DIRECTORIES drop before Spark
    ever lists their files (the manifest-level pruning layer above the
    parquet footer min/max that prunes row groups within a scanned
    file)."""
    from .build import POSTINGS_DIR
    import os as _os
    return [_os.path.join(index.manifest.segment_dir(s.segment_id),
                          POSTINGS_DIR)
            for s in _segments_holding(index.manifest.segments,
                                       sorted(set(terms)))]


# the positions sidecar: the biggest columns of a positions-enabled
# index, read by phrase queries only
POSITION_COLS = ("pos_counts_bin", "pos_deltas_bin", "skip_pos_off")


def _drop_positions(postings: DataFrame) -> DataFrame:
    """``postings`` without the positions sidecar. applyInPandas ships
    every input column to the kernel (no automatic pruning through the
    Arrow boundary), so every non-phrase Spark query drops it here."""
    cols = [c for c in POSITION_COLS if c in postings.columns]
    return postings.drop(*cols) if cols else postings


def _read_postings(index: "Bm25Index", terms: list[str]) -> DataFrame:
    if not index.manifest.segments:
        raise ValueError("index has no segments")
    paths = _prune_segments_by_term(index, terms)
    index.last_segments_scanned = len(paths)     # observability (PLANS.md)
    if not paths:
        # every segment's term range excludes every query term: scan ONE
        # segment (the term IN pushdown returns zero rows) — keeps the
        # downstream plan shape without a special empty-DataFrame path
        paths = index.postings_paths()[:1]
    # cache the DataFrame (and with it Spark's resolved FileIndex) across
    # queries on the same segment set — re-listing N segment directories
    # per query dominates small-query latency otherwise. Keyed by the
    # pruned path set; a handful of entries (LRU) covers a hot query mix.
    key = tuple(sorted(paths))
    cache = getattr(index, "_postings_df_cache", None)
    if not isinstance(cache, OrderedDict):
        cache = OrderedDict()
        index._postings_df_cache = cache
    df = cache.get(key)
    if df is None:
        df = index.spark.read.parquet(*paths)
        while len(cache) >= 8:          # bound resolved-FileIndex memory
            cache.popitem(last=False)
        cache[key] = df
    else:
        cache.move_to_end(key)
    return df.filter(F.col("term").isin(terms))


def term_stats(index: "Bm25Index", terms: list[str]) -> DataFrame:
    """Global (term, doc_freq, idf) from the dictionary columns (Q2)."""
    n = index.manifest.total_docs
    agg = (_read_postings(index, terms)
           .groupBy("term").agg(F.sum("doc_freq").alias("doc_freq")))
    idf_col = F.log(F.lit(1.0) + (F.lit(float(n)) - F.col("doc_freq") + 0.5)
                    / (F.col("doc_freq") + 0.5))
    return agg.select("term", "doc_freq", F.round(idf_col, 6).alias("idf"))


class _TermReader:
    """Lazily-decoding posting reader for ONE term, over a flat store.

    Wraps the term's shard rows — one segment's on the Spark path, every
    segment's on the serving path; each row carries its own doc range, so
    nothing here depends on which segment a row came from. Blocks are
    numbered flat across the rows (row by row, in row order). Skip
    metadata gives a per-block score upper bound; blocks decode on demand
    (random access via the skip entries' byte offsets) into ONE pair of
    flat arrays, ``ids`` and ``contrib``, laid out like the postings
    themselves: block ``f`` owns ``[poff[f], poff[f + 1])``, where
    ``poff`` is the cumsum of ``skip_doc_count``. ``contrib`` holds
    ``tf*(k1+1)/(tf+denom)``, the query-weight-INDEPENDENT BM25 factor, so
    in a batched query one decode serves every query that touches the term
    (the reference's shared posting cursor across a batch, re-expressed as
    a decode cache). A per-block ``dec`` mask says which blocks are filled.
    Tombstoned postings are marked in an ``alive`` mask at decode time
    (one binary search per decoded chunk; the mask exists only once a dead
    posting was seen) and never leave :meth:`get`, so thresholds only ever
    see alive docs. ``counters['decoded']`` counts each block's decode
    exactly once regardless of how many queries consume it.

    Every method makes a fixed number of numpy calls whatever the block
    or row count, apart from one decode call per shard row that still has
    a block to decode. The store is allocated at the first decode, so a
    reader that never decodes costs only its bound arrays.
    """

    __slots__ = ("rows", "block_size", "codec", "denom_norm", "k1",
                 "deleted", "counters", "fbnd", "flast", "row_start",
                 "n_blocks", "max_unit_bound", "rmin", "_order",
                 "frow", "poff", "ids", "contrib", "dec", "n_dec", "alive",
                 "_pos")

    def __init__(self, rows: list[dict], block_size: int, codec: str,
                 denom_norm: np.ndarray, k1: float,
                 deleted: np.ndarray | None, counters: dict):
        self.rows = rows
        self.block_size = block_size
        self.codec = codec
        self.denom_norm = denom_norm
        self.k1 = k1
        self.deleted = deleted
        self.counters = counters
        fbnd, flast, nblocks = [], [], []
        for r in rows:
            mn = np.asarray(r["skip_min_norm"], dtype=np.int64)
            mt = np.asarray(r["skip_max_tf"], dtype=np.float64)
            # block upper bound of the unit contribution (reference bound
            # inputs block_max_tf + min fieldnorm, src/scoring/bmw.c:382-396)
            fbnd.append((mt * (k1 + 1.0)) / (mt + denom_norm[mn]))
            flast.append(np.asarray(r["skip_last_doc_id"], dtype=np.int64))
            nblocks.append(mn.size)
        one = len(rows) == 1
        self.fbnd = fbnd[0] if one else np.concatenate(fbnd)
        self.flast = flast[0] if one else np.concatenate(flast)
        self.row_start = np.r_[np.int64(0),
                               np.cumsum(np.asarray(nblocks, dtype=np.int64))]
        self.n_blocks = int(self.fbnd.size)
        self.max_unit_bound = float(self.fbnd.max())
        self.rmin = np.asarray([int(r["min_doc_id"]) for r in rows],
                               dtype=np.int64)
        self._order = None
        self.dec = None             # the flat store: see _alloc
        self.n_dec = 0
        self.alive = None
        self._pos: dict[tuple[int, int], tuple | None] = {}

    def bound_order(self) -> tuple[np.ndarray, np.ndarray]:
        """(flat block indices in bound-descending decode order, their
        bounds): ties broken by flat index ASC so progressive decode is
        deterministic. Built on first use — only a query's first term in
        MaxScore order needs it."""
        if self._order is None:
            bo = np.lexsort((np.arange(self.n_blocks), -self.fbnd))
            self._order = (bo, self.fbnd[bo])        # bounds non-increasing
        return self._order

    def _alloc(self) -> None:
        """Allocate the flat store: posting offsets per block, the
        decoded-block mask and the (unfilled) id / contribution arrays."""
        rows = self.rows
        if len(rows) == 1:
            cnts = np.asarray(rows[0]["skip_doc_count"], dtype=np.int64)
            self.frow = None                # every block is row 0's
        else:
            cnts = np.concatenate([np.asarray(r["skip_doc_count"],
                                              dtype=np.int64) for r in rows])
            self.frow = np.repeat(np.arange(len(rows), dtype=np.int64),
                                  np.diff(self.row_start))
        self.poff = np.zeros(self.n_blocks + 1, dtype=np.int64)
        np.cumsum(cnts, out=self.poff[1:])
        n = int(self.poff[-1])
        self.ids = np.empty(n, dtype=np.int64)
        self.contrib = np.empty(n, dtype=np.float64)
        self.dec = np.zeros(self.n_blocks, dtype=bool)

    def _postings(self, sel: np.ndarray):
        """Store positions of the postings of the SORTED unique flat blocks
        ``sel``: a slice for a contiguous run, else one repeat + arange
        gather over the block offsets."""
        poff = self.poff
        a, b = int(sel[0]), int(sel[-1])
        if b - a + 1 == sel.size:
            return slice(int(poff[a]), int(poff[b + 1]))
        starts = poff[sel]
        cnt = poff[sel + 1] - starts
        ends = np.cumsum(cnt)
        return np.repeat(starts - (ends - cnt), cnt) + np.arange(ends[-1])

    def _ensure(self, flat_idx: np.ndarray) -> None:
        if self.dec is None:
            self._alloc()
        elif self.n_dec == self.n_blocks:
            return
        missing = flat_idx[~self.dec[flat_idx]]
        if missing.size == 0:
            return
        missing = np.unique(missing)
        # one chunk per shard row holding a missing block
        if self.frow is None:
            rows_of, cuts = None, [0, missing.size]
        else:
            rows_of = self.frow[missing]
            cuts = [0, *(np.flatnonzero(np.diff(rows_of)) + 1).tolist(),
                    missing.size]
        dele = self.deleted
        if dele is not None and not dele.size:
            dele = None
        for c0, c1 in zip(cuts, cuts[1:]):
            sel = missing[c0:c1]
            ri = 0 if rows_of is None else int(rows_of[c0])
            base = int(self.row_start[ri])
            end = int(self.row_start[ri + 1])
            nb = end - base
            r = self.rows[ri]
            requested = todo = int(sel.size)
            whole = requested == nb or requested > max(4, nb // 16)
            if whole and requested < nb:
                # bound-ordered selection is SCATTERED, so the per-run
                # random-access decode degenerates to one tiny varbyte
                # call per block (~fixed numpy cost each — measured 15x
                # slower than one full-stream pass on a 2 M-doc hot
                # term). Past ~1/16 of a row, decode the WHOLE stream
                # once and fill every still-missing block; below that,
                # true block random access keeps its pruning win.
                # `blocks_decoded` keeps counting only the blocks the
                # PRUNING LOGIC asked for (round-comparable evidence);
                # the opportunistic extras land in `blocks_predecoded`.
                todo = nb - int(np.count_nonzero(self.dec[base:end]))
            if whole:
                ids, tfs, norms = decode_row(r, self.block_size, self.codec)
                at = slice(int(self.poff[base]), int(self.poff[end]))
                self.dec[base:end] = True
            else:
                ids, tfs, norms = decode_row_blocks(r, sel - base, self.codec)
                at = self._postings(sel)
                self.dec[sel] = True
            self.n_dec += todo
            self.counters["decoded"] += requested
            if todo > requested:
                self.counters["predecoded"] = (
                    self.counters.get("predecoded", 0) + todo - requested)
            tfd = tfs.astype(np.float64)
            self.contrib[at] = ((tfd * (self.k1 + 1.0))
                                / (tfd + self.denom_norm[norms]))
            self.ids[at] = ids
            if dele is not None and ids.size:
                pos = np.minimum(np.searchsorted(dele, ids), dele.size - 1)
                alive = dele[pos] != ids
                if self.alive is not None:
                    self.alive[at] = alive
                elif not alive.all():
                    self.alive = np.ones(self.ids.size, dtype=bool)
                    self.alive[at] = alive

    def get(self, flat_idx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, unit_contribs) of the alive postings of the given
        UNIQUE flat block indices, in flat block order (decoded on demand,
        store-reused). A request for every block returns the store itself
        when no posting is dead — callers must not write to the result."""
        flat_idx = np.asarray(flat_idx, dtype=np.int64)
        if not flat_idx.size:
            e = np.empty(0, dtype=np.int64)
            return e, e.astype(np.float64)
        self._ensure(flat_idx)
        at = (slice(None) if flat_idx.size == self.n_blocks
              else self._postings(np.sort(flat_idx)))
        ids, cs = self.ids[at], self.contrib[at]
        if self.alive is not None:
            keep = self.alive[at]
            if not keep.all():
                return ids[keep], cs[keep]
        return ids, cs

    def pos_blocks(self, ri: int, blocks: np.ndarray):
        """Raw (block_doc_ids, positions_lists) per LOCAL block of shard
        row ``ri`` — decoded once, cached across queries (phrase serving).
        ``None`` entries mark rows without a positions sidecar. ``blocks``
        must be sorted ascending."""
        r = self.rows[ri]
        missing = np.asarray([b for b in blocks
                              if (ri, int(b)) not in self._pos],
                             dtype=np.int64)
        if missing.size:
            bids, _tfs, _norms = decode_row_blocks(r, missing, self.codec)
            _pidx, plists = decode_positions_blocks(r, missing)
            self.counters["pos_decoded"] = (
                self.counters.get("pos_decoded", 0) + int(missing.size))
            if plists is None:
                for b in missing:
                    self._pos[(ri, int(b))] = None
            else:
                cnts = np.asarray(r["skip_doc_count"],
                                  dtype=np.int64)[missing]
                ends = np.cumsum(cnts)
                starts = ends - cnts
                for b, s, e in zip(missing, starts, ends):
                    self._pos[(ri, int(b))] = (bids[s:e], plists[s:e])
        return [self._pos[(ri, int(b))] for b in blocks]

    def candidate_contrib(self, cand_ids: np.ndarray) -> np.ndarray:
        """Non-essential-phase lookup: unit contribution of each candidate
        doc (0 where absent), decoding ONLY candidate-bearing blocks
        (binary search over skip last_doc_ids — the reference's block seek,
        src/segment/scan.c:448-500). ``cand_ids`` must be sorted and
        unique. One pass over every row: one search finds the bearing
        blocks, one :meth:`get` fetches them, one search and one
        ``bincount`` (adding in flat block order, so row order) credit the
        candidates."""
        c = cand_ids.size
        if c == 0:
            return np.zeros(0, dtype=np.float64)
        # candidates at or below each block's last id: a block bears one
        # when that count passes the previous block's, or for a row's
        # first block the count below the row's min_doc_id — the count
        # restarts per row, since rows' doc ranges may overlap (a merged
        # segment can span an unmerged one)
        upto = np.searchsorted(cand_ids, self.flast, side="right")
        before = np.empty_like(upto)
        before[1:] = upto[:-1]
        before[self.row_start[:-1]] = np.searchsorted(cand_ids, self.rmin,
                                                      side="left")
        blocks = np.flatnonzero(upto > before)
        if not blocks.size:
            return np.zeros(c, dtype=np.float64)
        ids, cs = self.get(blocks)
        pos = np.minimum(np.searchsorted(cand_ids, ids), c - 1)
        hit = cand_ids[pos] == ids
        return np.bincount(pos[hit], weights=cs[hit], minlength=c)


def _readers_for(per_term: dict, block_size: int, codec: str,
                 denom_norm: np.ndarray, k1: float, deleted, counters: dict,
                 reader_cache: dict | None) -> dict:
    """One _TermReader per term — from ``reader_cache`` (keyed by term)
    when the serving path supplies one, so decoded blocks persist ACROSS
    queries (the caller owns invalidation: an entry must go when its term
    leaves the term cache, and all of them on manifest reload or
    tombstone change, since readers mask deletions at decode time).
    In-Spark kernels pass None — executors already share decodes within a
    batch via the reader itself."""
    if reader_cache is None:
        return {t: _TermReader(rows_, block_size, codec, denom_norm, k1,
                               deleted, counters)
                for t, rows_ in per_term.items()}
    out = {}
    for t, rows_ in per_term.items():
        r = reader_cache.get(t)
        if r is None:
            r = _TermReader(rows_, block_size, codec, denom_norm, k1,
                            deleted, counters)
            reader_cache[t] = r
        else:
            r.counters = counters   # per-query profile counters rebind
        out[t] = r
    return out


def _accumulate(id_parts: list, sc_parts: list):
    """Sum postings per doc: (sorted unique ids, their scores, each
    posting's index into them). ``bincount`` adds in input order, like
    ``np.add.at`` at a fraction of its cost, so passing a running
    ``(uniq, scores)`` as the first part and one more term's postings as
    the second gives ``0 + s_1 + ... + s_n`` in term order: bit-identical
    to summing every part at once, without re-sorting earlier terms."""
    uniq, inv = np.unique(np.concatenate(id_parts), return_inverse=True)
    scores = np.bincount(inv, weights=np.concatenate(sc_parts),
                         minlength=uniq.size)
    return uniq, scores, inv


def _top_k(uniq: np.ndarray, scores: np.ndarray, k: int,
           round_to: int) -> np.ndarray:
    """Indices of the top ``k`` by (ROUNDED score desc, doc_id asc) — the
    ordering the global stage and the oracle use, so a k-boundary cut can
    never disagree across rounding ties. An O(n) partition pre-cuts to the
    rows at or above the kth rounded score (keeping every boundary tie),
    so the lexsort runs over about k rows, not the whole candidate set."""
    rs = np.round(scores, round_to)
    cand = np.arange(uniq.size)
    if uniq.size > 4 * k:
        cut = np.partition(rs, rs.size - k)[rs.size - k]
        cand = np.flatnonzero(rs >= cut)
    return cand[np.lexsort((uniq[cand], -rs[cand]))[:k]]


def _run_maxscore(readers: dict[str, _TermReader], weights: dict[str, float],
                  k: int | None, eps: float):
    """Exact MaxScore + block-max top-k over lazily-decoded term readers.

    The engine's BMW core (reference src/scoring/bmw.c:469-642 single-term,
    1477-1716 multi-term), term-at-a-time over columnar blocks. A reader
    may span several segments: its blocks are ranked by bound across all
    of them, so one pass and one running kth cover the whole index.

    - the FIRST term in MaxScore order decodes progressively: blocks in
      descending bound order, doubling batches. Once k docs are banked, a
      batch never reaches past the last block whose bound plus the other
      terms' bounds can still beat the running kth contribution (a
      ``searchsorted`` over the bound-sorted blocks), so a batch cannot
      overshoot into blocks — or whole segments — that cannot matter;
    - each LATER essential term decodes only blocks whose bound plus the
      other terms' bounds can beat the kth accumulated partial score, and
      is merged into the running (uniq, scores) by :func:`_accumulate`;
    - once the remaining terms' summed bounds cannot beat the kth partial
      score, the non-essential phase decodes only candidate-bearing blocks.

    All thresholds carry ``eps`` slack so pruning never disturbs ties at
    the ROUNDED-score boundary. Returns (uniq_ids, scores) or None when no
    postings survive. Scores of docs below the final kth may be partial
    (standard MaxScore invariant — an under-scored doc is provably below
    the threshold that skipped its blocks), so the caller cuts at k.
    """
    bounds = {t: weights[t] * r.max_unit_bound for t, r in readers.items()}
    order = sorted(readers, key=lambda t: (-bounds[t], t))
    total_bound = sum(bounds.values())
    uniq = np.empty(0, dtype=np.int64)
    scores = np.empty(0, dtype=np.float64)
    nonessential_from = len(order)
    remaining = total_bound
    for i, t in enumerate(order):
        rd = readers[t]
        w = weights[t]
        other = total_bound - bounds[t]
        if i == 0:
            bo, sorted_bnd = rd.bound_order()
            # best total each block in decode order can still reach:
            # non-increasing, so the blocks that can beat a kth are a
            # prefix of ``bo``
            reach = w * sorted_bnd + other
            limit = bo.size
            ids_p, sc_p = [], []
            n_seen, pos, batch = 0, 0, 4
            # running top-k buffer of first-term contributions: yields the
            # kth in O(k + batch) per step instead of re-partitioning
            # every contribution seen so far
            run_top = np.empty(0, dtype=np.float64)
            while pos < limit:
                take = min(batch, limit - pos)
                ids, cs = rd.get(bo[pos:pos + take])
                if ids.size:
                    ids_p.append(ids)
                    csw = cs * w
                    sc_p.append(csw)
                    n_seen += ids.size
                    if k is not None:
                        run_top = np.concatenate([run_top, csw])
                        if run_top.size > k:
                            run_top = np.partition(
                                run_top, run_top.size - k)[run_top.size - k:]
                pos += take
                batch = min(batch * 2, 1024)
                if k is not None and n_seen >= k:
                    # count of blocks with reach >= kth - eps
                    limit = min(limit, int(np.searchsorted(
                        -reach, eps - float(run_top.min()), side="right")))
            if ids_p:
                uniq, scores, _ = _accumulate(ids_p, sc_p)
        else:
            kth = None
            if k is not None and scores.size >= k:
                kth = np.partition(scores, scores.size - k)[scores.size - k]
            if kth is not None and remaining < kth - eps:
                nonessential_from = i
                break
            if kth is None:
                sel = np.arange(rd.n_blocks, dtype=np.int64)
            else:
                sel = np.flatnonzero(w * rd.fbnd + other >= kth - eps)
            if sel.size:
                ids, cs = rd.get(sel)
                if ids.size:
                    uniq, scores, _ = _accumulate([uniq, ids],
                                                  [scores, cs * w])
        remaining -= bounds[t]
    if not uniq.size:
        return None
    if nonessential_from < len(order):
        # reached only with >= k accumulated docs (the break above)
        rem_terms = order[nonessential_from:]
        rem_bound = sum(bounds[t] for t in rem_terms)
        kth = np.partition(scores, scores.size - k)[scores.size - k]
        cand_mask = scores + rem_bound >= kth - eps
        cand_ids = uniq[cand_mask]
        for t in rem_terms:
            add = readers[t].candidate_contrib(cand_ids)
            scores[cand_mask] += add * weights[t]
    return uniq, scores


def _exhaustive(readers: dict[str, _TermReader], weights: dict[str, float],
                plan: "QueryPlan"):
    """Every alive posting of every term, accumulated once: ``or`` with
    ``k="all"``, ``and`` (a doc must hold every query term) and
    ``phrase`` (the query's terms at the plan's offsets). Decoded through
    the same readers, so the serving path's cross-query cache covers these
    modes too. Returns (uniq_ids, scores) or None when no posting
    survives."""
    order = sorted(readers, key=lambda t: (-weights[t]
                                           * readers[t].max_unit_bound, t))
    got = {t: readers[t].get(np.arange(readers[t].n_blocks, dtype=np.int64))
           for t in order}
    uniq, scores, inv = _accumulate([ids for ids, _ in got.values()],
                                    [cs * weights[t]
                                     for t, (_, cs) in got.items()])
    if not uniq.size:
        return None
    if plan.mode == "and":
        keep = np.bincount(inv, minlength=uniq.size) >= len(plan.terms)
    elif plan.mode == "phrase":
        # AND-style doc-id intersection FIRST; only then decode positions,
        # and only the blocks candidates can live in
        pterms = sorted({t for t, _ in plan.occs})
        cand = None
        for t in pterms:
            ids_t = got[t][0] if t in got else np.empty(0, dtype=np.int64)
            cand = ids_t if cand is None else \
                cand[np.isin(cand, ids_t, assume_unique=True)]
            if not cand.size:
                return None
        keep = _phrase_filter(
            uniq, {t: _positions_for(readers[t], cand) for t in pterms},
            plan.occs)
    else:
        return uniq, scores
    return uniq[keep], scores[keep]


def _positions_for(rd: _TermReader, cand: np.ndarray):
    """(doc_ids, positions lists) of term reader ``rd`` restricted to the
    candidate docs: decode ONLY the sidecar blocks that can contain a
    candidate (VERDICT round-3 #5 — phrase queries no longer decode every
    positions list of every term). Raw block decodes go through the
    reader's positions cache, so warm phrase queries on the serving path
    skip the sidecar entirely."""
    ids_l: list[np.ndarray] = []
    pls: list[np.ndarray] = []
    for ri, r in enumerate(rd.rows):
        sub = cand[(cand >= int(r["min_doc_id"]))
                   & (cand <= int(r["last_doc_id"]))]
        if not sub.size:
            continue
        skip_last = np.asarray(r["skip_last_doc_id"], dtype=np.int64)
        blocks = np.unique(np.searchsorted(skip_last, sub, side="left"))
        blocks = blocks[blocks < skip_last.size]
        if not blocks.size:
            continue
        for got in rd.pos_blocks(ri, blocks):
            if got is None:
                break
            bids, plists = got
            hit = np.isin(bids, sub, assume_unique=False)
            if hit.any():
                ids_l.append(bids[hit])
                pls.extend(p for p, h in zip(plists, hit) if h)
    if not ids_l:
        return np.empty(0, dtype=np.int64), []
    return np.concatenate(ids_l), pls


def _phrase_filter(uniq_ids: np.ndarray,
                   pos_parts: dict[str, tuple[np.ndarray, list]],
                   occs: list[tuple[str, int]]) -> np.ndarray:
    """Vectorized phrase check: doc qualifies if some anchor position p has
    term_i at p + offset_i for every query occurrence."""
    if not occs:
        return np.zeros(uniq_ids.size, dtype=bool)
    local = {int(d): i for i, d in enumerate(uniq_ids)}

    def keys_for(t: str, off: int) -> np.ndarray:
        if t not in pos_parts:
            return np.empty(0, dtype=np.int64)
        ids, plists = pos_parts[t]
        ks = []
        for d, pl in zip(ids, plists):
            li = local.get(int(d))
            if li is None:
                continue
            pl = np.asarray(pl, dtype=np.int64) - off
            ks.append((np.int64(li) << np.int64(32)) | (pl & np.int64(0xFFFFFFFF)))
        return np.concatenate(ks) if ks else np.empty(0, dtype=np.int64)

    t0, off0 = occs[0]
    anchors = keys_for(t0, off0)
    for t, off in occs[1:]:
        if anchors.size == 0:
            break
        anchors = anchors[np.isin(anchors, keys_for(t, off))]
    ok_local = np.unique(anchors >> np.int64(32)).astype(np.int64)
    keep = np.zeros(uniq_ids.size, dtype=bool)
    keep[ok_local] = True
    return keep


class QueryPlan(NamedTuple):
    """One query as the kernel scores it: its (term, query frequency)
    list, its mode (``or`` / ``and`` / ``phrase``) and, in phrase mode,
    every query occurrence as (term, offset from the first occurrence)."""
    terms: list[tuple[str, float]]
    mode: str
    occs: list[tuple[str, int]] | None = None


def plan_query(query: str, mode: str, opts: Bm25Options,
               tokenize=tokenize_query) -> QueryPlan:
    """Tokenize ``query`` into its :class:`QueryPlan`. ``tokenize`` is the
    (term, qfreq) tokenizer; the serving path passes its own module-level
    name, so a wrapper installed there sees the call."""
    terms = [(t, float(f)) for t, f in tokenize(query, opts.text_config)]
    if mode != "phrase" or not terms:
        return QueryPlan(terms, mode)
    if not opts.store_positions:
        raise ValueError("phrase search requires an index built with "
                         "store_positions=True")
    from ..spark_utils import _tokenize_with_positions
    ts, _, _, ps = _tokenize_with_positions(query, opts.text_config, {})
    occ = [(t, p) for t, pl in zip(ts, ps) for p in pl]
    base = min(p for _, p in occ)
    return QueryPlan(terms, mode, [(t, p - base) for t, p in occ])


def make_kernel(plans: list[QueryPlan], n_docs: int, k: int | None,
                opts: Bm25Options, avgdl: float, deleted_bc=None,
                round_to: int = 4, reader_cache: dict | None = None):
    """Build THE scoring kernel for a batch of query plans; a single query
    is a batch of one.

    ``kernel(gdf, recs, counters=None)`` scores the shard rows ``recs``
    (row dicts, each term's rows in (segment, shard) order): one
    segment's on the Spark path (:func:`_spark_kernel`), every segment's
    on the serving path. ``gdf`` maps each term to its global doc_freq, so
    IDFs — and scores — do not depend on segment layout (SURVEY.md §1.4).
    It returns ``(query_id, doc_id, raw_score)`` arrays, each query cut to
    its own top ``k``. ONE lazily-decoding reader per term is shared by
    every plan, so a block decodes at most once however many queries
    touch its term (the reference's shared posting cursor across a
    batch); each plan then runs its own pass: MaxScore + block-max
    (:func:`_run_maxscore`) for a pruned ``or``, :func:`_exhaustive` for
    ``and``, ``phrase`` and ``k="all"``. ``counters`` receives the
    readers' block counters (``decoded``, ``predecoded``,
    ``pos_decoded``).

    ``deleted_bc``: the sorted tombstoned ids (delete.live_deletes), as a
    Spark broadcast or a plain array, or None. Dead postings are masked
    right after block decode — before any accumulation or pruning — so
    thresholds only ever see alive docs (the reference checks its alive
    bitset per hit the same way). Stats stay dead-inclusive until a merge,
    matching reference VACUUM semantics (SURVEY.md §2.2 M4)."""
    k1, b = float(opts.k1), float(opts.b)
    # norm code -> BM25 tf-denominator length component, precomputed once
    denom_norm = k1 * (1.0 - b + b * DECODE_TABLE.astype(np.float64) / avgdl)
    # rounding slack: the public ordering rounds scores to `round_to`
    # decimals, so pruning must only drop docs strictly below the kth
    # ROUNDED score; eps covers a full ulp of the rounded digit
    eps = 10.0 ** (-round_to)

    def kernel(gdf: dict[str, int], recs: list[dict], counters=None):
        per_term: dict[str, list[dict]] = {}
        for rec in recs:
            per_term.setdefault(rec["term"], []).append(rec)
        readers = _readers_for(
            per_term, opts.block_size, opts.codec, denom_norm, k1,
            getattr(deleted_bc, "value", deleted_bc),
            {"decoded": 0} if counters is None else counters, reader_cache)
        out = []
        for qi, plan in enumerate(plans):
            weights = {t: qf * idf(n_docs, gdf[t]) for t, qf in plan.terms
                       if t in readers}
            if not weights:
                continue
            sub = {t: readers[t] for t in weights}
            if plan.mode == "or" and k is not None:
                res = _run_maxscore(sub, weights, k, eps)
            else:
                res = _exhaustive(sub, weights, plan)
            if res is None:
                continue
            uniq, scores = res
            if k is not None and uniq.size > k:
                sel = _top_k(uniq, scores, k, round_to)
                uniq, scores = uniq[sel], scores[sel]
            out.append((np.full(uniq.size, qi, dtype=np.int32), uniq,
                        scores))
        if not out:
            return (np.empty(0, np.int32), np.empty(0, np.int64),
                    np.empty(0, np.float64))
        return tuple(np.concatenate(c) for c in zip(*out))

    return kernel


class _DictMergeParam:
    """AccumulatorParam merging per-task {term: global_df} dicts — every
    segment kernel reports the SAME global value per term (the window
    aggregate), so updates are idempotent under task retries."""
    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


def _global_dfs(index: "Bm25Index", terms: list[str]):
    """(static_df, df_accum) for a query's terms. The driver caches global
    doc_freqs per manifest version (df only changes on build / append /
    merge): when every term is cached, ``static_df`` holds them and the
    query is ONE no-window job. Otherwise a window aggregate attaches them
    to the postings rows and the kernel calls ride them back through
    ``df_accum`` with the same job's task results; the cache drains such
    accumulators from queries the user has since executed, without ever
    running a second job. A term no segment's term range can hold has df
    0, cached here on the driver; a query whose terms are already pending
    shares that accumulator instead of adding one."""
    segs = index.manifest.segments
    ver = (index.manifest.updated_at, len(segs))
    cached = getattr(index, "_df_cache", None)
    if cached is None or cached[0] != ver:
        index._df_cache = (ver, {})
    dfc = index._df_cache[1]
    for t in terms:
        if t not in dfc and not _segments_holding(segs, [t]):
            dfc[t] = 0
    still = []
    for pver, pterms, acc in getattr(index, "_pending_df_accums", []):
        if pver != ver:
            continue        # stale manifest version — discard
        vals = acc.value
        if vals:
            dfc.update({t: int(v) for t, v in vals.items()})
            for t in pterms:
                dfc.setdefault(t, 0)   # queried but absent from postings
        else:
            still.append((pver, pterms, acc))   # not executed yet
    if all(t in dfc for t in terms):
        index._pending_df_accums = still[-8:]
        return {t: dfc[t] for t in terms}, None
    acc = next((a for _, pt, a in still if pt == list(terms)), None)
    if acc is None:
        acc = index.spark.sparkContext.accumulator({}, _DictMergeParam())
    still = [p for p in still if p[2] is not acc]
    index._pending_df_accums = (still + [(ver, list(terms), acc)])[-8:]
    return None, acc


_PROFILE_COLS = ("blocks_decoded", "blocks_predecoded", "blocks_total",
                 "pos_blocks_decoded", "pos_blocks_total")


def _spark_kernel(kernel, plans: list[QueryPlan], static_df, df_accum,
                  profile: bool):
    """The kernel as an ``applyInPandas`` function over one segment's
    postings frame: rows sorted (term, shard) into records, global
    doc_freqs from ``static_df`` or the frame's window-attached ``gdf``
    column (added to ``df_accum``), arrays out as one frame
    ``(query_id, doc_id, raw_score)``. With ``profile`` every call also
    emits one sentinel row (query_id -1) and the block counters as
    columns, so counters survive even when every doc was pruned."""
    pterms = {t for p in plans for t, _ in (p.occs or ())}

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        recs = pdf.sort_values(["term", "shard"]).to_dict("records")
        gdf = static_df
        if gdf is None:
            gdf = {r["term"]: int(r["gdf"]) for r in recs}
            if df_accum is not None:
                df_accum.add(gdf)
        counters = {"decoded": 0, "pos_decoded": 0}
        qid, ids, sc = kernel(gdf, recs, counters)
        if not profile:
            return pd.DataFrame({"query_id": qid, "doc_id": ids,
                                 "raw_score": sc})
        out = pd.DataFrame({"query_id": np.append(qid, np.int32(-1)),
                            "doc_id": np.append(ids, np.int64(-1)),
                            "raw_score": np.append(sc, 0.0)})
        out["blocks_decoded"] = counters["decoded"]
        out["blocks_predecoded"] = counters.get("predecoded", 0)
        out["blocks_total"] = sum(int(r["num_blocks"]) for r in recs)
        out["pos_blocks_decoded"] = counters["pos_decoded"]
        out["pos_blocks_total"] = sum(
            int(r["num_blocks"]) for r in recs
            if r["term"] in pterms and r.get("pos_counts_bin") is not None)
        return out

    return run


def _search_plan(index: "Bm25Index", queries: list[str], mode: str,
                 k: int | None, round_to: int, profile: bool):
    """THE Spark plan of a batch of queries (a single query is a batch of
    one): a term-pruned postings scan, one kernel call per segment
    (``applyInPandas`` over ``segment_id``), each query cut to its top
    ``k`` per segment. Returns the frame ``(query_id, doc_id, raw_score``
    ``[, profile columns])``, or None when no query has a term."""
    opts = index.manifest.opts
    plans = [plan_query(q, mode, opts) for q in queries]
    terms = sorted({t for p in plans for t, _ in p.terms})
    if not terms:
        return None
    from .delete import tombstone_broadcast
    kernel = make_kernel(plans, index.manifest.total_docs, k, opts,
                         max(index.manifest.avgdl, 1e-9),
                         deleted_bc=tombstone_broadcast(index),
                         round_to=round_to)
    static_df, df_accum = _global_dfs(index, terms)
    postings = _read_postings(index, terms)
    if mode != "phrase":
        postings = _drop_positions(postings)
    if static_df is None:
        # cold terms — still exactly ONE job: global per-term doc_freq via
        # a window aggregate (tiny — only the query terms' dictionary rows
        # flow through it) feeds the per-segment kernels
        postings = postings.withColumn(
            "gdf", F.sum("doc_freq").over(Window.partitionBy("term")))
    schema = "query_id int, doc_id long, raw_score double"
    if profile:
        schema += "".join(f", {c} long" for c in _PROFILE_COLS)
    return postings.groupBy("segment_id").applyInPandas(
        _spark_kernel(kernel, plans, static_df, df_accum, profile), schema)


def search_index(index: "Bm25Index", query: str, k: int | None | str = 10,
                 mode: str = "or", round_to: int = 4) -> DataFrame:
    k = _resolve_k(k, index.manifest.opts)
    local = _search_plan(index, [query], mode, k, round_to, profile=False)
    if local is None:
        return index.spark.createDataFrame([], "doc_id long, score double")
    result = local.select(
        "doc_id", F.round(F.col("raw_score"), round_to).alias("score"))
    result = result.orderBy(F.desc("score"), F.asc("doc_id"))
    if k is not None:
        result = result.limit(k)
    return result


def search_batch(index: "Bm25Index", queries: list[str], k: int = 10,
                 round_to: int = 4, mode: str = "or") -> DataFrame:
    """Score MANY queries in ONE Spark job (top-k each, in ``mode``).

    The reference's batch benchmark runs 691 queries back-to-back over one
    connection (BASELINE.md single-client batch); per-query Spark jobs pay
    ~0.5-1 s of scheduling each, so batched retrieval is the
    throughput-correct shape on a cluster: union the query terms, scan the
    index once, then run per-query MaxScore + block-max early termination
    against a shared per-term decode cache (each block decodes at most once
    per segment). The per-segment top-ks (at most segments x queries x k
    rows) meet in one partition, sorted there, and each query keeps its
    first k — no window, no range-partitioning sample job.

    Returns (query_id, doc_id, score) with query_id = position in
    ``queries``, ordered by (query_id, score DESC, doc_id ASC). All cuts
    (per-segment and global) order by the ROUNDED score, mirroring
    ``search_index`` and the oracle, so k-boundary ties agree.
    """
    local = _search_plan(index, queries, mode, k, round_to, profile=False)
    if local is None:
        return index.spark.createDataFrame(
            [], "query_id int, doc_id long, score double")

    def first_k(batches):
        parts = list(batches)
        if parts:
            pdf = pd.concat(parts, ignore_index=True)
            yield pdf[pdf.groupby("query_id").cumcount() < k]

    return (local.select("query_id", "doc_id",
                         F.round(F.col("raw_score"), round_to).alias("score"))
            .repartition(1)
            .sortWithinPartitions("query_id", F.desc("score"), F.asc("doc_id"))
            .mapInPandas(first_k, "query_id int, doc_id long, score double"))


def _search_profiled(index: "Bm25Index", queries: list[str], mode: str,
                     k: int | None, round_to: int, keys: tuple[str, ...]):
    """Eager search returning ((query_id, doc_id, score) pandas frame, BMW
    stats) — the reference's ``log_bmw_stats`` analogue. Every segment
    kernel emits exactly one sentinel row (query_id -1) carrying its
    counters, split back out here: segments whose docs were ALL pruned
    still report, so stats never undercount. ``keys`` names the counters
    summed into the stats, next to ``segments``."""
    local = _search_plan(index, queries, mode, k, round_to, profile=True)
    if local is None:
        return (pd.DataFrame({"query_id": pd.Series(dtype="int32"),
                              "doc_id": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")}),
                dict.fromkeys((*keys, "segments"), 0))
    pdf = local.toPandas()
    sent = pdf["query_id"] == -1
    stats = {c: int(pdf.loc[sent, c].sum()) for c in keys}
    stats["segments"] = int(sent.sum())
    pdf = pdf[~sent]
    pdf = pdf.assign(score=pdf["raw_score"].round(round_to))
    pdf = pdf.sort_values(["query_id", "score", "doc_id"],
                          ascending=[True, False, True])
    if k is not None:
        pdf = pdf.groupby("query_id", sort=True).head(k)
    index.last_bmw_stats = stats
    return (pdf[["query_id", "doc_id", "score"]].reset_index(drop=True),
            stats)


def search_profiled(index: "Bm25Index", query: str, k: int | None | str = 10,
                    mode: str = "or", round_to: int = 4):
    """Eager search returning (top-k pandas frame, BMW stats dict). Stats
    count posting blocks actually decoded vs present across all query
    terms and segments, and positions-sidecar blocks for phrase queries."""
    pdf, stats = _search_profiled(index, [query], mode,
                                  _resolve_k(k, index.manifest.opts),
                                  round_to, _PROFILE_COLS)
    return pdf[["doc_id", "score"]], stats


def search_batch_profiled(index: "Bm25Index", queries: list[str], k: int = 10,
                          round_to: int = 4):
    """Eager batched search returning (pandas frame, BMW stats) — the batch
    counterpart of :func:`search_profiled`. Counters count each block's
    decode once per segment (shared across the batch's queries), so
    ``blocks_decoded < blocks_total`` demonstrates batch-path pruning."""
    return _search_profiled(index, queries, "or", k, round_to,
                            _PROFILE_COLS[:3])
