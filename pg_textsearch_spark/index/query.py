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
 4. stage 2: per-segment scoring kernel (applyInPandas over segment_id):
    numpy-vectorized term-at-a-time accumulation with block-max pruning
    (Q4/Q5/Q11/Q12) and a local top-k (Q6),
 5. stage 3: global ``orderBy(score desc, doc_id asc).limit(k)`` —
    Spark's TakeOrderedAndProject is the final top-k heap merge.

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
  blocks (``_candidate_contrib``).

All thresholds carry an ``eps = 10^-round_to`` slack so pruning can never
disturb ties at the ROUNDED-score boundary the public API (and the DuckDB
oracle) orders by. Per-kernel ``blocks_decoded``/``blocks_total`` counters
(the reference's log_bmw_stats analogue) are exposed via ``profile=True``
/ :func:`search_profiled`.

The kernels are segment-agnostic: a term's reader spans every shard row
it is handed, whatever segment each row came from, and accumulation is
keyed by doc id (unique across segments). The Spark path hands each
kernel one segment's rows (``applyInPandas`` over ``segment_id``, for
parallelism); the serving path (index/serve.py) hands ONE kernel call the
rows of every segment, so one MaxScore pass and one top-k heap span the
whole index — the reference's single cross-segment BMW scan
(src/scoring/bmw.c:1477-1716).

Tombstones reach the kernels as ONE sorted id array: the ids that fall
in some live segment's [min_doc_id, max_doc_id] (delete.live_deletes),
shipped once per executor as a Spark broadcast on the Spark path
(delete.tombstone_broadcast). Readers mask dead ids right after block
decode with a binary search into it.
"""

from __future__ import annotations

import math
from bisect import bisect_left
from collections import OrderedDict
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
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
    """Lazily-decoding posting reader for ONE term.

    Wraps the term's shard rows — one segment's on the Spark path, every
    segment's on the serving path; each row carries its own doc range, so
    nothing here depends on which segment a row came from. Skip metadata
    gives a per-block score upper bound; blocks decode on demand (random
    access via the skip entries' byte offsets) into a per-block cache of
    ``(doc_ids, unit_contrib)`` where ``unit_contrib =
    tf*(k1+1)/(tf+denom)`` is the query-weight-INDEPENDENT BM25 factor —
    so in a batched query one decode serves every query that touches the
    term (the reference's shared posting cursor across a batch,
    re-expressed as a decode cache). Tombstoned docs are masked at decode
    time, before anything is cached, so thresholds only ever see alive
    docs. ``counters['decoded']`` counts each block's decode exactly once
    regardless of how many queries consume it.
    """

    __slots__ = ("rows", "block_size", "codec", "denom_norm", "k1",
                 "deleted", "counters", "frow", "fbnd", "flast",
                 "row_start", "row_nblocks", "n_blocks", "max_unit_bound",
                 "bound_order", "sorted_bnd", "rmin", "rlast", "_cache",
                 "_pos", "_all")

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
        frow, fbnd, flast, nblocks = [], [], [], []
        for ri, r in enumerate(rows):
            mn = np.asarray(r["skip_min_norm"], dtype=np.int64)
            mt = np.asarray(r["skip_max_tf"], dtype=np.float64)
            # block upper bound of the unit contribution (reference bound
            # inputs block_max_tf + min fieldnorm, src/scoring/bmw.c:382-396)
            fbnd.append((mt * (k1 + 1.0)) / (mt + denom_norm[mn]))
            frow.append(np.full(mn.size, ri, dtype=np.int64))
            flast.append(np.asarray(r["skip_last_doc_id"], dtype=np.int64))
            nblocks.append(mn.size)
        self.frow = np.concatenate(frow)
        self.fbnd = np.concatenate(fbnd)
        self.flast = np.concatenate(flast)
        self.row_nblocks = nblocks
        self.row_start = np.r_[np.int64(0),
                               np.cumsum(np.asarray(nblocks, dtype=np.int64))]
        self.n_blocks = int(self.fbnd.size)
        self.max_unit_bound = float(self.fbnd.max())
        # bound-descending decode order; ties broken by flat index ASC so
        # progressive decode is deterministic
        self.bound_order = np.lexsort((np.arange(self.n_blocks), -self.fbnd))
        self.sorted_bnd = self.fbnd[self.bound_order]   # non-increasing
        self.rmin = np.asarray([int(r["min_doc_id"]) for r in rows],
                               dtype=np.int64)
        self.rlast = np.asarray([int(r["last_doc_id"]) for r in rows],
                                dtype=np.int64)
        self._cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._pos: dict[tuple[int, int], tuple | None] = {}
        self._all: tuple[np.ndarray, np.ndarray] | None = None

    def _ensure(self, flat_idx: np.ndarray) -> None:
        missing = np.asarray([f for f in flat_idx if int(f) not in self._cache],
                             dtype=np.int64)
        if missing.size == 0:
            return
        missing = np.unique(missing)
        rows_of = self.frow[missing]
        for ri in np.unique(rows_of):
            sel = missing[rows_of == ri]
            base = int(self.row_start[ri])
            local = sel - base
            r = self.rows[int(ri)]
            nb = int(self.row_nblocks[int(ri)])
            cnts_all = np.asarray(r["skip_doc_count"], dtype=np.int64)
            requested = int(local.size)
            full_row = local.size == nb
            if not full_row and local.size > max(4, nb // 16):
                # bound-ordered selection is SCATTERED, so the per-run
                # random-access decode degenerates to one tiny varbyte
                # call per block (~fixed numpy cost each — measured 15x
                # slower than one full-stream pass on a 2 M-doc hot
                # term). Past ~1/16 of a row, decode the WHOLE stream
                # once and cache every still-missing block; below that,
                # true block random access keeps its pruning win.
                # `blocks_decoded` keeps counting only the blocks the
                # PRUNING LOGIC asked for (round-comparable evidence);
                # the opportunistic extras land in `blocks_predecoded`.
                local = np.asarray(
                    [b_ for b_ in range(nb)
                     if (base + b_) not in self._cache], dtype=np.int64)
                sel = local + base
                full_row = True
            if full_row:
                ids, tfs, norms = decode_row(r, self.block_size, self.codec)
                pstart = np.cumsum(np.r_[np.int64(0), cnts_all])
                starts = pstart[local]
                ends = pstart[local + 1]
            else:
                ids, tfs, norms = decode_row_blocks(r, local, self.codec)
                c = cnts_all[local]
                ends = np.cumsum(c)
                starts = ends - c
            self.counters["decoded"] += requested
            extra_blocks = int(local.size) - requested
            if extra_blocks:
                self.counters["predecoded"] = (
                    self.counters.get("predecoded", 0) + extra_blocks)
            tfd = tfs.astype(np.float64)
            contrib = (tfd * (self.k1 + 1.0)) / (tfd + self.denom_norm[norms])
            dele = self.deleted
            for f, s, e in zip(sel, starts, ends):
                bi, bc = ids[s:e], contrib[s:e]
                if dele is not None and dele.size and bi.size:
                    pos = np.searchsorted(dele, bi)
                    pos[pos >= dele.size] = dele.size - 1
                    alive = dele[pos] != bi
                    if not alive.all():
                        bi, bc = bi[alive], bc[alive]
                self._cache[int(f)] = (bi, bc)

    def get(self, flat_idx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, unit_contribs) concatenated over the given flat block
        indices (decoded on demand, cache-reused). A full-blocks request
        memoizes its concatenation — warm hot queries, and/phrase mode
        and the batch path all re-request every block per query."""
        flat_idx = np.asarray(flat_idx)
        full = flat_idx.size == self.n_blocks
        if full and self._all is not None:
            return self._all
        self._ensure(flat_idx)
        parts = [self._cache[int(f)] for f in np.sort(flat_idx)]
        parts = [p for p in parts if p[0].size]
        if not parts:
            e = np.empty(0, dtype=np.int64)
            out = (e, e.astype(np.float64))
        else:
            out = (np.concatenate([p[0] for p in parts]),
                   np.concatenate([p[1] for p in parts]))
        if full:
            self._all = out
        return out

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
        src/segment/scan.c:448-500). ``cand_ids`` must be sorted."""
        out = np.zeros(cand_ids.size, dtype=np.float64)
        if cand_ids.size == 0:
            return out
        # each row's candidates are one slice of the sorted candidates;
        # rows (of any segment) without a candidate cost nothing
        los = np.searchsorted(cand_ids, self.rmin, side="left")
        his = np.searchsorted(cand_ids, self.rlast, side="right")
        for ri in np.flatnonzero(his > los):
            sel = cand_ids[los[ri]:his[ri]]
            lasts = self.flast[self.row_start[ri]:self.row_start[ri + 1]]
            blocks = np.unique(np.searchsorted(lasts, sel, side="left"))
            ids, cs = self.get(blocks + self.row_start[ri])
            if not ids.size:
                continue
            # within one shard row blocks are doc-id-sorted, so ids is sorted
            pos = np.searchsorted(ids, sel)
            hit = pos < ids.size
            hit[hit] = ids[pos[hit]] == sel[hit]
            out[los[ri]:his[ri]][hit] += cs[pos[hit]]
        return out


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
    all_ids = np.concatenate(id_parts)
    all_sc = np.concatenate(sc_parts)
    uniq, inv = np.unique(all_ids, return_inverse=True)
    # bincount adds in input order, like np.add.at, at a fraction of its cost
    scores = np.bincount(inv, weights=all_sc, minlength=uniq.size)
    counts = np.bincount(inv, minlength=uniq.size)
    return uniq, scores, counts


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
      other terms' bounds can beat the kth accumulated partial score;
    - once the remaining terms' summed bounds cannot beat the kth partial
      score, the non-essential phase decodes only candidate-bearing blocks.

    All thresholds carry ``eps`` slack so pruning never disturbs ties at
    the ROUNDED-score boundary. Returns (uniq_ids, scores, partial_counts)
    or None when no postings survive. Scores of docs below the final kth
    may be partial (standard MaxScore invariant — an under-scored doc is
    provably below the threshold that skipped its blocks), so the caller
    cuts at k.
    """
    bounds = {t: weights[t] * r.max_unit_bound for t, r in readers.items()}
    order = sorted(readers, key=lambda t: (-bounds[t], t))
    total_bound = sum(bounds.values())
    id_parts, sc_parts = [], []
    uniq = scores = counts = None
    nonessential_from = len(order)
    remaining = total_bound
    for i, t in enumerate(order):
        rd = readers[t]
        w = weights[t]
        other = total_bound - bounds[t]
        if i == 0:
            bo = rd.bound_order
            # best total each block in decode order can still reach:
            # non-increasing, so the blocks that can beat a kth are a
            # prefix of ``bo``
            reach = w * rd.sorted_bnd + other
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
                id_parts.append(np.concatenate(ids_p))
                sc_parts.append(np.concatenate(sc_p))
        else:
            if id_parts:
                u, sc, cn = _accumulate(id_parts, sc_parts)
            else:  # earlier terms contributed nothing (e.g. all tombstoned)
                u = np.empty(0, dtype=np.int64)
                sc = np.empty(0, dtype=np.float64)
                cn = np.empty(0, dtype=np.int64)
            kth = None
            if k is not None and sc.size >= k:
                kth = np.partition(sc, sc.size - k)[sc.size - k]
            if kth is not None and remaining < kth - eps:
                uniq, scores, counts = u, sc, cn
                nonessential_from = i
                break
            if kth is None:
                sel = np.arange(rd.n_blocks, dtype=np.int64)
            else:
                sel = np.flatnonzero(w * rd.fbnd + other >= kth - eps)
            if sel.size:
                ids, cs = rd.get(sel)
                if ids.size:
                    id_parts.append(ids)
                    sc_parts.append(cs * w)
        remaining -= bounds[t]
    if not id_parts or not any(a.size for a in id_parts):
        return None
    if uniq is None:
        uniq, scores, counts = _accumulate(id_parts, sc_parts)
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
        # counts are partial under pruning; only used for 'and' (no prune)
    return uniq, scores, counts


class _DictMergeParam:
    """AccumulatorParam merging per-task {term: global_df} dicts — every
    segment kernel reports the SAME global value per term (the window
    aggregate), so updates are idempotent under task retries."""
    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


def make_segment_kernel(qfreqs: dict[str, float], n_docs: int,
                        k: int | None, opts: Bm25Options, avgdl: float,
                        mode: str, phrase_occs: list[tuple[str, int]] | None,
                        deleted_bc=None, static_df: dict[str, int] | None = None,
                        round_to: int = 4, profile: bool = False,
                        df_accum=None, reader_cache: dict | None = None):
    """Build the scoring kernel. ``qfreqs``: term -> query frequency.

    ``kernel(key, rows)`` scores whatever shard rows it is handed: one
    segment's pandas frame under ``applyInPandas`` over ``segment_id``
    (``key[0]`` is then the segment id, used only for profile columns),
    or the serving path's one list of row dicts spanning every segment.

    IDFs are computed inside the kernel from the ``gdf`` column (global
    doc_freq attached by a window aggregate in the same job — Q2 without a
    separate driver round-trip; every segment sees the same global value,
    so scores are independent of segment layout, SURVEY.md §1.4).

    ``deleted_bc``: the sorted tombstoned ids (delete.live_deletes), as a
    Spark broadcast or a plain array, or None. Dead postings are masked
    right after block decode — before any accumulation or pruning — so
    thresholds only ever see alive docs (the reference checks its alive
    bitset per hit the same way). Stats stay dead-inclusive until a merge,
    matching reference VACUUM semantics (SURVEY.md §2.2 M4)."""
    k1, b = float(opts.k1), float(opts.b)
    # norm code -> BM25 tf-denominator length component, precomputed once
    norm_len = DECODE_TABLE.astype(np.float64)
    denom_norm = k1 * (1.0 - b + b * norm_len / avgdl)  # indexed by norm code
    # rounding slack: the public ordering rounds scores to `round_to`
    # decimals, so pruning must only drop docs strictly below the kth
    # ROUNDED score; eps covers a full ulp of the rounded digit
    eps = 10.0 ** (-round_to)
    n_qterms = len(qfreqs)

    out_cols = ["doc_id", "raw_score", "n_terms"]
    if profile:
        out_cols += ["segment_id", "blocks_decoded", "blocks_predecoded",
                     "blocks_total", "pos_blocks_decoded",
                     "pos_blocks_total"]

    def kernel(key, pdf):
        spec = {"doc_id": "int64", "raw_score": "float64", "n_terms": "int32",
                "segment_id": "object", "blocks_decoded": "int64",
                "blocks_predecoded": "int64",
                "blocks_total": "int64", "pos_blocks_decoded": "int64",
                "pos_blocks_total": "int64"}
        # Spark hands an Arrow-decoded pandas frame; the serving path
        # (index/serve.py) hands a list of row dicts AND gets back raw
        # (doc_ids, scores) arrays — frame construction on BOTH sides was
        # the bulk of warm point-query latency
        as_arrays = not isinstance(pdf, pd.DataFrame)
        if as_arrays and profile:
            raise ValueError("array fast path does not carry profile "
                             "columns — use the DataFrame path")
        empty_pair = (np.empty(0, dtype=np.int64),
                      np.empty(0, dtype=np.float64))

        def empty_frame(cols=None):
            return pd.DataFrame({c: pd.Series(dtype=spec[c])
                                 for c in (cols or out_cols)})

        if len(pdf) == 0:
            return empty_pair if as_arrays else empty_frame()
        recs = pdf if as_arrays else \
            pdf.sort_values(["term", "shard"]).to_dict("records")
        per_term: dict[str, list[dict]] = {}
        for rec in recs:
            per_term.setdefault(rec["term"], []).append(rec)

        deleted = getattr(deleted_bc, "value", deleted_bc)

        # global IDF: from the driver's df cache when warm (static), else
        # from the window-attached gdf column (identical on every shard
        # row of a term, across all segments)
        if static_df is not None:
            weights = {t: qfreqs[t] * idf(n_docs, static_df[t])
                       for t in per_term}
        else:
            gdfs = {t: int(rows_[0]["gdf"]) for t, rows_ in per_term.items()}
            weights = {t: qfreqs[t] * idf(n_docs, g) for t, g in gdfs.items()}
            if df_accum is not None:
                # ride the global dfs back to the driver with this job's
                # task results — the NEXT query on these terms skips the
                # window without a separate cache-warming job
                df_accum.add(gdfs)

        counters = {"decoded": 0, "pos_decoded": 0}

        def finish(out: pd.DataFrame) -> pd.DataFrame:
            """Attach profile columns; ALWAYS emit one sentinel row
            (n_terms = -1) per segment so counters survive even when every
            doc was pruned (search_profiled splits sentinels back out)."""
            if not profile:
                return out
            pos_blocks_total = 0
            if phrase_occs is not None:
                pterms = {t for t, _ in phrase_occs}
                pos_blocks_total = sum(
                    int(r["num_blocks"]) for t in pterms
                    for r in per_term.get(t, ())
                    if r.get("pos_counts_bin") is not None)
            sent = pd.DataFrame({"doc_id": np.array([-1], dtype=np.int64),
                                 "raw_score": np.array([0.0]),
                                 "n_terms": np.array([-1], dtype=np.int32)})
            out = pd.concat([out, sent], ignore_index=True) if len(out) else sent
            out["segment_id"] = str(key[0])
            out["blocks_decoded"] = np.int64(counters["decoded"])
            out["blocks_predecoded"] = np.int64(
                counters.get("predecoded", 0))
            out["blocks_total"] = np.int64(sum(
                int(r["num_blocks"]) for r in recs))
            out["pos_blocks_decoded"] = np.int64(counters["pos_decoded"])
            out["pos_blocks_total"] = np.int64(pos_blocks_total)
            return out[out_cols]

        def decode_positions_for(t, cand, readers):
            """Positions for term t restricted to candidate docs: decode
            ONLY the sidecar blocks that can contain a candidate (VERDICT
            round-3 #5 — phrase queries no longer decode every positions
            list of every term). Raw block decodes go through the reader's
            positions cache, so warm phrase queries on the serving path
            skip the sidecar entirely."""
            ids_l: list[np.ndarray] = []
            pls: list[np.ndarray] = []
            rd = readers[t]
            for ri, r in enumerate(rd.rows):
                sub = cand[(cand >= int(r["min_doc_id"]))
                           & (cand <= int(r["last_doc_id"]))]
                if not sub.size:
                    continue
                skip_last = np.asarray(r["skip_last_doc_id"], dtype=np.int64)
                blocks = np.unique(np.searchsorted(skip_last, sub,
                                                   side="left"))
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

        can_prune = mode == "or" and k is not None and phrase_occs is None

        if can_prune:
            # MaxScore + block-max over lazily-decoded readers (shared
            # implementation with search_batch — _run_maxscore)
            readers = _readers_for(per_term, opts.block_size, opts.codec,
                                   denom_norm, k1, deleted, counters,
                                   reader_cache)
            res = _run_maxscore(readers, weights, k, eps)
            if res is None:
                return empty_pair if as_arrays else finish(
                    empty_frame(["doc_id", "raw_score", "n_terms"]))
            uniq, scores, counts = res
        else:
            # exhaustive accumulation ('and' needs exact per-doc term
            # counts; phrase needs the positions of every matched doc) —
            # decoded through the same readers so the serving path's
            # cross-query cache covers and/phrase too
            readers = _readers_for(per_term, opts.block_size, opts.codec,
                                   denom_norm, k1, deleted, counters,
                                   reader_cache)
            bounds = {t: weights[t] * readers[t].max_unit_bound
                      for t in per_term}
            order = sorted(per_term, key=lambda t: (-bounds[t], t))
            id_parts, sc_parts = [], []
            decoded_ids: dict[str, np.ndarray] = {}
            for t in order:
                rd = readers[t]
                ids, cs = rd.get(np.arange(rd.n_blocks, dtype=np.int64))
                id_parts.append(ids)
                sc_parts.append(cs * weights[t])
                decoded_ids[t] = ids
            if not id_parts or not any(a.size for a in id_parts):
                return empty_pair if as_arrays else finish(
                    empty_frame(["doc_id", "raw_score", "n_terms"]))
            uniq, scores, counts = _accumulate(id_parts, sc_parts)
            keep = np.ones(uniq.size, dtype=bool)
            if mode == "and":
                keep = counts >= n_qterms
            elif mode == "phrase":
                # AND-style doc-id intersection FIRST; only then decode
                # positions, and only the blocks candidates can live in
                nodoc = np.empty(0, dtype=np.int64)
                cand = None
                for t in sorted({t_ for t_, _ in phrase_occs}):
                    ids_t = decoded_ids.get(t, nodoc)
                    cand = ids_t if cand is None else \
                        cand[np.isin(cand, ids_t, assume_unique=True)]
                    if not cand.size:
                        break
                if cand is None or not cand.size:
                    keep = np.zeros(uniq.size, dtype=bool)
                else:
                    pos_parts = {t: decode_positions_for(t, cand, readers)
                                 for t in {t_ for t_, _ in phrase_occs}}
                    keep = _phrase_filter(uniq, pos_parts, phrase_occs)
            uniq, scores, counts = uniq[keep], scores[keep], counts[keep]

        if k is not None and uniq.size > k:
            sel = _top_k(uniq, scores, k, round_to)
            uniq, scores, counts = uniq[sel], scores[sel], counts[sel]
        if as_arrays:
            return uniq.astype(np.int64), scores
        out = pd.DataFrame({"doc_id": uniq.astype(np.int64),
                            "raw_score": scores,
                            "n_terms": counts.astype(np.int32)})
        return finish(out)

    return kernel


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


def _search_local(index: "Bm25Index", query: str, k, mode: str,
                  round_to: int, profile: bool):
    """Shared plan builder: returns the per-segment kernel output DataFrame
    (doc_id, raw_score, n_terms[, profile cols]) plus the resolved k."""
    spark = index.spark
    opts = index.manifest.opts
    k = _resolve_k(k, opts)
    qterms = tokenize_query(query, opts.text_config)
    if not qterms:
        return None, k

    terms = [t for t, _ in qterms]
    n = index.manifest.total_docs
    avgdl = max(index.manifest.avgdl, 1e-9)
    qfreqs = {t: float(qf) for t, qf in qterms}

    phrase_occs = None
    if mode == "phrase":
        if not opts.store_positions:
            raise ValueError("phrase search requires an index built with store_positions=True")
        from ..spark_utils import _tokenize_with_positions
        ts, _, _, ps = _tokenize_with_positions(query, opts.text_config, {})
        occ = [(t, p) for t, pl in zip(ts, ps) for p in pl]
        base = min(p for _, p in occ)
        phrase_occs = [(t, p - base) for t, p in occ]

    from .delete import tombstone_broadcast
    deleted_bc = tombstone_broadcast(index)

    # per-manifest-version doc_freq cache: df only changes on
    # build/append/merge, so repeated query terms skip the aggregation
    # entirely — warm queries are ONE no-window job
    ver = (index.manifest.updated_at, len(index.manifest.segments))
    cached = getattr(index, "_df_cache", None)
    if cached is None or cached[0] != ver:
        index._df_cache = (ver, {})
    dfc = index._df_cache[1]
    # drain accumulators from earlier cold queries the USER has since
    # executed: their kernels shipped {term: global_df} back with the task
    # results, so the cache fills without ever running a second job
    pending = getattr(index, "_pending_df_accums", [])
    still = []
    for pver, pterms, acc in pending:
        if pver != ver:
            continue        # stale manifest version — discard
        vals = acc.value
        if vals:
            dfc.update({t: int(v) for t, v in vals.items()})
            for t in pterms:
                dfc.setdefault(t, 0)   # queried but absent from postings
        else:
            still.append((pver, pterms, acc))   # not executed yet
    index._pending_df_accums = still[-8:]

    static_df = None
    df_accum = None
    if all(t in dfc for t in terms):
        static_df = {t: dfc[t] for t in terms}
    else:
        df_accum = spark.sparkContext.accumulator({}, _DictMergeParam())

    kernel = make_segment_kernel(qfreqs, n, k, opts, avgdl, mode, phrase_occs,
                                 deleted_bc=deleted_bc, static_df=static_df,
                                 round_to=round_to, profile=profile,
                                 df_accum=df_accum)
    postings = _read_postings(index, terms)
    if phrase_occs is None:
        # applyInPandas ships every input column to the kernel (no
        # automatic pruning through the Arrow boundary) — drop the
        # positions sidecar unless this is a phrase query. On a
        # positions-enabled index the sidecar is the biggest column.
        pos_cols = [c for c in ("pos_counts_bin", "pos_deltas_bin",
                                "skip_pos_off")
                    if c in postings.columns]
        if pos_cols:
            postings = postings.drop(*pos_cols)
    out_schema = "doc_id long, raw_score double, n_terms int"
    if profile:
        out_schema += (", segment_id string, blocks_decoded long, "
                       "blocks_predecoded long, "
                       "blocks_total long, pos_blocks_decoded long, "
                       "pos_blocks_total long")
    if static_df is None:
        # cold terms — still exactly ONE job: global per-term doc_freq via
        # a window aggregate (tiny — only the query terms' dictionary rows
        # flow through it) feeds the per-segment scoring kernel, and the
        # kernels ship {term: gdf} back through an accumulator with the
        # SAME job's task results. The cache fills when the user executes
        # the query; the next query on these terms skips the window.
        from pyspark.sql import Window
        rows = postings.withColumn(
            "gdf", F.sum("doc_freq").over(Window.partitionBy("term")))
        local = rows.groupBy("segment_id").applyInPandas(kernel, out_schema)
        pend = getattr(index, "_pending_df_accums", [])
        pend.append((ver, list(terms), df_accum))
        index._pending_df_accums = pend[-8:]
    else:
        local = postings.groupBy("segment_id").applyInPandas(kernel, out_schema)
    return local, k


def search_index(index: "Bm25Index", query: str, k: int | None | str = 10,
                 mode: str = "or", round_to: int = 4) -> DataFrame:
    local, k = _search_local(index, query, k, mode, round_to, profile=False)
    if local is None:
        return index.spark.createDataFrame([], "doc_id long, score double")
    result = local.select(
        "doc_id", F.round(F.col("raw_score"), round_to).alias("score"))
    result = result.orderBy(F.desc("score"), F.asc("doc_id"))
    if k is not None:
        result = result.limit(k)
    return result


def search_profiled(index: "Bm25Index", query: str, k: int | None | str = 10,
                    mode: str = "or", round_to: int = 4):
    """Eager search returning (top-k pandas frame, BMW stats dict) — the
    reference's ``log_bmw_stats`` analogue. Stats count posting blocks
    actually decoded vs present across all query terms and segments."""
    local, k = _search_local(index, query, k, mode, round_to, profile=True)
    if local is None:
        return (pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")}),
                {"blocks_decoded": 0, "blocks_total": 0,
                 "pos_blocks_decoded": 0, "pos_blocks_total": 0,
                 "segments": 0})
    pdf = local.toPandas()
    # every segment kernel emits exactly one sentinel row (n_terms == -1)
    # carrying its counters — segments whose docs were ALL pruned still
    # report, so stats never undercount
    seg = pdf[pdf["n_terms"] == -1]
    stats = {"blocks_decoded": int(seg["blocks_decoded"].sum()),
             "blocks_predecoded": int(seg["blocks_predecoded"].sum()),
             "blocks_total": int(seg["blocks_total"].sum()),
             "pos_blocks_decoded": int(seg["pos_blocks_decoded"].sum()),
             "pos_blocks_total": int(seg["pos_blocks_total"].sum()),
             "segments": int(len(seg))}
    pdf = pdf[pdf["n_terms"] != -1]
    pdf = pdf.assign(score=pdf["raw_score"].round(round_to))
    pdf = pdf.sort_values(["score", "doc_id"], ascending=[False, True])
    if k is not None:
        pdf = pdf.head(k)
    index.last_bmw_stats = stats
    return pdf[["doc_id", "score"]].reset_index(drop=True), stats


def make_batch_kernel(per_query: list[list[tuple[str, float]]], n_docs: int,
                      k: int, opts: Bm25Options, avgdl: float,
                      round_to: int = 4, profile: bool = False,
                      deleted_bc=None, static_df: dict[str, int] | None = None,
                      reader_cache: dict | None = None):
    """Build the batched-retrieval kernel (shared by the Spark
    ``search_batch`` path, one call per segment, and the driver-local
    serving path, one call over every segment's rows). ``per_query``:
    tokenized (term, qfreq) lists. Each query's output is already cut to
    its top k. Global doc_freq comes from ``static_df``
    when given (serving path / warm cache), else from the window-attached
    ``gdf`` column."""
    n = int(n_docs)
    k1, b = float(opts.k1), float(opts.b)
    block_size = opts.block_size
    codec = opts.codec
    eps = 10.0 ** (-round_to)

    norm_len = DECODE_TABLE.astype(np.float64)
    denom_norm = k1 * (1.0 - b + b * norm_len / avgdl)

    def kernel(key, pdf):
        as_arrays = not isinstance(pdf, pd.DataFrame)   # serving fast path
        if as_arrays and profile:
            raise ValueError("array fast path does not carry profile "
                             "columns — use the DataFrame path")
        empty_cols = {"query_id": np.empty(0, np.int32),
                      "doc_id": np.empty(0, np.int64),
                      "raw_score": np.empty(0, np.float64)}
        deleted = getattr(deleted_bc, "value", deleted_bc)

        # ONE lazily-decoding reader per term, SHARED across all queries of
        # the batch: the per-query MaxScore/block-max passes below decide
        # which blocks each query needs; a block decodes at most once no
        # matter how many queries touch its term. This is the
        # per-query early termination the reference's BMW gives its batch
        # loop (src/scoring/bmw.c:1477-1716), grafted onto a shared decode
        # cache so the batch amortization is kept too.
        counters = {"decoded": 0}
        recs = (pdf.sort_values(["term", "shard"]).to_dict("records")
                if isinstance(pdf, pd.DataFrame) else pdf)
        per_term: dict[str, list[dict]] = {}
        for rec in recs:
            per_term.setdefault(rec["term"], []).append(rec)
        if static_df is not None:
            gdf = {t: int(static_df[t]) for t in per_term}
        else:
            gdf = {t: int(rows_[0]["gdf"]) for t, rows_ in per_term.items()}
        readers = _readers_for(per_term, block_size, codec, denom_norm, k1,
                               deleted, counters, reader_cache)

        out_q, out_id, out_sc = [], [], []
        for qi, qterms in enumerate(per_query):
            sub = {t: readers[t] for t, _ in qterms if t in readers}
            if not sub:
                continue
            weights = {t: qf * idf(n, gdf[t]) for t, qf in qterms
                       if t in readers}
            res = _run_maxscore(sub, weights, k, eps)
            if res is None:
                continue
            uniq, scores, _counts = res
            if uniq.size > k:
                sel = _top_k(uniq, scores, k, round_to)
                uniq, scores = uniq[sel], scores[sel]
            out_q.append(np.full(uniq.size, qi, dtype=np.int32))
            out_id.append(uniq)
            out_sc.append(scores)
        if as_arrays:
            if out_q:
                return (np.concatenate(out_q), np.concatenate(out_id),
                        np.concatenate(out_sc))
            return (empty_cols["query_id"], empty_cols["doc_id"],
                    empty_cols["raw_score"])
        if out_q:
            out = pd.DataFrame({"query_id": np.concatenate(out_q),
                                "doc_id": np.concatenate(out_id),
                                "raw_score": np.concatenate(out_sc)})
        else:
            out = pd.DataFrame(empty_cols)
        if profile:
            sent = pd.DataFrame({"query_id": np.array([-1], dtype=np.int32),
                                 "doc_id": np.array([-1], dtype=np.int64),
                                 "raw_score": np.array([0.0])})
            out = pd.concat([out, sent], ignore_index=True) if len(out) else sent
            out["segment_id"] = str(key[0])
            out["blocks_decoded"] = np.int64(counters["decoded"])
            out["blocks_predecoded"] = np.int64(
                counters.get("predecoded", 0))
            out["blocks_total"] = np.int64(sum(
                int(r["num_blocks"]) for r in recs))
        return out

    return kernel


def tokenize_batch(queries: list[str], opts: Bm25Options
                   ) -> tuple[list[list[tuple[str, float]]], set[str]]:
    """Tokenize a query batch: (per-query (term, qfreq) lists, union of
    terms)."""
    per_query: list[list[tuple[str, float]]] = []
    all_terms: set[str] = set()
    for q in queries:
        qt = tokenize_query(q, opts.text_config)
        per_query.append([(t, float(f)) for t, f in qt])
        all_terms.update(t for t, _ in qt)
    return per_query, all_terms


def _search_batch_local(index: "Bm25Index", queries: list[str], k: int,
                        round_to: int, profile: bool):
    """Shared plan builder for batched retrieval: per-segment kernel output
    (query_id, doc_id, raw_score[, profile cols]) or None for empty input."""
    opts = index.manifest.opts
    per_query, all_terms = tokenize_batch(queries, opts)
    if not all_terms:
        return None

    from .delete import tombstone_broadcast
    kernel = make_batch_kernel(
        per_query, index.manifest.total_docs, k, opts,
        max(index.manifest.avgdl, 1e-9), round_to=round_to, profile=profile,
        deleted_bc=tombstone_broadcast(index))

    out_schema = "query_id int, doc_id long, raw_score double"
    if profile:
        out_schema += (", segment_id string, blocks_decoded long, "
                       "blocks_predecoded long, blocks_total long")

    postings = _read_postings(index, sorted(all_terms))
    postings = postings.drop(*[c for c in ("pos_counts_bin",
                                           "pos_deltas_bin")
                               if c in postings.columns])
    from pyspark.sql import Window
    rows = postings.withColumn(
        "gdf", F.sum("doc_freq").over(Window.partitionBy("term")))
    return rows.groupBy("segment_id").applyInPandas(kernel, out_schema)


def search_batch(index: "Bm25Index", queries: list[str], k: int = 10,
                 round_to: int = 4) -> DataFrame:
    """Score MANY queries in ONE Spark job (disjunctive top-k each).

    The reference's batch benchmark runs 691 queries back-to-back over one
    connection (BASELINE.md single-client batch); per-query Spark jobs pay
    ~0.5-1 s of scheduling each, so batched retrieval is the
    throughput-correct shape on a cluster: union the query terms, scan the
    index once, then run per-query MaxScore + block-max early termination
    against a shared per-term decode cache (each block decodes at most once
    per segment), and take all per-query global top-ks with a single window.

    Returns (query_id, doc_id, score) with query_id = position in
    ``queries``, ordered by (query_id, score DESC, doc_id ASC). All cuts
    (per-segment and global) order by the ROUNDED score, mirroring
    ``search_index`` and the oracle, so k-boundary ties agree.
    """
    local = _search_batch_local(index, queries, k, round_to, profile=False)
    if local is None:
        return index.spark.createDataFrame(
            [], "query_id int, doc_id long, score double")
    from pyspark.sql import Window
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc(F.round(F.col("raw_score"), round_to)),
                  F.asc("doc_id")))
    return (local.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "doc_id",
                    F.round(F.col("raw_score"), round_to).alias("score"))
            .orderBy("query_id", F.desc("score"), F.asc("doc_id")))


def search_batch_profiled(index: "Bm25Index", queries: list[str], k: int = 10,
                          round_to: int = 4):
    """Eager batched search returning (pandas frame, BMW stats) — the batch
    counterpart of :func:`search_profiled`. Counters count each block's
    decode once per segment (shared across the batch's queries), so
    ``blocks_decoded < blocks_total`` demonstrates batch-path pruning."""
    local = _search_batch_local(index, queries, k, round_to, profile=True)
    if local is None:
        return (pd.DataFrame({"query_id": pd.Series(dtype="int32"),
                              "doc_id": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")}),
                {"blocks_decoded": 0, "blocks_total": 0, "segments": 0})
    pdf = local.toPandas()
    seg = pdf[pdf["query_id"] == -1]
    stats = {"blocks_decoded": int(seg["blocks_decoded"].sum()),
             "blocks_predecoded": int(seg["blocks_predecoded"].sum()),
             "blocks_total": int(seg["blocks_total"].sum()),
             "segments": int(len(seg))}
    pdf = pdf[pdf["query_id"] != -1]
    pdf = pdf.assign(score=pdf["raw_score"].round(round_to))
    pdf = pdf.sort_values(["query_id", "score", "doc_id"],
                          ascending=[True, False, True])
    pdf = pdf.groupby("query_id", sort=True).head(k)
    index.last_bmw_stats = stats
    return (pdf[["query_id", "doc_id", "score"]].reset_index(drop=True),
            stats)
