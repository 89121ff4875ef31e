"""The flat-store posting reader (index/query.py ``_TermReader``): its
non-essential-phase lookup must equal a brute-force decode exactly, over
rows whose doc ranges interleave, with tombstones and partly decoded
blocks, and it must do its work in one pass whatever the row count."""

import numpy as np
import pytest

from pg_textsearch_spark.functions.fieldnorm import DECODE_TABLE
from pg_textsearch_spark.index import query
from pg_textsearch_spark.index.segment import decode_row, pack_term

K1, B, AVGDL = 1.2, 0.75, 40.0
DENOM = K1 * (1.0 - B + B * DECODE_TABLE.astype(np.float64) / AVGDL)


def _rows(n_rows: int, seed: int) -> list[dict]:
    """Shard rows of one term. Row i holds the doc ids congruent to i
    modulo ``n_rows``, so every row's [min_doc_id, last_doc_id] overlaps
    every other's (the shape of a merged segment spanning unmerged ones);
    small blocks give each row many of them."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_rows):
        ids = np.arange(i, 3000, n_rows, dtype=np.int64)
        ids = ids[rng.random(ids.size) < 0.6]
        tfs = rng.integers(1, 9, ids.size)
        norms = rng.integers(0, 200, ids.size)
        rows += pack_term("t", ids, tfs, norms, block_size=16,
                          max_postings_per_row=200)
    return rows


def _reader(rows, deleted):
    return query._TermReader(rows, 16, "varbyte", DENOM, K1, deleted,
                             {"decoded": 0})


def _brute(rows, cand, deleted):
    """Contribution of each candidate, row by row, from full decodes."""
    out = np.zeros(cand.size)
    dead = set(deleted.tolist())
    where = {int(c): j for j, c in enumerate(cand)}
    for r in rows:
        ids, tfs, norms = decode_row(r, 16, "varbyte")
        tfd = tfs.astype(np.float64)
        cs = (tfd * (K1 + 1.0)) / (tfd + DENOM[norms])
        for d, c in zip(ids.tolist(), cs):
            if d in where and d not in dead:
                out[where[d]] += c
    return out


@pytest.mark.parametrize("n_rows", [1, 3, 5])
def test_candidate_contrib_matches_brute_force(n_rows):
    rows = _rows(n_rows, seed=n_rows)
    assert len(rows) > n_rows                      # shards split rows
    rng = np.random.default_rng(11)
    deleted = np.unique(rng.integers(0, 3000, 300)).astype(np.int64)
    rd = _reader(rows, deleted)
    # partly decoded: a scattered subset of blocks, through both decoders
    rd.get(np.flatnonzero(rng.random(rd.n_blocks) < 0.3))
    rd.get(np.arange(rd.n_blocks)[::7])
    assert 0 < rd.dec.sum() < rd.n_blocks
    for trial in range(6):
        cand = np.unique(rng.integers(-5, 3100, 40 * (trial + 1)))
        got = rd.candidate_contrib(cand)
        assert got.dtype == np.float64 and got.shape == cand.shape
        assert np.array_equal(got, _brute(rows, cand, deleted))
    assert rd.candidate_contrib(np.empty(0, np.int64)).size == 0
    # every lookup left only candidate-bearing blocks decoded on the way:
    # the full reader still returns each alive posting exactly once
    ids, cs = rd.get(np.arange(rd.n_blocks))
    alive = np.concatenate([decode_row(r, 16, "varbyte")[0] for r in rows])
    alive = alive[~np.isin(alive, deleted)]
    assert np.array_equal(ids, alive) and cs.size == ids.size


def test_candidate_contrib_decodes_only_bearing_blocks():
    rows = _rows(3, seed=4)
    rd = _reader(rows, None)
    cand = np.asarray([rows[0]["min_doc_id"], rows[-1]["last_doc_id"]])
    got = rd.candidate_contrib(cand)
    assert np.array_equal(got, _brute(rows, cand, np.empty(0, np.int64)))
    # each candidate lies in one block of each row whose range holds it
    holding = sum(r["min_doc_id"] <= c <= r["last_doc_id"]
                  for r in rows for c in cand)
    assert 0 < rd.counters["decoded"] <= holding < rd.n_blocks


@pytest.mark.parametrize("n_rows", [1, 4, 9])
def test_candidate_contrib_makes_one_ensure_call(monkeypatch, n_rows):
    calls = []
    orig = query._TermReader._ensure

    def spy(self, flat_idx):
        calls.append(len(flat_idx))
        return orig(self, flat_idx)
    monkeypatch.setattr(query._TermReader, "_ensure", spy)
    rows = _rows(n_rows, seed=20 + n_rows)
    rd = _reader(rows, None)
    cand = np.arange(0, 3000, 13, dtype=np.int64)
    rd.candidate_contrib(cand)
    assert len(calls) == 1 and calls[0] > len(rows) / 2
