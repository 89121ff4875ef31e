"""Seeded, vectorised corpus and query-stream generator.

Everything here is a pure function of (seed, sizes): the same seed gives
the same corpus bytes and the same query streams.

Corpus model
------------
- Vocabulary: ``N_VOCAB`` synthetic word types ranked by a Zipf law
  (exponent ``ZIPF_S``). Words are lowercase ``[a-z]`` strings, so the
  ``simple`` text config keeps each one as exactly one token and the
  DuckDB oracle tokenises them identically. Which string sits at which
  Zipf rank is a seeded permutation.
- Stopwords: a fixed ``STOP_SHARE`` of all tokens is drawn from a small
  English function-word list (the ``simple`` config indexes them, so they
  become the head of the df distribution, as in real text).
- Document lengths: lognormal (``LEN_MU``, ``LEN_SIGMA``), clipped.
- Bursts: every document picks 1-3 topic terms from the mid-frequency band
  and repeats each a geometric number of times, so per-document tf, and
  with it the per-block maxima the block-max pruning reads, varies.

Queries are drawn by document-frequency rank of the generated corpus (see
:meth:`Corpus.df_ranked_terms`), never from a fixed word list.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

STOPWORDS = (
    "the of and to in a is that for it as was with be by on not he i this "
    "are or his from at which but have an they you were her she there one "
    "all we their has been"
).split()

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)

N_VOCAB = 60_000
ZIPF_S = 1.07
STOP_SHARE = 0.25
LEN_MU = 3.9          # median document length ~ e^3.9 ~ 49 tokens
LEN_SIGMA = 0.55
LEN_MIN = 4
LEN_MAX = 600
BURST_LO = 300        # topic terms come from Zipf ranks
BURST_HI = 20_000     # [BURST_LO, BURST_HI)
BURST_P = 0.35        # geometric repeat parameter per topic term
QUERY_ZIPF_S = 0.6    # query terms: Zipf over the df ranking


def _words(n: int, rng: np.random.Generator) -> np.ndarray:
    """``n`` distinct lowercase words; word i has a length that grows with
    log(i) (frequent words are short) and distinctness comes from a bijective
    base-26 code of a seeded permutation."""
    ids = rng.permutation(n).astype(np.int64) + 26 * 26    # >= 3 letters
    width = int(np.ceil(np.log(ids.max() + 1) / np.log(26))) + 1
    digits = np.empty((n, width), dtype=np.uint8)
    v = ids.copy()
    for j in range(width - 1, -1, -1):
        digits[:, j] = _LETTERS[v % 26]
        v //= 26
    lens = np.ones(n, dtype=np.int64)
    for j in range(1, width):
        lens += ids >= 26 ** j
    out = np.empty(n, dtype=object)
    raw = digits.tobytes()
    for i in range(n):
        row = raw[i * width:(i + 1) * width]
        out[i] = row[width - lens[i]:].decode("ascii")
    # a word equal to a stopword would merge two ranks: extend it until
    # it is unique
    taken = set(out.tolist()) | set(STOPWORDS)
    for i in range(n):
        if out[i] in STOPWORDS:
            w = out[i] + "q"
            while w in taken:
                w += "q"
            taken.add(w)
            out[i] = w
    return out


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


@dataclass
class Corpus:
    doc_id: np.ndarray           # int64, 0..n-1
    text: list[str]
    n_tokens: int
    vocab: np.ndarray            # word strings, index = Zipf rank
    words: np.ndarray            # vocab + stopwords, index = token id
    tok_doc: np.ndarray          # per token: row index of its document
    tok_id: np.ndarray           # per token: index into ``words``

    def df_ranked_terms(self) -> tuple[np.ndarray, np.ndarray]:
        """(terms, doc_freq) sorted by doc_freq DESC then term ASC."""
        nw = np.int64(self.words.size)
        pair = np.unique(self.tok_doc * nw + self.tok_id)
        df = np.bincount(pair % nw, minlength=self.words.size)
        present = np.flatnonzero(df)
        terms, df = self.words[present], df[present]
        order = np.lexsort((terms, -df))
        return terms[order], df[order]


def make_corpus(n_docs: int, seed: int, id_offset: int = 0) -> Corpus:
    """One corpus. ``id_offset`` shifts doc ids (append batches)."""
    rng = np.random.default_rng([seed, n_docs, id_offset, 1])
    vocab = _words(N_VOCAB, np.random.default_rng([seed, 7]))
    n = n_docs
    lens = np.clip(np.round(rng.lognormal(LEN_MU, LEN_SIGMA, n)),
                   LEN_MIN, LEN_MAX).astype(np.int64)
    total = int(lens.sum())
    # background tokens: Zipf over the vocabulary, with a stopword share
    cdf = _zipf_cdf(N_VOCAB, ZIPF_S)
    vocab_tok = np.searchsorted(cdf, rng.random(total), side="right")
    is_stop = rng.random(total) < STOP_SHARE
    stop_tok = rng.integers(0, len(STOPWORDS), total)
    words = np.concatenate([vocab, np.asarray(STOPWORDS, dtype=object)])
    tok = np.where(is_stop, N_VOCAB + stop_tok, vocab_tok)
    # bursts: 1-3 topic terms per doc, each repeated Geometric(BURST_P) times
    n_topics = rng.integers(1, 4, n)
    topic_doc = np.repeat(np.arange(n), n_topics)
    topic_term = rng.integers(BURST_LO, BURST_HI, topic_doc.size)
    reps = rng.geometric(BURST_P, topic_doc.size)
    burst_doc = np.repeat(topic_doc, reps)
    burst_tok = np.repeat(topic_term, reps)
    doc_of = np.concatenate([np.repeat(np.arange(n), lens), burst_doc])
    all_tok = np.concatenate([tok, burst_tok])
    # shuffle tokens within each doc: sort by (doc, random key)
    order = np.lexsort((rng.random(all_tok.size), doc_of))
    all_tok = all_tok[order]
    counts = np.bincount(doc_of, minlength=n)
    bounds = np.cumsum(counts)[:-1]
    strs = words[all_tok]
    text = [" ".join(p) for p in np.split(strs, bounds)]
    ids = np.arange(id_offset, id_offset + n, dtype=np.int64)
    return Corpus(doc_id=ids, text=text, n_tokens=int(all_tok.size),
                  vocab=vocab, words=words, tok_doc=doc_of[order],
                  tok_id=all_tok)


def write_parquet(corpus: Corpus, path: str, n_files: int) -> list[str]:
    """Multi-file parquet (one row group per file) so Spark scans it with
    ``n_files`` parallel tasks."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    n = corpus.doc_id.size
    cuts = np.linspace(0, n, n_files + 1).astype(np.int64)
    out = []
    for i in range(n_files):
        lo, hi = int(cuts[i]), int(cuts[i + 1])
        t = pa.table({"doc_id": pa.array(corpus.doc_id[lo:hi], pa.int64()),
                      "text": pa.array(corpus.text[lo:hi], pa.string())})
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(t, f)
        out.append(f)
    return out


def query_stream(terms: np.ndarray, rng: np.random.Generator,
                 n: int) -> list[tuple[str, str]]:
    """``n`` (query text, 'or') pairs whose terms are drawn by df rank,
    Zipf(``QUERY_ZIPF_S``) over all of ``terms``. Each query has 1-3
    distinct terms."""
    cdf = _zipf_cdf(terms.size, QUERY_ZIPF_S)
    out = []
    for _ in range(n):
        m = int(rng.integers(1, 4))
        picked: list[str] = []
        while len(picked) < m:
            i = int(np.searchsorted(cdf, rng.random(), side="right"))
            w = terms[min(i, terms.size - 1)]
            if w not in picked:
                picked.append(w)
        out.append((" ".join(picked), "or"))
    return out
