"""Correctness checker: a DuckDB BM25 twin plus result properties.

Nothing here runs inside a timed window. The oracle materialises the
``tf`` relation of ``pg_textsearch_spark.oracle`` (the same SQL the
engine's contract rows use) ONCE per corpus, with the per-document
quantised length and the corpus statistics beside it; each sampled query
is then one small aggregate over those tables instead of a re-tokenisation
of the corpus.

Run ``python3 perfbench/check.py`` to run the checker's self-test alone.
"""

from __future__ import annotations

import numpy as np

ROUND = 4


class CheckFailed(AssertionError):
    pass


class Oracle:
    """BM25 twin over one corpus (``simple`` config, raw avgdl)."""

    def __init__(self, parquet_glob: str, k1: float = 1.2, b: float = 0.75):
        import duckdb
        from pg_textsearch_spark.oracle import _fieldnorm_values, _tf_ctes
        self.k1, self.b = float(k1), float(b)
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                         f"read_parquet('{parquet_glob}')")
        self.con.execute(f"CREATE TABLE tf AS WITH "
                         f"{_tf_ctes('documents', 'doc_id', 'text', 'simple')}"
                         f" SELECT doc_id, term, tf FROM tf")
        self.con.execute(f"""CREATE TABLE dl AS
            SELECT doc_id, SUM(tf) AS dl,
                   (SELECT MAX(v) FROM (VALUES {_fieldnorm_values()}) f(v)
                    WHERE v <= SUM(tf)) AS qdl
            FROM tf GROUP BY doc_id""")
        self.n_docs, total = self.con.execute(
            "SELECT (SELECT count(*) FROM documents), "
            "(SELECT COALESCE(SUM(tf), 0) FROM tf)").fetchone()
        self.avgdl = total / self.n_docs

    def close(self) -> None:
        self.con.close()

    def ranking(self, query: str, mode: str = "or"):
        """Every matching doc as (doc_ids, rounded scores), ordered
        (score DESC, doc_id ASC) -- no k cut, so callers can cut at k, drop
        deleted ids first, or compare tie groups at the k boundary."""
        from pg_textsearch_spark.functions.tokenizer import tokenize_query
        qterms = tokenize_query(query, "simple")
        if not qterms:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        vals = ", ".join(f"('{t}', {float(f)})" for t, f in qterms)
        having = (f"HAVING count(DISTINCT c.term) = {len(qterms)}"
                  if mode == "and" else "")
        k1, b = self.k1, self.b
        sql = f"""
WITH q(term, qfreq) AS (VALUES {vals}),
d AS (SELECT tf.term, count(*) AS df FROM tf JOIN q USING (term)
      GROUP BY tf.term),
c AS (
  SELECT tf.doc_id, tf.term,
         q.qfreq * ln(1.0 + ({self.n_docs} - d.df + 0.5) / (d.df + 0.5))
         * (tf.tf * {k1 + 1.0})
         / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.qdl / {self.avgdl!r})) AS c
  FROM tf JOIN q USING (term) JOIN d USING (term) JOIN dl USING (doc_id))
SELECT c.doc_id, ROUND(SUM(c.c), {ROUND}) AS score FROM c
GROUP BY c.doc_id {having}
ORDER BY score DESC, c.doc_id ASC"""
        got = self.con.execute(sql).fetchnumpy()
        return (np.asarray(got["doc_id"], dtype=np.int64),
                np.asarray(got["score"], dtype=np.float64))


def _sorted_ok(ids: np.ndarray, scores: np.ndarray) -> bool:
    if ids.size < 2:
        return True
    ds, di = np.diff(scores), np.diff(ids)
    return bool(np.all((ds < 0) | ((ds == 0) & (di > 0))))


def compare(ids, scores, o_ids, o_scores, k: int, exact_ties: bool,
            what: str, deleted: np.ndarray | None = None) -> None:
    """Raise :class:`CheckFailed` unless the engine's top-k (``ids``,
    ``scores``) agrees with the oracle's full ranking.

    - ordering (score DESC, id ASC) and ``len <= k``;
    - no id in ``deleted`` appears, and the oracle list is compared with
      the deleted ids removed (tombstones keep the statistics);
    - rounded scores equal position by position;
    - ids equal within every tie group wholly inside the top k; in the
      group cut by k the engine's ids must be a subset of the oracle's
      (``exact_ties`` requires full equality, for indexes whose internal
      id order is the corpus key order).
    """
    ids = np.asarray(ids, dtype=np.int64)
    scores = np.round(np.asarray(scores, dtype=np.float64), ROUND)
    if ids.size > k:
        raise CheckFailed(f"{what}: {ids.size} results > k={k}")
    if not _sorted_ok(ids, scores):
        raise CheckFailed(f"{what}: not ordered by (score DESC, id ASC)")
    if deleted is not None and deleted.size:
        if np.isin(ids, deleted).any():
            raise CheckFailed(f"{what}: a deleted id was returned")
        keep = ~np.isin(o_ids, deleted)
        o_ids, o_scores = o_ids[keep], o_scores[keep]
    want = min(k, o_ids.size)
    if ids.size != want:
        raise CheckFailed(f"{what}: {ids.size} results, oracle has {want}")
    if not np.array_equal(scores, o_scores[:want]):
        bad = int(np.flatnonzero(scores != o_scores[:want])[0])
        raise CheckFailed(f"{what}: score at rank {bad} is {scores[bad]}, "
                          f"oracle {o_scores[bad]}")
    if exact_ties:
        if not np.array_equal(ids, o_ids[:want]):
            raise CheckFailed(f"{what}: ids differ from the oracle")
        return
    for s in np.unique(scores):
        mine = set(ids[scores == s].tolist())
        theirs = set(o_ids[o_scores == s].tolist())
        boundary = s == scores[-1] and np.count_nonzero(o_scores == s) > \
            np.count_nonzero(scores == s)
        if not (mine <= theirs if boundary else mine == theirs):
            raise CheckFailed(f"{what}: ids at score {s} differ from oracle")


def same_results(a_ids, a_sc, b_ids, b_sc, what: str) -> None:
    """Two engine paths must return identical (id, score) lists."""
    a_ids, b_ids = np.asarray(a_ids), np.asarray(b_ids)
    a_sc = np.round(np.asarray(a_sc, dtype=np.float64), ROUND)
    b_sc = np.round(np.asarray(b_sc, dtype=np.float64), ROUND)
    if not (np.array_equal(a_ids, b_ids) and np.array_equal(a_sc, b_sc)):
        raise CheckFailed(f"{what}: the two query paths disagree")


def selftest() -> int:
    """Show that :func:`compare` accepts a correct top-k and rejects each
    kind of corruption. Returns the number of corruptions rejected."""
    o_ids = np.array([7, 3, 9, 1, 4, 8, 2], dtype=np.int64)
    o_sc = np.array([5.0, 4.0, 4.0, 3.5, 3.5, 3.5, 1.0])
    k = 5
    good = (o_ids[:k], o_sc[:k])
    compare(*good, o_ids, o_sc, k, True, "selftest")
    # a different but legal pick inside the boundary tie group
    compare(np.array([7, 3, 9, 1, 8]), np.array([5.0, 4, 4, 3.5, 3.5]),
            o_ids, o_sc, k, False, "selftest")
    compare(np.array([7, 9, 1, 4]), np.array([5.0, 4, 3.5, 3.5]),
            o_ids, o_sc, 4, False, "selftest", deleted=np.array([3]))
    bad_cases = [
        ("wrong id", (np.array([7, 3, 9, 1, 5]), o_sc[:k]), {}),
        ("perturbed score", (o_ids[:k], o_sc[:k] + [0, 0, 1e-3, 0, 0]), {}),
        ("too long", (o_ids[:6], o_sc[:6]), {}),
        ("too short", (o_ids[:4], o_sc[:4]), {}),
        ("misordered", (o_ids[[0, 2, 1, 3, 4]], o_sc[:k]), {}),
        ("deleted id kept", good, {"deleted": np.array([9])}),
        ("tie swap, exact", (np.array([7, 3, 9, 1, 8]),
                             np.array([5.0, 4, 4, 3.5, 3.5])),
         {"exact": True}),
    ]
    rejected = 0
    for name, (i, s), kw in bad_cases:
        try:
            compare(i, s, o_ids, o_sc, k, kw.get("exact", False),
                    "selftest", deleted=kw.get("deleted"))
        except CheckFailed:
            rejected += 1
        else:
            raise RuntimeError(f"checker accepted a corrupted result: {name}")
    try:
        same_results([1, 2], [1.0, 0.5], [1, 2], [1.0, 0.4], "selftest")
    except CheckFailed:
        rejected += 1
    else:
        raise RuntimeError("checker accepted two differing result lists")
    return rejected


if __name__ == "__main__":
    print(f"checker self-test: {selftest()} corruptions rejected")
