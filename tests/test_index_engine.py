"""End-to-end segment-index tests: build, query (= exhaustive scorer),
resume-from-checkpoint, append, LSM merge, phrase/and modes, sha256."""

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from pg_textsearch_spark.config import Bm25Options
from pg_textsearch_spark.index.build import Bm25Index
from pg_textsearch_spark.index.manifest import Manifest, SEG_MARKER
from pg_textsearch_spark.operators.exhaustive import score_exhaustive

ENG = Bm25Options(text_config="english")
SIMPLE = Bm25Options(text_config="simple")


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.fixture()
def tmp_index(tmp_path):
    return str(tmp_path / "idx")


@pytest.fixture(scope="module")
def corpus(spark):
    # F4 fixture (reference test/sql/wand.sql:82-128): 500 docs, 8 greek terms
    def text(i):
        if i % 100 == 0: base = "alpha beta gamma delta epsilon zeta eta theta"
        elif i % 50 == 0: base = "alpha beta gamma delta epsilon zeta"
        elif i % 10 == 0: base = "alpha beta gamma delta"
        elif i % 5 == 0: base = "alpha beta gamma"
        elif i % 2 == 0: base = "alpha beta"
        else: base = "alpha"
        return f"{base} document {i}"
    return spark.createDataFrame([(i, text(i)) for i in range(1, 501)],
                                 "id long, content string")


def test_build_and_query_matches_exhaustive(spark, corpus, tmp_index):
    idx = Bm25Index.build(spark, corpus, "content", tmp_index, id_col="id",
                          opts=ENG, num_segments=4)
    for q in ["alpha", "theta", "alpha beta gamma delta epsilon zeta eta theta",
              "gamma delta", "document"]:
        got = rows(idx.search(q, k=10))
        want = rows(score_exhaustive(spark, corpus, "content", "id", q, ENG, k=10))
        assert got == want, q


def test_full_ranking_no_limit(spark, corpus, tmp_index):
    idx = Bm25Index.build(spark, corpus, "content", tmp_index, id_col="id",
                          opts=ENG, num_segments=3)
    got = rows(idx.search("epsilon zeta", k=None))
    want = rows(score_exhaustive(spark, corpus, "content", "id",
                                 "epsilon zeta", ENG, k=None))
    assert got == want
    assert len(got) == 10  # docs at i%50==0


def test_index_stats_and_manifest(spark, corpus, tmp_index):
    idx = Bm25Index.build(spark, corpus, "content", tmp_index, id_col="id",
                          opts=ENG, num_segments=4)
    st = idx.stats()
    assert st["total_docs"] == 500
    assert st["num_segments"] == 4
    assert st["levels"] == {0: 4}
    assert st["max_skew_factor"] > 1.0  # 'alpha' is in every doc
    m = Manifest.load(tmp_index)
    assert m.total_docs == 500
    assert m.total_len == st["total_len"]
    for s in m.segments:
        assert s.lineage["kind"] == "build"
        assert os.path.exists(os.path.join(m.segment_dir(s.segment_id), SEG_MARKER))


def test_term_stats(spark, corpus, tmp_index):
    idx = Bm25Index.build(spark, corpus, "content", tmp_index, id_col="id",
                          opts=ENG, num_segments=4)
    st = {r["term"]: r["doc_freq"] for r in
          idx.term_stats(["alpha", "beta", "theta", "nosuch"]).collect()}
    assert st["alpha"] == 500
    assert st["beta"] == 300  # i%2==0 (250) plus odd multiples of 5 (50)
    assert st["theta"] == 5
    assert "nosuch" not in st


def test_resume_skips_built_segments(spark, corpus, tmp_index):
    idx = Bm25Index.build(spark, corpus, "content", tmp_index, id_col="id",
                          opts=ENG, num_segments=4)
    before = rows(idx.search("gamma", k=10))
    # simulate a crash that lost one segment: delete its marker + files
    m = Manifest.load(tmp_index)
    victim = m.segments[2]
    shutil.rmtree(m.segment_dir(victim.segment_id))
    # resume: rebuilds ONLY the victim (others return marker stats)
    idx2 = Bm25Index.build(spark, corpus, "content", tmp_index, id_col="id",
                           opts=ENG, num_segments=4, resume=True)
    assert rows(idx2.search("gamma", k=10)) == before
    m2 = Manifest.load(tmp_index)
    resumed = {s.segment_id: s.lineage.get("resumed") for s in m2.segments}
    assert sum(1 for v in resumed.values() if v) == 3  # three were checkpoint hits


def test_build_refuses_overwrite(spark, corpus, tmp_index):
    Bm25Index.build(spark, corpus, "content", tmp_index, id_col="id",
                    opts=ENG, num_segments=2)
    with pytest.raises(FileExistsError):
        Bm25Index.build(spark, corpus, "content", tmp_index, id_col="id",
                        opts=ENG, num_segments=2)


def test_append_matches_bulk(spark, corpus, tmp_index):
    # bulk over all 500 vs build(first 300) + append(last 200)
    first = corpus.filter(F.col("id") <= 300)
    rest = corpus.filter(F.col("id") > 300)
    idx = Bm25Index.build(spark, first, "content", tmp_index, id_col="id",
                          opts=ENG, num_segments=2)
    idx.append(rest, "content", "id")
    got = rows(idx.search("gamma delta", k=10))
    want = rows(score_exhaustive(spark, corpus, "content", "id",
                                 "gamma delta", ENG, k=10))
    assert got == want
    assert idx.manifest.total_docs == 500


def test_append_batch_idempotent(spark, corpus, tmp_index):
    from pg_textsearch_spark.streaming.append import append_batch
    first = corpus.filter(F.col("id") <= 300)
    rest = corpus.filter(F.col("id") > 300)
    idx = Bm25Index.build(spark, first, "content", tmp_index, id_col="id",
                          opts=ENG, num_segments=2)
    append_batch(idx, rest, "content", "id", batch_id=7)
    append_batch(idx, rest, "content", "id", batch_id=7)  # retry: no-op
    assert idx.manifest.total_docs == 500


def test_force_merge_preserves_results(spark, corpus, tmp_index):
    idx = Bm25Index.build(spark, corpus, "content", tmp_index, id_col="id",
                          opts=ENG, num_segments=6)
    before = rows(idx.search("alpha beta gamma", k=15))
    old_segs = {s.segment_id for s in idx.manifest.segments}
    idx.force_merge()
    assert len(idx.manifest.segments) == 1
    assert idx.manifest.total_docs == 500
    assert rows(idx.search("alpha beta gamma", k=15)) == before
    # inputs reclaimed
    for sid in old_segs:
        assert not os.path.exists(idx.manifest.segment_dir(sid))
    rec = idx.manifest.segments[0]
    assert rec.lineage["kind"] == "merge"
    assert set(rec.lineage["inputs"]) == old_segs


def test_tiered_compaction(spark, corpus, tmp_index):
    opts = Bm25Options(text_config="english", segments_per_level=4)
    idx = Bm25Index.build(spark, corpus, "content", tmp_index, id_col="id",
                          opts=opts, num_segments=8)
    before = rows(idx.search("delta", k=10))
    n = idx.compact()
    assert n == 2  # 8 L0 segments -> two merges of 4 -> 2 L1 segments
    assert idx.manifest.levels.get(1) is not None
    assert len(idx.manifest.levels[1]) == 2
    assert rows(idx.search("delta", k=10)) == before


def test_index_phrase_and_modes(spark, tmp_index):
    df = spark.createDataFrame(
        [(1, "spark batch engine"), (2, "batch spark engine"),
         (3, "the spark batch engine"), (4, "spark the batch")],
        "id long, content string")
    opts = Bm25Options(text_config="english", store_positions=True)
    idx = Bm25Index.build(spark, df, "content", tmp_index, id_col="id",
                          opts=opts, num_segments=2)
    got = rows(idx.search("spark batch", k=10, mode="phrase"))
    assert sorted(d for d, _ in got) == [1, 3]
    got_and = rows(idx.search("spark engine", k=10, mode="and"))
    assert sorted(d for d, _ in got_and) == [1, 2, 3]


def test_phrase_requires_positions(spark, corpus, tmp_index):
    idx = Bm25Index.build(spark, corpus, "content", tmp_index, id_col="id",
                          opts=ENG, num_segments=2)
    with pytest.raises(ValueError, match="store_positions"):
        idx.search("alpha beta", mode="phrase")


def test_content_sha256_verification(spark, corpus, tmp_index):
    idx = Bm25Index.build(spark, corpus, "content", tmp_index, id_col="id",
                          opts=ENG, num_segments=2)
    assert idx.verify_content(corpus, "content", "id") == 500
    tampered = corpus.withColumn(
        "content", F.when(F.col("id") == 7, F.lit("evil")).otherwise(F.col("content")))
    with pytest.raises(AssertionError, match="sha256 mismatch on 1"):
        idx.verify_content(tampered, "content", "id")


def test_hash_doc_ids_when_no_id_col(spark, tmp_index):
    df = spark.createDataFrame(
        [("r1", "a.py", "hello world code"), ("r2", "b.py", "goodbye cruel world")],
        "repo string, path string, content string")
    idx = Bm25Index.build(spark, df, "content", tmp_index, opts=ENG)
    got = idx.search("hello", k=5).collect()
    assert len(got) == 1
    resolved = (idx.search("hello", k=5)
                .join(idx.docmap(), "doc_id").select("repo", "path").collect())
    assert (resolved[0]["repo"], resolved[0]["path"]) == ("r1", "a.py")


def test_search_batch_matches_single(spark, corpus, tmp_index):
    from pg_textsearch_spark.index.query import search_batch
    idx = Bm25Index.build(spark, corpus, "content", tmp_index, id_col="id",
                          opts=ENG, num_segments=3)
    qs = ["alpha", "gamma delta", "epsilon zeta eta", "document", "nomatch"]
    got = search_batch(idx, qs, k=7).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for i, q in enumerate(qs):
        want = rows(idx.search(q, k=7))
        assert by_q.get(i, []) == want, q


def test_no_eval_type_inference_warning(spark, corpus, tmp_index):
    """Grouped-map functions (build packer, merge packer, query kernels)
    carry no partial type hints, so PySpark never warns that it cannot
    infer their eval type."""
    import warnings
    from pg_textsearch_spark.index.query import search_batch
    opts = Bm25Options(text_config="english", store_positions=True)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        idx = Bm25Index.build(spark, corpus, "content", tmp_index,
                              id_col="id", opts=opts, num_segments=2)
        want = rows(idx.search("alpha gamma", k=5))
        rows(idx.search("beta gamma", k=5, mode="phrase"))
        search_batch(idx, ["alpha", "gamma delta"], k=3).collect()
        idx.force_merge()
        got = rows(idx.search("alpha gamma", k=5))
    msgs = [str(w.message) for w in caught]
    assert not [m for m in msgs if "Cannot infer the eval type" in m], msgs
    assert got == want
    # the merged segment's Spark-written postings serve like the Spark path
    srv = idx.serving()
    assert list(zip(*[srv.search("alpha gamma", k=5)[c].tolist()
                      for c in ("doc_id", "score")])) == want
