"""Round-5 features: 'auto' document-reorder resolution (BMW pruning live
on default builds), manifest-level term-range segment pruning on both the
Spark and the serving read paths, and the serving file-list snapshot cache."""

import os

import pytest
from pyspark.sql import functions as F

from pg_textsearch_spark.config import Bm25Options
from pg_textsearch_spark.index.build import Bm25Index
from pg_textsearch_spark.operators.exhaustive import score_exhaustive

SIMPLE = Bm25Options(text_config="simple")


@pytest.fixture(scope="module")
def natural(spark):
    """Length-varied corpus (the shape where iid ids leave block-max
    bounds flat — test_round2_features.py's fixture, smaller)."""
    import numpy as np
    rng = np.random.default_rng(13)
    rows_ = []
    for i in range(1, 4001):
        length = int(np.clip(rng.lognormal(3.5, 0.8), 5, 400))
        tf = (1 + (i * 7) % 17) if i % 3 == 0 else 0
        words = ["alpha"] * min(tf, length - 1) + [
            f"w{rng.integers(0, 500)}" for _ in range(max(1, length - tf))]
        rows_.append((i, " ".join(words)))
    return spark.createDataFrame(rows_, "id long, content string")


def test_auto_resolves_none_for_caller_ids(spark, natural, tmp_path):
    idx = Bm25Index.build(spark, natural.limit(200), "content",
                          str(tmp_path / "ids"), id_col="id", opts=SIMPLE)
    assert SIMPLE.reorder_docs == "auto"          # caller passed 'auto'
    assert idx.manifest.opts.reorder_docs == "none"
    # caller ids come back directly — no resolve() hop needed
    got = {r["doc_id"] for r in idx.search("alpha", k=10).collect()}
    assert got <= set(range(1, 201))


def test_auto_resolves_length_for_hashed_ids(spark, natural, tmp_path):
    """A DEFAULT build (no id_col -> xxhash64 ids) resolves to the
    length-ordered layout: scores match the caller-id build exactly and
    single-term block-max pruning actually fires — round 4's 'BMW dark
    on default builds' gap."""
    plain = Bm25Index.build(spark, natural, "content",
                            str(tmp_path / "plain"), id_col="id",
                            opts=SIMPLE, num_segments=1)
    auto = Bm25Index.build(spark, natural, "content",
                           str(tmp_path / "auto"),
                           opts=SIMPLE, num_segments=1)
    assert auto.manifest.opts.reorder_docs == "length"
    # scores are layout-invariant; ids differ (hashed -> dense strided),
    # so compare the score multisets and pin each score to the exhaustive
    # scorer through the docmap's source metadata
    for q in ["alpha", "alpha w1"]:
        want = sorted(r["score"] for r in plain.search(q, k=10).collect())
        got = sorted(r["score"] for r in auto.search(q, k=10).collect())
        assert got == want, q
    _, st_plain = plain.search_profiled("alpha", k=10)
    _, st_auto = auto.search_profiled("alpha", k=10)
    assert st_auto["blocks_total"] == st_plain["blocks_total"]
    assert st_plain["blocks_decoded"] == st_plain["blocks_total"]
    assert st_auto["blocks_decoded"] <= st_auto["blocks_total"] * 3 // 4, \
        (st_plain, st_auto)


@pytest.fixture(scope="module")
def split_vocab_index(spark, tmp_path_factory):
    """Two doc-id halves with DISJOINT vocabularies -> two segments whose
    manifest term ranges do not overlap."""
    rows_ = [(i, "apple banana cherry date") for i in range(100)]
    rows_ += [(i, "quince raisin squash tomato") for i in range(100, 200)]
    docs = spark.createDataFrame(rows_, "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("splitvocab") / "idx")
    idx = Bm25Index.build(spark, docs, "text", path, id_col="doc_id",
                          opts=SIMPLE, num_segments=2)
    return docs, idx


def test_manifest_records_term_ranges(split_vocab_index):
    _, idx = split_vocab_index
    ranges = sorted((s.term_min, s.term_max)
                    for s in idx.manifest.segments)
    assert ranges == [("apple", "date"), ("quince", "tomato")]


def test_spark_path_prunes_segments_by_term_range(spark, split_vocab_index):
    docs, idx = split_vocab_index
    got = idx.search("banana", k=5).collect()
    assert idx.last_segments_scanned == 1
    exh = {r["doc_id"]: r["score"]
           for r in score_exhaustive(spark, docs, "text", "doc_id",
                                     "banana", SIMPLE, k=None).collect()}
    assert {r["doc_id"]: r["score"] for r in got} == dict(
        sorted(exh.items())[:5])
    # a term in NO segment's range -> zero-row result, no error
    assert idx.search("zzz_nothere", k=5).count() == 0
    assert idx.last_segments_scanned == 0
    # a query spanning both ranges scans both
    both = idx.search("banana tomato", k="all")
    assert both.count() == 200
    assert idx.last_segments_scanned == 2


def test_serving_path_prunes_segments_and_caches_file_lists(
        spark, split_vocab_index):
    docs, idx = split_vocab_index
    srv = idx.serving()
    out = srv.search("tomato", k=5)
    # only the matching segment's directory was ever listed
    assert len(srv._seg_files) == 1
    spark_out = idx.search("tomato", k=5).toPandas()
    assert out["doc_id"].tolist() == spark_out["doc_id"].tolist()
    assert out["score"].tolist() == spark_out["score"].tolist()
    # second cold term lists the other segment once; repeated queries on
    # warm terms list nothing new (snapshot cache)
    srv.search("apple", k=5)
    assert len(srv._seg_files) == 2
    listed = dict(srv._seg_files)
    srv.search("tomato apple", k=5)
    assert srv._seg_files == listed


def test_merge_and_append_carry_term_ranges(spark, split_vocab_index,
                                            tmp_path):
    docs, _ = split_vocab_index
    path = str(tmp_path / "m")
    idx = Bm25Index.build(spark, docs.filter(F.col("doc_id") < 100),
                          "text", path, id_col="doc_id", opts=SIMPLE,
                          num_segments=1)
    idx.append(docs.filter(F.col("doc_id") >= 100), "text", "doc_id")
    assert all(s.term_min and s.term_max for s in idx.manifest.segments)
    idx.force_merge()
    (seg,) = idx.manifest.segments
    assert (seg.term_min, seg.term_max) == ("apple", "tomato")


def test_default_build_over_table_with_doc_id_column(spark, tmp_path):
    """A DEFAULT build (no id_col) over a table that HAS a 'doc_id'
    column: the user column is ordinary metadata there (ids are hashed),
    so it must ride into the docmap under a src_ prefix instead of
    colliding with the internal id — and resolve() must surface it."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = Bm25Index.build(spark, docs, "text", str(tmp_path / "dflt"),
                          opts=SIMPLE, num_segments=4)
    assert idx.manifest.opts.reorder_docs == "length"
    dm = idx.docmap()
    assert "src_doc_id" in dm.columns and "doc_id" in dm.columns
    got = idx.search("merge", k=10)
    res = idx.resolve(got).join(
        dm.select("doc_id", "src_doc_id"), "doc_id").toPandas()
    assert len(res) == 10
    # scores equal the caller-id build's, matched through src_doc_id
    plain = Bm25Index.build(spark, docs, "text", str(tmp_path / "plain"),
                            id_col="doc_id", opts=SIMPLE, num_segments=4)
    want = {r["doc_id"]: r["score"]
            for r in plain.search("merge", k="all").collect()}
    for r in res.itertuples():
        assert want[r.src_doc_id] == r.score


def test_verify_content_on_reordered_layout(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = Bm25Index.build(
        spark, docs, "text", str(tmp_path / "vc"), id_col="doc_id",
        opts=Bm25Options(text_config="simple", reorder_docs="length"),
        num_segments=2)
    n = idx.verify_content(docs, "text", "doc_id")
    assert n == docs.count()


def test_blas_assignment_matches_fold(spark, tmp_path):
    """assign_method='blas' (Arrow-batched matmul — the production
    assignment path) must produce the same bucket assignment and the
    same search results as the oracle-parity 'fold' path."""
    from pg_textsearch_spark.operators.similarity import (
        IvfIndex, _assign, _with_norm, ivf_centroids)
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = _with_norm(embs, "embedding", "vec_id")
    cents = ivf_centroids(base, 8, 2, 64)
    a = {r["vec_id"]: r["cent_id"]
         for r in _assign(base, cents, "fold").collect()}
    b = {r["vec_id"]: r["cent_id"]
         for r in _assign(base, cents, "blas").collect()}
    assert a == b
    f = IvfIndex.build(spark, embs, str(tmp_path / "fold"),
                       n_centroids=8, n_iters=2)
    g = IvfIndex.build(spark, embs, str(tmp_path / "blas"),
                       n_centroids=8, n_iters=2, assign_method="blas")
    assert g.meta["assign_method"] == "blas"
    qf = f.search_ids([0, 1, 2], k=5, nprobe=3).collect()
    qg = g.search_ids([0, 1, 2], k=5, nprobe=3).collect()
    assert [tuple(r) for r in qf] == [tuple(r) for r in qg]


def test_zero_norm_vector_never_crashes_or_wins(spark, tmp_path):
    from pg_textsearch_spark.operators.similarity import IvfIndex
    rows = [(i, [float((i + j) % 5 + 1) for j in range(4)])
            for i in range(40)]
    rows.append((99, [0.0, 0.0, 0.0, 0.0]))      # padding row
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf = IvfIndex.build(spark, embs, str(tmp_path / "z"),
                         n_centroids=4, n_iters=2)
    out = ivf.search_ids([0], k=10, nprobe=4).collect()
    assert len(out) == 10
    assert all(r["vec_id"] != 99 for r in out)   # zero vector never ranks


def test_load_source_table_formats(spark, tmp_path):
    """Source loader reads the (repo, path, commit, lang, content) table
    from parquet / orc / json / csv (format sniffed from the extension),
    with predicate + column pruning applied on every format."""
    from pg_textsearch_spark.sources.loader import load_source_table
    rows = [(f"r{i % 3}", f"src/f{i}.py", f"c{i}", "py",
             f"def f{i}(): return {i}") for i in range(30)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    for fmt in ("parquet", "orc", "json", "csv"):
        p = str(tmp_path / fmt)
        df.coalesce(1).write.format(fmt) \
            .option("header", "true").save(p)
        got = load_source_table(spark, p, predicate="repo = 'r1'",
                                columns=["repo", "path", "content"])
        assert got.columns == ["repo", "path", "content"], fmt
        assert got.count() == 10, fmt
        assert got.filter(got.content.contains("def f")).count() == 10, fmt


def test_load_source_table_skips_stray_files(spark, tmp_path):
    """A parquet directory that also holds a stray metadata.json is still
    sniffed as parquet, and the stray file is not read."""
    from pg_textsearch_spark.sources.loader import load_source_table
    rows = [(f"r{i % 3}", f"src/f{i}.py", f"c{i}", "py", f"x = {i}")
            for i in range(12)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    p = str(tmp_path / "src")
    df.coalesce(1).write.parquet(p)
    with open(os.path.join(p, "metadata.json"), "w") as f:
        f.write('{"note": "not data"}\n')
    got = load_source_table(spark, p, predicate="repo = 'r1'")
    assert got.count() == 4
    assert sorted(got.columns) == sorted(df.columns)


def test_postings_df_cache_is_lru(spark):
    """The Spark path's per-index DataFrame cache evicts the least recently
    USED segment set: a hit refreshes an entry, so a hot set survives a
    stream of one-off sets."""
    from types import SimpleNamespace
    from pg_textsearch_spark.index import query

    reads = []

    class Reader:
        def parquet(self, *paths):
            reads.append(paths)
            return SimpleNamespace(filter=lambda cond: None)

    segs = [SimpleNamespace(segment_id=f"s{i}", term_min=f"t{i}",
                            term_max=f"t{i}") for i in range(10)]
    index = SimpleNamespace(
        spark=SimpleNamespace(read=Reader()),
        manifest=SimpleNamespace(segments=segs,
                                 segment_dir=lambda sid: f"/x/{sid}"))
    query._read_postings(index, ["t0"])            # the hot set
    for i in range(1, 10):
        query._read_postings(index, [f"t{i}"])     # one-off sets
        query._read_postings(index, ["t0"])        # hit: stays recent
    assert sum(1 for p in reads if p == ("/x/s0/postings",)) == 1
    assert len(index._postings_df_cache) == 8
