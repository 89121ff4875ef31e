"""Driver-local serving read path (index/serve.py): LocalSearcher must be
result-identical to the Spark query path on the same artifacts — or/and/
phrase modes, deletions, LSM appends (refresh), batches, LRU bounds."""

import os

import pytest
from pyspark.sql import functions as F

from pg_textsearch_spark.config import Bm25Options
from pg_textsearch_spark.index.build import Bm25Index
from pg_textsearch_spark.index.query import search_batch
from pg_textsearch_spark.index.serve import LocalSearcher

OPTS = Bm25Options(text_config="english", store_positions=True)

WORDS = ["quick", "brown", "fox", "jumps", "lazy", "dog", "river", "stone",
         "cloud", "ember"]


def _text(i):
    parts = [WORDS[(i * 7 + j * 3) % len(WORDS)] for j in range(3 + i % 9)]
    if i % 11 == 0:
        parts += ["quick", "brown", "fox"]
    if i % 4 == 0:
        parts += ["lazy", "dog"]
    return " ".join(parts) + f" doc {i}"


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame([(i, _text(i)) for i in range(1, 401)],
                                 "id long, content string")


@pytest.fixture(scope="module")
def idx(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("serve") / "idx")
    return Bm25Index.build(spark, corpus, "content", path, id_col="id",
                           opts=OPTS, num_segments=4)


def spark_rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def serve_rows(pdf):
    return list(zip(pdf["doc_id"].tolist(), pdf["score"].tolist()))


QUERIES = ["quick", "quick brown fox", "lazy dog river", "ember cloud",
           "quick quick brown", "nosuchterm", "doc stone"]


def test_serve_matches_spark_or(idx):
    srv = LocalSearcher(idx.path)
    for q in QUERIES:
        assert serve_rows(srv.search(q, k=10)) == \
            spark_rows(idx.search(q, k=10)), q


def test_serve_matches_spark_and_phrase(idx):
    srv = idx.serving()
    for q in ["quick brown fox", "lazy dog"]:
        assert serve_rows(srv.search(q, k=10, mode="and")) == \
            spark_rows(idx.search(q, k=10, mode="and")), q
        assert serve_rows(srv.search(q, k=10, mode="phrase")) == \
            spark_rows(idx.search(q, k=10, mode="phrase")), q


def test_serve_k_all_and_empty(idx):
    srv = idx.serving()
    assert serve_rows(srv.search("quick brown", k=None)) == \
        spark_rows(idx.search("quick brown", k=None))
    assert serve_rows(srv.search("quick", k="all")) == \
        spark_rows(idx.search("quick", k="all"))
    assert len(srv.search("", k=10)) == 0


def test_serve_batch_matches_spark(idx):
    srv = idx.serving()
    qs = ["quick brown", "lazy dog river", "stone", "nosuchterm", "fox ember"]
    got = srv.search_batch(qs, k=5)
    want = search_batch(idx, qs, k=5).toPandas()
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))


def test_serve_lru_bound_still_correct(idx):
    srv = LocalSearcher(idx.path, cache_terms=1)
    a = serve_rows(srv.search("quick brown fox", k=10))
    b = serve_rows(srv.search("lazy dog", k=10))
    assert a == spark_rows(idx.search("quick brown fox", k=10))
    assert b == spark_rows(idx.search("lazy dog", k=10))
    # re-query after eviction
    assert serve_rows(srv.search("quick brown fox", k=10)) == a
    assert len(srv._terms) <= 1


def test_serve_sees_deletes_and_appends(spark, corpus, tmp_path):
    path = str(tmp_path / "idx")
    idx = Bm25Index.build(spark, corpus, "content", path, id_col="id",
                          opts=OPTS, num_segments=3)
    srv = idx.serving()
    before = srv.search("quick brown", k=5)
    victims = before["doc_id"].tolist()[:2]
    idx.delete(victims)
    after = srv.search("quick brown", k=5)   # tombstones, no manifest change
    assert not set(victims) & set(after["doc_id"].tolist())
    assert serve_rows(after) == spark_rows(idx.search("quick brown", k=5))

    extra = spark.createDataFrame(
        [(1000 + i, "quick brown fox quick brown fox") for i in range(5)],
        "id long, content string")
    idx.append(extra, "content", "id")       # manifest change -> refresh
    got = srv.search("quick brown fox", k=10)
    assert serve_rows(got) == spark_rows(idx.search("quick brown fox", k=10))


def test_serve_resolve_matches_spark(spark, corpus, tmp_path):
    from pg_textsearch_spark.config import Bm25Options
    path = str(tmp_path / "idx")
    idx = Bm25Index.build(spark, corpus, "content", path, id_col="id",
                          opts=Bm25Options(text_config="english",
                                           reorder_docs="length"),
                          num_segments=3)
    srv = idx.serving()
    got = srv.resolve(srv.search("quick brown fox", k=10))
    want = idx.resolve(idx.search("quick brown fox", k=10)).toPandas()
    assert list(zip(got["source_id"], got["score"])) == \
        list(zip(want["source_id"], want["score"]))
    assert _dtypes(got) == _dtypes(want) == {
        "doc_id": "int64", "score": "float64", "source_id": "int64"}
    # a batch frame resolves to (query_id ASC, score DESC, source_id ASC)
    qs = ["quick brown", "lazy dog", "nosuchterm", "stone"]
    rb = srv.resolve(srv.search_batch(qs, k=10))
    assert _dtypes(rb) == {"query_id": "int32", "doc_id": "int64",
                           "score": "float64", "source_id": "int64"}
    assert rb.equals(rb.sort_values(
        ["query_id", "score", "source_id"], ascending=[True, False, True],
        kind="mergesort").reset_index(drop=True))
    for qi, q in enumerate(qs):
        one = srv.resolve(srv.search(q, k=10))
        sub = rb[rb["query_id"] == qi].drop(columns="query_id")
        assert sub.reset_index(drop=True).equals(one) if len(one) \
            else sub.empty, q
    # identity-layout build: source_id == doc_id synthesized
    plain = Bm25Index.build(spark, corpus, "content", str(tmp_path / "idx2"),
                            id_col="id", opts=OPTS, num_segments=2)
    s2 = plain.serving()
    r = s2.resolve(s2.search("quick", k=5))
    assert (r["source_id"] == r["doc_id"]).all()


def test_ann_serving_matches_spark(spark, tmp_path):
    from pg_textsearch_spark.operators import similarity
    embs = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    path = str(tmp_path / "ivf")
    art = similarity.IvfIndex.build(spark, embs, path,
                                    n_centroids=8, n_iters=2)
    srv = art.serving()
    qids = [0, 3, 7, 11]
    want = art.search_ids(qids, k=5, nprobe=2).toPandas()
    got = srv.search_ids(qids, k=5, nprobe=2)
    assert list(map(tuple, got.values.tolist())) == \
        list(map(tuple, want.values.tolist()))
    # deletes are respected without reopening
    art.delete([int(want["vec_id"].iloc[0])])
    want2 = art.search_ids(qids, k=5, nprobe=2).toPandas()
    got2 = srv.search_ids(qids, k=5, nprobe=2)
    assert list(map(tuple, got2.values.tolist())) == \
        list(map(tuple, want2.values.tolist()))
    # arbitrary-vector entry point returns the same neighbors as an
    # id-keyed search for that id's own stored vector
    import numpy as np
    ids, mat, nrm = srv._bucket(srv._id_bucket[qids[0]])
    pos = int(np.searchsorted(ids, qids[0]))
    v = srv.search_vector(mat[pos], k=5, nprobe=2, exclude_ids=tuple(qids))
    one = got2[got2["query_id"] == qids[0]]
    assert v["vec_id"].tolist() == one["vec_id"].tolist()


def _block_spy(monkeypatch):
    """Record (segment_id, blocks) for every postings decode."""
    from pg_textsearch_spark.index import query
    seen = []

    def whole(fn):
        def wrapped(r, *a, **kw):
            seen.append((r["segment_id"], int(r["num_blocks"])))
            return fn(r, *a, **kw)
        return wrapped

    def some(fn):
        def wrapped(r, local, *a, **kw):
            seen.append((r["segment_id"], len(local)))
            return fn(r, local, *a, **kw)
        return wrapped
    monkeypatch.setattr(query, "decode_row", whole(query.decode_row))
    monkeypatch.setattr(query, "decode_row_blocks",
                        some(query.decode_row_blocks))
    return seen


def test_threshold_seeding_skips_and_preserves_results(spark, tmp_path,
                                                        monkeypatch):
    # identity layout, four doc-range segments: the term's tf climbs
    # from 1 to 8 with the doc id, so the best blocks sit at the end.
    # The kth banked by the first batch bounds every later batch: a
    # top-10 decodes only the blocks that can still beat it, yet
    # returns exactly the Spark path's (and the full ranking's) top 10
    rows = [(i, "rare " * (1 + (i - 1) // 250) + "filler")
            for i in range(1, 2001)]
    docs = spark.createDataFrame(rows, "id long, content string")
    idx = Bm25Index.build(spark, docs, "content", str(tmp_path / "idx"),
                          id_col="id",
                          opts=Bm25Options(text_config="simple"),
                          num_segments=4)
    seen = _block_spy(monkeypatch)
    top = serve_rows(idx.serving().search("rare", k=10))
    top_blocks = sum(n for _, n in seen)
    del seen[:]
    full = serve_rows(idx.serving().search("rare", k="all"))
    full_blocks = sum(n for _, n in seen)
    assert 0 < top_blocks < full_blocks, (top_blocks, full_blocks)
    assert len(full) == 2000
    assert top == full[:10] == spark_rows(idx.search("rare", k=10))
    assert full == spark_rows(idx.search("rare", k="all"))
    srv = idx.serving()
    for q in ("rare filler", "filler"):
        assert serve_rows(srv.search(q, k=10)) == \
            spark_rows(idx.search(q, k=10)), q


def test_seeded_threshold_skips_cold_segments(spark, tmp_path, monkeypatch):
    # identity layout, two doc-range segments: docs 1-1000 hold the term
    # 8 times in short docs (8 blocks), docs 1001-2000 once in long docs.
    # The first-term batch of 4 hot blocks banks k docs and seeds the
    # kth; the next batch may take only blocks that can still beat it —
    # the other 4 hot ones, never a cold block (a doubling batch of 8
    # would reach them)
    rows = [(i, "rare " * 8 + "filler") for i in range(1, 1001)]
    rows += [(i, "rare " + "pad " * 40) for i in range(1001, 2001)]
    docs = spark.createDataFrame(rows, "id long, content string")
    idx = Bm25Index.build(spark, docs, "content", str(tmp_path / "idx"),
                          id_col="id",
                          opts=Bm25Options(text_config="simple"),
                          num_segments=2)
    cold = {s.segment_id for s in idx.manifest.segments
            if s.min_doc_id > 1000}
    assert cold and len(idx.manifest.segments) == 2
    want = spark_rows(idx.search("rare", k=10))

    seen = _block_spy(monkeypatch)
    srv = idx.serving()
    got = srv.search("rare", k=10)
    assert srv.last_stats["segments_visited"] == 2
    assert seen and not cold & {s for s, _ in seen}, seen
    assert serve_rows(got) == want


def _dtypes(frame) -> dict:
    return {c: str(t) for c, t in frame.dtypes.items()}


def test_serve_frame_dtypes(idx):
    srv = idx.serving()
    one = {"doc_id": "int64", "score": "float64"}
    batch = {"query_id": "int32", "doc_id": "int64", "score": "float64"}
    for q in ("quick brown", "nosuchterm", ""):
        assert _dtypes(srv.search(q, k=5)) == one, q
    assert _dtypes(srv.search("quick lazy", k=5, mode="and")) == one
    for qs in (["quick", "lazy dog"], ["nosuchterm"], [""]):
        assert _dtypes(srv.search_batch(qs, k=5)) == batch, qs
    # identity-layout build: source_id is the doc id itself
    r = srv.resolve(srv.search("quick brown", k=5))
    assert _dtypes(r) == dict(one, source_id="int64")
    assert _dtypes(srv.resolve(srv.search("nosuchterm", k=5))) == one


def test_batch_search_ships_no_positions_column(idx):
    # a positions index: no non-phrase Spark query ships the positions
    # sidecar through applyInPandas (column pruning keeps it out of the
    # scan), and batch search still equals serving
    from pg_textsearch_spark.index.query import POSITION_COLS, _search_plan

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()
    qs = ["quick brown", "lazy dog river", "ember"]
    phrase = _search_plan(idx, ["quick brown"], "phrase", 5, 4, False)
    assert all(c in plan(phrase) for c in POSITION_COLS)
    single = _search_plan(idx, ["quick brown"], "or", 5, 4, False)
    for p in (plan(single), plan(_search_plan(idx, qs, "or", 5, 4, False))):
        assert "pos_counts_bin" not in p and "pos_deltas_bin" not in p \
            and "skip_pos_off" not in p
    got = idx.serving().search_batch(qs, k=5)
    want = search_batch(idx, qs, k=5).toPandas()
    assert got.equals(want)


def test_serve_batch_equals_per_query_search(idx):
    srv = idx.serving()
    qs = ["quick brown", "lazy dog river", "stone", "nosuchterm", "fox ember"]
    got = srv.search_batch(qs, k=5)
    for qi, q in enumerate(qs):
        one = got[got["query_id"] == qi]
        assert serve_rows(one) == serve_rows(srv.search(q, k=5)), q


def _tie_text(i):
    # every 50th doc is the same short text: its score ties across all
    # segments, so a k-boundary cut falls inside the tie
    return "tie marker words" if i % 50 == 0 else _text(i)


def test_single_pass_matches_spark_on_many_segments(spark, tmp_path):
    docs = spark.createDataFrame([(i, _tie_text(i)) for i in range(1, 601)],
                                 "id long, content string")
    idx = Bm25Index.build(spark, docs, "content", str(tmp_path / "idx"),
                          id_col="id", opts=OPTS, num_segments=6)
    segs = idx.manifest.segments
    assert len(segs) >= 5
    victims = [8, 50, 250, 333, 512]
    idx.delete(victims)
    hit = {s.segment_id for s in segs for v in victims
           if s.min_doc_id <= v <= s.max_doc_id}
    assert len(hit) >= 2
    srv = idx.serving()
    tie = spark_rows(idx.search("tie", k="all"))
    assert len(tie) > 5 and tie[4][1] == tie[5][1]    # tie at k = 5
    assert len({s.segment_id for s in segs for d, _ in tie
                if s.min_doc_id <= d <= s.max_doc_id}) >= 5
    for q in QUERIES + ["tie", "tie quick"]:
        for k in (5, 10):
            assert serve_rows(srv.search(q, k=k)) == \
                spark_rows(idx.search(q, k=k)), (q, k)
    for q in ["quick brown fox", "lazy dog", "tie marker"]:
        for mode in ("and", "phrase"):
            assert serve_rows(srv.search(q, k=5, mode=mode)) == \
                spark_rows(idx.search(q, k=5, mode=mode)), (q, mode)
    qs = QUERIES + ["tie", "marker words quick"]
    got = srv.search_batch(qs, k=5)
    want = search_batch(idx, qs, k=5).toPandas()
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))
    assert not set(victims) & set(got["doc_id"].tolist())


def test_reader_cache_follows_term_lru(idx):
    srv = LocalSearcher(idx.path, cache_terms=8)
    ever = set()
    stream = QUERIES + ["river stone cloud", "jumps ember fox", "doc 17",
                        "lazy doc 250", "brown 3 4 5 6 7 8 9 10 11"]
    for q in stream:
        srv.search(q, k=5)
        ever |= set(srv._readers)
        srv.search_batch([q, "dog", "1 2 12 13 14 15 16 17 18"], k=3)
        ever |= set(srv._readers)
        assert len(srv._terms) <= 8 and len(srv._readers) <= 8
        assert set(srv._readers) <= set(srv._terms)
    evicted = ever - set(srv._terms)
    assert evicted and not evicted & set(srv._readers)


def test_partitioned_serving_matches_spark(spark, tmp_path):
    from pg_textsearch_spark.index.partitioned import PartitionedBm25Index
    rows = [(i, "alpha beta gamma common words here", "big")
            for i in range(200)]
    rows += [(1000 + i, "alpha rare partition doc", "tiny") for i in range(6)]
    docs = spark.createDataFrame(rows, "id long, content string, part string")
    pidx = PartitionedBm25Index.build(
        spark, docs, "content", str(tmp_path / "p"), "part",
        id_col="id", opts=Bm25Options(text_config="simple"), num_segments=2)
    srv = pidx.serving()
    for kwargs in ({"partitions": ["tiny"]}, {}, {"k": 4}):
        got = srv.search("alpha rare", k=kwargs.pop("k", 5), **kwargs)
        want = pidx.search("alpha rare", k=len(got), **kwargs).toPandas()
        gset = set(map(tuple, got[["doc_id", "score"]].values.tolist()))
        wset = set(map(tuple, want[["doc_id", "score"]].values.tolist()))
        assert gset == wset, kwargs
    import pytest as _pytest
    with _pytest.raises(ValueError):
        srv.search("alpha", partitions=["nope"])


# -- row-group-pruned cold path ------------------------------------------------

RG_OPTS = Bm25Options(text_config="english", store_positions=True,
                      reorder_docs="length")


def _postings_files(index):
    out = []
    for d in index.postings_paths():
        out += [os.path.join(d, f) for f in sorted(os.listdir(d))
                if f.endswith(".parquet")]
    return out


def _regroup_postings(index, rows):
    """Rewrite every postings file in row groups of ``rows`` rows with
    statistics on ``term`` only, so a tiny corpus spans many groups. Run
    it before the first Spark search: Spark caches file listings."""
    import pyarrow.parquet as pq
    for f in _postings_files(index):
        pq.write_table(pq.read_table(f), f, row_group_size=rows,
                       write_statistics=["term"])


def _term_ranges(path):
    """Footer (min, max) of ``term`` per row group of one postings file."""
    import pyarrow.parquet as pq
    md = pq.ParquetFile(path).metadata
    col = md.schema.to_arrow_schema().get_field_index("term")
    return [(md.row_group(i).column(col).statistics.min,
             md.row_group(i).column(col).statistics.max)
            for i in range(md.num_row_groups)]


def _assert_serving_parity(idx, srv):
    for q in QUERIES:
        assert serve_rows(srv.search(q, k=10)) == \
            spark_rows(idx.search(q, k=10)), q
    for q in ["quick brown fox", "lazy dog"]:
        for mode in ("and", "phrase"):
            assert serve_rows(srv.search(q, k=10, mode=mode)) == \
                spark_rows(idx.search(q, k=10, mode=mode)), (q, mode)
    qs = ["quick brown", "lazy dog river", "stone", "nosuchterm", "fox ember"]
    got = srv.search_batch(qs, k=5)
    want = search_batch(idx, qs, k=5).toPandas()
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))
    got = srv.resolve(srv.search("quick brown fox", k=10),
                      cols=("source_id", "doc_len"))
    want = idx.resolve(idx.search("quick brown fox", k=10)).toPandas()
    assert list(zip(got["source_id"], got["score"])) == \
        list(zip(want["source_id"], want["score"]))
    dm = idx.docmap().select("doc_id", "doc_len").toPandas()
    doc_len = dict(zip(dm["doc_id"], dm["doc_len"]))
    assert got["doc_len"].tolist() == [doc_len[d] for d in got["doc_id"]]


def test_serve_parity_on_many_row_groups(spark, corpus, tmp_path,
                                         monkeypatch):
    import pyarrow.parquet as pq
    from pg_textsearch_spark.index import build
    # identity layout: appends need it
    idx = Bm25Index.build(spark, corpus, "content", str(tmp_path / "idx"),
                          id_col="id", opts=OPTS, num_segments=3)
    _regroup_postings(idx, 5)
    for f in _postings_files(idx):
        assert pq.ParquetFile(f).metadata.num_row_groups > 5, f
    srv = idx.serving()
    _assert_serving_parity(idx, srv)

    victims = srv.search("quick brown", k=5)["doc_id"].tolist()[:2]
    idx.delete(victims)
    assert not set(victims) & set(
        srv.search("quick brown", k=10)["doc_id"].tolist())
    _assert_serving_parity(idx, srv)

    # the appended segment keeps the builder's one-group layout for a
    # batch this small: a mixed index
    extra = spark.createDataFrame(
        [(1000 + i, "quick brown fox quick brown fox river") for i in range(5)],
        "id long, content string")
    idx.append(extra, "content", "id")
    _assert_serving_parity(idx, srv)

    # a merge writes the builder's layout with Spark's writer: every part
    # file term-sorted in bounded row groups (the bound is read on the
    # driver that plans the merge)
    monkeypatch.setattr(build, "POSTINGS_ROW_GROUP_ROWS", 5)
    idx.force_merge()
    assert len(idx.manifest.segments) == 1
    multi = 0
    for f in _postings_files(idx):
        ranges = _term_ranges(f)
        assert all(lo <= hi for lo, hi in ranges), f
        assert all(a[1] <= b[0] for a, b in zip(ranges, ranges[1:])), f
        multi += len(ranges) > 1
    assert multi
    _assert_serving_parity(idx, srv)


def _spy_row_group_reads(monkeypatch):
    import pyarrow.parquet as pq
    reads = []
    orig = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *a, **kw):
        reads.append(list(row_groups))
        return orig(self, row_groups, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    return reads


def test_cold_fetch_reads_only_row_groups_holding_the_term(
        spark, corpus, tmp_path, monkeypatch):
    from pg_textsearch_spark.functions.tokenizer import tokenize_query
    idx = Bm25Index.build(spark, corpus, "content", str(tmp_path / "idx"),
                          id_col="id", opts=RG_OPTS, num_segments=1)
    _regroup_postings(idx, 5)
    (path,) = _postings_files(idx)
    ranges = _term_ranges(path)
    (term, _), = tokenize_query("river", RG_OPTS.text_config)
    holding = [i for i, (lo, hi) in enumerate(ranges) if lo <= term <= hi]
    assert 1 <= len(holding) < len(ranges)

    reads = _spy_row_group_reads(monkeypatch)
    srv = LocalSearcher(idx.path)
    rows, gdf = srv._fetch([term])
    assert reads == [holding]
    assert rows[term] and all(r["term"] == term for r in rows[term])
    assert gdf[term] == sum(r["doc_freq"] for r in rows[term])
    srv._fetch([term])                  # warm: the LRU answers
    assert reads == [holding]


def test_cold_fetch_prunes_row_groups_of_a_merged_segment(
        spark, tmp_path, monkeypatch):
    """Spark-written merge outputs get the same footer-range pruning as
    built segments."""
    from pg_textsearch_spark.functions.tokenizer import tokenize_query
    from pg_textsearch_spark.index import build
    docs = spark.createDataFrame(
        [(i, f"{_text(i)} w{i % 60} v{i % 37}") for i in range(1, 401)],
        "id long, content string")
    idx = Bm25Index.build(spark, docs, "content", str(tmp_path / "idx"),
                          id_col="id", opts=OPTS, num_segments=3)
    monkeypatch.setattr(build, "POSTINGS_ROW_GROUP_ROWS", 8)
    idx.force_merge()
    files = _postings_files(idx)
    (term, _), = tokenize_query("w17", OPTS.text_config)
    want = [[i for i, (lo, hi) in enumerate(_term_ranges(f))
             if lo <= term <= hi] for f in files]
    n_groups = sum(len(_term_ranges(f)) for f in files)

    reads = _spy_row_group_reads(monkeypatch)
    srv = LocalSearcher(idx.path)
    rows, _ = srv._fetch([term])
    assert reads == [w for w in want if w]
    assert 0 < sum(map(len, reads)) < n_groups / 2
    assert serve_rows(srv.search("w17 river", k=10)) == \
        spark_rows(idx.search("w17 river", k=10))


def test_single_row_group_postings_serve_identically(spark, corpus, tmp_path):
    """Older builds hold one row group per postings file; the same reader
    serves them."""
    import pyarrow.parquet as pq
    idx = Bm25Index.build(spark, corpus, "content", str(tmp_path / "idx"),
                          id_col="id", opts=RG_OPTS, num_segments=2)
    _regroup_postings(idx, 5)
    many = idx.serving()
    qs = QUERIES + ["quick brown fox river"]
    before = [serve_rows(many.search(q, k=10)) for q in qs]
    phrase = serve_rows(many.search("lazy dog", k=10, mode="phrase"))
    batch = many.search_batch(qs, k=5)
    resolved = many.resolve(many.search("quick brown fox", k=10))
    assert before == [spark_rows(idx.search(q, k=10)) for q in qs]
    for f in _postings_files(idx):
        pq.write_table(pq.read_table(f), f)
        assert pq.ParquetFile(f).metadata.num_row_groups == 1
    one = LocalSearcher(idx.path)
    assert [serve_rows(one.search(q, k=10)) for q in qs] == before
    assert serve_rows(one.search("lazy dog", k=10, mode="phrase")) == phrase
    assert one.search_batch(qs, k=5).equals(batch)
    assert one.resolve(one.search("quick brown fox", k=10)).equals(resolved)


@pytest.mark.skipif(not os.path.isdir("/proc/self/fd"),
                    reason="needs /proc/self/fd")
def test_serving_holds_no_file_descriptors(spark, corpus, tmp_path):
    """A replica keeps parsed footers, not open files: touching every
    postings and docmap file of many segments leaves the process's
    descriptor count where it was."""
    idx = Bm25Index.build(spark, corpus, "content", str(tmp_path / "idx"),
                          id_col="id", opts=OPTS, num_segments=8)
    srv = LocalSearcher(idx.path, cache_terms=2)
    before = len(os.listdir("/proc/self/fd"))
    for w in WORDS + ["doc"]:
        srv.resolve(srv.search(w, k=5), cols=("source_id", "doc_len"))
    assert len(srv._seg_files) == len(idx.manifest.segments)
    assert len(os.listdir("/proc/self/fd")) <= before


@pytest.mark.parametrize("titled", ["build", "append"])
def test_serve_resolve_column_missing_from_a_segment(spark, tmp_path, titled):
    """Docmap columns follow the frame a segment was written from: a
    column only the build (or only an append batch) had resolves to null
    for the other segment's docs, whichever segment is listed first."""
    def batch(ids, text):
        rows = [(i, text(i), f"title {i}") for i in ids]
        df = spark.createDataFrame(rows, "id long, content string, "
                                         "title string")
        return df if (ids[0] < 1000) == (titled == "build") \
            else df.drop("title")

    idx = Bm25Index.build(spark, batch(list(range(1, 41)), _text), "content",
                          str(tmp_path / "idx"), id_col="id", opts=OPTS,
                          num_segments=1)
    idx.append(batch([1000, 1001, 1002], lambda i: "quick brown fox"),
               "content", "id")
    srv = idx.serving()
    got = srv.resolve(srv.search("quick brown fox", k=None),
                      cols=("source_id", "title"))
    ids = got["doc_id"].tolist()
    assert any(d >= 1000 for d in ids) and any(d < 1000 for d in ids)
    for d, t in zip(ids, got["title"]):
        has = (d < 1000) == (titled == "build")
        assert (t == f"title {d}") if has else (t is None), (d, t)


def test_ann_search_vectors_zero_query(spark, tmp_path):
    """An all-zero query vector clamps its norm like the build side: no
    error, every cosine 0, ties by vec_id — the driver-local twin's
    ranking."""
    import numpy as np
    from pg_textsearch_spark.operators.similarity import IvfIndex
    rows = [(i, [float((i + j) % 5 + 1) for j in range(4)])
            for i in range(40)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf = IvfIndex.build(spark, embs, str(tmp_path / "z"),
                         n_centroids=4, n_iters=2)
    qdf = spark.createDataFrame([(0, [0.0] * 4), (1, [1.0, 2.0, 3.0, 4.0])],
                                "query_id long, qv array<double>")
    a = ivf.search_vectors(qdf, k=5, nprobe=2).toPandas()
    b = ivf.search_vectors(qdf, k=5, nprobe=2).toPandas()
    assert a.equals(b)
    zero = a[a["query_id"] == 0]
    assert len(zero) == 5 and (zero["cos"] == 0.0).all()
    assert zero["vec_id"].tolist() == sorted(zero["vec_id"].tolist())
    twin = ivf.serving().search_vector(np.zeros(4), k=5, nprobe=2)
    assert twin["vec_id"].tolist() == zero["vec_id"].tolist()
    assert len(a[a["query_id"] == 1]) == 5
