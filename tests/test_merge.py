"""Segment merges (index/merge.py): a merged segment holds exactly its
inputs' postings minus tombstones, in the build's file layout, with a
SegmentRecord equal to a recount of the files it wrote; an all-dead merge
leaves a usable empty segment; a small merge stays a handful of Spark
jobs."""

import os

import numpy as np
import pyarrow.parquet as pq

from pg_textsearch_spark.config import Bm25Options
from pg_textsearch_spark.functions.fieldnorm import DECODE_TABLE
from pg_textsearch_spark.index.build import Bm25Index
from pg_textsearch_spark.index.merge import merge_segments
from pg_textsearch_spark.index.segment import decode_positions, decode_row
from pg_textsearch_spark.streaming.append import append_batch

OPTS = Bm25Options(text_config="simple", store_positions=True)
WORDS = "ash birch cedar elm fir hazel larch oak pine rowan yew".split()


def _text(i):
    # "oak" is in every doc: the term whose salts straddle partitions
    return " ".join(["oak"] + [WORDS[(i * 5 + j * 3) % len(WORDS)]
                               for j in range(2 + i % 7)])


def _docs(spark, ids, titled=True):
    rows = [(i, _text(i), f"title {i}") for i in ids]
    df = spark.createDataFrame(rows, "id long, content string, title string")
    return df if titled else df.drop("title")


def _files(seg_dir, sub):
    d = os.path.join(seg_dir, sub)
    return [os.path.join(d, f) for f in sorted(os.listdir(d))
            if f.endswith(".parquet")]


def _postings(idx):
    """Every (term, doc_id, tf, norm, positions) of the live segments."""
    out = set()
    for s in idx.manifest.segments:
        for f in _files(idx.manifest.segment_dir(s.segment_id), "postings"):
            for r in pq.read_table(f).to_pylist():
                ids, tfs, norms = decode_row(r, OPTS.block_size, OPTS.codec)
                pos = decode_positions(r)
                out |= {(r["term"], int(d), int(t), int(n), tuple(p))
                        for d, t, n, p in zip(ids, tfs, norms, pos)}
    return out


def _recount(seg_dir):
    """The record's stats recomputed from the written files."""
    post = pq.read_table(_files(seg_dir, "postings")).to_pandas()
    docs = pq.read_table(_files(seg_dir, "docs")).to_pandas()
    dfs = post.groupby("term")["doc_freq"].sum()
    return {"num_docs": len(docs), "total_len": int(docs["doc_len"].sum()),
            "total_qlen": int(DECODE_TABLE[
                docs["fieldnorm"].to_numpy(np.int64)].sum()),
            "num_terms": int(dfs.size), "num_postings": int(dfs.sum()),
            "min_doc_id": int(post["min_doc_id"].min()),
            "max_doc_id": int(post["last_doc_id"].max()),
            "max_doc_freq": int(dfs.max()),
            "skew_factor": float(dfs.max() / dfs.mean()),
            "term_min": post["term"].min(), "term_max": post["term"].max()}


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _serve_rows(pdf):
    return list(zip(pdf["doc_id"].tolist(), pdf["score"].tolist()))


def test_merge_is_inputs_minus_tombstones_in_the_build_layout(
        spark, tmp_path, monkeypatch):
    from pg_textsearch_spark.index import build
    idx = Bm25Index.build(spark, _docs(spark, range(1, 301)), "content",
                          str(tmp_path / "idx"), id_col="id", opts=OPTS,
                          num_segments=4)
    # an append batch without the build's metadata column
    idx.append(_docs(spark, range(1000, 1040), titled=False), "content",
               "id")
    dead = set(range(1, 301, 9)) | {1003, 1004}
    idx.delete(sorted(dead))
    want = {p for p in _postings(idx) if p[1] not in dead}

    # more shuffle partitions than terms, AQE off: "oak"'s salts land in
    # several range partitions; tiny row groups show the bound holds
    monkeypatch.setattr(build, "POSTINGS_ROW_GROUP_ROWS", 3)
    conf = {"spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": "64"}
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        idx.force_merge()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)

    (rec,) = idx.manifest.segments
    seg_dir = idx.manifest.segment_dir(rec.segment_id)
    assert _postings(idx) == want
    got = rec.to_dict()
    assert {k: got[k] for k in _recount(seg_dir)} == _recount(seg_dir)
    assert rec.bytes == sum(os.path.getsize(f) for sub in ("postings", "docs")
                            for f in _files(seg_dir, sub))

    files = _files(seg_dir, "postings")
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        terms = pq.read_table(f, columns=["term"])["term"].to_pylist()
        assert terms == sorted(terms), f
        spans.append((terms[0], terms[-1]))
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            assert rg.num_rows <= 3
            for c in range(rg.num_columns):
                col = rg.column(c)
                assert col.compression == "ZSTD"
                name = col.path_in_schema
                st = col.statistics
                assert (st is not None and st.has_min_max) == (name == "term")
    spans.sort()
    assert all(a[1] <= b[0] for a, b in zip(spans, spans[1:])), spans
    assert sum(lo <= "oak" <= hi for lo, hi in spans) > 1, spans

    # the docmap keeps the build's metadata column for every doc
    srv = idx.serving()
    res = srv.resolve(srv.search("oak cedar", k=None),
                      cols=("source_id", "title"))
    ids = res["doc_id"].tolist()
    assert any(d >= 1000 for d in ids) and any(d < 1000 for d in ids)
    assert not set(ids) & dead
    for d, t in zip(ids, res["title"]):
        assert t == (f"title {d}" if d < 1000 else None), (d, t)
    for q in ("oak", "cedar elm", "yew pine hazel"):
        assert _serve_rows(srv.search(q, k=10)) == _rows(idx.search(q, k=10))
    assert _serve_rows(srv.search("oak cedar", k=10, mode="phrase")) == \
        _rows(idx.search("oak cedar", k=10, mode="phrase"))


def test_merge_of_fully_tombstoned_inputs_leaves_an_empty_segment(
        spark, tmp_path):
    idx = Bm25Index.build(spark, _docs(spark, range(1, 21)), "content",
                          str(tmp_path / "idx"), id_col="id", opts=OPTS,
                          num_segments=2)
    idx.delete(list(range(1, 21)))
    idx.force_merge()
    (rec,) = idx.manifest.segments
    assert (rec.num_docs, rec.num_terms, rec.num_postings) == (0, 0, 0)
    assert idx.search("oak", k=10).collect() == []
    srv = idx.serving()
    assert len(srv.search("oak", k=10)) == 0

    idx.append(_docs(spark, range(100, 104)), "content", "id")
    got = _rows(idx.search("oak cedar", k=10))
    assert {d for d, _ in got} <= set(range(100, 104)) and got
    assert _serve_rows(srv.search("oak cedar", k=10)) == got


def test_two_way_l0_merge_runs_few_spark_jobs(spark, tmp_path):
    """Two 4-document L0 segments merge in at most 6 Spark jobs: the
    writes and the record's stats come from the two passes themselves."""
    opts = Bm25Options(text_config="simple")
    idx = Bm25Index.build(spark, _docs(spark, range(4)), "content",
                          str(tmp_path / "idx"), id_col="id", opts=opts,
                          num_segments=1)
    append_batch(idx, _docs(spark, range(100, 104)), "content", "id",
                 auto_compact=False)
    before = _rows(idx.search("oak cedar elm", k=10))
    sc = spark.sparkContext
    sc.setJobGroup("l0-merge", "l0-merge")
    try:
        rec = merge_segments(idx, idx.manifest.segments, 1)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("l0-merge")
    assert len(jobs) <= 6, f"2-way L0 merge ran {len(jobs)} jobs"
    assert [s.segment_id for s in idx.manifest.segments] == [rec.segment_id]
    assert rec.num_docs == 8
    assert _rows(idx.search("oak cedar elm", k=10)) == before
