"""Round-2 feature tests: block-max pruning + BMW counters, distributed
tombstones, default_limit, colon query constructor, flush alias, duplicate
-id detection, manifest format versioning."""

import json
import os

import pytest
from pyspark.sql import functions as F

from pg_textsearch_spark.config import Bm25Options
from pg_textsearch_spark.index.build import Bm25Index, search_tpquery
from pg_textsearch_spark.index.delete import live_deletes
from pg_textsearch_spark.index.manifest import Manifest
from pg_textsearch_spark.operators.exhaustive import score_exhaustive

SIMPLE = Bm25Options(text_config="simple")


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.fixture()
def tmp_index(tmp_path):
    return str(tmp_path / "idx")


@pytest.fixture(scope="module")
def skewed(spark):
    """1500 docs, constant length 40, tf('alpha') high only for low ids —
    later posting blocks have strictly lower block-max bounds, so a
    single-term top-10 must be able to stop after the first blocks."""
    def text(i):
        t = 30 if i <= 60 else 1 + (i * i) % 7
        return " ".join(["alpha"] * t + ["pad"] * (40 - t))
    return spark.createDataFrame([(i, text(i)) for i in range(1, 1501)],
                                 "id long, content string")


@pytest.fixture(scope="module")
def mixed(spark):
    """Adversarial multi-term corpus: pseudo-random tfs per term."""
    def text(i):
        parts = (["alpha"] * (1 + (i * 7) % 11)
                 + ["beta"] * ((i * 3) % 5)
                 + ["gamma"] * ((i * i) % 3)
                 + ["filler"] * (i % 4))
        return " ".join(parts)
    return spark.createDataFrame([(i, text(i)) for i in range(1, 1201)],
                                 "id long, content string")


def test_single_term_block_max_early_termination(spark, skewed, tmp_index):
    idx = Bm25Index.build(spark, skewed, "content", tmp_index, id_col="id",
                          opts=SIMPLE, num_segments=1)
    top, stats = idx.search_profiled("alpha", k=10)
    assert stats["blocks_total"] >= 12          # 1500 postings / 128
    assert stats["blocks_decoded"] < stats["blocks_total"] // 2
    want = rows(score_exhaustive(spark, skewed, "content", "id", "alpha",
                                 SIMPLE, k=10))
    assert list(map(tuple, top.itertuples(index=False))) == want


def test_pruned_results_match_exhaustive(spark, mixed, tmp_index):
    idx = Bm25Index.build(spark, mixed, "content", tmp_index, id_col="id",
                          opts=SIMPLE, num_segments=3)
    for q in ["alpha", "beta", "gamma", "alpha beta", "beta gamma",
              "alpha beta gamma", "alpha filler", "alpha beta gamma filler"]:
        got = rows(idx.search(q, k=10))
        want = rows(score_exhaustive(spark, mixed, "content", "id", q,
                                     SIMPLE, k=10))
        assert got == want, q


def test_profiled_matches_search(spark, mixed, tmp_index):
    idx = Bm25Index.build(spark, mixed, "content", tmp_index, id_col="id",
                          opts=SIMPLE, num_segments=2)
    top, stats = idx.search_profiled("alpha beta gamma", k=15)
    want = rows(idx.search("alpha beta gamma", k=15))
    assert list(map(tuple, top.itertuples(index=False))) == want
    assert stats["blocks_total"] > 0
    assert 0 < stats["blocks_decoded"] <= stats["blocks_total"]
    assert idx.last_bmw_stats == stats


def test_default_limit_applied(spark, mixed, tmp_index):
    opts = Bm25Options(text_config="simple", default_limit=7)
    idx = Bm25Index.build(spark, mixed, "content", tmp_index, id_col="id",
                          opts=opts, num_segments=2)
    capped = idx.search("alpha", k=None).collect()
    assert len(capped) == 7        # default_limit caps the no-k call
    full = idx.search("alpha", k="all").collect()
    assert len(full) == 1200       # explicit escape returns everything
    assert [(r["doc_id"], r["score"]) for r in capped] == \
        [(r["doc_id"], r["score"]) for r in full[:7]]


def test_tombstones_sliced_per_segment(spark, mixed, tmp_index):
    idx = Bm25Index.build(spark, mixed, "content", tmp_index, id_col="id",
                          opts=SIMPLE, num_segments=3)
    # ids inside segment ranges + ids far outside every range
    idx.delete([5, 6, 10**15, -10**15])
    shipped = {int(i) for i in live_deletes(idx)}
    assert shipped == {5, 6}       # out-of-range ids never ship
    got = {d for d, _ in rows(idx.search("alpha", k="all"))}
    assert 5 not in got and 6 not in got
    alive = mixed.filter(~F.col("id").isin([5, 6]))
    want = {d for d, _ in rows(score_exhaustive(
        spark, alive, "content", "id", "alpha", SIMPLE, k=None))}
    # stats stay dead-inclusive pre-vacuum so scores differ; doc SETS match
    assert got == want


def test_colon_query_constructor(spark, mixed, tmp_index):
    idx = Bm25Index.build(spark, mixed, "content", tmp_index, id_col="id",
                          opts=SIMPLE, num_segments=2)
    name = os.path.basename(tmp_index)   # auto-registered basename
    got = rows(search_tpquery(f"{name}:alpha beta", k=5))
    assert got == rows(idx.search("alpha beta", k=5))
    # no prefix + default_index
    assert rows(search_tpquery("alpha beta", default_index=idx, k=5)) == got
    with pytest.raises(KeyError):
        search_tpquery("nosuchindex:alpha")
    with pytest.raises(ValueError):
        search_tpquery("alpha beta")


def test_flush_alias_compacts(spark, mixed, tmp_index):
    opts = Bm25Options(text_config="simple", segments_per_level=2)
    idx = Bm25Index.build(spark, mixed, "content", tmp_index, id_col="id",
                          opts=opts, num_segments=4)
    before = rows(idx.search("alpha", k=10))
    assert idx.flush() >= 1
    assert rows(idx.search("alpha", k=10)) == before


def test_duplicate_doc_ids_fail_loudly(spark, tmp_index):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f"), (1, "a b c again")],
        "id long, content string")
    with pytest.raises(Exception, match="duplicate doc_id"):
        Bm25Index.build(spark, df, "content", tmp_index, id_col="id",
                        opts=SIMPLE, num_segments=1)


def test_manifest_rejects_old_format(spark, mixed, tmp_index):
    Bm25Index.build(spark, mixed, "content", tmp_index, id_col="id",
                    opts=SIMPLE, num_segments=1)
    p = os.path.join(tmp_index, "manifest.json")
    with open(p) as f:
        d = json.load(f)
    d["format_version"] = 1
    with open(p, "w") as f:
        json.dump(d, f)
    with pytest.raises(ValueError, match="format_version 1"):
        Manifest.load(tmp_index)


def test_uncompressed_segments_match(spark, mixed, tmp_path):
    """compress_segments=False (reference compress_segments GUC /
    test/sql/compression.sql): raw fixed-width posting streams, same
    block/skip layout, identical results through search + append + merge."""
    comp = Bm25Index.build(spark, mixed, "content", str(tmp_path / "c"),
                           id_col="id", opts=SIMPLE, num_segments=2)
    raw_opts = Bm25Options(text_config="simple", compress_segments=False)
    raw = Bm25Index.build(spark, mixed, "content", str(tmp_path / "r"),
                          id_col="id", opts=raw_opts, num_segments=2)
    for q in ["alpha", "alpha beta", "alpha beta gamma"]:
        assert rows(raw.search(q, k=10)) == rows(comp.search(q, k=10)), q
    assert raw.stats()["bytes"] > comp.stats()["bytes"]
    # merge path re-encodes with the index's own codec
    extra = spark.createDataFrame([(5001, "alpha beta zulu")],
                                  "id long, content string")
    raw.append(extra, "content", "id")
    raw.force_merge()
    comp.append(extra, "content", "id")
    comp.force_merge()
    assert rows(raw.search("alpha beta", k=10)) == \
        rows(comp.search("alpha beta", k=10))


@pytest.fixture(scope="module")
def natural(spark):
    """Length-varied 'natural' corpus: lognormal doc lengths, the hot term
    everywhere with tf proportional to length — the iid-id layout where
    single-term block-max bounds are flat (VALIDATION.md analysis)."""
    import numpy as np
    rng = np.random.default_rng(13)
    rows_ = []
    for i in range(1, 4001):
        length = int(np.clip(rng.lognormal(3.5, 0.8), 5, 400))
        tf = (1 + (i * 7) % 17) if i % 3 == 0 else 0   # varied, sparse
        words = ["alpha"] * min(tf, length - 1) + [
            f"w{rng.integers(0, 500)}" for _ in range(max(1, length - tf))]
        rows_.append((i, " ".join(words)))
    return spark.createDataFrame(rows_, "id long, content string")


def test_length_reorder_enables_single_term_pruning(spark, natural,
                                                    tmp_path):
    # one segment => the hot term's posting list spans ~11 blocks, enough
    # for bound-ordered early termination to show (a 4-segment split
    # leaves ~3 blocks/list, within the kernel's first decode batch)
    plain = Bm25Index.build(spark, natural, "content",
                            str(tmp_path / "plain"), id_col="id",
                            opts=SIMPLE, num_segments=1)
    ropts = Bm25Options(text_config="simple", reorder_docs="length")
    reord = Bm25Index.build(spark, natural, "content",
                            str(tmp_path / "reord"), id_col="id",
                            opts=ropts, num_segments=1)
    # identical score multisets (tie ORDER legitimately follows internal
    # ids under reordering), and every returned doc's score is exact per
    # the exhaustive scorer
    for q in ["alpha", "alpha w1", "alpha w2 w3"]:
        want = sorted(r["score"] for r in plain.search(q, k=10).collect())
        res = reord.resolve(reord.search(q, k=10)).collect()
        got = sorted(r["score"] for r in res)
        assert got == want, q
        exh = {r["doc_id"]: r["score"]
               for r in score_exhaustive(spark, natural, "content", "id",
                                         q, SIMPLE, k=None).collect()}
        for r in res:
            assert exh[r["source_id"]] == r["score"], (q, r)
    # and the length-ordered layout actually prunes single-term decode
    _, st_plain = plain.search_profiled("alpha", k=10)
    _, st_reord = reord.search_profiled("alpha", k=10)
    assert st_reord["blocks_total"] == st_plain["blocks_total"]
    assert st_plain["blocks_decoded"] == st_plain["blocks_total"]
    assert st_reord["blocks_decoded"] <= st_reord["blocks_total"] * 3 // 4, \
        (st_plain, st_reord)


def test_reorder_docmap_roundtrip_and_append_guard(spark, natural,
                                                   tmp_path):
    ropts = Bm25Options(text_config="simple", reorder_docs="length")
    idx = Bm25Index.build(spark, natural.limit(300), "content",
                          str(tmp_path / "r2"), id_col="id", opts=ropts,
                          num_segments=2)
    dm = idx.docmap()
    assert dm.count() == 300
    rows_ = dm.select("doc_id", "source_id").orderBy("doc_id").collect()
    # dense ids 0..n-1 (strided across the 2 segments) ...
    assert sorted(r["doc_id"] for r in rows_) == list(range(300))
    # ... and within each segment's contiguous range, ids ascend in
    # (byte length, source_id) order while sampling the full spectrum
    blens = {r["id"]: r["b"] for r in natural.limit(300).select(
        "id", F.octet_length("content").alias("b")).collect()}
    glob = sorted(blens, key=lambda i: (blens[i], i))
    rank = {sid: r for r, sid in enumerate(glob)}
    span = 150
    for seg in (0, 1):
        seg_rows = [r for r in rows_ if seg * span <= r["doc_id"] < (seg + 1) * span]
        ranks = [rank[r["source_id"]] for r in seg_rows]
        assert ranks == sorted(ranks)               # length-ascending
        assert all(rk % 2 == seg for rk in ranks)   # strided sampling
    with pytest.raises(ValueError, match="reorder_docs"):
        idx.append(natural.limit(10), "content", "id")
