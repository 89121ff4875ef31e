"""Round-4 features: quantized-avgdl index path, spill attempt isolation,
orphan reclamation, cold-query single-job df cache."""

import os

import pytest

from pg_textsearch_spark.config import Bm25Options
from pg_textsearch_spark.index.build import Bm25Index
from pg_textsearch_spark.operators.exhaustive import score_exhaustive

WORDS = ("hello world cruel kind apple banana orange quick brown fox "
         "jumps lazy dog code index merge spark engine query").split()


def _corpus(spark, n=200, seed=7):
    import random
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        m = rng.randint(3, 60)
        rows.append((i, " ".join(rng.choice(WORDS) for _ in range(m))))
    return spark.createDataFrame(rows, "id long, content string")


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_quantized_avgdl_index_matches_exhaustive(spark, tmp_path):
    """avgdl_mode='quantized' must flow into Manifest.avgdl so the segment
    index scores exactly like the exhaustive scorer (the reference SQL
    oracle's convention, /root/reference/test/sql/validation.sql:131-141)."""
    docs = _corpus(spark)
    opts = Bm25Options(text_config="simple", avgdl_mode="quantized")
    idx = Bm25Index.build(spark, docs, "content", str(tmp_path / "qidx"),
                          id_col="id", opts=opts, num_segments=3)
    # manifests must expose the quantized convention
    raw_opts = Bm25Options(text_config="simple")
    idx_raw = Bm25Index.build(spark, docs, "content", str(tmp_path / "ridx"),
                              id_col="id", opts=raw_opts, num_segments=3)
    assert idx.manifest.avgdl != pytest.approx(idx_raw.manifest.avgdl), \
        "quantized and raw avgdl coincide — corpus not exercising the flag"
    for q in ("hello world", "quick brown fox", "banana"):
        got = _rows(idx.search(q, k=15))
        want = _rows(score_exhaustive(spark, docs, "content", "id", q,
                                      opts=opts, k=15))
        assert got == want, f"query {q!r}: index != exhaustive under quantized"


def test_quantized_avgdl_survives_merge_and_append(spark, tmp_path):
    from pg_textsearch_spark.streaming.append import append_batch
    docs = _corpus(spark, n=150)
    extra = _corpus(spark, n=60, seed=11).selectExpr("id + 1000 as id",
                                                     "content")
    opts = Bm25Options(text_config="simple", avgdl_mode="quantized",
                       segments_per_level=2)
    idx = Bm25Index.build(spark, docs, "content", str(tmp_path / "m"),
                          id_col="id", opts=opts, num_segments=2)
    append_batch(idx, extra, "content", "id", auto_compact=False)
    idx.force_merge()
    full = docs.union(extra)
    for q in ("hello world", "spark engine"):
        got = _rows(idx.search(q, k=10))
        want = _rows(score_exhaustive(spark, full, "content", "id", q,
                                      opts=opts, k=10))
        assert got == want


def test_legacy_index_rejects_quantized(tmp_path, spark):
    """An index whose records predate total_qlen must refuse quantized
    scoring loudly instead of silently using raw avgdl."""
    docs = _corpus(spark, n=50)
    opts = Bm25Options(text_config="simple", avgdl_mode="quantized")
    idx = Bm25Index.build(spark, docs, "content", str(tmp_path / "l"),
                          id_col="id", opts=opts, num_segments=1)
    for s in idx.manifest.segments:   # simulate a pre-round-4 manifest
        s.total_qlen = 0
    with pytest.raises(ValueError, match="rebuild"):
        _ = idx.manifest.avgdl


def test_cold_query_is_one_spark_job(spark, tmp_path):
    """A cold single query must be exactly ONE Spark job: the global-df
    cache fills from an accumulator riding the query job's own task
    results, not from a second warming collect (round-3 verdict defect)."""
    docs = _corpus(spark, n=120)
    idx = Bm25Index.build(spark, docs, "content", str(tmp_path / "one"),
                          id_col="id",
                          opts=Bm25Options(text_config="simple"),
                          num_segments=2)
    sc = spark.sparkContext
    st = sc.statusTracker()

    def jobs_for(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        return st.getJobIdsForGroup(group)

    # AQE materializes each shuffle stage as its own job, which would hide
    # an extra ACTION in the count — pin it off for the measurement. Also
    # prime the parquet FileIndex cache with an unrelated query first.
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        idx.search("banana", k=3).collect()
        cold = jobs_for("r4-cold",
                        lambda: idx.search("hello fox", k=5).collect())
        assert len(cold) == 1, f"cold query ran {len(cold)} jobs: {cold}"
        # the executed job's accumulator fills the df cache on the next call
        warm = jobs_for("r4-warm",
                        lambda: idx.search("hello fox", k=5).collect())
        assert len(warm) == 1, f"warm query ran {len(warm)} jobs: {warm}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    dfc = idx._df_cache[1]
    assert "hello" in dfc and "fox" in dfc and dfc["hello"] > 0
    # warm and cold paths must score identically
    assert _rows(idx.search("hello fox", k=5)) == _rows(
        score_exhaustive(spark, docs, "content", "id", "hello fox",
                         opts=Bm25Options(text_config="simple"), k=5))


def test_warm_batch_query_is_one_spark_job(spark, tmp_path):
    """A warm Spark ``search_batch`` reuses the driver's df cache like a
    single query: ONE job whose executed plan has no window — neither the
    cold path's global-df window nor a per-query top-k window — and the
    same results as the cold batch and the serving path."""
    from pg_textsearch_spark.index.query import search_batch
    docs = _corpus(spark, n=120)
    idx = Bm25Index.build(spark, docs, "content", str(tmp_path / "batch"),
                          id_col="id",
                          opts=Bm25Options(text_config="simple"),
                          num_segments=2)
    sc = spark.sparkContext
    st = sc.statusTracker()
    qs = ["hello fox", "lazy dog code", "banana", "nosuchterm"]

    def jobs_for(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return st.getJobIdsForGroup(group), out

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _, cold = jobs_for("batch-cold",
                           lambda: search_batch(idx, qs, k=5).toPandas())
        warm_df = search_batch(idx, qs, k=5)
        plan = warm_df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan
        jobs, warm = jobs_for("batch-warm", warm_df.toPandas)
        assert len(jobs) == 1, f"warm batch ran {len(jobs)} jobs: {jobs}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert warm.equals(cold)
    assert warm.equals(idx.serving().search_batch(qs, k=5))


def test_lsh_hot_bucket_guard_bounds_mega_duplicates(spark):
    """A crawl-style corpus with one huge exact-duplicate cluster must not
    make the LSH band joins quadratic: with max_band_docs set, the
    mega-cluster's buckets are dropped (exact_dedup handles those at O(n))
    while pairs among the distinct docs survive."""
    from pg_textsearch_spark.operators import dedup
    import random
    rng = random.Random(3)
    mega = "the exact same boilerplate page content repeated everywhere " * 4
    rows = [(i, mega) for i in range(2000)]
    distinct = [(2000 + i,
                 " ".join(rng.choice(WORDS) for _ in range(30)))
                for i in range(40)]
    # one near-dup pair among the distinct docs
    distinct.append((9001, distinct[0][1] + " extra"))
    docs = spark.createDataFrame(rows + distinct, "doc_id long, text string")

    pairs = dedup.minhash_candidate_pairs(docs, max_band_docs=100).collect()
    ids = {p["doc_a"] for p in pairs} | {p["doc_b"] for p in pairs}
    assert all(i >= 2000 for i in ids), "mega-cluster leaked into the join"
    assert any({p["doc_a"], p["doc_b"]} == {2000, 9001} for p in pairs), \
        "near-dup pair among distinct docs lost recall"
    assert len(pairs) < 40 * 40

    sh_pairs = dedup.simhash_pairs(docs, max_hamming=3,
                                   max_band_docs=100).collect()
    assert all(p["doc_a"] >= 2000 for p in sh_pairs)
    assert len(sh_pairs) < 40 * 40

    # exact dedup still reports the cluster at O(n)
    ex = dedup.exact_dedup(docs).filter("n_copies >= 2000").collect()
    assert len(ex) >= 1


def test_embedding_blocked_hot_bucket_guard(spark):
    from pg_textsearch_spark.operators import dedup
    import random
    rng = random.Random(5)
    same = [1.0] * 16
    rows = [(i, same) for i in range(1500)]
    rows += [(2000 + i, [rng.uniform(-1, 1) for _ in range(16)])
             for i in range(30)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = dedup.embedding_dup_pairs_blocked(
        embs, threshold=0.9, n_bands=4, band_bits=4,
        max_band_docs=100).collect()
    assert all(p["vec_a"] >= 2000 for p in pairs)
    assert len(pairs) < 30 * 30


def test_vacuum_reclaims_orphan_dirs(spark, tmp_path):
    docs = _corpus(spark, n=80)
    idx = Bm25Index.build(spark, docs, "content", str(tmp_path / "v"),
                          id_col="id",
                          opts=Bm25Options(text_config="simple"),
                          num_segments=2)
    # plant an orphan sub-segment dir + stale bucket marker, as a losing
    # speculative spill attempt would leave behind
    seg_root = os.path.join(idx.path, "segments")
    orphan = os.path.join(seg_root, "seg-000099-a1-p0000")
    os.makedirs(orphan)
    with open(os.path.join(seg_root, "seg-000099.bucket.json"), "w") as f:
        f.write("[]")
    before = _rows(idx.search("hello", k=5))
    res = idx.vacuum()
    assert res["orphan_dirs_reclaimed"] >= 1
    assert not os.path.exists(orphan)
    assert not os.path.exists(os.path.join(seg_root, "seg-000099.bucket.json"))
    assert _rows(idx.search("hello", k=5)) == before


# --------------------------- phrase-mode candidate pruning (VERDICT r3 #5)

def test_phrase_prunes_position_blocks(spark, tmp_path):
    # many docs contain 'alpha' and 'beta' separately; only a handful have
    # the adjacent phrase. The AND-intersection + selective sidecar decode
    # must leave most position blocks untouched.
    rows = []
    for i in range(600):
        if i % 150 == 0:
            rows.append((i, "alpha beta adjacency target document"))
        elif i % 2 == 0:
            rows.append((i, "alpha solo words padding far apart " * 3))
        else:
            rows.append((i, "beta only document with padding " * 2))
    docs = spark.createDataFrame(rows, "id long, content string")
    opts = Bm25Options(text_config="simple", store_positions=True,
                       block_size=16)
    idx = Bm25Index.build(spark, docs, "content", str(tmp_path / "ph"),
                          id_col="id", opts=opts, num_segments=2)
    got, stats = idx.search_profiled("alpha beta", k=10, mode="phrase")
    assert sorted(got["doc_id"].tolist()) == [0, 150, 300, 450]
    assert stats["pos_blocks_total"] > 0
    # docs with both terms are half the corpus, but candidates that survive
    # the AND intersection cluster into few blocks per term
    assert stats["pos_blocks_decoded"] < stats["pos_blocks_total"], stats


def test_decode_positions_blocks_matches_full():
    import numpy as np
    from pg_textsearch_spark.index.segment import (
        pack_term, decode_positions, decode_positions_blocks)
    rng = np.random.default_rng(11)
    n = 1000
    ids = np.cumsum(rng.integers(1, 5, n)).astype(np.int64)
    tfs = rng.integers(1, 9, n).astype(np.int64)
    norms = rng.integers(0, 255, n).astype(np.int64)
    positions = [np.cumsum(rng.integers(1, 30, int(t))).astype(np.int64)
                 for t in tfs]
    (row,) = pack_term("t", ids, tfs, norms, positions, block_size=64)
    full = decode_positions(row)
    for blocks in ([0], [3, 4, 5], [0, 7, 8, 15], [15],
                   list(range(row["num_blocks"]))):
        blocks = [b for b in blocks if b < row["num_blocks"]]
        pidx, plists = decode_positions_blocks(row, np.asarray(blocks))
        for pi, pl in zip(pidx, plists):
            assert np.array_equal(pl, full[int(pi)]), (pi, blocks)
    # legacy row (no skip_pos_off) falls back to the full decode
    legacy = dict(row)
    legacy.pop("skip_pos_off")
    pidx, plists = decode_positions_blocks(legacy, np.asarray([2, 3]))
    for pi, pl in zip(pidx, plists):
        assert np.array_equal(pl, full[int(pi)])


# ------------------- partitioned corpus, partition-local stats (VERDICT #8)

def test_partitioned_index_partition_local_stats(spark, tmp_path):
    from pg_textsearch_spark.index.partitioned import PartitionedBm25Index

    # reference README.md:557-560: a big and a tiny partition put the same
    # term on different IDF scales
    rows = [(i, "alpha beta gamma common words here", "big")
            for i in range(300)]
    rows += [(1000 + i, "alpha rare partition doc", "tiny") for i in range(6)]
    docs = spark.createDataFrame(rows, "id long, content string, part string")
    opts = Bm25Options(text_config="simple")
    pidx = PartitionedBm25Index.build(
        spark, docs, "content", str(tmp_path / "p"), "part",
        id_col="id", opts=opts, num_segments=2)

    st = pidx.stats()
    assert st["big"]["total_docs"] == 300 and st["tiny"]["total_docs"] == 6
    assert st["big"]["avgdl"] != st["tiny"]["avgdl"]

    # single-partition scores == exhaustive scorer over that partition only
    got = _rows(pidx.search("alpha rare", k=5, partitions=["tiny"]))
    want = _rows(score_exhaustive(
        spark, docs.filter("part = 'tiny'"), "content", "id",
        "alpha rare", opts, k=5))
    assert got == want

    # the SAME doc scores differently under a global single index — the
    # semantics divergence the reference documents for cross-partition use
    gidx = Bm25Index.build(spark, docs, "content", str(tmp_path / "g"),
                           id_col="id", opts=opts, num_segments=2)
    glob = dict(_rows(gidx.search("alpha rare", k="all")))
    loc = dict(got)
    overlap = set(loc) & set(glob)
    assert overlap and any(abs(loc[d] - glob[d]) > 1e-6 for d in overlap)

    # cross-partition search unions per-partition scales and keeps the
    # partition column so the scales are attributable
    both = pidx.search("alpha", k=4).collect()
    assert {r["part"] for r in both} <= {"big", "tiny"}
    assert len(both) == 4

    # incremental refresh of one partition (the time-bucket pattern)
    extra = spark.createDataFrame(
        [(2000, "alpha freshly appended doc", "tiny")],
        "id long, content string, part string")
    pidx.build_partition(docs.filter("part = 'tiny'").union(extra),
                         "content", "tiny", id_col="id", opts=opts,
                         num_segments=1)
    assert pidx.stats()["tiny"]["total_docs"] == 7
    assert pidx.stats()["big"]["total_docs"] == 300


# --------------------------- IVF lifecycle: delete / vacuum / retrain

def test_ivf_delete_vacuum_retrain(spark, tmp_path):
    import os
    import random
    from pyspark.sql import functions as F
    from pg_textsearch_spark.operators.similarity import IvfIndex, cosine_topk

    rng = random.Random(17)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(400)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    idx = IvfIndex.build(spark, embs, path, n_centroids=8, n_iters=2)

    before = idx.search_ids([0, 1], k=5, nprobe=8).collect()
    victim = before[0]["vec_id"]
    idx.delete([victim, 399])
    after = idx.search_ids([0, 1], k=5, nprobe=8).collect()
    got_ids = {r["vec_id"] for r in after}
    assert victim not in got_ids and 399 not in got_ids
    # nprobe=all ==> exact: must equal brute force over the alive set
    alive = embs.filter(~F.col("vec_id").isin([victim, 399]))
    want = cosine_topk(alive, [0, 1], k=5).collect()
    assert [(r["query_id"], r["vec_id"], r["cos"]) for r in after] == \
        [(r["query_id"], r["vec_id"], r["cos"]) for r in want]

    # vacuum rewrites ONLY buckets containing the dead ids, clears markers
    root = os.path.join(path, "buckets")
    mtimes = {d: os.path.getmtime(os.path.join(root, d))
              for d in os.listdir(root) if d.startswith("cent_id=")}
    n_hit = idx.vacuum()
    assert 1 <= n_hit <= 2
    assert idx.tombstones() == []
    changed = [d for d in mtimes
               if os.path.getmtime(os.path.join(root, d)) != mtimes[d]]
    assert len(changed) == n_hit, (changed, n_hit)
    after_vac = idx.search_ids([0, 1], k=5, nprobe=8).collect()
    assert [(r["query_id"], r["vec_id"], r["cos"]) for r in after_vac] == \
        [(r["query_id"], r["vec_id"], r["cos"]) for r in want]

    # retrain rebuilds in place on the alive set; exact search unchanged
    idx2 = idx.retrain(n_centroids=8, n_iters=3)
    after_rt = idx2.search_ids([0, 1], k=5, nprobe=8).collect()
    assert [(r["query_id"], r["vec_id"], r["cos"]) for r in after_rt] == \
        [(r["query_id"], r["vec_id"], r["cos"]) for r in want]
    assert idx2.meta["n_iters"] == 3


def test_ivf_recall_floor(spark, tmp_path):
    """ANN quality evidence: recall@10 of the probed search vs brute force
    on a 1000-vector corpus — nprobe=2/16 centroids must clear 0.6, and
    recall must be monotone in nprobe (the IVF contract)."""
    import random
    from pg_textsearch_spark.operators.similarity import IvfIndex, cosine_topk

    rng = random.Random(23)
    rows = [(i, [rng.gauss(0, 1) for _ in range(24)]) for i in range(1000)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = IvfIndex.build(spark, embs, str(tmp_path / "r"), n_centroids=16,
                         n_iters=3)
    qids = list(range(10))
    truth = {}
    for r in cosine_topk(embs, qids, k=10).collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = {}
    for nprobe in (2, 4, 16):
        got = {}
        for r in idx.search_ids(qids, k=10, nprobe=nprobe).collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        recalls[nprobe] = sum(
            len(got.get(q, set()) & truth[q]) for q in qids) / (10 * len(qids))
    assert recalls[2] >= 0.6, recalls
    assert recalls[2] <= recalls[4] + 1e-9 <= recalls[16] + 2e-9, recalls
    assert recalls[16] == 1.0, recalls   # all buckets probed == exact
