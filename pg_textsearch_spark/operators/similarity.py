"""Similarity search over embedding columns.

- ``cosine_topk``  — brute-force cosine top-k per query vector (the exact
  baseline; a broadcast join of the tiny query set against the corpus, one
  window for per-query ranking — at scale the corpus side stays partitioned,
  queries broadcast, ranking is a per-partition local top-k + global merge).
- ``ivf_topk``     — IVF-bucketed ANN: centroids seeded deterministically
  (first ``n_centroids`` vec_ids) then refined with ``n_iters`` Lloyd
  iterations (assign → per-dimension mean, rounded to 6dp so engine and
  oracle stay bit-identical despite summation order); every corpus vector
  is assigned to its nearest centroid (one broadcast join + map-side
  combinable argmax, no per-vector window shuffle), queries probe the
  ``nprobe`` nearest centroids and search only those buckets. This is the
  scale path: the probe join touches ~nprobe/n_centroids of the corpus and
  the bucket assignment is a pre-computed partition key.

Dot/norm arithmetic is a strict left-fold over doubles (F.aggregate /
DuckDB list_sum over list_transform), so engine and oracle agree
bit-for-bit; ties broken by vec_id ASC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import DOT_SQL, NORM_SQL, _dot_col, _norm_col


def _with_norm(embs: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    # zero-norm guard (a padding/all-zero embedding row): clamp like the
    # serving path does (LocalAnnSearcher uses `or 1e-30`) so cosine with
    # a zero vector is ~0 instead of an ANSI DIVIDE_BY_ZERO crash; real
    # vectors' norms are unaffected
    return embs.select(F.col(id_col).alias("vec_id"), v.alias("v"),
                       F.greatest(_norm_col(v),
                                  F.lit(1e-30)).alias("nrm"))


def _assign(base: DataFrame, cents: DataFrame,
            method: str = "fold") -> DataFrame:
    """Nearest-centroid assignment. ``method='fold'``: broadcast-join +
    codegen'd left-fold dot product + max_by argmax — bit-identical to
    the DuckDB oracle's arithmetic (strict left-fold), the parity path.
    ``method='blas'``: Arrow-batched numpy matmul against the broadcast
    centroid matrix — the THROUGHPUT path for production assignment
    (O(n x nlist x dim) runs in BLAS instead of scalar codegen; measured
    >>10x at 1 M x 256 x 64d). Same tie rule (lowest cent_id on equal
    cosine); last-ulp summation-order differences vs the fold are
    possible, so oracle-checked contract rows use 'fold'."""
    if method == "blas":
        return _assign_blas(base, cents)
    ccos = _dot_col(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))
    return (base.crossJoin(F.broadcast(cents))
            .select("vec_id", "v", "nrm", "cent_id", ccos.alias("ccos"))
            .groupBy("vec_id")
            .agg(F.max_by("cent_id",
                          F.struct(F.col("ccos"), (-F.col("cent_id"))
                                   .alias("neg"))).alias("cent_id"),
                 F.first("v").alias("v"), F.first("nrm").alias("nrm")))


def _assign_blas(base: DataFrame, cents: DataFrame) -> DataFrame:
    """mapInPandas nearest-centroid assignment: one numpy matmul per
    Arrow batch against the centroid matrix (shipped via Spark broadcast
    — tiny: nlist x dim doubles). Pure map, no shuffle."""
    import numpy as np
    import pandas as pd
    spark = base.sparkSession
    crows = cents.collect()
    order = sorted(range(len(crows)), key=lambda i: int(crows[i]["cent_id"]))
    cids = np.asarray([int(crows[i]["cent_id"]) for i in order],
                      dtype=np.int64)
    cmat = np.vstack([np.asarray(crows[i]["cv"], dtype=np.float64)
                      for i in order])
    cn = np.asarray([float(crows[i]["cn"]) for i in order],
                    dtype=np.float64)
    bc = spark.sparkContext.broadcast((cids, cmat, cn))

    def run(batches):
        cids_, cmat_, cn_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack([np.asarray(x, dtype=np.float64)
                           for x in pdf["v"]])
            nrm = pdf["nrm"].to_numpy(dtype=np.float64)
            ccos = (V @ cmat_.T) / np.outer(nrm, cn_)
            # columns are cent_id-ascending, np.argmax returns the FIRST
            # max -> lowest cent_id wins ties, matching the fold path
            best = cids_[np.argmax(ccos, axis=1)]
            out = pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy()})
            out["cent_id"] = best
            out["v"] = pdf["v"].to_numpy()
            out["nrm"] = nrm
            yield out[["vec_id", "cent_id", "v", "nrm"]]

    return base.mapInPandas(
        run, "vec_id long, cent_id long, v array<double>, nrm double")


def ivf_centroids(base: DataFrame, n_centroids: int, n_iters: int,
                  dim: int, assign_method: str = "fold") -> DataFrame:
    """Deterministic IVF training: seed with the lowest ``n_centroids``
    vec_ids, then ``n_iters`` Lloyd iterations. The update step is a
    per-dimension AVG (64 codegen'd aggregates — no explode), rounded to
    6dp so the result is independent of partition summation order; empty
    clusters keep their previous centroid."""
    cents = (base.orderBy("vec_id").limit(n_centroids)
             .select(F.col("vec_id").alias("cent_id"),
                     F.col("v").alias("cv"), F.col("nrm").alias("cn")))
    for _ in range(n_iters):
        assigned = _assign(base, cents, method=assign_method)
        means = assigned.groupBy("cent_id").agg(
            *[F.round(F.avg(F.col("v").getItem(i)), 6).alias(f"m{i}")
              for i in range(dim)])
        newc = means.select(
            "cent_id",
            F.array(*[F.col(f"m{i}") for i in range(dim)]).alias("ncv"))
        # a Lloyd mean can round to the zero vector — clamp its norm like
        # _with_norm does so assignment cosine never divides by zero
        newc = newc.withColumn(
            "ncn", F.greatest(_norm_col(F.col("ncv")), F.lit(1e-30)))
        cents = (cents.join(newc, "cent_id", "left")
                 .select("cent_id",
                         F.coalesce(F.col("ncv"), F.col("cv")).alias("cv"),
                         F.coalesce(F.col("ncn"), F.col("cn")).alias("cn")))
    return cents


def ivf_centroids_sql(n_centroids: int, n_iters: int, dim: int,
                      train_table: str = "base") -> str:
    """CTE chain (appended after a ``base(vec_id, v, nrm)`` CTE) ending in
    ``cents(cent_id, cv, cn)`` — the exact SQL twin of ivf_centroids.
    ``train_table`` restricts training to a subset CTE (the oracle twin of
    build-then-append: centroids trained on the build set only)."""
    parts = [f"""cents0 AS (
  SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM {train_table}
  ORDER BY vec_id LIMIT {n_centroids}
)"""]
    prev = "cents0"
    for it in range(1, n_iters + 1):
        avg_list = ", ".join(f"ROUND(AVG(v[{i + 1}]), 6)" for i in range(dim))
        parts.append(f"""asg{it} AS (
  SELECT vec_id, v, cent_id FROM (
    SELECT b.vec_id, b.v, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
             ORDER BY {DOT_SQL.format(dim=dim, a='b.v', b='c.cv')} / (b.nrm * c.cn) DESC,
                      c.cent_id ASC) AS rn
    FROM {train_table} b, {prev} c)
  WHERE rn = 1
),
mean{it} AS (
  SELECT cent_id, [{avg_list}] AS ncv FROM asg{it} GROUP BY cent_id
),
cents{it} AS (
  SELECT c.cent_id, COALESCE(m.ncv, c.cv) AS cv,
         COALESCE({NORM_SQL.format(a='m.ncv')}, c.cn) AS cn
  FROM {prev} c LEFT JOIN mean{it} m ON m.cent_id = c.cent_id
)""")
        prev = f"cents{it}"
    parts.append(f"cents AS (SELECT * FROM {prev})")
    return ",\n".join(parts)


def cosine_topk(embs: DataFrame, query_ids: list[int], k: int = 5,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k neighbors (excluding the query set itself) for each
    query vector drawn from the same table by id."""
    base = _with_norm(embs, vec_col, id_col)
    queries = base.filter(F.col("vec_id").isin(query_ids)) \
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    corpus = base.filter(~F.col("vec_id").isin(query_ids))
    cos = _dot_col(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    scored = corpus.crossJoin(F.broadcast(queries)) \
                   .select("query_id", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "vec_id", F.round("cos", 4).alias("cos"))
            .orderBy("query_id", "rank"))


def cosine_topk_oracle_sql(query_ids: list[int], k: int = 5, dim: int = 64,
                           table: str = "embeddings",
                           vec_col: str = "embedding",
                           id_col: str = "vec_id") -> str:
    ids = ", ".join(str(i) for i in query_ids)
    dot = DOT_SQL.format(dim=dim, a="q.v", b="c.v")
    return f"""
WITH base AS (
  SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS v,
         {NORM_SQL.format(a=f"{vec_col}::DOUBLE[]")} AS nrm
  FROM {table}
),
q AS (SELECT vec_id AS query_id, v, nrm FROM base WHERE vec_id IN ({ids})),
c AS (SELECT * FROM base WHERE vec_id NOT IN ({ids})),
scored AS (
  SELECT q.query_id, c.vec_id,
         {dot} / (q.nrm * c.nrm) AS cos
  FROM q, c
),
ranked AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, vec_id, ROUND(cos, 4) AS cos
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


def ivf_topk(embs: DataFrame, query_ids: list[int], k: int = 5,
             n_centroids: int = 16, nprobe: int = 2, n_iters: int = 2,
             dim: int | None = None,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """IVF-bucketed ANN. Centroids are Lloyd-trained (``ivf_centroids``,
    ``n_iters`` deterministic iterations from a vec_id-ordered seed);
    assignment and probing are cosine-nearest with vec_id/centroid-id
    tie-breaks. Results are approximate vs ``cosine_topk`` exactly when a
    true neighbor lives in an unprobed bucket — the classic IVF recall
    trade-off."""
    base = _with_norm(embs, vec_col, id_col)
    if n_iters > 0 and dim is None:
        dim = len(embs.select(vec_col).first()[0])
    cents = ivf_centroids(base, n_centroids, n_iters, dim or 0)
    assigned = _assign(base, cents)

    queries = base.filter(F.col("vec_id").isin(query_ids)) \
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    qcos = _dot_col(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    wprobe = Window.partitionBy("query_id").orderBy(
        F.desc("qcos"), F.asc("cent_id"))
    probes = (queries.crossJoin(F.broadcast(cents))
              .select("query_id", "qv", "qn", "cent_id", qcos.alias("qcos"))
              .withColumn("rn", F.row_number().over(wprobe))
              .filter(F.col("rn") <= nprobe)
              .select("query_id", "qv", "qn", "cent_id"))

    cand = probes.join(assigned, "cent_id") \
                 .filter(~F.col("vec_id").isin(query_ids))
    cos = _dot_col(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (cand.select("query_id", "vec_id", cos.alias("cos"))
            .distinct()
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "vec_id", F.round("cos", 4).alias("cos"))
            .orderBy("query_id", "rank"))


def ivf_topk_oracle_sql(query_ids: list[int], k: int = 5,
                        n_centroids: int = 16, nprobe: int = 2, dim: int = 64,
                        n_iters: int = 2,
                        table: str = "embeddings",
                        vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        train_where: str = "",
                        exclude_ids: list[int] | None = None,
                        exclude_queries: bool = True) -> str:
    """``train_where`` (e.g. ``"vec_id < 250"``): train centroids on that
    subset only — the oracle twin of IvfIndex.build + append (assignment
    and search still cover the FULL table). ``exclude_ids``: candidates
    removed from results but still present at training/assignment time —
    the oracle twin of IvfIndex.delete (tombstones, no retrain).
    ``exclude_queries=False``: the query set stays in the candidates —
    the twin of ``IvfIndex.search_vectors`` probing with vectors that
    happen to equal stored ones (each then ranks itself first)."""
    ids = ", ".join(str(i) for i in query_ids)
    excl = ""
    if exclude_queries:
        excl += f"    AND a.vec_id NOT IN ({ids})\n"
    if exclude_ids:
        excl += ("    AND a.vec_id NOT IN ("
                 + ", ".join(str(i) for i in exclude_ids) + ")\n")
    train_cte = ""
    train_table = "base"
    if train_where:
        train_cte = f"trainbase AS (SELECT * FROM base WHERE {train_where}),\n"
        train_table = "trainbase"
    return f"""
WITH base AS (
  SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS v,
         {NORM_SQL.format(a=f"{vec_col}::DOUBLE[]")} AS nrm
  FROM {table}
),
{train_cte}{ivf_centroids_sql(n_centroids, n_iters, dim, train_table)},
assigned AS (
  SELECT vec_id, v, nrm, cent_id FROM (
    SELECT b.vec_id, b.v, b.nrm, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
             ORDER BY {DOT_SQL.format(dim=dim, a='b.v', b='c.cv')} / (b.nrm * c.cn) DESC,
                      c.cent_id ASC) AS rn
    FROM base b, cents c)
  WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM base
      WHERE vec_id IN ({ids})),
probes AS (
  SELECT query_id, qv, qn, cent_id FROM (
    SELECT q.query_id, q.qv, q.qn, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY {DOT_SQL.format(dim=dim, a='q.qv', b='c.cv')} / (q.qn * c.cn) DESC,
                      c.cent_id ASC) AS rn
    FROM q, cents c)
  WHERE rn <= {nprobe}
),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id,
         {DOT_SQL.format(dim=dim, a='p.qv', b='a.v')} / (p.qn * a.nrm) AS cos
  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
  WHERE 1=1
{excl}),
ranked AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM cand
)
SELECT query_id, rank::BIGINT AS rank, vec_id, ROUND(cos, 4) AS cos
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


# ------------------------------------------------ persistent IVF index

class IvfIndex:
    """Persisted IVF ANN index: Lloyd-trained centroids + corpus vectors
    bucketed by nearest centroid, written as ``partitionBy("cent_id")``
    parquet. A probe query reads ONLY its nprobe buckets — Spark partition
    pruning on the directory layout, the ANN analogue of the BM25 term
    pushdown — so query cost is ~nprobe/n_centroids of the corpus,
    independent of total size. Train/assign once, query many times
    (``ivf_topk`` re-derives both per call and stays the ad-hoc path)."""

    def __init__(self, spark, path: str):
        import json as _json
        import os as _os
        self.spark = spark
        self.path = path
        with open(_os.path.join(path, "ivf_manifest.json")) as f:
            self.meta = _json.load(f)

    @staticmethod
    def build(spark, embs: DataFrame, path: str, n_centroids: int = 16,
              n_iters: int = 2, vec_col: str = "embedding",
              id_col: str = "vec_id",
              assign_method: str = "fold") -> "IvfIndex":
        import json as _json
        import os as _os
        base = _with_norm(embs, vec_col, id_col)
        dim = len(embs.select(vec_col).first()[0])
        cents = ivf_centroids(base, n_centroids, n_iters, dim,
                              assign_method=assign_method)
        cents.coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(path, "centroids"))
        assigned = _assign(base, cents, method=assign_method)
        (assigned.repartition("cent_id")
         .write.mode("overwrite").partitionBy("cent_id")
         .parquet(_os.path.join(path, "buckets")))
        IvfIndex._write_ids_sidecar(spark, assigned.select(
            "vec_id", "cent_id"), path, mode="overwrite")
        tmp = _os.path.join(path, "ivf_manifest.json.tmp")
        with open(tmp, "w") as f:
            _json.dump({"n_centroids": n_centroids, "n_iters": n_iters,
                        "dim": dim, "assign_method": assign_method,
                        "format_version": 1}, f)
        _os.replace(tmp, _os.path.join(path, "ivf_manifest.json"))
        return IvfIndex(spark, path)

    @staticmethod
    def _write_ids_sidecar(spark, pairs: DataFrame, path: str,
                           mode: str) -> None:
        """``ids/`` sidecar: (vec_id, cent_id), range-partitioned and
        sorted by vec_id so a point lookup reads only the file/row group
        whose vec_id range covers it (parquet min/max stats). This is the
        id -> bucket ROUTING structure serving replicas use instead of
        scanning every bucket's ids at startup (16 B/vector, columnar;
        appends add their own sorted chunk — still prunable)."""
        import os as _os
        par = max(spark.sparkContext.defaultParallelism // 4, 1)
        (pairs.repartitionByRange(par, "vec_id")
         .sortWithinPartitions("vec_id")
         .write.mode(mode).parquet(_os.path.join(path, "ids")))

    def _cents(self) -> DataFrame:
        import os as _os
        return self.spark.read.parquet(_os.path.join(self.path, "centroids"))

    def append(self, embs: DataFrame, vec_col: str = "embedding",
               id_col: str = "vec_id") -> int:
        """Append new vectors: assign each to its nearest EXISTING centroid
        and append into that bucket's partition directory (the standard IVF
        lifecycle — FAISS's ``add`` after ``train``). Centroids are NOT
        retrained, so recall can drift if the appended distribution differs
        from the training set; rebuild to retrain. Duplicate vec_ids are
        rejected loudly (they would double-count in search results).

        Scale shape: one broadcast-centroid assignment pass over the new
        vectors + an append-mode partitioned write — never touches existing
        bucket files. Returns the number of vectors appended."""
        import os as _os
        base = _with_norm(embs, vec_col, id_col)
        buckets = self.spark.read.parquet(_os.path.join(self.path, "buckets"))
        dup = (buckets.select("vec_id")
               .join(base.select("vec_id"), "vec_id").limit(1).collect())
        if dup:
            raise ValueError(
                f"vec_id {dup[0]['vec_id']} already present in the index; "
                "IvfIndex.append requires new ids")
        assigned = _assign(base, self._cents(),
                           method=self.meta.get("assign_method", "fold"))
        n = assigned.count()
        (assigned.repartition("cent_id")
         .write.mode("append").partitionBy("cent_id")
         .parquet(_os.path.join(self.path, "buckets")))
        if _os.path.isdir(_os.path.join(self.path, "ids")):
            # append the new ids as their own sorted chunk
            self._write_ids_sidecar(self.spark, assigned.select(
                "vec_id", "cent_id"), self.path, mode="append")
        else:
            # legacy artifact (pre-sidecar): backfill the full routing
            # table from the buckets so serving replicas stop scanning
            self._write_ids_sidecar(
                self.spark,
                self.spark.read.parquet(_os.path.join(self.path, "buckets"))
                .select("vec_id", "cent_id"),
                self.path, mode="overwrite")
        return n

    # ------------------------------------------------ delete / vacuum

    def _tombstones_path(self) -> str:
        import os as _os
        return _os.path.join(self.path, "tombstones.json")

    def tombstones(self) -> list[int]:
        import json as _json
        import os as _os
        p = self._tombstones_path()
        if not _os.path.exists(p):
            return []
        with open(p) as f:
            return _json.load(f)

    def delete(self, vec_ids: list[int]) -> int:
        """Tombstone vectors (Bm25Index.delete analogue): ids land in a
        driver-side sidecar and every search filters them out; the bucket
        files are untouched until :meth:`vacuum`. Returns the new tombstone
        count. Scale shape: the tombstone list stays k-sized (ids the user
        explicitly deleted), shipped as an isin filter — for crawl-scale
        deletes, vacuum instead."""
        import json as _json
        import os as _os
        dead = sorted(set(self.tombstones()) | {int(i) for i in vec_ids})
        tmp = self._tombstones_path() + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(dead, f)
        _os.replace(tmp, self._tombstones_path())
        return len(dead)

    def vacuum(self) -> int:
        """Rewrite ONLY the buckets containing tombstoned vectors, dropping
        dead rows, then clear the tombstone list. Untouched buckets'
        parquet files are left as-is (partition-directory granularity —
        the IVF analogue of segment-level reclamation)."""
        import os as _os
        import shutil as _shutil
        dead = self.tombstones()
        if not dead:
            return 0
        root = _os.path.join(self.path, "buckets")
        buckets = self.spark.read.parquet(root)
        hit = [int(r["cent_id"]) for r in
               buckets.filter(F.col("vec_id").isin(dead))
               .select("cent_id").distinct().collect()]
        for cid in hit:
            part = _os.path.join(root, f"cent_id={cid}")
            alive = (self.spark.read.parquet(part)
                     .filter(~F.col("vec_id").isin(dead)))
            tmp = part + ".vacuum"
            if _os.path.exists(tmp):
                _shutil.rmtree(tmp)
            alive.coalesce(1).write.mode("overwrite").parquet(tmp)
            _shutil.rmtree(part)
            _os.rename(tmp, part)
        # routing sidecar: rewrite from the (now dead-free) buckets —
        # vec_id/cent_id only, column-pruned scan; tmp + swap
        ids_dir = _os.path.join(self.path, "ids")
        ids_tmp = ids_dir + ".vacuum"
        if _os.path.exists(ids_tmp):
            _shutil.rmtree(ids_tmp)
        pairs = (self.spark.read.parquet(root)
                 .select("vec_id", "cent_id"))
        par = max(self.spark.sparkContext.defaultParallelism // 4, 1)
        (pairs.repartitionByRange(par, "vec_id")
         .sortWithinPartitions("vec_id")
         .write.mode("overwrite").parquet(ids_tmp))
        if _os.path.isdir(ids_dir):
            _shutil.rmtree(ids_dir)
        _os.rename(ids_tmp, ids_dir)
        _os.remove(self._tombstones_path())
        return len(hit)

    def retrain(self, n_centroids: int | None = None,
                n_iters: int | None = None) -> "IvfIndex":
        """Re-run Lloyd on the current ALIVE vectors and rebuild the bucket
        layout in place (tmp + swap) — the recall-restoring step after many
        appends drifted the distribution away from the training set."""
        import os as _os
        import shutil as _shutil
        nc = n_centroids or self.meta["n_centroids"]
        ni = n_iters or self.meta["n_iters"]
        alive = self._alive_buckets().select("vec_id", "v", "nrm")
        tmp = self.path + f".retrain-{_os.getpid()}"
        if _os.path.exists(tmp):
            _shutil.rmtree(tmp)
        IvfIndex.build(self.spark, alive.withColumnRenamed("v", "embedding"),
                       tmp, n_centroids=nc, n_iters=ni,
                       assign_method=self.meta.get("assign_method", "fold"))
        final_old = self.path + ".old"
        if _os.path.exists(final_old):
            _shutil.rmtree(final_old)
        _os.rename(self.path, final_old)
        _os.rename(tmp, self.path)
        _shutil.rmtree(final_old)
        return IvfIndex(self.spark, self.path)

    def _alive_buckets(self) -> DataFrame:
        import os as _os
        buckets = self.spark.read.parquet(_os.path.join(self.path, "buckets"))
        dead = self.tombstones()
        if dead:
            buckets = buckets.filter(~F.col("vec_id").isin(dead))
        return buckets

    def _probe_queries(self, queries: DataFrame, k: int, nprobe: int,
                       exclude_ids: list[int] | None) -> DataFrame:
        """Shared IVF probe: queries(query_id, qv, qn) -> per-query top-k
        (query_id, rank, vec_id, cos) over the ``nprobe`` nearest-centroid
        buckets; tombstoned vectors never match."""
        buckets = self._alive_buckets()
        cents = self._cents()
        qcos = _dot_col(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        wprobe = Window.partitionBy("query_id").orderBy(
            F.desc("qcos"), F.asc("cent_id"))
        probes = (queries.crossJoin(F.broadcast(cents))
                  .select("query_id", "qv", "qn", "cent_id",
                          qcos.alias("qcos"))
                  .withColumn("rn", F.row_number().over(wprobe))
                  .filter(F.col("rn") <= nprobe)
                  .select("query_id", "qv", "qn", "cent_id"))
        probe_ids = [int(r["cent_id"])
                     for r in probes.select("cent_id").distinct().collect()]
        # partition pruning: cent_id is a directory column, so this filter
        # prunes whole buckets at the file-listing level
        cand_src = buckets.filter(F.col("cent_id").isin(probe_ids))
        cand = F.broadcast(probes).join(cand_src, "cent_id")
        if exclude_ids:
            cand = cand.filter(~F.col("vec_id").isin(exclude_ids))
        cos = _dot_col(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
        w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                                   F.asc("vec_id"))
        return (cand.select("query_id", "vec_id", cos.alias("cos"))
                .distinct()
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", F.col("rank").cast("long").alias("rank"),
                        "vec_id", F.round("cos", 4).alias("cos"))
                .orderBy("query_id", "rank"))

    def search_ids(self, query_ids: list[int], k: int = 5,
                   nprobe: int = 2) -> DataFrame:
        """Top-k neighbors for query vectors drawn from the index by id
        (query ids excluded from results — same contract/tie-breaks as
        ``ivf_topk``, so the same oracle SQL applies; tombstoned vectors
        never match)."""
        queries = (self._alive_buckets()
                   .filter(F.col("vec_id").isin(query_ids))
                   .select(F.col("vec_id").alias("query_id"),
                           F.col("v").alias("qv"), F.col("nrm").alias("qn")))
        return self._probe_queries(queries, k, nprobe,
                                   exclude_ids=query_ids)

    def search_vectors(self, qdf: DataFrame, k: int = 5, nprobe: int = 2,
                       query_id_col: str = "query_id",
                       vec_col: str = "qv") -> DataFrame:
        """Top-k neighbors for ARBITRARY query vectors NOT in the index —
        the production ANN serving shape (a freshly-embedded query or
        document probes its neighbors). No exclusion: an exact duplicate
        of a stored vector ranks first at cos 1.0. Same output contract
        and tie rules as :meth:`search_ids`; driver-side twin is
        ``LocalAnnSearcher.search_vector``."""
        queries = (qdf.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"))
            # zero-vector queries clamp like _with_norm / LocalAnnSearcher
            .withColumn("qn", F.greatest(_norm_col(F.col("qv")),
                                         F.lit(1e-30))))
        return self._probe_queries(queries, k, nprobe, exclude_ids=None)

    def serving(self, cache_buckets: int = 64) -> "LocalAnnSearcher":
        """Driver-local ANN serving over this index's artifacts — point
        lookups in milliseconds, no Spark job (the IVF counterpart of
        Bm25Index.serving())."""
        return LocalAnnSearcher(self.path, cache_buckets=cache_buckets)


class LocalAnnSearcher:
    """Serve IVF ANN queries from a built IvfIndex directory, in-process.

    The artifacts are plain parquet (broadcastable centroids +
    ``cent_id=N`` partition directories), so a serving replica probes
    with numpy: centroid scan is O(n_centroids x dim), then ONLY the
    nprobe bucket directories are read (same pruning the Spark path gets
    from partition discovery), each cached as a dense float64 matrix in
    a bounded LRU. Result contract, tie rules and rounding are pinned
    identical to ``IvfIndex.search_ids`` in tests/test_serve.py.
    """

    def __init__(self, path: str, cache_buckets: int = 64):
        import json as _json
        import os as _os
        self.path = path
        self.cache_buckets = int(cache_buckets)
        with open(_os.path.join(path, "ivf_manifest.json")) as f:
            self.meta = _json.load(f)
        import numpy as np
        import pyarrow.dataset as pds
        cdir = _os.path.join(path, "centroids")
        ct = pds.dataset([_os.path.join(cdir, f)
                          for f in sorted(_os.listdir(cdir))
                          if f.endswith(".parquet")]).to_table()
        order = np.argsort(ct["cent_id"].to_numpy())
        self.cent_ids = ct["cent_id"].to_numpy()[order]
        self.cents = np.vstack([np.asarray(x, dtype=np.float64)
                                for x in ct["cv"].to_pylist()])[order]
        self.cent_norms = ct["cn"].to_numpy()[order]
        self._buckets: "OrderedDict[int, tuple]" = __import__(
            "collections").OrderedDict()
        # id -> bucket routing: resolved LAZILY per query batch from the
        # range-sorted ids/ sidecar (a filtered point read — file/row-group
        # stats prune to the chunk covering the id), cached per replica.
        # Replica startup therefore costs O(centroids), independent of
        # corpus size (round 4 materialized a full vec_id->bucket dict by
        # scanning every bucket's ids — O(corpus) driver memory and I/O).
        # Legacy artifacts without the sidecar fall back to that full scan
        # ONCE, on first use rather than in __init__.
        self._id_bucket: dict[int, int] = {}
        ids_dir = _os.path.join(path, "ids")
        self._ids_dir = ids_dir if _os.path.isdir(ids_dir) else None
        self._legacy_loaded = False
        self._tomb_mtime = None
        self._tomb: set[int] = set()

    def _resolve_buckets(self, qids: list) -> None:
        """Fill the routing cache for the given vec_ids (one filtered
        sidecar read for all misses; absent ids stay unmapped)."""
        import os as _os
        import pyarrow.dataset as pds
        missing = [int(q) for q in qids if int(q) not in self._id_bucket]
        if not missing:
            return
        if self._ids_dir is not None:
            t = (pds.dataset(self._ids_dir)
                 .to_table(filter=pds.field("vec_id").isin(missing)))
            for v, c in zip(t["vec_id"].to_pylist(),
                            t["cent_id"].to_pylist()):
                self._id_bucket[int(v)] = int(c)
            return
        if self._legacy_loaded:
            return
        bdir = _os.path.join(self.path, "buckets")
        for d in sorted(_os.listdir(bdir)):
            if not d.startswith("cent_id="):
                continue
            cid = int(d.split("=", 1)[1])
            files = [_os.path.join(bdir, d, f)
                     for f in sorted(_os.listdir(_os.path.join(bdir, d)))
                     if f.endswith(".parquet")]
            ids = pds.dataset(files).to_table(columns=["vec_id"])
            for i in ids["vec_id"].to_numpy():
                self._id_bucket[int(i)] = cid
        self._legacy_loaded = True

    def _bucket(self, cid: int):
        """(vec_ids, matrix, norms) for one bucket, LRU-cached."""
        import os as _os
        import numpy as np
        import pyarrow.dataset as pds
        got = self._buckets.get(cid)
        if got is not None:
            self._buckets.move_to_end(cid)
            return got
        d = _os.path.join(self.path, "buckets", f"cent_id={cid}")
        t = pds.dataset([_os.path.join(d, f) for f in sorted(_os.listdir(d))
                         if f.endswith(".parquet")]).to_table()
        ids = t["vec_id"].to_numpy()
        # fixed-dim list column -> flat values + reshape (one Arrow-to-
        # numpy copy; the per-row to_pylist/vstack form cost ~170 ms per
        # 4 k-vector bucket and dominated cold probes at 1 M vectors)
        va = t["v"].combine_chunks()
        try:
            mat = (va.flatten().to_numpy(zero_copy_only=False)
                   .astype(np.float64).reshape(len(ids), -1))
        except ValueError:          # ragged rows — fall back
            mat = np.vstack([np.asarray(x, dtype=np.float64)
                             for x in va.to_pylist()])
        nrm = t["nrm"].to_numpy()
        order = np.argsort(ids)
        got = (ids[order], mat[order], nrm[order])
        self._buckets[cid] = got
        while len(self._buckets) > self.cache_buckets:
            self._buckets.popitem(last=False)
        return got

    def _tombstones(self) -> set:
        import json as _json
        import os as _os
        p = _os.path.join(self.path, "tombstones.json")
        mt = _os.path.getmtime(p) if _os.path.exists(p) else None
        if mt != self._tomb_mtime:
            self._tomb = set(_json.load(open(p))) if mt else set()
            self._tomb_mtime = mt
        return self._tomb

    def search_vector(self, qv, k: int = 5, nprobe: int = 2,
                      exclude_ids: tuple = ()) -> "pd.DataFrame":
        """Top-k cosine neighbors of an arbitrary query vector:
        (rank, vec_id, cos), ties vec_id ASC, cos rounded to 4 after
        ranking — the search_ids contract."""
        import numpy as np
        import pandas as pd
        qv = np.asarray(qv, dtype=np.float64)
        qn = float(np.sqrt((qv * qv).sum())) or 1e-30
        ccos = (self.cents @ qv) / (self.cent_norms * qn)
        probe_sel = np.lexsort((self.cent_ids, -ccos))[:nprobe]
        tomb = self._tombstones()
        ids_l, cos_l = [], []
        for cid in self.cent_ids[probe_sel]:
            ids, mat, nrm = self._bucket(int(cid))
            cos = (mat @ qv) / (nrm * qn)
            ids_l.append(ids)
            cos_l.append(cos)
        ids = np.concatenate(ids_l)
        cos = np.concatenate(cos_l)
        mask = np.ones(ids.size, dtype=bool)
        if exclude_ids:
            mask &= ~np.isin(ids, np.asarray(list(exclude_ids)))
        if tomb:
            mask &= ~np.isin(ids, np.fromiter(tomb, dtype=np.int64))
        ids, cos = ids[mask], cos[mask]
        sel = np.lexsort((ids, -cos))[:k]
        return pd.DataFrame({
            "rank": np.arange(1, sel.size + 1, dtype=np.int64),
            "vec_id": ids[sel],
            "cos": np.round(cos[sel], 4)})

    def search_ids(self, query_ids: list, k: int = 5,
                   nprobe: int = 2) -> "pd.DataFrame":
        """Driver-local twin of ``IvfIndex.search_ids``: same columns
        (query_id, rank, vec_id, cos), same order."""
        import numpy as np
        import pandas as pd
        tomb = self._tombstones()
        self._resolve_buckets([q for q in query_ids if q not in tomb])
        parts = []
        for qid in query_ids:
            if qid in tomb or qid not in self._id_bucket:
                continue
            ids, mat, nrm = self._bucket(self._id_bucket[qid])
            pos = int(np.searchsorted(ids, qid))
            if pos >= ids.size or int(ids[pos]) != int(qid):
                continue    # stale routing entry (id gone from bucket)
            out = self.search_vector(mat[pos], k=k, nprobe=nprobe,
                                     exclude_ids=tuple(query_ids))
            out.insert(0, "query_id", qid)
            parts.append(out)
        if not parts:
            return pd.DataFrame({"query_id": pd.Series(dtype="int64"),
                                 "rank": pd.Series(dtype="int64"),
                                 "vec_id": pd.Series(dtype="int64"),
                                 "cos": pd.Series(dtype="float64")})
        return (pd.concat(parts, ignore_index=True)
                .sort_values(["query_id", "rank"], kind="mergesort")
                .reset_index(drop=True))
