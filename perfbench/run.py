#!/usr/bin/env python3
"""pg_textsearch_spark benchmark: serving, Spark query and write paths,
checked against a DuckDB BM25 twin.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 10 --trace 0

Run it from the repository root. Each run generates its corpus and query
streams from ``--seed``, builds its indexes through the public API in a
``local[nproc]`` Spark session, exercises the Spark query and write paths,
stops Spark, then drives a closed loop (one client) against a
``LocalSearcher`` replica for ``--seconds`` seconds. Results are checked
after the timed windows. The last stdout line is one JSON object; see
perfbench/README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
from tracing import Tracer, read_event_log  # noqa: E402

K = 10
N_DOCS = 6_000             # served corpus
N_FILES = 8                 # parquet files of the served corpus
WRITE_BATCH = 4             # docs per append batch (L0 segment size)
FANIN = 2                   # segments_per_level of the appendable index
N_REPLICAS = 5              # replicas that see every commit
SETUP_REPS = 7
SPARK_SINGLE = 3            # Spark searches on the served index
SPARK_BATCHES = 2           # Spark search_batch calls on the served index
SPARK_BATCH_SIZE = 16
SERVE_BATCH_SIZE = 32
N_CHECKED = 40              # served queries checked against the oracle
MIN_OPS = 200               # single queries a run makes at least: p95 then
                            # has >= 10 samples beyond it
CONTROL_EVERY_S = 0.1       # control_sample() interval while serving
# About the median control_sample() time (CPU seconds) in the serving loop
# on the 4-core machine the reference figures were measured on; the CPU
# metrics are scaled to it
REF_CONTROL_S = 0.0055

WORKLOADS = {
    # id column -> identity layout, several segments (one level's fan-in
    # minus one), head-term mix smaller than the term LRU
    "serve_hot": {"id_col": "doc_id", "num_segments": 7,
                  "cache_terms": 4096, "resolve": False},
    # default build (hashed ids -> length-ordered layout), one segment,
    # Zipf stream over the whole vocabulary, LRU far below its term count
    "serve_cold": {"id_col": None, "num_segments": 1,
                   "cache_terms": 256, "resolve": True},
}


def hw_control() -> float:
    """Median of 20 CPU-control samples, taken before and after every run:
    a post/pre ratio above 1.5 marks the run dirty (the host slowed down
    during it)."""
    return statistics.median(control_sample() for _ in range(20))


_CTRL_RNG = np.random.default_rng(0)
_CTRL_ARR = _CTRL_RNG.random(4096)
_CTRL_DICT = {int(k): float(k) for k in _CTRL_RNG.integers(0, 1 << 40,
                                                             100_000)}
_CTRL_KEYS = list(_CTRL_DICT)[::14]


def control_sample() -> float:
    """One :func:`cpu_control` reading, taken on its second back-to-back
    run, so the control's data is in cache whatever the engine touched
    before it."""
    cpu_control()
    return cpu_control()


def cpu_control() -> float:
    """Process CPU seconds of a fixed single-thread mix of the kinds of work
    a served query does: interpreter-bound dict and list code, lookups in a
    large dict (cache misses), small-array numpy and a small pandas frame.
    It uses no engine code, so a change to the engine cannot move it; a
    slower or busier host moves it and the served queries alike. The
    garbage collector is held off while it runs: a collection would make
    the control's cost follow the size of the engine's heap."""
    gc.disable()
    c0 = time.process_time()
    acc = 0.0
    for key in _CTRL_KEYS:
        acc += _CTRL_DICT[key]
    rows = [{"t": i % 97, "v": i} for i in range(1000)]
    rows.sort(key=lambda r: (r["t"], r["v"]))
    a = _CTRL_ARR
    for _ in range(10):
        top = np.partition(a, a.size - 10)[-10:]
        o = np.lexsort((a[:512], -np.round(a[512:1024], 2)))
        a = np.concatenate([a[10:], top])
    pd.DataFrame({"doc_id": o[:10], "score": top}).sort_values("score")
    dt = time.process_time() - c0
    gc.enable()
    return dt


def scale_by_window(cpu, marks) -> np.ndarray:
    """CPU times (s) of a phase's timed calls, scaled to REF_CONTROL_S.
    ``marks`` holds (calls made so far, control sample) for each control
    sample; a call is scaled by the sample that ends its window. The host's
    speed moves within a run (the control's quartile distance inside one
    loop was 0.4-1.9 ms of about 5 ms), so a call is paired with the
    control taken beside it rather than with the phase's median."""
    f = np.empty(len(cpu))
    prev = 0
    for n_at, v in marks:
        f[prev:n_at] = v
        prev = n_at
    return np.asarray(cpu) * REF_CONTROL_S / f


def rss_mb() -> float:
    """Current resident set size of this process."""
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


class Spark:
    """The run's Spark session; :meth:`stop` ends the JVM and waits."""

    def __init__(self, work: str, event_dir: str | None):
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        conf = [f"--driver-java-options '-Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}'",
                f"--conf spark.local.dir={local}",
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'wh')}",
                "--conf spark.ui.showConsoleProgress=false"]
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            conf += ["--conf spark.eventLog.enabled=true",
                     f"--conf spark.eventLog.dir=file://{event_dir}",
                     "--conf spark.eventLog.compress=false",
                     "--conf spark.eventLog.rolling.enabled=false"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])
        os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
        from pg_textsearch_spark.spark_utils import get_spark
        self.session = get_spark("perfbench", cpus=os.cpu_count() or 1)
        self.session.sparkContext.setLogLevel("ERROR")

    def group(self, name: str) -> None:
        self.session.sparkContext.setJobGroup(name, name)

    def stop(self) -> None:
        from pyspark import SparkContext
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        self.session.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def query_sets(corpus: gen.Corpus, seed: int, workload: str):
    """(timed queries, warm-up queries) as (text, mode) lists."""
    terms, _df = corpus.df_ranked_terms()
    rng = np.random.default_rng([seed, 99])
    if workload == "serve_hot":
        # head terms (the 1000 highest-df terms, inside the 4096-term
        # LRU), 2-4 terms a query, every fifth query 'and'. The mix is
        # stratified so its make-up is the same for every seed: term counts
        # and modes cycle by position, and each term slot covers the rank
        # band evenly (one draw per 1/n of the band).
        n, band = 600, 1000
        slots = [(rng.permutation(n) + rng.random(n)) / n * band
                 for _ in range(4)]
        mix = []
        for i in range(n):
            picked: list[str] = []
            for j in range(2 + i % 3):
                r = int(slots[j][i])
                while terms[r] in picked:
                    r = (r + 1) % band
                picked.append(str(terms[r]))
            mix.append((" ".join(picked), "and" if i % 5 == 4 else "or"))
        return mix, mix
    stream = gen.query_stream(terms, rng, 20_000)
    return stream[150:], stream[:150]


class Run:
    def __init__(self, args, work: str):
        self.a = args
        self.work = work
        self.cfg = WORKLOADS[args.workload]
        self.trace = Tracer() if args.trace else None
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, tuple[float, str]] = {}

    def op(self, fn, *args, **kwargs):
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:       # counted, reported, run continues
            self.failed += 1
            print(f"operation failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
            return None

    def span(self, name: str):
        return self.trace.span(name) if self.trace else nullcontext()

    # -- inputs ---------------------------------------------------------------
    def make_inputs(self) -> None:
        seed = self.a.seed
        self.corpus = gen.make_corpus(N_DOCS, seed)
        self.corpus_dir = os.path.join(self.work, "corpus")
        gen.write_parquet(self.corpus, self.corpus_dir, N_FILES)
        self.text_bytes = sum(len(t) for t in self.corpus.text)
        self.queries, self.warm = query_sets(self.corpus, seed,
                                             self.a.workload)
        # appendable index: base batch + two appends + one delete
        self.wbatches = []
        wtext = []
        for i in range(3):
            c = gen.make_corpus(WRITE_BATCH, seed,
                                id_offset=1_000_000 + i * WRITE_BATCH)
            d = os.path.join(self.work, f"wbatch{i}")
            gen.write_parquet(c, d, 1)
            self.wbatches.append(d)
            wtext += c.text
        self.wtext_len = np.asarray([len(t) for t in wtext])
        wc_terms = sorted({w for t in wtext for w in t.split()})
        rng = np.random.default_rng([seed, 5])
        self.wqueries = [" ".join(rng.choice(wc_terms, 2, replace=False))
                         for _ in range(N_REPLICAS)]

    # -- Spark phases ---------------------------------------------------------
    def spark_phases(self) -> None:
        from pg_textsearch_spark.config import Bm25Options
        from pg_textsearch_spark.index.build import Bm25Index
        from pg_textsearch_spark.index.query import search_batch
        ev = os.path.join(self.work, "eventlog") if self.trace else None
        sp = Spark(self.work, ev)
        self.sp = sp
        spark = sp.session
        try:
            if self.trace:
                self.install_driver_wraps()
            # untimed warm-up (JVM, Python workers, codegen): the appendable
            # index's base build and its first queries
            self.open_write_index(sp, Bm25Index, Bm25Options)
            docs = spark.read.parquet(self.corpus_dir)
            sp.group("build")
            self.idx_path = os.path.join(self.work, "idx")
            t0 = time.perf_counter()
            with self.span("build"):
                idx = self.op(Bm25Index.build, spark, docs, "text",
                              self.idx_path, id_col=self.cfg["id_col"],
                              opts=Bm25Options(text_config="simple"),
                              num_segments=self.cfg["num_segments"])
            self.build_s = time.perf_counter() - t0
            # the Spark metrics come from the served index only: the
            # post-commit Spark queries below run on a tiny index and would
            # make the medians bimodal
            self.spark_lat, self.spark_batch_rate = [], []
            self.spark_res = {}
            sp.group("spark_query")
            for i in range(SPARK_SINGLE):
                q, mode = self.queries[i]
                t0 = time.perf_counter()
                with self.span("spark.search"):
                    pdf = self.op(lambda: idx.search(q, k=K, mode=mode)
                                  .toPandas())
                self.spark_lat.append(time.perf_counter() - t0)
                self.spark_res[i] = pdf
            self.spark_batch_res = []
            for j in range(SPARK_BATCHES):
                qs = [q for q, m in self.queries[j * SPARK_BATCH_SIZE:]
                      if m == "or"][:SPARK_BATCH_SIZE]
                t0 = time.perf_counter()
                with self.span("spark.search_batch"):
                    pdf = self.op(lambda: search_batch(idx, qs, k=K)
                                  .toPandas())
                dt = time.perf_counter() - t0
                self.spark_batch_rate.append(len(qs) / dt)
                self.spark_batch_res.append((qs, pdf))
            self.write_phase(sp, Bm25Index, Bm25Options, search_batch)
        finally:
            sp.stop()
        if self.trace:
            logs = [os.path.join(ev, f) for f in os.listdir(ev)]
            self.events = read_event_log(logs[0])

    def open_write_index(self, sp, Bm25Index, Bm25Options) -> None:
        """Build the appendable index from the base batch and open the
        replicas that will see every commit."""
        from pg_textsearch_spark.index.serve import LocalSearcher
        spark = sp.session
        sp.group("warmup")
        self.wpath = os.path.join(self.work, "widx")
        self.widx = Bm25Index.build(
            spark, spark.read.parquet(self.wbatches[0]), "text", self.wpath,
            id_col="doc_id",
            opts=Bm25Options(text_config="simple", segments_per_level=FANIN),
            num_segments=1)
        self.widx.search(self.wqueries[0], k=K).toPandas()
        self.replicas = [LocalSearcher(self.wpath) for _ in range(N_REPLICAS)]
        for r, q in zip(self.replicas, self.wqueries):
            r.search(q, k=K)

    def write_phase(self, sp, Bm25Index, Bm25Options, search_batch) -> None:
        spark = sp.session
        widx, replicas = self.widx, self.replicas
        self.fresh, self.fresh_cpu, self.append_s = [], [], []
        self.write_checks = []
        self.deleted = np.empty(0, np.int64)
        self.merges = 0
        commits = [("append", 1), ("append", 2), ("delete", None)]
        for kind, arg in commits:
            if kind == "append":
                sp.group("append")
                before = len(widx.manifest.segments)
                t0 = time.perf_counter()
                with self.span("append"):
                    self.op(widx.append, spark.read.parquet(self.wbatches[arg]),
                            "text", "doc_id")
                self.append_s.append(time.perf_counter() - t0)
                if len(widx.manifest.segments) <= before:
                    self.merges += 1
            else:
                sp.group("delete")
                # tombstone the current top hit of each replica query
                victims = set()
                for q in self.wqueries:
                    got = replicas[0].search(q, k=K)
                    if len(got):
                        victims.add(int(got["doc_id"].iloc[0]))
                self.deleted = np.asarray(sorted(victims), np.int64)
                with self.span("delete"):
                    self.op(widx.delete, self.deleted.tolist())
            for r, q in zip(replicas, self.wqueries):
                c0 = time.process_time()
                t0 = time.perf_counter()
                with self.span("fresh_query"):
                    res = self.op(r.search, q, k=K)
                self.fresh.append(time.perf_counter() - t0)
                self.fresh_cpu.append(time.process_time() - c0)
                self.write_checks.append(("replica", q, res, kind))
            sp.group("spark_query")
            q = self.wqueries[len(self.write_checks) % N_REPLICAS]
            with self.span("spark.search"):
                pdf = self.op(lambda: widx.search(q, k=K).toPandas())
            self.write_checks.append(("spark", q, pdf, kind))
            if kind == "delete":
                with self.span("spark.search_batch"):
                    bpdf = self.op(lambda: search_batch(
                        widx, self.wqueries, k=K).toPandas())
                self.write_checks.append(("spark_batch", None, bpdf, kind))
                self.write_checks.append(("replica_batch", None,
                                          replicas[-1].search_batch(
                                              self.wqueries, k=K), kind))

    # -- serving ----------------------------------------------------------------
    def serve_op(self, s, q: str, mode: str):
        res = s.search(q, k=K, mode=mode)
        if self.cfg["resolve"]:
            res = s.resolve(res, cols=("src_doc_id",))
        return res

    def serving(self) -> None:
        """Replica set-up, then the closed loop: single queries for 60 % of
        ``--seconds`` (at least MIN_OPS of them), then ``search_batch``.
        The CPU control is sampled every CONTROL_EVERY_S and the RSS with
        it, outside the timed calls."""
        from pg_textsearch_spark.index.serve import LocalSearcher
        cache = self.cfg["cache_terms"]
        gc.collect()
        self.rss_base = rss_mb()
        rss_peak = self.rss_base
        ctrl = {"single": [], "batch": []}     # (calls so far, sample)
        setup = []
        for _ in range(SETUP_REPS):
            c0 = time.process_time()
            s = LocalSearcher(self.idx_path, cache_terms=cache)
            for q, mode in self.warm[:10]:
                self.serve_op(s, q, mode)
            setup.append(time.process_time() - c0)
        self.setup_cpu_s = statistics.median(setup)
        # untimed warm-up: batched calls fetch the mix's terms a hundred
        # queries at a time (one scan each), then every query runs once
        warm_q = [q for q, _ in self.warm]
        for j in range(0, len(warm_q), 100):
            s.search_batch(warm_q[j:j + 100], k=K)
        for q, mode in self.warm:
            self.serve_op(s, q, mode)
        self.searcher = s
        budget_single = 0.6 * self.a.seconds
        lat, cpu, keep = [], [], {}
        i, n_q = 0, len(self.queries)
        t_end = time.perf_counter() + budget_single
        t_ctrl = time.perf_counter()
        while True:
            q, mode = self.queries[i % n_q]
            c0 = time.process_time()
            t0 = time.perf_counter()
            with self.span("op"):
                res = self.op(self.serve_op, s, q, mode)
            t1 = time.perf_counter()
            cpu.append(time.process_time() - c0)
            lat.append(t1 - t0)
            if i < N_CHECKED:
                keep[i] = res
            i += 1
            if t1 >= t_ctrl:
                ctrl["single"].append((len(cpu), control_sample()))
                rss_peak = max(rss_peak, rss_mb())
                t_ctrl = time.perf_counter() + CONTROL_EVERY_S
            if t1 >= t_end and i >= MIN_OPS:
                break
        ctrl["single"].append((len(cpu), control_sample()))
        self.lat, self.cpu, self.keep = lat, cpu, keep
        self.single_wall = sum(lat)
        or_q = [q for q, m in self.queries if m == "or"]
        nb, j = 0, 0
        batch_wall, batch_cpu = 0.0, []
        self.batch_keep = None
        t_end = time.perf_counter() + (self.a.seconds - budget_single)
        while True:
            qs = [or_q[(j + x) % len(or_q)] for x in range(SERVE_BATCH_SIZE)]
            c0 = time.process_time()
            t0 = time.perf_counter()
            with self.span("batch_op"):
                res = self.op(s.search_batch, qs, k=K)
            t1 = time.perf_counter()
            batch_cpu.append(time.process_time() - c0)
            batch_wall += t1 - t0
            if self.batch_keep is None:
                self.batch_keep = (qs, res)
            j += SERVE_BATCH_SIZE
            nb += 1
            if t1 >= t_ctrl:
                ctrl["batch"].append((nb, control_sample()))
                rss_peak = max(rss_peak, rss_mb())
                t_ctrl = time.perf_counter() + CONTROL_EVERY_S
            if t1 >= t_end:
                break
        ctrl["batch"].append((nb, control_sample()))
        self.n_batches = nb
        self.batch_rate = nb * SERVE_BATCH_SIZE / batch_wall
        self.cpu_scaled = scale_by_window(self.cpu, ctrl["single"])
        self.batch_cpu_rate = nb * SERVE_BATCH_SIZE / scale_by_window(
            batch_cpu, ctrl["batch"]).sum()
        self.control_s = {ph: statistics.median(v for _, v in m)
                          for ph, m in ctrl.items()}
        self.rss_peak = max(rss_peak, rss_mb())

    # -- correctness --------------------------------------------------------------
    def verify(self) -> None:
        s = self.searcher
        oracle = check.Oracle(os.path.join(self.corpus_dir, "*.parquet"))
        try:
            for i, res in self.keep.items():
                q, mode = self.queries[i]
                o_ids, o_sc = oracle.ranking(q, mode)
                if self.cfg["resolve"]:
                    res = res.sort_values(["score", "src_doc_id"],
                                          ascending=[False, True])
                    ids = res["src_doc_id"].to_numpy()
                else:
                    ids = res["doc_id"].to_numpy()
                check.compare(ids, res["score"].to_numpy(), o_ids, o_sc, K,
                              not self.cfg["resolve"], f"served query {i}")
            # Spark search / search_batch vs the replica (internal ids)
            for i, pdf in self.spark_res.items():
                q, mode = self.queries[i]
                mine = s.search(q, k=K, mode=mode)
                check.same_results(pdf["doc_id"], pdf["score"],
                                   mine["doc_id"], mine["score"],
                                   f"spark search {i}")
            for qs, pdf in self.spark_batch_res + [self.batch_keep]:
                mine = s.search_batch(qs, k=K)
                check.same_results(pdf["doc_id"], pdf["score"],
                                   mine["doc_id"], mine["score"],
                                   "search_batch")
                for qi in range(0, len(qs), 8):
                    one = s.search(qs[qi], k=K)
                    sub = mine[mine["query_id"] == qi]
                    check.same_results(one["doc_id"], one["score"],
                                       sub["doc_id"], sub["score"],
                                       "search_batch vs search")
            # resolve() on every workload, so the traced run reports
            # serve.resolve_ms on serve_hot too (identity layout: a no-op map)
            s.resolve(s.search(self.queries[0][0], k=K))
        finally:
            oracle.close()
        self.verify_writes()

    def verify_writes(self) -> None:
        """Replica == Spark after every commit; after the delete, every
        result equals the pre-delete oracle list minus the deleted ids."""
        import pandas as pd
        wdir = os.path.join(self.work, "wall")
        os.makedirs(wdir, exist_ok=True)
        parts = [pd.read_parquet(d) for d in self.wbatches]
        pd.concat(parts).to_parquet(os.path.join(wdir, "all.parquet"))
        oracle = check.Oracle(os.path.join(wdir, "*.parquet"))
        try:
            final = [(k_, q, r) for k_, q, r, c in self.write_checks
                     if c == "delete"]
            rep = {q: r for k_, q, r in final if k_ == "replica"}
            for k_, q, r in final:
                if k_ == "replica":
                    o_ids, o_sc = oracle.ranking(q)
                    check.compare(r["doc_id"], r["score"], o_ids, o_sc, K,
                                  True, "replica after delete",
                                  deleted=self.deleted)
                elif k_ == "spark":
                    mine = rep[q]
                    check.same_results(r["doc_id"], r["score"],
                                       mine["doc_id"], mine["score"],
                                       "spark vs replica after delete")
                else:
                    if np.isin(r["doc_id"].to_numpy(), self.deleted).any():
                        raise check.CheckFailed(f"{k_}: deleted id returned")
            # after every append: replica == Spark on the same query
            reps = {}
            for k_, q, r, c in self.write_checks:
                if c != "append":
                    continue
                if k_ == "replica":
                    reps[q] = r
                else:
                    check.same_results(r["doc_id"], r["score"],
                                       reps[q]["doc_id"], reps[q]["score"],
                                       "spark vs replica after append")
                    reps = {}
            sb = [r for k_, _, r in final if k_ == "spark_batch"][0]
            rb = [r for k_, _, r in final if k_ == "replica_batch"][0]
            check.same_results(sb["doc_id"], sb["score"], rb["doc_id"],
                               rb["score"], "batch after delete")
        finally:
            oracle.close()
        if self.merges < 1:
            raise check.CheckFailed("no tiered compaction happened")

    # -- tracing -----------------------------------------------------------------
    def install_driver_wraps(self) -> None:
        """Spans on driver-side entry points. Safe while Spark runs: none
        of these is shipped to executors."""
        from pg_textsearch_spark.index import manifest, merge, query, serve
        from pg_textsearch_spark.index.build import Bm25Index
        tr = self.trace
        S = serve.LocalSearcher
        tr.wrap(manifest.Manifest, "save", "manifest.save")
        tr.wrap(manifest.Manifest, "load", "manifest.load")
        tr.wrap(S, "refresh", "serve.refresh",
                after=lambda rec, a, out: rec[5].update(reloaded=bool(out)))
        tr.wrap(S, "_tombstones", "serve.tombstones")
        tr.wrap(S, "resolve", "serve.resolve")
        tr.wrap(S, "search", "serve.search",
                after=lambda rec, a, out: rec[5].update(
                    segments=a[0].last_stats["segments_visited"]))
        tr.wrap(S, "search_batch", "serve.search_batch")
        tr.wrap(query, "_read_postings", "spark_query.read_postings")
        tr.wrap(Bm25Index, "delete", "delete.call")

        orig_fetch = S._fetch

        def fetch(this, terms):
            miss = sorted({t for t in terms if t not in this._terms})
            with tr.span("serve.fetch") as rec:
                out = orig_fetch(this, terms)
            rec[5]["req"] = len(terms)
            rec[5]["miss"] = len(miss)
            rec[5]["bytes"] = sum(
                len(r["doc_ids_bin"] or b"") + len(r["tfs_bin"] or b"")
                + len(r["norms_bin"] or b"")
                for t in miss for r in this._terms.get(t, ()))
            return out
        S._fetch = fetch
        tr._undo.append((S, "_fetch", orig_fetch))

        orig_merge = merge.merge_segments
        run = self

        def merge_segments(index, seg_records, out_level, *a, **kw):
            import pyarrow.parquet as pq
            rows = 0
            for s_ in seg_records:
                d = os.path.join(index.manifest.segment_dir(s_.segment_id),
                                 "postings")
                rows += sum(pq.ParquetFile(os.path.join(d, f))
                            .metadata.num_rows for f in os.listdir(d)
                            if f.endswith(".parquet"))
            lo = min(s_.min_doc_id for s_ in seg_records) - 1_000_000
            hi = max(s_.max_doc_id for s_ in seg_records) - 1_000_000
            user = int(run.wtext_len[lo:hi + 1].sum())
            run.sp.group("merge")
            try:
                with tr.span("merge", rows=rows, user_bytes=user) as rec:
                    out = orig_merge(index, seg_records, out_level, *a, **kw)
                rec[5]["out_bytes"] = int(out.bytes)
            finally:
                run.sp.group("append")
            return out
        merge.merge_segments = merge_segments
        tr._undo.append((merge, "merge_segments", orig_merge))

    def install_kernel_wraps(self) -> None:
        """Spans inside the query kernels. Installed only after Spark has
        stopped: Spark would pickle these wrappers into its tasks."""
        from pg_textsearch_spark.index import query, serve
        tr = self.trace

        def kernel_after(rec, a, out):
            rec[5]["blocks_total"] = sum(int(r["num_blocks"]) for r in a[1])
        tr.wrap_factory(serve, "make_segment_kernel", "query.kernel",
                        after=kernel_after)
        tr.wrap_factory(serve, "make_batch_kernel", "query.batch_kernel",
                        after=kernel_after)
        tr.wrap(serve, "tokenize_query", "tokenizer.query")
        tr.wrap(serve.LocalSearcher, "_by_segment", "serve.by_segment")
        tr.wrap(query, "_run_maxscore", "query.maxscore")
        tr.wrap(query, "_accumulate", "query.accumulate")
        tr.wrap(query, "decode_row", "segment.decode",
                after=lambda rec, a, out: rec[5].update(
                    blocks=int(a[0]["num_blocks"]), postings=int(out[0].size)))
        tr.wrap(query, "decode_row_blocks", "segment.decode",
                after=lambda rec, a, out: rec[5].update(
                    blocks=int(len(a[1])), postings=int(out[0].size)))

    def kernel_probes(self) -> None:
        """Spark-free layer probes: tokenizer throughput on a corpus sample
        and codec decode cost over the built index's posting rows."""
        import pyarrow.dataset as pds
        from pg_textsearch_spark.functions.tokenizer import tokenize_batch
        from pg_textsearch_spark.index.segment import decode_row
        sample = self.corpus.text[:2000]
        rates = []
        for _ in range(3):          # median of 3: the first pays start-up
            t0 = time.perf_counter()
            toks = sum(dl for _, _, dl in tokenize_batch(sample, "simple"))
            rates.append(toks / (time.perf_counter() - t0))
        self.layer["tokenizer.tokens_per_s"] = (statistics.median(rates),
                                                "1/s")
        files = [os.path.join(dp, f) for dp, _, fs in
                 os.walk(self.idx_path) for f in fs
                 if f.endswith(".parquet") and "postings" in dp]
        recs = pds.dataset(sorted(files)[:1]).to_table().to_pandas() \
            .to_dict("records")
        t0 = time.perf_counter()
        n = sum(decode_row(r)[0].size for r in recs)
        self.layer["codec.decode_ns_per_posting"] = (
            (time.perf_counter() - t0) * 1e9 / max(n, 1), "ns")

    def layer_metrics(self) -> None:
        tr, L = self.trace, self.layer
        n_ops = len(self.lat)
        st = tr.self_times(roots="op")
        per_op = lambda name: st.get(name, 0.0) * 1000.0 / n_ops  # noqa
        L["tokenizer.query_ms"] = (per_op("tokenizer.query"), "ms")
        L["serve.merge_ms"] = (per_op("serve.search"), "ms")
        L["serve.fetch_ms"] = (per_op("serve.fetch"), "ms")
        L["query.kernel_ms"] = (per_op("query.kernel"), "ms")
        L["query.maxscore_ms"] = (per_op("query.maxscore"), "ms")
        L["query.accumulate_ms"] = (per_op("query.accumulate"), "ms")
        L["query.kernel_setup_ms"] = (per_op("query.kernel_setup"), "ms")
        L["serve.by_segment_ms"] = (per_op("serve.by_segment"), "ms")
        ops = tr.find("op")
        op_ids = {s[0] for s in ops}
        under = set(op_ids)
        for s in tr.spans:
            if s[1] in under:
                under.add(s[0])
        inside = [s for s in tr.spans if s[0] in under and s[4] is not None]
        op_wall = sum(s[4] - s[3] for s in ops)
        # the share of a query that wrapped engine functions account for:
        # the self time of the loop's own wrapper and the remainder of
        # search() (serve.merge_ms, code no deeper span covers) are left out
        named = sum(v for k_, v in st.items()
                    if k_ not in ("op", "serve.search"))
        L["trace.layer_sum_ratio"] = (named / op_wall, "ratio")
        # tracing overhead: spans recorded inside the loop times the cost
        # of one empty span, over the loop's wall time
        probe = Tracer()
        t0 = time.perf_counter()
        for _ in range(20_000):
            with probe.span("x"):
                pass
        per_span = (time.perf_counter() - t0) / 20_000
        L["trace.overhead_ratio"] = (len(inside) * per_span / op_wall,
                                     "ratio")
        L["serve.segments_visited"] = (statistics.mean(
            s[5]["segments"] for s in inside
            if s[2] == "serve.search"), "count")
        f = [s for s in inside if s[2] == "serve.fetch"]
        req = sum(s[5]["req"] for s in f)
        miss = sum(s[5]["miss"] for s in f)
        L["serve.fetch_miss_terms"] = (miss / n_ops, "count")
        L["serve.fetched_bytes"] = (sum(s[5]["bytes"] for s in f) / n_ops,
                                    "B")
        L["serve.term_cache_hit_ratio"] = (1.0 - miss / max(req, 1), "ratio")
        kern = [s for s in inside if s[2] == "query.kernel"]
        L["query.kernel_calls"] = (len(kern) / n_ops, "count")
        dec = [s for s in inside if s[2] == "segment.decode"]
        L["query.blocks_decoded_ratio"] = (
            sum(s[5]["blocks"] for s in dec)
            / max(sum(s[5].get("blocks_total", 0) for s in kern), 1),
            "ratio")
        L["segment.postings_decoded"] = (
            sum(s[5]["postings"] for s in dec) / n_ops, "count")
        # per call over the whole serving phase (warm-up included), so a
        # warm loop that decodes nothing still reports the decode cost
        alld = tr.find("segment.decode")
        L["segment.decode_ms"] = (
            1000.0 * statistics.mean(s[4] - s[3] for s in alld), "ms")
        bst = tr.self_times(roots="batch_op")
        L["query.batch_kernel_ms"] = (
            bst.get("query.batch_kernel", 0.0) * 1000.0
            / (self.n_batches * SERVE_BATCH_SIZE), "ms")

        def mean_ms(name, pred=None):
            sp = [s for s in tr.find(name) if pred is None or pred(s)]
            return 1000.0 * statistics.mean(s[4] - s[3] for s in sp)
        L["serve.resolve_ms"] = (mean_ms("serve.resolve"), "ms")
        fresh_ids = {s[0] for s in tr.find("fresh_query")}
        fresh_search = {s[0] for s in tr.find("serve.search")
                        if s[1] in fresh_ids}
        L["serve.refresh_ms"] = (mean_ms(
            "serve.refresh", lambda s: s[5].get("reloaded")), "ms")
        L["serve.tombstones_ms"] = (mean_ms(
            "serve.tombstones", lambda s: s[1] in fresh_search), "ms")
        L["manifest.load_ms"] = (mean_ms("manifest.load"), "ms")
        L["manifest.save_ms"] = (mean_ms("manifest.save"), "ms")
        n_spark = len(tr.find("spark.search")) + len(
            tr.find("spark.search_batch"))
        L["spark_query.read_postings_ms"] = (
            1000.0 * sum(s[4] - s[3] for s in
                         tr.find("spark_query.read_postings")) / n_spark,
            "ms")
        ev = self.events
        sq = ev.get("spark_query", {})
        L["spark_query.jobs"] = (sq.get("jobs", 0) / n_spark, "count")
        L["spark_query.tasks"] = (sq.get("tasks", 0) / n_spark, "count")
        L["spark_query.executor_run_ms"] = (sq.get("run_ms", 0.0) / n_spark,
                                            "ms")
        b = ev.get("build", {"stages": {}, "tasks": 0, "shuffle_write": 0})
        L["build.tokenize_shuffle_s"] = (sum(
            st_["wall_s"] for st_ in b["stages"].values()
            if st_["shuffle_write"] > 0), "s")
        L["build.pack_s"] = (sum(
            st_["wall_s"] for st_ in b["stages"].values()
            if st_["shuffle_write"] == 0), "s")
        L["build.shuffle_write_bytes"] = (float(b["shuffle_write"]), "B")
        L["build.tasks"] = (float(b["tasks"]), "count")
        merges = tr.find("merge")
        merge_s = sum(s[4] - s[3] for s in merges)
        appends = tr.find("append")
        L["append.ms_excl_merge"] = (
            1000.0 * (sum(s[4] - s[3] for s in appends) - merge_s)
            / len(appends), "ms")
        L["merge.s"] = (merge_s, "s")
        rows = sum(s[5]["rows"] for s in merges)
        L["merge.input_rows"] = (float(rows), "count")
        L["merge.rows_per_s"] = (rows / merge_s, "1/s")
        L["merge.bytes_written_per_user_byte"] = (
            sum(s[5]["out_bytes"] for s in merges)
            / sum(s[5]["user_bytes"] for s in merges), "ratio")
        mg = ev.get("merge", {"stages": {}})
        skew = 1.0
        if mg["stages"]:
            big = max(mg["stages"].values(), key=lambda x: sum(x["task_ms"]))
            if big["task_ms"]:
                skew = max(big["task_ms"]) / max(
                    statistics.median(big["task_ms"]), 1.0)
        L["merge.task_skew"] = (skew, "ratio")
        L["delete.ms"] = (mean_ms("delete.call"), "ms")

    # -- the run ----------------------------------------------------------------
    def execute(self) -> dict:
        control_pre = hw_control()
        check.selftest()
        t_setup0 = time.perf_counter()
        marks = [("start", time.perf_counter())]
        self.make_inputs()
        marks.append(("inputs", time.perf_counter()))
        self.spark_phases()
        marks.append(("spark", time.perf_counter()))
        if self.trace:
            self.install_kernel_wraps()
        self.serving()
        marks.append(("serving", time.perf_counter()))
        correct = True
        try:
            self.verify()
        except check.CheckFailed as e:
            correct = False
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        marks.append(("verify", time.perf_counter()))
        print("phases: " + " ".join(
            f"{b[0]}={b[1] - a[1]:.1f}s" for a, b in zip(marks, marks[1:])),
            file=sys.stderr)
        control_post = hw_control()
        dirty = control_post / control_pre > 1.5
        # The serving loop is one thread in this process, so its cost is
        # measured in this process's CPU time (pyarrow's scan threads are
        # included, so CPU can exceed wall on serve_cold), and scaled by
        # the CPU control sampled through the same loop: other tenants
        # stretch wall time, and a slower or busier host stretches CPU
        # time of the control and the queries alike.
        cpu_ms = self.cpu_scaled * 1000.0
        print(f"hw_control pre={control_pre:.5f}s post={control_post:.5f}s "
              f"dirty={str(dirty).lower()} cpu_control=" + ",".join(
                  f"{ph}:{v:.5f}s" for ph, v in self.control_s.items())
              + f" wall={time.perf_counter() - t_setup0:.1f}s "
              f"scaled_cpu_p50={pct(cpu_ms, 50):.4f}ms "
              f"queries={len(self.lat)} batches={self.n_batches}")
        lat_ms = np.asarray(self.lat) * 1000.0
        # Wall-clock figures of the serving loop, the Spark paths and the
        # writes, and the post-commit replica query cost: reported
        # unbounded, with the per-layer metrics, because their run-to-run
        # spread on a shared 4-core machine is too close to or above the
        # largest bound (see README "End-to-end metrics and bounds").
        wall = {
            "fresh_query_cpu_p50_ms": (
                1000.0 * statistics.median(self.fresh_cpu), "ms"),
            "query_wall_p50_ms": (pct(lat_ms, 50), "ms"),
            "query_wall_p95_ms": (pct(lat_ms, 95), "ms"),
            "query_wall_rate_per_s": (lat_ms.size / self.single_wall, "1/s"),
            "batch_query_wall_rate_per_s": (self.batch_rate, "1/s"),
            "fresh_query_wall_p50_ms": (
                1000.0 * statistics.median(self.fresh), "ms"),
            "build_docs_per_s": (N_DOCS / self.build_s, "1/s"),
            "ingest_docs_per_s": (2 * WRITE_BATCH / sum(self.append_s),
                                  "1/s"),
            "spark_query_p50_ms": (
                1000.0 * statistics.median(self.spark_lat), "ms"),
            "spark_batch_query_rate_per_s": (
                statistics.median(self.spark_batch_rate), "1/s"),
        }
        print("wall: " + " ".join(f"{k_}={v:.4f}" for k_, (v, _) in
                                  wall.items()))
        if self.trace:
            self.kernel_probes()
            self.layer_metrics()
            self.trace.unwrap_all()
            out_dir = os.path.join(os.getcwd(), ".perfbench_work",
                                   "last_trace")
            os.makedirs(out_dir, exist_ok=True)
            self.trace.dump(os.path.join(out_dir, f"{self.a.workload}"
                                         f"-seed{self.a.seed}.jsonl"))
            metrics = dict(self.layer, **wall)
        else:
            metrics = {
                # not scaled: set-up (cold fetches on pyarrow's threads)
                # did not follow the control; scaling it widened its spread
                "setup_s": (self.setup_cpu_s, "s"),
                "query_cpu_p50_ms": (pct(cpu_ms, 50), "ms"),
                "query_cpu_p95_ms": (pct(cpu_ms, 95), "ms"),
                "query_cpu_rate_per_s": (cpu_ms.size * 1000.0
                                         / cpu_ms.sum(), "1/s"),
                "batch_query_cpu_rate_per_s": (self.batch_cpu_rate, "1/s"),
                "index_bytes_per_doc_byte": (
                    dir_bytes(self.idx_path) / self.text_bytes, "ratio"),
                "serve_rss_mb": (self.rss_peak - self.rss_base, "MB"),
            }
        return {"correct": correct, "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k_: {"value": float(v), "unit": u}
                            for k_, (v, u) in metrics.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "pg_textsearch_spark")):
        print("perfbench: run from the repository root (no "
              "pg_textsearch_spark package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    try:
        result = Run(args, work).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
