"""The traced benchmark run (``perfbench/run.py --trace 1``) binds engine
names by ``getattr`` and reads span attributes the engine must produce.
This installs perfbench's own wrappers on a small multi-segment index and
checks that every span its per-layer metrics read is recorded."""

import importlib.util
import os
import types

import pytest

from pg_textsearch_spark.config import Bm25Options
from pg_textsearch_spark.index.build import Bm25Index

BENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench")


def _load_run():
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(BENCH, "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    rows = [(i, f"alpha beta w{i % 7} gamma" if i % 3 else f"beta w{i % 5}")
            for i in range(1, 301)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("hooks") / "idx")
    return Bm25Index.build(spark, docs, "text", path, id_col="doc_id",
                           opts=Bm25Options(text_config="simple"),
                           num_segments=4)


def test_perfbench_wraps_record_every_span(idx):
    run = _load_run()
    stub = types.SimpleNamespace(trace=run.Tracer())
    tr = stub.trace
    srv = idx.serving()
    try:
        run.Run.install_driver_wraps(stub)
        run.Run.install_kernel_wraps(stub)
        with tr.span("op"):
            first = srv.search("alpha w3", k=5)
        with tr.span("op"):
            srv.search("alpha beta", k=5, mode="and")
        with tr.span("batch_op"):
            srv.search_batch(["alpha beta", "w2 gamma", "nosuchterm"], k=5)
        idx.delete([int(first["doc_id"].iloc[0])])
        with tr.span("fresh_query"):
            after = srv.search("alpha w3", k=5)
    finally:
        tr.unwrap_all()
    assert int(first["doc_id"].iloc[0]) not in set(after["doc_id"])
    names = {s[2] for s in tr.spans}
    for name in ("serve.search", "serve.search_batch", "serve.fetch",
                 "serve.by_segment", "serve.tombstones", "serve.refresh",
                 "query.kernel", "query.kernel_setup", "query.batch_kernel",
                 "query.maxscore", "query.accumulate", "segment.decode",
                 "tokenizer.query", "delete.call"):
        assert name in names, name
    by_id = {s[0]: s for s in tr.spans}
    searches = tr.find("serve.search")
    assert all(s[5]["segments"] >= 2 for s in searches)
    # one kernel call per query, spanning every segment
    for s in searches:
        kern = [k for k in tr.find("query.kernel") if k[1] == s[0]]
        assert len(kern) == 1 and kern[0][5]["blocks_total"] > 0
    fresh = {s[0] for s in tr.find("fresh_query")}
    fresh_search = {s[0] for s in searches if s[1] in fresh}
    assert [s for s in tr.find("serve.tombstones")
            if s[1] in fresh_search]
    assert {by_id[s[1]][2] for s in tr.find("serve.tombstones")} <= {
        "serve.search", "serve.search_batch"}
    dec = tr.find("segment.decode")
    assert dec and all("blocks" in s[5] and "postings" in s[5] for s in dec)
    # the wrappers are gone afterwards
    from pg_textsearch_spark.index import query, serve
    assert not hasattr(serve.make_segment_kernel, "__wrapped__")
    assert not hasattr(query.decode_row, "__wrapped__")
