"""Source-table loader (reference operator B1, heap scan → document stream).

The production input is an Iceberg table of source-code repositories
(BASELINE.json input_hint). In this sandbox no Iceberg runtime jar is
shipped, so the loader resolves, in order:

1. an Iceberg/named catalog table (``spark.table`` / ``format("iceberg")``)
   when the runtime has the classes — gated behind a try so the same code
   path runs unchanged on a real cluster,
2. a Delta/parquet *path*.

Pre-filtering (partial-index analogue, reference README.md:220-245) is a
plain ``df.filter`` — Catalyst pushes it into the Iceberg/parquet scan, so
partition pruning and row-group skipping happen for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REQUIRED_COLS = ("repo", "path", "commit", "lang", "content")


_EXT_FORMATS = {".parquet": "parquet", ".orc": "orc", ".json": "json",
                ".jsonl": "json", ".csv": "csv"}


def _data_files(d: str) -> list[str]:
    """Entries of directory ``d`` with a known data-file extension, Spark
    ``part-`` files first (then by name); hidden and ``_`` entries
    (``_SUCCESS``, ``.crc``) are skipped."""
    data = [f for f in os.listdir(d)
            if not f.startswith(("_", "."))
            and os.path.splitext(f)[1].lower() in _EXT_FORMATS]
    return sorted(data, key=lambda f: (not f.startswith("part-"), f))


def load_source_table(spark: SparkSession, ref: str,
                      predicate: str | None = None,
                      columns: list[str] | None = None,
                      fmt: str | None = None) -> DataFrame:
    """Load the source-code table from an Iceberg table name or a path.

    ``fmt`` pins the file format ('parquet'/'orc'/'json'/'csv'); when
    None it is sniffed from the path extension (or, for a directory, from
    its first data file, see :func:`_data_files`, and only files with that
    extension are read), defaulting to parquet. CSV
    reads with header+schema inference — fine for ad-hoc corpora, pin a
    schema upstream for production ingest (columnar formats keep
    predicate pushdown and column pruning; json/csv are row formats and
    only prune post-parse)."""
    df = None
    if not os.path.exists(ref) and not ref.startswith(("file:", "hdfs:", "s3:")):
        # looks like a catalog table name
        try:
            df = spark.table(ref)
        except Exception:
            try:
                df = spark.read.format("iceberg").load(ref)
            except Exception:
                df = None
    if df is None:
        reader = spark.read
        if fmt is None:
            probe = ref
            if os.path.isdir(ref):
                data = _data_files(ref)
                if data:
                    probe = data[0]
                    # read only files of the sniffed format: a stray
                    # metadata.json would fail a parquet scan
                    reader = reader.option(
                        "pathGlobFilter", "*" + os.path.splitext(probe)[1])
            fmt = _EXT_FORMATS.get(os.path.splitext(probe)[1].lower(),
                                   "parquet")
        if fmt == "csv":
            reader = reader.option("header", "true") \
                           .option("inferSchema", "true")
        df = reader.format(fmt).load(ref)
    if predicate:
        df = df.filter(predicate)
    if columns:
        df = df.select(*columns)
    return df


def with_doc_ids(df: DataFrame,
                 key_cols: tuple[str, ...] = ("repo", "path", "commit")) -> DataFrame:
    """Stable 64-bit doc id from the natural key — deterministic across
    runs/cluster sizes (defines the BM25 tie order, SURVEY.md §1.1 B5)."""
    return df.withColumn("doc_id", F.xxhash64(*[F.col(c) for c in key_cols]))
