"""Seeded benchmark inputs, materialised once per (workload, size, seed).

The engine's generators in ``json_schema_spark.sources.webtext`` hash with
a module-level ``SEED``; ``seeded`` swaps it for the benchmark's seed while
the input is built, so the program under test only ever sees the files
written here. Each input directory gets a ``_READY`` marker after a
complete write, and later runs with the same key reuse it.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from pathlib import Path

# inputs kept on disk; older ones are pruned so the cache stays bounded
KEEP_INPUTS = 12
# embedding width of the skew corpus: wide enough that no random vector
# lands within the semantic-dedup threshold of the hot-digest vector
SKEW_DIM = 32


@contextmanager
def seeded(seed: int):
    from json_schema_spark.sources import webtext

    old = webtext.SEED
    webtext.SEED = seed
    try:
        yield
    finally:
        webtext.SEED = old


def materialise(spark, cache_dir: Path, key: str, build) -> Path:
    """Return ``cache_dir/key``, calling ``build(spark, path)`` first
    unless a complete copy already exists."""
    target = cache_dir / key
    if (target / "_READY").exists():
        os.utime(target)  # most recently used survives pruning
        return target
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = cache_dir / f"{key}.tmp"
    for d in (tmp, target):
        shutil.rmtree(d, ignore_errors=True)
    build(spark, tmp)
    (tmp / "_READY").write_text("")
    tmp.rename(target)
    _prune(cache_dir)
    return target


def _prune(cache_dir: Path) -> None:
    ready = sorted((d for d in cache_dir.iterdir()
                    if (d / "_READY").exists()),
                   key=lambda d: d.stat().st_mtime, reverse=True)
    for d in ready[KEEP_INPUTS:]:
        shutil.rmtree(d, ignore_errors=True)


def build_webtext(n_rows: int, seed: int):
    """Day-partitioned webtext parquet with the FIXTURES.md section 1
    anomaly mix (duplicate and malformed urls, null/empty text, bad and
    null lang codes)."""

    def build(spark, path: Path) -> None:
        from json_schema_spark.sources.webtext import write_webtext

        with seeded(seed):
            write_webtext(spark, str(path), n_rows)

    return build


def build_curation(n_docs: int, n_skew: int, hot_share: int, seed: int):
    """Two tables under one directory:

    - ``docs``: (id, url, json) JSON-string documents built from webtext
      rows, with SQL-NULL, truncated (malformed), ragged (missing or
      mistyped keys, extra keys) and non-object shares;
    - ``skew``: the engine's adversarial-skew corpus (Zipf hosts; one in
      ``hot_share`` docs on the hot digest, which is also the degenerate
      embedding cell, and as many on the hot LSH band)."""

    def build(spark, path: Path) -> None:
        from pyspark.sql import functions as F

        from json_schema_spark.sources.webtext import (
            generate_skewed_corpus, generate_webtext)

        with seeded(seed):
            web = generate_webtext(spark, n_docs, partitions=8)
            skew = generate_skewed_corpus(
                spark, n_skew, n_dup=n_skew // hot_share,
                n_hot_band=n_skew // hot_share, dim=SKEW_DIM)
            roll = F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 31)),
                          F.lit(1000))
            n_chars = F.length("text").alias("n_chars")
            ts = F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'") \
                .alias("ts")
            good = F.to_json(F.struct("url", "lang", n_chars, ts))
            doc = (
                F.when(roll < 20, F.lit(None).cast("string"))
                .when(roll < 50, F.expr("substring(_good, 1, "
                                        "length(_good) - 7)"))
                .when(roll < 80, F.to_json(F.struct("lang", n_chars)))
                .when(roll < 110, F.to_json(F.struct(
                    "url", "lang", n_chars.cast("string").alias("n_chars"))))
                .when(roll < 130, F.to_json(F.struct(
                    "url", "lang", n_chars, ts, F.lit(1).alias("extra"))))
                .when(roll < 150, F.lit("[1, 2, 3]"))
                .otherwise(F.col("_good")))
            (web.withColumn("id", F.monotonically_increasing_id())
                .withColumn("_good", good)
                .select("id", "url", doc.alias("json"))
                .write.parquet(str(path / "docs")))
            skew.write.parquet(str(path / "skew"))

    return build

