"""read_index(serve=True): core-aligned cached postings for query serving.

Regression context (round 5): the batch default 128 MB scan splits cached
the 400k-doc bench index's 36M posting rows as 12 partitions, capping every
cached-scan query stage at 12-way parallelism — query-batch wall at 32
cores was 3.8x slower than with core-aligned splits.  serve=True sizes the
splits to ~3 partitions per session core at cache-materialization time.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from modernsearchengines_spark.operators import indexer


def _checksum(df):
    cols = sorted(df.columns)
    return df.select(
        F.expr(
            "bit_xor(xxhash64(" + ", ".join(cols) + "))"
        ).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]


def test_serve_true_is_cached_and_identical(spark, docs_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "serve")
    idx = indexer.build_index(spark, indexer.clean_docs(docs_df))
    indexer.write_index(idx, out)
    indexer.unpersist_index(idx)

    key = "spark.sql.files.maxPartitionBytes"
    conf_before = spark.conf.get(key)
    plain = indexer.read_index(spark, out)
    served = indexer.read_index(spark, out, serve=True)

    # the temporary split conf must not leak into the session
    assert spark.conf.get(key) == conf_before

    # served postings are cache-materialized in memory
    assert served["postings"].storageLevel.useMemory

    # byte-identical content either way
    a, b = _checksum(plain["postings"]), _checksum(served["postings"])
    assert (a.h, a.n) == (b.h, b.n)
    assert a.n > 0

    # split sizing never REDUCES parallelism vs the batch default
    assert (
        served["postings"].rdd.getNumPartitions()
        >= plain["postings"].rdd.getNumPartitions()
    )
    # ...and caches one to three partitions per core, however many small
    # bucket files the postings are split into
    cores = spark.sparkContext.defaultParallelism
    assert cores <= served["postings"].rdd.getNumPartitions() <= 3 * cores
    served["postings"].unpersist()


def test_dir_bytes_matches_filesystem(spark, docs_df, tmp_path_factory):
    import os

    out = str(tmp_path_factory.mktemp("idx") / "sz")
    idx = indexer.build_index(spark, indexer.clean_docs(docs_df))
    indexer.write_index(idx, out)
    indexer.unpersist_index(idx)

    visible = 0
    for root, _dirs, files in os.walk(f"{out}/postings"):
        visible += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith((".", "_"))  # crc/_SUCCESS side files
        )
    got = indexer._dir_bytes(spark, f"{out}/postings")
    # getContentSummary may or may not include FS side files depending on
    # the scheme; the split math only needs the right order of magnitude
    assert visible <= got <= int(visible * 1.25) + 4096
