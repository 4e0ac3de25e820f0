"""Corpus table maintenance: idempotent append (SURVEY O-11) and incremental
index refresh.

The reference crawler appends pages with ``INSERT OR IGNORE`` keyed on url
(/root/reference/WebCrawler_basis.py:26-39,75-81).  The Spark-native
equivalent over an Iceberg table is ``MERGE INTO docs USING new ON url WHEN
NOT MATCHED THEN INSERT``; without the Iceberg runtime in this sandbox the
same observable semantics are a left-anti join + append to the Parquet
corpus directory — new urls land, existing urls are ignored, re-running the
same batch is a no-op (exactly-once by key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from . import fsio


def append_new_docs(
    spark: SparkSession, corpus_dir: str, new_docs: DataFrame
) -> int:
    """INSERT-OR-IGNORE-by-url append; returns the number of rows added.

    Iceberg DDL equivalent:
        MERGE INTO docs t USING new_docs s ON t.url = s.url
        WHEN NOT MATCHED THEN INSERT *

    All metadata ops go through the Hadoop FileSystem API (fsio), so the
    protocol works unchanged on hdfs://, s3a://, or explicit file: URIs.
    """
    new_docs = new_docs.dropDuplicates(["url"])
    if fsio.is_dir(spark, corpus_dir) and any(
        name.endswith(".parquet") for name in fsio.listdir(spark, corpus_dir)
    ):
        existing = spark.read.parquet(corpus_dir)
        to_add = new_docs.join(
            existing.select("url"), "url", "left_anti"
        ).select(*existing.columns)
    else:
        fsio.mkdirs(spark, corpus_dir)
        to_add = new_docs
    # Materialize the anti-join into a staging dir BEFORE touching the
    # target (writing into the directory being scanned would race the read),
    # then move the staged files in — the poor man's snapshot commit.  The
    # underscore prefix keeps half-moved staging dirs invisible to readers.
    import uuid

    staging = fsio.join(corpus_dir, f"_staging_{uuid.uuid4().hex[:8]}")
    to_add.write.mode("overwrite").parquet(staging)
    n = spark.read.parquet(staging).count()
    if n:
        for name in fsio.listdir(spark, staging):
            if name.endswith(".parquet"):
                fsio.move(
                    spark,
                    fsio.join(staging, name),
                    fsio.join(
                        corpus_dir, f"batch_{uuid.uuid4().hex[:8]}_{name}"
                    ),
                )
    fsio.rmtree(spark, staging)
    return n


def append_to_index(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    df_prune: int | None = None,
    term_buckets: int | None = None,
    n_blocks: int | None = None,
) -> int:
    """Incremental index refresh: append the new docs' postings and
    re-finalize ONLY the small derived tables — the existing posting files
    are never rewritten (the whole point of the deferred-scoring (tf, dl)
    layout, indexer.bm25_expr).  Returns the number of docs appended.

    When ``index_dir`` holds no index yet (no ``doc_stats``), the batch
    becomes segment zero of a new one: this is how an appendable index is
    created.

    Steps:
      1. clean + id the batch, drop urls already in doc_stats (INSERT OR
         IGNORE semantics, same key as :func:`append_new_docs`);
      2. tokenize the survivors into a new enriched segment and bucket-
         layout it APPEND-mode into ``postings/`` (checkpoint.layout_segment
         — the unpruned layout, df>5 enforced at query time);
      3. refresh doc_stats (append), corpus_stats (recount), terms (df
         re-agg over a NARROW term-column scan of the written postings +
         new idf), and blocks (indexer.write_blocks) — all small relative
         to postings.

    Raises ``ValueError`` before writing anything when the existing index
    is df-pruned (a classic ``indexer.build_index`` + ``write_index``
    build): its dropped df≤5 rows could never come back once a term's df
    crosses the threshold, so rankings would silently go wrong.  Near-
    duplicates of ALREADY-INDEXED docs are not detected here (the batch is
    deduped internally; url is the append key) — cross-batch simhash dedup
    is a periodic compaction concern, matching the reference's retroactive
    cleanup (topic.py:156-174).
    """
    import uuid

    from ..operators import checkpoint, indexer

    # Dedup the batch BY THE APPEND KEY first: clean_docs only collapses
    # identical-text simhash dupes, so two same-url rows with different text
    # would otherwise both survive, share doc_id=xxhash64(url), and append
    # duplicate doc_id rows + doubled postings — invisible to the collision
    # guard below (both countDistincts collapse identically).  Keep-first is
    # arbitrary-but-deterministic only per-batch, matching append_new_docs.
    new_docs = new_docs.dropDuplicates(["url"])
    df_prune = indexer.DF_PRUNE if df_prune is None else df_prune
    term_buckets = (
        indexer.DEFAULT_TERM_BUCKETS if term_buckets is None else term_buckets
    )
    n_blocks = indexer.DEFAULT_N_BLOCKS if n_blocks is None else n_blocks

    doc_stats_path = f"{index_dir}/doc_stats"
    docs = indexer.assign_doc_ids(indexer.clean_docs(new_docs))
    if fsio.exists(spark, doc_stats_path):
        _require_unpruned(spark, index_dir)
        existing = spark.read.parquet(doc_stats_path)
        docs = docs.join(existing.select("url"), "url", "left_anti")
    n_new = docs.count()
    if n_new == 0:
        return 0

    # -- 2. enriched segment + append-mode bucket layout ------------------
    seg = f"append-{uuid.uuid4().hex[:8]}"
    checkpoint.write_enriched_segment(docs, index_dir, seg)
    checkpoint.layout_segment(spark, index_dir, seg, term_buckets, n_blocks)

    # -- 3a. doc_stats append / corpus_stats recount ----------------------
    enriched = spark.read.parquet(f"{index_dir}/enriched/segment={seg}")
    enriched.select(
        "doc_id", "url", "warc_ts", "aug_len", "doc_len"
    ).write.mode("append").parquet(doc_stats_path)

    all_stats = spark.read.parquet(doc_stats_path)
    row = all_stats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("aug_len").alias("chars"),
        F.countDistinct("url").alias("n_urls"),
        F.countDistinct("doc_id").alias("n_ids"),
    ).collect()[0]
    if row.n_ids != row.n_urls:
        raise ValueError(
            f"doc_id hash collision after append: {row.n_urls} urls vs "
            f"{row.n_ids} ids — rebuild with assign_doc_ids(mode='dense')"
        )
    n_total = row.n
    avg_doc_len = (row.chars or 0) / n_total if n_total else 0.0
    local_frame(
        spark, [(n_total, float(avg_doc_len))], "n_docs long, avg_doc_len double"
    ).write.mode("overwrite").parquet(f"{index_dir}/corpus_stats")

    # -- 3b. terms: df over the term column of the WRITTEN postings -------
    # (narrow columnar scan; every posting row is one (term, doc) pair, so
    # count == document frequency)
    written = spark.read.parquet(f"{index_dir}/postings")
    terms = indexer.finalize_terms(
        indexer.term_doc_frequency(written.select("doc_id", "term")),
        n_total,
        df_prune,
        term_buckets,
    )
    terms.repartition("term_bucket").write.mode("overwrite").partitionBy(
        "term_bucket"
    ).parquet(f"{index_dir}/terms")

    # -- 3c. blocks from written postings + fresh terms/corpus_stats ------
    indexer.write_blocks(
        {
            "postings": written,
            "terms": spark.read.parquet(f"{index_dir}/terms"),
            "corpus_stats": spark.read.parquet(f"{index_dir}/corpus_stats"),
        },
        index_dir,
    )
    return n_new


def _require_unpruned(spark: SparkSession, index_dir: str) -> None:
    """Refuse to append to a df-pruned index.  Every indexed token is one
    unit of some posting's tf, and length-capped docs have doc_len 0 and
    no postings, so an index keeps every posting exactly when
    Σ postings.tf == Σ doc_stats.doc_len."""
    def _sum(table: str, col: str) -> int:
        path = f"{index_dir}/{table}"
        return spark.read.parquet(path).agg(F.sum(col)).collect()[0][0] or 0

    tf_sum, len_sum = _sum("postings", "tf"), _sum("doc_stats", "doc_len")
    if tf_sum != len_sum:
        raise ValueError(
            f"cannot append to {index_dir}: its postings hold {tf_sum} of "
            f"{len_sum} indexed tokens, so it was built with the df prune "
            "(indexer.build_index + write_index) and the dropped postings "
            "would never return once a term's df crosses the threshold; "
            "create the index with append_to_index into an empty directory"
        )
