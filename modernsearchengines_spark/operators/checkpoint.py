"""Checkpointed, resumable segment builds with per-partition lineage
(BASELINE.json north_rule; reference analogue: the crawler's pickle
checkpoint at /root/reference/WebCrawler_basis.py:13-24).

The corpus is split into ``n_segments`` deterministic url-hash segments.
Each segment's RAW postings (term, doc_id, tf, positions_vb — no corpus-global
stats yet) and doc stats are built and committed independently; a
``_segments`` manifest row records lineage + metrics (n_docs, n_tokens,
n_postings, wall_ms, status).  A crashed build resumes by skipping segments
whose manifest row is ``done`` — the anti-join resume of SURVEY O-14.

The merge step (global N, avg_doc_len, df, IDF, BM25, df>5 prune, blocks)
runs over the union of segment outputs.  Global stats CANNOT be finalized
per-segment (Q2/Q3: N and avg span the whole corpus), which is exactly why
the reference's single-shot design doesn't scale and the rebuild separates
raw-posting construction (resumable, embarrassingly parallel) from the
cheap stats finalization pass.

Target layout is an Iceberg ``_segments`` table + snapshot per segment; in
this sandbox each segment is a Parquet directory plus a JSON manifest file
per segment (atomic rename), which gives the same observable resume
protocol.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources import fsio
from . import indexer

MANIFEST_DIR = "_segments"


def segment_of(url_col, n_segments: int):
    return F.pmod(F.xxhash64(url_col), F.lit(n_segments)).cast("int")


def _manifest_path(out_dir: str, seg: int) -> str:
    return fsio.join(out_dir, MANIFEST_DIR, f"segment-{seg:05d}.json")


def read_manifest(spark: SparkSession, out_dir: str) -> dict[int, dict]:
    """Committed segment rows, keyed by segment id.  Routed through the
    Hadoop FileSystem API (fsio) so the resume protocol works on any
    scheme (hdfs://, s3a://, file:) — the same defect class the r2
    read_index fix addressed for the reader probe."""
    mdir = fsio.join(out_dir, MANIFEST_DIR)
    out = {}
    for name in fsio.listdir(spark, mdir):
        if name.endswith(".json"):
            # listed-then-missing = a concurrent writer mid delete+rename
            # commit; treat as not-yet-committed (fsio.read_text_or_none)
            text = fsio.read_text_or_none(spark, fsio.join(mdir, name))
            if text is None:
                continue
            row = json.loads(text)
            out[row["segment_id"]] = row
    return out


def write_enriched_segment(seg_docs: DataFrame, out_dir: str, seg: int) -> None:
    """One Arrow crossing per segment: the enriched (doc stats + local
    postings) table IS the committed segment artifact; everything else
    derives from the written parquet at merge time.  Length-capped docs
    ride along with NULL-gated text exactly as in indexer.build_index —
    they stay in the segment's doc stats (and hence in N / avg_doc_len,
    Q2/Q3) with doc_len=0 / NULL aug_len, so the checkpointed and
    single-shot builds return identical doc_stats (the reference keeps all
    pages in its pages table)."""
    (
        seg_docs.withColumn(
            "dp",
            indexer.doc_postings_udf(
                "url",
                F.when(
                    F.length("text") <= indexer.MAX_DOC_CHARS,
                    F.col("text"),
                ),
            ),
        )
        .select(
            "doc_id", "url", "warc_ts",
            F.col("dp.aug_len").alias("aug_len"),
            F.col("dp.doc_len").alias("doc_len"),
            F.col("dp.postings").alias("postings"),
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/enriched/segment={seg}")
    )


def build_segments(
    spark: SparkSession,
    docs_with_ids: DataFrame,
    out_dir: str,
    n_segments: int = 8,
    fail_after: int | None = None,
) -> list[dict]:
    """Build raw posting segments, committing one manifest row per segment.

    ``fail_after`` aborts after that many segments (crash-injection for the
    resume test).  Returns the manifest rows written this run.
    """
    fsio.mkdirs(spark, fsio.join(out_dir, MANIFEST_DIR))
    done = {
        seg for seg, row in read_manifest(spark, out_dir).items()
        if row["status"] == "done"
    }
    docs = docs_with_ids.withColumn("_seg", segment_of(F.col("url"), n_segments))
    written: list[dict] = []
    built = 0
    for seg in range(n_segments):
        if seg in done:  # resume: anti-join against completed lineage
            continue
        if fail_after is not None and built >= fail_after:
            break
        t0 = time.time()
        seg_docs = docs.filter(F.col("_seg") == seg)
        n_docs = seg_docs.count()
        write_enriched_segment(seg_docs, out_dir, seg)
        seg_written = spark.read.parquet(f"{out_dir}/enriched/segment={seg}")
        stats = seg_written.agg(
            F.sum(F.size("postings")).alias("n_postings"),
            F.sum("doc_len").alias("n_tokens"),
        ).collect()[0]
        row = {
            "segment_id": seg,
            "n_docs": n_docs,
            "n_tokens": int(stats.n_tokens or 0),
            "n_postings": int(stats.n_postings or 0),
            "wall_ms": int((time.time() - t0) * 1000),
            "status": "done",
            "input_fingerprint": n_docs,
        }
        # temp-write + rename commit via the Hadoop FS (fsio docstring)
        fsio.write_text_atomic(
            spark, _manifest_path(out_dir, seg), json.dumps(row)
        )
        written.append(row)
        built += 1
    return written


def merge_segments(
    spark: SparkSession,
    out_dir: str,
    n_total: int,
    n_segments: int,
    term_buckets: int = indexer.DEFAULT_TERM_BUCKETS,
    n_blocks: int = indexer.DEFAULT_N_BLOCKS,
    df_prune: int = indexer.DF_PRUNE,
) -> dict[str, DataFrame]:
    """Finalize the global index from completed segments (SURVEY M3 merge:
    unionByName + re-aggregation; df/IDF/BM25 need corpus-global stats).

    Validation is against the EXPECTED segment count, not just the manifest
    rows that happen to exist: a crash between a segment's (partial)
    parquet write and its manifest commit leaves a directory without a
    'done' row, and a blind read of ``enriched/`` would silently fold that
    partial data into the index.  Only directories with a committed 'done'
    manifest row are read.
    """
    manifest = read_manifest(spark, out_dir)
    done = sorted(
        s for s, r in manifest.items() if r["status"] == "done"
    )
    missing = [s for s in range(n_segments) if s not in set(done)]
    if missing:
        raise RuntimeError(
            f"cannot merge: segments without a committed manifest row: "
            f"{missing} (of {n_segments})"
        )
    enriched = (
        spark.read.option("basePath", f"{out_dir}/enriched")
        .parquet(*[f"{out_dir}/enriched/segment={s}" for s in done])
    )
    doc_stats = enriched.select(
        "doc_id", "url", "warc_ts", "aug_len", "doc_len", "segment"
    )

    char_sum = enriched.agg(F.sum("aug_len")).collect()[0][0] or 0
    avg_doc_len = char_sum / n_total if n_total else 0.0
    corpus_stats = local_frame(
        spark, [(n_total, float(avg_doc_len))], "n_docs long, avg_doc_len double"
    )

    postings_with_len = enriched.select(
        "doc_id", "doc_len", F.explode("postings").alias("p")
    ).select(
        "doc_id",
        "doc_len",
        F.col("p.term").alias("term"),
        F.col("p.tf").alias("tf"),
        F.col("p.positions_vb").alias("positions_vb"),
    )
    term_df = indexer.term_doc_frequency(
        enriched.select("doc_id", F.explode("postings.term").alias("term"))
    )
    postings, blocks, terms = indexer.score_and_layout(
        postings_with_len,
        term_df,
        n_total,
        float(avg_doc_len),
        term_buckets,
        n_blocks,
        df_prune,
    )
    return {
        "postings": postings,
        "blocks": blocks,
        "terms": terms,
        "doc_stats": doc_stats.drop("segment"),
        "corpus_stats": corpus_stats,
    }


def build_index_checkpointed(
    spark: SparkSession,
    clean: DataFrame,
    out_dir: str,
    n_segments: int = 8,
    fail_after: int | None = None,
) -> dict[str, DataFrame] | None:
    """Segmented equivalent of indexer.build_index; returns None if the run
    was aborted before all segments completed (caller resumes later)."""
    docs = indexer.assign_doc_ids(clean)
    n_total = docs.count()
    build_segments(spark, docs, out_dir, n_segments, fail_after)
    manifest = read_manifest(spark, out_dir)
    if len([r for r in manifest.values() if r["status"] == "done"]) < n_segments:
        return None
    return merge_segments(spark, out_dir, n_total, n_segments)


def layout_segment(
    spark: SparkSession,
    out_dir: str,
    seg: int,
    term_buckets: int = indexer.DEFAULT_TERM_BUCKETS,
    n_blocks: int = indexer.DEFAULT_N_BLOCKS,
) -> None:
    """Bucket-layout one committed enriched segment into the global
    postings table (append).  Deferred scoring (indexer.bm25_expr) makes
    this possible: the persisted posting row is (tf, dl, positions_vb) —
    corpus-global-free — so a segment's postings are final the moment it
    is written, and later segments never rewrite them.  The df>5 prune is
    NOT applied to the stored rows (it depends on the global df, which the
    next segment changes); it is enforced at query time by the terms-table
    join (query.query_terms_df inner semantics), which yields
    identical results — the kept rows are ~2% of postings (df≤5 terms hold
    ≤5 postings each; Zipf tail).
    """
    enriched = spark.read.parquet(f"{out_dir}/enriched/segment={seg}")
    (
        enriched.select(
            "doc_id",
            F.col("doc_len").cast("int").alias("dl"),
            F.explode("postings").alias("p"),
        )
        .select(
            F.pmod(F.xxhash64("p.term"), F.lit(term_buckets))
            .cast("int")
            .alias("term_bucket"),
            F.col("p.term").alias("term"),
            "doc_id",
            F.col("p.tf").alias("tf"),
            "dl",
            F.col("p.positions_vb").alias("positions_vb"),
            F.pmod(F.col("doc_id"), F.lit(n_blocks))
            .cast("int")
            .alias("block_id"),
        )
        .repartition("term_bucket")
        .write.mode("append")
        .partitionBy("term_bucket")
        .parquet(f"{out_dir}/postings")
    )
