"""An index created by append_to_index ≡ classic build_index + write_index:
identical query results despite the unpruned append layout (the df>5 prune
moves to query time via query_terms_df inner semantics)."""

from __future__ import annotations

import glob
import math

import pytest
from pyspark.sql import functions as F

from modernsearchengines_spark.operators import indexer, query, wand
from modernsearchengines_spark.operators.expansion import compile_query
from modernsearchengines_spark.sources.corpus_io import append_to_index
from modernsearchengines_spark.sources.docs import REFERENCE_QUERIES


@pytest.fixture(scope="module")
def classic_dir(spark, docs_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "classic")
    idx = indexer.build_index(spark, indexer.clean_docs(docs_df))
    indexer.write_index(idx, out)
    indexer.unpersist_index(idx)
    return out


@pytest.fixture(scope="module")
def classic_index(spark, classic_dir):
    return indexer.read_index(spark, classic_dir)


@pytest.fixture(scope="module")
def appended_index(spark, docs_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "appended")
    assert append_to_index(spark, out, docs_df) > 0
    return indexer.read_index(spark, out)


def _result_map(df):
    return {
        (r.qnum, r.rank): (r.doc_id, round(r.score, 12))
        for r in df.collect()
    }


def test_query_results_identical(spark, classic_index, appended_index):
    a = query.run_query_batch(spark, classic_index, REFERENCE_QUERIES)
    b = query.run_query_batch(spark, appended_index, REFERENCE_QUERIES)
    assert _result_map(a) == _result_map(b)


def test_payload_topk_identical(spark, classic_index, appended_index):
    compiled = [compile_query(q, t) for q, t in REFERENCE_QUERIES]
    outs = []
    for idx in (classic_index, appended_index):
        terms = query.query_terms_df(spark, compiled, index=idx)
        outs.append(
            {
                (r.qnum, r.rank): (r.doc_id, r.score)
                for r in wand.bm25_prox_topk_wand(
                    idx["postings"], idx["blocks"], terms, 25
                ).collect()
            }
        )
    assert outs[0].keys() == outs[1].keys()
    for key, (doc_a, score_a) in outs[0].items():
        doc_b, score_b = outs[1][key]
        assert doc_a == doc_b, key
        # Σ bm25 reduces in a different partial order over the appended
        # file layout — identical up to float-sum reassociation.
        assert math.isclose(score_a, score_b, rel_tol=0, abs_tol=1e-9), key


def test_terms_and_stats_identical(classic_index, appended_index):
    a = {
        r.term: (r.df, round(r.idf, 12))
        for r in classic_index["terms"].collect()
    }
    b = {
        r.term: (r.df, round(r.idf, 12))
        for r in appended_index["terms"].collect()
    }
    assert a == b
    ca = classic_index["corpus_stats"].collect()[0]
    cb = appended_index["corpus_stats"].collect()[0]
    assert ca.n_docs == cb.n_docs
    assert math.isclose(ca.avg_doc_len, cb.avg_doc_len, rel_tol=0, abs_tol=0)


def test_unpruned_layout_superset_and_prune_boundary(
    classic_index, appended_index
):
    """The appended store keeps df≤5 postings (unpruned layout); the
    classic store drops them — and on PRUNED terms both stores hold the
    same rows."""
    pruned = classic_index["postings"].select("term", "doc_id")
    unpruned = appended_index["postings"].select("term", "doc_id")
    missing = pruned.exceptAll(unpruned).count()
    assert missing == 0
    assert unpruned.count() > pruned.count()
    extra = unpruned.join(
        appended_index["terms"].select("term"), "term", "left_semi"
    ).exceptAll(pruned).count()
    assert extra == 0


def test_append_refuses_df_pruned_index(spark, docs_df, classic_dir):
    """A classic build drops df≤5 postings for good, so appending to it
    would return wrong rankings once a term's df crosses the prune: the
    append raises before it writes anything."""
    new = docs_df.limit(3).withColumn("url", F.concat("url", F.lit("?v2")))
    files = sorted(glob.glob(f"{classic_dir}/**/*", recursive=True))
    with pytest.raises(ValueError, match="df prune"):
        append_to_index(spark, classic_dir, new)
    assert sorted(glob.glob(f"{classic_dir}/**/*", recursive=True)) == files
