"""Expected answers and the comparisons the benchmark makes after timing.

Ground truth comes from the repository's own independent references: the
pure-Python oracle of ``tests/oracle.py`` for the index and the ranked
queries, and the DuckDB twins of ``__spark_entry__.oracle_sql()`` with
``tools/check_contract.py``'s canonicalisation for the contract entries.
Payload top-k has no pure-Python twin; it is checked against the engine's
exhaustive scorer, as ``tests/test_wand.py`` does.  Nothing here is timed.
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys
from collections import defaultdict

from modernsearchengines_spark.operators.expansion import spellcheck

SCORE_TOL = 1e-9


def load_module(root: str, relpath: str, name: str):
    """Import a repository file that is not inside a package."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, relpath))
    module = importlib.util.module_from_spec(spec)
    sys.modules[name] = module
    spec.loader.exec_module(module)
    return module


def same_ranking(
    got: list[tuple[int, float]], expected: list[tuple[int, float]], k: int
) -> bool:
    """``got`` is the top ``k`` of ``expected``, a longer or full ranking,
    both as (doc_id, score) in rank order: the right length, the same score
    at every rank, and every returned doc scored the same by the reference.
    Docs tied within the tolerance may come in either order."""
    if len(got) != min(k, len(expected)) or len({d for d, _ in got}) != len(got):
        return False
    ref = dict(expected)
    for (doc, score), (_, exp_score) in zip(got, expected):
        if doc not in ref:
            return False
        if not math.isclose(score, exp_score, rel_tol=0, abs_tol=SCORE_TOL):
            return False
        if not math.isclose(ref[doc], score, rel_tol=0, abs_tol=SCORE_TOL):
            return False
    return True


class WebOracle:
    """The oracle index of a generated web corpus and its query answers."""

    def __init__(self, root: str, rows: list[dict]):
        self.mod = load_module(root, "tests/oracle.py", "perfbench_oracle")
        self.index = self.mod.build_index(self.mod.clean_corpus(rows))

    def corpus_ok(self, n_docs: int, avg_doc_len: float, term_df: dict[str, int]) -> bool:
        idx = self.index
        want_df = {t: len(docs) for t, docs in idx.postings.items()}
        return (
            n_docs == idx.n_docs
            and math.isclose(avg_doc_len, idx.avg_doc_len, rel_tol=0, abs_tol=1e-9)
            and term_df == want_df
        )

    def parity(self, text: str, spell: bool) -> list[tuple[int, float]]:
        """Full reference-semantics ranking (``query.search`` spell-corrects
        first; ``run_query_batch`` does not)."""
        query = spellcheck(text) if spell else text
        ranked = self.mod.run_query(self.index, query, top_k=1 << 30)
        return [(r.doc_id, r.score) for r in ranked]

    def bm25_sum(self, terms: tuple[str, ...]) -> list[tuple[int, float]]:
        """Full Σbm25 ranking over a compiled query's terms."""
        scores: dict[int, float] = defaultdict(float)
        for term in terms:
            for doc_id, (bm25, _) in self.index.postings.get(term, {}).items():
                scores[doc_id] += bm25
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))

    def matched_postings(self, terms: tuple[str, ...]) -> int:
        return sum(len(self.index.postings.get(t, {})) for t in terms)


def tie_ranks(rows: list[dict], columns: list[str]) -> list[dict]:
    """Rows of a ranked entry (``rank`` and ``score`` columns, ``qnum`` if
    several queries) with each rank replaced by the first rank of its run of
    equal scores.  Docs whose scores tie exactly may then come in either
    order: the entries round scores to six places, but neither the engine
    nor DuckDB sums a doc's term scores in a fixed order, so the last bit
    of two tied sums, and with it their order, varies (two DuckDB runs of
    the same query have ranked such a pair both ways)."""
    if "rank" not in columns or "score" not in columns:
        return rows
    by_query: dict = defaultdict(list)
    for row in rows:
        by_query[row.get("qnum")].append(row)
    out = []
    for ranked in by_query.values():
        ranked.sort(key=lambda r: r["rank"])
        for i, row in enumerate(ranked):
            if i == 0 or row["score"] != ranked[i - 1]["score"]:
                first = row["rank"]
            out.append({**row, "rank": first})
    return out


class ContractOracle:
    """DuckDB over the generated contract tables."""

    def __init__(self, root: str, data_dir: str, tables: list[str], entry_module):
        import duckdb

        self.check = load_module(root, "tools/check_contract.py", "perfbench_check_contract")
        self.sql = entry_module.oracle_sql()
        self.con = duckdb.connect()
        for t in tables:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._expected: dict[str, list] = {}

    def matches(self, name: str, columns: list[str], rows: list[dict]) -> bool:
        if name not in self._expected:
            ddf = self.con.sql(self.sql[name]).df()
            cols = list(ddf.columns)
            self._expected[name] = (
                sorted(cols), self.check.canon(tie_ranks(ddf.to_dict("records"), cols), cols)
            )
        want_cols, want_rows = self._expected[name]
        return (
            sorted(columns) == want_cols
            and self.check.canon(tie_ranks(rows, columns), columns) == want_rows
        )

    def close(self) -> None:
        self.con.close()
