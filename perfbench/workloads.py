"""The two workloads: ``serve`` and ``contract``.

Each workload gets a :class:`Run` (session, tracer, seed, time budget) and
fills in its end-to-end samples and per-layer values.  Both are closed
loops with one client: the next operation starts when the previous one has
returned.  The timed region of an operation holds only calls into the
engine; result checks, tracer bookkeeping, conversion of result rows and
clean-up run between operations or after the timed region.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from modernsearchengines_spark.operators import indexer, query, wand
from modernsearchengines_spark.operators.expansion import compile_query

from checks import ContractOracle, WebOracle, same_ranking
from inputs import TABLES, contract_tables, query_stream, web_corpus

# Input sizes.  Per-call fixed cost dominates at these sizes on 4 cores,
# which is the regime the ROADMAP targets (per-query jobs and stages).
SERVE_DOCS = 300
SERVE_QUERIES = 48
SERVE_TOPK = 100
SEARCH_TOPK = 10
CONTRACT_SF = 0.01

# The contract entries, in the order every pass runs them: the 13 ROADMAP
# headline entries plus the pruned and payload top-k, idf and connected
# components.  The order is fixed because the first pass of a session pays
# each entry's code generation and part of the JVM's warm-up, which lands
# on whatever runs early: a seeded order moved the per-entry median by up
# to 1.7x between seeds.
CONTRACT_ENTRIES = [
    "bm25_topk", "synonym_votes", "tpch_pricing_summary",
    "join_revenue_by_nation", "events_json", "ann_cosine_topk",
    "term_df_pruned", "fingerprint", "events_hourly", "lang_id",
    "exact_dedup", "quality_score", "minmax_norm",
    "wand_pruned_topk", "payload_topk", "idf", "dedup_components",
]

# Untimed entries outside that set that warm the JVM, the Python workers and
# the scan, shuffle and window paths before the timed pass, so that the
# JVM's own warm-up does not land on whichever timed entry runs first.
CONTRACT_WARMUP = [
    "corpus_stats", "token_counts", "simhash_values", "orders_rollup", "events_sessions",
]

SERVE_KINDS = ("search", "topk", "topk_payload")
INDEX_TABLES = ("postings", "blocks", "terms", "doc_stats")


def whole_units(seconds: float):
    """Yield 0, 1, 2, ... while fewer than ``seconds`` have passed since the
    first yield: the timed region runs whole cycles or passes, at least one."""
    start = time.perf_counter()
    n = 0
    while n == 0 or time.perf_counter() - start < seconds:
        yield n
        n += 1


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


@dataclass
class Run:
    root: str
    work: str
    seed: int
    seconds: float
    spark: object
    tracer: object
    cpu: object  # () -> CPU seconds used so far by the engine's processes
    memory: object  # () -> peak resident MB of the engine's processes so far
    attempted: int = 0
    failed: int = 0
    first_op: float | None = None
    peak_rss_mb: float = 0.0
    op_walls: list[float] = field(default_factory=list)
    op_cpus: list[float] = field(default_factory=list)
    items: int = 0  # queries (serve batch) or entries (contract pass)
    items_wall: float = 0.0
    items_cpu: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)
    digests: dict[str, str] = field(default_factory=dict)
    timed_shares: list[float] = field(default_factory=list)
    mark: int = 0  # spans before this id belong to set-up

    def mark_setup_done(self) -> None:
        self.tracer.resolve()
        self.mark = len(self.tracer.spans)

    def start_timing(self) -> None:
        self.first_op = time.perf_counter()

    def end_timing(self) -> None:
        """Take the peak memory before any answer check runs."""
        self.peak_rss_mb = self.memory()

    def fail(self, what: str, err: object) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}: {err}", file=sys.stderr, flush=True)

    def record_op(self, op_rec: dict, cpu0: float, cpu1: float) -> None:
        """Resolve the Spark counters of an ended operation and keep its
        wall, net of tracer bookkeeping, and its CPU time ``cpu1 - cpu0``
        as end-to-end samples."""
        self.op_cpus.append(cpu1 - cpu0)
        self.tracer.resolve()
        wall = self.tracer.net_wall(op_rec)
        self.op_walls.append(wall)
        calls = [
            s for s in self.tracer.spans
            if s["parent"] == op_rec["id"] and s["call"]
        ]
        covered = sum(self.tracer.net_wall(s) for s in calls)
        self.timed_shares.append(covered / wall if wall > 0 else 1.0)

    def calls(self, name: str, setup: bool = False) -> list[dict]:
        """Call spans named ``name`` from the timed region, or from set-up."""
        return [
            s for s in self.tracer.spans
            if s["name"] == name and s["call"] and (s["id"] < self.mark) == setup
        ]


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _layer_stats(run: Run, prefix: str, spans: list[dict], fields: dict[str, str]) -> None:
    """Median over calls of each ``field`` (span key) as ``prefix.name``."""
    for name, key in fields.items():
        run.layers[f"{prefix}.{name}"] = _median(
            [run.tracer.net_wall(s) if key == "wall_s" else s.get(key, 0.0) for s in spans]
        )


def _combined(groups: list[list[dict]], key: str) -> list[float]:
    """Per-operation sums of ``key`` over the calls of one operation, where
    ``groups`` holds the construct and execute spans in operation order."""
    return [sum(s.get(key, 0.0) for s in parts) for parts in zip(*groups)]


_COUNTERS = {"jobs": "jobs", "stages": "stages", "executor_s": "executor_s",
             "udf_s": "udf_s", "shuffle_mb": "shuffle_write_mb"}
_SPARK_COUNTERS = ("jobs", "stages", "executor_s")


def _phase_layers(run: Run, prefix: str, counters: tuple[str, ...] = _SPARK_COUNTERS) -> None:
    """``construct_s``/``execute_s`` medians over the calls of the spans
    ``<prefix>.construct`` and ``<prefix>.execute``, plus each of
    ``counters`` summed over both phases of a call, median over calls."""
    c, e = run.calls(f"{prefix}.construct"), run.calls(f"{prefix}.execute")
    run.layers[f"{prefix}.construct_s"] = _median([run.tracer.net_wall(s) for s in c])
    run.layers[f"{prefix}.execute_s"] = _median([run.tracer.net_wall(s) for s in e])
    for name in counters:
        run.layers[f"{prefix}.{name}"] = _median(_combined([c, e], _COUNTERS[name]))


# --------------------------------------------------------------------------
# serve
# --------------------------------------------------------------------------
def _build_once(run: Run, docs, out: str) -> None:
    """clean_docs → build_index → write_index into ``out``; one operation."""
    spark, tr = run.spark, run.tracer
    with tr.span("op build", call=False):
        with tr.span("indexer.clean_docs"):
            clean = indexer.clean_docs(docs)
        with tr.span("indexer.build_index"):
            index = indexer.build_index(spark, clean, work_dir=f"{out}.work")
        with tr.span("indexer.write_index"):
            indexer.write_index(index, out)
    indexer.unpersist_index(index)


def _index_facts(out: str) -> dict:
    """What a build wrote, read back with pyarrow (no Spark jobs)."""
    stats = pq.read_table(f"{out}/corpus_stats").to_pylist()[0]
    terms = pq.read_table(f"{out}/terms", columns=["term", "df"]).to_pylist()
    facts = {
        "n_docs": stats["n_docs"],
        "avg_doc_len": stats["avg_doc_len"],
        "term_df": {r["term"]: r["df"] for r in terms},
        "bytes": dir_bytes(out),
        "postings_rows": pq.ParquetDataset(f"{out}/postings").read(columns=["doc_id"]).num_rows,
    }
    for table in INDEX_TABLES:
        facts[f"{table}_mb"] = dir_bytes(f"{out}/{table}") / (1 << 20)
    return facts


def _index_layers(run: Run, facts: dict, input_bytes: int) -> None:
    for table in INDEX_TABLES:
        run.layers[f"index.{table}_mb"] = facts[f"{table}_mb"]
    run.layers["index.postings_rows"] = facts["postings_rows"]
    run.layers["index.bytes_per_input_byte"] = facts["bytes"] / input_bytes


def _indexer_layers(run: Run, setup: bool) -> None:
    _layer_stats(run, "indexer.build_index", run.calls("indexer.build_index", setup), {
        "wall_s": "wall_s", "jobs": "jobs", "stages": "stages",
        "executor_s": "executor_s", "udf_s": "udf_s",
        "shuffle_write_mb": "shuffle_write_mb", "spill_mb": "spill_mb",
    })
    _layer_stats(run, "indexer.write_index", run.calls("indexer.write_index", setup), {
        "wall_s": "wall_s", "jobs": "jobs", "stages": "stages",
        "executor_s": "executor_s", "shuffle_write_mb": "shuffle_write_mb",
        "spill_mb": "spill_mb",
    })


def _ranked(rows) -> list[tuple[int, float]]:
    return [(r.doc_id, r.score) for r in sorted(rows, key=lambda r: r.rank)]


class _Serve:
    """The served index and the three kinds of operation over it.  Each
    returns the engine's result rows as they were collected."""

    def __init__(self, spark, tracer, index, docs):
        self.spark, self.tracer, self.index, self.docs = spark, tracer, index, docs

    def search(self, text: str, op: int):
        tr = self.tracer
        with tr.span("query.search.construct", op):
            df = query.search(self.spark, self.index, self.docs, text, top_k=SEARCH_TOPK)
        with tr.span("query.search.execute", op):
            rows = df.collect()
        with tr.span("query.release", op):
            query.release(df)
        return rows

    def topk(self, text: str, op: int, payload: bool):
        tr, idx = self.tracer, self.index
        with tr.span("expansion.compile_query", op):
            compiled = compile_query(1, text)
        with tr.span("query.query_terms_df", op):
            terms = query.query_terms_df(self.spark, [compiled], index=idx)
        name = "payload" if payload else "light"
        with tr.span(f"wand.bm25_topk_auto.{name}.construct", op):
            df = wand.bm25_topk_auto(
                idx["postings"], idx["blocks"], terms, k=SERVE_TOPK, payload=payload
            )
        with tr.span(f"wand.bm25_topk_auto.{name}.execute", op):
            rows = df.collect()
        with tr.span("query.release", op):
            query.release(df)
        return rows

    def op(self, kind: str, text: str, op: int):
        if kind == "search":
            return self.search(text, op)
        return self.topk(text, op, payload=kind == "topk_payload")

    def batch(self, queries: list[tuple[int, str]], op: int):
        tr = self.tracer
        with tr.span("query.run_query_batch.construct", op):
            df = query.run_query_batch(self.spark, self.index, queries, top_k=SERVE_TOPK)
        with tr.span("query.run_query_batch.execute", op):
            rows = df.collect()
        with tr.span("query.release", op):
            query.release(df)
        return rows


def _payload_expected(run: Run, index, texts: list[str]) -> list[list[tuple[int, float]]]:
    """Exhaustive payload rankings for every payload op in one engine call,
    twice as deep as the ops' k so that ties at the k-th rank are visible."""
    compiled = [compile_query(i + 1, t) for i, t in enumerate(texts)]
    terms = query.query_terms_df(run.spark, compiled, index=index)
    rows = wand.bm25_prox_topk_exhaustive(
        index["postings"], terms, k=2 * SERVE_TOPK
    ).collect()
    by_q = _by_query(rows)
    return [by_q.get(i + 1, []) for i in range(len(texts))]


def _by_query(rows) -> dict[int, list[tuple[int, float]]]:
    """Rows of a multi-query result as ranked (doc_id, score) per qnum."""
    out: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(rows, key=lambda r: (r.qnum, r.rank)):
        out.setdefault(r.qnum, []).append((r.doc_id, r.score))
    return out


def run_serve(run: Run) -> None:
    spark, tr = run.spark, run.tracer
    path = f"{run.work}/docs.parquet"
    rows, run.digests["corpus"] = web_corpus(SERVE_DOCS, run.seed, path)
    queries, head, run.digests["queries"] = query_stream(rows, SERVE_QUERIES, run.seed)
    input_bytes = sum(len(r["text"].encode("utf-8")) for r in rows)
    docs = spark.read.parquet(path)

    # Set-up: build and open a fresh index (the build is checked below like
    # any operation) and cache the snippet source.  The build also starts
    # the Python workers and warms the JVM for the ops.
    out = f"{run.work}/index"
    run.attempted += 1
    _build_once(run, docs, out)
    with tr.span("indexer.read_index"):
        index = indexer.read_index(spark, out, serve=True)
    snippet_docs = indexer.assign_doc_ids(docs).select("doc_id", "text").cache()
    snippet_docs.count()
    serve = _Serve(spark, tr, index, snippet_docs)
    run.mark_setup_done()
    _indexer_layers(run, setup=True)
    run.layers["indexer.read_index.wall_s"] = _median(
        [tr.net_wall(s) for s in run.calls("indexer.read_index", setup=True)]
    )

    # Timed stream: whole cycles of the three kinds.
    done: list[tuple[str, str, list]] = []
    run.start_timing()
    n_ops = 0
    for _ in whole_units(run.seconds):
        for kind in SERVE_KINDS:
            text = queries[n_ops % len(queries)][1]
            run.attempted += 1
            cpu0 = run.cpu()
            try:
                with tr.span(f"op {kind}", op=n_ops, call=False) as op:
                    got = serve.op(kind, text, n_ops)
            except Exception as err:  # noqa: BLE001
                run.fail(f"{kind} op {n_ops}", err)
            else:
                run.record_op(op, cpu0, run.cpu())
                done.append((kind, text, got))
            n_ops += 1

    run.attempted += 1
    batch = None
    cpu0 = run.cpu()
    try:
        with tr.span("op batch", op=n_ops, call=False) as op:
            batch_rows = serve.batch(queries, n_ops)
        run.items, run.items_cpu = len(queries), run.cpu() - cpu0
        tr.resolve()
        run.items_wall = tr.net_wall(op)
        batch = _by_query(batch_rows)
    except Exception as err:  # noqa: BLE001
        run.fail("batch", err)
    run.end_timing()

    # Answer checks, outside the timed region.
    built = _index_facts(out)
    _index_layers(run, built, input_bytes)
    oracle = WebOracle(run.root, rows)
    if not oracle.corpus_ok(built["n_docs"], built["avg_doc_len"], built["term_df"]):
        run.fail("build", "corpus_stats or term df differ from the oracle")
    payload_texts = [text for kind, text, _ in done if kind == "topk_payload"]
    payload_expected = iter(_payload_expected(run, index, payload_texts)) if payload_texts else iter(())
    for j, (kind, text, got_rows) in enumerate(done):
        if kind == "search":
            got = [(r.doc_id, r.score) for r in got_rows]
            ok = same_ranking(got, oracle.parity(text, spell=True), SEARCH_TOPK)
        elif kind == "topk":
            got = _ranked(got_rows)
            ok = same_ranking(got, oracle.bm25_sum(compile_query(1, text).terms), SERVE_TOPK)
        else:
            got = _ranked(got_rows)
            ok = same_ranking(got, next(payload_expected), SERVE_TOPK)
        if not ok:
            run.fail(f"{kind} op {j} ({text!r})", "ranking differs from the reference")
    if batch is not None:
        bad = [
            q for q, text in queries
            if not same_ranking(batch.get(q, []), oracle.parity(text, spell=False), SERVE_TOPK)
        ]
        if bad:
            run.fail("batch", f"queries {bad} differ from the oracle")

    for prefix in ("query.search", "wand.bm25_topk_auto.light", "wand.bm25_topk_auto.payload"):
        _phase_layers(run, prefix, _SPARK_COUNTERS + ("udf_s", "shuffle_mb"))
    _layer_stats(run, "query.query_terms_df", run.calls("query.query_terms_df"),
                 {"wall_s": "wall_s", "jobs": "jobs"})
    _layer_stats(run, "expansion.compile_query", run.calls("expansion.compile_query"),
                 {"wall_s": "wall_s"})
    _layer_stats(run, "query.release", run.calls("query.release"), {"wall_s": "wall_s"})
    _phase_layers(run, "query.run_query_batch")
    compiled = [compile_query(q, t) for q, t in queries]
    run.layers["serve.matched_postings_per_query"] = statistics.fmean(
        oracle.matched_postings(c.terms) for c in compiled
    )
    head_terms = set(compile_query(0, " ".join(head)).original_terms)
    run.layers["serve.head_term_query_share"] = statistics.fmean(
        float(bool(head_terms & set(c.original_terms))) for c in compiled
    )
    snippet_docs.unpersist()


# --------------------------------------------------------------------------
# contract
# --------------------------------------------------------------------------
def run_contract(run: Run) -> None:
    import __spark_entry__ as entry_module

    tr = run.tracer
    data = f"{run.work}/contract"
    os.makedirs(data, exist_ok=True)
    run.digests["tables"] = contract_tables(CONTRACT_SF, run.seed, data)
    fns = entry_module.queries()

    def one(name: str, op: int):
        fn = fns[name]
        with tr.span(f"op q_{name}", op=op, call=False) as rec:
            with tr.span(f"spark_entry.q_{name}.construct", op):
                df = fn(run.spark, data)
            with tr.span(f"spark_entry.q_{name}.execute", op):
                rows = df.collect()
        return rec, df, rows

    for name in CONTRACT_WARMUP:
        one(name, -1)
    run.mark_setup_done()

    results: list[tuple[str, list, list]] = []
    pass_walls: list[float] = []
    pass_cpus: list[float] = []
    pass_spans: list[list[dict]] = []
    run.start_timing()
    for _ in whole_units(run.seconds):
        wall, cpu, spans = 0.0, 0.0, []
        for name in CONTRACT_ENTRIES:
            op = run.attempted
            run.attempted += 1
            cpu0 = run.cpu()
            try:
                rec, df, rows = one(name, op)
            except Exception as err:  # noqa: BLE001
                run.fail(f"q_{name}", err)
                continue
            run.record_op(rec, cpu0, run.cpu())
            wall += run.op_walls[-1]
            cpu += run.op_cpus[-1]
            spans.append(rec)
            results.append((name, df.columns, [r.asDict() for r in rows]))
        pass_walls.append(wall)
        pass_cpus.append(cpu)
        pass_spans.append(spans)
    run.end_timing()

    oracle = ContractOracle(run.root, data, TABLES, entry_module)
    try:
        for name, cols, rows in results:
            if not oracle.matches(name, cols, rows):
                run.fail(f"q_{name}", "rows differ from the DuckDB oracle")
    finally:
        oracle.close()

    run.items = len(CONTRACT_ENTRIES)
    run.items_wall = statistics.median(pass_walls)
    run.items_cpu = statistics.median(pass_cpus)
    run.layers["spark_entry.suite_s"] = run.items_wall
    for name in CONTRACT_ENTRIES:
        _phase_layers(run, f"spark_entry.q_{name}", ("jobs",))
    per_pass = {"stages": "stages", "executor_s": "executor_s", "shuffle_mb": "shuffle_write_mb"}
    for name, key in per_pass.items():
        sums = []
        for spans in pass_spans:
            ids = {s["id"] for s in spans}
            sums.append(sum(s.get(key, 0.0) for s in tr.spans if s["parent"] in ids))
        run.layers[f"spark_entry.{name}"] = _median(sums)


WORKLOADS = {"serve": run_serve, "contract": run_contract}
