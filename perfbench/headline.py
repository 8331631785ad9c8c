"""``headline``: the engine's operator kernels and its durable BM25
index, through the queries of the repository's ``bench.py`` headline
set that run on them, on a generated star schema.

The read kinds are every headline query whose work is in one of the
engine's operator kernels or in the durable-index read, with the two
substitutions ``bench.py`` makes (minhash times the raw operator over
the documents table; BM25 retrieval reads a prebuilt durable index).
The write kind is the index's own write path: each pass first appends
a batch of documents to the index, as the registry's
``ds_bm25_index_topk`` does once. The rest of the headline set is left
out to fit the time budget: its relational queries run on Spark's own
operators, and its lineage queries, the write-path rebuild among them,
are ``bulk_mixed``'s layers. One kernel query is left out because of an
engine defect; see ``KNOWN_DEFECT``.

Set-up builds the BM25 index. A first (cold) pass is the warm-up; after
its one append the index holds what the registry's query builds, so all
of its results are hashed against the registry's DuckDB oracles
(minhash: row count), outside any timed window. A fixed number of timed
passes follows; each of their row counts must match the checked pass.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import statistics
import time

import duckdb
import pyarrow.compute as pc

import datagen
import layers
import spans
from stats import Outcomes

SCALE = 0.01  # 15k orders, ~60k line items, 10k events, 500 documents
SETUP_REPS = 3
APPEND = "bm25_append"
QUERIES = (
    "ext_asof_purchase_click",  # joins.as_of_join
    "ds_dedup_exact",  # dedup.exact_duplicates
    "ds_minhash_lsh_candidates",  # dedup.minhash_lsh_candidates
    "ds_embedding_topk",  # similarity.brute_force_topk
    "ds_text_stats",  # textops.text_stats
    "ds_bm25_index_topk",  # textsearch.bm25_topk_from_index
)
OPS = (APPEND,) + QUERIES
# ext_events_sessions (windows.sessionize) belongs in the set but gives
# wrong answers: it compares whole-second unix_timestamp values, so a gap
# of 1800.5 s does not start a new session, while its oracle (and the
# function's own contract, "a gap that exceeds gap_minutes") says it
# does. Which seeds hit it depends on the data. It returns to QUERIES
# when the engine is fixed; perfbench/tests/test_known_defects.py
# reproduces it. Every report names it.
KNOWN_DEFECT = {
    "ext_events_sessions": "left out: windows.sessionize compares whole-second "
    "timestamps, so a gap of 1800-1801 s starts no new session",
}
# A run does a fixed number of passes, sized from --seconds at this
# nominal warm pass time on a 4-core host.
PASS_S = 4.8
BM25_TERMS = ["join", "filter", "merge"]
BM25_K = 20
# timed on the raw operator, not the registry's gate-shaped query:
# checked by row count only
SUBSTITUTED = ("ds_minhash_lsh_candidates",)


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{0.0 if v == 0 else v:.10g}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def result_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count and an order-insensitive hash over name-sorted columns."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return len(rows), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class Queries:
    """The headline query functions, with the two substitutions, and
    the index append."""

    def __init__(self, spark, data_dir: str, index_dir: str, max_doc_id: int):
        from lineage_store_database_management_system_spark import workloads

        self.spark, self.data_dir, self.index_dir = spark, data_dir, index_dir
        self.workloads = workloads
        self.appends = 0
        self.id_span = max_doc_id + 1

    def _docs(self):
        return self.spark.read.parquet(os.path.join(self.data_dir, "documents.parquet")).select("doc_id", "text")

    def append(self) -> None:
        """Append the registry's planted batch (every 31st document,
        re-keyed past the largest id, with keyword text) to the index.
        Each append takes fresh ids."""
        from pyspark.sql import functions as F

        from lineage_store_database_management_system_spark.operators import textsearch

        docs = self._docs()
        self.appends += 1
        off = self.id_span * self.appends
        planted = docs.where(F.col("doc_id") % 31 == 0).select(
            (F.col("doc_id") + off).alias("doc_id"),
            F.concat(F.lit("join merge probe "), F.col("doc_id").cast("string")).alias("text"),
        )
        textsearch.append_bm25_index(planted, self.index_dir)

    def run(self, name: str):
        """The query's DataFrame (built, not yet executed)."""
        from lineage_store_database_management_system_spark.operators import dedup, textsearch

        if name == "ds_minhash_lsh_candidates":
            docs = self.spark.read.parquet(os.path.join(self.data_dir, "documents.parquet"))
            return dedup.minhash_lsh_candidates(docs, "doc_id", "text")
        if name == "ds_bm25_index_topk":
            return textsearch.bm25_topk_from_index(self.spark, self.index_dir, BM25_TERMS, k=BM25_K)
        return self.workloads.QUERIES[name](self.spark, self.data_dir)


def build_index(spark, data_dir: str, index_dir: str) -> None:
    from lineage_store_database_management_system_spark.operators import textsearch

    docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet")).select("doc_id", "text")
    textsearch.write_bm25_index(docs, index_dir)


def _expected(data_dir: str) -> dict[str, tuple[int, str]]:
    from lineage_store_database_management_system_spark import workloads

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET TimeZone = 'UTC'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in QUERIES:
        if name in SUBSTITUTED:
            continue
        res = con.execute(workloads.ORACLE[name])
        out[name] = result_hash([d[0] for d in res.description], res.fetchall())
    return out


def op_class(name: str) -> str:
    return f"{'write' if name == APPEND else 'read'}.{name}"


def _count(qs: Queries, name: str, tracer) -> int | None:
    """One op: the append, or a query timed to the completion of a
    count (as ``bench.py`` does)."""
    with tracer.span(f"headline.{name}"):
        return qs.append() if name == APPEND else qs.run(name).count()


def _collect(qs: Queries, name: str, got: dict) -> int:
    df = qs.run(name)
    rows = df.collect()
    got[name] = (df.columns, [tuple(r) for r in rows])
    return len(rows)


def passes_for(seconds: float) -> int:
    return max(2, math.ceil(seconds / PASS_S))


def run(ctx) -> dict:
    spark = ctx.spark
    data_dir = ctx.scratch.sub("input")
    tables = datagen.star_schema(ctx.seed, SCALE)
    input_bytes = datagen.write_tables(tables, data_dir)
    max_doc_id = pc.max(tables["documents"]["doc_id"]).as_py()

    setup_times, index_dirs = [], []
    for i in range(SETUP_REPS):
        idx = os.path.join(ctx.scratch.sub(f"bm25-{i}"), "bm25")
        t0 = time.perf_counter()
        build_index(spark, data_dir, idx)
        setup_times.append(time.perf_counter() - t0)
        index_dirs.append(idx)
    qs = Queries(spark, data_dir, index_dirs[-1], max_doc_id)

    # cold pass: warm-up, and the pass whose full results are checked
    warm = Outcomes()
    got: dict = {}
    t0 = time.perf_counter()
    warm.timed(op_class(APPEND), qs.append)
    for name in QUERIES:
        warm.timed(op_class(name), _collect, qs, name, got)
    cold_s = time.perf_counter() - t0

    out = Outcomes()
    counts: dict[str, list[int]] = {}
    passes = []
    split = spans.Split(ctx.tracer)
    undo = layers.instrument(ctx.tracer) if ctx.tracer.enabled else None
    try:
        for _ in range(passes_for(ctx.seconds)):
            t1 = time.perf_counter()
            for name in OPS:
                ok, n = split.timed(out, op_class(name), _count, qs, name, ctx.tracer)
                if ok and name != APPEND:
                    counts.setdefault(name, []).append(n)
            passes.append(time.perf_counter() - t1)
    finally:
        if undo:
            undo()

    res = {
        "outcomes": out,
        "setup_s": statistics.median(setup_times),
        "write_classes": [op_class(APPEND)],
        "read_classes": [op_class(n) for n in QUERIES],
        "other_classes": [],
        "detail": {
            "scale": SCALE,
            "input_bytes": input_bytes,
            "rows": {n: len(got[n][1]) for n in got},
            "setup_runs_s": setup_times,
            "headline_cold_s": cold_s,
            "headline_s": statistics.median(passes),
            "passes": len(passes),
            "warmup_failed": warm.failed,
            "known_defect": KNOWN_DEFECT,
        },
    }
    if ctx.tracer.enabled:
        red = layers.Reduced(ctx.tracer, ctx.rest.snapshot())
        lay = layers.empty(ctx.spec)
        layers.common(lay, red, ctx.session_start_s, cold_s, split.overhead_frac())
        layers.headline(red, lay, OPS)
        res["layers"] = lay
        res["trace_check"] = red.check
    check(data_dir, got, counts, warm, out)
    return res


def check(data_dir: str, got: dict, counts: dict, warm: Outcomes, out: Outcomes) -> None:
    """Hash the cold pass against the oracles (row count for the
    substituted query); every timed pass must return the same row
    counts. A query that failed in the cold pass counts as wrong. The
    index query's hash checks the cold pass's append too."""
    exp = _expected(data_dir)
    for name in QUERIES:
        if name not in got:
            out.wrong(f"{name}: failed in the checked pass")
            continue
        cols, rows = got[name]
        if name in SUBSTITUTED:
            ok = len(rows) > 0
        else:
            ok = result_hash(cols, rows) == exp[name]
        if not ok:
            out.wrong(f"{name}: {result_hash(cols, rows)} oracle {exp.get(name)}")
        for n in counts.get(name, []):
            if n != len(rows):
                out.wrong(f"{name}: timed pass returned {n} rows, checked pass {len(rows)}")
    for e in warm.errors:
        out.errors.append(f"checked pass: {e}")
