"""``bulk_mixed``: bulk commits beside the reads that fold their tail.

Set-up ingests seeded orders. The loop runs rounds of one mutation
commit followed by reads, with ``compact()`` after every third commit;
commit and read kinds rotate in seeded order. The first rounds, with
one read each, are an untimed warm-up on the same table; the rest, with
two reads each, are timed. Every call
goes through ``LineageTable``'s public API. Answers, the warm-up's too,
are checked after the loop by replaying the same mutations in DuckDB.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time

import duckdb
import pyarrow.parquet as pq

import datagen
import layers
import spans
from stats import FAILED, Outcomes

N_ORDERS = 150_000
N_CUSTOMERS = 15_000
SETUP_REPS = 3
# Timed rounds read twice, warm-up rounds once: a timed window of five
# rounds then times every read kind twice. With one read per timed
# round the 10-seed spread of read_ms was 21%.
READS_PER_ROUND = 2
COMPACT_EVERY = 3  # commits
# A run does a fixed number of rounds, sized from --seconds at this
# nominal round time (one commit, two reads and a share of compaction,
# after warm-up, on a 4-core host), and at least as many as there are
# read kinds. A time-bounded loop would let a faster engine run more
# commits, grow the tail, and slow its own reads.
ROUND_S = 2.3
# Spark's planner is still JIT-compiling through the first few dozen ops
# of a fresh JVM; a short warm-up left run-to-run spreads near 20%.
# Four rounds run every commit kind once and compact once.
WARM_ROUNDS = 4
KINDS = ("bulk_update", "bulk_delete", "merge_into", "mutation_batch")
READS = ("current_view", "range_sum", "version_range_sum", "point_lookup", "fast_count")
UPDATE_SPAN = 6_000  # key window an update draws from
DELETE_SPAN = 2_000
MERGE_ROWS = 2_000
RANGE_WIDTH = 5_000
HOT_WINDOWS = 3  # updates land on a few hot windows half the time: deep chains

# Fresh-row column formulas, valid in both Spark SQL and DuckDB, over
# the key ``k``.
FRESH_COLS = {
    "o_custkey": f"CAST(k % {N_CUSTOMERS} AS BIGINT)",
    "o_orderstatus": "CASE k % 3 WHEN 0 THEN 'O' WHEN 1 THEN 'P' ELSE 'F' END",
    "o_totalprice": "CAST((k % 997) * 1.5 + 2000.0 AS DOUBLE)",
    "o_orderpriority": "CASE k % 5 WHEN 0 THEN '1-URGENT' WHEN 1 THEN '2-HIGH' "
    "WHEN 2 THEN '3-MEDIUM' WHEN 3 THEN '4-NOT SPECIFIED' ELSE '5-LOW' END",
}
FRESH_DATE_DAYS = "k % 2000"
EPOCH_1995 = 788918400  # 1995-01-01 UTC


def _price_expr(const: float) -> str:
    return f"CAST((k % 997) * 1.5 + {const!r} AS DOUBLE)"


class Plan:
    """The seeded operation sequence; identical for the engine and the
    oracle replay."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_key = N_ORDERS
        self.commit_no = 0
        self.hot = [self.rng.randrange(0, N_ORDERS - UPDATE_SPAN) for _ in range(HOT_WINDOWS)]

    def _update(self) -> dict:
        lo = (
            self.rng.choice(self.hot)
            if self.rng.random() < 0.5
            else self.rng.randrange(0, self.next_key - UPDATE_SPAN)
        )
        self.commit_no += 1
        return {
            "lo": lo,
            "hi": lo + UPDATE_SPAN,
            "m": self.rng.choice((2, 3, 4)),
            "r": self.rng.randrange(0, 2),
            "const": 1000.0 + 7.0 * self.commit_no,
        }

    def _delete(self) -> dict:
        lo = self.rng.randrange(0, self.next_key - DELETE_SPAN)
        return {"lo": lo, "hi": lo + DELETE_SPAN, "m": self.rng.choice((3, 5, 7)), "r": self.rng.randrange(0, 3)}

    def commit(self, kind: str) -> dict:
        if kind == "bulk_update":
            return {"kind": kind, "update": self._update()}
        if kind == "bulk_delete":
            return {"kind": kind, "delete": self._delete()}
        if kind == "merge_into":
            lo = self.next_key
            self.next_key += MERGE_ROWS
            return {"kind": kind, "insert": {"lo": lo, "hi": lo + MERGE_ROWS}}
        return {"kind": kind, "update": self._update(), "delete": self._delete()}

    def read(self, kind: str) -> dict:
        lo = self.rng.randrange(0, self.next_key - RANGE_WIDTH)
        return {"kind": kind, "lo": lo, "hi": lo + RANGE_WIDTH - 1, "key": self.rng.randrange(0, self.next_key)}

    def stream(self, warm_rounds: int, rounds: int):
        """``warm_rounds`` rounds of one commit and one read, then
        ``rounds`` rounds of one commit and READS_PER_ROUND reads, with
        ``compact`` after every COMPACT_EVERY commits. Commit and read
        kinds each cycle through one seeded permutation, so any prefix
        holds every kind within one of its share."""
        kinds, reads = list(KINDS), list(READS)
        self.rng.shuffle(kinds)
        self.rng.shuffle(reads)
        n_commit = n_read = 0
        while n_commit < warm_rounds + rounds:
            yield self.commit(kinds[n_commit % len(kinds)])
            n_commit += 1
            for _ in range(1 if n_commit <= warm_rounds else READS_PER_ROUND):
                yield self.read(reads[n_read % len(reads)])
                n_read += 1
            if n_commit % COMPACT_EVERY == 0:
                yield {"kind": "compact"}


# ---------------------------------------------------------------------------
# engine side
# ---------------------------------------------------------------------------


def _keys_df(spark, sel: dict):
    return spark.range(sel["lo"], sel["hi"]).where(f"id % {sel['m']} = {sel['r']}").withColumnRenamed("id", "k")


def _changes(spark, upd: dict):
    return _keys_df(spark, upd).selectExpr("k AS o_orderkey", f"{_price_expr(upd['const'])} AS o_totalprice")


def _deletes(spark, dele: dict):
    return _keys_df(spark, dele).selectExpr("k AS o_orderkey")


def _fresh(spark, t, ins: dict):
    date_type = t.schema["o_orderdate"].dataType.simpleString()
    return spark.range(ins["lo"], ins["hi"]).withColumnRenamed("id", "k").selectExpr(
        "k AS o_orderkey",
        *(f"{expr} AS {c}" for c, expr in FRESH_COLS.items()),
        f"CAST(timestamp_seconds({EPOCH_1995} + ({FRESH_DATE_DAYS}) * 86400) AS {date_type}) AS o_orderdate",
    )


def _tail_rows_unfolded(t) -> int:
    """Tail rows above the compaction watermark, from the file log."""
    tps = t.manifest.tps
    n = 0
    for e in layers.live_files(t, "tail"):
        seq = e.get("stats", {}).get("_seq")
        if seq is None or seq[1] > tps:
            n += e.get("rows", 0)
    return n


def _live_files(t) -> int:
    n = len(layers.live_files(t, "base")) + len(layers.live_files(t, "tail"))
    if t.manifest.compact_version >= 0:
        n += len(layers.live_files(t, os.path.relpath(t.compacted_dir(), t.path)))
    return n


def apply_op(spark, t, op: dict, tracer):
    """Run one planned op against the engine; returns its answer."""
    from pyspark.sql import functions as F

    kind = op["kind"]
    if kind in KINDS:
        with tracer.span(f"lineage.commit.{kind}"):
            if kind == "bulk_update":
                t.bulk_update(_changes(spark, op["update"]))
            elif kind == "bulk_delete":
                t.bulk_delete(_deletes(spark, op["delete"]))
            elif kind == "merge_into":
                t.merge_into(_fresh(spark, t, op["insert"]))
            else:
                with t.mutation_batch() as b:
                    b.update(_changes(spark, op["update"]))
                    b.delete(_deletes(spark, op["delete"]))
        return None
    if kind == "compact":
        with tracer.span("lineage.compact", files_before=_live_files(t) if tracer.recording else 0) as sp:
            t.compact()
            if sp is not None:
                sp["counts"]["files_after"] = _live_files(t)
        return None
    counts = {"tail_rows": _tail_rows_unfolded(t)} if tracer.recording else {}
    lo, hi = op["lo"], op["hi"]
    if kind == "current_view":
        with tracer.span("lineage.current_view", **counts):
            return t.current_view().count()
    if kind == "range_sum":
        with tracer.span("lineage.current_view", **counts):
            v = t.current_view(key_range=(lo, hi)).where(F.col("o_orderkey").between(lo, hi))
            return v.agg(F.sum("o_totalprice"), F.count(F.lit(1))).collect()[0][:]
    if kind == "version_range_sum":
        with tracer.span("lineage.version_view", **counts):
            v = t.version_view(-1, key_range=(lo, hi)).where(F.col("o_orderkey").between(lo, hi))
            return v.agg(F.sum("o_totalprice"), F.count(F.lit(1))).collect()[0][:]
    if kind == "point_lookup":
        if tracer.recording:
            counts["files_live"] = _live_files(t)
        with tracer.span("lineage.point_lookup", **counts):
            rows = t.point_lookup("o_orderkey", op["key"]).select("o_orderkey", "o_totalprice").collect()
            return [tuple(r) for r in rows]
    if kind == "fast_count":
        with tracer.span("lineage.fast_count", **counts):
            return t.fast_count().collect()[0][0]
    raise ValueError(kind)


def op_class(op: dict) -> str:
    k = op["kind"]
    return "write" if k in KINDS else ("compact" if k == "compact" else "read")


# ---------------------------------------------------------------------------
# oracle: the same plan replayed in DuckDB
# ---------------------------------------------------------------------------


class Oracle:
    def __init__(self, src_parquet: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(
            f"CREATE TABLE cur AS SELECT o_orderkey AS k, o_custkey, o_orderstatus, "
            f"o_orderdate, o_orderpriority, TRUE AS live FROM '{src_parquet}'"
        )
        self.con.execute(
            f"CREATE TABLE hist AS SELECT o_orderkey AS k, 0 AS ver, o_totalprice AS price FROM '{src_parquet}'"
        )

    def _sel(self, sel: dict) -> str:
        return f"k >= {sel['lo']} AND k < {sel['hi']} AND k % {sel['m']} = {sel['r']}"

    def _update(self, upd: dict) -> None:
        self.con.execute(
            f"INSERT INTO hist SELECT k, mv + 1, {_price_expr(upd['const'])} "
            f"FROM (SELECT k, max(ver) AS mv FROM hist GROUP BY k) m "
            f"WHERE {self._sel(upd)} AND k IN (SELECT k FROM cur WHERE live)"
        )

    def _delete(self, dele: dict) -> None:
        self.con.execute(f"UPDATE cur SET live = FALSE WHERE live AND {self._sel(dele)}")

    def apply(self, op: dict) -> None:
        kind = op["kind"]
        if kind in ("bulk_update", "mutation_batch"):
            self._update(op["update"])
        if kind in ("bulk_delete", "mutation_batch"):
            self._delete(op["delete"])
        if kind == "merge_into":
            ins = op["insert"]
            rng = f"range({ins['lo']}, {ins['hi']}) t(k)"
            self.con.execute(
                f"INSERT INTO cur SELECT k, {FRESH_COLS['o_custkey']}, {FRESH_COLS['o_orderstatus']}, "
                f"make_timestamp(1995, 1, 1, 0, 0, 0) + to_days(CAST({FRESH_DATE_DAYS} AS INTEGER)), "
                f"{FRESH_COLS['o_orderpriority']}, TRUE FROM {rng}"
            )
            self.con.execute(f"INSERT INTO hist SELECT k, 0, {FRESH_COLS['o_totalprice']} FROM {rng}")

    def _versions(self, back: int) -> str:
        return (
            "SELECT h.k, h.price FROM hist h JOIN (SELECT k, max(ver) AS mv FROM hist GROUP BY k) m "
            f"ON m.k = h.k AND h.ver = greatest(m.mv - {back}, 0) JOIN cur c ON c.k = h.k WHERE c.live"
        )

    def answer(self, op: dict):
        kind = op["kind"]
        if kind in ("current_view", "fast_count"):
            return self.con.execute("SELECT count(*) FROM cur WHERE live").fetchone()[0]
        lo, hi = op.get("lo"), op.get("hi")
        if kind in ("range_sum", "version_range_sum"):
            back = 0 if kind == "range_sum" else 1
            return self.con.execute(
                f"SELECT sum(price), count(*) FROM ({self._versions(back)}) v WHERE k BETWEEN {lo} AND {hi}"
            ).fetchone()
        if kind == "point_lookup":
            return [
                tuple(r)
                for r in self.con.execute(f"SELECT k, price FROM ({self._versions(0)}) v WHERE k = {op['key']}").fetchall()
            ]
        raise ValueError(kind)

    def final_rows(self) -> list[tuple]:
        return self.con.execute(
            "SELECT c.k, c.o_custkey, c.o_orderstatus, v.price, epoch(c.o_orderdate)::BIGINT, c.o_orderpriority "
            f"FROM cur c JOIN ({self._versions(0)}) v ON v.k = c.k ORDER BY c.k"
        ).fetchall()


def _same(kind: str, got, exp) -> bool:
    if kind in ("range_sum", "version_range_sum"):
        # (sum, count): sums differ in the last bits by summation order
        (s_got, n_got), (s_exp, n_exp) = got, exp
        if n_got != n_exp or (s_got is None) != (s_exp is None):
            return False
        return s_exp is None or abs(s_got - s_exp) <= 1e-9 * max(1.0, abs(s_exp))
    return got == exp


def engine_final_rows(t) -> list[tuple]:
    from pyspark.sql import functions as F

    tbl = (
        t.current_view()
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("o_orderdate").cast("timestamp").cast("long").alias("d"),
            "o_orderpriority",
        )
        .orderBy("o_orderkey")
        .toArrow()
    )
    return list(zip(*(c.to_pylist() for c in tbl.columns)))


def check(log: list[tuple[dict, object]], src: str, final_rows, out: Outcomes) -> None:
    """Replay ``log`` (op, engine answer) in DuckDB. Every wrong read
    counts as a failure (a read that raised already did), and so does a
    wrong final current view, which counts as one more attempt."""
    oracle = Oracle(src)
    for op, got in log:
        if op_class(op) != "read":
            oracle.apply(op)
            continue
        exp = oracle.answer(op)
        if got is not FAILED and not _same(op["kind"], got, exp):
            out.wrong(f"{op['kind']} {op}: engine {got!r} oracle {exp!r}")
    out.attempted += 1
    if final_rows != oracle.final_rows():
        out.wrong("final current view differs from the oracle")


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


def rounds_for(seconds: float) -> int:
    return max(len(READS), math.ceil(seconds / ROUND_S))


def _loop(ctx, t, plan: Plan, rounds: int, out: Outcomes, split, log: list) -> tuple[float, float]:
    """WARM_ROUNDS untimed rounds, then ``rounds`` timed ones, on one
    table and one plan. Warm-up ops are counted and logged for the
    check, under classes of their own, and never traced. Returns the
    warm-up and timed seconds."""

    def one(op, timed: bool) -> None:
        cls = f"{op_class(op)}.{op['kind']}"
        if timed:
            ok, ans = split.timed(out, cls, apply_op, ctx.spark, t, op, ctx.tracer)
        else:
            ok, ans = out.timed(f"warm.{cls}", apply_op, ctx.spark, t, op, ctx.off)
        log.append((op, ans if ok else FAILED))

    stream = plan.stream(WARM_ROUNDS, rounds)
    t0 = time.perf_counter()
    commits = 0
    for op in stream:
        commits += op["kind"] in KINDS
        if commits > WARM_ROUNDS:
            break
        one(op, False)
    warm_s = time.perf_counter() - t0
    undo = layers.instrument(ctx.tracer) if ctx.tracer.enabled else None
    try:
        one(op, True)
        for op in stream:
            one(op, True)
    finally:
        if undo:
            undo()
    return warm_s, time.perf_counter() - t0 - warm_s


def run(ctx) -> dict:
    from lineage_store_database_management_system_spark import Database

    spark = ctx.spark
    rng = datagen.np.random.default_rng([ctx.seed, 2])
    src = os.path.join(ctx.scratch.sub("input"), "orders.parquet")
    pq.write_table(datagen.orders(rng, N_ORDERS, N_CUSTOMERS), src)
    src_bytes = os.path.getsize(src)

    tables, setup_times = [], []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        db = Database().open(ctx.scratch.sub(f"db{i}"), spark)
        t = db.create_table_typed("orders", spark.read.parquet(src).schema, "o_orderkey")
        t.ingest_dataframe(spark.read.parquet(src))
        setup_times.append(time.perf_counter() - t0)
        tables.append(t)

    t = tables[0]
    out = Outcomes()
    log: list = []
    split = spans.Split(ctx.tracer)
    warm_s, loop_s = _loop(ctx, t, Plan(ctx.seed), rounds_for(ctx.seconds), out, split, log)
    final = engine_final_rows(t)

    res = {
        "outcomes": out,
        "setup_s": statistics.median(setup_times),
        "write_classes": [f"write.{k}" for k in KINDS],
        "read_classes": [f"read.{k}" for k in READS],
        "other_classes": ["compact.compact"],
        "detail": {
            "rows": N_ORDERS,
            "input_bytes": src_bytes,
            "setup_runs_s": setup_times,
            "warmup_s": warm_s,
            "loop_s": loop_s,
            "compact_s": out.median("compact.compact") / 1000.0 if out.samples.get("compact.compact") else None,
        },
    }
    if ctx.tracer.enabled:
        # space amplification: table bytes over the final view written
        # once as Parquet (traced runs only: it costs a write)
        view_dir = ctx.scratch.sub("view")
        t.current_view().write.parquet(os.path.join(view_dir, "v"))
        res["detail"]["space_amp"] = layers.dir_bytes(t.path) / layers.dir_bytes(view_dir)
        red = layers.Reduced(ctx.tracer, ctx.rest.snapshot())
        lay = layers.empty(ctx.spec)
        layers.common(lay, red, ctx.session_start_s, warm_s, split.overhead_frac())
        layers.bulk_mixed(red, lay, t)
        res["layers"] = lay
        res["trace_check"] = red.check
    t0 = time.perf_counter()
    check(log, src, final, out)
    res["detail"]["check_s"] = time.perf_counter() - t0
    return res
