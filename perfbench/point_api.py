"""``point_api``: the reference's per-record traffic through ``Query``
and ``Transaction`` on a ``create_table(name, 5, 0)`` integer table.

Set-up inserts N records through ``Query.insert`` and closes the
database. The loop reopens it and runs rounds of point updates
(random column subsets, a few hot keys for deep version chains),
selects, ``select_version``, ``increment``, inserts, deletes, four range
aggregates over 100-key windows and one transaction; the first round
is an untimed warm-up, the rest are timed. After the window
the database is closed, reopened and queried again with a cold
``select_version`` history. Answers are checked afterwards against a
pure-Python per-key version list.
"""

from __future__ import annotations

import math
import random
import statistics
import time

import layers
import spans
from stats import FAILED, Outcomes

N_ROWS = 10_000
N_COLS = 5
SETUP_REPS = 3
HOT_KEYS = 5
UPDATES, SELECTS, INCREMENTS, INSERTS, DELETES = 40, 40, 40, 40, 20
# select_version calls per round on hot keys (chains cached after the
# first touch) and on random keys (chain rebuilt from the tail)
VERSIONS_HOT, VERSIONS_COLD = 10, 2
REOPEN_KEYS = 5
# A run does a fixed number of rounds, sized from --seconds at this
# nominal round time on a 4-core host: unflushed rows pile up round by
# round and slow every range aggregate, so a time-bounded loop would
# make a faster engine pay for the extra rounds it fits in.
ROUND_S = 6.5
WARM_ROUNDS = 1
TXN_UPDATES = 5
WINDOW = 100
ALL = [1] * N_COLS

WRITES = ("insert", "update", "delete", "increment")
RANGE_AGGS = ("sum", "sum_version", "avg", "count")


def _row(rng: random.Random, key: int) -> tuple:
    return (key, *(rng.randrange(0, 1_000_000) for _ in range(N_COLS - 1)))


class Plan:
    """Seeded op sequence. Tracks the live key set itself so every op
    targets a key that exists (or, for inserts, does not)."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.live = list(range(N_ROWS))
        self.live_set = set(self.live)
        self.next_key = N_ROWS
        self.hot = self.rng.sample(self.live, HOT_KEYS)

    def _key(self) -> int:
        while True:
            k = self.rng.choice(self.hot) if self.rng.random() < 0.3 else self.rng.choice(self.live)
            if k in self.live_set:
                return k

    def _cols(self, key: int) -> tuple:
        """Update payload: key column unchanged, a random non-empty
        subset of the others set."""
        n = self.rng.randrange(1, N_COLS)
        cols = self.rng.sample(range(1, N_COLS), n)
        return (None, *(self.rng.randrange(0, 1_000_000) if i in cols else None for i in range(1, N_COLS)))

    def _drop(self, key: int) -> None:
        self.live_set.discard(key)
        self.live.remove(key)

    def round(self) -> list[tuple]:
        ops: list[tuple] = []
        for _ in range(INSERTS):
            k = self.next_key
            self.next_key += 1
            ops.append(("insert", _row(self.rng, k)))
            self.live.append(k)
            self.live_set.add(k)
        for _ in range(UPDATES):
            k = self._key()
            ops.append(("update", k, self._cols(k)))
        for _ in range(INCREMENTS):
            ops.append(("increment", self._key(), self.rng.randrange(1, N_COLS)))
        for _ in range(SELECTS):
            ops.append(("select", self._key()))
        for _ in range(VERSIONS_HOT):
            ops.append(("select_version", self.rng.choice(self.hot), -self.rng.randrange(1, 4)))
        for _ in range(VERSIONS_COLD):
            ops.append(("select_version", self._key(), -self.rng.randrange(1, 4)))
        for _ in range(DELETES):
            k = self.rng.choice(self.live)
            while k in self.hot:
                k = self.rng.choice(self.live)
            ops.append(("delete", k))
            self._drop(k)
        keys = self.rng.sample(self.live, TXN_UPDATES)
        ops.append(("transaction", [(k, self._cols(k)) for k in keys]))
        for agg in RANGE_AGGS:
            lo = self.rng.randrange(0, self.next_key - WINDOW)
            ops.append((agg, lo, lo + WINDOW - 1, self.rng.randrange(1, N_COLS), -1))
        self.rng.shuffle(ops)
        # a key is inserted before, and deleted after, any other use in the round
        return sorted(ops, key=lambda op: {"insert": 0, "delete": 2}.get(op[0], 1))


def apply_op(q, op: tuple, tracer):
    from lineage_store_database_management_system_spark import Transaction

    kind = op[0]
    if kind == "insert":
        return q.insert(*op[1])
    if kind == "update":
        return q.update(op[1], *op[2])
    if kind == "increment":
        return q.increment(op[1], op[2])
    if kind == "delete":
        return q.delete(op[1])
    if kind == "select":
        recs = q.select(op[1], 0, ALL)
        return recs if recs is False else [list(r.columns) for r in recs]
    if kind == "select_version":
        recs = q.select_version(op[1], 0, ALL, op[2])
        return recs if recs is False else [list(r.columns) for r in recs]
    if kind == "transaction":
        txn = Transaction()
        for k, cols in op[1]:
            txn.add_query(q.update, k, *cols)
        with tracer.span("transaction.run"):
            return txn.run()
    _, lo, hi, col, ver = op
    with tracer.span("query.range_agg"):
        if kind == "sum":
            return q.sum(lo, hi, col)
        if kind == "sum_version":
            return q.sum_version(lo, hi, col, ver)
        if kind == "avg":
            return q.avg(lo, hi, col)
        return q.count(lo, hi, col)


def op_class(op: tuple) -> str:
    kind = op[0]
    if kind in WRITES:
        return f"write.{kind}"
    if kind in RANGE_AGGS:
        return f"read.{kind}"
    return f"point.{kind}"


class Oracle:
    """Per-key version lists (oldest first) of the live records."""

    def __init__(self, seed: int):
        rng = random.Random(seed)
        self.versions = {k: [list(_row(rng, k))] for k in range(N_ROWS)}

    def _update(self, key: int, cols: tuple) -> None:
        prev = self.versions[key][-1]
        self.versions[key].append([c if c is not None else prev[i] for i, c in enumerate(cols)])

    def _window(self, lo: int, hi: int, col: int, back: int) -> list[int]:
        return [
            v[max(0, len(v) - 1 - back)][col]
            for k, v in self.versions.items()
            if lo <= k <= hi
        ]

    def step(self, op: tuple):
        """Apply ``op``; return the answer the engine should have given."""
        kind = op[0]
        if kind == "insert":
            self.versions[op[1][0]] = [list(op[1])]
            return True
        if kind == "update":
            self._update(op[1], op[2])
            return True
        if kind == "increment":
            cols = [None] * N_COLS
            cols[op[2]] = self.versions[op[1]][-1][op[2]] + 1
            self._update(op[1], tuple(cols))
            return True
        if kind == "delete":
            del self.versions[op[1]]
            return True
        if kind == "select":
            return [list(self.versions[op[1]][-1])]
        if kind == "select_version":
            v = self.versions[op[1]]
            return [list(v[max(0, len(v) - 1 - abs(op[2]))])]
        if kind == "transaction":
            for k, cols in op[1]:
                self._update(k, cols)
            return True
        _, lo, hi, col, ver = op
        vals = self._window(lo, hi, col, abs(ver) if kind == "sum_version" else 0)
        if not vals:
            return False
        if kind in ("sum", "sum_version"):
            return sum(vals)
        if kind == "avg":
            return sum(vals) / len(vals)
        return len(vals)


def _same(got, exp) -> bool:
    if isinstance(exp, float):
        return isinstance(got, float) and abs(got - exp) <= 1e-9 * max(1.0, abs(exp))
    return type(got) is type(exp) and got == exp


def check(seed: int, log: list[tuple], out: Outcomes) -> None:
    """Replay ``log`` (op, engine answer) on the oracle; every wrong
    answer counts as a failure (an op that raised already did)."""
    oracle = Oracle(seed)
    for op, got in log:
        exp = oracle.step(op)
        if got is not FAILED and not _same(got, exp):
            out.wrong(f"{op[0]} {op[1:]}: engine {got!r} oracle {exp!r}")


def _setup(spark, path: str, seed: int):
    from lineage_store_database_management_system_spark import Database, Query

    rng = random.Random(seed)
    db = Database().open(path, spark)
    q = Query(db.create_table("grades", N_COLS, 0))
    for k in range(N_ROWS):
        if not q.insert(*_row(rng, k)):
            raise RuntimeError(f"set-up insert of key {k} failed")
    db.close()


def _reopen(spark, path: str):
    from lineage_store_database_management_system_spark import Database, Query

    db = Database().open(path, spark)
    return db, Query(db.get_table("grades"))


def rounds_for(seconds: float) -> int:
    return max(1, math.ceil(seconds / ROUND_S))


def _window(ctx, path: str, rounds: int, out: Outcomes, split, log: list) -> dict:
    """Reopen, run WARM_ROUNDS untimed rounds and ``rounds`` timed ones
    of one plan, then close, reopen and re-query. Warm-up ops are
    counted and logged for the check, under classes of their own, and
    never traced. Returns the warm-up, loop and reopen timings."""
    tracer = split.tracer
    db, q = _reopen(ctx.spark, path)
    plan = Plan(ctx.seed)
    t0 = time.perf_counter()
    # load the directory and the hot keys' version chains, then warm up
    for k in plan.hot:
        op = ("select_version", k, 0)
        ok, ans = out.timed("warm.prewarm", apply_op, q, op, spans.OFF)
        log.append((op, ans if ok else FAILED))
    for _ in range(WARM_ROUNDS):
        for op in plan.round():
            ok, ans = out.timed(f"warm.{op_class(op)}", apply_op, q, op, spans.OFF)
            log.append((op, ans if ok else FAILED))
    warm_s = time.perf_counter() - t0

    undo = layers.instrument(tracer) if tracer.enabled else None
    try:
        t0 = time.perf_counter()
        for _ in range(rounds):
            for op in plan.round():
                ok, ans = split.timed(out, op_class(op), apply_op, q, op, tracer)
                log.append((op, ans if ok else FAILED))
        loop_s = time.perf_counter() - t0

        # close, reopen, re-query: the first select loads the directory,
        # the select_version calls rebuild version chains from the tail
        keys = plan.rng.sample(plan.live, REOPEN_KEYS)
        t1 = time.perf_counter()
        db.close()
        db, q = _reopen(ctx.spark, path)
        first = ("select", keys[0])
        with tracer.span("query.directory_load"):
            ok, ans = out.timed("reopen.select", apply_op, q, first, tracer)
        log.append((first, ans if ok else FAILED))
        for k in keys:
            op = ("select_version", k, -1)
            with tracer.span("query.select_version_cold"):
                ok, ans = out.timed("reopen.select_version", apply_op, q, op, tracer)
            log.append((op, ans if ok else FAILED))
        reopen_s = time.perf_counter() - t1
        db.close()
    finally:
        if undo:
            undo()
    return {"warm_s": warm_s, "loop_s": loop_s, "reopen_s": reopen_s}


def run(ctx) -> dict:
    spark = ctx.spark
    paths, setup_times = [], []
    for i in range(SETUP_REPS):
        path = ctx.scratch.sub(f"db{i}")
        t0 = time.perf_counter()
        _setup(spark, path, ctx.seed)
        setup_times.append(time.perf_counter() - t0)
        paths.append(path)

    out = Outcomes()
    log: list = []
    split = spans.Split(ctx.tracer)
    w = _window(ctx, paths[0], rounds_for(ctx.seconds), out, split, log)
    point = out.pooled(*(c for c in out.samples if c.startswith(("write.", "point."))))
    res = {
        "outcomes": out,
        "setup_s": statistics.median(setup_times),
        "write_classes": [f"write.{k}" for k in WRITES],
        "read_classes": [f"read.{k}" for k in RANGE_AGGS],
        "other_classes": ["point.select", "point.select_version", "point.transaction"],
        "detail": {
            "rows": N_ROWS,
            "setup_runs_s": setup_times,
            "warmup_s": w["warm_s"],
            "loop_s": w["loop_s"],
            "reopen_s": w["reopen_s"],
            "point_ops_per_s": len(point) / (sum(point) / 1000.0),
        },
    }
    if ctx.tracer.enabled:
        red = layers.Reduced(ctx.tracer, ctx.rest.snapshot())
        lay = layers.empty(ctx.spec)
        layers.common(lay, red, ctx.session_start_s, w["warm_s"], split.overhead_frac())
        layers.point_api(red, lay, out.samples, paths[0])
        res["layers"] = lay
        res["trace_check"] = red.check
    check(ctx.seed, log, out)
    return res
