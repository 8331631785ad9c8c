"""Transactions as staged batches with real abort/rollback.

Reference: /root/reference/lstore/transaction.py — ``add_query``
(transaction.py:20-22), ``run`` (transaction.py:26-32, sequential,
abort when a query returns False), ``abort``/``commit`` stubs
(transaction.py:35-42 — "do roll-back and any other necessary
operations" was a TODO; we implement it).

Model (SURVEY §1.5): the lineage log is append-only, so atomicity is
natural — a transaction marks the pending base/tail buffer lengths at
start, takes no-wait record locks as it touches keys (reference
table.py:57-70), and on abort (a) truncates the un-flushed appends and
(b) restores the driver directory from an undo log. Commit simply
releases locks (the appends publish with the next flush — single-
writer discipline, documented in SURVEY §1.5's lock-table row).
"""

from __future__ import annotations

import contextlib
import threading

from .query import Query, Record


class Transaction:
    def __init__(self):
        self.queries: list[tuple] = []  # (bound method, Query, args)
        self._undo: list[tuple] = []  # directory undo log, newest last
        self._marks: dict[int, tuple[int, int]] = {}  # id(table) -> buffer marks
        self._tables: dict[int, object] = {}
        self._locked: list[tuple[Query, object]] = []

    # X1 (reference transaction.py:20-22). The reference's usage
    # example passes the table as arg[0] (transaction.py:16-18); we
    # accept and drop it for signature parity — the Query is bound.
    def add_query(self, query_fn, *args) -> None:
        from .lineage import LineageTable

        if args and isinstance(args[0], LineageTable):
            args = args[1:]
        self.queries.append((query_fn, args))

    # -- undo hooks called by Query ------------------------------------
    def _touch_table(self, q: Query) -> None:
        t = q.table
        if id(t) not in self._marks:
            self._marks[id(t)] = (len(t._pending_base), len(t._pending_tail))
            self._tables[id(t)] = t

    def _log_mutation(self, q: Query, rid: int) -> None:
        """Snapshot a record's directory state before first mutation."""
        self._touch_table(q)
        rec = q.directory.get(rid)
        # history snapshot is None when the chain was never loaded —
        # restoring [] would poison the lazy per-rid cache with an
        # empty (wrong) chain; None lets _load_histories rebuild it
        hist_snap = (
            [list(v) for v in q.history[rid]] if rid in q.history else None
        )
        snap = (
            None
            if rec is None
            else (Record(rec.rid, rec.key, list(rec.columns)), hist_snap)
        )
        self._undo.append(("mut", q, rid, snap))
        self._lock(q, rec.key if rec else None)

    def _log_insert(self, q: Query, rid: int) -> None:
        self._touch_table(q)
        self._undo.append(("ins", q, rid, None))
        rec = q.directory.get(rid)
        if rec is not None:
            self._lock(q, rec.key)

    def _lock(self, q: Query, key) -> None:
        if key is None:
            return
        if q.locks.get(key) is None:
            q.locks[key] = id(self)
            self._locked.append((q, key))

    # X2 (reference transaction.py:26-32)
    def run(self) -> bool:
        for fn, _args in self.queries:
            self._touch_table(fn.__self__)
        for q in {fn.__self__ for fn, _ in self.queries}:
            q._txn = self
        try:
            for fn, args in self.queries:
                result = fn(*args)
                if result is False:
                    return self.abort()
            return self.commit()
        finally:
            for q in {fn.__self__ for fn, _ in self.queries}:
                q._txn = None

    # X3 — real rollback (the reference's TODO)
    def abort(self) -> bool:
        # Undo under the facade lock of every touched table (taken in
        # one global order): no Query reloads a half-undone directory.
        with contextlib.ExitStack() as held:
            for t in sorted(self._tables.values(), key=id):
                held.enter_context(t._facade_lock)
            # A Query that was fresh and wrote every undone record of its
            # table is exact again once both steps below ran; any other
            # Query on a truncated table reloads its directory.
            writers: dict[int, set] = {}
            for _kind, q, _rid, _snap in self._undo:
                writers.setdefault(id(q.table), set()).add(q)
            fresh = [
                q
                for qs in writers.values()
                for q in qs
                if len(qs) == 1 and q._fresh()
            ]
            # 1. truncate un-flushed lineage appends
            for tid, (nb, nt) in self._marks.items():
                t = self._tables[tid]
                if len(t._pending_base) > nb or len(t._pending_tail) > nt:
                    del t._pending_base[nb:]
                    del t._pending_tail[nt:]
                    t._changed()
            # 2. restore directory/index/history from the undo log, newest first
            for kind, q, rid, snap in reversed(self._undo):
                cur = q.directory.get(rid)
                if cur is not None:
                    q._unregister(cur)
                    q.history.pop(rid, None)
                if kind == "mut" and snap is not None:
                    rec, hist = snap
                    rec.is_valid = True
                    q._register(rec)
                    if hist is not None:
                        q.history[rid] = hist
            for q in fresh:
                q._wrote()
            self._release()
        return False

    def commit(self) -> bool:
        # Multi-table atomicity (extension; the reference's commit is a
        # stub): when the txn touched 2+ tables, their buffered rows
        # publish through ONE shared commit marker — both tables'
        # appends become visible or neither does, even across a crash
        # between the per-table publishes (lineage.
        # commit_tables_atomically; recovery rolls the marker forward).
        # Single-table txns keep the cheap path: the next flush is
        # already atomic per table. Holds for txns under the flush
        # threshold (a mid-txn auto-flush publishes early by design —
        # the same boundary abort() documents).
        tables = [
            t
            for t in self._tables.values()
            if t._pending_base or t._pending_tail
        ]
        if len(tables) >= 2:
            from .lineage import commit_tables_atomically

            commit_tables_atomically(tables)
        self._release()
        return True

    def _release(self) -> None:
        for q, key in self._locked:
            if q.locks.get(key) == id(self):
                del q.locks[key]
        self._locked.clear()
        self._undo.clear()
        self._marks.clear()


class TransactionWorker:
    """Reference transaction_worker.py:26-43 — a batch of transactions
    on a thread; ``stats`` counts commits."""

    def __init__(self, transactions: list[Transaction] | None = None):
        self.transactions = list(transactions or [])
        self.stats: list[bool] = []
        self.result = 0
        self._thread: threading.Thread | None = None

    def add_transaction(self, t: Transaction) -> None:
        self.transactions.append(t)

    def run(self) -> None:
        self._thread = threading.Thread(target=self.__run, daemon=True)
        self._thread.start()

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join()

    def __run(self) -> None:
        for t in self.transactions:
            self.stats.append(t.run())
        self.result = len([s for s in self.stats if s])
