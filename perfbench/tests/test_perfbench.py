"""The benchmark's own tests: no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys
import types

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
PB = os.path.dirname(HERE)
sys.path.insert(0, PB)

import bulk_mixed  # noqa: E402
import datagen  # noqa: E402
import headline  # noqa: E402
import layers  # noqa: E402
import point_api  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

# ---------------------------------------------------------------------------
# percentile rule
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "n, p",
    [(19, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, p):
    xs = [float(i) for i in range(n)]
    random.Random(n).shuffle(xs)
    t = stats.tail(xs)
    if p is None:
        assert t is None
        return
    assert t["p"] == p
    assert t["beyond"] >= stats.MIN_BEYOND
    assert sum(1 for x in xs if x > t["value"]) == t["beyond"]
    higher = [q for q in stats.TAIL_LADDER if q > p]
    assert all(stats.samples_beyond(n, q) < stats.MIN_BEYOND for q in higher)


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 1) == 1.0


# ---------------------------------------------------------------------------
# failure counting
# ---------------------------------------------------------------------------


def test_raised_call_counts_as_failed_and_takes_no_sample():
    out = stats.Outcomes()

    def boom():
        raise RuntimeError("no")

    assert out.timed("read", lambda: 7) == (True, 7)
    assert out.timed("read", boom) == (False, None)
    assert (out.attempted, out.failed) == (2, 1)
    assert len(out.samples["read"]) == 1
    assert out.failed_frac == 0.5


def _point_log(seed: int, rounds: int) -> list:
    """A correct (op, answer) log, produced by the oracle itself."""
    plan, oracle = point_api.Plan(seed), point_api.Oracle(seed)
    return [(op, oracle.step(op)) for _ in range(rounds) for op in plan.round()]


def test_point_api_planted_wrong_answer_raises_failed_frac():
    log = _point_log(3, 2)
    clean = stats.Outcomes()
    clean.attempted = len(log)
    point_api.check(3, log, clean)
    assert clean.failed == 0

    i = next(i for i, (op, _) in enumerate(log) if op[0] == "sum")
    op, ans = log[i]
    log[i] = (op, ans + 1)
    bad = stats.Outcomes()
    bad.attempted = len(log)
    point_api.check(3, log, bad)
    assert bad.failed == 1
    assert bad.failed_frac > clean.failed_frac


def test_point_api_wrong_type_is_wrong():
    # True == 1 in Python; a count answered as True must still fail
    assert not point_api._same(True, 1)
    assert point_api._same(2.0000000000000004, 2.0)


def test_bulk_mixed_planted_wrong_answer_raises_failed(tmp_path):
    src = str(tmp_path / "orders.parquet")
    pq.write_table(datagen.orders(datagen.np.random.default_rng(1), 500, 50), src)
    ops = [
        {"kind": "bulk_update", "update": {"lo": 0, "hi": 200, "m": 2, "r": 0, "const": 1007.0}},
        {"kind": "bulk_delete", "delete": {"lo": 100, "hi": 300, "m": 3, "r": 1}},
        {"kind": "merge_into", "insert": {"lo": 500, "hi": 520}},
        {"kind": "current_view", "lo": 0, "hi": 10, "key": 0},
        {"kind": "range_sum", "lo": 0, "hi": 199, "key": 0},
        {"kind": "version_range_sum", "lo": 0, "hi": 199, "key": 0},
        {"kind": "point_lookup", "lo": 0, "hi": 0, "key": 2},
    ]
    oracle = bulk_mixed.Oracle(src)
    log = []
    for op in ops:
        if bulk_mixed.op_class(op) == "read":
            log.append((op, oracle.answer(op)))
        else:
            oracle.apply(op)
            log.append((op, None))
    final = oracle.final_rows()
    assert log[3][1] == 500 - 67 + 20  # 67 keys in [100, 300) with k % 3 == 1
    assert log[6][1] == [(2, 2 * 1.5 + 1007.0)]

    clean = stats.Outcomes()
    bulk_mixed.check(log, src, final, clean)
    assert clean.failed == 0

    log[4] = (log[4][0], (log[4][1][0] + 0.5, log[4][1][1]))
    bad = stats.Outcomes()
    bulk_mixed.check(log, src, final[:-1], bad)
    assert bad.failed == 2  # the planted sum and the truncated final view


# ---------------------------------------------------------------------------
# seed determinism of generated inputs
# ---------------------------------------------------------------------------


def test_orders_are_a_function_of_the_seed():
    a = datagen.orders(datagen.np.random.default_rng([5, 2]), 1000, 100)
    b = datagen.orders(datagen.np.random.default_rng([5, 2]), 1000, 100)
    c = datagen.orders(datagen.np.random.default_rng([6, 2]), 1000, 100)
    assert a.equals(b)
    assert not a.equals(c)


def test_star_schema_is_a_function_of_the_seed():
    a = datagen.star_schema(9, 0.001)
    b = datagen.star_schema(9, 0.001)
    c = datagen.star_schema(10, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["orders"].num_rows == 1500


def test_op_plans_are_a_function_of_the_seed():
    assert list(bulk_mixed.Plan(4).stream(2, 20)) == list(bulk_mixed.Plan(4).stream(2, 20))
    assert list(bulk_mixed.Plan(4).stream(2, 20)) != list(bulk_mixed.Plan(5).stream(2, 20))
    assert point_api.Plan(4).round() == point_api.Plan(4).round()
    assert point_api.Plan(4).round() != point_api.Plan(5).round()


def test_bulk_mixed_prefixes_are_balanced():
    ops = list(bulk_mixed.Plan(1).stream(4, 72))
    assert sum(1 for op in ops if op["kind"] in bulk_mixed.KINDS) == 76
    for n in (7, 30, 101, 200):
        kinds = [op["kind"] for op in ops[:n]]
        for group in (bulk_mixed.KINDS, bulk_mixed.READS):
            counts = [kinds.count(k) for k in group]
            assert max(counts) - min(counts) <= 1
    commits = [i for i, op in enumerate(ops) if op["kind"] in bulk_mixed.KINDS]
    compacts = [i for i, op in enumerate(ops) if op["kind"] == "compact"]
    assert len(compacts) == len(commits) // bulk_mixed.COMPACT_EVERY


# ---------------------------------------------------------------------------
# spans and attribution
# ---------------------------------------------------------------------------


def _span(sid, name, parent, start, end, op=None):
    return {
        "id": sid,
        "name": name,
        "parent": parent,
        "op": op if op is not None else sid,
        "tag": f"perfbench-span-{sid}",
        "counts": {},
        "start": start,
        "end": end,
    }


def _job(jid, tag, t0, t1, stages):
    fmt = "%Y-%m-%dT%H:%M:%S.%fGMT"
    import datetime as dt

    def s(t):
        return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime(fmt)[:-6] + "GMT"

    return {"jobId": jid, "jobTags": [tag], "submissionTime": s(t0), "completionTime": s(t1), "stageIds": stages}


def test_attribution_self_times_and_driver_gap():
    base = 1_700_000_000.0
    sp = [
        _span(0, "lineage.commit.bulk_update", None, base, base + 1.0),
        _span(1, "filelog.append", 0, base + 0.8, base + 0.9, op=0),
    ]
    snap = {
        "jobs": [_job(10, "perfbench-span-0", base + 0.1, base + 0.3, [1]), _job(11, "other", base, base + 1, [2])],
        "stages": [
            {"stageId": 1, "executorCpuTime": 5_000_000, "inputBytes": 7, "shuffleReadBytes": 3, "shuffleWriteBytes": 4},
            {"stageId": 2, "executorCpuTime": 9_000_000},
        ],
        "sql": [{"successJobIds": [10], "nodes": [{"metrics": [{"name": "number of written files", "value": "2"}]}]}],
    }
    table = spans.span_table(sp, spans.attribute(sp, snap))
    root = table[0]
    assert root["inc"]["jobs"] == 1
    assert root["inc"]["task_cpu_ms"] == pytest.approx(5.0)
    assert root["inc"]["shuffle_bytes"] == 7
    assert root["inc"]["files_written"] == 2
    assert root["job_ms"] == pytest.approx(200.0, abs=1.0)
    assert root["driver_gap_ms"] == pytest.approx(800.0, abs=1.0)
    assert root["self_ms"] == pytest.approx(900.0, abs=1e-3)
    check = spans.check_ops(table)
    assert check["max_residual_ms"] == pytest.approx(0.0, abs=1e-3)
    assert check["max_job_outside_ms"] == 0.0


def test_union_of_overlapping_intervals():
    assert spans._union_ms([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)], 0.0, 10.0) == pytest.approx(3000.0)
    assert spans._union_ms([(0.0, 5.0)], 1.0, 2.0) == pytest.approx(1000.0)


# ---------------------------------------------------------------------------
# BENCHMARK.json agrees with the code
# ---------------------------------------------------------------------------


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(PB), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_the_workloads_and_bounds():
    spec = _spec()
    assert len(spec["per_layer"]) <= 128
    assert [w["name"] for w in spec["workloads"]] == ["bulk_mixed", "point_api", "headline"]
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert "setup_s" in e2e
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_reducers_write_exactly_the_per_layer_metrics_of_the_spec(tmp_path):
    """Every name a reducer writes is a per-layer metric of the spec
    (LayerTable raises otherwise), and every per-layer metric of the
    spec is written by some workload's reducers."""
    spec = _spec()
    red = layers.Reduced(types.SimpleNamespace(spans=[]), {"jobs": [], "stages": [], "sql": []})
    table = types.SimpleNamespace(path=str(tmp_path))
    written = set()
    for reduce in (
        lambda out: layers.bulk_mixed(red, out, table),
        lambda out: layers.point_api(red, out, {}, str(tmp_path)),
        lambda out: layers.headline(red, out, headline.OPS),
    ):
        out = layers.empty(spec)
        layers.common(out, red, 1.0, 1.0, 0.0)
        reduce(out)
        written |= out.written
    assert written == {m["name"] for m in spec["per_layer"]}
    with pytest.raises(KeyError):
        layers.empty(spec)["lineage.no_such_metric"] = 1.0


def test_split_traces_the_first_op_of_every_class():
    tracer = types.SimpleNamespace(enabled=True, recording=True)
    seen = []

    def op():
        seen.append(tracer.recording)

    split = spans.Split(tracer)
    out = stats.Outcomes()
    for cls in ("compact", "read", "read", "read", "txn", "read"):
        split.timed(out, cls, op)
    assert seen == [True, True, False, True, True, False]
    assert {c: len(v) for c, v in split.traced.items()} == {"compact": 1, "read": 2, "txn": 1}
    assert {c: len(v) for c, v in split.untraced.items()} == {"read": 2}
    assert tracer.recording
