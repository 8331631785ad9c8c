"""Per-layer metrics: the layer functions a traced run wraps, and the
reduction of spans plus status-store work into one number per
metric.

Layers are named after the engine's modules: ``session``, ``catalog``
(``Database``), ``query`` (``Query``), ``transaction``, ``lineage``
(``LineageTable``: commits, folds, compaction), ``filelog`` (the
metadata plane), ``storage`` (bytes on disk) and ``headline`` (one op
of the ``headline`` workload: an operator-kernel query, or the durable
BM25 index's read or append). The names and units are those of ``BENCHMARK.json``. Every op
class a traced window runs has traced samples (see ``spans.Split``), so
a 0 means the workload does not reach that layer, on every run.
"""

from __future__ import annotations

import os
import statistics

import spans as tr

COMMIT_KINDS = ("bulk_update", "bulk_delete", "merge_into", "mutation_batch")


# ---------------------------------------------------------------------------
# instrumentation of inner layer functions (traced runs only)
# ---------------------------------------------------------------------------

def live_files(t, tag: str) -> list[dict]:
    """The file log's live entries for ``tag``, read without a span (the
    benchmark's own bookkeeping must not count as metadata-plane work)."""
    from lineage_store_database_management_system_spark.filelog import FileLog

    live = getattr(FileLog.live, "__wrapped__", FileLog.live)
    return live(t.filelog, tag) or []


def instrument(tracer) -> callable:
    """Wrap the metadata-plane, flush and catalog entry points in spans;
    returns a callable that restores them."""
    from lineage_store_database_management_system_spark import Database, LineageTable
    from lineage_store_database_management_system_spark.filelog import FileLog

    def pending(args):
        t = args[0]
        return {"rows": len(t._pending_base) + len(t._pending_tail)}

    undo = [
        tracer.wrap(FileLog, "append", "filelog.append"),
        tracer.wrap(FileLog, "live", "filelog.live"),
        tracer.wrap(LineageTable, "flush", "lineage.flush", pending),
        tracer.wrap(Database, "open", "catalog.open"),
        tracer.wrap(Database, "close", "catalog.close"),
        tracer.wrap(Database, "get_table", "catalog.get_table"),
    ]

    def restore():
        for u in reversed(undo):
            u()

    return restore


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def dir_files(path: str, suffix: str = ".parquet") -> int:
    return sum(1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(suffix))


# ---------------------------------------------------------------------------
# reduction
# ---------------------------------------------------------------------------


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


class Reduced:
    """Spans of one traced window joined with their status-store work."""

    def __init__(self, tracer, snap: dict):
        self.table = tr.span_table(tracer.spans, tr.attribute(tracer.spans, snap))
        self.names = tr.by_name(self.table)
        self.check = tr.check_ops(self.table)

    def rows(self, name: str) -> list[dict]:
        return self.names.get(name, [])

    def ms(self, name: str) -> float:
        return _med(r["wall_ms"] for r in self.rows(name))

    def inc(self, name: str, key: str) -> float:
        return _mean(r["inc"][key] for r in self.rows(name))

    def gap(self, name: str) -> float:
        return _med(r["driver_gap_ms"] for r in self.rows(name))

    def count(self, name: str, key: str) -> float:
        return _mean(r["counts"].get(key, 0) for r in self.rows(name))

    def in_op(self, inner: str, outer: str) -> list[dict]:
        """Spans named ``inner`` whose op root is named ``outer``."""
        roots = {r["op"] for r in self.rows(outer) if r["parent"] is None}
        return [r for r in self.rows(inner) if r["op"] in roots]

    def total(self, key: str) -> float:
        return float(sum(r["inc"][key] for r in self.table.values() if r["parent"] is None))


class LayerTable(dict):
    """The per-layer metrics of one traced run, keyed by the names
    ``BENCHMARK.json`` lists, all 0 to start with. Writing a name the
    spec does not list raises; ``written`` holds the names set."""

    def __init__(self, names):
        super().__init__((n, 0.0) for n in names)
        self.written: set[str] = set()

    def __setitem__(self, name: str, value: float) -> None:
        if name not in self:
            raise KeyError(f"{name} is not a per-layer metric of BENCHMARK.json")
        self.written.add(name)
        super().__setitem__(name, value)


def empty(spec: dict) -> LayerTable:
    return LayerTable(m["name"] for m in spec["per_layer"])


def common(out: dict, red: Reduced, session_start_s: float, warm_s: float, overhead: float) -> None:
    out["session.start_s"] = session_start_s
    out["session.warm_s"] = warm_s
    out["trace.overhead_frac"] = overhead
    out["trace.check_err_ms"] = max(red.check["max_residual_ms"], red.check["max_job_outside_ms"])
    for name in ("catalog.open", "catalog.close", "catalog.get_table"):
        out[f"{name}_ms"] = red.ms(name)
    out["filelog.live_ms"] = red.ms("filelog.live")
    out["filelog.append_ms"] = red.ms("filelog.append")
    flushes = [r for r in red.rows("lineage.flush") if r["counts"].get("rows")]
    out["lineage.flush.count"] = float(len(flushes))
    out["lineage.flush.ms"] = _med(r["wall_ms"] for r in flushes)
    out["lineage.flush.rows"] = _mean(r["counts"].get("rows", 0) for r in flushes)


def bulk_mixed(red: Reduced, out: dict, table) -> None:
    for k in COMMIT_KINDS:
        n = f"lineage.commit.{k}"
        out[f"{n}.ms"] = red.ms(n)
        out[f"{n}.jobs"] = red.inc(n, "jobs")
        out[f"{n}.driver_gap_ms"] = red.gap(n)
        out[f"{n}.task_cpu_ms"] = red.inc(n, "task_cpu_ms")
        out[f"{n}.shuffle_bytes"] = red.inc(n, "shuffle_bytes")
        out[f"{n}.files_added"] = red.inc(n, "files_written")
        out[f"{n}.output_bytes"] = red.inc(n, "output_bytes")
    for v in ("current_view", "version_view"):
        n = f"lineage.{v}"
        out[f"{n}.ms"] = red.ms(n)
        out[f"{n}.jobs"] = red.inc(n, "jobs")
        out[f"{n}.driver_gap_ms"] = red.gap(n)
        out[f"{n}.input_bytes"] = red.inc(n, "input_bytes")
        out[f"{n}.shuffle_bytes"] = red.inc(n, "shuffle_bytes")
        out[f"{n}.files_read"] = red.inc(n, "files_read")
    reads = [
        r
        for n in ("lineage.current_view", "lineage.version_view", "lineage.point_lookup", "lineage.fast_count")
        for r in red.rows(n)
    ]
    out["lineage.tail_rows_at_read"] = _mean(r["counts"].get("tail_rows", 0) for r in reads)
    pl = "lineage.point_lookup"
    out[f"{pl}.ms"] = red.ms(pl)
    out[f"{pl}.files_read"] = red.inc(pl, "files_read")
    out[f"{pl}.files_live"] = red.count(pl, "files_live")
    live = out[f"{pl}.files_live"]
    out[f"{pl}.files_skipped_frac"] = 1.0 - out[f"{pl}.files_read"] / live if live else 0.0
    out["lineage.fast_count.ms"] = red.ms("lineage.fast_count")
    out["lineage.fast_count.jobs"] = red.inc("lineage.fast_count", "jobs")
    commits = sum(len(red.rows(f"lineage.commit.{k}")) for k in COMMIT_KINDS)
    appends = sum(len(red.in_op("filelog.append", f"lineage.commit.{k}")) for k in COMMIT_KINDS)
    out["filelog.entries_per_commit"] = appends / commits if commits else 0.0
    out["filelog.bytes"] = float(dir_bytes(os.path.join(table.path, "_filelog")))
    c = "lineage.compact"
    out[f"{c}.ms"] = red.ms(c)
    out[f"{c}.jobs"] = red.inc(c, "jobs")
    out[f"{c}.output_bytes"] = red.inc(c, "output_bytes")
    out[f"{c}.files_before"] = red.count(c, "files_before")
    out[f"{c}.files_after"] = red.count(c, "files_after")
    storage(out, red, table.path)


def storage(out: dict, red: Reduced, path: str) -> None:
    out["storage.table_bytes"] = float(dir_bytes(path))
    out["storage.files"] = float(dir_files(path))
    out["storage.bytes_written"] = red.total("output_bytes")


def point_api(red: Reduced, out: dict, samples: dict, path: str) -> None:
    """Point ops carry no span (a span costs more than the op), so their
    numbers are the timed ``samples`` themselves."""
    for name, cls in (
        ("insert", "write.insert"),
        ("select", "point.select"),
        ("update", "write.update"),
        ("delete", "write.delete"),
        ("select_version_warm", "point.select_version"),
    ):
        out[f"query.{name}_us"] = _med(samples.get(cls, [])) * 1000.0
    out["transaction.commit_ms"] = red.ms("transaction.run")
    n = "query.range_agg"
    out[f"{n}.jobs"] = red.inc(n, "jobs")
    out[f"{n}.driver_gap_ms"] = red.gap(n)
    out[f"{n}.task_cpu_ms"] = red.inc(n, "task_cpu_ms")
    out["query.directory_load_ms"] = red.ms("query.directory_load")
    out["query.select_version_cold_ms"] = red.ms("query.select_version_cold")
    storage(out, red, path)


def headline(red: Reduced, out: dict, queries) -> None:
    for q in queries:
        n = f"headline.{q}"
        out[f"{n}.ms"] = red.ms(n)
        out[f"{n}.cpu_ms"] = red.inc(n, "task_cpu_ms")
        out[f"{n}.shuffle_bytes"] = red.inc(n, "shuffle_bytes")
        out[f"{n}.jobs"] = red.inc(n, "jobs")
