"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_mixed --seed 1 --seconds 6 --trace 0

Run from the repository root. Prints a per-workload report (every
metric by name and unit) to stderr and, as the last line of stdout, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics. Exits non-zero if any output check
fails or the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import engine  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("bulk_mixed", "point_api", "headline")
SCRATCH_DIR = ".perfbench"


@dataclass
class Context:
    spark: object
    scratch: engine.Scratch
    seed: int
    seconds: float
    tracer: object
    rest: object
    session_start_s: float
    spec: dict
    off: object = spans.OFF


def load_spec() -> dict:
    with open(os.path.join(engine.REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def e2e_metrics(res: dict, spec: dict) -> dict:
    """The end-to-end metrics every workload reports (see README.md)."""
    out: stats.Outcomes = res["outcomes"]
    values = {
        "setup_s": res["setup_s"],
        "write_ms": kind_geomean(out, res["write_classes"]),
        "read_ms": kind_geomean(out, res["read_classes"]),
        "ops_per_s": ops_per_s(out, res["write_classes"] + res["read_classes"] + res["other_classes"]),
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def kind_geomean(out: stats.Outcomes, classes: list[str]) -> float:
    """Geometric mean over op kinds of each kind's median latency (ms).
    Every kind weighs the same, and the figure does not jump between
    kinds the way the median of a pooled mix of fast and slow kinds
    does."""
    meds = [statistics.median(out.samples[c]) for c in classes if out.samples.get(c)]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def ops_per_s(out: stats.Outcomes, classes: list[str]) -> float:
    """Single-client closed-loop throughput of a mix with one op of each
    kind: kinds per second of the sum of their median latencies. Every
    kind weighs the same, so the figure does not move with how often a
    seed's plan draws a slow kind, or with one slow op of a kind."""
    meds = [statistics.median(out.samples[c]) for c in classes if out.samples.get(c)]
    return len(meds) / (sum(meds) / 1000.0)


def report(workload: str, res: dict, metrics: dict) -> None:
    out: stats.Outcomes = res["outcomes"]
    lines = [f"== {workload}: attempted {out.attempted}, failed {out.failed} (failed_frac {out.failed_frac:.4f})"]
    for k, v in metrics.items():
        lines.append(f"  {k:<48} {v['value']:.6g} {v['unit']}")
    for cls, xs in sorted(out.samples.items()):
        t = stats.tail(xs)
        tail = f" p{t['p']:g} {t['value']:.3f} ms ({t['beyond']} beyond)" if t else ""
        lines.append(f"  {cls:<32} n={len(xs):<5} p50 {statistics.median(xs):.3f} ms{tail}")
    for k, v in res.get("detail", {}).items():
        lines.append(f"  detail.{k} = {v}")
    for e in out.errors[:20]:
        lines.append(f"  ERROR {e}")
    print("\n".join(lines), file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        spec = load_spec()
        if not os.path.isdir(os.path.join(engine.REPO, engine.PACKAGE)):
            raise ImportError(f"no {engine.PACKAGE}/ next to perfbench/")
        sys.path.insert(0, engine.REPO)
        import lineage_store_database_management_system_spark  # noqa: F401
    except (OSError, ImportError, ValueError) as exc:
        print(f"perfbench: cannot run here: {exc}", file=sys.stderr)
        return 2

    import importlib

    mod = importlib.import_module(args.workload)
    scratch = engine.Scratch(os.path.join(os.getcwd(), SCRATCH_DIR))
    spark = None
    try:
        spark, start_s = engine.start(scratch, bool(args.trace), f"perfbench-{args.workload}")
        tracer = spans.Tracer(spark.sparkContext) if args.trace else spans.OFF
        rest = spans.RestReader(spark.sparkContext) if args.trace else None
        ctx = Context(spark, scratch, args.seed, args.seconds, tracer, rest, start_s, spec)
        t0 = time.perf_counter()
        res = mod.run(ctx)
        res.setdefault("detail", {})["run_s"] = time.perf_counter() - t0
        res["detail"]["session_start_s"] = start_s
        res["detail"]["cores"] = engine.cores()
        res["detail"]["thresholds"] = engine.engine_thresholds()
        if args.trace:
            check = res["trace_check"]
            res["detail"]["trace_check"] = check
            out_dir = os.path.join(os.getcwd(), SCRATCH_DIR, "traces")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            engine.stop(spark)
        scratch.close()

    out: stats.Outcomes = res["outcomes"]
    e2e = e2e_metrics(res, spec)
    report(args.workload, res, e2e)
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in units.items()}
        for k, v in metrics.items():
            print(f"  layer {k:<56} {v['value']:.6g} {v['unit']}", file=sys.stderr)
    else:
        metrics = e2e
    correct = out.failed == 0
    print(json.dumps({"correct": correct, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
