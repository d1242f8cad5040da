"""Turns one run's op log, spans and Spark event log into the result line.

End-to-end metrics (``--trace 0``) are what a run of the engine costs;
per-layer metrics (``--trace 1``) say which layer the time went to. Every
run prints every metric of its mode for every workload: a layer a
workload does not touch reads 0 there.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import pyarrow.parquet as pq

from harness import median
from workloads import DEDUP_ENTRIES, MEMOS, TPCH_ENTRIES

END_TO_END = (
    ("setup_s", "s"),
    ("batch_cpu_s", "s"),
    ("op_cpu_s.mean", "s"),
)

_SPARK = (
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.planning_s", "s"), ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.parallelism", "ratio"), ("spark.input_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.task_skew", "ratio"),
    ("spark.aqe_replans", "count"),
)

PER_LAYER = (
    ("wall.batch_s", "s"), ("wall.op_s.p50", "s"), ("wall.repeat_s.p50", "s"),
    ("wall.op_samples", "count"), ("wall.repeat_samples", "count"), ("cpu.repeat_s.p50", "s"),
    ("mem.peak_rss_mb", "MB"), ("host.steal_share", "ratio"),
    ("session.create_s", "s"), ("session.warmup_s", "s"),
    ("acquire.fetch_s", "s"), ("acquire.bytes", "bytes"),
    ("zip_staging.stage_s", "s"),
    ("sqlite_ingest.register_s", "s"), ("sqlite_ingest.rows_per_s", "1/s"),
    ("sqlite_ingest.staged_bytes", "bytes"),
    ("flagship.exec_s", "s"),
    ("sinks.exists_s", "s"), ("sinks.csv_s", "s"), ("sinks.json_s", "s"),
    ("sinks.bytes_written", "bytes"),
    ("pipeline.plan_executions", "count"),
    ("etl.bytes_per_run", "bytes"),
    *((f"tpch.{n}_s", "s") for n in TPCH_ENTRIES),
    *((f"memo.{m}_build_s", "s") for m in MEMOS),
    ("memo.builds", "count"), ("memo.hit_s", "s"), ("memo.hit_jobs", "count"),
    *((f"dedup_memo.{n}_s", "s") for n in DEDUP_ENTRIES),
    *_SPARK,
    ("ops.refused", "count"),
    ("trace.overhead", "ratio"),
)

# Higher is better for these; lower for every other metric.
HIGHER_IS_BETTER = {
    "sqlite_ingest.rows_per_s", "spark.parallelism", "wall.op_samples", "wall.repeat_samples",
}


def _ok(ops):
    return [o for o in ops if o.status == "ok"]


def _cpu(op) -> float:
    return op.info.get("cpu_s", 0.0)


def end_to_end(run, setup_s: float) -> dict[str, float]:
    """CPU seconds of the engine's process tree: the work a run costs,
    which a busy shared host does not stretch the way it stretches wall
    time. The run's first op pays the process's remaining one-time costs
    (JIT, first scans): it counts in the batch and is left out of
    ``op_cpu_s.mean``. A mean, not a median: the ``analytics`` ops differ
    in cost, and the median jumped between neighbouring ops run to run
    (spread 0.20 against 0.07 for the mean)."""
    ops = [_cpu(o) for o in _ok(run.ops) if o.kind == "op" and o is not run.ops[0]]
    return {
        "setup_s": setup_s,
        "batch_cpu_s": sum(_cpu(o) for o in run.ops if o.batch == 0),
        "op_cpu_s.mean": sum(ops) / len(ops) if ops else 0.0,
    }


def wall(run, peak_mb: float) -> dict[str, float]:
    """Wall-clock seconds, sample counts, memory and the cost of repeats
    (ops re-issued on unchanged input: ETL idempotent skips, memo hits):
    per-layer, unbounded, because host load moves them. A repeat costs a
    few milliseconds of CPU, so the JVM's background work (JIT after the
    heavy op before it) shows in its CPU reading."""
    ok = _ok(run.ops)
    ops = [o for o in ok if o.kind == "op" and o is not run.ops[0]]
    repeats = [o for o in ok if o.kind == "repeat"]
    busy = sum(o.info.get("busy_ticks", 0) for o in run.ops)
    steal = sum(o.info.get("steal_ticks", 0) for o in run.ops)
    return {
        "wall.batch_s": sum(o.seconds for o in run.ops if o.batch == 0),
        "wall.op_s.p50": median(o.seconds for o in ops),
        "wall.repeat_s.p50": median(o.seconds for o in repeats),
        "wall.op_samples": len(ops),
        "wall.repeat_samples": len(repeats),
        "cpu.repeat_s.p50": median(_cpu(o) for o in repeats),
        "mem.peak_rss_mb": peak_mb,
        "host.steal_share": steal / (busy + steal) if busy + steal else 0.0,
    }


def _span_median(spans, name: str, field: str | None = None) -> float:
    recs = [r for r in spans.records if r["name"] == name and "end" in r]
    if field:
        return median(r.get(field, 0) for r in recs)
    return median(r["end"] - r["start"] for r in recs)


def per_layer(run, groups: dict[str, dict], tables_dir: Path, peak_mb: float, ref: list[float]) -> dict:
    spans, ops = run.spans, run.ops
    m: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    m.update(wall(run, peak_mb))
    batch_s = m["wall.batch_s"]
    m["session.create_s"] = spans.total("session.create")
    m["session.warmup_s"] = spans.total("session.warmup")

    # ETL layers: medians over the calls the pipeline made.
    full = [o for o in _ok(ops) if o.name == "etl_run"]
    if full:
        m["acquire.fetch_s"] = _span_median(spans, "acquire.fetch")
        m["acquire.bytes"] = _span_median(spans, "acquire.fetch", "bytes")
        m["zip_staging.stage_s"] = _span_median(spans, "zip_staging.stage")
        register = _span_median(spans, "sqlite_ingest.register")
        m["sqlite_ingest.register_s"] = register
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in tables_dir.glob("*.parquet"))  # all in the DB
        m["sqlite_ingest.rows_per_s"] = rows / register if register else 0.0
        m["sqlite_ingest.staged_bytes"] = median(o.info.get("staged_bytes", 0) for o in full)
        m["flagship.exec_s"] = _span_median(spans, "flagship.exec")
        m["sinks.exists_s"] = _span_median(spans, "sinks.exists")
        m["sinks.csv_s"] = _span_median(spans, "sinks.csv")
        m["sinks.json_s"] = _span_median(spans, "sinks.json")
        m["sinks.bytes_written"] = median(o.info.get("sinks_bytes", 0) for o in full)
        # the flagship is the only plan in a full run with a join
        m["pipeline.plan_executions"] = median(
            groups.get(o.group, {}).get("join_executions", 0) for o in full
        )
        m["etl.bytes_per_run"] = median(o.info.get("bytes_written", 0) for o in full)

    for o in ops:
        for prefix in ("tpch", "dedup_memo"):
            if o.kind == "op" and f"{prefix}.{o.name}_s" in m:
                m[f"{prefix}.{o.name}_s"] = o.seconds

    # Memo substrates: builder spans that grew their memo are builds; an
    # op that consumed a memo and built none is a hit.
    memo_spans = [r for r in spans.records if r["name"].startswith("memo.") and "end" in r]
    for r in memo_spans:
        if r.get("built"):
            m[f"{r['name']}_build_s"] += r["end"] - r["start"]
            m["memo.builds"] += 1
    ops_by_span = {r["id"]: r["group"] for r in spans.records if r["name"] == "op"}
    consumed = {ops_by_span.get(r["parent"]) for r in memo_spans}
    built = {ops_by_span.get(r["parent"]) for r in memo_spans if r.get("built")}
    hits = [o for o in _ok(ops) if o.group in consumed - built]
    m["memo.hit_s"] = median(o.seconds for o in hits)
    m["memo.hit_jobs"] = median(groups.get(o.group, {}).get("jobs", 0) for o in hits)

    # Spark engine totals over the first batch (the same op set every run).
    first = [groups.get(o.group, {}) for o in ops if o.batch == 0]
    for name, _ in _SPARK:
        key = name.split(".", 1)[1]
        if key == "task_skew":
            m[name] = max((g.get(key, 0) for g in first), default=0.0)
        elif key != "parallelism":
            m[name] = sum(g.get(key, 0) for g in first)
    m["spark.parallelism"] = m["spark.task_run_s"] / batch_s if batch_s else 0.0
    m["ops.refused"] = sum(1 for o in ops if o.status == "refused")
    # tracing cost: this traced batch's CPU against untraced runs of the
    # same workload in this checkout (0 until one has run)
    m["trace.overhead"] = end_to_end(run, 0.0)["batch_cpu_s"] / median(ref) - 1 if ref else 0.0
    return m


def _ref_path(here: Path, workload: str) -> Path:
    return here / "_cache" / f"untraced-batch-{workload}.json"


def build(args, run, setup_s, wall_s, peak_mb, conf, here: Path, work: Path) -> dict:
    from sparktrace import per_group

    e2e = end_to_end(run, setup_s)
    ref_path = _ref_path(here, args.workload)
    ref = json.loads(ref_path.read_text()) if ref_path.exists() else []
    groups = per_group(work / "eventlog") if args.trace else {}
    if args.trace:
        values = per_layer(run, groups, run.ctx.tables_dir, peak_mb, ref)
        units = dict(PER_LAYER)
    else:
        values, units = e2e, dict(END_TO_END)
        ref_path.write_text(json.dumps((ref + [e2e["batch_cpu_s"]])[-50:]))
    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if o.status == "failed")

    results = here / "_results"
    results.mkdir(exist_ok=True)
    log = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "settings": conf, "wall_s": wall_s,
        "metrics": values, "end_to_end": e2e, "wall": wall(run, peak_mb),
        "ops": [
            {
                "name": o.name, "kind": o.kind, "batch": o.batch, "seconds": o.seconds,
                "status": o.status, "detail": o.detail, **o.info,
                **({"spark": groups[o.group]} if o.group in groups else {}),
            }
            for o in run.ops
        ],
        "spans": run.spans.records,
    }
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json").write_text(
        json.dumps(log, indent=1, default=str)
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
