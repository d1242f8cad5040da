"""The benchmark's workloads.

Each workload is one client in a closed loop: the next op is issued when
the previous one returns. The first pass over the workload's op list is
its batch; after it, ops are re-issued on unchanged input (``repeat``)
until the run's measuring time is used up.
"""

from __future__ import annotations

import random
import threading
import time
import traceback
from datetime import datetime, timedelta, timezone
from email.utils import format_datetime
from http.server import BaseHTTPRequestHandler, HTTPServer
from pathlib import Path

from datagen import FLAGSHIP_TABLES
from harness import Op, cpu_ticks, descendants_cpu_s, wrap

# Input tables and their scale factors (sf 1 = 6 M lineitem rows, 50 k
# documents). The op lists are sized so that set-up, one batch and its
# checks fit the run length on a 4-core host; BENCHMARK.json says why
# each workload exists.
SCALES = {
    "prism_etl": dict.fromkeys(FLAGSHIP_TABLES, 0.01),
    "analytics": dict.fromkeys(FLAGSHIP_TABLES, 0.01) | {"documents": 0.005, "embeddings": 0.005},
}

TPCH_ENTRIES = (
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume",
)

# Order matters: the first consumer of each memoized substrate builds it,
# the later ones hit it. Re-issuing a builder entry (DEDUP_REPEATS) hits
# its memo.
DEDUP_ENTRIES = (
    "dedup_simhash_hamming",          # builds the verified SimHash pairs
    "dedup_simhash_content_hash",     # hits them
    "dedup_ngram_jaccard",            # builds the verified Jaccard pairs
    "corpus_winnowing_capped",        # builds winnow fingerprints + capped pairs
)
DEDUP_REPEATS = ("dedup_simhash_hamming", "dedup_ngram_jaccard", "corpus_winnowing_capped")

# Memoized substrates: (module, memo dict, builder function).
MEMOS = {
    "jaccard": ("dedup", "_PAIRS_CACHE", "_verified_jaccard_pairs"),
    "simhash": ("dedup", "_SIMHASH_PAIRS_CACHE", "_verified_simhash_pairs"),
    "winnow": ("text", "_WINNOW_PAIRS_CACHE", "_winnow_pairs"),
}

# Unchanged-source triggers after each full ETL run. They are cheap; the
# first few overlap the JVM's background work (JIT) left by the full run.
SKIPS_PER_CYCLE = 30
MIN_CYCLES = 2  # full ETL runs per run; the first in a process is cold
MIN_REPEATS = 9  # memo-hit re-issues (three rounds of DEDUP_REPEATS)


def _memo_module(name: str):
    from nzwirelessmap_fetch_spark.operators import dedup, text

    return {"dedup": dedup, "text": text}[name]


def memo_sizes() -> dict[str, int]:
    return {
        memo: len(getattr(_memo_module(mod), cache))
        for memo, (mod, cache, _) in MEMOS.items()
    }


class Run:
    """State of one workload run: the session, the op log and the clock."""

    def __init__(self, spark, ctx):
        from nzwirelessmap_fetch_spark.operators.text import ExactMeasureBoundError

        self.spark, self.ctx = spark, ctx
        self.spans, self.rss, self.trace = ctx.spans, ctx.rss, ctx.trace
        self.refusal = ExactMeasureBoundError
        self.ops: list[Op] = []
        self.batch = 0  # index of the pass (or ETL cycle) ops belong to
        self.deadline = 0.0

    def start_clock(self) -> None:
        self.deadline = time.perf_counter() + self.ctx.seconds

    def op(self, name: str, kind: str, fn, check=None) -> Op:
        group = f"{len(self.ops):03d}:{kind}:{name}"
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, name)
        before = memo_sizes()
        status, detail, result = "ok", "", None
        (busy0, steal0), kids0 = cpu_ticks(), descendants_cpu_s()
        own0, start = time.process_time(), time.perf_counter()
        try:
            with self.spans.span("op", op=name, kind=kind, group=group):
                result = fn()
        except self.refusal as exc:
            status, detail = "refused", str(exc).splitlines()[0][:300]
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            status, detail = "failed", f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
            detail += "\n" + traceback.format_exc()[-4000:]
        op = Op(name, kind, start, time.perf_counter(), status, detail, group, self.batch)
        own1, kids1, (busy1, steal1) = time.process_time(), descendants_cpu_s(), cpu_ticks()
        op.info.update(
            cpu_s=own1 - own0 + kids1 - kids0, busy_ticks=busy1 - busy0, steal_ticks=steal1 - steal0
        )
        op.info["memo_builds"] = [m for m, n in memo_sizes().items() if n > before[m]]
        self.rss.sample()
        if status == "ok" and check is not None:
            try:
                problem = check(result)
            except Exception as exc:  # noqa: BLE001
                problem = f"check raised {type(exc).__name__}: {exc}".splitlines()[0][:300]
            if problem:
                op.status, op.detail = "failed", problem
        self.ops.append(op)
        return op

    def repeat(self, names, issue) -> None:
        """Re-issue ``names`` round-robin until the measuring time is used
        and at least MIN_REPEATS repeats ran."""
        i = 0
        while i < MIN_REPEATS or time.perf_counter() < self.deadline:
            self.batch = 1 + i // len(names)
            issue(names[i % len(names)], "repeat")
            i += 1


def _registry_workload(run: Run, names, repeats, sf_dir: Path) -> None:
    from nzwirelessmap_fetch_spark.plans import registry

    fns, sqls = registry.queries(), registry.oracle_sql()
    oracle = run.ctx.oracle

    def issue(name: str, kind: str) -> None:
        fn = fns[name]

        def check(pdf):
            sql = sqls.get(name)
            return oracle.check(name, sql, pdf) if sql else ""

        run.op(name, kind, lambda: fn(run.spark, str(sf_dir)).toPandas(), check)
        # release caches an op created, as the engine's own suite does
        run.spark.catalog.clearCache()

    run.start_clock()
    for name in names:
        issue(name, "op")
    run.repeat(repeats, issue)


def analytics(run: Run) -> None:
    """The TPC-H plans, then the near-duplicate family, then memo-hit
    re-issues. The order is fixed: the first ops of a process carry its
    remaining JIT cost, and a seed-shuffled order moved that cost between
    queries run to run."""
    if run.trace:
        for memo, (mod, cache, builder) in MEMOS.items():
            memo_dict = getattr(_memo_module(mod), cache)

            def note(rec, _result, memo_dict=memo_dict, size=[len(memo_dict)]):
                rec["built"] = len(memo_dict) > size[0]
                size[0] = len(memo_dict)

            wrap(_memo_module(mod), builder, run.spans, f"memo.{memo}", note)
    _registry_workload(run, TPCH_ENTRIES + DEDUP_ENTRIES, DEDUP_REPEATS, run.ctx.tables_dir)


class SourceServer:
    """Serves ``prism.zip`` over HTTP on localhost with a ``Last-Modified``
    header the workload advances to publish a new source version."""

    def __init__(self, payload: bytes):
        self.payload = payload
        self.last_modified = ""
        server = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                self.send_response(200)
                self.send_header("Content-Type", "application/zip")
                self.send_header("Content-Length", str(len(server.payload)))
                self.send_header("Last-Modified", server.last_modified)
                self.end_headers()
                self.wfile.write(server.payload)

            def log_message(self, *args):
                pass

        self.httpd = HTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.httpd.server_address[1]}/prism.zip"
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def publish(self, when: datetime) -> str:
        self.last_modified = format_datetime(when, usegmt=True)
        return when.strftime("%Y-%m-%dT%H:%M:%SZ")

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join()


def _bytes_since(roots, since: float) -> int:
    return sum(
        p.stat().st_size
        for root in roots
        for p in root.rglob("*")
        if p.is_file() and p.stat().st_mtime >= since
    )


def _trace_etl_layers(run: Run) -> None:
    """Spans around the pipeline's calls into each layer (traced runs)."""
    from nzwirelessmap_fetch_spark.sinks.writers import VersionedArtifactSink
    from nzwirelessmap_fetch_spark.sources import acquire, sqlite_ingest, zip_staging

    def fetched(rec, result):
        rec["bytes"] = Path(result.local_path).stat().st_size

    wrap(acquire, "fetch_artifact", run.spans, "acquire.fetch", fetched)
    wrap(zip_staging, "stage_member", run.spans, "zip_staging.stage")
    wrap(sqlite_ingest, "register_sqlite_database", run.spans, "sqlite_ingest.register")
    wrap(VersionedArtifactSink, "exists", run.spans, "sinks.exists")
    wrap(VersionedArtifactSink, "write_versioned_csv", run.spans, "sinks.csv")
    wrap(VersionedArtifactSink, "write_versioned_json", run.spans, "sinks.json")


def prism_etl(run: Run) -> None:
    from nzwirelessmap_fetch_spark import pipeline
    from nzwirelessmap_fetch_spark.plans.flagship import FLAGSHIP_ORACLE_SQL

    import checks

    ctx = run.ctx
    if run.trace:
        _trace_etl_layers(run)
    staging, out_root = ctx.work / "staging", ctx.work / "artifacts"
    expected = ctx.oracle.frame(FLAGSHIP_ORACLE_SQL)
    rng = random.Random(ctx.seed)
    when = datetime(2015, 1, 1, tzinfo=timezone.utc) + timedelta(days=rng.randrange(3650))
    server = SourceServer(ctx.prism_zip.read_bytes())
    trigger = lambda: pipeline.run_pipeline_from_url(run.spark, server.url, staging, out_root)  # noqa: E731
    committed: list[tuple[str, Op]] = []
    try:
        run.start_clock()
        while len(committed) < MIN_CYCLES or time.perf_counter() < run.deadline:
            when += timedelta(seconds=rng.randrange(3600, 30 * 86400))
            version = server.publish(when)
            since = time.time() - 1  # st_mtime has coarse granularity
            want = {"skipped": False, "version": version, "rows": len(expected)}
            op = run.op("etl_run", "op", trigger, lambda rep, w=want: "" if rep == w else f"report {rep} != {w}")
            op.info["version"] = version
            op.info["bytes_written"] = _bytes_since([staging, out_root], since)
            if run.trace:
                op.info["sinks_bytes"] = _bytes_since([out_root], since)
                op.info["staged_bytes"] = _bytes_since([staging / "parquet"], since)
                run.spark.sparkContext.setJobGroup(f"layer:flagship:{version}", "flagship")
                with run.spans.span("flagship.exec"):
                    run.spark.sql(FLAGSHIP_ORACLE_SQL).write.format("noop").mode("overwrite").save()
            committed.append((version, op))
            skip = {"skipped": True, "version": version, "rows": None}
            for _ in range(SKIPS_PER_CYCLE):
                run.op("etl_trigger_unchanged", "repeat", trigger,
                       lambda rep, w=skip: "" if rep == w else f"report {rep} != {w}")
            run.batch += 1
    finally:
        server.close()

    # Artifact checks, outside the timed interval: every committed
    # version's CSV and JSON, and the final ``latest`` pointer.
    def verify(op: Op, label: str, read, path: Path) -> None:
        if op.status != "ok":
            return
        try:
            problem = ctx.oracle.check("flagship", FLAGSHIP_ORACLE_SQL, read(path, expected))
        except Exception as exc:  # noqa: BLE001
            problem = f"unreadable ({type(exc).__name__}: {exc})"
        if problem:
            op.status, op.detail = "failed", f"{label} {path.name}: {problem}"[:300]

    for version, op in committed:
        verify(op, "csv", checks.read_csv_artifact, out_root / "links.csv" / version)
        verify(op, "json", checks.read_json_artifact, out_root / "links.json" / version)
    verify(committed[-1][1], "json", checks.read_json_artifact, out_root / "links.json" / "latest")


WORKLOADS = {"prism_etl": prism_etl, "analytics": analytics}
