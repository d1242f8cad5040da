"""Pipeline + sink semantics pin-tests (SURVEY.md §5.2 items 3-4):
all-string JSON typing, single-array output shape, idempotent skip,
marker-last ordering, zip staging."""

from __future__ import annotations

import json
import zipfile

import pytest

from tests.conftest import SF_CORRECT, SF_SMOKE

from nzwirelessmap_fetch_spark.pipeline import ARTIFACT_JSON, run_pipeline
from nzwirelessmap_fetch_spark.plans.flagship import flagship
from nzwirelessmap_fetch_spark.sinks import writers
from nzwirelessmap_fetch_spark.sinks.writers import (
    VersionedArtifactSink,
    to_all_strings,
    write_single_json_array,
)
from nzwirelessmap_fetch_spark.sources.readers import map_access_type
from nzwirelessmap_fetch_spark.sources.zip_staging import stage_member


def test_pipeline_runs_then_skips(spark, tmp_path):
    r1 = run_pipeline(spark, SF_SMOKE, tmp_path, version="v1")
    assert r1 == {"skipped": False, "version": "v1", "rows": r1["rows"]}
    assert r1["rows"] > 0
    # marker exists → second run is memoized (P3, fetch.go:55-67)
    r2 = run_pipeline(spark, SF_SMOKE, tmp_path, version="v1")
    assert r2["skipped"] is True
    # latest pointer exists alongside the versioned marker (P18)
    assert (tmp_path / ARTIFACT_JSON / "latest").exists()
    assert (tmp_path / ARTIFACT_JSON / "v1").exists()


def test_pipeline_materializes_flagship_once(spark, tmp_path):
    """One full run executes the flagship join once: its Spark jobs stay
    under twice those of one no-op execution of the same plan (re-running
    the join per artifact costs several times that), and ``latest`` and
    the version object are the same bytes."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup("test-flagship-noop", "flagship noop")
        flagship(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        sc.setJobGroup("test-pipeline-run", "pipeline run")
        report = run_pipeline(spark, SF_SMOKE, tmp_path, version="v1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    noop_jobs = len(tracker.getJobIdsForGroup("test-flagship-noop"))
    run_jobs = len(tracker.getJobIdsForGroup("test-pipeline-run"))
    assert report["rows"] > 0
    assert 0 < run_jobs < 2 * noop_jobs, (run_jobs, noop_jobs)
    latest = (tmp_path / ARTIFACT_JSON / "latest").read_bytes()
    assert latest == (tmp_path / ARTIFACT_JSON / "v1").read_bytes()
    assert len(json.loads(latest)) == report["rows"]


def test_versioned_json_over_budget_writes_nothing(spark, tmp_path, monkeypatch):
    """The driver-memory guard refuses before either JSON object or the
    commit is written, so a re-run is not skipped as complete."""
    df = spark.range(5)
    monkeypatch.setattr(writers, "SINGLE_ARRAY_MAX_ROWS", 4)
    sink = VersionedArtifactSink(tmp_path)
    with pytest.raises(ValueError, match="budget"):
        sink.write_versioned_json(df, ARTIFACT_JSON, "v1")
    assert not (tmp_path / ARTIFACT_JSON / "latest").exists()
    assert not (tmp_path / ARTIFACT_JSON / "v1").exists()
    assert sink.exists(ARTIFACT_JSON, "v1") is False


def test_single_json_array_all_strings(spark, tmp_path):
    """P16/P17: one JSON array; every value a string; NULL → ''."""
    df = spark.createDataFrame(
        [(1, 2.5, None), (2, None, "x")], "a long, b double, c string"
    )
    out = tmp_path / "out.json"
    write_single_json_array(df, out)
    data = json.loads(out.read_text())
    assert isinstance(data, list) and len(data) == 2
    by_a = {r["a"]: r for r in data}
    assert by_a["1"] == {"a": "1", "b": "2.5", "c": ""}
    assert by_a["2"] == {"a": "2", "b": "", "c": "x"}


def test_all_strings_schema(spark):
    df = to_all_strings(
        spark.createDataFrame([(1, 2.5)], "a long, b double")
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string", "string"]


def test_access_type_map_closed():
    assert map_access_type("MONEY").simpleString() == "string"
    assert map_access_type("BOOLEAN").simpleString() == "int"
    with pytest.raises(ValueError, match="Unhandled MS Access datatype"):
        map_access_type("COMPLEX")


def test_zip_staging(tmp_path):
    zp = tmp_path / "src.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("inner/prism.mdb", b"payload")
        zf.writestr("other.txt", b"nope")
    staged = stage_member(zp, "inner/prism.mdb", tmp_path / "staging")
    assert staged.read_bytes() == b"payload"
    with pytest.raises(FileNotFoundError, match="couldn't find"):
        stage_member(zp, "missing.mdb", tmp_path / "staging")


def test_unknown_table_raises_keyerror(spark):
    """The schema registry is closed (SURVEY.md §1.2: unknown Access types
    error in the reference jar; unknown tables error here)."""
    from nzwirelessmap_fetch_spark.catalog import Catalog

    with pytest.raises(KeyError, match="registry is closed"):
        Catalog(spark, SF_CORRECT).table("nope")


def test_missing_sf_dir_raises_path_not_found(spark):
    from pyspark.errors.exceptions.captured import AnalysisException

    from nzwirelessmap_fetch_spark.catalog import Catalog

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        Catalog(spark, "/root/testdata/sf-nope").table("orders").count()


def test_stream_to_versioned_sink(spark, tmp_path):
    """foreachBatch must land micro-batches in the P18 versioned layout."""
    from nzwirelessmap_fetch_spark.streaming.events_stream import (
        stream_to_versioned_sink,
    )

    report = stream_to_versioned_sink(spark, SF_CORRECT, str(tmp_path))
    assert report["batches"] >= 1 and report["rows"] > 0
    batches = [
        p for p in (tmp_path / "events_counts").iterdir() if p.name.startswith("batch=")
    ]
    assert batches and (tmp_path / "events_counts" / "latest").exists()
    out = spark.read.json(str(batches[0]))
    assert out.count() > 0 and set(out.columns) == {"window_start", "event_type", "n"}


def test_run_query_cli(spark, capsys):
    """The user-facing CLI drives the same registry as the driver
    contract: --list enumerates, a name runs, an unknown name exits 2."""
    from nzwirelessmap_fetch_spark.run_query import main

    assert main(["--list"]) == 0
    names = capsys.readouterr().out.split()
    assert "p2p_links" in names and len(names) >= 86
    assert main(["topk_orders", SF_SMOKE, "--limit", "3"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 3 and all(json.loads(line) for line in out)
    assert main(["nope"]) == 2
