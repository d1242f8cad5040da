"""Pipeline + sink semantics pin-tests (SURVEY.md §5.2 items 3-4):
all-string JSON typing, single-array output shape, idempotent skip,
marker-last ordering, zip staging."""

from __future__ import annotations

import csv
import json
import zipfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE

from nzwirelessmap_fetch_spark.pipeline import ARTIFACT_CSV, ARTIFACT_JSON, run_pipeline
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
    """One full run is one execution of the flagship join: its Spark jobs
    are no more than those of one no-op execution of the same plan (the
    CSV write; the JSON is converted from the CSV without Spark), and
    ``latest`` and the version object are the same bytes."""
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
    assert 0 < run_jobs <= noop_jobs, (run_jobs, noop_jobs)
    latest = (tmp_path / ARTIFACT_JSON / "latest").read_bytes()
    assert latest == (tmp_path / ARTIFACT_JSON / "v1").read_bytes()
    assert len(json.loads(latest)) == report["rows"]


def test_versioned_json_over_budget_writes_nothing(spark, tmp_path, monkeypatch):
    """The driver-memory guard refuses before either JSON object or the
    commit is written, so a re-run is not skipped as complete."""
    monkeypatch.setattr(writers, "SINGLE_ARRAY_MAX_ROWS", 4)
    sink = VersionedArtifactSink(tmp_path)
    sink.write_versioned_csv(spark.range(5), ARTIFACT_CSV, "v1")
    with pytest.raises(ValueError, match="budget"):
        sink.write_versioned_json(ARTIFACT_JSON, "v1", ARTIFACT_CSV)
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


def test_versioned_json_requires_committed_csv(spark, tmp_path):
    """No committed CSV, no JSON: the converter never publishes an empty
    array for a CSV that was not written."""
    sink = VersionedArtifactSink(tmp_path)
    with pytest.raises(FileNotFoundError, match="not a committed CSV"):
        sink.write_versioned_json(ARTIFACT_JSON, "v1", ARTIFACT_CSV)
    assert not (tmp_path / ARTIFACT_JSON).exists()


def test_versioned_json_follows_csv_part_order(spark, tmp_path):
    """A multi-part CSV: the JSON records are the part files' rows
    concatenated in part-name order."""
    sink = VersionedArtifactSink(tmp_path)
    df = spark.range(40).select(
        F.col("id"), F.concat(F.lit("r"), F.col("id").cast("string")).alias("s")
    ).repartition(3)
    sink.write_versioned_csv(df, ARTIFACT_CSV, "v1")
    rows = sink.write_versioned_json(ARTIFACT_JSON, "v1", ARTIFACT_CSV)
    parts = sorted((tmp_path / ARTIFACT_CSV / "v1").glob("part-*.csv"))
    assert len(parts) == 3
    want = []
    for p in parts:
        with open(p, newline="", encoding="utf-8") as f:
            want.extend(csv.DictReader(f))
    got = json.loads((tmp_path / ARTIFACT_JSON / "v1").read_text())
    assert got == want and rows == 40
    assert sorted(int(r["id"]) for r in got) == list(range(40))


def test_versioned_json_of_empty_frame(spark, tmp_path):
    sink = VersionedArtifactSink(tmp_path)
    sink.write_versioned_csv(spark.range(0), ARTIFACT_CSV, "v1")
    assert sink.write_versioned_json(ARTIFACT_JSON, "v1", ARTIFACT_CSV) == 0
    assert (tmp_path / ARTIFACT_JSON / "v1").read_text() == "[]"
    assert sink.exists(ARTIFACT_JSON, "v1")


def test_csv_is_rfc4180(spark, tmp_path):
    """sqlite3 ``.mode csv`` quoting: a quote inside a field is doubled
    (not backslash-escaped) and surrounding spaces are data."""
    df = spark.createDataFrame([('a"b', "  x ")], "q string, w string").coalesce(1)
    out = tmp_path / "csv"
    writers.write_headered_csv(df, str(out))
    (part,) = out.glob("part-*.csv")
    assert part.read_text() == 'q,w\n"a""b",  x \n'
    write_single_json_array(df, tmp_path / "out.json")
    assert json.loads((tmp_path / "out.json").read_text()) == [{"q": 'a"b', "w": "  x "}]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["csv", "out.json"]


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
