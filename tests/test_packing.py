"""Semantic invariants for the training-data assembly operators — the
properties the oracle hash can't state directly (bounds, contiguity,
plan shape)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT

from nzwirelessmap_fetch_spark.operators.packing import (
    TOKEN_BUDGET,
    embedding_quantize,
    pack_sequences,
)


def test_pack_sequences_shard_contiguity(spark):
    """Within a shard the token stream is gapless: every document starts
    exactly where its predecessor ended, and chunk geometry is
    consistent with the budget."""
    df = pack_sequences(spark, SF_CORRECT).cache()
    try:
        w = df.withColumn(
            "prev_end",
            F.lag(F.col("start_offset") + F.col("n_tokens")).over(
                Window.partitionBy("shard").orderBy("doc_id")
            ),
        )
        gaps = w.filter(
            F.col("prev_end").isNotNull() & (F.col("prev_end") != F.col("start_offset"))
        ).count()
        assert gaps == 0
        bad_geometry = df.filter(
            (F.col("offset_in_chunk") < 0)
            | (F.col("offset_in_chunk") >= TOKEN_BUDGET)
            | (F.col("chunks_spanned") != F.col("last_chunk") - F.col("first_chunk") + 1)
            | (F.col("first_chunk") != F.floor(F.col("start_offset") / TOKEN_BUDGET))
        ).count()
        assert bad_geometry == 0
        # packing must not lose or invent any document
        assert df.count() == df.select("doc_id").distinct().count()
    finally:
        df.unpersist()


def test_pack_sequences_is_single_exchange(spark):
    """The scale claim: one hash exchange (the shard partitionBy), no
    global sort of the corpus."""
    plan = (
        pack_sequences(spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan  # no global orderBy
    assert "Exchange SinglePartition" not in plan


def test_embedding_quantize_error_bound(spark):
    """int8 symmetric quantization error is bounded by half a quantization
    step: |x - q/scale| <= 0.5/scale (+ float slack)."""
    df = embedding_quantize(spark, SF_CORRECT)
    viol = df.filter(
        (F.col("scale") <= 0)
        | (F.col("max_abs_err") > 0.5 / F.col("scale") + 1e-12)
        | (F.col("mse") > F.col("max_abs_err") * F.col("max_abs_err") + 1e-18)
    ).count()
    assert viol == 0
    assert df.filter(F.col("n_dims") == 64).count() == df.count()


def test_embedding_quantize_zero_shuffle(spark):
    plan = (
        embedding_quantize(spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_subquery_ops_decorrelated(spark):
    """Catalyst must rewrite EXISTS/IN into semi joins — no per-row
    subquery execution in the physical plan."""
    from nzwirelessmap_fetch_spark.plans.relational import subquery_ops

    plan = (
        subquery_ops(spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan


def test_agg_quantiles_monotone(spark):
    from nzwirelessmap_fetch_spark.plans.relational import agg_quantiles

    rows = agg_quantiles(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert r.p25 <= r.p50 <= r.p75 <= r.p95


def test_pack_sequences_text_edge_cases(spark, tmp_path):
    """Driver-gate hardening pin (round 4): empty text, trailing space,
    repeated spaces, and a single word must tokenize identically on both
    engines — the space-count formula 1+len(t)-len(replace(t,' ',''))
    sidesteps split-of-empty-string version drift entirely."""
    import duckdb
    import pandas as pd

    from tests.oracle import compare
    from nzwirelessmap_fetch_spark.operators.packing import PACK_SEQUENCES_SQL

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5],
            "text": ["", "word", "a b", "trailing ", "  doubled  gap", " "],
        }
    )
    fixture = tmp_path / "edge"
    fixture.mkdir()
    docs.to_parquet(fixture / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{fixture}/documents.parquet')"
    )
    compare(pack_sequences(spark, str(fixture)), con, PACK_SEQUENCES_SQL)
    con.close()


def test_oracle_outputs_no_env_sensitive_types(ddb):
    """Registry-wide guard for the r3 driver-gate red row: DuckDB types a
    SUM(BIGINT) as HUGEINT (int128), which converts to float64 in pandas
    on some duckdb/pandas version pairs and breaks value-hash parity with
    Spark's int64. No oracle may emit HUGEINT (or DECIMAL, same
    stringification hazard) — cast to BIGINT/DOUBLE at source."""
    import __spark_entry__ as entrymod

    offenders = []
    for name, sql in entrymod.oracle_sql().items():
        rel = ddb.sql(sql)
        bad = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if str(t) in ("HUGEINT", "UHUGEINT", "UBIGINT")
            or str(t).startswith("DECIMAL")
        ]
        if bad:
            offenders.append((name, bad))
    assert not offenders, f"env-sensitive oracle output types: {offenders}"


def test_oracle_outputs_no_nested_types(ddb):
    """Registry-wide guard for list-valued outputs (ml_feature_hashing
    lost a correctness row to one): canonicalizing a result by a pandas
    sort over all columns cannot order list, map or struct cells. Every
    registered output column must be a scalar — nested values ship as
    text (``array_join`` / ``array_to_string``). Each engine entry
    hash-matches its oracle, so the oracle's types stand for both."""
    import __spark_entry__ as entrymod

    offenders = []
    for name, sql in entrymod.oracle_sql().items():
        rel = ddb.sql(sql)
        bad = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if t.id in ("list", "array", "map", "struct", "union")
        ]
        if bad:
            offenders.append((name, bad))
    assert not offenders, f"nested oracle output types: {offenders}"


def test_pack_bins_ffd_invariants(spark):
    """FFD results must be feasible (no bin over budget) and tight
    (bin count within the 11/9·OPT+1 FFD guarantee of the volume lower
    bound, per shard)."""
    import math

    from nzwirelessmap_fetch_spark.operators.packing import pack_bins_ffd

    df = pack_bins_ffd(spark, SF_CORRECT).cache()
    try:
        over = (
            df.groupBy("shard", "bin_idx")
            .agg(F.sum("n_tokens").alias("fill"))
            .filter(F.col("fill") > TOKEN_BUDGET)
            .count()
        )
        assert over == 0
        per_shard = (
            df.groupBy("shard")
            .agg(
                F.max("bin_idx").alias("n_bins"),
                F.sum("n_tokens").alias("total"),
            )
            .collect()
        )
        for r in per_shard:
            lower = math.ceil(r.total / TOKEN_BUDGET)
            assert r.n_bins <= math.ceil(11 / 9 * lower) + 1
    finally:
        df.unpersist()
