"""Round-11 (second pass) optimization equivalence pins.

Each test pins an optimization that changed an operator's internals to
the exact semantics of the expression it replaced:

- ``ml_feature_hashing``'s one-md5-per-token fold vs the original
  one-filter-per-bucket expression (HASH_DIM× md5 per token).
- ``dedup_edit_distance``'s bounded (banded-DP) levenshtein vs the
  unbounded form + ``<=`` filter.

(A third candidate from this pass — flat-expanding the vector dot
fold into a 64-term codegen tree — was measured SLOWER than the HOF
fold in an interleaved same-session A/B and rejected; see
OPTIMIZATION_r11.md "Rejected variant". Nothing of it ships, so
nothing of it is pinned here.)
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.01"


def _check_oracle(spark, ddb, name):
    from nzwirelessmap_fetch_spark.plans import registry

    from .oracle import compare

    compare(registry.queries()[name](spark, SF), ddb, registry.oracle_sql()[name])


def test_feature_hashing_fold_matches_per_bucket_filter(spark):
    """The one-md5-per-token fold (shipped, joined to text) vs the
    original one-filter-per-bucket expression joined the same way,
    including the NULL-text shape (NULL text → NULL vector text)."""
    from nzwirelessmap_fetch_spark.operators.mlprep import (
        FEATURE_COUNTS_SQL,
        HASH_DIM,
    )

    rows = [
        ("a b c hello world the of a a",),
        ("",),
        (None,),
        ("single",),
        ("x " * 200,),
        ("Ünïcode tökens échantillon",),
    ]
    df = spark.createDataFrame(rows, "text: string")
    bucket = (
        f"CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % {HASH_DIM}"
    )
    old = (
        f"IF(text IS NULL, NULL, array_join(transform(sequence(0, {HASH_DIM - 1}), k -> "
        f"CAST(size(filter(split(text, ' '), t -> ({bucket}) = k)) AS INT)), ','))"
    )
    ne = (
        df.select(F.expr(old).alias("o"), F.expr(FEATURE_COUNTS_SQL).alias("n"))
        .selectExpr("sum(CASE WHEN o <=> n THEN 0 ELSE 1 END) AS ne")
        .head()["ne"]
    )
    assert ne == 0


def test_feature_hashing_text_decodes_to_array_fold(spark):
    """The comma-joined vector decodes to exactly the array<int> the r11
    fold emitted, row for row, on the sf0.01 corpus plus edge texts;
    NULL text is NULL on both the engine and the DuckDB oracle side."""
    import duckdb

    from nzwirelessmap_fetch_spark.catalog import Catalog
    from nzwirelessmap_fetch_spark.operators.mlprep import (
        FEATURE_COUNTS_SQL,
        HASH_DIM,
        ML_FEATURE_HASHING_SQL,
    )

    array_fold = f"""
      IF(text IS NULL,
         transform(sequence(0, {HASH_DIM - 1}), k -> CAST(NULL AS INT)),
         aggregate(
           transform(split(text, ' '),
                     t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % {HASH_DIM}),
           array_repeat(0, {HASH_DIM}),
           (acc, b) -> transform(acc, (x, i) -> IF(i = b, x + 1, x))))
    """
    edge = spark.createDataFrame(
        [(-1, None), (-2, ""), (-3, "  a  b "), (-4, "é ☃ é")], "doc_id long, text string"
    )
    docs = (
        Catalog(spark, SF).table("documents").select("doc_id", "text").unionByName(edge)
    )
    rows = docs.select(
        "doc_id",
        F.expr(array_fold).alias("arr"),
        F.expr(FEATURE_COUNTS_SQL).alias("txt"),
    ).collect()
    assert len(rows) > 4  # the corpus rows, not only the edge texts
    for r in rows:
        if r["txt"] is None:
            assert r["arr"] == [None] * HASH_DIM, r["doc_id"]
        else:
            assert [int(x) for x in r["txt"].split(",")] == r["arr"], r["doc_id"]

    con = duckdb.connect()
    con.register("documents", edge.toPandas())
    oracle = {d: fc for d, fc, _ in con.execute(ML_FEATURE_HASHING_SQL).fetchall()}
    con.close()
    engine = {r["doc_id"]: r["txt"] for r in rows if r["doc_id"] < 0}
    assert oracle == engine and oracle[-1] is None


def test_bounded_levenshtein_same_pairs_and_values(spark):
    """levenshtein(l, r, k) returns the exact distance for every kept
    row and -1 past the bound — `>= 0` selects the identical set as the
    unbounded `<= k` filter did, at banded-DP cost."""
    from nzwirelessmap_fetch_spark.operators.dedup import EDIT_MAX_DISTANCE

    rows = [
        ("same prefix here", "same prefix here"),
        ("same prefix herX", "same prefix here"),
        ("a" * 64, "a" * 56 + "b" * 8),  # exactly at the bound
        ("a" * 64, "b" * 64),  # far past the bound
        ("short", "short but longer tail"),  # length gap > bound
    ]
    df = spark.createDataFrame(rows, "l: string, r: string")
    out = df.select(
        F.levenshtein("l", "r").alias("full"),
        F.levenshtein("l", "r", EDIT_MAX_DISTANCE).alias("bounded"),
    ).collect()
    for row in out:
        if row["full"] <= EDIT_MAX_DISTANCE:
            assert row["bounded"] == row["full"]
        else:
            assert row["bounded"] == -1


@pytest.mark.parametrize("name", ["ml_feature_hashing", "dedup_edit_distance"])
def test_replanned_entries_match_oracle_hash(spark, ddb, name):
    _check_oracle(spark, ddb, name)
