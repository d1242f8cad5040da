"""The memoized-substrate table (functions/memo.py): its declarations,
its bounded lifetime, its traffic record and the benchmark's hooks."""

from __future__ import annotations

import importlib
import os

from nzwirelessmap_fetch_spark.functions import memo
from nzwirelessmap_fetch_spark.functions.memo import SUBSTRATES, Memo

from .conftest import SF_CORRECT, SF_SMOKE

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def test_table_declarations_resolve():
    """Every declared consumer is a registered entry, every memo and
    builder attribute exists, and bench.py's lines keep their order."""
    from nzwirelessmap_fetch_spark.plans import registry

    names = set(registry.queries())
    for sub in SUBSTRATES:
        assert sub.consumers and sub.consumers <= names, (sub.name, sub.consumers - names)
        home = sub.home()
        assert getattr(home, sub.memo).substrate is sub
        assert callable(getattr(home, sub.builder))
    assert [label for sub in SUBSTRATES for label in sub.bench_lines()] == [
        "shared_jaccard_pair_build",
        "shared_jaccard_pair_build_capped",
        "shared_containment_build",
        "shared_containment_build_capped",
        "shared_pc_build",
        "shared_winnow_build",
        "shared_winnow_build_capped",
        "shared_simhash_pair_build",
    ]


def test_build_labels():
    """A build is attributed to the most specific bench line its variant
    matches; a substrate with no line of its own names its owner's."""
    from nzwirelessmap_fetch_spark.operators.dedup import JACCARD_MAX_DF
    from nzwirelessmap_fetch_spark.operators.text import WINNOW_ADAPTIVE

    by = memo.BY_NAME
    assert by["jaccard"].build_label((None, "auto")) == "shared_jaccard_pair_build"
    assert by["jaccard"].build_label((None, "hash")) == "shared_jaccard_pair_build"
    assert by["jaccard"].build_label((JACCARD_MAX_DF, "auto")) == "shared_jaccard_pair_build_capped"
    assert by["containment"].build_label((None, "df")) == "shared_containment_build"
    assert by["containment"].build_label((JACCARD_MAX_DF, "auto")) == "shared_containment_build_capped"
    assert by["winnow"].build_label((WINNOW_ADAPTIVE,)) == "shared_winnow_build_capped"
    assert by["gram"].build_label(()) == "shared_pc_build"
    assert by["trajectory"].build_label(()) == "shared_pc_build"
    assert by["pc"].build_label(()) == "shared_pc_build"


def test_traffic_records_builds_hits_and_undeclared(spark, monkeypatch):
    import nzwirelessmap_fetch_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_SIMHASH_PAIRS_CACHE", Memo("simhash"))
    traffic = memo.Traffic()
    monkeypatch.setattr(memo, "RECORDER", traffic)
    traffic.entry = "dedup_simhash_hamming"
    dd.dedup_simhash_hamming(spark, SF_SMOKE)
    assert set(traffic.builds) == {"shared_simhash_pair_build"}
    traffic.entry = "not_a_consumer"
    dd._verified_simhash_pairs(spark, SF_SMOKE)  # a hit: no second build
    assert set(traffic.builds) == {"shared_simhash_pair_build"}
    assert traffic.touched["dedup_simhash_hamming"] == {"simhash"}
    assert traffic.undeclared() == {"not_a_consumer": ["simhash"]}


def test_memo_holds_one_corpus(spark, monkeypatch):
    """A miss for another sf_dir drops the live entries and frees their
    checkpoint blocks (DataFrame.unpersist() would not)."""
    import nzwirelessmap_fetch_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_PAIRS_CACHE", Memo("jaccard"))
    persistent = spark.sparkContext._jsc.getPersistentRDDs

    dd._verified_jaccard_pairs(spark, SF_SMOKE)
    after_first = persistent().size()
    dd._verified_jaccard_pairs(spark, SF_CORRECT)
    app = spark.sparkContext.applicationId
    assert {k[:2] for k in dd._PAIRS_CACHE} == {(app, SF_CORRECT)}
    assert persistent().size() <= after_first


def test_memo_drops_stopped_application_entries(spark, monkeypatch):
    """Entries of another application are dropped without a call into
    their (stopped) context; this application's are freed."""
    freed = []
    monkeypatch.setattr(memo, "_free", freed.append)
    app = spark.sparkContext.applicationId
    m = Memo("simhash")
    m[("stopped-app", SF_SMOKE)] = "stale"
    m[(app, SF_CORRECT)] = "other corpus"
    assert m.get_or_build(spark, SF_SMOKE, (), lambda: "built") == "built"
    assert list(m) == [(app, SF_SMOKE)]
    assert freed == ["other corpus"]


def test_perfbench_memo_hooks_resolve(spark, monkeypatch):
    """The benchmark reads ``len(module.<memo>)`` around each op and, in
    traced runs, wraps ``module.<builder>``: both must keep resolving to
    the live memo and builder, or its ``memo.*`` figures go blank."""
    from nzwirelessmap_fetch_spark.plans import registry

    monkeypatch.syspath_prepend(PERFBENCH)
    workloads = importlib.import_module("workloads")
    queries = registry.queries()
    for name, (mod_name, cache, builder) in workloads.MEMOS.items():
        module = importlib.import_module(f"nzwirelessmap_fetch_spark.operators.{mod_name}")
        live = getattr(module, cache)
        assert isinstance(len(live), int)
        monkeypatch.setattr(module, cache, Memo(live.substrate.name))
        calls = []
        original = getattr(module, builder)

        def wrapped(*a, _original=original, **kw):
            calls.append(1)
            return _original(*a, **kw)

        monkeypatch.setattr(module, builder, wrapped)
        consumer = next(e for e in workloads.DEDUP_ENTRIES if e in live.substrate.consumers)
        queries[consumer](spark, SF_SMOKE)
        built = len(getattr(module, cache))
        assert built > 0, name
        queries[consumer](spark, SF_SMOKE)
        assert len(getattr(module, cache)) == built, name
        assert calls, name
