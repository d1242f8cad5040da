"""Memoized substrates: heavy results several registry entries share,
built once per (session, corpus). ``SUBSTRATES`` is the one table of
them; bench.py's ``shared_*`` lines, check_queries' sidecars and the
sharded gate's memo families derive from it.

Keys are ``(applicationId, sf_dir, *variant)``: ``id(spark)`` is not safe,
as CPython reuses ids after GC, which could hand a checkpointed DataFrame
bound to a stopped SparkContext to a new session. A memo holds one
``(applicationId, sf_dir)``: a miss for another drops the live entries
and frees their executor storage (a stopped application's are only
dropped). Nothing is freed on a hit: a freed checkpoint fails every read.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import time
from dataclasses import dataclass
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class Substrate:
    """One memoized substrate's declaration."""

    name: str
    module: str  # the operators module holding the memo and the builder
    memo: str
    builder: str
    consumers: frozenset[str]
    params: tuple[str, ...] = ()  # builder arguments forming the variant
    lines: Callable = lambda m: {}  # bench lines: label -> builder kwargs
    label: str | None = None  # a build's label when it has no line of its own

    def home(self):
        return importlib.import_module(f"nzwirelessmap_fetch_spark.operators.{self.module}")

    def bench_lines(self) -> dict[str, dict]:
        return self.lines(self.home())

    def build_label(self, variant: tuple) -> str:
        """The bench line a build of ``variant`` is attributed to: the most
        specific line whose kwargs the variant carries, else the first."""
        named = dict(zip(self.params, variant)).items()
        lines = self.bench_lines()
        fits = [(len(kw), label) for label, kw in lines.items() if kw.items() <= named]
        return max(fits)[1] if fits else self.label or next(iter(lines), self.name)


_JACCARD = frozenset({
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_lsh_quality_eval",
    "dedup_simhash_quality_eval",
    "dedup_snm_quality_eval",
    "dedup_snm_multipass_eval",
    "dedup_connected_components",
    "dedup_cc_star",
    "corpus_canonical_picks",
    # through dedup._jaccard_edges (operators/graph.py)
    "graph_pagerank",
    "graph_bfs_levels",
    "graph_triangle_count",
    "graph_assortativity",
    "graph_kcore",
    "graph_modularity",
    "graph_louvain_one_level",
    "graph_louvain_two_level",
    "graph_louvain_converged",
    "graph_community_label_prop",
    "graph_random_walks",
})
_CONTAINMENT = frozenset({
    "corpus_containment",
    "corpus_containment_capped",
    "corpus_containment_cap_eval",
})
_WINNOW = frozenset({"corpus_winnowing", "corpus_winnowing_capped", "corpus_winnowing_cap_eval"})
_PCA = frozenset({
    "embedding_principal_component",
    "embedding_abtt_residual",
    "embedding_pca_top2",
    "embedding_whitening",
})

# Table order is bench.py's line order.
SUBSTRATES = (
    Substrate(
        "jaccard", "dedup", "_PAIRS_CACHE", "_verified_jaccard_pairs", _JACCARD,
        params=("max_df", "order"),
        lines=lambda m: {
            "shared_jaccard_pair_build": {},
            "shared_jaccard_pair_build_capped": {"max_df": m.JACCARD_MAX_DF},
        },
    ),
    Substrate(
        "order_probe", "dedup", "_ORDER_PROBE_CACHE", "_prefix_order_sets",
        _JACCARD | _CONTAINMENT,
    ),
    Substrate(
        "containment", "dedup", "_CONTAIN_CACHE", "_containment_pairs", _CONTAINMENT,
        params=("max_df", "order"),
        lines=lambda m: {
            "shared_containment_build": {"max_df": None},
            "shared_containment_build_capped": {"max_df": m.JACCARD_MAX_DF},
        },
    ),
    Substrate("gram", "sketches", "_GRAM_CACHE", "_pc_gram", _PCA, label="shared_pc_build"),
    Substrate(
        "trajectory", "sketches", "_TRAJ_CACHE", "_pc_trajectory", _PCA,
        label="shared_pc_build",
    ),
    Substrate(
        "pc", "sketches", "_TOP2_CACHE", "_top2_components",
        frozenset({"embedding_pca_top2", "embedding_whitening"}),
        lines=lambda m: {"shared_pc_build": {}},
    ),
    Substrate(
        "winnow_fp", "text", "_WINNOW_FP_CACHE", "_winnow_base_fingerprints", _WINNOW,
        label="shared_winnow_build",
    ),
    Substrate(
        "winnow", "text", "_WINNOW_PAIRS_CACHE", "_winnow_pairs", _WINNOW,
        params=("max_df",),
        lines=lambda m: {
            "shared_winnow_build": {"max_df": None},
            "shared_winnow_build_capped": {"max_df": m.WINNOW_ADAPTIVE},
        },
    ),
    Substrate(
        "simhash", "dedup", "_SIMHASH_PAIRS_CACHE", "_verified_simhash_pairs",
        frozenset({
            "dedup_simhash_hamming",
            "dedup_simhash_content_hash",
            "dedup_simhash_quality_eval",
        }),
        lines=lambda m: {"shared_simhash_pair_build": {}},
    ),
)
BY_NAME = {s.name: s for s in SUBSTRATES}


class Aliased(NamedTuple):
    """A build's value plus further variants to store it under."""

    value: object
    variants: tuple


class Traffic:
    """Memo calls while this is ``RECORDER``: the substrates each entry
    touched (built or hit), and the seconds of each outermost build by
    bench line (a nested build is part of the one enclosing it)."""

    def __init__(self) -> None:
        self.entry: str | None = None
        self.touched: dict[str | None, set[str]] = {}
        self.builds: dict[str, float] = {}
        self.depth = 0

    def undeclared(self) -> dict[str, list[str]]:
        """Entry -> substrates it touched without being a declared consumer."""
        out = {}
        for entry, names in self.touched.items():
            extra = sorted(n for n in names if entry not in BY_NAME[n].consumers)
            if extra:
                out[entry] = extra
        return out


RECORDER: Traffic | None = None


class Memo(dict):
    """One substrate's memo; see the module docstring for its key."""

    def __init__(self, name: str) -> None:
        super().__init__()
        self.substrate = BY_NAME[name]

    def get_or_build(self, spark, sf_dir: str, variant: tuple, build: Callable[[], object]):
        """The value for ``variant`` at ``sf_dir``; ``build()`` makes it on
        a miss and may return an ``Aliased`` to store it under more keys."""
        app = spark.sparkContext.applicationId
        key = (app, sf_dir, *variant)
        rec = RECORDER
        if rec is not None:
            rec.touched.setdefault(rec.entry, set()).add(self.substrate.name)
        if key in self:
            return self[key]
        for stale in [k for k in self if k[:2] != (app, sf_dir)]:
            value = self.pop(stale)
            if stale[0] == app:
                _free(value)
        start = time.perf_counter()
        if rec is not None:
            rec.depth += 1
        try:
            value = build()
        finally:
            if rec is not None:
                rec.depth -= 1
                if rec.depth == 0:
                    label = self.substrate.build_label(variant)
                    spent = rec.builds.get(label, 0.0) + time.perf_counter() - start
                    rec.builds[label] = round(spent, 2)
        value, aliases = value if isinstance(value, Aliased) else (value, ())
        for v in (variant, *aliases):
            self[(app, sf_dir, *v)] = value
        return value


def memoized(name: str):
    """Make ``build(spark, sf_dir, ...)`` substrate ``name``'s builder: a
    call goes through the memo its module holds at call time (so a test
    can swap in a fresh one), keyed by the substrate's params."""
    sub = BY_NAME[name]

    def decorate(build):
        signature = inspect.signature(build)

        @functools.wraps(build)
        def builder(spark, sf_dir, *args, **kwargs):
            bound = signature.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            variant = tuple(bound.arguments[p] for p in sub.params)
            memo = getattr(sub.home(), sub.memo)
            return memo.get_or_build(
                spark, sf_dir, variant, lambda: build(spark, sf_dir, *args, **kwargs)
            )

        return builder

    return decorate


def _free(value) -> None:
    """Release the executor storage a memo value holds. ``unpersist()``
    frees a persisted frame but not a ``localCheckpoint``'s blocks: those
    belong to the checkpointed RDD under the frame's analyzed plan."""
    if isinstance(value, tuple):
        for v in value:
            _free(v)
    elif isinstance(value, DataFrame):
        if value.is_cached:
            value.unpersist()
            return
        plan = value._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(True)
