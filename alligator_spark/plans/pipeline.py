"""End-to-end record-linkage pipeline: the Spark analogue of the
reference's 4-stage coordinator (``alligator/coordinator.py:51-93``).

  normalize -> block_keys -> candidate_edges -> scored_edges -> components

One stage list, two materializers. The dataflow is the ordered ``_STEPS``
map of ``name -> build`` steps; a build reads its inputs through a lookup
that builds each on first use, and every step passes through exactly one
``materialize(name, build)`` call. :func:`run_linkage` materializes inline
(persist / localCheckpoint at stage boundaries). :func:`run_pipeline`
commits each ``STAGES`` table with per-partition lineage and on resume
reads a committed table instead of building it (the reference's status
flags) — a resume from ``scored_edges`` never runs normalize, MinHash or
the battery. Clusters re-join components onto the INTACT input docs: the
``spans`` column flows through untouched (span invariant, SURVEY §1.2).
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alligator_spark.operators.blocking import (
    BlockingConfig,
    block_keys,
    fuzzy_rescue_pairs,
    minhash_signatures,
)
from alligator_spark.operators.clustering import components_from_strong
from alligator_spark.operators.cta import cpa_winners, cta_winners
from alligator_spark.operators.normalize import normalize_docs
from alligator_spark.operators.output import cea_topk
from alligator_spark.operators.pairs import (
    PairConfig,
    candidate_pairs,
    exact_mention_pairs,
)
from alligator_spark.operators.rerank import RerankConfig, rerank_edges
from alligator_spark.operators.rerank import mention_token_keys
from alligator_spark.operators.scoring import (
    ScoringConfig,
    accepted_edge_keys,
    score_pairs,
    strong_components,
)
from alligator_spark.sources.tables import CheckpointManager


@dataclass(frozen=True)
class PipelineConfig:
    blocking: BlockingConfig = field(default_factory=BlockingConfig)
    pairs: PairConfig = field(default_factory=PairConfig)
    scoring: ScoringConfig = field(default_factory=ScoringConfig)
    rerank: RerankConfig = field(default_factory=RerankConfig)

    def run_id(self) -> str:
        """Deterministic id from config (the reference's SHA-256 cache-key
        pattern, alligator/fetchers.py:16-30)."""
        blob = json.dumps(asdict(self), sort_keys=True)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


class _Lookup(dict):
    """Step outputs of one run, each built and materialized on first
    lookup; ``name in lookup`` tests without building."""

    def __init__(self, docs: DataFrame, cfg: PipelineConfig, materialize, cc_stats):
        super().__init__()
        self.docs, self.cfg, self.cc_stats = docs, cfg, cc_stats
        self._materialize = materialize

    def __missing__(self, name: str) -> DataFrame:
        build = _STEPS[name]
        self[name] = self._materialize(name, lambda: build(self))
        return self[name]

    def ranked(self) -> DataFrame:
        """The rank table the match decision reads."""
        return self["reranked_edges" if self.cfg.rerank.enabled else "scored_edges"]


def _candidate_edges(s: _Lookup) -> DataFrame:
    # exact-duplicate star edges: recall guarantee block caps can't break
    base, normalized = s["base_pairs"], s["normalized"]
    ex = exact_mention_pairs(normalized)
    pairs = base.unionByName(
        ex.join(base.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti")
    )
    if s.cfg.blocking.fuzzy_enabled:
        pairs = pairs.unionByName(
            fuzzy_rescue_pairs(normalized, pairs, s.cfg.blocking, sigs=s["sigs"])
        )
    return pairs


def _scored_edges(s: _Lookup) -> DataFrame:
    # the base pair count sizes the battery's spread (the exact/fuzzy
    # additions are a few percent — only the order of magnitude matters);
    # a resume that read candidate_edges has no base pairs and runs unsized
    # rather than rebuild them
    hint = s["base_pairs"].count() if "base_pairs" in s else None
    return score_pairs(s["candidate_edges"], s["normalized"], n_pairs_hint=hint)


# Strong-edge components are computed ONCE and reused twice: the accept
# stage's transitive gap rule (same-cluster runner-ups don't compete) and
# the final clustering, which only contracts the few borderline-accepted
# edges on top. The accept decision is the narrow key table: clustering
# contracts keys, and the wide rows join back lazily for CEA/CPA only.
_STEPS = {
    "normalized": lambda s: normalize_docs(s.docs),
    # one MinHash pass, shared by strict blocking AND the fuzzy retry
    "sigs": lambda s: minhash_signatures(s["normalized"], s.cfg.blocking),
    "block_keys": lambda s: block_keys(s["normalized"], s.cfg.blocking, sigs=s["sigs"]),
    "base_pairs": lambda s: candidate_pairs(
        s["block_keys"], s.cfg.pairs, sigs=s["sigs"]
    )[0],
    "candidate_edges": _candidate_edges,
    # ALWAYS the raw rank-stage output (fixed semantics in both paths)
    "scored_edges": _scored_edges,
    # rerank output pre-accept (only when cfg.rerank.enabled)
    "reranked_edges": lambda s: rerank_edges(
        s["scored_edges"], s["normalized"], s.cfg.rerank
    ),
    "strong_components": lambda s: strong_components(s.ranked(), s.cfg.scoring),
    "accepted_edges": lambda s: accepted_edge_keys(
        s.ranked(), s.cfg.scoring, strong_comps=s["strong_components"]
    ),
    "components": lambda s: components_from_strong(
        s["strong_components"],
        # the filter also reads a wide accept table committed before
        # accepted_edges became the narrow key table
        s["accepted_edges"].filter("accepted").select("doc_a", "doc_b"),
        all_nodes=s["normalized"].select("doc_id"),
        stats=s.cc_stats,
    ),
}
# per-run intermediates: shared by several stages, never committed
_TRANSIENT = ("sigs", "base_pairs")
STAGES = [name for name in _STEPS if name not in _TRANSIENT]

# Inline materialization. persist + EAGER count on the two shared per-doc
# tables: block_keys, candidate_pairs' sig ranking, the exact star,
# featurize and rerank all fan out from them as CONCURRENT AQE stage jobs,
# and a lazy persist lets every branch recompute the pandas subtree before
# the cache exists (cache stampede). Build each cache once, in order.
# block_keys and the post-union candidate_edges stay unmaterialized: the
# keys subtree is cheap JVM explodes over the two caches (an eager cache
# build would serialize a full extra pass — measured slower at sf0.1), and
# the union is read once, by the battery.
_PERSIST = ("normalized", "sigs")
# Stage boundaries use localCheckpoint (materialize + TRUNCATE the logical
# plan), not bare persist: the rerank/accept stages reference their input
# subtree many times, and with lazy persists the logical tree grows
# combinatorially — Catalyst then re-analyzes a huge plan for every action
# (measured: 75 s accept / 131 s CC at sf0.1 with persists vs ~3 s
# truncated). The parquet stage tables of run_pipeline truncate the same
# way. base_pairs materializes BEFORE the exact-star union: the left_anti
# probe and the union both read it (un-materialized that runs the pair
# self-join twice). The accept keys checkpoint lazily: the CC probe is the
# action that materializes them.
_CHECKPOINT_EAGER = {
    "base_pairs": True,
    "scored_edges": True,
    "reranked_edges": True,
    "strong_components": True,
    "accepted_edges": False,
}


def _inline(stage_times: dict | None):
    def materialize(name: str, build) -> DataFrame:
        t0 = time.monotonic()
        df = build()
        if name in _PERSIST:
            df = df.persist()
            df.count()
        elif name in _CHECKPOINT_EAGER:
            df = df.localCheckpoint(eager=_CHECKPOINT_EAGER[name])
        if stage_times is not None:
            stage_times[name] = round(time.monotonic() - t0, 2)
        return df

    return materialize


def _resumable(ckpt: CheckpointManager, resume: bool):
    inline = _inline(None)

    def materialize(name: str, build) -> DataFrame:
        if name in _TRANSIENT:
            return inline(name, build)
        if resume and ckpt.committed(name):
            return ckpt.read(name)
        return ckpt.commit(build(), name)

    return materialize


def _link(docs, cfg, materialize, names, cc_stats=None) -> dict[str, DataFrame]:
    """Materialize ``names`` in order, then build the lazy output tail."""
    s = _Lookup(docs, cfg, materialize, cc_stats)
    for name in names:
        if name != "reranked_edges" or cfg.rerank.enabled:
            s[name]
    out = {name: s[name] for name in STAGES if name in s}
    # final_edges: the wide view, every ranked row plus the accepted flag
    ranked, components = s.ranked(), s["components"]
    accepted = ranked.join(
        s["accepted_edges"].select("doc_a", "doc_b", "accepted"),
        ["doc_a", "doc_b"],
        "left",
    ).withColumn("accepted", F.coalesce("accepted", F.lit(False)))
    out["final_edges"] = accepted
    # final output: clusters joined back onto intact docs (spans untouched)
    out["clusters"] = docs.join(components, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component_id", "doc_id").alias("component_id"),
        "spans",
    )
    # CEA-analogue: intact docs + top-5 ranked candidates (lazy)
    out["cea"] = cea_topk(accepted, docs)
    # CTA/CPA-analogue final outputs (reference ml.py:237-269): per
    # component the argmax-count mention tokens / literal kinds (lazy)
    out["cta"] = cta_winners(components, mention_token_keys(s["normalized"]))
    out["cpa"] = cpa_winners(components, accepted.filter("accepted"))
    return out


def run_linkage(
    spark: SparkSession,
    docs: DataFrame,
    cfg: PipelineConfig | None = None,
    stage_times: dict | None = None,
) -> dict[str, DataFrame]:
    """Uncheckpointed run of the stage list (for tests/benchmarks and
    embedding in other plans).

    ``stage_times`` (optional) records wall seconds per step, keyed by step
    name, plus the CC driver-loop telemetry under ``"cc"`` — the
    measurement feed for the scaling-efficiency work (BENCH_SCALING.md).
    """
    cfg = cfg or PipelineConfig()
    cc_stats = None
    if stage_times is not None:
        cc_stats = stage_times["cc"] = {}
    return _link(docs, cfg, _inline(stage_times), list(_STEPS), cc_stats)


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    workdir: str,
    cfg: PipelineConfig | None = None,
    resume: bool = True,
) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline, committing every stage under
    ``workdir``; returns all stage DataFrames plus the output tables."""
    cfg = cfg or PipelineConfig()
    ckpt = CheckpointManager(spark, workdir, cfg.run_id())
    return _link(docs, cfg, _resumable(ckpt, resume), STAGES)
