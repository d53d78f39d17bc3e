"""The benchmark's workloads.

Each workload makes its inputs from the seed and writes them to Parquet
(``make_inputs``), runs one op that reads them back (``op``), checks the
op's outputs (``check``), and runs the same op as a composition of public
calls under trace spans (``traced``), whose outputs must equal the op's.

* ``er``: ``plans.pipeline.run_linkage`` over a generated linkage corpus,
  checked against the generator's gold clusters. The traced composition
  also commits the first four stages through ``CheckpointManager`` and
  resumes ``run_pipeline`` from them (timed as ``sources.resume``), as
  after a kill right after ``scored_edges`` committed.
* ``curate``: the four dedup operators over a seeded text + vector corpus
  with planted exact copies, so the expected groups have a closed form.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench.trace import Tracer

ER_OUTPUTS = ("components", "clusters", "cea", "cta", "cpa")
MIN_F1 = 0.99


def sink(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def force(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def pairwise_f1(pred: pd.Series, gold: pd.Series) -> float:
    """Pairwise F1 of two partitions of the same ids (both Series map
    id -> group label): a pair is positive when its ids share a group."""

    def pairs(counts: pd.Series) -> int:
        return int((counts * (counts - 1) // 2).sum())

    joint = pd.DataFrame({"p": pred, "g": gold.reindex(pred.index)})
    tp = pairs(joint.groupby(["p", "g"]).size())
    n_pred = pairs(joint.groupby("p").size())
    n_gold = pairs(joint.groupby("g").size())
    if n_pred == n_gold == 0:
        return 1.0
    if tp == 0:
        return 0.0
    p, r = tp / n_pred, tp / n_gold
    return 2 * p * r / (p + r)


def same_partition(pred: pd.Series, gold: pd.Series) -> bool:
    """True iff ``pred`` and ``gold`` group the same ids the same way."""
    if len(pred) != len(gold) or not pred.index.sort_values().equals(gold.index.sort_values()):
        return False
    joint = pd.DataFrame({"p": pred, "g": gold.reindex(pred.index)})
    return bool(
        (joint.groupby("p")["g"].nunique() == 1).all()
        and (joint.groupby("g")["p"].nunique() == 1).all()
    )


# --------------------------------------------------------------- linkage


class Linkage:
    """Record linkage: ``run_linkage`` with every output materialized."""

    name = "er"
    # a run affords one op: the batch job a fresh process runs, cold
    min_ops = 1

    def __init__(self, spark: SparkSession, work: str, seed: int, shape=(250, 4, 250)):
        from alligator_spark.datagen import CorpusSpec
        from alligator_spark.plans.pipeline import PipelineConfig

        self.spark, self.work = spark, work
        ents, dups, distractors = shape
        self.spec = CorpusSpec(ents, dups, distractors, seed=seed)
        self.cfg = PipelineConfig()
        self.records = self.spec.n_docs
        self.path = ""

    def make_inputs(self, path: str) -> int:
        from alligator_spark.datagen import generate_docs

        generate_docs(self.spark, self.spec).write.mode("overwrite").parquet(path)
        self.path = path
        return self.docs().count()

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def op(self) -> dict:
        from alligator_spark.plans.pipeline import run_linkage

        out = run_linkage(self.spark, self.docs(), self.cfg)
        for name in ER_OUTPUTS:
            sink(out[name])
        return out

    def check(self, out: dict) -> tuple[float, list[str]]:
        """Pairwise F1 against the gold clusters (FIXTURES labeled-pair
        universe) and the span-sequence invariant: ``clusters`` carries
        every input doc once, with its spans unchanged."""
        return self.check_components(out["components"], out["block_keys"], out["clusters"])

    def check_components(self, components, keys, clusters) -> tuple[float, list[str]]:
        from alligator_spark.datagen import gold_clusters
        from alligator_spark.eval import labeled_pairs, pairwise_prf

        errors = []
        gold = gold_clusters(self.spark, self.spec)
        f1 = pairwise_prf(labeled_pairs(keys, gold), components)["f1"]
        if f1 < MIN_F1:
            errors.append(f"pairwise F1 {f1:.4f} < {MIN_F1}")
        docs = self.docs()
        row = (
            clusters.alias("c")
            .join(docs.alias("d"), "doc_id", "full_outer")
            .agg(
                F.count("*").alias("n"),
                F.sum((~F.col("c.spans").eqNullSafe(F.col("d.spans"))).cast("long")).alias("bad"),
            )
            .collect()[0]
        )
        if row["n"] != self.records or row["bad"]:
            errors.append(
                f"span invariant: {row['n']} rows for {self.records} docs, "
                f"{row['bad']} with changed spans"
            )
        return f1, errors

    @staticmethod
    def signature(components: DataFrame, accepted: DataFrame) -> tuple:
        """What the traced and untraced ops must agree on: the component
        map and the accepted edge keys."""
        comps = {r[0]: r[1] for r in components.select("doc_id", "component_id").collect()}
        edges = {(r[0], r[1]) for r in accepted.select("doc_a", "doc_b").collect()}
        return comps, edges

    def op_signature(self, out: dict) -> tuple:
        return self.signature(out["components"], out["accepted_edges"].filter("accepted"))

    def traced(self, tr: Tracer) -> tuple[tuple, dict, list[str]]:
        """``run_linkage`` as spans, then commit + resume. Returns the
        signature, the ratio metrics and the failed checks."""
        from alligator_spark.operators.blocking import (
            block_keys,
            fuzzy_rescue_pairs,
            minhash_signatures,
        )
        from alligator_spark.operators.clustering import components_from_strong
        from alligator_spark.operators.cta import cpa_winners, cta_winners
        from alligator_spark.operators.normalize import normalize_docs
        from alligator_spark.operators.output import cea_topk
        from alligator_spark.operators.pairs import candidate_pairs, exact_mention_pairs
        from alligator_spark.operators.rerank import mention_token_keys, rerank_edges
        from alligator_spark.operators.scoring import (
            accepted_edge_keys,
            score_pairs,
            strong_components,
        )
        from alligator_spark.plans.pipeline import STAGES, run_pipeline
        from alligator_spark.sources.tables import CheckpointManager

        cfg, spans = self.cfg, tr.spans
        with tr.span("sources.read") as rec:
            sink(self.docs())
        rec["rows_out"] = self.records
        with tr.span("normalize") as rec:
            normalized = force(normalize_docs(self.docs()))
        rec["rows_out"] = normalized.count()
        with tr.span("blocking.signatures") as rec:
            sigs = force(minhash_signatures(normalized, cfg.blocking))
        rec["rows_out"] = sigs.count()
        with tr.span("blocking.keys") as rec:
            keys = force(block_keys(normalized, cfg.blocking, sigs=sigs))
        rec["rows_out"] = keys.count()
        with tr.span("pairs") as rec:
            base = force(candidate_pairs(keys, cfg.pairs, sigs=sigs)[0])
            n_pairs = base.count()
            ex = exact_mention_pairs(normalized)
            pairs = base.unionByName(
                ex.join(base.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti")
            )
            if cfg.blocking.fuzzy_enabled:
                pairs = pairs.unionByName(
                    fuzzy_rescue_pairs(normalized, pairs, cfg.blocking, sigs=sigs)
                )
            pairs = force(pairs)
        rec["rows_out"] = pairs.count()
        with tr.span("scoring.score") as rec:
            rank_raw = force(score_pairs(pairs, normalized, n_pairs_hint=n_pairs))
        rec["rows_out"] = rank_raw.count()
        ranked = rank_raw
        with tr.span("rerank") as rec:
            if cfg.rerank.enabled:
                ranked = force(rerank_edges(rank_raw, normalized, cfg.rerank))
        rec["rows_out"] = ranked.count()
        with tr.span("scoring.accept") as rec:
            sc = force(strong_components(ranked, cfg.scoring))
            akeys = force(accepted_edge_keys(ranked, cfg.scoring, strong_comps=sc))
        rec["rows_out"] = akeys.count()
        cc_stats: dict = {}
        with tr.span("clustering") as rec:
            components = force(
                components_from_strong(
                    sc,
                    akeys.select("doc_a", "doc_b"),
                    all_nodes=normalized.select("doc_id"),
                    stats=cc_stats,
                )
            )
        rec["rows_out"] = components.count()
        scored = ranked.join(akeys, ["doc_a", "doc_b"], "left").withColumn(
            "accepted", F.coalesce("accepted", F.lit(False))
        )
        outputs = {
            "clusters": self.docs()
            .join(components, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("component_id", "doc_id").alias("component_id"),
                "spans",
            ),
            "cea": cea_topk(scored, self.docs()),
            "cta": cta_winners(components, mention_token_keys(normalized)),
            "cpa": cpa_winners(components, scored.filter("accepted")),
        }
        with tr.span("output") as rec:
            for df in outputs.values():
                sink(df)
        rec["rows_out"] = sum(df.count() for df in outputs.values())

        errors: list[str] = []
        sig = self.signature(components, akeys)

        # resumable materializer: the fresh run's first four stage commits
        workdir = os.path.join(self.work, "ckpt")
        shutil.rmtree(workdir, ignore_errors=True)
        ckpt = CheckpointManager(self.spark, workdir, cfg.run_id())
        committed = {
            "normalized": normalized,
            "block_keys": keys,
            "candidate_edges": pairs,
            "scored_edges": rank_raw,
        }
        if list(committed) != STAGES[: STAGES.index("scored_edges") + 1]:
            raise RuntimeError(f"pipeline stages changed: {STAGES}")
        with tr.span("sources.commit") as rec:
            for stage, df in committed.items():
                ckpt.commit(df, stage)
        rec["rows_out"] = sum(df.count() for df in committed.values())
        ckpt_bytes = dir_bytes(workdir)
        with tr.span("sources.resume_read") as rec:
            reads = [ckpt.read(s) for s in committed if ckpt.committed(s)]
            for df in reads:
                sink(df)
        rec["rows_out"] = sum(df.count() for df in reads)
        with tr.span("sources.resume") as rec:
            resumed = force(
                run_pipeline(self.spark, self.docs(), workdir, cfg, resume=True)["components"]
            )
        rec["rows_out"] = resumed.count()
        if self.signature(resumed, akeys)[0] != sig[0]:
            errors.append("resumed components differ from the fresh ones")

        op_spans = (
            "sources.read", "normalize", "blocking.signatures", "blocking.keys",
            "pairs", "scoring.score", "rerank", "scoring.accept", "clustering", "output",
        )
        n_pairs_all = spans["pairs"]["rows_out"]
        ratios = {
            "traced_op_s": sum(spans[s]["wall_s"] for s in op_spans),
            "pairs.pairs_per_doc": n_pairs_all / self.records,
            "scoring.py_row_share": spans["scoring.score"]["py_scalar_rows"] / max(n_pairs_all, 1),
            "scoring.accept_ratio": spans["scoring.accept"]["rows_out"]
            / max(spans["rerank"]["rows_out"], 1),
            "clustering.rounds": cc_stats.get("rounds", 0),
            "sources.ckpt_bytes_per_doc": ckpt_bytes / self.records,
        }
        return sig, ratios, errors


# --------------------------------------------------------------- curation

_HEX = np.array(list("0123456789abcdef"))
COPY_EVERY = 5
TEXT_LEN = 48
DIM = 64
CURATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("vec", T.ArrayType(T.DoubleType(), False), False),
    ]
)


def curate_corpus(seed: int, n: int) -> tuple[pd.DataFrame, pd.Series]:
    """Seeded curation corpus and its expected groups.

    * ids ``0..n-1``: distinct random hex texts of ``TEXT_LEN`` chars,
      each with a random Gaussian vector of ``DIM`` values. Random texts
      sit far below every near-dup threshold (3-gram Jaccard ~0.01;
      cosine ~N(0, 1/DIM)).
    * id ``n + i`` for ``i % COPY_EVERY == 0``: an exact copy of doc ``i``
      (text and vector).

    Returns the corpus and ``id -> expected group`` (the group's min id).
    """
    rng = np.random.default_rng(seed)
    texts = ["".join(row) for row in _HEX[rng.integers(0, 16, (n, TEXT_LEN))]]
    vecs = rng.standard_normal((n, DIM))
    copies = np.arange(0, n, COPY_EVERY)
    src = np.concatenate([np.arange(n), copies])
    ids = np.concatenate([np.arange(n), n + copies])
    corpus = pd.DataFrame(
        {"doc_id": ids, "text": [texts[i] for i in src], "vec": list(vecs[src])}
    )
    return corpus, pd.Series(src, index=ids)


class Curation:
    """Corpus curation: the four dedup operators, each result collected."""

    name = "curate"
    # a cold op and a warm one
    min_ops = 2
    OPS = ("minhash", "simhash", "exact", "embedding")

    def __init__(self, spark: SparkSession, work: str, seed: int, n: int = 5_000):
        self.spark, self.work, self.seed, self.n = spark, work, seed, n
        self.expected = curate_corpus(seed, n)[1]
        self.records = len(self.expected)
        self.path = ""

    def make_inputs(self, path: str) -> int:
        corpus, _ = curate_corpus(self.seed, self.n)
        self.spark.createDataFrame(corpus, CURATE_SCHEMA).write.mode("overwrite").parquet(path)
        self.path = path
        return self.spark.read.parquet(path).count()

    @staticmethod
    def build(name: str, d: DataFrame) -> DataFrame:
        from alligator_spark.operators import dedup

        if name == "minhash":
            return dedup.minhash_lsh_dedup(d, "doc_id", "text", 0.7)
        if name == "simhash":
            return dedup.simhash_dedup(d, "doc_id", "text", 3)
        if name == "exact":
            return dedup.exact_dedup(d, "doc_id", "text")
        return dedup.embedding_neardup(d, "doc_id", "vec", 0.97)

    def op(self) -> dict:
        d = self.spark.read.parquet(self.path)
        return {name: self.build(name, d).toPandas() for name in self.OPS}

    def check(self, out: dict) -> tuple[float, list[str]]:
        """Every near-dup operator's components equal the planted groups;
        exact dedup gives one row per distinct text with its copy count
        and min id. Returns the lowest pairwise F1 of the three."""
        errors, f1s = [], []
        for name in ("minhash", "simhash", "embedding"):
            pred = out[name].set_index("doc_id")["component_id"]
            f1s.append(pairwise_f1(pred, self.expected))
            if not same_partition(pred, self.expected):
                errors.append(f"{name}: components differ from the planted groups")
        # planted groups are exact copies and each is keyed by its min id:
        # exact dedup must give one (rep_id = key, dup_count = size) per group
        want = self.expected.value_counts().sort_index()
        got = out["exact"].set_index("rep_id")["dup_count"].sort_index()
        if not (got.index.equals(want.index) and (got.values == want.values).all()):
            errors.append("exact: groups differ from the distinct texts")
        return min(f1s), errors

    @staticmethod
    def signature(out: dict) -> tuple:
        return tuple(
            tuple(sorted(map(tuple, out[name].astype(str).values.tolist())))
            for name in Curation.OPS
        )

    def op_signature(self, out: dict) -> tuple:
        return self.signature(out)

    def traced(self, tr: Tracer) -> tuple[tuple, dict, list[str]]:
        with tr.span("sources.read") as rec:
            sink(self.spark.read.parquet(self.path))
        rec["rows_out"] = self.records
        out = {}
        for name in self.OPS:
            with tr.span(f"dedup.{name}") as rec:
                out[name] = self.build(name, self.spark.read.parquet(self.path)).toPandas()
            rec["rows_out"] = len(out[name])
        dd = [tr.spans[f"dedup.{n}"] for n in self.OPS]
        candidates = sum(s["candidates"] for s in dd)
        ratios = {
            "traced_op_s": tr.spans["sources.read"]["wall_s"] + sum(s["wall_s"] for s in dd),
            "dedup.verify_ratio": sum(s["verified"] for s in dd) / max(candidates, 1),
        }
        # the planted copies are candidates of every near-dup verify step:
        # none found means the trace no longer finds that step in the plans
        errors = [
            f"dedup.{n}: no verify candidates found in the plans"
            for n in ("minhash", "simhash", "embedding")
            if not tr.spans[f"dedup.{n}"]["candidates"]
        ]
        return self.signature(out), ratios, errors


WORKLOADS = {"er": Linkage, "curate": Curation}
