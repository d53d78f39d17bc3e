"""End-to-end gold-cluster fixtures: F1 >= 0.99, span invariant, resume.

SURVEY §5 "ours": (b) gold-cluster end-to-end, (c) span-sequence
invariant, (d) resume-after-kill, plus blocking-recall and clustering
unit checks.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from alligator_spark.datagen import CorpusSpec, generate_docs, gold_clusters
from alligator_spark.eval import labeled_pairs, pairwise_prf
from alligator_spark.operators.rerank import RerankConfig
from alligator_spark.plans.pipeline import (
    STAGES,
    PipelineConfig,
    run_linkage,
    run_pipeline,
)
from alligator_spark.sources.tables import CheckpointManager


@pytest.fixture(scope="module")
def pipeline_out(spark, smoke_docs, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("ckpt"))
    return run_pipeline(spark, smoke_docs, wd), wd


class TestEndToEnd:
    def test_pairwise_f1_at_least_099(self, spark, smoke_spec, smoke_docs, pipeline_out):
        out, _ = pipeline_out
        gold = gold_clusters(spark, smoke_spec)
        lp = labeled_pairs(out["block_keys"], gold)
        m = pairwise_prf(lp, out["components"])
        assert m["f1"] >= 0.99, m

    def test_every_doc_gets_a_component(self, smoke_docs, pipeline_out):
        out, _ = pipeline_out
        assert out["clusters"].count() == smoke_docs.count()
        assert out["clusters"].filter(F.col("component_id").isNull()).count() == 0

    def test_span_sequence_preserved_exactly(self, smoke_docs, pipeline_out):
        # the per-row invariant: (kind, text, media_ref, order) unchanged
        out, _ = pipeline_out
        orig = smoke_docs.select("doc_id", "spans")
        final = out["clusters"].select("doc_id", "spans")
        diff = orig.exceptAll(final)
        assert diff.count() == 0

    def test_blocking_recall_on_gold_pairs(self, spark, smoke_spec, pipeline_out):
        # pair-level blocking recall >= 0.95 on the smoke fixture, AND the
        # stronger cluster-level property that transitive closure relies
        # on: within every gold cluster the co-blocked-gold-pair graph is
        # connected (doubly-noised pairs may miss direct co-blocking; the
        # clean sibling bridges them — SURVEY §7.3)
        from alligator_spark.operators.clustering import connected_components

        out, _ = pipeline_out
        gold = gold_clusters(spark, smoke_spec)
        g = gold.alias("x").join(
            gold.alias("y"), F.col("x.cluster_id") == F.col("y.cluster_id")
        ).filter(F.col("x.doc_id") < F.col("y.doc_id")).select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        lp = labeled_pairs(out["block_keys"], gold).filter("is_match")
        n_gold = g.count()
        n_cob = g.join(lp, ["doc_a", "doc_b"], "left_semi").count()
        assert n_cob / n_gold >= 0.95, (n_cob, n_gold)

        comps = connected_components(
            lp.select("doc_a", "doc_b"), all_nodes=gold.select("doc_id")
        )
        # each gold cluster must land in exactly one component
        split = (
            gold.join(comps, "doc_id")
            .groupBy("cluster_id")
            .agg(F.countDistinct("component_id").alias("n"))
            .filter("n > 1")
            .count()
        )
        assert split == 0


class TestResume:
    def test_resume_skips_committed_stages_and_matches(self, spark, smoke_docs, tmp_path):
        wd = str(tmp_path / "wd")
        full = run_pipeline(spark, smoke_docs, wd)
        comp1 = sorted(full["components"].collect())
        # simulate a kill after stage 3: wipe the last stage tables (they
        # live under the config-derived run_id so resumes can never mix
        # tables from different configs)
        rid = PipelineConfig().run_id()
        shutil.rmtree(os.path.join(wd, rid, "scored_edges"))
        shutil.rmtree(os.path.join(wd, rid, "accepted_edges"))
        shutil.rmtree(os.path.join(wd, rid, "components"))
        rerun = run_pipeline(spark, smoke_docs, wd)
        comp2 = sorted(rerun["components"].collect())
        assert comp1 == comp2

    def test_resume_with_file_uri_workdir(self, spark, smoke_docs, tmp_path):
        # the commit check must go through Hadoop FileSystem, not os.path:
        # a file:// URI workdir is invisible to os.path.exists but real to
        # any Spark cluster (same code path as hdfs:// / s3a://)
        wd = "file://" + str(tmp_path / "wduri")
        full = run_pipeline(spark, smoke_docs, wd)
        c1 = sorted(full["components"].collect())
        rerun = run_pipeline(spark, smoke_docs, wd)
        c2 = sorted(rerun["components"].collect())
        assert c1 == c2

    def test_committed_via_hadoop_fs(self, spark, tmp_path):
        from alligator_spark.sources.tables import CheckpointManager

        wd = "file://" + str(tmp_path / "hfs")
        ckpt = CheckpointManager(spark, wd, "r1")
        assert ckpt.backend == "parquet"  # no Iceberg jar in this sandbox
        assert not ckpt.committed("stage_x")
        df = spark.createDataFrame([(1,)], ["v"])
        ckpt.commit(df, "stage_x")
        assert ckpt.committed("stage_x")
        assert ckpt.read("stage_x").count() == 1

    def test_iceberg_branch_call_shape(self, spark, tmp_path):
        # the Iceberg jar is absent here; pin the branch's calls via mocks
        # (identifier naming, writeTo().using("iceberg"), catalog check)
        from unittest.mock import MagicMock

        from alligator_spark.sources.tables import CheckpointManager

        fake_spark = MagicMock()
        ckpt = CheckpointManager(fake_spark, "/w d/x", "r1", backend="iceberg")
        ident = ckpt.iceberg_ident("block_keys")
        assert ident == "ckpt_w_d_x_r1.block_keys"
        df = MagicMock()
        ckpt._write_stage(df, "block_keys", None)
        # namespace DDL must run before the first commit (most catalogs
        # reject writes into a namespace that was never created)
        fake_spark.sql.assert_called_once_with(
            "CREATE NAMESPACE IF NOT EXISTS ckpt_w_d_x_r1"
        )
        df.writeTo.assert_called_once_with(ident)
        df.writeTo.return_value.using.assert_called_once_with("iceberg")
        df.writeTo.return_value.using.return_value.createOrReplace.assert_called_once()
        fake_spark.catalog.tableExists.return_value = True
        assert ckpt.committed("block_keys")
        fake_spark.catalog.tableExists.assert_called_with(ident)

    def test_lineage_rows_written_per_stage(self, spark, pipeline_out):
        from alligator_spark.sources.tables import CheckpointManager

        out, wd = pipeline_out
        lineage = CheckpointManager(spark, wd, "x").lineage()
        stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
        assert {
            "normalized",
            "block_keys",
            "candidate_edges",
            "scored_edges",
            "components",
        } <= stages
        row = lineage.limit(1).collect()[0]
        assert set(row.asDict()) == {
            "stage",
            "partition_id",
            "input_count",
            "edge_count",
            "wall_ms",
            "run_id",
        }

    def test_rerun_replaces_lineage_rows(self, spark, tmp_path):
        # a resume=False rerun re-commits every stage: its lineage must
        # replace the first run's rows, not append a second set
        docs = generate_docs(spark, CorpusSpec(5, 2, 5))
        wd = str(tmp_path / "wd")
        for _ in range(2):
            run_pipeline(spark, docs, wd, resume=False)
        ckpt = CheckpointManager(spark, wd, PipelineConfig().run_id())
        lineage = ckpt.lineage()
        keys = lineage.select("run_id", "stage", "partition_id")
        assert keys.count() == keys.distinct().count()
        logged = {
            r["stage"]: r["n"]
            for r in lineage.groupBy("stage").agg(F.sum("input_count").alias("n")).collect()
        }
        sizes = {stage: ckpt.read(stage).count() for stage in STAGES}
        # empty stage tables log no partitions
        assert logged == {stage: n for stage, n in sizes.items() if n}
        assert {"normalized", "scored_edges", "components"} <= set(logged)


def _linkage_result(out):
    """Component map and accepted key set of one run."""
    comps = sorted(map(tuple, out["components"].select("doc_id", "component_id").collect()))
    accepted = sorted(
        map(tuple, out["accepted_edges"].filter("accepted").select("doc_a", "doc_b").collect())
    )
    return comps, accepted


class TestOneDataflow:
    """run_linkage and run_pipeline materialize one stage list; they must
    agree on every result, fresh or resumed."""

    @pytest.mark.parametrize("rerank", [True, False], ids=["rerank", "no_rerank"])
    def test_inline_fresh_and_resumed_agree(self, spark, smoke_docs, tmp_path, rerank):
        cfg = PipelineConfig(rerank=RerankConfig(enabled=rerank))
        inline = _linkage_result(run_linkage(spark, smoke_docs, cfg))
        wd = str(tmp_path / "wd")
        fresh = _linkage_result(run_pipeline(spark, smoke_docs, wd, cfg))
        ckpt = CheckpointManager(spark, wd, cfg.run_id())
        for stage in STAGES[STAGES.index("scored_edges"):]:
            shutil.rmtree(ckpt.path(stage), ignore_errors=True)
        resumed = _linkage_result(run_pipeline(spark, smoke_docs, wd, cfg))
        assert inline[1], "smoke corpus must accept some edges"
        assert inline == fresh == resumed

    def test_resume_never_rebuilds_committed_inputs(
        self, spark, smoke_docs, tmp_path, monkeypatch
    ):
        # a resume from committed scored_edges reads it: normalize, MinHash
        # and the battery must not run again
        import alligator_spark.plans.pipeline as PL

        wd = str(tmp_path / "wd")
        before = _linkage_result(run_pipeline(spark, smoke_docs, wd))
        ckpt = CheckpointManager(spark, wd, PipelineConfig().run_id())
        for stage in STAGES[STAGES.index("reranked_edges"):]:
            shutil.rmtree(ckpt.path(stage))

        def fail(*a, **k):
            raise AssertionError("rebuilt a committed input")

        for name in ("normalize_docs", "minhash_signatures", "score_pairs"):
            monkeypatch.setattr(PL, name, fail)
        assert _linkage_result(run_pipeline(spark, smoke_docs, wd)) == before

    def test_reads_wide_accept_table_of_older_workdirs(self, spark, smoke_docs, tmp_path):
        # accepted_edges used to be committed as the wide accept_edges
        # table (every ranked row + accepted flag); a workdir written that
        # way must still resume to the same components
        from alligator_spark.operators.scoring import accept_edges

        wd = str(tmp_path / "wd")
        cfg = PipelineConfig()
        out = run_pipeline(spark, smoke_docs, wd, cfg)
        before = _linkage_result(out)
        ckpt = CheckpointManager(spark, wd, cfg.run_id())
        wide = accept_edges(out["reranked_edges"], cfg.scoring, out["strong_components"])
        ckpt.commit(wide, "accepted_edges")
        shutil.rmtree(ckpt.path("components"))
        assert _linkage_result(run_pipeline(spark, smoke_docs, wd, cfg)) == before

    @pytest.mark.parametrize(
        "spec",
        [CorpusSpec(0, 0, 0), CorpusSpec(0, 0, 30)],
        ids=["empty", "all_singletons"],
    )
    def test_edge_corpora_through_both_entry_points(self, spark, tmp_path, spec):
        docs = generate_docs(spark, spec).cache()
        runs = {
            "inline": run_linkage(spark, docs),
            "resumable": run_pipeline(spark, docs, str(tmp_path / "wd")),
        }
        for name, out in runs.items():
            rows = out["clusters"].collect()
            assert len(rows) == spec.n_docs, name
            # every doc is its own component
            assert all(r["component_id"] == r["doc_id"] for r in rows), name
            assert out["components"].count() == spec.n_docs, name
            # spans kept exactly
            assert docs.exceptAll(out["clusters"].select("doc_id", "spans")).count() == 0, name


class TestClustering:
    def test_transitive_closure(self, spark):
        from alligator_spark.operators.clustering import connected_components

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y")], ["doc_a", "doc_b"]
        )
        nodes = spark.createDataFrame(
            [("a",), ("b",), ("c",), ("x",), ("y",), ("z",)], ["doc_id"]
        )
        comps = {
            r["doc_id"]: r["component_id"]
            for r in connected_components(edges, nodes).collect()
        }
        assert comps["a"] == comps["b"] == comps["c"]
        assert comps["x"] == comps["y"]
        assert comps["a"] != comps["x"]
        assert comps["z"] == "z"

    def test_sql_round_equals_dataframe_stars(self, spark):
        """The fused one-analyzer-pass SQL round must emit exactly the
        edge set of _small_star(_large_star(...)) on an adversarial mix
        of chains, cliques, stars and singletons-with-self-structure."""
        import random

        from alligator_spark.operators.clustering import (
            _large_star,
            _small_star,
            _star_round,
        )

        rng = random.Random(11)
        edges = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(12)]  # chain
        edges += [(f"k{a}", f"k{b}") for a in range(5) for b in range(a)]  # clique
        edges += [("hub", f"leaf{i:02d}") for i in range(9)]  # star
        edges += [
            (f"r{rng.randrange(20):02d}", f"r{rng.randrange(20):02d}")
            for _ in range(30)
        ]  # random (includes self-loop-ish duplicates)
        df = spark.createDataFrame(edges, ["src", "dst"]).filter("src <> dst")
        expect = {
            (r["src"], r["dst"])
            for r in _small_star(_large_star(df)).collect()
        }
        got = {(r["src"], r["dst"]) for r in _star_round(df).collect()}
        assert got == expect

    def test_long_chain(self, spark):
        from alligator_spark.operators.clustering import connected_components

        n = 40
        edges = spark.createDataFrame(
            [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)], ["doc_a", "doc_b"]
        )
        comps = connected_components(edges).collect()
        assert len({r["component_id"] for r in comps}) == 1
        assert len(comps) == n + 1


class TestProvenance:
    def test_matches_and_predicates_recorded(self, spark):
        # R2 provenance (alligator/feature.py:313-359): scored edges carry
        # WHICH literal values produced each kind's similarity
        from alligator_spark.operators.scoring import score_pairs

        norm = spark.createDataFrame(
            [
                ("a", "acme corp", "acme corp 100 2001", ["100", "7"], ["2001"], []),
                ("b", "acme corp", "acme corp 101 2001", ["101"], ["2001"], []),
            ],
            "doc_id string, norm_mention string, row_text string, "
            "lit_numbers array<string>, lit_dates array<string>, "
            "lit_strings array<string>",
        )
        pairs = spark.createDataFrame([("a", "b", "k")], ["doc_a", "doc_b", "block_key"])
        row = score_pairs(pairs, norm).collect()[0]
        assert set(row.asDict()) >= {"features", "matches", "predicates", "score"}
        m = {x["kind"]: x for x in row["matches"]}
        # best number pair is 100 vs 101 (closest), not 7 vs 101
        assert m["number"]["value_a"] == "100" and m["number"]["value_b"] == "101"
        assert m["date"]["value_a"] == "2001" and m["date"]["sim"] == 1.0
        assert "string" not in m  # no string literals on either side
        assert row["predicates"]["date"] == 1.0
        assert row["predicates"]["string"] == 0.0

    def test_provenance_survives_rerank_and_checkpoint(self, spark, pipeline_out):
        out, _ = pipeline_out
        cols = out["final_edges"].columns
        assert "matches" in cols and "predicates" in cols
        row = out["final_edges"].limit(1).collect()[0]
        assert isinstance(row["predicates"], dict)


class TestDeterminism:
    def test_datagen_stable_across_partitionings(self, spark):
        spec = CorpusSpec(n_entities=5, dups_per_entity=2, n_distractors=5)
        a = generate_docs(spark, spec).collect()
        b = (
            generate_docs(spark.newSession() if False else spark, spec)
            .repartition(3)
            .collect()
        )
        assert sorted(map(str, a)) == sorted(map(str, b))

    def test_run_id_deterministic(self):
        assert PipelineConfig().run_id() == PipelineConfig().run_id()
