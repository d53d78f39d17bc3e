"""Pairwise-F1 audit of the full linkage pipeline at a given corpus spec.

Measures P/R/F1 (and the raw tp/fp/fn counts) of the flagship pipeline
against the generator's closed-form gold clusters, over the labeled
co-blocked pair universe (FIXTURES.md §2). This is the harness used to
diagnose the sf0.1-spec hardness bound (BASELINE.md round-5 row).

    python scripts/f1_audit.py [spec] [cores]

spec defaults to the sf0.1 bench spec 1000x4+1000; cores to 16.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    spec_str = sys.argv[1] if len(sys.argv) > 1 else "1000x4+1000"
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    from alligator_spark.cli import parse_spec
    from alligator_spark.datagen import generate_docs, gold_clusters
    from alligator_spark.eval import labeled_pairs, pairwise_prf
    from alligator_spark.plans.pipeline import run_linkage
    from alligator_spark.session import get_spark

    spark = get_spark(app_name="f1_audit", cores=cores)
    spec = parse_spec(spec_str)
    docs = generate_docs(spark, spec).cache()
    docs.count()
    t0 = time.monotonic()
    out = run_linkage(spark, docs)
    gold = gold_clusters(spark, spec)
    lp = labeled_pairs(out["block_keys"], gold)
    m = pairwise_prf(lp, out["components"])
    m["wall_sec"] = round(time.monotonic() - t0, 1)
    m["spec"] = spec_str
    print(m)

    if m["fn"] or m["fp"]:
        # classify the misses against the pipeline's own stage tables:
        # was the pair ever a candidate edge? what did the scorer say?
        # did the match decision reject it?
        from pyspark.sql import functions as F

        comp = out["components"]
        ca = comp.select(
            F.col("doc_id").alias("doc_a"), F.col("component_id").alias("comp_a")
        )
        cb = comp.select(
            F.col("doc_id").alias("doc_b"), F.col("component_id").alias("comp_b")
        )
        acc = out["final_edges"].select(
            "doc_a", "doc_b", F.col("score").alias("edge_score"), "accepted"
        ).dropDuplicates(["doc_a", "doc_b"])
        cand = out["candidate_edges"].select("doc_a", "doc_b").withColumn(
            "paired", F.lit(True)
        ).dropDuplicates(["doc_a", "doc_b"])
        j = (
            lp.join(ca, "doc_a", "left")
            .join(cb, "doc_b", "left")
            .withColumn(
                "pred",
                F.col("comp_a").isNotNull() & (F.col("comp_a") == F.col("comp_b")),
            )
            .join(cand, ["doc_a", "doc_b"], "left")
            .join(acc, ["doc_a", "doc_b"], "left")
            .withColumn(
                "why",
                F.when(~F.col("is_match"), F.lit("fp"))
                .when(F.col("paired").isNull(), F.lit("never_paired"))
                .when(F.col("edge_score").isNull(), F.lit("paired_not_scored"))
                .when(F.col("edge_score") < 0.75, F.lit("scored_below_min"))
                .when(~F.col("accepted"), F.lit("borderline_rejected"))
                .otherwise(F.lit("accepted_direct_edge")),
            )
        )
        miss = j.filter(F.col("is_match") != F.col("pred")).localCheckpoint(
            eager=True
        )
        print("-- miss classification (fn: why the pair did not link; fp) --")
        for r in (
            miss.groupBy("is_match", "why").count().orderBy("is_match", "why")
        ).collect():
            kind = "fn" if r["is_match"] else "fp"
            print(f"  {kind:2s} {r['why']:22s} {r['count']}")
        print("-- sample misses (<= 40) --")
        for r in miss.orderBy("doc_a", "doc_b").limit(40).collect():
            print(dict(r.asDict()))


if __name__ == "__main__":
    main()
