"""spark-submit entry point (the reference's ``python -m alligator.cli``,
``alligator/cli.py:14-47``, re-expressed for Spark).

Usage (shipped as ``spark-submit --py-files alligator_spark.zip
main.py ...`` on a cluster; runs directly under plain python in local
mode):

    python -m alligator_spark.cli --input /path/docs.parquet \
        --workdir /path/work [--no-resume] [--cores N]

    # or synthesize the deterministic benchmark corpus:
    python -m alligator_spark.cli --synthesize 500x5+500 --workdir /tmp/wd

Prints one JSON report line with run totals: docs, components, accepted
edges, wall time and docs/sec (plus pairwise P/R/F1 with ``--evaluate``) —
the reference prints per-table wall time (``alligator/cli.py:41-47``).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_spec(s: str):
    """'500x5+500' -> CorpusSpec(n_entities=500, dups=5, distractors=500)."""
    from alligator_spark.datagen import CorpusSpec

    ent, rest = s.split("x")
    dups, dis = rest.split("+")
    return CorpusSpec(
        n_entities=int(ent), dups_per_entity=int(dups), n_distractors=int(dis)
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="alligator_spark")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet/iceberg path of (doc_id, spans) docs")
    src.add_argument("--synthesize", help="BxK+D deterministic corpus spec")
    src.add_argument(
        "--csv",
        help="UNTYPED csv (header row): columns are classified from a "
        "32-row sample (NE/NUMBER/DATETIME/STRING/IGNORED, reference "
        "manager/data.py:78-141) and onboarded as (doc_id, spans) docs",
    )
    ap.add_argument(
        "--id-column",
        help="with --csv: column to use as doc_id (default: synthesized "
        "from the mention column)",
    )
    ap.add_argument(
        "--target-column",
        action="append",
        default=[],
        metavar="COL=KIND",
        help="with --csv: override an inferred column kind "
        "(NE|NUMBER|DATETIME|STRING|IGNORED); repeatable",
    )
    ap.add_argument("--workdir", required=True, help="checkpoint directory")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--max-block-size", type=int, default=64)
    ap.add_argument(
        "--candidate-limit",
        default=None,
        metavar="N|none",
        help="per-mention candidate retrieval cap (reference "
        "candidate_retrieval_limit, alligator/config.py:157; default 32). "
        "'none' disables the cap — maximal recall, volume bounded by the "
        "block-size caps alone (see BASELINE.md's F1 frontier)",
    )
    ap.add_argument("--evaluate", action="store_true", help="print pairwise F1 vs gold (synthesized corpora only)")
    ap.add_argument(
        "--export-cea",
        help="write the CEA-style ranked-candidate output as CSV to this path "
        "(nested columns serialized as JSON, reference manager/output.py:53-113)",
    )
    args = ap.parse_args(argv)

    from alligator_spark.operators.pairs import PairConfig
    from alligator_spark.plans.pipeline import PipelineConfig, run_pipeline
    from alligator_spark.session import get_spark

    spark = get_spark(cores=args.cores)
    t0 = time.monotonic()
    if args.synthesize:
        from alligator_spark.datagen import generate_docs

        spec = parse_spec(args.synthesize)
        docs = generate_docs(spark, spec)
    elif args.csv:
        from alligator_spark.operators.classify import (
            classify_columns,
            docs_from_table,
        )

        from alligator_spark.operators.classify import (
            DATE_KIND,
            IGNORED_KIND,
            NE_KIND,
            NUMBER_KIND,
            STRING_KIND,
        )

        known_kinds = {NE_KIND, NUMBER_KIND, DATE_KIND, STRING_KIND, IGNORED_KIND}
        raw = spark.read.csv(args.csv, header=True, inferSchema=False)
        overrides = dict(kv.split("=", 1) for kv in args.target_column)
        bad = {c: k for c, k in overrides.items() if k not in known_kinds}
        if bad:
            ap.error(
                f"--target-column: unknown kind(s) {bad}; "
                f"valid kinds: {sorted(known_kinds)}"
            )
        cls_rows = classify_columns(raw, target_overrides=overrides or None)
        classification = {
            r["col_name"]: r["kind"] for r in cls_rows.collect()
        }
        print(json.dumps({"classified_columns": classification}), file=sys.stderr)
        docs = docs_from_table(raw, classification, id_col=args.id_column)
    else:
        docs = spark.read.parquet(args.input)

    pair_kwargs: dict = {"max_block_size": args.max_block_size}
    if args.candidate_limit is not None:
        pair_kwargs["candidate_limit"] = (
            None
            if args.candidate_limit.lower() == "none"
            else int(args.candidate_limit)
        )
    cfg = PipelineConfig(pairs=PairConfig(**pair_kwargs))
    out = run_pipeline(spark, docs, args.workdir, cfg, resume=not args.no_resume)
    n_docs = out["clusters"].count()
    wall = time.monotonic() - t0
    report = {
        "docs": n_docs,
        "components": out["components"].select("component_id").distinct().count(),
        "accepted_edges": out["accepted_edges"].filter("accepted").count(),
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "workdir": args.workdir,
    }
    if args.export_cea:
        from alligator_spark.operators.output import export_csv

        export_csv(out["cea"], args.export_cea)
        report["cea_csv"] = args.export_cea
    if args.evaluate and args.synthesize:
        from alligator_spark.datagen import gold_clusters
        from alligator_spark.eval import labeled_pairs, pairwise_prf

        gold = gold_clusters(spark, spec)
        lp = labeled_pairs(out["block_keys"], gold)
        report["pairwise"] = pairwise_prf(lp, out["components"])
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
