"""Benchmark runner for alligator_spark: one workload, one process.

    python3 perfbench/run.py --workload er --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Load is a closed loop with one client:
one Spark job at a time, from this process, on ``local[--cores]``
(default: every core this process may use).

A run:

1. fits the session to the host (``host.fit_env``), starts it and warms
   the JVM and the Python worker pool;
2. generates the workload's inputs from ``--seed`` and writes them to
   Parquet, three times; each op reads them back, so generation is never
   timed inside an op;
3. runs the op back to back until ``--seconds`` have passed and the
   workload's minimum number of ops ran, checking every op's outputs
   outside the timed region;
4. with ``--trace 1``, runs the op once more as a composition of public
   calls under trace spans (``workloads.*.traced``), checks that it gives
   the same outputs as the untraced op, runs one more untraced op as the
   baseline of the tracing overhead, and reports per-layer metrics.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the settings, host facts and every op's wall time. A failed
check or op makes the exit code 1.

End-to-end metrics: ``cold_s`` (first op), ``docs_per_s`` (records over
the median warm op; over the one op of an ``er`` run), ``pairwise_f1``
(lowest of the run's ops), ``mean_pss_mb`` (the proportional set size
of this process, the Spark JVM and its Python workers, sampled from
``/proc`` only while an op runs, after a full JVM GC, and averaged over
the run's ops) and ``setup_s`` (session start plus the median input
set-up). Memory is a mean, not a peak: the JVM heap grows from
``INITIAL_HEAP`` in steps of about 500 MB when an op's working set nears
it, and at 1,250 docs the er op took such a step in about one run of
seven, so a peak read one of two values; the mean weighs the step by how
long it lasted.

Workloads (``BENCHMARK.json`` says why each):

* ``er``: ``run_linkage`` over a ``CorpusSpec(250, 4, 250)`` corpus,
  1,250 docs; each op writes components, clusters, cea, cta and cpa to
  a noop sink. A run makes one op: about 40 s cold at ``local[4]``, and
  the benchmark's run-time budget has no room for a warm one.
* ``curate``: MinHash-LSH (0.7), SimHash (<= 3), exact and embedding
  (cosine 0.97) dedup over 5,000 random texts with 64-d vectors plus an
  exact copy of every fifth one, 6,000 records; each op collects the
  four results. A run makes a cold and a warm op.

Unlike the frozen ``bench.py`` this excludes input generation from every
timed op, reads inputs from Parquet, runs at the host's core count
rather than 32, and reports cold and warm walls separately.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INPUT_SETUPS = 3
# The JVM heap starts here and grows only when an op's working set needs
# it, so memory follows the op. Started at the JVM default (1/64 of RAM)
# it grows through many GCs at timing-dependent points (the cold er op's
# wall spread 36% over five seeds); started at its maximum (-Xms = -Xmx),
# memory read the heap setting whatever the op (4.3 GB at 1,250 docs and
# at 5,000). A traced run reports no memory and starts its heap at the
# maximum: its composition keeps every intermediate in the block manager,
# and from 1g the traced er run took 176 s of the 180 s a run may take.
INITIAL_HEAP = "1g"
# no warm op past the workload's minimum starts after this much wall time,
# so a run ends inside the 180 s it may take
RUN_BUDGET_S = 120.0

SPANS = (
    "sources.read", "normalize", "blocking.signatures", "blocking.keys", "pairs",
    "scoring.score", "rerank", "scoring.accept", "clustering", "output",
    "sources.commit", "sources.resume_read", "sources.resume",
    "dedup.minhash", "dedup.simhash", "dedup.exact", "dedup.embedding",
)
PY_SPANS = (
    "blocking.signatures", "scoring.score",
    "dedup.minhash", "dedup.simhash", "dedup.embedding",
)
RATIOS = (
    "pairs.pairs_per_doc", "scoring.py_row_share", "scoring.accept_ratio",
    "clustering.rounds", "dedup.verify_ratio", "sources.ckpt_bytes_per_doc",
)


UNITS = {"cold_s": "s", "docs_per_s": "1/s", "pairwise_f1": "ratio",
         "setup_s": "s", "mean_pss_mb": "MB"}
UNITS_TRACE = {"wall_s": "s", "cpu_s": "s", "py_start_s": "s",
               "shuffle_write_mb": "MB", "jobs": "count", "tasks": "count",
               "rows_out": "count", "py_rows": "count", "rounds": "count",
               "ckpt_bytes_per_doc": "B"}


def parse_args(argv):
    from perfbench.host import nproc

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("er", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=nproc(),
                   help="local[N] core count (default: usable cores)")
    return p.parse_args(argv)


def start_session(cores: int, work: str, initial_heap: str):
    """get_spark on ``local[cores]`` plus warm-ups: one JVM job and one
    Arrow task per core, so the first op does not pay worker spin-up."""
    from alligator_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        # one shuffle partition per core: the package default (32) is sized
        # for a 32-core host, where it is also one task per core
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{initial_heap} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            # keep every job, stage and SQL execution of the run readable
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.range(1000).selectExpr("sum(id)").collect()

    def _noop(batches):
        yield from batches

    spark.range(0, 100 * cores, 1, cores).mapInPandas(_noop, schema="id long").count()
    return spark


def run_op(wl, spark, log: list, label: str):
    """Time one op, then check it untimed. Before the op a full JVM GC
    shrinks the heap back towards its initial size, so the op's memory
    figures are its own and not what set-up or an earlier op left committed.
    Returns the outputs, None when the op or its check failed, and the
    op's record."""
    from perfbench.host import PssSampler

    spark._jvm.System.gc()
    with PssSampler() as mem:
        t0 = time.monotonic()
        try:
            out, exc = wl.op(), None
        except Exception as e:  # a failed op counts; the run goes on
            out, exc = None, e
        wall = time.monotonic() - t0
    rec = {"op": label, "wall_s": wall, "peak_mb": mem.peak / 1e6,
           "mean_mb": statistics.fmean(mem.samples) / 1e6, "samples": len(mem.samples)}
    try:
        if exc is not None:
            raise exc
        rec["f1"], rec["errors"] = wl.check(out)
    except Exception as e:
        rec["f1"], rec["errors"] = 0.0, [repr(e)[:500]]
    rec["checked_s"] = time.monotonic() - t0 - wall
    log.append(rec)
    return (None if rec["errors"] else out), rec


def layer_metrics(spans: dict, ratios: dict) -> dict:
    m = {"session.wall_s": spans.get("session", {}).get("wall_s", 0.0)}
    for s in SPANS:
        rec = spans.get(s, {})
        for f in ("wall_s", "jobs", "tasks", "cpu_s", "shuffle_write_mb", "rows_out"):
            m[f"{s}.{f}"] = rec.get(f, 0)
    for s in PY_SPANS:
        for f in ("py_rows", "py_start_s"):
            m[f"{s}.{f}"] = spans.get(s, {}).get(f, 0)
    for r in RATIOS:
        m[r] = ratios.get(r, 0)
    return m


def measure(wl, spark, args, ops: list, t_start: float) -> tuple[list, object]:
    """Closed loop: ops back to back until the run measured for --seconds
    and made the workload's minimum number of ops. Returns the records of
    the ops that passed their checks, and the last op's outputs."""
    passed, last = [], None
    t_window = time.monotonic()
    while True:
        out, rec = run_op(wl, spark, ops, "warm" if ops else "cold")
        if out is not None:
            passed.append(rec)
            last = out
        if len(ops) >= (1 if args.trace else wl.min_ops) and (
            time.monotonic() - t_window >= args.seconds
            or time.monotonic() - t_start >= RUN_BUDGET_S
        ):
            return passed, last
        spark.catalog.clearCache()


def trace(wl, spark, ops: list, session_s: float, last) -> dict:
    """The traced composition after the cold op, checked against that op's
    outputs, then one more untraced op as the baseline of the tracing
    overhead (traced wall over baseline wall)."""
    from perfbench.trace import Tracer

    want = wl.op_signature(last) if last is not None else None
    spark.catalog.clearCache()
    tracer = Tracer(spark)
    tracer.spans["session"] = {"wall_s": session_s}
    try:
        sig, ratios, errors = wl.traced(tracer)
        if sig != want:
            errors.append("traced outputs differ from the untraced op")
    except Exception as exc:
        ratios, errors = {}, [repr(exc)[:500]]
    ops.append({"op": "traced", "wall_s": ratios.get("traced_op_s"), "errors": errors,
                "spans": tracer.spans})
    spark.catalog.clearCache()
    out, rec = run_op(wl, spark, ops, "baseline")
    metrics = layer_metrics(tracer.spans, ratios)
    if out is not None and "traced_op_s" in ratios:
        metrics["trace.overhead_ratio"] = ratios["traced_op_s"] / rec["wall_s"]
    return metrics


def main(argv=None) -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    args = parse_args(argv)
    try:
        import alligator_spark  # noqa: F401  the package under test
        from perfbench import host
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    t_start = time.monotonic()
    work = os.path.join(ROOT, ".bench_build", "perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    settings = host.fit_env(ROOT, work, args.cores)
    facts = {"nproc": host.nproc(), "mem_total_gb": round(host.mem_total_gb(), 1),
             "loadavg_start": host.loadavg()}
    ops: list[dict] = []
    metrics: dict = {}
    wl, input_s, session_s = None, [], 0.0

    t0 = time.monotonic()
    settings["initial_heap"] = settings["SPARK_DRIVER_MEM"] if args.trace else INITIAL_HEAP
    spark = start_session(args.cores, work, settings["initial_heap"])
    session_s = time.monotonic() - t0
    try:
        import pyarrow

        facts.update(spark=spark.version, pyarrow=pyarrow.__version__,
                     java=spark._jvm.System.getProperty("java.version"),
                     python=sys.version.split()[0])
        settings.update(master=spark.sparkContext.master,
                        shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"))
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        for rep in range(1 if args.trace else INPUT_SETUPS):
            t0 = time.monotonic()
            n = wl.make_inputs(os.path.join(work, f"inputs-{rep}"))
            input_s.append(time.monotonic() - t0)
            if n != wl.records:
                raise RuntimeError(f"inputs hold {n} records, expected {wl.records}")
        passed, last = measure(wl, spark, args, ops, t_start)
        if args.trace:
            metrics = trace(wl, spark, ops, session_s, last)
        elif passed:
            walls = [r["wall_s"] for r in passed]
            metrics = {
                "cold_s": walls[0],
                # a run of one op (er) reports that op's throughput
                "docs_per_s": wl.records / statistics.median(walls[1:] or walls),
                "pairwise_f1": min(r["f1"] for r in passed),
                "mean_pss_mb": statistics.fmean(
                    [r["mean_mb"] for r in passed], weights=[r["samples"] for r in passed]
                ),
                "setup_s": session_s + statistics.median(input_s),
            }
    except Exception as exc:
        ops.append({"op": "setup", "errors": [repr(exc)[:500]]})
    finally:
        host.stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    facts["loadavg_end"] = host.loadavg()

    failed = sum(bool(o["errors"]) for o in ops)
    attempted = max(len(ops), 1)
    units = UNITS_TRACE if args.trace else UNITS
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": args.cores,
        "records": wl.records if wl else None, "settings": settings, "host": facts,
        "session_s": session_s, "input_s": input_s, "ops": ops,
        "run_s": time.monotonic() - t_start,
    }, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k, units)} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 and metrics else 1


def unit_of(name: str, units: dict) -> str:
    return units.get(name) or units.get(name.rsplit(".", 1)[-1], "ratio")


if __name__ == "__main__":
    sys.exit(main())
