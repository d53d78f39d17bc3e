"""Stage 5 — transitive clustering: large-star/small-star connected
components over the accepted-edge DataFrame.

The reference never clusters explicitly (cells linking to the same QID are
implicitly co-referent — SURVEY §2.11); the north rule makes the closure
explicit. Algorithm: alternating large-star/small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SOCC'14), expressed as
hash joins + partial aggregations — no collect_list, so a giant star
(hot component) never materializes one row per component:

  large-star: bidirectional edges; for each u, m = min(N(u) ∪ {u});
              emit (v, m) for v in N(u) with v > u.
  small-star: orient edges (big -> small); for each u, m = min(N(u));
              emit (v, m) for v in N(u), plus (u, m).

Converges in O(log^2 n) rounds; our clusters are near-cliques so it
typically converges in 2-3. Driver-side iteration is the one thing
Catalyst cannot express (SURVEY §4), so the loop is engineered for
minimum serial driver cost (CC's driver loop is pure serial time under
the north rule's N->4N scaling gate — Amdahl: fixed cost F does not
shrink with executors):

* each large+small round is ONE ``spark.sql`` statement (one analyzer
  pass; ~15 chained DataFrame calls cost ~15 eager analyzer passes each
  re-walking the round's self-join-duplicated tree — measured ~2.4 s of
  pure driver time per double-round, vs ~0.15 s fused);
* rounds are fused in PAIRS into a single Spark job — a lazy
  localCheckpoint marks the round-2k output and the convergence probe
  is the action that materializes it (1 driver job per 2 rounds);
* convergence is detected STRUCTURALLY (``_CONVERGED_SQL``: the edge
  set is a min-rooted star forest — provably the iteration's fixed
  point) instead of by fingerprint equality across a 2-round stride,
  which needed one extra confirmation double-round (~2 s of planning +
  checkpoint driver time) after the answer was already in hand.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Both star joins pin shuffle_hash on the per-node min table: `mins` has
# one row per DISTINCT NODE — corpus-scaled — and sits above a truncated
# localCheckpoint whose size estimates are fiction, so the planner chose
# broadcast (r4 audit: 4 BroadcastHashJoin per fused double-round). A
# broadcast build is a serial driver collect that grows with the corpus
# and repeats EVERY round — at 10^12 nodes each round would ship the
# whole node table through the driver. Both join sides are already
# hash-partitioned on `u` by the groupBy, so the pinned shuffle join
# reuses those exchanges.


# One large-star + small-star round as a SINGLE SQL statement. Building
# the same dataflow with ~15 chained DataFrame calls costs ~15 eager
# analyzer passes per round, each re-walking the round's self-join-
# duplicated tree — measured r5: ~2.4 s of pure DRIVER time per fused
# double-round at ANY data size (the Spark jobs themselves were 0.3 s).
# One spark.sql call = one analyzer pass; the SHUFFLE_HASH hints carry
# the same corpus-side no-broadcast policy as the DataFrame version
# (verified: 0 BroadcastHashJoin in the executed plan). `{e}` is a
# DataFrame template argument (PySpark 4), so no temp-view bookkeeping.
_ROUND_SQL = """
WITH bidir AS (
  SELECT src AS u, dst AS v FROM {e}
  UNION ALL
  SELECT dst AS u, src AS v FROM {e}
),
lmins AS (
  SELECT u, least(u, min(v)) AS m FROM bidir GROUP BY u
),
ls AS (
  -- no DISTINCT here: duplicates (same (v,m) reached through two hubs,
  -- common inside near-cliques) are absorbed by the next groupBy's
  -- map-side combine and the final DISTINCT; deduping eagerly would
  -- cost one extra full shuffle per round
  SELECT /*+ SHUFFLE_HASH(m) */ b.v AS src, m.m AS dst
  FROM bidir b JOIN lmins m ON b.u = m.u
  WHERE b.v > b.u
),
oriented AS (
  SELECT greatest(src, dst) AS u, least(src, dst) AS v FROM ls WHERE src <> dst
),
smins AS (
  SELECT u, min(v) AS m FROM oriented GROUP BY u
),
attach AS (
  SELECT /*+ SHUFFLE_HASH(s) */ o.v AS src, s.m AS dst
  FROM oriented o JOIN smins s ON o.u = s.u
  WHERE o.v <> s.m
)
SELECT DISTINCT src, dst FROM (
  SELECT src, dst FROM attach
  UNION ALL
  SELECT u AS src, m AS dst FROM smins
)
"""


def _star_round(edges: DataFrame) -> DataFrame:
    """small_star(large_star(edges)) in one analyzer pass."""
    return edges.sparkSession.sql(_ROUND_SQL, e=edges)


def _large_star(edges: DataFrame) -> DataFrame:
    bidir = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    mins = bidir.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.withColumn("m", F.least("u", "mv")).select("u", "m")
    return (
        bidir.join(mins.hint("shuffle_hash"), "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    attach = (
        oriented.join(mins.hint("shuffle_hash"), "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )
    root = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return attach.unionAll(root).distinct()


# Structural fixed-point probe. The alternating iteration has converged
# exactly when the edge set is a star forest rooted at component minima,
# which (given the rounds' dst<src output invariant) holds iff
#   (a) every src appears exactly once (each child points to one root)
#   (b) no node is both a src and a dst (roots are never children).
# Sufficiency: under (a)+(b) large-star recomputes m = u for every root
# and re-emits the same (child, root) edges, and small-star's per-child
# min is the child's unique root — both maps are the identity, i.e. a
# fixed point (Kiveris et al.'s fixed points are exactly the min-rooted
# star forests). Necessity: a violated (a) or (b) is a chain or a
# multi-root child, which the next double-round provably rewrites.
# Checking this structurally saves the CONFIRMATION double-round a
# fingerprint-equality stride needs (detect convergence at round 2k
# instead of building+planning rounds 2k+1..2k+2 to observe no change)
# — ~2 s of serial driver time per run at any data size.
_CONVERGED_SQL = """
WITH roles AS (
  SELECT src AS node, 1 AS s, 0 AS d FROM {e}
  UNION ALL
  SELECT dst, 0, 1 FROM {e}
),
per AS (
  SELECT node, sum(s) AS s, sum(d) AS d FROM roles GROUP BY node
)
SELECT count(*) AS n_nodes,
       coalesce(sum(CASE WHEN s > 1 OR (s > 0 AND d > 0) THEN 1 ELSE 0 END), 0)
         AS bad
FROM per
"""


def _is_converged(edges: DataFrame) -> bool:
    row = edges.sparkSession.sql(_CONVERGED_SQL, e=edges).collect()[0]
    return int(row["bad"]) == 0


def connected_components(
    edges: DataFrame,
    all_nodes: DataFrame | None = None,
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """edges(doc_a, doc_b) -> components(doc_id, component_id).

    ``all_nodes`` (one ``doc_id`` column) adds singleton components for
    docs with no accepted edge. ``stats`` (optional) records driver-loop
    telemetry: rounds run, Spark jobs issued, per-job seconds.
    """
    # Orient the initial edges big->small before the distinct: (a,b) and
    # (b,a) collapse to one row (smaller distinct shuffle), self-loops
    # drop (the rounds eliminate both anyway — output-identical), and the
    # oriented set satisfies the rounds' dst<src invariant, so the
    # structural star-forest probe below is valid on round ZERO.
    cur = (
        edges.select(
            F.greatest("doc_a", "doc_b").alias("src"),
            F.least("doc_a", "doc_b").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rounds = jobs = 0
    # Round-0 probe (one tiny aggregate job, and it is the action that
    # materializes the lazy checkpoint): edge sets that are ALREADY
    # min-rooted star forests — disjoint duplicate pairs from a planted
    # dedup corpus, the near-empty residual graph of
    # components_from_strong, an empty set — converge with zero rounds,
    # skipping a full double-round + probe (3+ driver jobs each run).
    # Non-forest inputs pay one extra O(E) aggregation before round 1 —
    # far cheaper than the double-round it precedes.
    t0 = time.monotonic()
    done = _is_converged(cur)
    jobs += 1
    if stats is not None:
        stats.setdefault("job_secs", []).append(round(time.monotonic() - t0, 3))
    while not done and rounds < max_iter:
        cur = _star_round(cur)
        rounds += 1
        # probe after EVERY round (r6; was every 2): near-clique inputs
        # — this pipeline's common case — converge after ONE
        # large+small round, and the old 2-round stride burned a whole
        # extra round (~6 exchanges/AQE jobs) re-deriving an already
        # fixed point. The probe itself is one O(E) aggregation — far
        # cheaper than the round it saves; on graphs that genuinely
        # need 2k rounds it adds one E-scan per odd round (~10-20% of a
        # round's shuffle cost), the right trade at every scale.
        cur = cur.localCheckpoint(eager=False)
        t0 = time.monotonic()
        done = _is_converged(cur)
        jobs += 1
        if stats is not None:
            stats.setdefault("job_secs", []).append(
                round(time.monotonic() - t0, 3)
            )
        if done:
            break
    if stats is not None:
        stats["rounds"] = rounds
        stats["jobs"] = jobs
    if done:
        # the probe PROVED the edge set is a min-rooted star forest:
        # every src appears exactly once (one row per child) and no src
        # is ever a dst (roots are never children) — so the child->root
        # rows ARE the per-child component map and the distinct roots
        # are their own components. Skips the union+groupBy-min shuffle
        # of the whole edge set (one full pass at any scale).
        comps = cur.select(
            F.col("src").alias("doc_id"), F.col("dst").alias("component_id")
        ).unionAll(
            cur.select("dst").distinct().select(
                F.col("dst").alias("doc_id"), F.col("dst").alias("component_id")
            )
        )
    else:
        # max_iter fallback: not provably a forest — keep the aggregation
        comps = cur.select(
            F.col("src").alias("doc_id"), F.col("dst").alias("component_id")
        ).unionAll(
            cur.select(F.col("dst").alias("doc_id"), F.col("dst").alias("component_id"))
        ).groupBy("doc_id").agg(F.min("component_id").alias("component_id"))
    if all_nodes is not None:
        comps = (
            all_nodes.select("doc_id")
            .join(comps, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("component_id", "doc_id").alias("component_id"),
            )
        )
    return comps


def components_from_strong(
    strong_comps: DataFrame,
    accepted_edges: DataFrame,
    all_nodes: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Final components from precomputed strong-edge components plus the
    full accepted edge set, without re-running CC over the whole graph.

    The accept stage already computed components over the STRONG edges
    (``scoring.strong_components`` — it needs them for the transitive
    gap rule). Strong edges are the overwhelming majority of accepted
    edges, so the final clustering only has to CONTRACT each accepted
    edge into strong-component space (strong edges become self-loops and
    vanish) and run CC on the residual graph — the handful of borderline
    acceptances that bridge strong components. Composition of the two
    min-rooted maps is itself min-rooted: every contracted node label is
    the min doc_id of its strong component, so the residual CC's root is
    the min doc_id of the merged component.

    Cost: two map-side-combinable joins + CC over a near-empty edge set,
    vs a full second CC over all accepted edges. Both map joins pin
    shuffle_hash: ``strong_comps`` is corpus-scaled (never broadcast).
    """
    m_a = strong_comps.select(
        F.col("doc_id").alias("doc_a"), F.col("component_id").alias("_ca")
    )
    m_b = strong_comps.select(
        F.col("doc_id").alias("doc_b"), F.col("component_id").alias("_cb")
    )
    contracted = (
        accepted_edges.select("doc_a", "doc_b")
        .join(m_a.hint("shuffle_hash"), "doc_a", "left")
        .join(m_b.hint("shuffle_hash"), "doc_b", "left")
        .select(
            F.coalesce("_ca", "doc_a").alias("doc_a"),
            F.coalesce("_cb", "doc_b").alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    residual = connected_components(contracted, stats=stats)
    if all_nodes is None:
        # every accepted endpoint (strong-comp members are a subset:
        # strong edges are always accepted)
        all_nodes = (
            accepted_edges.select(F.col("doc_a").alias("doc_id"))
            .unionAll(accepted_edges.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
    base = (
        all_nodes.select("doc_id")
        .join(strong_comps.hint("shuffle_hash"), "doc_id", "left")
        .select("doc_id", F.coalesce("component_id", "doc_id").alias("c1"))
    )
    return (
        base.join(
            residual.select(
                F.col("doc_id").alias("c1"), F.col("component_id").alias("c2")
            ).hint("shuffle_hash"),
            "c1",
            "left",
        )
        .select("doc_id", F.coalesce("c2", "c1").alias("component_id"))
    )
