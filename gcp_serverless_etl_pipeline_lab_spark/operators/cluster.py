"""Duplicate-cluster resolution: connected components over dup-pair edges.

Every pairwise dedup detector in this engine (`operators/dedup.py`) emits
EDGES — (doc_a, doc_b) pairs above a similarity threshold. A real corpus
dedup has one more step the pair lists don't give you: transitive closure.
If A~B and B~C, then {A, B, C} is ONE duplicate cluster and exactly one
member survives, even when A~C itself never scored above the threshold.
This module resolves the pair graph into components with a join-based
min-label propagation, entirely in DataFrame ops.

Algorithm (iterative, driver-controlled loop):

1. symmetrize the edge list (each undirected pair becomes two directed
   rows) and seed every node with ``lbl = node``;
2. each round, every node takes the min of its own label and its
   neighbors' labels (one equi-join edges⋈labels + one groupBy-min);
3. a path-compression step then replaces each node's label with its
   label's label (one self-join of the label table) — pointer jumping,
   which collapses chains geometrically so convergence is
   O(log diameter) rounds rather than O(diameter);
4. stop when a round changes no label (a single-row aggregate count —
   the same driver-side gate pattern as plans/quality.py).

Scale notes (100 TB):
- Per round: one shuffle of the edge list (by src) + one shuffle of the
  label table (by node) + the compression self-join. The edge list for
  near-dup graphs is orders of magnitude smaller than the corpus — only
  actual duplicates appear in it — so rounds are cheap relative to the
  detection pass that produced the edges.
- Each round's label table is ``localCheckpoint``-ed (eager). Lineage
  truncation is NOT optional here: the compression step references the
  propagated table twice, so without truncation the logical plan doubles
  every round and Catalyst analysis goes exponential (measured: a
  4-node path spent 5→7→10 s/round on plan analysis; with truncation,
  rounds are flat). On a real cluster swap ``localCheckpoint`` for
  ``df.checkpoint()`` with a reliable checkpoint dir — localCheckpoint
  stores blocks on executors and is not fault-tolerant.
- Labels are min-doc_id, so the component id is deterministic and
  oracle-reproducible (DuckDB recursive CTE computes the same closure).

Reference scope note: the reference pipeline
(`/root/reference/dataflow/dataflow_transform.py:87-99`) dedups on exact
id equality only — graph resolution is part of this engine's
beyond-reference training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _reroot(df: DataFrame, session) -> DataFrame:
    """Rebind ``df``'s logical plan to another session sharing the same
    SparkContext (JVM ``Dataset.ofRows``). Lets the CC loop run its many
    tiny driver-synchronous jobs on a CLONED session with AQE disabled
    while the caller's session conf stays untouched — round 16, replacing
    the round-15 toggle of the session-global conf (ADVICE r15: a
    concurrent query on the shared session silently ran with AQE off
    mid-loop). Raises if the internal API moved; the caller falls back to
    the scoped toggle."""
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, session)


# One cached clone per caller session (weak keys: dropping the caller
# drops its clone). A fresh SessionState per connected_components call
# measured ~+0.7 s on dedup_cluster_resolve — analyzer/optimizer state
# is rebuilt lazily on the first plan — so the clone is built once and
# reused; the mirrored confs are re-copied from the caller on every call,
# so a conf the caller changed after the first call reaches the loop.
import weakref as _weakref

_LOOP_SESSIONS: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()
_MIRRORED_CONFS = (
    "spark.sql.ansi.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.optimizer.excludedRules",
    "spark.sql.shuffle.partitions",
)


def _loop_session(caller):
    """A conf-isolated clone of ``caller`` for the CC loop: shares the
    SparkContext (and therefore executors and checkpointed blocks),
    mirrors the runtime conf the loop's plans depend on, and turns AQE
    off — every loop frame is explicitly ``repartition(p)``-sized, so
    AQE's per-job re-planning is pure fixed overhead here (measured 5.9 s
    vs 4.6 s on the harness edge set, round 15)."""
    iso = _LOOP_SESSIONS.get(caller)
    if iso is None:
        iso = caller.newSession()
        iso.conf.set("spark.sql.adaptive.enabled", "false")
        _LOOP_SESSIONS[caller] = iso
    for k in _MIRRORED_CONFS:
        v = caller.conf.get(k)  # None only for an unset optional key
        if v is None:
            iso.conf.unset(k)
        else:
            iso.conf.set(k, v)
    return iso


def symmetrize_edges(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """(a, b) pairs in any orientation -> distinct directed (src, dst) rows
    both ways. Self-loops are dropped (they carry no connectivity)."""
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    rev = pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    return fwd.unionAll(rev).filter(F.col("src") != F.col("dst")).distinct()


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve an undirected pair list into components.

    Returns (doc_id, cluster_id) for every node that appears in ``pairs``,
    where ``cluster_id`` is the minimum doc_id of the node's component.

    Raises ``RuntimeError`` if ``max_iter`` rounds don't converge (with
    pointer jumping that would take a component of diameter > 2^max_iter).
    """
    # Materialize the pair list BEFORE symmetrizing: symmetrize is a
    # two-scan union, and the pair list is usually the output of an
    # expensive detection pipeline (shingle explode + groupBy) that must
    # not run once per scan. Measured on the harness edge set at sf0.1:
    # 20.4 s -> ~7 s for the whole query.
    pairs = pairs.localCheckpoint(eager=True)
    # Size the loop's partitioning to the EDGE data, not to whatever
    # partition count the detection plan happened to end with (measured:
    # an uncoalesced 112-partition edge table made every round's stages
    # ~7× slower on a 2.3k-edge graph). ~500k edges per partition keeps a
    # billion-edge graph at ~2k partitions and a test graph at 1.
    n_pairs = pairs.count()
    p = max(1, min(pairs.rdd.getNumPartitions(), n_pairs // 500_000 + 1))
    caller = pairs.sparkSession
    # Run the loop WITHOUT AQE (round 15, measured: 5.9 s with vs 4.6 s
    # without on the harness edge set — every frame is explicitly
    # repartition(p)-sized, so AQE's per-job re-planning buys nothing).
    # Round 16: the loop now runs on a conf-isolated CLONED session
    # (_loop_session + _reroot) instead of toggling the caller's
    # session-global conf — a concurrent query on the caller's session
    # keeps AQE (ADVICE r15; pinned in tests/test_r16_optimizations.py).
    # If the internal re-rooting API ever moves, fall back to the scoped
    # caller-session toggle.
    old_aqe = None
    try:
        spark = _loop_session(caller)
        pairs = _reroot(pairs, spark)
    except Exception:
        spark = caller
        old_aqe = caller.conf.get("spark.sql.adaptive.enabled", "true")
        caller.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        edges = (
            symmetrize_edges(pairs, a, b).repartition(p).localCheckpoint(eager=True)
        )
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("lbl"))
            .repartition(p)
            .localCheckpoint(eager=True)
        )
        # Convergence via the label-sum invariant instead of a join: labels
        # only ever DECREASE, so sum(lbl) is strictly monotone under any
        # change and "sum unchanged" ⟺ "no label changed" — one aggregate
        # job per round instead of a self-join + count (round-15). The sum
        # runs in DECIMAL(38,0) (round 16, ADVICE r15): a bigint sum wraps
        # silently with ANSI pinned off, so hashed 64-bit doc ids on a
        # large graph could in principle mask a label change; 38 digits
        # cannot overflow for any n_nodes × doc_id this engine can hold.
        _dsum = F.sum(F.col("lbl").cast("decimal(38,0)"))
        lbl_sum = labels.agg(_dsum).collect()[0][0]

        for _ in range(max_iter):
            # Propagate: each node adopts the min label among itself and its
            # neighbors. The union keeps isolated-this-round nodes in place.
            nbr = (
                edges.join(labels, edges.src == labels.node)
                .select(F.col("dst").alias("node"), "lbl")
            )
            prop = (
                labels.unionAll(nbr)
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
            )
            # Compress: lbl <- lbl(lbl). Labels only ever decrease, so a node
            # whose label is already a component root is a fixed point.
            parent = prop.select(F.col("node").alias("p_node"), F.col("lbl").alias("p_lbl"))
            new_labels = (
                prop.join(parent, prop.lbl == parent.p_node, "left")
                .select(
                    "node",
                    F.least(F.col("lbl"), F.coalesce(F.col("p_lbl"), F.col("lbl"))).alias("lbl"),
                )
                .repartition(p)
                .localCheckpoint(eager=True)
            )
            new_sum = new_labels.agg(_dsum).collect()[0][0]
            done = new_sum == lbl_sum
            labels, lbl_sum = new_labels, new_sum
            if done:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
    finally:
        if old_aqe is not None:
            caller.conf.set("spark.sql.adaptive.enabled", old_aqe)

    if spark is not caller:
        # hand the (checkpointed, plan-truncated) label table back on the
        # CALLER's session so downstream joins/sorts run under its conf
        labels = _reroot(labels, caller)
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def resolve_clusters(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Components + per-cluster size, ordered for deterministic output:
    (cluster_id, doc_id, n_members). ``n_members`` counts nodes that
    appear in the pair graph (every cluster therefore has >= 2)."""
    cc = connected_components(pairs, a, b)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        cc.join(sizes, "cluster_id")
        .select("cluster_id", "doc_id", "n_members")
        .orderBy("cluster_id", "doc_id")
    )


def select_survivors(
    members: DataFrame,
    scores: DataFrame,
    score_col: str = "novelty",
) -> DataFrame:
    """Quality-aware survivor selection: keep, per duplicate cluster, the
    member with the HIGHEST score (ties to the smallest doc_id). The
    min-id policy resolve_clusters consumers default to keeps whichever
    clone happened to be ingested first; joining a quality signal (gram
    novelty, LM score, length) keeps the best exemplar instead — the
    standard refinement for training-corpus dedup.

    ``members`` is (cluster_id, doc_id, ...) from ``resolve_clusters``;
    ``scores`` is (doc_id, <score_col>, ...). Members with no score row
    (e.g. a doc too short to produce a single n-gram can still be an
    exact dup) rank as -1 — any scored member beats them, and an all-
    unscored cluster falls back to min-id.

    One window over members enriched with the (doc-granularity,
    broadcast-or-shuffle-on-id) score join: the per-cluster sort is
    bounded by cluster size, which dedup keeps small by construction —
    no corpus-wide sort, no pair-level work."""
    from pyspark.sql import Window

    ranked = (
        members.join(
            scores.select("doc_id", F.col(score_col).alias("_score")),
            "doc_id",
            "left",
        )
        .withColumn("_s", F.coalesce("_score", F.lit(-1.0)))
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("_s"), F.asc("doc_id"))
    return (
        ranked.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_id"),
            "n_members",
            F.round("_s", 4).alias("survivor_score"),
        )
        .orderBy("cluster_id")
    )
