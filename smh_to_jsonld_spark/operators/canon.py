"""Canonicalization: connected components over same-as edges.

Catalyst has no fixpoint operator (SURVEY.md §4), so connected components
is the one genuinely iterative piece of the engine: min-label propagation
via repeated self-join, with ``localCheckpoint`` every few rounds to cut
lineage (otherwise the plan tree grows exponentially and the driver OOMs
long before the data does). Convergence is detected with a count of
changed labels. All randomness-free; label = lexicographic min vertex id,
so results are deterministic at any parallelism.

Only near-dup clustering runs it (``dedup.near_dup_clusters``,
``plans.job.rebuild_near_dups``): verified pairs chain transitively and
clusters genuinely merge. Entities do not need it — linking maps each
surface to one canonical, and every canonical links to itself, so the
same-as graph is a forest of stars and ``plans.pipeline.entity_rollup``
groups by canonical instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Return (vertex, component) where component = min vertex id in the
    connected component (undirected).

    ORDERING CONTRACT: vertices are compared as STRINGS (ids are cast on
    entry), so "min" is the lexicographic min — '10' < '9'. Callers with
    numeric ids must zero-pad to a fixed width first if they rely on
    component == numeric min (``near_dup_clusters`` pads to 19 digits;
    the resumable job's conversation ids are natural strings, where
    lexicographic min is the intended deterministic representative).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    literature), which converges in O(log n) rounds on ANY graph shape,
    replacing round-2's min-label propagation whose round count was the
    graph DIAMETER (fine for star-shaped alias clusters, quadratic-feeling
    on chains). Each round is two self-join-free passes:

    - large-star: every vertex points its LARGER neighbors at its current
      minimum (one groupBy-min + one broadcast-free equi-join);
    - small-star: every vertex and its smaller neighbors collapse onto
      their minimum.

    Both passes only ever emit (bigger, smaller) pairs, monotonically
    pulling every vertex toward the component minimum; at the fixed point
    the edge set IS the star (vertex -> component-min). localCheckpoint
    per round cuts lineage (the plan would otherwise double per round).
    Deterministic: ordering is plain string/id comparison, no randomness.

    ``stats``: optional dict, filled with {"iterations": n} — lets tests
    pin the O(log n) convergence without changing the return contract.
    """
    e = (
        edges.select(
            F.greatest(F.col(src).cast("string"), F.col(dst).cast("string")).alias("u"),
            F.least(F.col(src).cast("string"), F.col(dst).cast("string")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    vertices = (
        e.select(F.col("u").alias("vertex"))
        .union(e.select(F.col("v").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    n_edges = e.count()
    iterations = 0
    converged = n_edges == 0
    for _ in range(max_iterations):
        if n_edges == 0:
            break
        iterations += 1
        # large-star: per vertex x, m = min(neighbors ∪ {x}); every
        # neighbor y > x re-points to m
        sym = e.select(F.col("u").alias("x"), F.col("v").alias("y")).union(
            e.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        mins = sym.groupBy("x").agg(F.min("y").alias("mn"))
        m = F.least(F.col("mn"), F.col("x"))
        large = (
            sym.join(mins, "x")
            .filter(F.col("y") > F.col("x"))
            .select(F.col("y").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the (u > v) directed set: u and all its smaller
        # neighbors collapse onto their minimum
        minsd = large.groupBy("u").agg(F.min("v").alias("mn"))
        from_nbrs = (
            large.join(minsd, "u")
            .filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        )
        e_new = (
            from_nbrs.union(minsd.select("u", F.col("mn").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_new = e_new.count()
        converged = n_new == n_edges and (
            e_new.join(e, ["u", "v"], "left_anti").limit(1).count() == 0
        )
        e, n_edges = e_new, n_new
        if converged:
            break
    if stats is not None:
        stats["iterations"] = iterations
        stats["converged"] = converged

    # fixed point: e is the star set (vertex -> component min); roots and
    # isolated-in-input vertices label themselves
    comp = e.select(F.col("u").alias("vertex"), F.col("v").alias("component"))
    if not converged:
        # max_iterations exhausted before the star fixpoint: a vertex may
        # still point at multiple targets, which would silently emit
        # conflicting (vertex, component) rows. Warn loudly and collapse
        # to one deterministic label per vertex (min target — labels may
        # then be component-LOCAL minima, not global; callers needing the
        # exact fixpoint should raise max_iterations).
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint after {max_iterations} "
            "iterations; labels deduped to per-vertex min and may not be "
            "global component minima — raise max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
        comp = comp.groupBy("vertex").agg(F.min("component").alias("component"))
    roots = vertices.join(comp.select("vertex"), "vertex", "left_anti").select(
        "vertex", F.col("vertex").alias("component")
    )
    return comp.union(roots)

