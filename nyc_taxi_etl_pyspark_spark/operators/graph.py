"""Iterative graph algorithms on DataFrames (SURVEY.md §2.12 extension).

PageRank here powers TextRank-style keyword ranking over a token
co-occurrence graph, and is the generic template for any fixed-point
computation the engine runs (connected components in
``operators/dedup.py`` is the other instance: same loop shape, monotone
min-label instead of damped averaging).

Scale notes (100 TB): each iteration is one join edges⋈ranks (both
pre-partitioned on the join key after the first iteration — Catalyst
reuses the hash partitioning) plus a bounded-size aggregate to |nodes|
rows. Lineage is truncated with ``localCheckpoint`` every few
iterations, else the plan tree doubles per iteration and the driver
chokes long before the executors do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 4,
    weight: str | None = None,
    single_task_max_edges: int = 500_000,
) -> DataFrame:
    """PageRank over a directed edge list ``(src, dst)``.

    Returns one row per node: (token, deg, pr). Deterministic up to
    float summation order — callers round ``pr`` before hashing.
    For an undirected graph, pass both edge directions.

    ``weight=None`` (default) is the classic unweighted walk: ``deg``
    is the out-edge COUNT and each out-edge receives pr/deg mass.
    ``weight="col"`` makes the walk proportional to edge weights
    (e.g. observed transition counts): ``deg`` becomes the out-weight
    SUM (double) and each edge carries pr·w/Σw — frequent paths
    dominate, as a Markov-chain stationary-measure approximation
    should.

    The node set is src ∪ dst, so sink nodes (incoming edges only)
    receive rank like any other node; their out-degree is 0 and they
    contribute no mass (the classic dangling-node simplification — the
    dangling mass is dropped, not redistributed, so ranks are comparable
    within a run rather than a strict probability distribution).

    Hostile input: an edge with a NULL ``src`` or ``dst`` is dropped
    (as ``connected_components`` does), so it adds neither a node nor
    out-degree. With ``weight``, a NULL weight counts toward neither
    ``deg`` nor any mass, and a source whose out-weights sum to zero
    sends no mass (its edges' pr·w/Σw is NULL, not inf/NaN).
    """
    # Materialize the edge list ONCE (round 12): ``edges`` is typically
    # the tail of an expensive derivation (for TextRank: tokenize →
    # distinct → df-prune → doc self-join), and it is consumed by deg,
    # nodes, n_nodes AND every iteration's contribs join — without
    # this, the derivation re-executes ~(3 + iterations) times and the
    # plan tree snowballs (measured on q_textrank_keywords at sf0.01:
    # ~2,400 stages and 15.4 s warm → 34 stages and ~1.4 s).
    edges = edges.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if weight is None:
        edges = edges.select("src", "dst").localCheckpoint(eager=True)
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        edge_mass = F.col("pr") / F.col("deg")
    else:
        edges = edges.select(
            "src", "dst", F.col(weight).cast("double").alias("__w")
        ).localCheckpoint(eager=True)
        deg = edges.groupBy("src").agg(F.sum("__w").alias("deg"))
        # try_divide: a zero out-weight sum yields NULL mass (dropped by
        # the sum) instead of raising under ANSI mode
        edge_mass = F.try_divide(F.col("pr") * F.col("__w"), F.col("deg"))
    # Scale-adaptive algorithm choice (round 15, guide §1.2 — the same
    # move as connected_components' small-graph path): every engine
    # caller runs PageRank on a graph whose node set is BOUNDED BY
    # CONSTRUCTION independent of corpus size (df-pruned vocabulary:
    # tokens in >5% of docs, ≤ tokens-per-doc/0.05 of them; event-type
    # transition graphs: |event types|² edges), yet each iteration of
    # the DataFrame loop paid 2 joins + an aggregate in exchanges over
    # tiny rows — ~1 s of per-stage overhead on a 435-edge graph at
    # sf0.1. The count is one cheap job over the partitions the eager
    # checkpoint just materialized; under the threshold the whole
    # fixpoint runs as ONE task of vectorized numpy (≤500k edges is
    # well inside a task's seconds/memory budget), above it the
    # distributed loop is unchanged. Float caveat, honestly: the
    # per-dst mass sums in a different (sorted-edge) deterministic
    # order than Spark's partition-dependent aggregate — the same
    # cross-engine summation drift the callers' stable_round(pr, 6)
    # + 1e-9 discipline already absorbs between Spark and the DuckDB
    # oracles (pinned there at 3 SFs); raw pr doubles may differ at
    # ~1 ulp between the two paths.
    if edges.count() <= single_task_max_edges:
        return _pagerank_single_task(edges, iterations, damping, weight)
    nodes = (
        edges.select(F.col("src").alias("token"))
        .union(edges.select(F.col("dst").alias("token")))
        .distinct()
    )
    n_nodes = nodes.agg(F.count("*").alias("n_nodes"))
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "token", (F.lit(1.0) / F.col("n_nodes")).alias("pr")
    )
    for i in range(iterations):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["token"])
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(edge_mass).alias("mass"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(n_nodes))
            .join(contribs, nodes["token"] == contribs["dst"], "left")
            .select(
                "token",
                (
                    (1.0 - damping) / F.col("n_nodes")
                    + damping * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("pr"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return (
        nodes.join(ranks, "token")
        .join(deg.withColumnRenamed("src", "token"), "token", "left")
        .select(
            "token", F.coalesce(F.col("deg"), F.lit(0)).alias("deg"), "pr"
        )
    )


def _pagerank_single_task(
    edges: DataFrame, iterations: int, damping: float, weight: str | None
) -> DataFrame:
    """One-task vectorized PageRank over a small (checkpointed) edge
    list — semantics identical to the DataFrame loop: nodes = src ∪
    dst; pr₀ = 1/n; per iteration mass[dst] += pr[src]·w/deg[src]
    summed over EVERY edge row (duplicates contribute like the
    groupBy-sum did); pr = (1−d)/n + d·mass; sink nodes keep rank but
    contribute none. deg is the out-edge count (long) unweighted, the
    out-weight sum (double) weighted; no-out-edge nodes report 0. A
    NULL weight adds nothing to deg or mass, and a zero-deg source
    sends no mass — the loop's NULL mass, ignored by its sum.
    Edges are sorted before accumulation so the result is a pure
    function of the edge SET."""
    id_t = edges.schema["src"].dataType.simpleString()
    deg_t = "bigint" if weight is None else "double"
    out_schema = f"token {id_t}, deg {deg_t}, pr double"
    d = float(damping)
    iters = int(iterations)
    weighted = weight is not None

    def run(pdf) -> "object":
        import numpy as np
        import pandas as pd

        cols = ["src", "dst", "__w"] if weighted else ["src", "dst"]
        pdf = pdf[cols].sort_values(cols, kind="mergesort")
        nodes, inv = np.unique(
            np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()]),
            return_inverse=True,
        )
        m = len(pdf)
        isrc, idst = inv[:m], inv[m:]
        n = len(nodes)
        if n == 0:
            return pd.DataFrame({"token": nodes, "deg": nodes, "pr": nodes})
        if weighted:
            w = pdf["__w"].to_numpy(dtype="float64")
            w = np.where(np.isnan(w), 0.0, w)  # NULL weight arrives as NaN
            deg = np.zeros(n, dtype="float64")
            np.add.at(deg, isrc, w)
        else:
            w = 1.0
            deg = np.bincount(isrc, minlength=n).astype("float64")
        sends = deg[isrc] != 0
        div = np.where(sends, deg[isrc], 1.0)  # no 0/0 in the masked rows
        pr = np.full(n, 1.0 / n)
        base = (1.0 - d) / n
        for _ in range(iters):
            contrib = np.where(sends, pr[isrc] * w / div, 0.0)
            mass = np.zeros(n, dtype="float64")
            np.add.at(mass, idst, contrib)
            pr = base + d * mass
        out_deg = deg if weighted else np.bincount(isrc, minlength=n)
        return pd.DataFrame({"token": nodes, "deg": out_deg, "pr": pr})

    return edges.groupBy(F.lit(0).alias("__g")).applyInPandas(
        lambda pdf: run(pdf), out_schema
    )
