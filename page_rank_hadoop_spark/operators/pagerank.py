"""Iterative PageRank with the reference's exact policy, as a vertex
program over the one superstep loop (``pregel.pregel``).

Reference (/root/reference/src/main/scala/pageRank.scala):
- formula  pr' = α·(1/N) + (1−α)·Σ contribs, α = 0.15 (:294, :310)
- policy   min 10 iterations, stop when avgChange ≤ 0.2, cap 50 (:360-371)
  DEVIATION (documented): the reference's counter is NOT a true rank
  delta — pageRankMap emits the links record with rank 0 (:280), so
  prevPageRank is always 0 in pageRankReduce and the counter accumulates
  |Σ contribs| per node (pre-damping contribution mass), scaled by 1000
  and truncated per record (:307). We compute the exact float Σ|Δpr|/N
  (true average rank change), which can stop at a different iteration in
  convergence mode; the adaptive stop rule is HASH-checked against a
  DuckDB oracle (q_pagerank_converged: an unrolled, capped 50-level
  MATERIALIZED CTE chain evaluates the same min10/≤0.2/cap50 decision
  in SQL).
- N counts every adjacency row including the virtual NULL node (:258).

The loop's physical invariants (one message Exchange per round, one
action per round, 6dp-absorbed float-sum reordering) are the harness's;
see ``pregel``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from page_rank_hadoop_spark.operators.pregel import pregel

ALPHA = 0.15  # pageRank.scala:294


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id, pr)
    iterations: int
    avg_changes: list[float]


def run_pagerank(
    adj: DataFrame,
    alpha: float = ALPHA,
    min_iter: int = 10,
    max_iter: int = 50,
    tol: float = 0.2,
    fixed_iterations: int | None = None,
    teleport: DataFrame | None = None,
    initial_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Iterate PageRank over an adjacency DataFrame ``(id, links)``.

    Vertices carry ``(pr, out_deg)``; each superstep sends pr/out_deg
    along the exploded links, sums per recipient, and damps:
    pr' = α·t + (1−α)·Σ contribs with t = 1/N. Dangling vertices (empty
    or NULL links) send nothing; contributions to ids outside ``adj``
    are dropped.

    ``fixed_iterations`` overrides the convergence policy (the declared
    oracle query runs exactly 10 for determinism). With the policy active,
    each iteration's one action also returns Σ|Δpr| — the Spark analog of
    the reference's counter read (pageRank.scala:366-371).

    DELIBERATE METRIC DEVIATION from the reference: our avg_change is the
    true mean |Δpr| between consecutive iterations. The reference's
    counter is NOT — its mapper accumulates |contribution − prevPageRank|
    where prevPageRank is always 0.0 (Writables default,
    pageRank.scala:277-281), so the reference actually averages the
    PRE-DAMPING contribution mass of the new iteration, a quantity that
    does not go to 0 at the fixpoint. We keep the same stopping POLICY
    surface (min 10 iterations, threshold 0.2, cap 50) but drive it with
    the honest delta. Since true mean |Δpr| is ≤ the pre-damping
    contribution mass once ranks stabilize, the honest metric can only
    stop at the same iteration or earlier, never later. Policy
    invariants (floor, cap, threshold) are pinned in
    tests/test_pagerank.py.

    ``teleport`` switches to PERSONALIZED PageRank: a DataFrame of source
    ``id`` rows; the restart distribution becomes uniform over that set
    (t(v) = 1/|S| for v∈S present in the graph, else 0) instead of 1/N,
    and ranks initialize to t — random-walk-with-restart relevance to the
    source set (Haveliwala, "Topic-Sensitive PageRank"). t rides along as
    vertex state.

    ``initial_ranks`` WARM-STARTS the loop from a stored ranks table
    instead of uniform 1.0 — the incremental-recompute path: resuming
    2 iterations from the 10-iteration ranks equals a straight
    12-iteration run (hash-checked as q_pagerank_resume). Vertices absent
    from the stored ranks enter at rank 0 and earn mass on the first
    resumed iteration; mutually exclusive with ``teleport``.
    """
    if teleport is not None and initial_ranks is not None:
        raise ValueError("run_pagerank: teleport and initial_ranks are exclusive")
    n = adj.count()
    verts = adj.select("id", F.size("links").cast("double").alias("out_deg"))
    if teleport is not None:
        # restart mass is spread over teleport ids PRESENT in the graph:
        # normalizing by the raw teleport count would lose the share of
        # any id absent from adj (ranks would sum < 1)
        tel_present = adj.select("id").join(
            F.broadcast(teleport.select("id").distinct()), "id", "left_semi"
        )
        n_src = tel_present.count()
        if n_src == 0:
            raise ValueError(
                "personalized PageRank: teleport set is empty or disjoint from the graph"
            )
        t = F.coalesce("t", F.lit(0.0))
        verts = verts.join(
            F.broadcast(tel_present.select("id", F.lit(1.0 / n_src).alias("t"))),
            "id",
            "left",
        ).select("id", t.alias("pr"), "out_deg", t.alias("t"))
        restart = F.col("t")
    elif initial_ranks is not None:
        verts = verts.join(
            initial_ranks.select("id", F.col("pr").cast("double").alias("pr")),
            "id",
            "left",
        ).select("id", F.coalesce("pr", F.lit(0.0)).alias("pr"), "out_deg")
        restart = F.lit(1.0 / n)
    else:
        verts = verts.select("id", F.lit(1.0).alias("pr"), "out_deg")
        restart = F.lit(1.0 / n)
    carried = [c for c in verts.columns if c not in ("id", "pr")]
    # adaptive mode keeps each vertex's previous rank beside the new one,
    # so the delta read is one pass over the new state with no join
    prev = [F.col("pr").alias("prev")] if fixed_iterations is None else []

    def update(joined: DataFrame) -> DataFrame:
        return joined.select(
            "id",
            (
                F.lit(alpha) * restart
                + F.lit(1.0 - alpha) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("pr"),
            *carried,
            *prev,
        )

    def abs_delta(old: DataFrame, new: DataFrame) -> float:
        return new.agg(F.sum(F.abs(F.col("pr") - F.col("prev")))).first()[0] or 0.0

    res = pregel(
        vertices=verts,
        edges=adj.select(F.col("id").alias("src"), F.explode("links").alias("dst")),
        send_to_dst=[(F.col("pr") / F.col("out_deg")).alias("contrib")],
        agg_to_dst=[F.sum("contrib").alias("contrib")],
        update=update,
        n_iter=fixed_iterations,
        min_iter=min_iter,
        max_iter=max_iter,
        tol=tol * n,
        delta_metric=abs_delta,
    )
    return PageRankResult(
        ranks=res.vertices.select("id", "pr"),
        iterations=res.iterations,
        avg_changes=[d / n for d in res.deltas],
    )


def top_k(ranks: DataFrame, k: int | None = None) -> DataFrame:
    """Reference O1: global sort desc by (pr, id); ``limit`` makes it a
    distributed top-k (TakeOrderedAndProject) instead of a total sort."""
    out = ranks.orderBy(F.desc("pr"), F.col("id"))
    return out.limit(k) if k is not None else out
