"""Dedup canonicalization: near-dup PAIRS → connected components →
one canonical document per cluster.

The missing last mile after minhash/simhash/ngram/embedding pair emission
(``operators/delta_dedup.py``, ``operators/dedup.py``,
``operators/similarity.py``): a training-data pipeline keeps ONE
representative per duplicate cluster, and clusters are the transitive
closure of the pair graph (A~B, B~C ⇒ {A,B,C} even when A≁C directly).

Spark-first shape — large-star/small-star alternation in pure DataFrame
ops (the public CC-in-MapReduce construction, Kiveris et al.'s
small-star/large-star family; PAPERS.md — no driver-side graph, no
GraphX):

* each round rewires edges toward neighborhood minima (large-star for
  greater neighbors, small-star for smaller ones); the edge set
  contracts to a forest of stars rooted at each component's min id in
  O(log² n) rounds worst case, INDEPENDENT of graph diameter — min-label
  propagation (the previous implementation) needs ~diameter rounds, and
  web-scale near-dup chains (boilerplate series) routinely exceed any
  fixed diameter budget.
* every round moves only (id, id) edge rows — 16 bytes/edge, never text —
  through two groupBy-mins and two joins.
* each round's edge set is ``localCheckpoint``-ed (the round references
  its predecessor more than once, so without lineage truncation the
  logical plan doubles per round) and the previous round's checkpoint
  blocks are dropped explicitly — bounded memory, nothing cached
  outlives the call.

The reference has no dedup canonicalization (it deduplicates scan WORK by
url, ``base_scan_service.py:431-447``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(id, component) for every id appearing in ``pairs``; component =
    min id of the connected component (any orderable id type).

    Large-star/small-star alternation (the public CC-in-MapReduce method,
    Kiveris et al., PAPERS.md) instead of plain min-label propagation:
    propagation needs ~graph-diameter rounds, and near-dup chains longer
    than any fixed budget are routine at web scale (boilerplate series),
    so a diameter-bound loop WILL hit its guard in production. Star
    alternation contracts the graph toward a forest of stars rooted at
    each component's min in O(log² n) rounds worst case (a handful in
    practice — a 100-hop chain converges in ~7), independent of diameter.

    Per round, on edge rows only (two ids, never text):

    * large-star: for each u, every neighbor v > u rewires to
      m = min(Γ(u) ∪ {u})  — one symmetric explode, one groupBy-min,
      one join.
    * small-star: on edges directed big→small, every smaller neighbor
      (and u itself) rewires to m = min(Γ(u)) — one groupBy-min, one
      join.
    * each round's edge set is ``localCheckpoint``-ed: the round derives
      from the previous relation more than once, so without truncation
      the logical plan would double per round (the classic iterative-
      DataFrame trap); checkpoint blocks are GC-cleaned with the
      DataFrame, so nothing outlives the call.

    Convergence = the directed edge set reached a fixed point (equal
    count + empty anti-join — exact, not probabilistic). At the fixed
    point the edges are exactly (member, component-min) stars.
    """
    jsc = pairs.sparkSession.sparkContext._jsc

    def _drop_blocks(ids: set) -> None:
        # a localCheckpoint's blocks are released only when the JVM-side
        # RDD is GC'd (ContextCleaner) — non-deterministic; per-round
        # checkpoints would pile up across a long loop, so drop the
        # previous round's blocks explicitly by tracked id (never touch
        # ids we did not create)
        m = jsc.getPersistentRDDs()
        for rid in ids:
            ref = m.get(rid)
            if ref is not None:
                ref.unpersist(False)

    def _ckpt(df: DataFrame) -> tuple[DataFrame, set]:
        out = df.localCheckpoint(eager=True)
        try:
            # attribute the checkpoint's cached RDD by asking the plan
            # itself (LogicalRDD.rdd().id()) — a before/after diff of the
            # context-global persistent-RDD map would race with concurrent
            # threads of the same session and could steal THEIR blocks
            ids = {int(out._jdf.queryExecution().analyzed().rdd().id())}
        except Exception:  # noqa: BLE001 — leak (GC cleans up) over steal
            ids = set()
        return out, ids

    canon = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("a"),
            F.least(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    verts, verts_ids = _ckpt(
        pairs.select(F.col(id_a).alias("id"))
        .unionByName(pairs.select(F.col(id_b).alias("id")))
        .distinct()
    )
    edges, edge_ids = _ckpt(canon)
    prev_cnt = edges.count()
    converged = False
    for _round in range(max_iter):
        # -- large-star --------------------------------------------------
        sym = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        lmin = sym.groupBy("a").agg(F.min("b").alias("mn"))
        lmin = lmin.select("a", F.least("a", "mn").alias("m"))
        ls = (
            sym.join(lmin, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # -- small-star (ls edges are already directed big→small) --------
        smin = ls.groupBy("a").agg(F.min("b").alias("m"))
        joined = ls.join(smin, "a")
        out = (
            joined.filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(smin.select("a", F.col("m").alias("b")))
            .distinct()
        )
        new_edges, new_ids = _ckpt(out)
        cnt = new_edges.count()
        same = False
        if cnt == prev_cnt:
            diff = (
                new_edges.join(edges, ["a", "b"], "left_anti")
                .limit(1)
                .count()
            )
            same = diff == 0
        _drop_blocks(edge_ids)
        edges, edge_ids = new_edges, new_ids
        prev_cnt = cnt
        if same:
            converged = True
            break
    if not converged:
        _drop_blocks(edge_ids)
        _drop_blocks(verts_ids)
        # the edge set is still contracting: labels derived now could
        # split a component — refuse rather than silently diverge from
        # keep-one semantics
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(edge set still contracting); star alternation needs "
            f"O(log² n) rounds — raise max_iter"
        )
    # fixed point: edges are (member, component-min); roots have no
    # outgoing edge and label themselves via the coalesce
    leaf = edges.groupBy(F.col("a").alias("id")).agg(F.min("b").alias("comp"))
    labels = (
        verts.join(leaf, "id", "left")
        .select("id", F.coalesce("comp", "id").alias("comp"))
        .localCheckpoint(eager=True)
    )
    _drop_blocks(edge_ids)
    _drop_blocks(verts_ids)
    return labels


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Multi-member clusters from near-dup pairs: (doc_id, component,
    cluster_size), component = min doc_id of the cluster."""
    comp = connected_components(pairs, id_a, id_b, max_iter).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "component").select(
        "doc_id", "component", "cluster_size"
    )


def canonicalize(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    prefer_col: str | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Attach (component, is_canonical) to ``docs``.

    Docs absent from the pair graph are their own singleton component and
    canonical. Within a cluster the canonical doc is the max of
    ``prefer_col`` (e.g. a quality score), ties and None broken by min
    ``id_col`` — so the keep-one decision is deterministic.
    """
    comp = connected_components(pairs, id_a, id_b, max_iter).select(
        F.col("id").alias(id_col), F.col("comp").alias("component")
    )
    out = docs.join(comp, id_col, "left").withColumn(
        "component", F.coalesce("component", F.col(id_col))
    )
    order = [F.col(id_col).asc()]
    if prefer_col is not None:
        order = [F.col(prefer_col).desc_nulls_last(), F.col(id_col).asc()]
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(*order)
    return out.withColumn(
        "is_canonical", F.row_number().over(w) == 1
    )

