"""Connected components over an edge list — the clustering step that turns
near-duplicate candidate PAIRS (MinHash-LSH / SimHash output) into duplicate
GROUPS with one canonical document per group.

The reference's dedup surface stops at exact fingerprints
(/root/reference/src/formatters/reformat_team_game.py drop_duplicates
semantics); a web-scale training-data pipeline needs transitive closure:
if A~B and B~C, one of {A,B,C} survives, not two.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — converges in O(log^2 n)
rounds on any graph (O(log n) in practice), each round a pair of
groupBy-min + equi-join passes, no collect_list (hot-node neighborhoods
never materialize in one task), no driver-side graph. Lineage is truncated
with an eager localCheckpoint per round so the plan stays O(1) deep — the
standard guard for iterative DataFrame algorithms.

Scale story: every round shuffles the (shrinking) edge list on node id;
after round 1 every edge points big-id -> small-id, and star collapse is
monotone. At 100 TB the edge list is the LSH candidate output — orders of
magnitude smaller than the corpus — and the O(log n) round count is
corpus-size-insensitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _star_round(sym: DataFrame, keep_larger: bool) -> DataFrame:
    """One star operation. For each node u with neighborhood N(u):
    m = min(N(u) + {u}); emit (v, m) for v in N(u) with v > u (large-star,
    keep_larger=True) or v <= u plus (u, m) itself (small-star)."""
    mins = sym.groupBy("src").agg(F.min("dst").alias("__mn"))
    mins = mins.select("src", F.least(F.col("__mn"), F.col("src")).alias("m"))
    j = sym.join(mins, "src")
    if keep_larger:
        out = j.where(F.col("dst") > F.col("src")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
    else:
        out = j.where(F.col("dst") < F.col("src")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        ).union(mins.select(F.col("src"), F.col("m").alias("dst")))
    return out.where(F.col("src") != F.col("dst")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(id, component) for every node appearing in ``edges``; component is
    the minimum node id reachable via undirected paths.

    NULL endpoints are rejected up front (a NULL id would silently vanish
    from min() aggregation and detach its edge). Self-loops are ignored.
    """
    e0 = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e0 = e0.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # node set BEFORE dropping self-loops: a node appearing only in (v, v)
    # is still a (singleton) node of the graph
    nodes = (
        e0.select(F.col("src").alias("id"))
        .union(e0.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = e0.where(F.col("src") != F.col("dst")).distinct()
    e = e.localCheckpoint(eager=True)

    prev = None
    for _ in range(max_iter):
        e = _star_round(_symmetrize(e), keep_larger=True)
        e = _star_round(e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))),
                        keep_larger=False)
        e = e.localCheckpoint(eager=True)
        if prev is not None:
            changed = e.exceptAll(prev).union(prev.exceptAll(e))
            if changed.limit(1).count() == 0:
                break
        prev = e
    else:
        raise RuntimeError(f"connected_components: no fixpoint after {max_iter} rounds")

    # final edge set is a star forest: (member -> root). Roots and isolated
    # nodes label themselves.
    labels = e.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    roots = nodes.join(labels, "id", "left_anti").select(
        "id", F.col("id").alias("component")
    )
    return labels.union(roots)


def near_dup_components(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_jaccard: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
) -> DataFrame:
    """End-to-end near-dup clustering: LSH candidate pairs -> threshold on
    estimated Jaccard -> connected components -> every input document labeled
    (id, component, is_canonical). Downstream dedup keeps is_canonical rows.

    Singleton documents (no near-dup candidates) are their own canonical
    component — the output covers the FULL input, so it composes as a filter
    stage in a pipeline, not just a report.
    """
    from nfl_feature_store_spark.operators.dedup import minhash_lsh_candidates

    pairs = minhash_lsh_candidates(
        docs, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
    ).where(F.col("est_jaccard") >= min_jaccard)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    out = (
        docs.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("component", "id").alias("component"),
            (F.coalesce("component", "id") == F.col("id")).alias("is_canonical"),
        )
    )
    return out
