"""Graph analytics over an edge table — the query family a KG store
grows next, once construction (A) and SPARQL (B) are in place: degree
statistics, triangle counting, PageRank.

Reference analog: public-knowledge `jgrzebyta/triple-loader` stores its
graph in RDF4J, whose ecosystem answers these with GraphDB-style
analytics plugins; here they are first-class Spark dataflows over the
engine's own ``(src, dst)`` edge projection (any SPARQL CONSTRUCT /
``query.bgp`` result with two IRI columns qualifies).

Scale shapes (all shuffle-bounded, no driver-side iteration over data):

- ``degrees`` — two partial-aggregated counts + one join on the node
  key; at 100 TB this is two uniform shuffles keyed by node id.
- ``triangles`` — the compact-forward / node-iterator algorithm
  [Latapy 2008; also Cohen's MapReduce formulation]: orient every
  undirected edge from its lower-(degree, id)-ranked endpoint to the
  higher one, generate wedges only at each triangle's MINIMUM-rank
  vertex, and close them with a shuffle join against the oriented edge
  set.  Degree orientation bounds per-node wedge fan-out by O(√m), so
  total wedge work is O(m^1.5) instead of Σ deg² — the difference
  between a web-graph hub generating 10¹⁰ wedges and 10⁵.  The closing
  step is an equi-join on the (v, w) pair key (uniform), never a
  broadcast of the edge set.
- ``pagerank`` — classic power iteration with dangling-mass
  redistribution, a driver LOOP over a fixed iteration count but all
  data motion is `join + groupBy` per round; the dangling scalar rides
  a 1-row broadcast cross join (no `.collect()`), and lineage is
  truncated with `localCheckpoint` every few rounds exactly like
  `link.connected_components`.

Every op is value-exact against a DuckDB oracle: triangle sets are
orientation-invariant (the oracle may use id-order while Spark uses
degree-order — the per-node participation counts are identical), and
PageRank stabilizes each iteration to 9 decimals on both engines so
float summation order cannot drift across rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Degrees
# ---------------------------------------------------------------------------


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """→ (node, out_deg, in_deg, deg).  Nodes = union of endpoints;
    isolated direction gets 0.  Two partial-aggregated counts joined
    full-outer on the node key."""
    out_d = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_d = edges.groupBy(F.col(dst).alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            (
                F.coalesce("out_deg", F.lit(0)) + F.coalesce("in_deg", F.lit(0))
            ).alias("deg"),
        )
    )


# ---------------------------------------------------------------------------
# Triangles (compact-forward, degree-ordered)
# ---------------------------------------------------------------------------


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected simple edges: (a < b), self-loops dropped,
    duplicates and anti-parallel pairs collapsed."""
    return (
        edges.select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation → (node, n_tri).

    Orientation: every undirected edge points from its lower
    (undirected-degree, id) endpoint to the higher — a total order, so
    each triangle {u,v,w} survives in the oriented set as exactly the
    three edges u→v, u→w, v→w (ranks u<v<w) and is generated ONCE as a
    wedge at u closed by the join on (v, w).  The wedge self-join key
    is the minimum-rank vertex whose oriented out-degree is ≤ O(√m)
    [compact-forward bound], which is what makes this survive hub skew
    at web scale; id-ordering alone would let one celebrity node
    generate deg² wedges.

    Eager: building the returned DataFrame runs jobs, because the
    undirected and the oriented edge sets are checkpointed eagerly.
    """
    # r6 (guide §5 caching / §3.3 plan truncation): the canonical edge
    # set feeds THREE consumers (degree agg, both rank joins, the
    # closing-edge side) — materialize it once instead of recomputing
    # scan+distinct per consumer. Same policy as connected_components;
    # the blocks are O(m) in MEMORY_AND_DISK and are released with the
    # plan (interleaved A/B at sf1.0: 2.9 s → 1.45 s together with the
    # fwd checkpoint below).
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    return _triangles_from(und, _udeg(und))


def _udeg(und: DataFrame) -> DataFrame:
    return (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("udeg"))
    )


def _triangles_from(und: DataFrame, deg: DataFrame) -> DataFrame:
    ranked = (
        und.join(deg.withColumnsRenamed({"node": "a", "udeg": "da"}), "a")
        .join(deg.withColumnsRenamed({"node": "b", "udeg": "db"}), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    fwd = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=True)  # r6: reused by e1, e2 and closing
    e1 = fwd.alias("e1")
    e2 = fwd.alias("e2")
    # wedges at the minimum-rank vertex; (v, w) unordered ⇒ keep one of
    # the two join outputs per pair — the closing edge's own
    # orientation picks it (only the rank-ordered (v, w) exists in fwd)
    wedges = e1.join(e2, F.col("e1.u") == F.col("e2.u")).where(
        F.col("e1.v") != F.col("e2.v")
    ).select(
        F.col("e1.u").alias("u"),
        F.col("e1.v").alias("v"),
        F.col("e2.v").alias("w"),
    )
    closing = fwd.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tri = wedges.join(closing, ["v", "w"], "left_semi")
    return (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient over the undirected simple graph:
    c(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), 0 where deg < 2 —
    → (node, udeg, n_tri, lcc).  Reuses the compact-forward triangle
    count and one undirected-degree aggregate; the extra cost over
    `triangles` is a single node-keyed join. Eager like `triangles`:
    building the returned DataFrame runs the checkpoint jobs."""
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)  # r6
    deg = _udeg(und)
    tri = _triangles_from(und, deg)
    return deg.join(tri, "node", "left").select(
        "node",
        "udeg",
        F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
        F.when(
            F.col("udeg") < 2, F.lit(0.0)
        ).otherwise(
            F.round(
                2.0 * F.coalesce("n_tri", F.lit(0))
                / (F.col("udeg") * (F.col("udeg") - 1)),
                9,
            )
        ).alias("lcc"),
    )


def wcc(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    numeric_ids: bool = True,
) -> DataFrame:
    """Weakly connected components → (node, component, component_size)
    with component = the minimum node id in the component.

    Reuses the engine's A16 hybrid CC (`link.connected_components`:
    driver union-find under 10^6 edges, alternating large/small-star
    rounds above — Kiveris et al. SoCC'14). That operator orders
    representatives lexicographically over string terms (its IRI
    domain): with ``numeric_ids`` the ids ride a zero-padded
    fixed-width encoding where lexicographic min == numeric min (ids
    must be non-negative); with ``numeric_ids=False`` string ids (IRI
    nodes from a KG edge projection) pass straight through and the
    representative is the lexicographic minimum. Nodes whose only
    edges are self-loops stay as singleton components."""
    und = _undirected(edges, src, dst)
    from tripleforge.link import connected_components

    if numeric_ids:
        pairs = und.select(
            F.format_string("%020d", "a").alias("u"),
            F.format_string("%020d", "b").alias("v"),
        )
    else:
        pairs = und.select(F.col("a").alias("u"), F.col("b").alias("v"))
    mapping = connected_components(pairs)
    if numeric_ids:
        mapping = mapping.select(
            F.col("member").cast("long").alias("node"),
            F.col("representative").cast("long").alias("rep"),
        )
    else:
        mapping = mapping.select(
            F.col("member").alias("node"), F.col("representative").alias("rep")
        )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    comp = nodes.join(mapping, "node", "left").select(
        "node", F.coalesce("rep", F.col("node")).alias("component")
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return comp.join(sizes, "component").select(
        "node", "component", "component_size"
    )


def khop_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst", hops: int = 2
) -> DataFrame:
    """Directed k-hop neighborhood size → (node, n_reach): the number
    of DISTINCT nodes reachable from each node in 1..``hops`` steps
    (self counts only if it sits on a cycle of length ≤ hops).

    Frontier expansion with per-round dedup: round r joins the
    deduplicated (start, reached) set against the edge list on the
    reached node and unions the new pairs in — ``hops − 1`` shuffle
    joins total, each keyed by a node id, with `distinct` capping the
    pair set at |V|² worst-case but at (avg out-degree)^r in practice.
    For unbounded reachability use `tripleforge.query`'s path-doubling
    closure instead (O(log d) rounds); bounded-hop counts keep the
    per-round frontier explicit, which is the cheaper plan for the
    small fixed radii (2-3) neighborhood features actually use."""
    if hops < 1:
        raise ValueError("hops must be >= 1")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    reach = e
    for _ in range(hops - 1):
        step = reach.join(
            e.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
        ).select("a", F.col("c").alias("b"))
        reach = reach.unionAll(step).distinct()
    return reach.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("n_reach")
    )


# ---------------------------------------------------------------------------
# PageRank (power iteration, dangling-mass aware)
# ---------------------------------------------------------------------------


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 4,
) -> DataFrame:
    """→ (node, pr) after ``iterations`` power-iteration rounds.

    pr⁰ = 1/N; prᵏ⁺¹(n) = (1−d)/N + d·(Σ_{s→n} prᵏ(s)/out(s) + D/N)
    where D = Σ prᵏ over dangling (out-degree-0) nodes.  Each round is
    one join (ranks ⋈ edges on src) + one aggregate (sum by dst) — the
    textbook distributed formulation; the dangling scalar stays inside
    the plan as a 1-row broadcast cross join rather than a driver
    `.first()`.  Every value is stabilized to 9 decimals per round so
    an external oracle computing the identical recurrence cannot
    diverge by float summation order.  Lineage is truncated with
    `localCheckpoint` every ``checkpoint_every`` rounds (same policy as
    `link.connected_components`) so deep iteration counts do not build
    unbounded plans.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    base = nodes.join(out_deg, "node", "left").select(
        "node", F.coalesce("out_deg", F.lit(0)).alias("out_deg")
    )
    n_df = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
    ranks = base.crossJoin(n_df).select(
        "node",
        "out_deg",
        F.round(F.lit(1.0) / F.col("n_nodes"), 9).alias("pr"),
    )
    for it in range(iterations):
        dangling = F.broadcast(
            ranks.agg(
                F.coalesce(
                    F.sum(F.when(F.col("out_deg") == 0, F.col("pr"))), F.lit(0.0)
                ).alias("dangling")
            )
        )
        active = ranks.where(F.col("out_deg") > 0)
        contribs = (
            active.join(e, active["node"] == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("pr") / F.col("out_deg")).alias("in_sum"))
        )
        ranks = (
            base.join(contribs, "node", "left")
            .crossJoin(n_df)
            .crossJoin(dangling)
            .select(
                "node",
                "out_deg",
                F.round(
                    (1.0 - damping) / F.col("n_nodes")
                    + damping
                    * (
                        F.coalesce("in_sum", F.lit(0.0))
                        + F.col("dangling") / F.col("n_nodes")
                    ),
                    9,
                ).alias("pr"),
            )
        )
        if (it + 1) % checkpoint_every == 0 and it + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", "pr")
