"""Connected components over an edge list — the clustering step that
turns pairwise near-dup *pairs* into dedup *groups* (the one-pass
"drop id_b" policy under-merges transitive chains; grouping by
component picks one canonical doc per cluster).

The reference has no graph operators; this is a beyond-reference
extension alongside the dedup/similarity family.

Algorithm: iterative min-label propagation — every node starts with
label = its own id; each round takes the min of its label and its
neighbors' labels; the component converges to the min id reachable,
in O(diameter) rounds. Near-dup clusters have tiny diameters, so this
terminates in 2-4 rounds in practice.

Scale design:
- each round is ONE join (edges ⋈ labels, shuffled on the node id) +
  ONE groupBy min — both map-side combinable; the edge list never
  explodes beyond 2|E|;
- `localCheckpoint` after every round cuts the lineage so the plan
  doesn't grow with iterations (iterative DataFrame algorithms
  otherwise recompute the whole history every round);
- convergence is detected with a count of changed labels (a cheap
  aggregate on |V| rows); for high-diameter graphs,
  `connected_components_star` implements large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond"),
  which converges in O(log²) rounds instead of O(diameter) — same
  join/groupBy primitives, so the same scale properties per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import lineage
from ..lineage import cut as _cut
from ..session import local_frame


def _copartition(df: DataFrame, key: str) -> DataFrame:
    """Pre-partition an iteration-INVARIANT table (adjacency, weighted
    edges) by its per-round join key BEFORE the lineage cut.

    Under the lineage-keeping cut modes (`persist` / reliable
    `checkpoint` — the cluster-deployment modes) the materialized table
    reports this hash partitioning, so every round's equi-join
    re-exchanges only the small per-round side (labels / ranks, |V|
    rows) and never the edge-scale table (2|E| rows) — the dominant
    per-round shuffle at 100 TB. Verified by plan assert in
    tests/test_graph_audio.py. Under `local` (localCheckpoint) Spark
    drops outputPartitioning across the RDD scan boundary (probed on
    4.1: Scan ExistingRDD reports unknown partitioning), so the
    per-round exchange happens regardless and the extra up-front
    shuffle would be pure cost — skip it."""
    if lineage.mode() == "local":
        return df
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, key
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
) -> DataFrame:
    """(id, component) for every node appearing in `edges`, where
    `component` is the smallest node id in the node's connected
    component. Deterministic — independent of partitioning and of the
    number of rounds run past convergence."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # Closed neighborhood: self-loops make each round's min cover the
    # node's OWN label, so the round is ONE join + ONE min aggregate —
    # the labels⋈nbr_min least/coalesce join is folded away.
    sym = (
        und.unionByName(und.select("a", F.col("a").alias("b")))
        .distinct()
        .transform(lambda d: _copartition(d, "b"))
        .transform(_cut)
    )
    labels = (
        sym.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id"))
    ).transform(_cut)
    # Labels are element-wise non-increasing, so Σlabel strictly
    # decreases until the fixpoint: one overflow-proof decimal sum per
    # round replaces the old changed-rows join+count convergence probe.
    prev_sum = None
    for _ in range(max_iters):
        labels = (
            sym.join(
                labels.select(F.col("id").alias("b"), F.col("label").alias("nl")), "b"
            )
            .groupBy("a")
            .agg(F.min("nl").alias("label"))
            .select(F.col("a").alias("id"), "label")
            .transform(_cut)
        )
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("id", F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
) -> DataFrame:
    """(id, component) via alternating large-star / small-star rounds
    (Kiveris et al. 2014) — the high-diameter scale path: O(log²)
    rounds regardless of component diameter, vs the propagation
    version's O(diameter). Same output contract as
    `connected_components` (component = min reachable id).

    Each round is one groupBy-min plus one join per star operation,
    both shuffled on the center node; localCheckpoint cuts lineage per
    round exactly as in the propagation version.

    - large-star: every node connects its strictly-larger neighbors to
      the minimum of its closed neighborhood — splits tall chains in
      half without growing the edge count;
    - small-star: every node re-points its smaller-or-equal neighbors
      (and itself) at that minimum — flattens local stars.

    Convergence: the canonical (min, max) edge set is unchanged by a
    full round; the check is one exceptAll count, bounded by |E|."""
    nodes = (
        edges.select(F.col(src).alias("id"))
        .unionByName(edges.select(F.col(dst).alias("id")))
        .distinct()
        .transform(_cut)
    )
    # canonical undirected edges, self-loops dropped
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(_cut)
    )

    def _canon(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.least(F.col("a"), F.col("b")).alias("a"),
                F.greatest(F.col("a"), F.col("b")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    for _ in range(max_iters):
        # --- large-star: center u over symmetric adjacency ---
        sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m = sym.groupBy("a").agg(F.min("b").alias("_nb")).select(
            "a", F.least(F.col("_nb"), F.col("a")).alias("m")
        )
        ls = _canon(
            sym.filter(F.col("b") > F.col("a"))
            .join(m, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        # --- small-star: center u = larger endpoint ---
        d = ls.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        mv = d.groupBy("u").agg(F.min("v").alias("m"))
        ss = _canon(
            d.join(mv, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(mv.select(F.col("u").alias("a"), F.col("m").alias("b")))
        ).transform(_cut)
        changed = ss.exceptAll(e).limit(1).count() + e.exceptAll(ss).limit(1).count()
        e = ss
        if changed == 0:
            break
    # converged edge set is a star forest: every edge is (component, node);
    # the min-agg guards the not-fully-converged (max_iters hit) case
    comp = e.groupBy(F.col("b").alias("id")).agg(F.min("a").alias("component"))
    return (
        nodes.join(comp, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    *,
    iters: int = 3,
    scale: int = 1_000_000_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """Weighted PageRank in EXACT integer arithmetic — ranks are
    bigints scaled by `scale`, so the iteration trajectory is
    bit-for-bit reproducible across engines (an unrolled-CTE DuckDB
    twin matches exactly; float PageRank would diverge in summation
    order).

    Update rule (integers, truncating division):
        contrib(v) = Σ_{(u,v,w)} (w · r_u) div out_u
        r'(v)      = (100 - d)·(scale div N) div 100 + d·contrib(v) div 100

    Dangling-node mass is dropped (the simple "leaked mass" variant) —
    deterministic, and a fine ranking signal for dedup-cluster or
    citation-graph triage.

    Scale design: each iteration is ONE equi-join of edges against the
    rank table (shuffled on the src id) + ONE map-side-combinable sum
    on dst; ranks are one bigint per node. `localCheckpoint` cuts
    lineage per round. Overflow headroom: w · r < w_max · scale must
    stay under 2^63 — with scale=1e12 that allows per-edge weights to
    ~9e6; normalize weights first beyond that.
    """
    w_col = F.col(weight).cast("bigint") if weight else F.lit(1).cast("bigint")
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), w_col.alias("w")
    )
    nodes = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .distinct()
        .transform(_cut)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_scaled", F.lit(0).cast("bigint"))
    outd = e.groupBy("u").agg(F.sum("w").alias("out_w"))
    # (u, v, w, out_w); statically co-partitioned on the per-round
    # join key under cluster cut modes
    ew = e.join(outd, "u").transform(lambda d: _copartition(d, "u")).transform(_cut)
    base = ((100 - damping_pct) * (scale // n)) // 100
    ranks = nodes.withColumn("rank_scaled", F.lit(scale // n).cast("bigint"))
    for _ in range(iters):
        contrib = (
            ew.join(
                ranks.select(F.col("id").alias("u"), F.col("rank_scaled").alias("r")),
                "u",
            )
            .select("v", F.expr("(w * r) div out_w").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, nodes.id == contrib.v, "left")
            .select(
                "id",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(contrib, 0)) div 100"
                    )
                ).cast("bigint").alias("rank_scaled"),
            )
            .transform(_cut)
        )
    return ranks


def pagerank_oracle_sql(
    edges_cte: str,
    *,
    iters: int = 3,
    scale: int = 1_000_000_000_000,
    damping_pct: int = 85,
) -> str:
    """DuckDB twin of `pagerank`: unrolled iterations, same integer
    truncating division (`//`), every sum() cast back to BIGINT
    (DuckDB widens to HUGEINT). `edges_cte` must produce (u, v, w)."""
    d = damping_pct
    parts = [
        f"WITH edges AS ({edges_cte}),",
        "nodes AS (SELECT DISTINCT u AS id FROM edges"
        " UNION SELECT DISTINCT v FROM edges),",
        "outd AS (SELECT u, CAST(sum(w) AS BIGINT) AS out_w FROM edges GROUP BY u),",
        "ew AS (SELECT e.u, e.v, e.w, o.out_w FROM edges e JOIN outd o ON e.u = o.u),",
        "n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nodes),",
        f"r0 AS (SELECT id, {scale} // c AS r FROM nodes, n),",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"c{i} AS (SELECT ew.v, CAST(sum((ew.w * r{i-1}.r) // ew.out_w) AS BIGINT)"
            f" AS contrib FROM ew JOIN r{i-1} ON ew.u = r{i-1}.id GROUP BY ew.v),"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.id,"
            f" (100 - {d}) * ({scale} // n.c) // 100"
            f" + {d} * COALESCE(c{i}.contrib, 0) // 100 AS r"
            f" FROM nodes CROSS JOIN n LEFT JOIN c{i} ON nodes.id = c{i}.v),"
        )
    last = parts.pop()
    parts.append(last.rstrip(","))
    return "\n".join(parts)


def khop_min_hops(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    *,
    source_id: int,
    k: int,
) -> DataFrame:
    """Bounded-depth BFS: minimum hop count (1..k) from ``source_id`` to
    every node reachable within k hops (the source itself is excluded).

    Each hop is one equi-join frontier→edges + one distinct — the
    standard distributed BFS step (hash join on the src key, no
    cross products). Depth is a Python loop of k plan stages, so the
    oracle unrolls to k CTEs and the trajectory is exactly
    reproducible. For unbounded reachability use
    `connected_components`; this operator is the "within N hops"
    neighborhood query (fraud rings, citation radius, social distance).
    """
    if not 1 <= k <= 8:
        raise ValueError("k must be in [1, 8]")
    frontier = (
        local_frame(edges.sparkSession, [(source_id,)], f"{dst} bigint")
        .select(F.col(dst).cast("long").alias("id"))
    )
    hops: DataFrame | None = None
    for hop in range(1, k + 1):
        frontier = (
            frontier.join(edges, frontier.id == F.col(src))
            .select(F.col(dst).cast("long").alias("id"))
            .distinct()
        )
        tagged = frontier.select("id", F.lit(hop).alias("hop"))
        hops = tagged if hops is None else hops.unionByName(tagged)
    assert hops is not None
    return (
        hops.where(F.col("id") != source_id)
        .groupBy("id")
        .agg(F.min("hop").cast("int").alias("min_hops"))
    )


def bounded_cheapest_paths(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    weight: str = "w",
    *,
    source_id: int,
    k: int,
) -> DataFrame:
    """Bounded Bellman-Ford — the MIN-PLUS twin of `khop_min_hops`:
    cheapest total integer cost from ``source_id`` to every node
    reachable within k edges, ties broken by fewest hops (then the
    values coincide, so the result is fully deterministic).

    Each relaxation round is ONE equi-join of the current distance
    table (|V| rows) against the weighted edge list + ONE
    lexicographic min(struct(cost, hops)) groupBy — both shuffle on
    the node key and are map-side combinable, the same per-round shape
    as `pagerank`/`connected_components`. Edges are iteration-
    invariant, so they are co-partitioned on the per-round join key
    under the cluster cut modes (`_copartition`) and materialized
    once; the distance state is lineage-cut per round. Integer costs
    keep the trajectory bit-for-bit reproducible — the DuckDB twin
    (`cheapest_paths_oracle_sql`) unrolls the same k rounds.

    Why not hop-bounded BFS: BFS finds the FEWEST-hop route; with
    heterogeneous edge costs (cost ∝ 1/volume in the trade entry) the
    cheapest route is often longer — exactly the min-plus semiring
    that needs relaxation, not reachability.
    """
    if not 1 <= k <= 8:
        raise ValueError("k must be in [1, 8]")
    e = (
        edges.select(
            F.col(src).cast("long").alias("eu"),
            F.col(dst).cast("long").alias("ev"),
            F.col(weight).cast("bigint").alias("ew"),
        )
        .transform(lambda d: _copartition(d, "eu"))
        .transform(_cut)
    )
    dist = local_frame(
        edges.sparkSession, [(int(source_id), 0, 0)], "id long, cost long, hops int"
    )
    for _ in range(k):
        relaxed = dist.join(e, dist.id == F.col("eu")).select(
            F.col("ev").alias("id"),
            (F.col("cost") + F.col("ew")).cast("long").alias("cost"),
            (F.col("hops") + 1).cast("int").alias("hops"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min(F.struct("cost", "hops")).alias("m"))
            .select(
                "id",
                F.col("m.cost").alias("cost"),
                F.col("m.hops").cast("int").alias("hops"),
            )
            .transform(_cut)
        )
    return dist.where(F.col("id") != source_id)


def cheapest_paths_oracle_sql(
    edges_cte: str, *, source_id: int, k: int
) -> str:
    """DuckDB twin of `bounded_cheapest_paths`: the k relaxation
    rounds unrolled as CTE pairs. `edges_cte` must produce
    (eu, ev, ew) with BIGINT-safe costs. Every round references the
    previous one TWICE (carry + relax), so the CTEs are MATERIALIZED
    — inlining would expand d0 2^k-fold (the kcore lesson). The
    lexicographic (cost, hops) min is a ranked window, not min_by
    (DuckDB has no tuple-ordered min_by)."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_cte}),",
        f"d0(id, cost, hops) AS (SELECT {source_id}, 0, 0),",
    ]
    for i in range(1, k + 1):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT id, cost, hops FROM ("
            f" SELECT id, cost, hops,"
            f" row_number() OVER (PARTITION BY id ORDER BY cost, hops) AS rn"
            f" FROM (SELECT id, cost, hops FROM d{i-1}"
            f"       UNION ALL"
            f"       SELECT e.ev, d.cost + e.ew, d.hops + 1"
            f"       FROM d{i-1} d JOIN e ON d.id = e.eu)"
            f") WHERE rn = 1),"
        )
    parts.append(
        f"bf(id, cost, hops) AS (SELECT id, CAST(cost AS BIGINT),"
        f" CAST(hops AS INTEGER) FROM d{k} WHERE id <> {source_id})"
    )
    return "\n".join(parts)


def triangle_count(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Exact triangle count of the undirected simple graph — the
    node-iterator++ / degree-orientation algorithm (Schank & Wagner;
    the MapReduce form is Suri & Vassilvitskii's).

    1. canonicalize to undirected distinct edges (a < b, self-loops
       dropped);
    2. orient every edge from its (degree, id)-smaller endpoint to the
       larger — per-node out-degree is then O(√m) on any graph, so the
       wedge join below is bounded by Σ outdeg² ≤ O(m^1.5) instead of
       Σ deg² (which a hub node makes quadratic);
    3. wedges = oriented ⋈ oriented on the shared source (one shuffle
       on node id); close each wedge against the oriented edge list
       (one shuffle on the (y, z) pair). Each triangle x≺y≺z is
       counted exactly once: only the (y, z) orientation exists.

    Returns a 1-row DataFrame (n_triangles bigint).
    """
    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e0.select(F.col("a").alias("id"))
        .unionByName(e0.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("c").alias("ca"))
    db = deg.select(F.col("id").alias("b"), F.col("c").alias("cb"))
    with_deg = e0.join(da, "a").join(db, "b")
    a_first = (F.col("ca") < F.col("cb")) | (
        (F.col("ca") == F.col("cb")) & (F.col("a") < F.col("b"))
    )
    o = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("x"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("y"),
    ).transform(_cut)
    e1 = o.select(F.col("x"), F.col("y").alias("w1"))
    e2 = o.select(F.col("x"), F.col("y").alias("w2"))
    wedges = e1.join(e2, "x").where(F.col("w1") != F.col("w2"))
    closed = wedges.join(
        o.select(F.col("x").alias("w1"), F.col("y").alias("w2")), ["w1", "w2"]
    )
    return closed.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


def kcore(
    edges: DataFrame,
    src: str,
    dst: str,
    k: int,
    max_rounds: int = 12,
    strict: bool = True,
):
    """Nodes of the k-core: the maximal subgraph where every node keeps
    degree ≥ k — iterative peeling (Matula & Beck). Each round is one
    degree aggregation + one semi-join filter of the edge list; rounds
    are O(peeling depth), each `localCheckpoint`ed to cut lineage.
    Converges when a round removes nothing; `max_rounds` bounds the
    oracle-unrollable trajectory (raise it for deep peelings — long
    chains hanging off the core need O(chain length) rounds).

    If the fixpoint is NOT reached within `max_rounds`, the surviving
    subgraph is a strict SUPERSET of the k-core (the final degree
    filter masks remaining under-degree structure), so by default the
    operator raises instead of silently returning it. Pass
    ``strict=False`` to accept the partially-peeled snapshot — e.g.
    when an unrolled oracle reproduces the identical truncated
    trajectory.

    Returns (node id, core_degree) rows — core_degree is the node's
    degree inside the surviving subgraph.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .transform(_cut)
    )
    converged = False
    # The surviving edge count from the previous round is already known
    # (e2.count() materialized it); re-counting the cut `e` table every
    # round was one redundant job per peel.
    prev_n = e.count()
    for _ in range(max_rounds):
        deg = (
            e.select(F.col("a").alias("id"))
            .unionByName(e.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        keep = deg.where(F.col("c") >= k).select("id").transform(_cut)
        e2 = (
            e.join(keep.select(F.col("id").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("id").alias("b")), "b", "left_semi")
            .transform(_cut)
        )
        n2 = e2.count()
        e = e2
        if n2 == prev_n:
            converged = True
            break
        prev_n = n2
    if not converged and strict:
        raise ValueError(
            f"kcore did not reach the peeling fixpoint in {max_rounds} "
            "rounds — the result would be a superset of the k-core. "
            "Raise max_rounds (deep chains peel one hop per round) or "
            "pass strict=False to accept the truncated trajectory"
        )
    deg = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .where(F.col("core_degree") >= k)
    )
    return deg


def label_propagation(
    edges: DataFrame, src: str, dst: str, rounds: int = 4
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al.),
    made deterministic: every node starts as its own label and each
    round adopts the mode of its neighbors' labels with a fixed
    (count DESC, label ASC) tie-break; isolated nodes keep their
    label. Synchronous LPA oscillates on bipartite structures instead
    of converging, so the round count is FIXED — the operator is a
    labeling snapshot after `rounds` sweeps, and the oracle unrolls
    exactly the same trajectory.

    Per round: ONE adjacency⋈labels equi-join (adjacency materialized
    once as the symmetric (id, nb) list), one (node, label) count
    aggregate, and an argmax via `max(struct(count, -label))` — a
    plain map-side-combinable aggregation, no rank window. Labels are
    one bigint per node; lineage cut per round.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = (
        e.select(F.col("a").alias("id"), F.col("b").alias("nb"))
        .unionByName(e.select(F.col("b").alias("id"), F.col("a").alias("nb")))
        .transform(lambda d: _copartition(d, "nb"))
        .transform(_cut)
    )
    # Every id in adj has >= 1 neighbor (adj comes from edges), so the
    # per-round mode aggregate emits exactly one row per node — the old
    # labels⋈mode left join + coalesce carried no extra rows and is
    # folded away (one join per round instead of two). Isolated nodes
    # never appear in edges, hence never in adj/labels — unchanged.
    labels = adj.select("id").distinct().withColumn("lab", F.col("id"))
    for _ in range(rounds):
        labels = (
            adj.join(labels.select(F.col("id").alias("nb"), "lab"), "nb")
            .groupBy("id", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("id")
            .agg(
                F.max(F.struct(F.col("c"), (-F.col("lab")).alias("nl"))).alias(
                    "m"
                )
            )
            .select("id", (-F.col("m.nl")).alias("lab"))
            .transform(_cut)
        )
    return labels
