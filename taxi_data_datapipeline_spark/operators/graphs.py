"""Connected components over a pair list — turning near-dup PAIRS into
dedup GROUPS (every doc in a component keeps one representative).

Algorithm: iterative min-label propagation. Each node starts labeled with
itself; every round, each node takes the min label among itself and its
neighbors; stop when a round changes nothing. Rounds = graph diameter,
which for dedup graphs (tight cliques + chains of a few hops) is small.

Scale shape: each round is one join edges-to-labels + one min-aggregate —
both shuffles on the node id. Every iterative operator here runs its
rounds through ``operators/iterate.py:iterate``, whose docstring states
how rounds are chained, materialized and stopped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.operators.iterate import iterate


def _sym_with_self_loops(
    edges: DataFrame, src: str, dst: str
) -> DataFrame:
    """Symmetric closure of an undirected edge list PLUS a self-loop per
    node. With self-loops in place, one propagation round is a single
    join + min-aggregate — ``min over N(v) ∪ {v}`` — so the label table
    appears ONCE in each round's plan. That single-reference shape is
    what lets rounds chain without materialization (a label table
    referenced twice per round doubles its subtree every chained round).

    The raw pair list is materialized FIRST: the closure references it
    four times (two directions + two self-loop sources), and each union
    branch would otherwise re-execute the upstream pair-generation plan
    — for dedup graphs that upstream is the full MinHash banding pass,
    so un-checkpointed it ran 4x inside one job (measured 4x wall on
    dedup_groups_cc)."""
    base = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=True
    )
    return (
        base.unionByName(base.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .unionByName(base.select("u", F.col("u").alias("v")))
        .unionByName(base.select(F.col("v").alias("u"), F.col("v").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _propagate_min(symx: DataFrame, labels: DataFrame, col: str) -> DataFrame:
    """One min-label propagation round over a self-looped symmetric edge
    list: label'(v) = min over u in N(v) ∪ {v} of label(u)."""
    return (
        symx.join(labels.withColumnRenamed("node", "u"), "u")
        .groupBy("v")
        .agg(F.min(col).alias(col))
        .withColumnRenamed("v", "node")
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node in the edge list; component =
    min node id reachable. Undirected. At most ``max_iter`` jobs of two
    rounds each; a diameter-d graph costs ~d/2 jobs. Labels only ever
    decrease, so an unchanged label sum is the fixpoint."""
    symx = _sym_with_self_loops(edges, src, dst)
    labels = symx.select(F.col("u").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    return iterate(
        labels,
        lambda s: _propagate_min(symx, s, "comp"),
        2 * max_iter,
        per_job=2,
        fixpoint=[F.sum("comp")],
    )[-1]


def triangle_stats(edges: DataFrame, src: str = "a", dst: str = "b") -> DataFrame:
    """Global triangle census over an undirected edge list (canonical
    ``src < dst`` rows): one row with node/edge/triangle counts and the
    global clustering coefficient.

    Algorithm: degree orientation (Chiba-Nishizeki / the MapReduce
    triangle-counting standard) — orient every edge from its lower-degree
    endpoint to its higher-degree one (ties by id), then count, for each
    oriented edge (u, v), the common OUT-neighbors |N+(u) & N+(v)| via
    per-node sorted adjacency arrays and `array_intersect`. Out-degrees
    are bounded by O(sqrt(m)) regardless of skew, so no adjacency array
    explodes on a celebrity node, and the per-edge intersection costs
    O(|N+(u)| + |N+(v)|) — total work O(m^1.5), the optimal combinatorial
    bound. Compared to wedge ENUMERATION (self-join on the apex, then a
    closing join), this moves edge-count rows instead of wedge-count rows
    through the shuffle — on a dense co-occurrence graph wedges outnumber
    edges ~30x, and that factor is exactly what the exchange saves. The
    adjacency table is node-sized (one array row per node) and typically
    broadcasts; at 100 TB it degrades to an ordinary hash join, still
    edge-count-sized.
    """
    # The edge list is consumed four times (degrees, both orientation
    # joins via deg, the wedge-closing join, the edge count); materialize
    # it once so the upstream pair-generation plan doesn't re-execute per
    # consumer — the same multi-pass materialization every graph engine
    # performs before triangle enumeration.
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=True
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da")
    db = deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = (
        e.join(da.hint("shuffle_hash"), "a")
        .join(db.hint("shuffle_hash"), "b")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    # adj is node-sized; not force-broadcast — AQE picks broadcast when it
    # fits and a hash join when a 100 TB graph's adjacency doesn't.
    adj = o.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
    tri = (
        o.join(adj.hint("shuffle_hash"), "u")
        .join(
            adj.select(F.col("u").alias("v"), F.col("nbrs").alias("vnbrs")).hint("shuffle_hash"),
            "v",
        )
        .select(
            F.size(F.array_intersect(F.col("nbrs"), F.col("vnbrs"))).alias("nc")
        )
        .agg(F.sum("nc").alias("n_triangles"))
    )
    counts = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        counts.join(F.broadcast(n_edges))
        .join(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering"),
        )
    )


def pagerank_units(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    iters: int = 5,
    units: int = 10**12,
    weight: str | None = None,
) -> DataFrame:
    """PageRank over an undirected edge list, computed entirely in
    fixed-point integer arithmetic: ranks are BIGINT micro-units
    (1.0 == ``units``), damping 0.85 applied as *17 DIV 20, per-neighbor
    shares as integer floor division. Every operation is exact and
    deterministic, so ANY engine reproduces the result bit-for-bit — no
    float fold-order or ulp concerns, which is what makes an iterative
    numeric algorithm fully oracle-checkable (the same trick as the
    fixed-point embedding quantization).

    Shape per iteration: one join of the symmetric edge list against the
    rank table (shuffle on node id) + one sum aggregate; two iterations
    per job. The edge list is checkpoint-materialized once. On an
    undirected graph every node has out-degree >= 1, so there is no
    dangling-mass term.

    ``weight`` names an integer edge-weight column: each neighbor then
    receives rank share w/sum(w) instead of 1/deg — still exact
    (runits * 17 * w DIV (20 * wdeg)), so the weighted variant keeps the
    full unrolled-CTE oracle. Unweighted is w = 1.
    """
    # One pass builds everything iteration-invariant: symmetrize (the
    # input is canonical unique pairs, so the two directions cannot
    # collide — no dedup shuffle needed), compute out-degrees and a
    # first-row marker with two windows sharing ONE exchange on u, and
    # materialize. The node count rides the same job as an Observation —
    # zero extra actions before the iterations start.
    w_expr = F.col(weight) if weight is not None else F.lit(1).cast("long")
    sym0 = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), w_expr.alias("w")
    ).unionByName(
        edges.select(
            F.col(dst).alias("u"), F.col(src).alias("v"), w_expr.alias("w")
        )
    )
    wu = Window.partitionBy("u")
    wuo = Window.partitionBy("u").orderBy("v")
    obs = Observation()
    sym = (
        sym0.withColumn("outdeg", F.sum("w").over(wu))
        .withColumn("_first", (F.row_number().over(wuo) == 1).cast("long"))
        .observe(obs, F.sum("_first").alias("n"))
        .localCheckpoint(eager=True)
    )
    n = int(obs.get["n"])  # scalar: rank seed + teleport term need it
    r = (
        sym.filter(F.col("_first") == 1)
        .select(F.col("u").alias("node"), F.lit(units // n).cast("long").alias("runits"))
    )
    base = (3 * units) // (20 * n)  # 0.15/N in units, floored
    # The rank table is node-sized and the checkpointed edge list has no
    # partitioning metadata (localCheckpoint erases outputPartitioning),
    # so a shuffle join would re-exchange ALL edges every round. N is
    # already on the driver: broadcast the ranks while they plausibly fit
    # an executor (~64 MB at the threshold), else fall back to the
    # per-round hash join every billion-node distributed PageRank pays.
    bcast_ranks = n <= 4_000_000

    def one_iter(rdf: DataFrame) -> DataFrame:
        r_build = rdf.withColumnRenamed("node", "u")
        if bcast_ranks:
            r_build = F.broadcast(r_build)
        contrib = sym.join(r_build, "u").select(
            F.col("v").alias("node"),
            F.expr("runits * 17 * w DIV (20 * outdeg)").alias("c"),
        )
        return contrib.groupBy("node").agg(
            (F.lit(base) + F.sum("c")).cast("long").alias("runits")
        )

    return iterate(r, one_iter, iters, per_job=2)[-1]


def min_label_rounds(
    edges: DataFrame, src: str = "a", dst: str = "b", iters: int = 5
) -> DataFrame:
    """Fixed-round min-label propagation: after round k each node is
    labeled with the minimum node id within k hops. Unlike
    ``connected_components`` (which iterates to convergence, a
    data-dependent stopping rule), the round count here is FIXED — which
    makes the result a pure deterministic function of the edge list, so
    a SQL oracle can reproduce it by unrolling the rounds as chained
    CTEs (same oracle pattern as the fixed-point PageRank). On graphs
    whose diameter <= iters the result IS the connected components.

    Shape per round: one join of the self-looped symmetric edge list
    against the node-sized label table + one min-aggregate, both
    shuffling node-id keyed rows; two rounds per job.
    """
    symx = _sym_with_self_loops(edges, src, dst)
    labels = symx.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    return iterate(
        labels, lambda s: _propagate_min(symx, s, "label"), iters, per_job=2
    )[-1]


def bfs_depths(
    edges: DataFrame,
    source: int,
    src: str = "a",
    dst: str = "b",
    iters: int = 4,
) -> DataFrame:
    """Breadth-first shortest-hop depths from ``source``, bounded at
    ``iters`` hops: (node, depth) for every node reachable within the
    bound. Distance relaxation over the self-looped symmetric closure —
    d'(v) = min over u in N(v) ∪ {v} of d(u) + [u != v] — is one join +
    one min-aggregate per round (the self-loop carries the node's own
    depth at weight 0); two rounds per job. The fixed hop bound keeps
    the result a pure function of the edge list, so a SQL oracle
    unrolls the rounds as chained CTEs.
    """
    symx = _sym_with_self_loops(edges, src, dst)
    dist = (
        symx.filter(F.col("u") == source)
        .select(F.col("u").alias("node"))
        .distinct()
        .withColumn("depth", F.lit(0).cast("long"))
    )

    def relax(d: DataFrame) -> DataFrame:
        return (
            symx.join(d.withColumnRenamed("node", "u"), "u")
            .groupBy("v")
            .agg(
                F.min(
                    F.col("depth")
                    + F.when(F.col("u") == F.col("v"), 0).otherwise(1)
                ).alias("depth")
            )
            .withColumnRenamed("v", "node")
        )

    return iterate(dist, relax, iters, per_job=2)[-1]


def kcore_nodes(
    edges: DataFrame, k: int, src: str = "a", dst: str = "b", rounds: int = 3
) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` iterations of "drop nodes whose
    degree within the surviving subgraph is < k", returning the surviving
    (node, degree) set. A FIXED round count keeps the result a pure
    function of the edge list (full unrolled-CTE oracle, like the other
    fixed-round graph ops); graphs whose peeling converges within the
    bound yield the true k-core.

    Shape per round: degrees of the induced subgraph = one aggregate
    over edges semi-joined against the surviving node set (two
    node-sized semi-joins; the node set broadcasts while it fits). The
    edge list is checkpointed once; the node set is the round state.
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .localCheckpoint(eager=True)
    )

    def degrees(edges_in: DataFrame) -> DataFrame:
        return edges_in.groupBy("u").agg(F.count(F.lit(1)).alias("d"))

    def induced(nodes: DataFrame) -> DataFrame:
        return sym.join(nodes, "u", "left_semi").join(
            nodes.withColumnRenamed("u", "v"), "v", "left_semi"
        )

    def peel(nodes: DataFrame) -> DataFrame:
        return degrees(induced(nodes)).filter(F.col("d") >= k).select("u")

    nodes = degrees(sym).filter(F.col("d") >= k).select("u").localCheckpoint(eager=True)
    nodes = iterate(nodes, peel, rounds)[-1]
    return degrees(induced(nodes)).select(
        F.col("u").alias("node"), F.col("d").alias("degree")
    )


# --- O(log n) connected components: alternating star contraction --------------


def _neighborhood_mins(sym: DataFrame) -> DataFrame:
    """(u, m) where m = min(Γ(u) ∪ {u}) over a symmetric edge list."""
    return sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """(node, component) via ALTERNATING STAR CONTRACTION (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014):

    * large-star(u): connect every STRICTLY GREATER neighbor of u to
      m = min(Γ(u) ∪ {u});
    * small-star(u): connect every not-greater neighbor (and u itself)
      to m.

    Each phase is one groupBy (per-node min) + one join (remap) over the
    edge list; alternating them contracts every component toward its
    minimum in O(log n) rounds REGARDLESS OF DIAMETER — the general-graph
    complement to `connected_components` (min-label propagation), whose
    round count is the diameter: right for dedup graphs (cliques + short
    chains), hopeless for long paths. A 512-node chain converges here in
    ~6 alternations vs 256 propagation rounds.

    The star set is stable once its (edge count, order-free bit_xor
    fingerprint) repeats. Returns every node of the input edge list
    labeled with its component minimum.
    """
    base = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=True
    )
    nodes = (
        base.select("u")
        .unionByName(base.select(F.col("v").alias("u")))
        .distinct()
        .select(F.col("u").alias("node"))
        .localCheckpoint(eager=True)
    )

    def contract(cur: DataFrame) -> DataFrame:
        sym = (
            cur.unionByName(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
        )
        mins = _neighborhood_mins(sym)
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        lsym = (
            large.filter(F.col("u") != F.col("v"))
            .unionByName(
                large.select(F.col("v").alias("u"), F.col("u").alias("v")).filter(
                    F.col("u") != F.col("v")
                )
            )
            .distinct()
        )
        lmins = _neighborhood_mins(lsym)
        return (
            lsym.join(lmins, "u")
            .filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(lmins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    cur = iterate(
        base.filter(F.col("u") != F.col("v")),
        contract,
        max_iter,
        fixpoint=[F.count(F.lit(1)), F.bit_xor(F.xxhash64("u", "v"))],
    )[-1]
    # stars: (child, root); roots/isolated nodes label themselves
    stars = cur.select(
        F.greatest("u", "v").alias("node"), F.least("u", "v").alias("comp")
    ).distinct()
    return nodes.join(stars, "node", "left").select(
        "node", F.coalesce("comp", F.col("node")).alias("comp")
    )
