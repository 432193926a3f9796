"""Graph analytics over the co-purchase graph (north-star item; the
reference notebooks have no graph surface — REFERENCE_MAP.md). Connected
components and a PageRank step already live in ``dedup.py``; this module
adds triangle counting — the canonical "needs a real distributed
algorithm" graph kernel.

Graph: vertices = parts, edges = two parts co-ordered in the same order
(a < b, distinct). Triangle counting uses the degree-oriented
node-iterator form (Schank–Wagner / "compact-forward"): orient every edge
from its lower-(degree, id) endpoint to the higher one, enumerate wedges
only among ORIENTED out-neighbors, and probe the oriented edge set. Total
wedge work is O(m^{3/2}) instead of Σ deg² — the difference between a
bounded shuffle and a skew blow-up on power-law degree graphs at 100 TB
(a celebrity vertex with degree 10⁶ contributes 10¹² naive wedges but
only ~m^{1/2}·10⁶ oriented ones).

The triangle COUNT is orientation-independent, so the DuckDB oracle uses
the naive a<b<c three-way self-join — different plan, provably identical
integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.localrel import local_df
from ..registry import query


def copurchase_edges(li: DataFrame) -> DataFrame:
    """The co-purchase graph's edges: distinct part pairs ``(a, b)`` with
    a < b ordered on the same order. ``li`` carries ``l_orderkey`` and
    ``l_partkey``; callers choose their own checkpoint."""
    x, y = li.alias("x"), li.alias("y")
    return (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .distinct()
    )


def copurchase_edges_sql(src: str = "lineitem") -> str:
    """SQL twin of :func:`copurchase_edges` over the relation ``src``."""
    return f"""
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM {src} l1
        JOIN {src} l2 ON l2.l_orderkey = l1.l_orderkey
                      AND l1.l_partkey < l2.l_partkey
    """


@query(
    "ext_graph_triangles",
    oracle=f"""
    WITH e AS ({copurchase_edges_sql()}),
    deg AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY v
    )
    SELECT
        CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_vertices,
        CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
        CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT) AS n_wedges,
        CAST((SELECT COUNT(*)
              FROM e e1
              JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS BIGINT)
            AS n_triangles
    """,
)
def ext_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 — triangle census of the co-purchase graph: vertex/edge/wedge
    counts plus the exact triangle count via degree-oriented wedge
    enumeration (each triangle generated exactly once from its
    lowest-(degree, id) corner)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Materialize the working set (edge list, degrees, oriented edges) with
    # localCheckpoint: the census reads each one from several consumers, and
    # without truncation every aggregate replays the whole upstream lineage
    # (first draft: 29 shuffles in one plan; this shape: 4).
    edges = copurchase_edges(li).localCheckpoint()
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint()
    )
    # orient each edge low-(degree, id) → high-(degree, id)
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    oriented = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("s"), F.col("b").alias("t")),
            )
            .otherwise(F.struct(F.col("b").alias("s"), F.col("a").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
        .localCheckpoint()
    )
    # wedges among out-neighbors of the same source, ordered so each
    # triangle's apex generates exactly one (v, w) probe pair
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.s") == F.col("o2.s")) & (F.col("o1.t") < F.col("o2.t")),
    ).select(F.col("o1.t").alias("v"), F.col("o2.t").alias("w"))
    # a wedge (v, w) closes iff v—w is an edge; orientation of the closing
    # edge is unknown, so probe the UNDIRECTED edge set (a < b form). The
    # wedge pair is already emitted with v < w (raw-id order), matching it.
    probe = edges.select(F.col("a").alias("pv"), F.col("b").alias("pw"))
    tri = wedges.join(
        probe, (F.col("v") == F.col("pv")) & (F.col("w") == F.col("pw"))
    )

    n_wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("n_wedges")
    )
    return (
        deg.agg(F.count(F.lit(1)).alias("n_vertices"))
        .crossJoin(F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(n_wedges))
        .crossJoin(
            F.broadcast(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
        )
        .select("n_vertices", "n_edges", "n_wedges", "n_triangles")
    )


# --- bounded BFS ------------------------------------------------------------

BFS_DEPTH = 3
#: sparsify: only co-purchases from every 11th order, so distances > 1 exist
_BFS_ORDER_MOD = 11
_BFS_SLICE = f"(SELECT * FROM lineitem WHERE l_orderkey % {_BFS_ORDER_MOD} = 0)"


@query(
    "ext_graph_bfs",
    oracle=f"""
    WITH RECURSIVE eu AS (
        SELECT a, b FROM ({copurchase_edges_sql(_BFS_SLICE)})
        UNION ALL
        SELECT b, a FROM ({copurchase_edges_sql(_BFS_SLICE)})
    ), bfs(v, d) AS (
        SELECT MIN(a), 0 FROM eu
        UNION ALL
        SELECT eu.b, bfs.d + 1
        FROM bfs JOIN eu ON eu.a = bfs.v
        WHERE bfs.d < {BFS_DEPTH}
    )
    SELECT v, CAST(MIN(d) AS BIGINT) AS dist
    FROM bfs GROUP BY v
    """,
)
def ext_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 — bounded breadth-first search from the smallest vertex of the
    (sparsified) co-purchase graph: the iterative frontier-join dataflow
    (the Pregel loop beside ext_pagerank_step and the dup-cluster
    min-label propagation) with per-round min-distance dedup and
    localCheckpoint lineage truncation — the scalable form. The oracle is
    an INDEPENDENT bounded WITH RECURSIVE path enumeration whose MIN(d)
    per vertex equals the BFS distance.

    Scale: per round, one frontier⋈edges shuffle + one min groupBy; the
    frontier-dedup is what keeps dense graphs from exploding the way the
    oracle's path enumeration would."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey") % _BFS_ORDER_MOD == 0)
    )
    half = copurchase_edges(li)
    eu = half.unionAll(
        half.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    src = eu.agg(F.min("a")).collect()[0][0]  # bounded 1-value artifact
    dist = local_df(spark, [(int(src), 0)], "v long, d long")
    for it in range(1, BFS_DEPTH + 1):
        frontier = dist.where(F.col("d") == it - 1)
        nxt = frontier.join(eu, frontier["v"] == eu["a"]).select(
            eu["b"].alias("v"), F.lit(it).cast("long").alias("d")
        )
        dist = (
            dist.unionByName(nxt)
            .groupBy("v")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
    return dist.select("v", F.col("d").alias("dist"))


JACCARD_TOP_K = 20


@query(
    "ext_graph_jaccard_neighbors",
    oracle=f"""
    WITH e AS ({copurchase_edges_sql()}),
    adj AS (
        SELECT a AS v, b AS n FROM e UNION ALL SELECT b AS v, a AS n FROM e
    ),
    deg AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY v
    ),
    common AS (
        SELECT x.v AS u, y.v AS w, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM adj x JOIN adj y ON y.n = x.n AND x.v < y.v
        GROUP BY x.v, y.v
    )
    SELECT c.u, c.w, c.n_common,
           du.d AS deg_u, dw.d AS deg_w,
           CAST((1000000 * c.n_common) // (du.d + dw.d - c.n_common)
                AS BIGINT) AS jaccard_ppm
    FROM common c
    JOIN deg du ON du.v = c.u
    JOIN deg dw ON dw.v = c.w
    ORDER BY jaccard_ppm DESC, c.u ASC, c.w ASC
    LIMIT {JACCARD_TOP_K}
    """,
)
def ext_graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 — neighborhood-Jaccard link prediction on the co-purchase graph:
    for every vertex pair sharing ≥1 neighbor, |N(u)∩N(v)| / |N(u)∪N(v)|
    in exact ppm (union via inclusion-exclusion — no set materialization),
    top-{JACCARD_TOP_K} with full tiebreaks. The classic
    "customers who bought X also bought Y" similarity, computed from graph
    structure alone.

    Scale: wedge enumeration through the shared neighbor is Σ_n deg(n)²
    — on power-law graphs the hub mitigation is the same degree-orientation
    used by ext_graph_triangles, or MinHash of neighborhoods (the
    ext_dedup_minhash machinery applied to adjacency lists) for an
    approximate-but-linear pass; at this contract's co-purchase density
    the exact form is the right default. Three shuffles: adjacency
    groupBy, wedge groupBy, and the broadcast degree joins."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = copurchase_edges(li).localCheckpoint()
    adj = edges.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        edges.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    ax, ay = adj.alias("ax"), adj.alias("ay")
    common = (
        ax.join(
            ay,
            (F.col("ay.n") == F.col("ax.n"))
            & (F.col("ax.v") < F.col("ay.v")),
        )
        .groupBy(F.col("ax.v").alias("u"), F.col("ay.v").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    du = deg.select(F.col("v").alias("u"), F.col("d").alias("deg_u"))
    dw = deg.select(F.col("v").alias("w"), F.col("d").alias("deg_w"))
    return (
        common.join(F.broadcast(du), "u")
        .join(F.broadcast(dw), "w")
        .select(
            "u",
            "w",
            "n_common",
            "deg_u",
            "deg_w",
            F.expr(
                "CAST((1000000 * n_common) DIV (deg_u + deg_w - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), F.asc("u"), F.asc("w"))
        .limit(JACCARD_TOP_K)
    )


LPA_ITERS = 3


@query(
    "ext_graph_label_prop",
    oracle=f"""
    WITH e AS ({copurchase_edges_sql()}),
    adj AS (
        SELECT a AS v, b AS n FROM e UNION ALL SELECT b AS v, a AS n FROM e
    ),
    l0 AS (SELECT DISTINCT v, v AS label FROM adj),
    it1 AS (
        SELECT v, label FROM (
            SELECT a.v, l.label,
                   ROW_NUMBER() OVER (PARTITION BY a.v
                                      ORDER BY COUNT(*) DESC, l.label ASC) AS rn
            FROM adj a JOIN l0 l ON l.v = a.n
            GROUP BY a.v, l.label
        ) WHERE rn = 1
    ),
    it2 AS (
        SELECT v, label FROM (
            SELECT a.v, l.label,
                   ROW_NUMBER() OVER (PARTITION BY a.v
                                      ORDER BY COUNT(*) DESC, l.label ASC) AS rn
            FROM adj a JOIN it1 l ON l.v = a.n
            GROUP BY a.v, l.label
        ) WHERE rn = 1
    ),
    it3 AS (
        SELECT v, label FROM (
            SELECT a.v, l.label,
                   ROW_NUMBER() OVER (PARTITION BY a.v
                                      ORDER BY COUNT(*) DESC, l.label ASC) AS rn
            FROM adj a JOIN it2 l ON l.v = a.n
            GROUP BY a.v, l.label
        ) WHERE rn = 1
    )
    SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_vertices,
           CAST(SUM(v) AS BIGINT) AS vertex_checksum
    FROM it3 GROUP BY label
    """,
)
def ext_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 — synchronous label propagation (community detection), 3
    iterations: every vertex adopts the MAJORITY label among its
    neighbors, min-label tiebreak — fully deterministic, unlike classic
    async LPA. Communities are the topic-cluster primitive for curation
    (near-dup graphs, co-purchase segments); distinct from
    ext_dup_clusters' MIN-label connected components (majority vote finds
    dense subgroups inside one component).

    Shape: per iteration ONE adjacency join + one (v, label) count + one
    argmax window, all on the vertex-key shuffle; labels are
    localCheckpointed each round (MLlib iterative discipline — without it
    the final plan replays all K rounds). Oracle: the K=3 rounds unrolled
    as chained CTEs."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = copurchase_edges(li)
    adj = (
        edges.select(F.col("a").alias("v"), F.col("b").alias("n"))
        .unionAll(edges.select(F.col("b").alias("v"), F.col("a").alias("n")))
        .localCheckpoint()
    )
    from pyspark.sql import Window

    labels = adj.select("v").distinct().select(
        "v", F.col("v").alias("label")
    ).localCheckpoint()
    for _ in range(LPA_ITERS):
        nbr = adj.join(
            labels.select(F.col("v").alias("n"), "label"), "n"
        ).select("v", "label")
        counted = nbr.groupBy("v", "label").agg(F.count(F.lit(1)).alias("c"))
        rn = F.row_number().over(
            Window.partitionBy("v").orderBy(F.desc("c"), F.asc("label"))
        )
        labels = (
            counted.withColumn("rn", rn)
            .where(F.col("rn") == 1)
            .select("v", "label")
            .localCheckpoint()
        )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
        F.sum("v").cast("bigint").alias("vertex_checksum"),
    )


SSSP_HOPS = 3
SSSP_DEGREE = 3  # strongest out-edges kept per node


@query(
    "ext_graph_sssp",
    oracle=f"""
    WITH RECURSIVE b AS (
        SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), pr AS (
        SELECT a.brand AS x, c.brand AS y, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM b a JOIN b c ON a.ok = c.ok AND a.brand < c.brand
        GROUP BY 1, 2
    ), dir AS (
        SELECT x AS src, y AS dst, cnt FROM pr
        UNION ALL
        SELECT y, x, cnt FROM pr
    ), edges AS (
        SELECT src, dst, CAST(1000000 // cnt AS BIGINT) AS w
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                           ORDER BY cnt DESC, dst) AS rk
              FROM dir)
        WHERE rk <= {SSSP_DEGREE}
    ), walk(v, dist, depth) AS (
        SELECT MIN(src), CAST(0 AS BIGINT), 0 FROM edges
        UNION ALL
        SELECT e.dst, walk.dist + e.w, walk.depth + 1
        FROM walk JOIN edges e ON e.src = walk.v
        WHERE walk.depth < {SSSP_HOPS}
    )
    SELECT v AS brand, CAST(MIN(dist) AS BIGINT) AS dist
    FROM walk GROUP BY v
    """,
)
def ext_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 — WEIGHTED single-source shortest paths (bounded Bellman–Ford)
    on the brand co-purchase graph: edge weight = 1e6 // co-purchase
    count (strong affinity = short distance), each node keeping its
    {SSSP_DEGREE} strongest out-edges (the k-NN sparsification that
    bounds frontier growth), source = smallest brand, {SSSP_HOPS}
    relaxation rounds. Each round is relax-then-min: frontier ⋈ edges
    (the 25-row distance table BROADCASTS — zero shuffle) then one
    min-groupBy — the Pregel loop with integer distances. The oracle is
    an independent bounded WITH RECURSIVE path walk whose MIN(dist)
    equals Bellman–Ford's.

    Scale: per round one bounded-artifact broadcast + one groupBy; the
    out-degree cap is what makes the same loop hold on a billion-node
    graph (frontier size ∝ degree bound, not n²)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.array_sort(F.collect_set("p_brand")).alias("basket"))
    )
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "basket",
                lambda x: F.transform(
                    "basket", lambda y: F.struct(x.alias("x"), y.alias("y"))
                ),
            )
        ),
        lambda s: s["x"] < s["y"],
    )
    pr = (
        baskets.select(F.explode(pair_structs).alias("pr"))
        .groupBy(F.col("pr.x").alias("x"), F.col("pr.y").alias("y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    dirn = pr.select(
        F.col("x").alias("src"), F.col("y").alias("dst"), "cnt"
    ).unionAll(pr.select(F.col("y").alias("src"), F.col("x").alias("dst"), "cnt"))
    from pyspark.sql import Window

    wk = Window.partitionBy("src").orderBy(F.col("cnt").desc(), "dst")
    edges = (
        dirn.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= SSSP_DEGREE)
        .select("src", "dst", F.expr("1000000 DIV cnt").cast("bigint").alias("w"))
        .localCheckpoint(eager=False)
    )
    src = edges.agg(F.min("src")).collect()[0][0]  # bounded 1-value artifact
    dist = local_df(spark, [(src, 0)], "v string, dist long")
    for _ in range(SSSP_HOPS):
        relax = (
            F.broadcast(dist)
            .join(edges, dist["v"] == edges["src"])
            .select(F.col("dst").alias("v"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionAll(relax)
            .groupBy("v")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist.select(
        F.col("v").alias("brand"), F.col("dist").cast("bigint").alias("dist")
    )


HITS_TOP_K = 20


@query(
    "ext_hits_bipartite",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), auth AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS a1 FROM e GROUP BY p
    ), hub AS (
        SELECT e.s,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(a.a1) AS BIGINT) AS h1
        FROM e JOIN auth a ON a.p = e.p
        GROUP BY e.s
    ), mx AS (
        SELECT CAST(MAX(h1) AS BIGINT) AS hmax FROM hub
    )
    SELECT s AS suppkey, n_parts, h1,
           CAST(h1 * 1000000 // hmax AS BIGINT) AS hub_ppm
    FROM hub, mx
    ORDER BY h1 DESC, suppkey
    LIMIT {HITS_TOP_K}
    """,
)
def ext_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One HITS iteration over the supplier-part bipartite graph (the
    natural hub/authority split: suppliers are hubs, parts are
    authorities). From uniform hubs, authority a1(p) = #suppliers
    carrying p; the hub update h1(s) = sum of a1 over s's catalog then
    rewards suppliers whose PARTS are widely carried — a different
    ranking than raw catalog size (a supplier of obscure parts scores
    low however many it sells). Kleinberg's mutual reinforcement in
    exact int64; ppm normalization by the max hub replaces the usual
    L2 norm so no float enters the hashed output. Top-{HITS_TOP_K}
    with suppkey tiebreak.

    Shape: distinct-edge projection, one part groupBy, one edge-auth
    join (authority side is part-keyed — broadcastable at dim scale),
    one supplier groupBy + top-k. Further iterations repeat the same
    two joins — each is one shuffle of (key, int) pairs."""
    # distinct edge projection feeds BOTH the authority and the hub pass —
    # materialize once (the dedup-pipeline localCheckpoint discipline)
    e = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint()
    )
    auth = e.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("a1"))
    hub = (
        e.join(auth, "p")
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("a1").cast("bigint").alias("h1"),
        )
    )
    mx = hub.agg(F.max("h1").cast("bigint").alias("hmax"))
    out = (
        hub.crossJoin(F.broadcast(mx))
        .select(
            F.col("s").alias("suppkey"),
            "n_parts",
            "h1",
            F.expr("CAST(h1 * 1000000 DIV hmax AS BIGINT)").alias("hub_ppm"),
        )
        .orderBy(F.col("h1").desc(), "suppkey")
        .limit(HITS_TOP_K)
    )
    return out


@query(
    "ext_degree_distribution",
    oracle=f"""
    WITH e AS ({copurchase_edges_sql()}), adj AS (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
    ), deg AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY v
    ), buckets AS (
        SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS deg_log2,
               CAST(COUNT(*) AS BIGINT) AS n_vertices,
               CAST(MIN(d) AS BIGINT) AS min_deg,
               CAST(MAX(d) AS BIGINT) AS max_deg
        FROM deg GROUP BY 1
    )
    SELECT deg_log2, n_vertices, min_deg, max_deg,
           CAST(lag(n_vertices, 1, n_vertices)
                OVER (ORDER BY deg_log2) AS BIGINT) AS prev_n
    FROM buckets
    """,
)
def ext_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gr — degree distribution of the co-purchase graph in doubling
    buckets (floor-log2 via the bit-length identity, no libm): the
    scale-free check — a power-law graph shows roughly geometric decay
    across buckets, and the decay ratio (each bucket beside its
    predecessor) is what LSH/partitioning strategies need to know
    BEFORE assuming bounded degree (a heavy-tailed co-purchase graph
    breaks per-vertex-partition plans; the hot-vertex cap is the
    mitigation, ext_cap_per_group). All exact int64.

    Shape: one distinct-edge projection, one degree groupBy
    (vertex-sized), a ~log2(maxdeg)-row bucket aggregate + lag."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = copurchase_edges(li)
    adj = e.select(F.col("a").alias("v")).unionAll(
        e.select(F.col("b").alias("v"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    buckets = deg.groupBy(
        (F.length(F.bin("d")) - 1).cast("bigint").alias("deg_log2")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
        F.min("d").cast("bigint").alias("min_deg"),
        F.max("d").cast("bigint").alias("max_deg"),
    )
    from pyspark.sql import Window as _W

    wb = _W.orderBy("deg_log2")
    return buckets.select(
        "deg_log2",
        "n_vertices",
        "min_deg",
        "max_deg",
        F.coalesce(
            F.lag("n_vertices", 1).over(wb), F.col("n_vertices")
        )
        .cast("bigint")
        .alias("prev_n"),
    )


#: degree-assortativity Pearson over edge endpoint degrees — ONE shared
#: string from exact integer moments (each edge counted in both
#: orientations, the standard undirected convention).
_ASSORT_NUM = (
    "(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_ASSORT_DEN = (
    "SQRT((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)


@query(
    "ext_assortativity",
    oracle=f"""
    WITH e AS ({copurchase_edges_sql()}), both_ AS (
        SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
    ), deg AS (
        SELECT u AS vtx, CAST(COUNT(*) AS BIGINT) AS d
        FROM both_ GROUP BY u
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(du.d) AS BIGINT) AS sx,
               CAST(SUM(dv.d) AS BIGINT) AS sy,
               CAST(SUM(du.d * du.d) AS BIGINT) AS sxx,
               CAST(SUM(dv.d * dv.d) AS BIGINT) AS syy,
               CAST(SUM(du.d * dv.d) AS BIGINT) AS sxy
        FROM both_ b
        JOIN deg du ON du.vtx = b.u
        JOIN deg dv ON dv.vtx = b.v
    )
    SELECT m, sx, sy,
           {_ASSORT_NUM} / {_ASSORT_DEN} AS assortativity
    FROM m
    """,
)
def ext_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gr — degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over all edges (both orientations,
    the undirected convention) — positive means hubs attach to hubs
    (social-network style), negative means hubs attach to leaves
    (hub-and-spoke catalogs). This single number decides whether
    hot-vertex salting must also guard the hub NEIGHBORHOODS (in
    assortative graphs the heat is contiguous). Exact integer moments;
    r is ONE shared IEEE expression.

    Shape: distinct edges, one degree groupBy, two degree joins keyed
    on the vertex table, a 1-row moment aggregate."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = copurchase_edges(li).localCheckpoint()
    both = e.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionAll(e.select(F.col("b").alias("u"), F.col("a").alias("v")))
    deg = both.groupBy(F.col("u").alias("vtx")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    ).localCheckpoint()
    du = deg.select(F.col("vtx").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("vtx").alias("v"), F.col("d").alias("dy"))
    m = (
        both.join(du, "u")
        .join(dv, "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum("dx").cast("bigint").alias("sx"),
            F.sum("dy").cast("bigint").alias("sy"),
            F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
            F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
            F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
        )
    )
    return m.select(
        "m",
        "sx",
        "sy",
        F.expr(f"{_ASSORT_NUM} / {_ASSORT_DEN}").alias("assortativity"),
    )


@query(
    "ext_modularity",
    oracle=f"""
    WITH e AS ({copurchase_edges_sql()}), lab AS (
        SELECT p_partkey AS v, p_brand AS c FROM part
    ), edges AS (
        SELECT la.c AS ca, lb.c AS cb
        FROM e JOIN lab la ON la.v = e.a JOIN lab lb ON lb.v = e.b
    ), m_tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges
    ), intra AS (
        SELECT ca AS c, CAST(COUNT(*) AS BIGINT) AS e_c
        FROM edges WHERE ca = cb GROUP BY ca
    ), degs AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS d_c FROM (
            SELECT ca AS c FROM edges UNION ALL SELECT cb AS c FROM edges
        ) t GROUP BY c
    ), per_c AS (
        SELECT d.c,
               CAST(COALESCE(i.e_c, 0) AS BIGINT) AS intra_edges,
               d.d_c AS degree_sum
        FROM degs d LEFT JOIN intra i ON i.c = d.c
    ), tot AS (
        SELECT CAST(SUM(intra_edges) AS BIGINT) AS se,
               CAST(SUM(degree_sum * degree_sum) AS BIGINT) AS sd2
        FROM per_c
    )
    SELECT p.c AS community, p.intra_edges, p.degree_sum, m.m,
           CAST((CASE WHEN 4 * m.m * t.se - t.sd2 >= 0 THEN 1 ELSE -1 END)
                * (abs(4 * m.m * t.se - t.sd2) * 1000000
                   // (4 * m.m * m.m)) AS BIGINT) AS q_ppm
    FROM per_c p, m_tot m, tot t
    """,
)
def ext_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gr — modularity Q of the BRAND partition on the co-purchase
    graph: does the catalog taxonomy match the actual buying structure?
    Q = sum_c (e_c/m - (d_c/2m)^2) folds to the single exact-integer
    ratio (4m*sum(e_c) - sum(d_c^2)) / 4m^2 — no per-community float
    summation (order-dependent) anywhere; reported sign-composed in
    ppm beside each community's intra-edge and degree-sum raw
    ingredients (the per-community diagnosis: which brands actually
    cohere). Q near 0 means the taxonomy is orthogonal to behavior —
    the signal to learn communities instead (ext_graph_label_prop).
    int64-safe while 4m^2 < 9*10^18, i.e. m to ~1.5*10^9 edges.

    Shape: distinct edges, one broadcast label join, two tiny
    community aggregates."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    e = copurchase_edges(li)
    la = p.select(F.col("p_partkey").alias("a"), F.col("p_brand").alias("ca"))
    lb = p.select(F.col("p_partkey").alias("b"), F.col("p_brand").alias("cb"))
    edges = (
        e.join(F.broadcast(la), "a").join(F.broadcast(lb), "b")
        .select("ca", "cb")
        .localCheckpoint()
    )
    m_tot = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    intra = (
        edges.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_c"))
    )
    degs = (
        edges.select(F.col("ca").alias("c"))
        .unionAll(edges.select(F.col("cb").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_c"))
    )
    per_c = degs.join(intra, "c", "left").select(
        "c",
        F.coalesce(F.col("e_c"), F.lit(0)).cast("bigint").alias(
            "intra_edges"
        ),
        F.col("d_c").alias("degree_sum"),
    ).localCheckpoint()
    tot = per_c.agg(
        F.sum("intra_edges").cast("bigint").alias("se"),
        F.sum(F.col("degree_sum") * F.col("degree_sum"))
        .cast("bigint")
        .alias("sd2"),
    )
    return (
        per_c.crossJoin(F.broadcast(m_tot))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("c").alias("community"),
            "intra_edges",
            "degree_sum",
            "m",
            F.expr(
                "CAST((CASE WHEN 4 * m * se - sd2 >= 0 THEN 1 ELSE -1 END)"
                " * (abs(4 * m * se - sd2) * 1000000 DIV (4 * m * m))"
                " AS BIGINT)"
            ).alias("q_ppm"),
        )
    )


#: bounded-pass k-core peel: both engines run EXACTLY this many
#: simultaneous-removal rounds (the convergence-free contract that a
#: 1000-executor job would also ship — unbounded fixpoints have no SLA).
KCORE_K = 3
KCORE_ROUNDS = 5

def _kcore_oracle() -> str:
    """Unrolled peel: round i+1 keeps the edges whose BOTH endpoints have
    degree >= K in round i's surviving subgraph (simultaneous removal —
    identical to the Spark loop by construction)."""
    ctes = [f"e0 AS MATERIALIZED ({copurchase_edges_sql()})"]
    for i in range(KCORE_ROUNDS):
        ctes.append(
            f"""k{i} AS MATERIALIZED (
        SELECT v FROM (SELECT a AS v FROM e{i}
                       UNION ALL SELECT b AS v FROM e{i})
        GROUP BY v HAVING COUNT(*) >= {KCORE_K}
    )"""
        )
        ctes.append(
            f"""e{i + 1} AS MATERIALIZED (
        SELECT a, b FROM e{i}
        WHERE a IN (SELECT v FROM k{i}) AND b IN (SELECT v FROM k{i})
    )"""
        )
    stats = "\n    UNION ALL ".join(
        f"""SELECT CAST({i} AS BIGINT) AS round,
               CAST((SELECT COUNT(DISTINCT v)
                     FROM (SELECT a AS v FROM e{i}
                           UNION ALL SELECT b AS v FROM e{i})) AS BIGINT)
                   AS n_vertices,
               CAST((SELECT COUNT(*) FROM e{i}) AS BIGINT) AS n_edges"""
        for i in range(KCORE_ROUNDS + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + stats


@query("ext_graph_kcore", oracle=_kcore_oracle())
def ext_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gk — bounded-pass k-core peel of the co-purchase graph (k=3, 5
    simultaneous-removal rounds): each round drops every vertex whose
    degree in the SURVIVING subgraph is below k, reporting the
    (round, n_vertices, n_edges) shrink trajectory — the densest-region
    extractor behind community mining and graph-cleaning before
    embedding training. Rounds are bounded, not run-to-fixpoint: a
    production peel at 100 TB ships a fixed pass budget (the trajectory
    shows convergence when two consecutive rounds agree), so the DuckDB
    twin can unroll the identical recurrence and hash-match exactly.

    Shape: the edge list is localCheckpointed once per round (lineage
    truncation — the iterative-algorithm discipline; on a cluster this
    is checkpoint-to-storage), each round costing ONE degree groupBy
    plus two semi-joins against the vertex-sized keep list. Per-round
    census rows are 1-row aggregates unioned at the end."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cur = copurchase_edges(li).localCheckpoint()
    stats = []
    for r in range(KCORE_ROUNDS + 1):
        vs = cur.select(F.explode(F.array("a", "b")).alias("v"))
        stats.append(
            vs.agg(F.countDistinct("v").cast("bigint").alias("n_vertices"))
            .crossJoin(
                cur.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
            )
            .select(
                F.lit(r).cast("bigint").alias("round"),
                "n_vertices",
                "n_edges",
            )
        )
        if r < KCORE_ROUNDS:
            keep = (
                vs.groupBy("v")
                .agg(F.count(F.lit(1)).alias("d"))
                .where(F.col("d") >= KCORE_K)
                .select("v")
                .localCheckpoint()
            )
            cur = (
                cur.join(
                    keep.withColumnRenamed("v", "a"), "a", "left_semi"
                )
                .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
                .localCheckpoint()
            )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out
