"""Distributed-systems primitives as data operators (north-star §2.7
widening; reference scope per REFERENCE_MAP.md — no reference
counterpart): differentially-private counts, rendezvous-hash partition
assignment, and Merkle-tree integrity digests.

All three are built on the repo's cross-engine md5 primitives
(CLAUDE.md): noise and placement come from ``md5_band`` (bit-identical
in Spark and DuckDB), digests from plain ``md5`` over canonically
ordered concatenations — so every output is hash-checkable.

Scale shapes:
- DP counts: noise is a PER-GROUP pure function of the group key — the
  aggregation is the ordinary groupBy; the mechanism adds zero shuffle.
- rendezvous hashing: an 8-node broadcast fan-out + one key-grouped
  argmax — the assignment every key computes independently, which is
  exactly why HRW needs no coordination at 100 TB.
- Merkle tree: per-partition digests reduce leaf-locally (the heavy
  concat stays inside each partition's group), then fold up a
  calendar-bounded tree — the parallel counterpart of the sequential
  ``ext_audit_hash_chain``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.chunking import (
    md5_band,
    md5_band_sql,
)
from databricks_sales_etl_pipeline_spark.functions.money import cents, cents_sql
from databricks_sales_etl_pipeline_spark.registry import query

# --- two-sided geometric mechanism, alpha = 1/2 (epsilon = ln 2) ---
#
# P(k) = (1/3)(1/2)^|k|;  cum(k<=0) = (2/3)(1/2)^(-k);
# cum(k>=0) = 1 - (1/3)(1/2)^k.  Thresholds on a 2^20 uniform grid,
# precomputed in exact Python arithmetic so no libm enters either plan.
_DP_GRID = 1 << 20
_DP_KMIN, _DP_KMAX = -8, 8


def _dp_thresholds() -> list[tuple[int, int]]:
    out = []
    for k in range(_DP_KMIN, _DP_KMAX):
        if k <= 0:
            num, den = 2 * _DP_GRID, 3 * (1 << (-k))
            t = num // den
        else:
            t = _DP_GRID - (_DP_GRID // (3 * (1 << k)))
        out.append((k, t))
    return out


_DP_CASE = "CASE " + " ".join(
    f"WHEN u < {t} THEN {k}" for k, t in _dp_thresholds()
) + f" ELSE {_DP_KMAX} END"


@query(
    "ext_dp_geometric",
    oracle=f"""
    WITH counts AS (
        SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS true_n
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
    ), noised AS (
        SELECT n_name, true_n,
               {md5_band_sql('n_name', _DP_GRID, 'dpgeo:')} AS u
        FROM counts
    )
    SELECT n_name, true_n,
           CAST({_DP_CASE} AS BIGINT) AS noise,
           CAST(GREATEST(0, true_n + {_DP_CASE}) AS BIGINT) AS noisy_n
    FROM noised
    """,
)
def ext_dp_geometric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ds1 — differentially-private counts via the GEOMETRIC mechanism
    (the discrete Laplace; Ghosh–Roughgarden–Sundararajan's universally
    optimal mechanism for counts) at alpha=1/2 (epsilon = ln 2). The
    noise CDF is dyadic-rational, so its inverse is a precomputed
    integer threshold ladder on a 2^20 grid — no libm, no RNG: the
    uniform draw is the cross-engine md5 coin on the group key, making
    the mechanism reproducible and oracle-checkable (a production
    release would key the coin on a rotating secret and drop ``true_n``
    — documented, the mechanism is the operator under test). Noisy
    counts clamp at 0 (post-processing preserves DP).

    Shape: the ordinary groupBy plus per-row integer CASE — the privacy
    layer costs nothing at scale."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    counts = (
        c.join(broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
    )
    noised = counts.withColumn("u", md5_band(F.col("n_name"), _DP_GRID, "dpgeo:"))
    return noised.select(
        "n_name",
        "true_n",
        F.expr(_DP_CASE).cast("bigint").alias("noise"),
        F.expr(f"GREATEST(0, true_n + {_DP_CASE})").cast("bigint").alias(
            "noisy_n"
        ),
    )


N_RDV_NODES = 8
_RDV_BAND = 1 << 31
_LOST_NODE = 3


@query(
    "ext_rendezvous_hash",
    oracle=f"""
    WITH keys AS (
        SELECT c_custkey FROM customer
    ), nodes AS (
        SELECT CAST(i AS BIGINT) AS node_id
        FROM unnest(range(0, {N_RDV_NODES})) AS t(i)
    ), weighted AS (
        SELECT c_custkey, node_id,
               {md5_band_sql(
                   "('n' || node_id || ':' || c_custkey)", _RDV_BAND, 'rdv:'
               )} * {N_RDV_NODES} + node_id AS w
        FROM keys CROSS JOIN nodes
    ), owners AS (
        SELECT c_custkey,
               CAST(MAX(w) % {N_RDV_NODES} AS BIGINT) AS owner,
               CAST(MAX(CASE WHEN node_id <> {_LOST_NODE} THEN w END)
                    % {N_RDV_NODES} AS BIGINT) AS owner_after_loss
        FROM weighted GROUP BY c_custkey
    )
    SELECT owner, owner_after_loss,
           CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM owners GROUP BY owner, owner_after_loss
    """,
)
def ext_rendezvous_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ds2 — rendezvous (highest-random-weight) hashing: every key
    independently scores all {8} nodes with the md5 coin and the top
    score owns the key — the coordination-free placement scheme behind
    consistent shard assignment. The weight is ``band·N + node_id`` so
    ties are impossible and the winner is recovered with one ``% N``
    (no struct/argmax cells for the driver canonicalizer to choke on).
    The report simulates losing node {3}: the (owner, owner-after-loss)
    census PROVES the HRW contract — only the lost node's keys move
    (off-diagonal rows exist only for owner={3}; unit-asserted), i.e.
    1/N of data reshuffles on membership change instead of nearly all
    (naive ``hash % N``).

    Shape: an 8-row broadcast fan-out + one key groupBy — at 100 TB
    this is how you compute a placement map without a coordinator."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    nodes = spark.range(N_RDV_NODES).select(F.col("id").cast("bigint").alias("node_id"))
    w = (
        md5_band(
            F.concat(
                F.lit("n"),
                F.col("node_id"),
                F.lit(":"),
                F.col("c_custkey"),
            ),
            _RDV_BAND,
            "rdv:",
        )
        * N_RDV_NODES
        + F.col("node_id")
    )
    weighted = c.crossJoin(broadcast(nodes)).select(
        "c_custkey", "node_id", w.alias("w")
    )
    owners = weighted.groupBy("c_custkey").agg(
        (F.max("w") % N_RDV_NODES).cast("bigint").alias("owner"),
        (
            F.max(F.when(F.col("node_id") != _LOST_NODE, F.col("w")))
            % N_RDV_NODES
        )
        .cast("bigint")
        .alias("owner_after_loss"),
    )
    return owners.groupBy("owner", "owner_after_loss").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys")
    )


@query(
    "ext_merkle_partition_tree",
    oracle="""
    WITH rows_d AS (
        SELECT (year(CAST(l_shipdate AS DATE)) * 100
                + month(CAST(l_shipdate AS DATE))) AS ym,
               year(CAST(l_shipdate AS DATE)) AS y,
               md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)) AS d
        FROM lineitem
    ), leaves AS (
        SELECT ym, y, md5(string_agg(d, '' ORDER BY d)) AS digest,
               CAST(COUNT(*) AS BIGINT) AS n_children
        FROM rows_d GROUP BY ym, y
    ), years AS (
        SELECT y, md5(string_agg(digest, '' ORDER BY digest)) AS digest,
               CAST(COUNT(*) AS BIGINT) AS n_children
        FROM leaves GROUP BY y
    ), root AS (
        SELECT md5(string_agg(digest, '' ORDER BY digest)) AS digest,
               CAST(COUNT(*) AS BIGINT) AS n_children
        FROM years
    )
    SELECT CAST(0 AS BIGINT) AS level, 'ym:' || ym AS node_key,
           digest, n_children FROM leaves
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'y:' || y, digest, n_children FROM years
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'root', digest, n_children FROM root
    """,
)
def ext_merkle_partition_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ds3 — Merkle integrity tree over table partitions: md5 row
    digests fold into per-month leaf digests (canonical digest order),
    months into years, years into one root — so two replicas compare
    ONE hash, and a mismatch bisects down the tree to the exact
    partition that diverged, in O(log) comparisons instead of a full
    re-scan. The parallel counterpart of ``ext_audit_hash_chain``
    (sequential tamper-evidence) — this one is associative on purpose,
    so every level reduces distributed.

    Shape: the heavy concat runs once per LEAF group (partition-local
    at 100 TB when the table is written partition-per-month); upper
    levels touch only digests."""
    li = load(spark, sf_dir, "lineitem")
    ymd = li.select(
        (
            F.year(F.col("l_shipdate").cast("date")) * 100
            + F.month(F.col("l_shipdate").cast("date"))
        ).alias("ym"),
        F.year(F.col("l_shipdate").cast("date")).alias("y"),
        F.md5(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
        ).alias("d"),
    )
    leaves = ymd.groupBy("ym", "y").agg(
        F.md5(F.concat_ws("", F.array_sort(F.collect_list("d")))).alias(
            "digest"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_children"),
    )
    years = leaves.groupBy("y").agg(
        F.md5(F.concat_ws("", F.array_sort(F.collect_list("digest")))).alias(
            "digest"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_children"),
    )
    root = years.agg(
        F.md5(F.concat_ws("", F.array_sort(F.collect_list("digest")))).alias(
            "digest"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_children"),
    )
    lv0 = leaves.select(
        F.lit(0).cast("bigint").alias("level"),
        F.concat(F.lit("ym:"), F.col("ym").cast("string")).alias("node_key"),
        "digest",
        "n_children",
    )
    lv1 = years.select(
        F.lit(1).cast("bigint").alias("level"),
        F.concat(F.lit("y:"), F.col("y").cast("string")).alias("node_key"),
        "digest",
        "n_children",
    )
    lv2 = root.select(
        F.lit(2).cast("bigint").alias("level"),
        F.lit("root").alias("node_key"),
        "digest",
        "n_children",
    )
    return lv0.unionAll(lv1).unionAll(lv2)


#: IPv4-lite longest-prefix-match routing: a 16-bit address space with
#: /4, /8 and /12 network blocks (the 32-bit production form scales the
#: SAME expand-to-prefix-lengths equi-join — only the constants change).
CIDR_IP_BITS = 16
CIDR_BASE_BITS = 12
CIDR_PLENS = (4, 8, 12)
_CIDR_IP_SALT = "cidr-ip-r6"
_CIDR_NET_SALT = "cidr-net-r6"


@query(
    "ext_cidr_lpm",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id,
               {md5_band_sql("CAST(event_id AS VARCHAR)",
                             2 ** CIDR_IP_BITS, _CIDR_IP_SALT)} AS ip
        FROM events
    ), blk AS (
        SELECT plen, v >> ({CIDR_BASE_BITS} - plen) AS net_key,
               MIN(n_name) AS label
        FROM (SELECT n_name,
                     {md5_band_sql("CAST(n_nationkey AS VARCHAR)",
                                   2 ** CIDR_BASE_BITS, _CIDR_NET_SALT)} AS v,
                     4 + 4 * (n_nationkey % 3) AS plen
              FROM nation)
        GROUP BY 1, 2
    ), cand AS (
        SELECT e.event_id, e.user_id, p.plen,
               e.ip >> ({CIDR_IP_BITS} - p.plen) AS net_key
        FROM ev e, (VALUES {", ".join(f"({p})" for p in CIDR_PLENS)}) p(plen)
    ), matched AS (
        SELECT c.event_id,
               arg_max(b.label, c.plen) AS label,
               CAST(MAX(c.plen) AS BIGINT) AS plen
        FROM cand c
        JOIN blk b ON b.plen = c.plen AND b.net_key = c.net_key
        GROUP BY c.event_id
    )
    SELECT COALESCE(m.label, 'UNROUTED') AS label,
           CAST(COALESCE(m.plen, 0) AS BIGINT) AS plen,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM ev e LEFT JOIN matched m ON m.event_id = e.event_id
    GROUP BY 1, 2
    """,
)
def ext_cidr_lpm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ds — longest-prefix-match CIDR classification of event source
    addresses (deterministic 16-bit IPs hashed from event_id; network
    blocks at /4, /8 and /12 derived from the nation dim): each address
    is expanded to its three candidate prefix keys and equi-joined to
    the deduped block table, the per-event winner being the LONGEST
    matching prefix — the routing-table lookup every CDN/firewall log
    enrichment does, expressed WITHOUT an inequality join. Reports
    (label, plen) traffic with distinct-user counts; unmatched traffic
    lands in the UNROUTED bucket.

    Shape: the block table is nation-bounded (25 rows after per-
    (plen, key) dedup) and broadcast; the expansion is a constant ×3
    fan-out of the event scan, so the whole lookup is one broadcast-join
    pass plus one event-keyed groupBy for the argmax — no shuffle grows
    with the routing table. At 32-bit/production scale only the
    constants change; prefix expansion stays O(#plen levels) per row."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        md5_band(F.col("event_id"), 2**CIDR_IP_BITS, _CIDR_IP_SALT).alias(
            "ip"
        ),
    )
    n = load(spark, sf_dir, "nation").select(
        "n_name",
        md5_band(
            F.col("n_nationkey"), 2**CIDR_BASE_BITS, _CIDR_NET_SALT
        ).alias("v"),
        (4 + 4 * (F.col("n_nationkey") % 3)).alias("plen"),
    )
    blk = (
        n.select(
            "plen",
            F.expr(f"shiftright(v, {CIDR_BASE_BITS} - plen)").alias(
                "net_key"
            ),
            "n_name",
        )
        .groupBy("plen", "net_key")
        .agg(F.min("n_name").alias("label"))
    )
    cand = e.select(
        "event_id",
        "user_id",
        "ip",
        F.explode(
            F.array(*[F.lit(p) for p in CIDR_PLENS])
        ).alias("plen"),
    ).withColumn(
        "net_key", F.expr(f"shiftright(ip, {CIDR_IP_BITS} - plen)")
    )
    matched = (
        cand.join(broadcast(blk), ["plen", "net_key"])
        .groupBy("event_id")
        .agg(
            F.max_by("label", "plen").alias("label"),
            F.max("plen").cast("bigint").alias("plen"),
        )
    )
    return (
        e.join(matched, "event_id", "left")
        .select(
            F.coalesce(F.col("label"), F.lit("UNROUTED")).alias("label"),
            F.coalesce(F.col("plen"), F.lit(0)).cast("bigint").alias("plen"),
            "user_id",
        )
        .groupBy("label", "plen")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


#: consistent-hash ring: RING_NODES nodes x RING_VNODES virtual nodes on
#: a 2^32 ring; a key is owned by the first vnode clockwise (smallest
#: vnode hash >= key hash, wrapping to the ring's minimum). The audit
#: re-runs the lookup with ONE node added and reports how many keys
#: moved — theory says ~1/(n+1), and vnodes are what keep the variance
#: down.
RING_NODES = 8
RING_VNODES = 16
_RING_SALT = "ring-r6"
#: encode (vnode hash, node id) into one orderable bigint: h * 100 + id
#: (node ids < 100) so "first following vnode" is a single MIN.
_RING_ENC = 100


def _ring_sql(n_nodes: int, alias: str) -> str:
    return f"""
        SELECT CAST(n.i // {RING_VNODES} AS BIGINT) AS node,
               {md5_band_sql(
                   "'vn:' || CAST(n.i AS VARCHAR)", 2 ** 32, _RING_SALT)}
                   AS h
        FROM (SELECT unnest(range(0, {n_nodes * RING_VNODES})) AS i) n
    """


def _ring_owner_cte(ring: str, tag: str) -> str:
    """Keys ∪ vnodes sorted by (hash, is_vnode): each key's owner is the
    first FOLLOWING vnode (window MIN over the encoded hash*100+node),
    wrapping to the global minimum vnode."""
    return f"""
    u_{tag} AS (
        SELECT kh AS h, 0 AS tag, o_orderkey, CAST(NULL AS BIGINT) AS enc
        FROM keys
        UNION ALL
        SELECT h, 1, NULL, h * {_RING_ENC} + node FROM {ring}
    ), own_{tag} AS (
        SELECT o_orderkey,
               COALESCE(
                   MIN(enc) OVER (ORDER BY h, tag
                                  ROWS BETWEEN CURRENT ROW
                                  AND UNBOUNDED FOLLOWING),
                   (SELECT MIN(h * {_RING_ENC} + node) FROM {ring}))
                   % {_RING_ENC} AS node
        FROM u_{tag}
    ), owner_{tag} AS (
        SELECT o_orderkey, node FROM own_{tag} WHERE o_orderkey IS NOT NULL
    )"""


@query(
    "ext_consistent_hash_ring",
    oracle=f"""
    WITH keys AS (
        SELECT o_orderkey,
               {md5_band_sql("'k:' || CAST(o_orderkey AS VARCHAR)",
                             2 ** 32, _RING_SALT)} AS kh
        FROM orders
    ), ring_a AS ({_ring_sql(RING_NODES, "a")}),
    ring_b AS ({_ring_sql(RING_NODES + 1, "b")}),
    {_ring_owner_cte("ring_a", "a").lstrip()},
    {_ring_owner_cte("ring_b", "b").lstrip()},
    moved AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total_keys,
               CAST(SUM(CASE WHEN a.node <> b.node THEN 1 ELSE 0 END)
                    AS BIGINT) AS moved_keys
        FROM owner_a a JOIN owner_b b ON b.o_orderkey = a.o_orderkey
    )
    SELECT b.node,
           CAST(COUNT(*) AS BIGINT) AS keys_after,
           CAST(SUM(CASE WHEN a.node = b.node THEN 0 ELSE 1 END)
                AS BIGINT) AS keys_gained,
           m.total_keys, m.moved_keys,
           CAST(m.moved_keys * 1000000 // m.total_keys AS BIGINT)
               AS moved_ppm
    FROM owner_a a
    JOIN owner_b b ON b.o_orderkey = a.o_orderkey, moved m
    GROUP BY b.node, m.total_keys, m.moved_keys
    """,
)
def ext_consistent_hash_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ds — consistent-hash ring resharding audit: order keys are placed
    on a 2^32 ring owned by the first clockwise virtual node (16 vnodes
    per node), then node 8 JOINS the ring and the lookup re-runs —
    per-node key counts after, keys gained, and the moved fraction,
    which consistent hashing bounds near 1/(n+1) (rendezvous hashing's
    ring-shaped sibling; vnodes tame per-node variance). The successor
    lookup is a broadcast interval match — no per-key ring scan, no
    sort of the keys: each distinct vnode hash h owns the arc
    (previous h, h], and one wrap-around arc (largest h, 2^32) belongs
    to the ring minimum.

    Shape: each ring is a constant-size table of at most 145 arcs built
    from ``spark.range``; every key finds its arc in its own partition,
    so the only data-sized work is the scan and the final per-node
    aggregate."""
    keys = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        md5_band(
            F.concat(F.lit("k:"), F.col("o_orderkey").cast("string")),
            2**32,
            _RING_SALT,
        ).alias("kh"),
    )

    def arcs(n_nodes: int) -> DataFrame:
        vnodes = (
            spark.range(n_nodes * RING_VNODES)
            .select(
                md5_band(
                    F.concat(F.lit("vn:"), F.col("id").cast("string")),
                    2**32,
                    _RING_SALT,
                ).alias("h"),
                (F.col("id") / RING_VNODES).cast("bigint").alias("node"),
            )
            .groupBy("h")
            .agg(F.min(F.col("h") * _RING_ENC + F.col("node")).alias("enc"))
        )
        prev = vnodes.select(F.col("h").alias("p"))
        inner = (
            vnodes.join(prev, F.col("p") < F.col("h"), "left")
            .groupBy("h", "enc")
            .agg(F.coalesce(F.max("p"), F.lit(-1)).alias("lo"))
            .select("lo", F.col("h").alias("hi"), "enc")
        )
        wrap = vnodes.agg(
            F.max("h").alias("lo"),
            F.lit(2**32).cast("bigint").alias("hi"),
            F.min("enc").alias("enc"),
        )
        return inner.unionByName(wrap)

    j = keys
    for n_nodes, tag in ((RING_NODES, "a"), (RING_NODES + 1, "b")):
        j = j.join(
            broadcast(arcs(n_nodes)),
            (F.col("kh") > F.col("lo")) & (F.col("kh") <= F.col("hi")),
        ).select(*j.columns, (F.col("enc") % _RING_ENC).alias(f"node_{tag}"))
    j = j.select("o_orderkey", "node_a", "node_b").localCheckpoint()
    moved = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_keys"),
        F.sum(
            F.when(F.col("node_a") != F.col("node_b"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("moved_keys"),
    )
    return (
        j.join(broadcast(moved))
        .groupBy("node_b", "total_keys", "moved_keys")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("keys_after"),
            F.sum(
                F.when(F.col("node_a") == F.col("node_b"), 0).otherwise(1)
            )
            .cast("bigint")
            .alias("keys_gained"),
        )
        .select(
            F.col("node_b").alias("node"),
            "keys_after",
            "keys_gained",
            "total_keys",
            "moved_keys",
            F.expr(
                "CAST(moved_keys * 1000000 DIV total_keys AS BIGINT)"
            ).alias("moved_ppm"),
        )
    )


#: Shamir secret sharing over GF(p), p = 2^31 - 1 (Mersenne prime):
#: threshold 3-of-5, secret = total revenue cents mod p, coefficients
#: hash-derived. The Lagrange-at-zero weights for the reconstruction
#: set x = {1, 3, 5} are AUTHORING-TIME constants (modular inverses
#: computed once in Python — no modpow in either engine); every modmul
#: stays below 2^62.
SHAMIR_P = 2_147_483_647
SHAMIR_XS = (1, 3, 5)
#: Lagrange basis at 0 for x = {1,3,5} mod p (verified reconstructing a
#: known polynomial at authoring time).
SHAMIR_LAMBDAS = (1_879_048_193, 1_610_612_734, 805_306_368)
_SHAMIR_SALT = "shamir-r6"


@query(
    "ext_shamir_shares",
    oracle=f"""
    WITH sec AS (
        SELECT CAST(SUM({cents_sql('o_totalprice')}) % {SHAMIR_P} AS BIGINT)
                   AS s
        FROM orders
    ), coef AS (
        SELECT sec.s,
               {md5_band_sql("'coef:1'", SHAMIR_P, _SHAMIR_SALT)} AS a1,
               {md5_band_sql("'coef:2'", SHAMIR_P, _SHAMIR_SALT)} AS a2
        FROM sec
    ), shares AS (
        SELECT coef.s, x.x,
               CAST((coef.s + coef.a1 * x.x % {SHAMIR_P} * 1
                     + coef.a2 * (x.x * x.x) % {SHAMIR_P})
                    % {SHAMIR_P} AS BIGINT) AS y
        FROM coef, (VALUES (1), (2), (3), (4), (5)) x(x)
    ), recon AS (
        SELECT CAST(( {" + ".join(
            f"(SELECT y FROM shares WHERE x = {x}) * {lam} % {SHAMIR_P}"
            for x, lam in zip(SHAMIR_XS, SHAMIR_LAMBDAS)
        )} ) % {SHAMIR_P} AS BIGINT) AS r
    )
    SELECT CAST(sh.x AS BIGINT) AS x, sh.y AS share,
           sh.s AS secret_mod_p, recon.r AS reconstructed,
           sh.s = recon.r AS matches
    FROM shares sh, recon
    """,
)
def ext_shamir_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ds — Shamir 3-of-5 threshold sharing of a governed aggregate:
    the total-revenue secret (mod the Mersenne prime 2^31-1) is split
    by a hash-coefficient quadratic into 5 shares, and the shares at
    x = {{1,3,5}} reconstruct it exactly via authoring-time Lagrange
    constants — any 2 shares reveal NOTHING, any 3 reveal everything,
    which is the primitive behind secret-sharded credentials and
    multi-party aggregate release. All modular arithmetic stays below
    2^62, so both engines compute it natively; the matches column
    carries the end-to-end proof in-row.

    Shape: ONE aggregate over the fact table; everything after is
    constant-size field arithmetic."""
    o = load(spark, sf_dir, "orders")
    sec = o.agg(
        (F.sum(cents("o_totalprice")) % SHAMIR_P).cast("bigint").alias("s")
    )
    coef = sec.select(
        "s",
        md5_band(F.lit("coef:1"), SHAMIR_P, _SHAMIR_SALT).alias("a1"),
        md5_band(F.lit("coef:2"), SHAMIR_P, _SHAMIR_SALT).alias("a2"),
    )
    xs = spark.range(1, 6).select(F.col("id").alias("x"))
    shares = coef.join(broadcast(xs)).select(
        "s",
        "x",
        F.expr(
            f"CAST((s + a1 * x % {SHAMIR_P} * 1"
            f" + a2 * (x * x) % {SHAMIR_P}) % {SHAMIR_P} AS BIGINT)"
        ).alias("y"),
    ).localCheckpoint()
    rec_expr = " + ".join(
        f"(CASE WHEN x = {x} THEN y ELSE 0 END) * {lam} % {SHAMIR_P}"
        for x, lam in zip(SHAMIR_XS, SHAMIR_LAMBDAS)
    )
    recon = shares.agg(
        F.expr(f"CAST(SUM({rec_expr}) % {SHAMIR_P} AS BIGINT)").alias("r")
    )
    return shares.join(broadcast(recon)).select(
        F.col("x").cast("bigint").alias("x"),
        F.col("y").alias("share"),
        F.col("s").alias("secret_mod_p"),
        F.col("r").alias("reconstructed"),
        (F.col("s") == F.col("r")).alias("matches"),
    )


#: retry/backoff simulation: attempt i of a job fails iff its md5 band
#: lands under RETRY_FAIL_PPM; exponential backoff waits
#: RETRY_BASE_S * 2^(i-1) seconds between attempts, RETRY_MAX attempts
#: before giving up. Deterministic per (job, attempt), so both engines
#: replay the identical outcome stream.
RETRY_MAX = 6
RETRY_FAIL_PPM = 300_000
RETRY_BASE_S = 2
_RETRY_SALT = "retry-r6"


@query(
    "ext_retry_backoff",
    oracle=f"""
    WITH tries AS (
        SELECT o_orderkey,
               t.i,
               CASE WHEN {md5_band_sql(
                   "'try:' || CAST(o_orderkey AS VARCHAR)"
                   " || ':' || CAST(t.i AS VARCHAR)",
                   1_000_000, _RETRY_SALT)} >= {RETRY_FAIL_PPM}
                    THEN 1 ELSE 0 END AS ok
        FROM orders, (SELECT unnest(range(1, {RETRY_MAX} + 1)) AS i) t
    ), jobs AS (
        SELECT o_orderkey,
               CAST(COALESCE(MIN(CASE WHEN ok = 1 THEN i END),
                             {RETRY_MAX}) AS BIGINT) AS attempts,
               MIN(CASE WHEN ok = 1 THEN i END) IS NOT NULL AS succeeded
        FROM tries GROUP BY o_orderkey
    )
    SELECT attempts, succeeded,
           CAST(COUNT(*) AS BIGINT) AS n_jobs,
           CAST(SUM({RETRY_BASE_S}
                    * (CAST(1 AS BIGINT) << CAST(attempts - 1 AS INT))
                    - {RETRY_BASE_S}) AS BIGINT) AS total_backoff_s
    FROM jobs GROUP BY 1, 2
    """,
)
def ext_retry_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ds — retry-with-exponential-backoff replay: every order is a job
    whose attempt i succeeds or fails by a deterministic hash coin
    (30% failure), up to 6 attempts with 2*2^(i-1)-second backoff; the
    report groups jobs by attempts-to-success (a geometric distribution
    the unit test checks against expectation) with the give-up bucket
    and the total backoff spent — the SRE capacity question ("how much
    sleep time does our retry policy burn, and how many jobs exhaust
    it?") answered from pure data, no simulation framework. Total
    backoff before attempt k = base*(2^(k-1) - 1), exact via shifts.

    Shape: a constant x6 explode of the scan, one job groupBy, one
    distribution groupBy — all map-side-combinable."""
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    tries = o.select(
        "o_orderkey",
        F.explode(
            F.array(*[F.lit(i) for i in range(1, RETRY_MAX + 1)])
        ).alias("i"),
    ).select(
        "o_orderkey",
        "i",
        F.when(
            md5_band(
                F.concat(
                    F.lit("try:"),
                    F.col("o_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("i").cast("string"),
                ),
                1_000_000,
                _RETRY_SALT,
            )
            >= RETRY_FAIL_PPM,
            1,
        )
        .otherwise(0)
        .alias("ok"),
    )
    jobs = tries.groupBy("o_orderkey").agg(
        F.coalesce(
            F.min(F.when(F.col("ok") == 1, F.col("i"))), F.lit(RETRY_MAX)
        )
        .cast("bigint")
        .alias("attempts"),
        F.min(F.when(F.col("ok") == 1, F.col("i")))
        .isNotNull()
        .alias("succeeded"),
    )
    return jobs.groupBy("attempts", "succeeded").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_jobs"),
        F.expr(
            f"CAST(SUM({RETRY_BASE_S}"
            f" * shiftleft(CAST(1 AS BIGINT), CAST(attempts - 1 AS INT))"
            f" - {RETRY_BASE_S}) AS BIGINT)"
        ).alias("total_backoff_s"),
    )


#: point-in-polygon: synthetic integer points (hash-derived from order
#: keys on a 1000x1000 grid) classified against a fixed CONVEX polygon
#: by cross-product sign tests — inside iff every edge cross product is
#: >= 0 (vertices counter-clockwise). Pure integer geometry, the
#: spatial-filter primitive under every geofence/region rollup.
PIP_POLY = ((200, 100), (800, 250), (900, 700), (500, 950), (120, 600))
_PIP_SALT = "pip-r6"


def _pip_inside_sql(x: str, y: str) -> str:
    conds = []
    n = len(PIP_POLY)
    for i in range(n):
        x1, y1 = PIP_POLY[i]
        x2, y2 = PIP_POLY[(i + 1) % n]
        conds.append(
            f"(({x2} - {x1}) * (({y}) - {y1})"
            f" - ({y2} - {y1}) * (({x}) - {x1}) >= 0)"
        )
    return "(" + " AND ".join(conds) + ")"


@query(
    "ext_point_in_polygon",
    oracle=f"""
    WITH pts AS (
        SELECT o_orderkey,
               {md5_band_sql("'px:' || CAST(o_orderkey AS VARCHAR)",
                             1000, _PIP_SALT)} AS x,
               {md5_band_sql("'py:' || CAST(o_orderkey AS VARCHAR)",
                             1000, _PIP_SALT)} AS y,
               {cents_sql('o_totalprice')} AS v
        FROM orders
    )
    SELECT {_pip_inside_sql("x", "y")} AS inside,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(v) AS BIGINT) AS revenue_cents,
           CAST(SUM(v) * 1000000
                // (SELECT SUM(v) FROM pts) AS BIGINT) AS revenue_ppm
    FROM pts GROUP BY 1
    """,
)
def ext_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ds — point-in-polygon geofencing: hash-derived integer order
    locations on a 1000-grid classified against a fixed convex
    five-vertex region by CROSS-PRODUCT sign tests (inside iff every
    edge turns the point left — counter-clockwise vertices), rolling up
    in-region vs out-of-region order counts and revenue share. This is
    the spatial filter under every geofence/delivery-zone/territory
    report, in its exact integer form — no floating-point epsilon, no
    geometry library — and at 100 TB it composes with the
    ext_join_spatial_cells grid: cells prune candidates, this predicate
    decides them. Convexity makes the test 5 ANDed codegen terms
    per row.

    Shape: per-row arithmetic + one 2-row groupBy; the revenue-share
    denominator is the only extra aggregate."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        cents(F.col("o_totalprice")).cast("bigint").alias("v"),
    )
    pts = o.select(
        md5_band(
            F.concat(F.lit("px:"), F.col("o_orderkey").cast("string")),
            1000,
            _PIP_SALT,
        ).alias("x"),
        md5_band(
            F.concat(F.lit("py:"), F.col("o_orderkey").cast("string")),
            1000,
            _PIP_SALT,
        ).alias("y"),
        "v",
    ).localCheckpoint()
    tot = pts.agg(F.sum("v").cast("bigint").alias("t"))
    return (
        pts.join(broadcast(tot))
        .groupBy(F.expr(_pip_inside_sql("x", "y")).alias("inside"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.sum("v").cast("bigint").alias("revenue_cents"),
            F.expr("CAST(SUM(v) * 1000000 DIV MAX(t) AS BIGINT)").alias(
                "revenue_ppm"
            ),
        )
    )
