"""Vector math over the embeddings table (north star: the array-column
compute layer under similarity search).

All arithmetic on quantized integer milli-units (exact, order-independent)
so per-label centroids — a SUM across rows per dimension — are reproducible
in the oracle despite Spark's nondeterministic partition order.

Scale shape: posexplode turns (n_vectors × dim) into n·d rows ONCE, then a
single hash aggregation on (label, dim) — map-side combine keeps the shuffle
at n_labels·dim rows regardless of corpus size. The alternative (array-level
zip_with fold over collect_list) would buffer whole groups in memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.similarity import (
    int_dot,
    quantize,
    quantize_sql,
)
from databricks_sales_etl_pipeline_spark.registry import query


@query(
    "ext_embedding_norms",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> {quantize_sql('x')}) AS qv
        FROM embeddings
    )
    SELECT vec_id, label,
           CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS norm_sq_milli,
           sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) / 1000.0
               AS l2_norm
    FROM q
    """,
)
def ext_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row vector math: exact squared norm on quantized ints + the
    derived L2 norm (per-row IEEE, deterministic)."""
    e = load(spark, sf_dir, "embeddings")
    qv = quantize(F.col("embedding"))
    nsq = int_dot(qv, qv)
    return e.select(
        "vec_id",
        "label",
        nsq.alias("norm_sq_milli"),
        (F.sqrt(nsq.cast("double")) / 1000.0).alias("l2_norm"),
    )


@query(
    "ext_embedding_centroids",
    oracle=f"""
    WITH q AS (
        SELECT label,
               unnest(list_transform(embedding,
                   x -> {quantize_sql('x')})) AS qval,
               unnest(range(1, len(embedding) + 1)) AS dim
        FROM embeddings
    )
    SELECT label, CAST(dim AS INT) AS dim,
           COUNT(*) AS n_vectors,
           CAST(SUM(qval) AS BIGINT) AS sum_milli,
           (CAST(SUM(qval) AS DOUBLE) / COUNT(*)) / 1000.0 AS centroid
    FROM q
    GROUP BY label, dim
    """,
)
def ext_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids in long format (label, dim): posexplode +
    hash-aggregate — the k-means-update / class-prototype dataflow."""
    e = load(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode(quantize(F.col("embedding"))).alias("pos", "qval")
    )
    return (
        exploded.groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("qval").alias("sum_milli"),
        )
        .withColumn(
            "centroid", (F.col("sum_milli").cast("double") / F.col("n_vectors")) / 1000.0
        )
    )


@query(
    "ext_embedding_quantize",
    oracle="""
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding, x ->
                   greatest(-127, least(127,
                       CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5) AS BIGINT))))
                   AS q8
        FROM embeddings
    )
    SELECT vec_id, label,
           CAST(len(q8) AS INT) AS dim,
           CAST(list_sum(q8) AS BIGINT) AS q8_sum,
           CAST(list_sum(list_transform(q8, x -> x * x)) AS BIGINT) AS q8_sq_sum,
           CAST(list_max(q8) AS BIGINT) AS q8_max,
           CAST(list_min(q8) AS BIGINT) AS q8_min
    FROM q
    """,
)
def ext_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 embedding quantization (the 4× storage/bandwidth compression
    step before ANN indexing at 100 TB): symmetric fixed-scale mapping
    x → clamp(round(127·x), ±127), with integer summary stats (checksum,
    energy, range) that prove the quantized vectors identical across
    engines — the tie-safe floor(+0.5) rounding shared with
    functions/money.py.

    Scale: per-row transform only, no shuffle; downstream int_dot over q8
    pairs is exact int arithmetic (the ANN scoring path)."""
    e = load(spark, sf_dir, "embeddings")
    q8 = F.transform(
        F.col("embedding"),
        lambda x: F.greatest(
            F.lit(-127).cast("long"),
            F.least(
                F.lit(127).cast("long"),
                F.floor(x.cast("double") * 127 + 0.5),
            ),
        ),
    )
    sq = F.transform(q8, lambda v: v * v)
    return e.select(
        "vec_id",
        "label",
        F.size(F.col("embedding")).alias("dim"),
        F.aggregate(q8, F.lit(0).cast("long"), lambda a, x: a + x).alias("q8_sum"),
        F.aggregate(sq, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q8_sq_sum"
        ),
        F.array_max(q8).alias("q8_max"),
        F.array_min(q8).alias("q8_min"),
    )


_PROJ_IN = 64
_PROJ_OUT = 16


def _proj_component(j: int, i: int) -> int:
    """Deterministic pseudo-random projection matrix entry in [-1000, 1000]
    — the same modular-arithmetic generator as the LSH hyperplanes, so the
    DuckDB twin reproduces it exactly."""
    return ((j * _PROJ_IN + i) * 2654435761) % 2001 - 1000


@query(
    "ext_embedding_project",
    oracle=f"""
    SELECT vec_id,
           CAST(j.range AS BIGINT) AS dim,
           CAST(list_sum(list_transform(range(1, {_PROJ_IN} + 1),
               i -> {quantize_sql('embedding[i]')}
                    * (CAST((j.range * {_PROJ_IN} + i - 1) * 2654435761 % 2001 AS BIGINT) - 1000)
           )) AS BIGINT) AS value
    FROM embeddings, range(0, {_PROJ_OUT}) j
    """,
)
def ext_embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction (Johnson–Lindenstrauss):
    64-d milli-unit vectors × a deterministic integer 16×64 projection
    matrix → 16-d sketches, emitted long-format (vec_id, dim, value) so
    the driver canonicalizer never sees array cells. The JL sketch is the
    cheap pre-filter in front of exact re-ranking (distances are roughly
    preserved at 1/4 the bytes); integer arithmetic end-to-end makes every
    projected coordinate hash-checkable.

    Scale: a zero-shuffle scan — each output row is a 64-term dot product
    against literal matrix entries, fused into codegen (16×64 terms is two
    orders below the K·D blow-up that forced the k-means path to numpy)."""
    e = load(spark, sf_dir, "embeddings")
    q = quantize(F.col("embedding"))
    rows = []
    for j in range(_PROJ_OUT):
        terms = [
            q.getItem(i) * F.lit(_proj_component(j, i)) for i in range(_PROJ_IN)
        ]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        rows.append(F.struct(F.lit(j).cast("long").alias("dim"), acc.alias("value")))
    return e.select(
        "vec_id", F.explode(F.array(*rows)).alias("p")
    ).select(
        "vec_id",
        F.col("p").getField("dim").alias("dim"),
        F.col("p").getField("value").alias("value"),
    )


@query(
    "ext_pca_power_step",
    oracle=f"""
    WITH q AS (
        SELECT list_transform(embedding,
                   x -> {quantize_sql('x')})
                   AS qv
        FROM embeddings
    ), g AS (
        SELECT r.range AS dim,
               CAST(SUM(q.qv[r.range] * q.qv[1]) AS BIGINT) AS gram_0d
        FROM q, range(1, 65) r
        GROUP BY r.range
    ), mx AS (
        SELECT CAST(MAX(abs(gram_0d)) AS BIGINT) AS gmax FROM g
    )
    SELECT g.dim, g.gram_0d,
           CAST((CASE WHEN g.gram_0d < 0 THEN -1 ELSE 1 END)
                * (abs(g.gram_0d) * 1000000 // m.gmax) AS BIGINT)
               AS component_ppm
    FROM g, mx m
    """,
)
def ext_pca_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Em — one PCA power-iteration step in exact int64: starting from
    the first basis vector e1, compute w = X^T X e1 — i.e. column 0 of
    the (uncentered) Gram matrix, Sum_i qv_i[d] * qv_i[0] per dimension
    — over milli-quantized embeddings. Iterating this map (normalize,
    re-multiply) converges to the top principal direction; ONE step is
    already the variance-aligned projection axis screeners use, and
    keeping it integer makes the step hash-checkable (the documented
    bound: milli-units ~2e3, products ~4e6, safe to ~10^12 vectors).
    Normalization is ppm-by-max-|component| with the sign composed
    OUTSIDE the division (negative numerators floor vs truncate
    differently across engines, CLAUDE.md) — no sqrt in hashed output.

    Shape: one posexplode + one 64-group aggregate (partial aggregation
    map-side), one 1-row max broadcast. Further iterations re-broadcast
    the 64-int vector back into the same scan — the MLlib
    driver-orchestration pattern (CLAUDE.md)."""
    e = load(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast("bigint"),
    )
    q = e.select(qv.alias("qv"))
    expl = q.select(
        F.posexplode("qv").alias("pos", "val"),
        F.col("qv").getItem(0).alias("v0"),
    )
    g = expl.groupBy((F.col("pos") + 1).alias("dim")).agg(
        F.sum(F.col("val") * F.col("v0")).cast("bigint").alias("gram_0d")
    )
    mx = g.agg(F.max(F.abs(F.col("gram_0d"))).cast("bigint").alias("gmax"))
    return g.crossJoin(broadcast(mx)).select(
        "dim",
        "gram_0d",
        F.expr(
            "CAST((CASE WHEN gram_0d < 0 THEN -1 ELSE 1 END)"
            " * (abs(gram_0d) * 1000000 DIV gmax) AS BIGINT)"
        ).alias("component_ppm"),
    )
