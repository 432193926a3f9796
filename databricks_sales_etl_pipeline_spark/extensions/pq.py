"""Product quantization (PQ) — the ANN compression component (north-star
LLM-pipeline item; no reference twin — the reference's notebooks do plain
sales ETL, see REFERENCE_MAP.md).

PQ is how a 100 TB embedding corpus actually fits an ANN index: split each
D-dim vector into S subspaces, k-means each subspace independently, and
store S small codes (here 4 × 3 bits) instead of D floats — a 64-dim
float32 vector (256 B) compresses to 4 codes (≤ 4 B), with search done via
per-subspace lookup tables. The index build is
``similarity.train_kmeans(vecs, k=PQ_K, n_sub=PQ_SUB)``: all S codebooks
trained jointly, one corpus scan and one groupBy shuffle of K·D longs per
Lloyd iteration (bounded driver artifact). The final encode,
``pq_codes``, is a single zero-shuffle Arrow pandas UDF over the corpus.

Everything is integer-exact (milli-unit quantized vectors, floor-mean
centroids, int64 squared distances), so the WHOLE pipeline — every
subspace's Lloyd training AND the final codes + reconstruction error —
is hash-checked against a DuckDB twin that unrolls the same iterations
per subspace as namespaced ``similarity._lloyd_ctes`` chains (one
subspace at a time: the joint training gives each 16-dim slice exactly
the centroids of its own ``n_sub=1`` training).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .similarity import (
    _SQD,
    LLOYD_ITERS,
    NPROBE,
    _assign_cells,
    _centroid_mats,
    _kmeans_cte_prefix,
    _lloyd_ctes,
    _nearest_fn,
    _nearest_sql,
    _probe_cells,
    _sqdists,
    quantize_sql,
    quantized_vectors,
    train_kmeans,
)

PQ_SUB = 4  # subspaces
PQ_SUBDIM = 16  # dims per subspace (embeddings are 64-dim)
PQ_K = 8  # codes per subspace
PQ_QUERIES = 10  # ADC search: first N vectors double as the query set
PQ_TOPK = 5
#: refine stage: exact re-rank shortlist = PQ_REFINE_MULT x PQ_TOPK rows
#: per query (round-13 measured curve, SCALE.md: at 1 M vectors ADC-only
#: recall@10 saturates ~0.16 regardless of code count, while exact re-rank
#: recovers 0.39 at a 100-row shortlist and 0.75 at 1000 — the shortlist,
#: not the code count, is the serving-quality lever)
PQ_REFINE_MULT = 3


def pq_codes(vecs: DataFrame, cent_sets) -> DataFrame:
    """The PQ index rows (vec_id, code_0..code_{S-1}, recon_err): one
    zero-shuffle Arrow pass of ``similarity._nearest`` over the corpus —
    per subspace the nearest codebook centroid, plus the summed squared
    distance to them (the integer reconstruction error)."""
    return vecs.select("vec_id", _nearest_fn(cent_sets)("v").alias("ce")).select(
        "vec_id", "ce.*"
    )


def _pq_queries(vecs: DataFrame) -> list[tuple[int, list[int]]]:
    """The bounded query set [(qid, vec)]: the first PQ_QUERIES vectors —
    the sanctioned small-artifact driver collect (MLlib pattern)."""
    return [
        (int(r["vec_id"]), [int(x) for x in r["v"]])
        for r in vecs.where(F.col("vec_id") < PQ_QUERIES)
        .select("vec_id", "v")
        .collect()
    ]


def _pq_chains() -> str:
    """One namespaced DuckDB Lloyd chain per subspace si over ``qvecs``:
    slice ``p{si}v`` → ``similarity._lloyd_ctes`` → final ``p{si}fin``
    (vec_id, v, cid, d)."""
    ctes = []
    for si in range(PQ_SUB):
        ns = f"p{si}"
        fin = _nearest_sql(
            f"{ns}v",
            f"{ns}c{LLOYD_ITERS}",
            f"v.vec_id, v.v, c.cid, CAST({_SQD} AS BIGINT) AS d",
        )
        ctes += [
            f"{ns}v AS (SELECT vec_id,"
            f" v[{si * PQ_SUBDIM + 1}:{(si + 1) * PQ_SUBDIM}] AS v FROM qvecs)",
            *_lloyd_ctes(f"{ns}v", ns, PQ_K),
            f"{ns}fin AS ({fin})",
        ]
    return ",\n    ".join(ctes)


_QVECS = (
    "qvecs AS (SELECT vec_id,"
    f" list_transform(embedding, x -> {quantize_sql('x')}) AS v FROM embeddings)"
)


def _adc_sql(nb: str) -> tuple[str, str]:
    """(joins, adc_dist): the DuckDB twin of ``_adc_lut`` for neighbor id
    ``nb`` against query vectors ``q``. Per subspace, join the neighbor's
    final code and that code's trained centroid, and sum the squared
    distances from the query's subvectors to them."""
    joins, terms = [], []
    for si in range(PQ_SUB):
        lo = si * PQ_SUBDIM
        joins.append(
            f"JOIN p{si}fin f{si} ON f{si}.vec_id = {nb} "
            f"JOIN p{si}c{LLOYD_ITERS} cb{si} ON cb{si}.cid = f{si}.cid"
        )
        terms.append(
            f"list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),"
            f" i -> (q.v[{lo} + i] - cb{si}.cv[i])"
            f" * (q.v[{lo} + i] - cb{si}.cv[i])))"
        )
    return " ".join(joins), f"CAST({' + '.join(terms)} AS BIGINT)"


#: final SELECT of both ADC oracles: top-k of the ``adc`` CTE per query
_ADC_TOPK = f"""
    SELECT query_id, neighbor_id, adc_dist, rank FROM (
        SELECT query_id, neighbor_id, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist ASC, neighbor_id ASC)
                   AS rank
        FROM adc
    ) WHERE rank <= {PQ_TOPK}"""


def _pq_oracle() -> str:
    code_cols = ", ".join(f"p{si}fin.cid AS code_{si}" for si in range(PQ_SUB))
    err = " + ".join(f"p{si}fin.d" for si in range(PQ_SUB))
    joins = " ".join(
        f"JOIN p{si}fin ON p{si}fin.vec_id = p0fin.vec_id"
        for si in range(1, PQ_SUB)
    )
    return f"""WITH {_QVECS},
    {_pq_chains()}
    SELECT p0fin.vec_id AS vec_id, {code_cols},
           CAST({err} AS BIGINT) AS recon_err
    FROM p0fin {joins}
    ORDER BY vec_id"""


@query("ext_pq_encode", oracle=_pq_oracle())
def ext_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3f — product-quantize the embedding corpus: 4 independent 16-dim
    k-means codebooks (K=8, 2 Lloyd iterations each, seeded by the first K
    vectors — same contract as ``ext_similarity_kmeans``), then one
    zero-shuffle Arrow encode pass emitting the 4 codes + integer
    reconstruction error per vector.

    Scale: codebook training is ITERS bounded-artifact shuffles (K·D longs
    each, all subspaces at once); the encode scan is embarrassingly parallel and
    the output is ~60× smaller than the input vectors — this is the write
    path of a disk-backed IVF-PQ index at 100 TB."""
    vecs = quantized_vectors(spark, sf_dir)
    cent_sets = train_kmeans(vecs, k=PQ_K, n_sub=PQ_SUB)
    return pq_codes(vecs, cent_sets).orderBy("vec_id")


# --- ADC search over the compressed codes -----------------------------------


def _adc_lut(cent_sets, queries):
    """The ADC lookup table LUT[q, s, cid]: exact int64 squared distances
    (``similarity._sqdists``) from query q's subvector s to every centroid
    of codebook s. Dense over cid up to the largest live cid (cid labels are
    seed ids 0..k-1, and codes only reference live cids), so the table
    serves any PQ_K the caller trained with. ``queries`` is the bounded
    collected query set [(qid, vec)]."""
    import numpy as np

    Q = np.array([qv for _, qv in queries], dtype=np.int64)
    kmax = 1 + max(cid for cents in cent_sets for cid, _ in cents)
    lut = np.zeros((len(queries), len(cent_sets), kmax), dtype=np.int64)
    for si, cents in enumerate(cent_sets):
        cids, C = _centroid_mats(cents)
        lut[:, si, cids] = _sqdists(Q[:, si * PQ_SUBDIM : (si + 1) * PQ_SUBDIM], C)
    return lut


def _adc_scan_fn(cent_sets, queries):
    """The FAISS-style ADC kernel: per query, the S×K lookup table of
    ``_adc_lut``; scanning the corpus then costs S table gathers + adds per
    (query, vector) pair — the compressed codes never decompress. All
    integers, so the scan is hash-exact."""
    import numpy as np
    import pandas as pd

    n_q = len(queries)
    lut = _adc_lut(cent_sets, queries)
    qids = np.array([q for q, _ in queries], dtype=np.int64)

    def scan(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vec_ids = pdf["vec_id"].to_numpy()
            codes = np.stack(
                [pdf[f"code_{si}"].to_numpy() for si in range(PQ_SUB)], axis=1
            )
            n = len(pdf)
            # dists[q, row] = sum_s LUT[q, s, codes[row, s]]
            dists = np.zeros((n_q, n), dtype=np.int64)
            for si in range(PQ_SUB):
                dists += lut[:, si, codes[:, si]]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, n),
                    "neighbor_id": np.tile(vec_ids, n_q),
                    "adc_dist": dists.reshape(-1),
                }
            )

    return scan


def _pq_search_oracle() -> str:
    joins, adc_dist = _adc_sql("n.vec_id")
    return f"""WITH {_QVECS},
    {_pq_chains()},
    adc AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               {adc_dist} AS adc_dist
        FROM qvecs q
        JOIN qvecs n ON n.vec_id <> q.vec_id
        {joins}
        WHERE q.vec_id < {PQ_QUERIES}
    ){_ADC_TOPK}"""


@query("ext_pq_search", oracle=_pq_search_oracle())
def ext_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3h — ANN search over the PQ-compressed corpus via asymmetric
    distance computation: train the 4 codebooks, encode the corpus once,
    collect the bounded query set (first {Q} vectors), precompute each
    query's S×K distance lookup table, and scan the CODES (4 small ints
    per vector — the raw vectors never reload) with table gathers. Top-k
    per query by (adc_dist ASC, neighbor_id ASC).

    Scale: the serving read path of an IVF-PQ index — the scan touches
    ~60× less data than the raw vectors, is embarrassingly parallel, and
    the only shuffle is the per-query top-k window."""
    from pyspark.sql import Window

    vecs = quantized_vectors(spark, sf_dir)
    cent_sets = train_kmeans(vecs, k=PQ_K, n_sub=PQ_SUB)
    queries = _pq_queries(vecs)
    scanned = pq_codes(vecs, cent_sets).mapInPandas(
        _adc_scan_fn(cent_sets, queries),
        "query_id long, neighbor_id long, adc_dist long",
    ).where(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return scanned.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= PQ_TOPK
    )


# --- IVF-PQ search (coarse probe + ADC over codes) --------------------------


def _adc_pair_fn(cent_sets, queries):
    """ADC distance for (query_id, code_0..code_{S-1}) pairs — the
    cell-restricted variant of the full scan: same per-query S×K integer
    lookup tables, but distances are computed only for the rows the coarse
    probe admitted."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    qpos = {q: idx for idx, (q, _) in enumerate(queries)}
    lut = _adc_lut(cent_sets, queries)

    @pandas_udf("long")
    def adc(qid, c0, c1, c2, c3):
        if qid.empty:
            return pd.Series([], dtype="int64")
        qidx = qid.map(qpos).to_numpy(dtype="int64")
        total = np.zeros(len(qid), dtype=np.int64)
        for si, cs in enumerate((c0, c1, c2, c3)):
            total += lut[qidx, si, cs.to_numpy(dtype="int64")]
        return pd.Series(total)

    return adc


def _pq_search_ctes() -> str:
    """The WITH-prefix shared by the plain ADC search oracle and the
    refined one: quantized vectors → coarse Lloyd chain → per-subspace PQ
    chains → probes → the `adc` candidate CTE (query_id, neighbor_id,
    adc_dist). Callers append their final SELECT (and extra CTEs)."""
    probes = _nearest_sql(
        "vecs",
        f"c{LLOYD_ITERS}",
        "v.vec_id AS query_id, c.cid AS qcid",
        NPROBE,
        f"v.vec_id < {PQ_QUERIES}",
    )
    joins, adc_dist = _adc_sql("fa.vec_id")
    return f"""WITH {_kmeans_cte_prefix()},
    qvecs AS (SELECT vec_id, v FROM vecs),
    {_pq_chains()},
    probes AS ({probes}),
    adc AS (
        SELECT p.query_id, fa.vec_id AS neighbor_id,
               {adc_dist} AS adc_dist
        FROM probes p
        JOIN final_assign fa ON fa.cid = p.qcid
        JOIN qvecs q ON q.vec_id = p.query_id
        {joins}
        WHERE fa.vec_id <> p.query_id
    )"""


def _pq_ivf_oracle() -> str:
    return _pq_search_ctes() + _ADC_TOPK


def _pq_refine_oracle() -> str:
    return f"""{_pq_search_ctes()},
    shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adc_dist ASC, neighbor_id ASC)
                       AS rn
            FROM adc
        ) WHERE rn <= {PQ_REFINE_MULT * PQ_TOPK}
    ),
    refined AS (
        SELECT s.query_id, s.neighbor_id,
               CAST(list_sum(list_transform(range(1, len(nv.v) + 1),
                    i -> (nv.v[i] - q.v[i]) * (nv.v[i] - q.v[i])))
                    AS BIGINT) AS d2
        FROM shortlist s
        JOIN qvecs nv ON nv.vec_id = s.neighbor_id
        JOIN qvecs q ON q.vec_id = s.query_id
    )
    SELECT query_id, neighbor_id, d2, rank FROM (
        SELECT query_id, neighbor_id, d2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2 ASC, neighbor_id ASC) AS rank
        FROM refined
    ) WHERE rank <= {PQ_TOPK}"""


def _ivf_scored(spark: SparkSession, sf_dir: str):
    """Shared IVF-PQ read-path prefix: build the index (coarse quantizer,
    cells, codebooks, codes), probe the first PQ_QUERIES vectors, ADC-score
    every code in the probed cells. Returns (vecs, scored, w) — the plain
    ADC search and the refined search both finish from here."""
    from pyspark.sql import Window

    vecs = quantized_vectors(spark, sf_dir)
    coarse = train_kmeans(vecs)[0]
    cells = _assign_cells(vecs, coarse).select("vec_id", "cid")
    cent_sets = train_kmeans(vecs, k=PQ_K, n_sub=PQ_SUB)
    # the stored IVF-PQ posting lists
    index = pq_codes(vecs, cent_sets).join(cells, "vec_id")

    queries = _pq_queries(vecs)
    probes = _probe_cells(
        vecs.where(F.col("vec_id") < PQ_QUERIES), coarse
    ).select(
        F.col("vec_id").alias("query_id"),
        F.explode("probe_cids").alias("cid"),
    )
    adc = _adc_pair_fn(cent_sets, queries)
    scored = (
        index.join(F.broadcast(probes), "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc("query_id", "code_0", "code_1", "code_2", "code_3").alias(
                "adc_dist"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return vecs, scored, w


@query("ext_pq_ivf_search", oracle=_pq_ivf_oracle())
def ext_pq_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3i — the full IVF-PQ read path (the FAISS IndexIVFPQ shape): a
    coarse K=8 Lloyd quantizer routes each query to its nprobe=2 nearest
    cells, and ADC lookup tables score ONLY the codes stored in those
    cells — compressed storage (PQ) and pruned scan (IVF) composed, which
    is how a 100 TB ANN index actually serves queries. Coarse training,
    cell assignment, codebooks, codes, probes, ADC distances and the final
    top-k are ALL integer-exact and hash-checked in one oracle.

    Scale: the scan touches nprobe/K of the corpus at 4 ints/vector —
    ~120× less I/O than brute force over raw vectors; the only shuffle is
    the per-query top-k window."""
    vecs, scored, w = _ivf_scored(spark, sf_dir)
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= PQ_TOPK
    )


@query("ext_pq_refine_search", oracle=_pq_refine_oracle())
def ext_pq_refine_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3j — IVF-PQ + exact re-rank (the FAISS ``IndexRefineFlat`` shape),
    round-13's answer to the measured ADC ranking floor: the ADC scan
    ranks a shortlist of PQ_REFINE_MULT × PQ_TOPK candidates per query,
    then EXACT integer squared-L2 distances on just those rows pick the
    final top-k. The 100 TB economics are unchanged — the corpus-wide scan
    still touches only nprobe/K of the index at 4 ints/vector; the refine
    join touches shortlist-sized rows of the raw vectors (tens per query).
    Measured at 1 M vectors (tools/bench_ann_pqk.py, SCALE.md round-13):
    ADC-only recall@10 saturates at 0.105→0.155 across PQ_K=8→256 on
    structure-free synthetic neighbors, while this refine shape recovers
    0.15→0.39 (100-row shortlist) and 0.75 (1000-row) — the shortlist is
    the quality lever, so it is a first-class operator.

    The exact distance runs through zip_with/aggregate (CodegenFallback is
    fine here: the input is shortlist-sized — bounded rows per query — not
    corpus-sized; the corpus-proportional work all happened in the ADC
    stage). Both broadcast sides are bounded (shortlist, query vectors)."""
    from pyspark.sql import Window

    vecs, scored, w = _ivf_scored(spark, sf_dir)
    short = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PQ_REFINE_MULT * PQ_TOPK)
        .select("query_id", "neighbor_id")
    )
    qv = vecs.where(F.col("vec_id") < PQ_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    nv = vecs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
    )
    refined = (
        nv.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with("nv", "qv", lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    return refined.withColumn("rank", F.row_number().over(w2)).where(
        F.col("rank") <= PQ_TOPK
    )
