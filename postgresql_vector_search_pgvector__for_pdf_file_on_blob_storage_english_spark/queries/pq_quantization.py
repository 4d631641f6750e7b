# Auto-split from the monolithic queries.py (VERDICT r5 #9);
# registration side effects run at import, in package order.
from __future__ import annotations

from ._base import (  # noqa: F401
    DataFrame,
    _drain,
    F,
    SparkSession,
    _dd_dot,
    _dd_l2,
    _dd_l2sq,
    _register,
    _t,
    dd_sql,
)
from .ann_ivf_lsh import _N_CENTROIDS, assign_ivf  # noqa: F401
from .dedup import _DD_NVEC  # noqa: F401
# Product quantization (operators/pq.py): m=4 subspaces x 16 centroids
# over the 64-dim fixtures; codebooks = subvectors of the 16 lowest-id
# corpus vectors, so DuckDB reconstructs codebooks, codes and ADC
# scores arithmetically.
# ==========================================================================

from ..operators.pq import fixed_codebooks, pq_encode, pq_search  # noqa: E402

_PQ_M, _PQ_KSUB, _PQ_DSUB = 4, 16, 16
_PQ_PROBE_ID = 9

_DD_PQ_CODES = f"""
cent AS (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < {_PQ_KSUB}),
pairs AS (
  SELECT e.vec_id, e.label, j.j::INT AS j, c.c,
         list_sum(list_transform(range(1, {_PQ_DSUB} + 1), i ->
           (e.embedding[j.j * {_PQ_DSUB} + i]::DOUBLE - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
           * (e.embedding[j.j * {_PQ_DSUB} + i]::DOUBLE - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
         )) AS d
  FROM embeddings e, (SELECT unnest(range(0, {_PQ_M})) AS j) j, cent c
),
codes AS (
  SELECT vec_id, label, j, c AS code
  FROM pairs
  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) = 1
)
"""


def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    books = fixed_codebooks(emb, m=_PQ_M, ksub=_PQ_KSUB)
    out = pq_encode(emb, books)
    return out.select(
        "vec_id", "label",
        *[F.element_at("pq_code", j + 1).alias(f"code_{j}") for j in range(_PQ_M)],
    )


_register(
    "pq_encode_codes",
    _pq_codes,
    f"""
WITH {_DD_PQ_CODES}
SELECT vec_id, any_value(label) AS label,
       max(CASE WHEN j = 0 THEN code END)::INT AS code_0,
       max(CASE WHEN j = 1 THEN code END)::INT AS code_1,
       max(CASE WHEN j = 2 THEN code END)::INT AS code_2,
       max(CASE WHEN j = 3 THEN code END)::INT AS code_3
FROM codes GROUP BY vec_id
""",
)


def _pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import codebooks_from_vectors

    emb = _t(spark, sf_dir, "embeddings")
    # the probe id sits inside the ksub lowest-id seed vectors, so ONE
    # driver collect yields both the codebooks and the query vector —
    # construction cost profiled at half the r10 line's driver time
    # (ROOTCAUSES.md r11: the ADC scan itself executes in 0.80 s at
    # sf0.1, already faster than the r1 execute-only 0.87 s)
    seed = emb.select("vec_id", "embedding").orderBy("vec_id").limit(_PQ_KSUB).collect()
    books = codebooks_from_vectors([r["embedding"] for r in seed], _PQ_M)
    # the single-collect trick only holds when ids are contiguous from 0
    # (`vec_id < ksub` in the oracle matches orderBy/limit under the
    # same assumption); verify MEMBERSHIP on the collected seed rather
    # than relating two constants, and fall back to a dedicated fetch
    qrows = [r for r in seed if r["vec_id"] == _PQ_PROBE_ID]
    if qrows:
        qvec = qrows[0]["embedding"]
    else:
        probe = emb.filter(F.col("vec_id") == _PQ_PROBE_ID).select("embedding").collect()
        if not probe:
            raise ValueError(
                f"pq_adc_search: probe vec_id={_PQ_PROBE_ID} absent from embeddings; "
                "the fixture must contain the probe vector"
            )
        qvec = probe[0]["embedding"]
    encoded = pq_encode(emb, books).select("vec_id", "label", "pq_code")
    out = pq_search(encoded, list(qvec), books, k=5, payload_cols=["vec_id", "label"])
    return out.select("vec_id", "label", F.round("adc_dist_sq", 4).alias("adc_dist_sq"))


_register(
    "pq_adc_search_top5",
    _pq_adc_search,
    f"""
WITH {_DD_PQ_CODES},
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_PQ_PROBE_ID}),
lut AS (
  SELECT c.c, j.j::INT AS j,
         list_sum(list_transform(range(1, {_PQ_DSUB} + 1), i ->
           (q.qe[j.j * {_PQ_DSUB} + i]::DOUBLE - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
           * (q.qe[j.j * {_PQ_DSUB} + i]::DOUBLE - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
         )) AS d
  FROM cent c, (SELECT unnest(range(0, {_PQ_M})) AS j) j, q
),
adc AS (
  SELECT cd.vec_id, any_value(cd.label) AS label, sum(l.d) AS dist
  FROM codes cd JOIN lut l ON cd.j = l.j AND cd.code = l.c
  GROUP BY cd.vec_id
)
SELECT vec_id, label, round(dist, 4) AS adc_dist_sq
FROM adc ORDER BY dist, vec_id LIMIT 5
""",
)


# IVF-PQ: coarse quantizer + residual PQ codes + per-list ADC — the
# composed billion-scale index.  Same deterministic stand-ins (coarse
# centroids AND PQ codebooks from the lowest-id vectors), so the full
# assign -> residual -> encode -> probe -> ADC chain replays in SQL.
_IVFPQ_NPROBE = 2


def _ann_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import ivfpq_encode, ivfpq_search

    emb = _t(spark, sf_dir, "embeddings")
    # lazy corpus branch, NOT _local_centroids: the batch-5
    # localization was re-measured with alternating bench-like
    # process-cold runs and REVERTED — see _ivfpq_fixture
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    books = fixed_codebooks(emb, m=_PQ_M, ksub=_PQ_KSUB)
    encoded = ivfpq_encode(emb, centroids, books, payload_cols=["vec_id", "label"])
    qvec = list(emb.filter(F.col("vec_id") == _PQ_PROBE_ID).first()["embedding"])
    out = ivfpq_search(
        encoded, centroids, qvec, books, k=5, nprobe=_IVFPQ_NPROBE,
        payload_cols=["vec_id", "label", "centroid_id"],
    )
    return out.select(
        "vec_id", "label", "centroid_id", F.round("adc_dist_sq", 4).alias("adc_dist_sq")
    )


_DD_IVFPQ = f"""
WITH coarse AS (
  SELECT vec_id AS cc, embedding AS ccv FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
cent AS (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < {_PQ_KSUB}),
cassign AS (
  SELECT e.vec_id, e.label, e.embedding, co.cc, co.ccv
  FROM embeddings e, coarse co
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY {_dd_l2("e.embedding", "co.ccv")}, co.cc) = 1
),
resid AS (
  SELECT vec_id, label, cc,
         list_transform(range(1, {_PQ_M} * {_PQ_DSUB} + 1),
                        i -> embedding[i]::DOUBLE - ccv[i]::DOUBLE) AS rv
  FROM cassign
),
rpairs AS (
  SELECT r.vec_id, r.label, r.cc, j.j::INT AS j, c.c,
         list_sum(list_transform(range(1, {_PQ_DSUB} + 1), i ->
           (r.rv[j.j * {_PQ_DSUB} + i] - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
           * (r.rv[j.j * {_PQ_DSUB} + i] - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
         )) AS d
  FROM resid r, (SELECT unnest(range(0, {_PQ_M})) AS j) j, cent c
),
rcodes AS (
  SELECT vec_id, label, cc, j, c AS code FROM rpairs
  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) = 1
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_PQ_PROBE_ID}),
probe AS (
  SELECT cc, ccv FROM coarse, q
  ORDER BY {_dd_l2sq("ccv", "q.qe")}, cc
  LIMIT {_IVFPQ_NPROBE}
),
lut AS (
  SELECT p.cc, j.j::INT AS j, c.c,
         list_sum(list_transform(range(1, {_PQ_DSUB} + 1), i ->
           ((q.qe[j.j * {_PQ_DSUB} + i]::DOUBLE - p.ccv[j.j * {_PQ_DSUB} + i]::DOUBLE)
            - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
           * ((q.qe[j.j * {_PQ_DSUB} + i]::DOUBLE - p.ccv[j.j * {_PQ_DSUB} + i]::DOUBLE)
              - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
         )) AS d
  FROM probe p, (SELECT unnest(range(0, {_PQ_M})) AS j) j, cent c, q
),
adc AS (
  SELECT cd.vec_id, any_value(cd.label) AS label, any_value(cd.cc) AS centroid_id,
         sum(l.d) AS dist
  FROM rcodes cd JOIN lut l ON cd.cc = l.cc AND cd.j = l.j AND cd.code = l.c
  GROUP BY cd.vec_id
)
SELECT vec_id, label, centroid_id, round(dist, 4) AS adc_dist_sq
FROM adc ORDER BY dist, vec_id LIMIT 5
"""

_register("ann_ivfpq_search", _ann_ivfpq_search, _DD_IVFPQ)


# Persisted IVF-PQ (round 6, VERDICT r5 #3): the deployed IVFADC shape —
# codes-only parquet partitioned by coarse list; probe = static partition
# prune + per-list ADC LUT + exact rerank via pushed In filter.  Same
# contract as quant_ivf_sq8_index_search.  The oracle replays the FULL
# chain (assignment, residual codes, probe, ADC pool, exact rerank) at
# the honest deployed config (nprobe=2, oversample=10) — recall < 1 at
# the near-isotropic fixtures is expected and gated bit-exactly, rather
# than forcing a near-exhaustive probe to make an exact-top-k gate valid.
_IVFPQ_POOL = 50  # k * oversample


def _pq_index_path(sf_dir: str, name: str) -> str:
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{name}_{tag}_{os.getpid()}")


def _ivfpq_fixture(spark: SparkSession, sf_dir: str):
    # r13 opt, tried and REVERTED (twice-measured): `_local_centroids`
    # (collect the 16-row centroid relation once, rebuild local) won a
    # warm in-session min-of-9 A/B, but both the 5-run cold bench
    # medians (probe 0.77 -> 0.93 s, index_search 4.02 -> 4.75 s vs the
    # pre-change baseline) and an alternating bench-like process A/B
    # (commit c63aeb1, 8 runs each: probe ~2.27 vs ~1.00 s,
    # index_search ~3.68 vs ~3.00 s) show the blocking collect +
    # createDataFrame costs far more per invocation than the lazy
    # 16-row pushed-filter scans it removes.  Keep the lazy branch.
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    books = fixed_codebooks(emb, m=_PQ_M, ksub=_PQ_KSUB)
    return emb, centroids, books


def _ann_ivfpq_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search the persisted IVF-PQ index: write the codes-only artifact
    (operators/pq.py::pq_index_write — m bytes/vector, hive-partitioned
    by coarse list), probe nprobe=2 lists via static PartitionFilters,
    ADC-score their codes, exact-rerank the 50-candidate pool against
    the float corpus through a pushed In filter."""
    from ..operators.pq import pq_index_search, pq_index_write

    emb, centroids, books = _ivfpq_fixture(spark, sf_dir)
    path = _pq_index_path(sf_dir, "ivfpq_index")
    pq_index_write(emb, centroids, books, path, payload_cols=["label"])
    q = list(emb.filter(F.col("vec_id") == _PQ_PROBE_ID).first()["embedding"])
    out = pq_index_search(
        spark, path, centroids, emb, q, books,
        k=5, nprobe=_IVFPQ_NPROBE, oversample=10, payload_cols=["label"],
    )
    return out.select("vec_id", "label", F.round("distance", 4).alias("distance"))


# Shared replay CTEs: coarse assignment -> residual PQ codes (identical
# fragments to _DD_IVFPQ), then probe, per-list LUT, ADC POOL, exact
# rerank.  The ADC sum is spelled as an ordered 4-term addition (one
# pivoted term per subspace) so both engines accumulate in subspace
# order — a grouped sum() would add in engine-dependent order.
_DD_IVFPQ_IDX = f"""
WITH coarse AS (
  SELECT vec_id AS cc, embedding AS ccv FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
cent AS (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < {_PQ_KSUB}),
cassign AS (
  SELECT e.vec_id, e.label, e.embedding, co.cc, co.ccv
  FROM embeddings e, coarse co
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY {_dd_l2("e.embedding", "co.ccv")}, co.cc) = 1
),
resid AS (
  SELECT vec_id, label, cc,
         list_transform(range(1, {_PQ_M} * {_PQ_DSUB} + 1),
                        i -> embedding[i]::DOUBLE - ccv[i]::DOUBLE) AS rv
  FROM cassign
),
rpairs AS (
  SELECT r.vec_id, r.cc, j.j::INT AS j, c.c,
         list_sum(list_transform(range(1, {_PQ_DSUB} + 1), i ->
           (r.rv[j.j * {_PQ_DSUB} + i] - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
           * (r.rv[j.j * {_PQ_DSUB} + i] - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
         )) AS d
  FROM resid r, (SELECT unnest(range(0, {_PQ_M})) AS j) j, cent c
),
rcodes AS (
  SELECT vec_id, cc, j, c AS code FROM rpairs
  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) = 1
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_PQ_PROBE_ID}),
probe AS (
  SELECT cc, ccv FROM coarse, q
  ORDER BY {_dd_l2sq("ccv", "q.qe")}, cc
  LIMIT {_IVFPQ_NPROBE}
),
lut AS (
  SELECT p.cc, j.j::INT AS j, c.c,
         list_sum(list_transform(range(1, {_PQ_DSUB} + 1), i ->
           ((q.qe[j.j * {_PQ_DSUB} + i]::DOUBLE - p.ccv[j.j * {_PQ_DSUB} + i]::DOUBLE)
            - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
           * ((q.qe[j.j * {_PQ_DSUB} + i]::DOUBLE - p.ccv[j.j * {_PQ_DSUB} + i]::DOUBLE)
              - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
         )) AS d
  FROM probe p, (SELECT unnest(range(0, {_PQ_M})) AS j) j, cent c, q
),
adc AS (
  SELECT cd.vec_id,
         max(CASE WHEN cd.j = 0 THEN l.d END)
         + max(CASE WHEN cd.j = 1 THEN l.d END)
         + max(CASE WHEN cd.j = 2 THEN l.d END)
         + max(CASE WHEN cd.j = 3 THEN l.d END) AS dist
  FROM rcodes cd JOIN lut l ON cd.cc = l.cc AND cd.j = l.j AND cd.code = l.c
  GROUP BY cd.vec_id
),
pool AS (SELECT vec_id FROM adc ORDER BY dist, vec_id LIMIT {_IVFPQ_POOL})
SELECT e.vec_id, e.label, round({_dd_l2("e.embedding", "q.qe")}, 4) AS distance
FROM embeddings e JOIN pool USING (vec_id), q
ORDER BY {_dd_l2("e.embedding", "q.qe")}, e.vec_id
LIMIT 5
"""

_register("ann_ivfpq_index_search", _ann_ivfpq_index_search, _DD_IVFPQ_IDX)


def _ann_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVING-path twin of ``ann_ivfpq_index_search`` (VERDICT r8 #3):
    the codes-only artifact is built once if absent (no pid in the path
    — the probe entry WANTS cross-run reuse; the fixtures are static
    and the tag pins the build params), so the benched latency is the
    deployed chain alone: nprobe=2 PartitionFilters, ADC over the
    pruned codes, exact rerank of the 50-candidate pool.  Same oracle
    as the build-inclusive entry."""
    import hashlib
    import os
    import tempfile

    from ..operators.pq import pq_index_search, pq_index_write

    emb, centroids, books = _ivfpq_fixture(spark, sf_dir)
    params = f"m{_PQ_M}_k{_PQ_KSUB}_cent{_N_CENTROIDS}_v1"
    tag = hashlib.md5(f"{sf_dir}|{params}".encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_ivfpq_probe_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        pq_index_write(emb, centroids, books, path, payload_cols=["label"])
    q = list(emb.filter(F.col("vec_id") == _PQ_PROBE_ID).first()["embedding"])
    out = pq_index_search(
        spark, path, centroids, emb, q, books,
        k=5, nprobe=_IVFPQ_NPROBE, oversample=10, payload_cols=["label"],
    )
    return out.select("vec_id", "label", F.round("distance", 4).alias("distance"))


_register("ann_ivfpq_probe", _ann_ivfpq_probe, _DD_IVFPQ_IDX)


def _ann_ivfpq_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List-size distribution of the persisted IVF-PQ index — same
    maintenance dial as ann_ivf_index_stats (ivf_index_stats is layout-
    generic: it reads only the partition column of the codes artifact).
    The oracle replays the fixed-centroid coarse assignment."""
    from ..operators.ann import ivf_index_stats
    from ..operators.pq import pq_index_write

    emb, centroids, books = _ivfpq_fixture(spark, sf_dir)
    path = _pq_index_path(sf_dir, "ivfpq_index")
    pq_index_write(emb, centroids, books, path, payload_cols=["label"])
    return ivf_index_stats(spark, path).withColumn(
        "centroid_id", F.col("centroid_id").cast("long")
    )


_register(
    "ann_ivfpq_index_stats",
    _ann_ivfpq_index_stats,
    dd_sql("""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < {nc}
),
assigned AS (
  SELECT e.vec_id, c.centroid_id
  FROM embeddings e, cent c
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY {adist}, c.centroid_id) = 1
),
per AS (SELECT centroid_id, count(*) AS n_vectors FROM assigned GROUP BY centroid_id)
SELECT centroid_id, n_vectors,
       round(n_vectors / (SELECT sum(n_vectors) FROM per), 4) AS frac
FROM per
""", nc=_N_CENTROIDS, adist=_dd_l2("e.embedding", "c.cvec")),
)


def _ann_ivfpq_index_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness report for the persisted IVF-PQ index: corpus rows not
    yet encoded into the codes artifact, per target list (index built
    on a 6/7 subset so staleness is non-vacuous — the ivf staleness
    contract, on the codes-only layout)."""
    from ..operators.pq import pq_index_write

    emb, centroids, books = _ivfpq_fixture(spark, sf_dir)
    path = _pq_index_path(sf_dir, "ivfpq_stale")
    pq_index_write(
        emb.filter(F.col("vec_id") % 7 != 0), centroids, books, path,
        payload_cols=["label"],
    )
    idx_ids = spark.read.parquet(path).select("vec_id")
    missing = assign_ivf(emb, centroids).join(idx_ids, "vec_id", "left_anti")
    return missing.groupBy(
        F.col("centroid_id").cast("long").alias("centroid_id")
    ).agg(F.count(F.lit(1)).alias("n_missing"), F.min("vec_id").alias("first_missing"))


_register(
    "ann_ivfpq_index_staleness",
    _ann_ivfpq_index_staleness,
    dd_sql("""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < {nc}
),
assigned AS (
  SELECT e.vec_id, c.centroid_id
  FROM embeddings e, cent c
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY {adist}, c.centroid_id) = 1
)
SELECT centroid_id, count(*) AS n_missing, min(vec_id) AS first_missing
FROM assigned WHERE vec_id % 7 = 0
GROUP BY centroid_id
""", nc=_N_CENTROIDS, adist=_dd_l2("e.embedding", "c.cvec")),
)


# ---- GEMM scale path for pair similarity, same oracle ---------------------

from ..operators.dedup import embedding_neardup_pairs_numpy  # noqa: E402


def _similar_pairs_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs_numpy(emb, block_col="label", threshold=-1.0)
    return pairs.orderBy(F.col("cosine_sim").desc(), "id_a", "id_b").limit(20)


_register(
    "similarity_top_pairs_numpy",
    _similar_pairs_topk_numpy,
    f"""
WITH sets AS (SELECT vec_id, label, {dd_sql(_DD_NVEC, v="embedding")} AS nvec FROM embeddings)
SELECT l.vec_id AS id_a, r.vec_id AS id_b,
       round({_dd_dot("l.nvec", "r.nvec")}, 4) AS cosine_sim
FROM sets l JOIN sets r ON l.label = r.label AND l.vec_id < r.vec_id
ORDER BY {_dd_dot("l.nvec", "r.nvec")} DESC, id_a, id_b
LIMIT 20
""",
)


def _tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


_register(
    "tpch_q6_forecast_revenue",
    _tpch_q6_forecast_revenue,
    """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""",
)


def _tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct"),
            F.count("*").alias("n_rows"),
        )
    )


_register(
    "tpch_q14_promo_revenue",
    _tpch_q14_promo_revenue,
    """
SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1.0 - l_discount)), 4) AS promo_revenue_pct,
       count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
""",
)


# ==========================================================================


def _stream_pq_index_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF-PQ index maintenance through the driver gate:
    embeddings arrive as 2 micro-batched files, each batch coarse-
    assigned + residual-encoded + appended into the codes-only index
    (streaming/index_stream.py::stream_into_pq_index), then the drained
    index is probed.  Centroids and codebooks are fixed, so
    append-equals-rebuild holds exactly and the oracle is the SAME full
    ADC-replay SQL as the bulk ann_ivfpq_index_search — the streaming
    codepath is held to the batch answer, not a weaker rows-only check
    (tests/test_streaming_index.py proves the invariant per-batch)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..operators.pq import pq_index_search
    from ..streaming.index_stream import stream_into_pq_index

    emb, centroids, books = _ivfpq_fixture(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_stream_pqidx_{tag}_{os.getpid()}")
    src = os.path.join(base, "src")
    idx = os.path.join(base, "index")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/f0")
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/f1")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = stream_into_pq_index(
        stream, centroids, books, idx, checkpoint=ckpt, payload_cols=["label"]
    )
    _drain(q, 120)

    qv = list(emb.filter(F.col("vec_id") == _PQ_PROBE_ID).first()["embedding"])
    out = pq_index_search(
        spark, idx, centroids, emb, qv, books,
        k=5, nprobe=_IVFPQ_NPROBE, oversample=10, payload_cols=["label"],
    )
    return out.select("vec_id", "label", F.round("distance", 4).alias("distance"))


_register("stream_pq_index_replay", _stream_pq_index_replay, _DD_IVFPQ_IDX)


# ==========================================================================
# IVF-PQ recall sweep (round 6) — the quality dial for the new persisted
# IVFADC family: batched RELATIONAL ADC search (operators/pq.py::
# ivfpq_search_join — in-plan per-query LUTs, no driver literals, N
# queries in one codes pass) measured against the exact top-5 at
# nprobe 1/2/4.  Complements ann_recall_sweep (IVF + LSH) and turns
# "how lossy is the compressed probe" into a gated relation.  On the
# near-isotropic fixtures the measured recall is LOW and nprobe-flat
# (~0.2: 4-byte residual codes carry little signal when variance is
# spread evenly) — which is precisely the honest reading, and why
# pq_index_search always exact-reranks an oversampled pool instead of
# trusting raw ADC order; trained (k-means) codebooks on clustered
# real data are the quality path.
# ==========================================================================

_PQR_QMOD, _PQR_QRES = 97, 9
_PQR_QCAP = 2000  # same Q-cap scale fix as _PQT_QCAP below
_PQR_NPROBES = (1, 2, 4)


def _ann_ivfpq_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import ivfpq_encode, ivfpq_search_join

    emb, centroids, books = _ivfpq_fixture(spark, sf_dir)
    enc = ivfpq_encode(emb, centroids, books, payload_cols=["vec_id"])
    queries = emb.filter(
        (F.col("vec_id") % _PQR_QMOD == _PQR_QRES) & (F.col("vec_id") < _PQR_QCAP)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    nq = queries.agg(F.count(F.lit(1)).alias("_nq"))

    from pyspark.sql import Window

    qv = F.col("query_vec")
    l2 = F.aggregate(
        F.zip_with(
            F.col("embedding"), qv, lambda a, b: F.pow(a.cast("double") - b.cast("double"), F.lit(2.0))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    we = Window.partitionBy("query_id").orderBy(F.col("_d").asc(), F.col("vec_id").asc())
    exact5 = (
        emb.crossJoin(F.broadcast(queries))
        .withColumn("_d", l2)
        .withColumn("_rk", F.row_number().over(we))
        .filter(F.col("_rk") <= 5)
        .select("query_id", "vec_id")
    )

    parts = []
    for np_ in _PQR_NPROBES:
        hits = ivfpq_search_join(
            enc, centroids, queries, books, k=5, nprobe=np_
        ).select("query_id", "vec_id")
        matched = hits.join(exact5, ["query_id", "vec_id"]).agg(
            F.count(F.lit(1)).alias("_m")
        )
        parts.append(
            matched.crossJoin(F.broadcast(nq)).select(
                F.lit(np_).alias("nprobe"),
                F.col("_nq").alias("n_queries"),
                F.round(F.col("_m") / (5.0 * F.col("_nq")), 4).alias("recall_at_5"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


_DD_IVFPQ_RECALL = f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id % {_PQR_QMOD} = {_PQR_QRES} AND vec_id < {_PQR_QCAP}
),
nq AS (SELECT count(*)::BIGINT AS nq FROM q),
exact5 AS MATERIALIZED (
  SELECT q.qid, e.vec_id FROM embeddings e CROSS JOIN q
  QUALIFY row_number() OVER (
    PARTITION BY q.qid ORDER BY {_dd_l2("e.embedding", "q.qe")}, e.vec_id) <= 5
),
coarse AS MATERIALIZED (
  SELECT vec_id AS cc, embedding AS ccv FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
cent AS MATERIALIZED (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < {_PQ_KSUB}),
cassign AS MATERIALIZED (
  SELECT e.vec_id, e.embedding, co.cc, co.ccv
  FROM embeddings e, coarse co
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY {_dd_l2("e.embedding", "co.ccv")}, co.cc) = 1
),
resid AS MATERIALIZED (
  SELECT vec_id, cc,
         list_transform(range(1, {_PQ_M} * {_PQ_DSUB} + 1),
                        i -> embedding[i]::DOUBLE - ccv[i]::DOUBLE) AS rv
  FROM cassign
),
rpairs AS MATERIALIZED (
  SELECT r.vec_id, r.cc, j.j::INT AS j, c.c,
         list_sum(list_transform(range(1, {_PQ_DSUB} + 1), i ->
           (r.rv[j.j * {_PQ_DSUB} + i] - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
           * (r.rv[j.j * {_PQ_DSUB} + i] - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
         )) AS d
  FROM resid r, (SELECT unnest(range(0, {_PQ_M})) AS j) j, cent c
),
rcodes AS MATERIALIZED (
  SELECT vec_id, cc, j, c AS code FROM rpairs
  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) = 1
),
cranked AS MATERIALIZED (
  SELECT q.qid, co.cc, co.ccv, q.qe,
         row_number() OVER (
           PARTITION BY q.qid ORDER BY {_dd_l2sq("co.ccv", "q.qe")}, co.cc) AS rc
  FROM coarse co CROSS JOIN q
  QUALIFY rc <= {max(_PQR_NPROBES)}
),
lutq AS MATERIALIZED (
  SELECT p.qid, p.cc, p.rc, j.j::INT AS j, c.c,
         list_sum(list_transform(range(1, {_PQ_DSUB} + 1), i ->
           ((p.qe[j.j * {_PQ_DSUB} + i]::DOUBLE - p.ccv[j.j * {_PQ_DSUB} + i]::DOUBLE)
            - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
           * ((p.qe[j.j * {_PQ_DSUB} + i]::DOUBLE - p.ccv[j.j * {_PQ_DSUB} + i]::DOUBLE)
              - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
         )) AS d
  FROM cranked p, (SELECT unnest(range(0, {_PQ_M})) AS j) j, cent c
),
adcq AS MATERIALIZED (
  SELECT l.qid, cd.vec_id, max(l.rc) AS rc,
         max(CASE WHEN cd.j = 0 THEN l.d END)
         + max(CASE WHEN cd.j = 1 THEN l.d END)
         + max(CASE WHEN cd.j = 2 THEN l.d END)
         + max(CASE WHEN cd.j = 3 THEN l.d END) AS dist
  FROM rcodes cd JOIN lutq l ON cd.cc = l.cc AND cd.j = l.j AND cd.code = l.c
  GROUP BY l.qid, cd.vec_id
),
{", ".join(chr(10) + f'''sel{np} AS (
  SELECT qid, vec_id FROM adcq WHERE rc <= {np}
  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) <= 5
)''' for np in _PQR_NPROBES)}
{" UNION ALL ".join(f'''
SELECT {np} AS nprobe, nq.nq AS n_queries,
       round((SELECT count(*) FROM sel{np} s JOIN exact5 x
              ON s.qid = x.qid AND s.vec_id = x.vec_id) / (5.0 * nq.nq), 4) AS recall_at_5
FROM nq''' for np in _PQR_NPROBES)}
"""

_register("ann_ivfpq_recall_sweep", _ann_ivfpq_recall_sweep, _DD_IVFPQ_RECALL)


# ==========================================================================
# Trained-codebook recall (round 8, VERDICT r7 #4) — the quality levers
# at EQUAL m/nprobe, measured against exact top-5 on ~n/10 queries:
#   fixed_raw     the status-quo codebooks (raw-vector subvectors);
#   trained_resid codebooks TRAINED on the coarse residuals by
#                 quantized-integer Lloyd (operators/pq.py::
#                 trained_residual_codebooks — integer sums are
#                 order-independent, so training is bit-identical
#                 across engines; the float-mean obstacle that forced
#                 fixed codebooks is removed, not avoided);
#   rerank_fixed  the DEPLOYED path: ADC-ordered oversampled pool
#                 (k*10) exact-reranked against the float corpus —
#                 what pq_index_search actually serves.
# Honest expectations on the near-isotropic fixtures (measured in the
# round-8 prototype, ~50 queries at sf0.01): the 16-bit code budget is
# information-limited, so trained ~= fixed (float k-means at 20
# iterations also lands ~0.24); the probe ceiling at nprobe=2 (exact
# distances within probed lists) is ~0.48, and the reranked pool
# reaches it.  On clustered real data the trained books are the
# standard lift; here the gate proves the machinery is exact, and the
# rerank line shows where the deployed recall actually comes from.
# ==========================================================================

_PQT_QMOD, _PQT_QRES = 10, 3
# Query-set CAP (scale fix, round 8): without it the query count grows
# with the corpus (vec_id % 10), making the recall eval inherently
# quadratic — measured 20x for 10x data at sf1 (477 s), all of it in
# the N x Q exact ground truth.  Recall is a fixed-sample statistic;
# the cap pins Q at <= 200 queries at every sf >= 0.01 while leaving
# both gated fixtures (all ids < 2000) bit-identical.  The oracle
# carries the same predicate, so engines agree by construction.
_PQT_QCAP = 2000
_PQT_NPROBE = 2
_PQT_POOL = 50
_PQT_SCALE_BITS = 20


def _ann_ivfpq_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.knn import knn_join
    from ..operators.pq import (
        ivfpq_encode,
        ivfpq_search_join,
        trained_residual_codebooks,
    )

    emb, centroids, books_raw = _ivfpq_fixture(spark, sf_dir)
    books_tr = trained_residual_codebooks(
        emb, centroids, m=_PQ_M, ksub=_PQ_KSUB, iters=2,
        scale_bits=_PQT_SCALE_BITS,
    )
    queries = emb.filter(
        (F.col("vec_id") % _PQT_QMOD == _PQT_QRES) & (F.col("vec_id") < _PQT_QCAP)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    nq = queries.agg(F.count(F.lit(1)).alias("_nq"))

    # Ground truth via the narrow batched-KNN operator (partition-local
    # top-k, auto GEMM dispatch) instead of a crossJoin + Q-partition
    # window — the N x Q relation never crosses an exchange.  sqrt is
    # monotone and the (distance, vec_id) tie-break matches, so the
    # winner set is identical to the oracle's l2sq QUALIFY form.
    exact5 = knn_join(
        emb, queries, k=5, metric="l2", id_col="vec_id",
        payload_cols=["vec_id"], local_topk=True,
    ).select("query_id", "vec_id")

    def recall_row(config: str, hits: DataFrame) -> DataFrame:
        matched = hits.join(exact5, ["query_id", "vec_id"]).agg(
            F.count(F.lit(1)).alias("_m")
        )
        return matched.crossJoin(F.broadcast(nq)).select(
            F.lit(config).alias("config"),
            F.lit(_PQT_NPROBE).alias("nprobe"),
            F.col("_nq").alias("n_queries"),
            F.round(F.col("_m") / (5.0 * F.col("_nq")), 4).alias("recall_at_5"),
        )

    enc_raw = ivfpq_encode(emb, centroids, books_raw, payload_cols=["vec_id"])
    enc_tr = ivfpq_encode(emb, centroids, books_tr, payload_cols=["vec_id"])

    parts = []
    for config, enc, books in (
        ("fixed_raw", enc_raw, books_raw),
        ("trained_resid", enc_tr, books_tr),
    ):
        hits = ivfpq_search_join(
            enc, centroids, queries, books, k=5, nprobe=_PQT_NPROBE
        ).select("query_id", "vec_id")
        parts.append(recall_row(config, hits))

    pool = ivfpq_search_join(
        enc_raw, centroids, queries, books_raw, k=_PQT_POOL, nprobe=_PQT_NPROBE
    ).select("query_id", "vec_id")
    # The rerank window runs on the BOUNDED Q x pool relation (capped
    # queries x 50 candidates), not the corpus — unlike the ground
    # truth above, this stays a window without a scale term.
    from pyspark.sql import Window

    l2sq = F.aggregate(
        F.zip_with(
            F.col("embedding"), F.col("query_vec"),
            lambda a, b: F.pow(a.cast("double") - b.cast("double"), F.lit(2.0)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("_d").asc(), F.col("vec_id").asc())
    reranked = (
        pool.join(emb, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .withColumn("_d", l2sq)
        .withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") <= 5)
        .select("query_id", "vec_id")
    )
    parts.append(recall_row("rerank_fixed", reranked))

    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out.orderBy("config")


_PQT_S = 1 << _PQT_SCALE_BITS


def _dd_lloyd_iter(n: int, prev: str) -> str:
    """One quantized-Lloyd round: integer argmin assignment against
    ``{prev}`` then trunc-div centroid update with empty-cluster
    carryover (DuckDB ``//`` == Spark ``div`` == the trainer's
    sign-aware Python div: all truncate toward zero)."""
    return f"""
la{n} AS MATERIALIZED (
  SELECT r.vid, r.j, b.c, CAST(sum((r.v - b.v) * (r.v - b.v)) AS BIGINT) AS d
  FROM rqs r JOIN {prev} b ON r.j = b.j AND r.si = b.si
  GROUP BY r.vid, r.j, b.c
),
lasg{n} AS MATERIALIZED (
  SELECT vid, j, c AS code FROM la{n}
  QUALIFY row_number() OVER (PARTITION BY vid, j ORDER BY d, c) = 1
),
lnew{n} AS MATERIALIZED (
  SELECT a.j, a.code AS c, r.si,
         CAST(sum(r.v) AS BIGINT) // CAST(count(*) AS BIGINT) AS v
  FROM lasg{n} a JOIN rqs r ON r.vid = a.vid AND r.j = a.j
  GROUP BY a.j, a.code, r.si
),
lb{n} AS MATERIALIZED (
  SELECT p.j, p.c, p.si, coalesce(n.v, p.v) AS v
  FROM {prev} p LEFT JOIN lnew{n} n ON n.j = p.j AND n.c = p.c AND n.si = p.si
),"""


_DD_IVFPQ_TRAINED = f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id % {_PQT_QMOD} = {_PQT_QRES} AND vec_id < {_PQT_QCAP}
),
nq AS (SELECT CAST(count(*) AS BIGINT) AS nq FROM q),
exact5 AS MATERIALIZED (
  SELECT q.qid, e.vec_id FROM embeddings e CROSS JOIN q
  QUALIFY row_number() OVER (
    PARTITION BY q.qid ORDER BY {_dd_l2sq("e.embedding", "q.qe")}, e.vec_id) <= 5
),
coarse AS MATERIALIZED (
  SELECT vec_id AS cc, embedding AS ccv FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
cent AS MATERIALIZED (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < {_PQ_KSUB}),
cassign AS MATERIALIZED (
  SELECT e.vec_id, e.embedding, co.cc, co.ccv
  FROM embeddings e, coarse co
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY {_dd_l2("e.embedding", "co.ccv")}, co.cc) = 1
),
resid AS MATERIALIZED (
  SELECT vec_id, cc,
         list_transform(range(1, {_PQ_M} * {_PQ_DSUB} + 1),
                        i -> embedding[i]::DOUBLE - ccv[i]::DOUBLE) AS rv
  FROM cassign
),
rqs AS MATERIALIZED (
  -- quantized residual components: (vid, subspace j, in-subspace si, BIGINT v)
  SELECT vec_id AS vid, ((i - 1) // {_PQ_DSUB})::INT AS j,
         ((i - 1) % {_PQ_DSUB}) + 1 AS si,
         CAST(floor(rv[i] * {float(_PQT_S)} + 0.5) AS BIGINT) AS v
  FROM (SELECT vec_id, rv, unnest(generate_series(1, {_PQ_M} * {_PQ_DSUB})) AS i
        FROM resid)
),
lb0 AS MATERIALIZED (
  -- init: the ksub lowest-id residual subvectors, c = rank by vid
  SELECT CAST(dense_rank() OVER (ORDER BY vid) - 1 AS INT) AS c, j, si, v
  FROM rqs
  WHERE vid IN (SELECT vid FROM (SELECT DISTINCT vid FROM rqs ORDER BY vid LIMIT {_PQ_KSUB}))
),{_dd_lloyd_iter(1, "lb0")}{_dd_lloyd_iter(2, "lb1")}
tbook AS MATERIALIZED (
  SELECT j, c, list(v::DOUBLE / {float(_PQT_S)} ORDER BY si) AS bl
  FROM lb2 GROUP BY j, c
),
cranked AS MATERIALIZED (
  SELECT q.qid, co.cc, co.ccv, q.qe,
         row_number() OVER (
           PARTITION BY q.qid ORDER BY {_dd_l2sq("co.ccv", "q.qe")}, co.cc) AS rc
  FROM coarse co CROSS JOIN q
  QUALIFY rc <= {_PQT_NPROBE}
),
rpairs AS MATERIALIZED (
  SELECT r.vec_id, r.cc, j.j::INT AS j, c.c,
         list_sum(list_transform(range(1, {_PQ_DSUB} + 1), i ->
           (r.rv[j.j * {_PQ_DSUB} + i] - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
           * (r.rv[j.j * {_PQ_DSUB} + i] - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
         )) AS d
  FROM resid r, (SELECT unnest(range(0, {_PQ_M})) AS j) j, cent c
),
rcodes AS MATERIALIZED (
  SELECT vec_id, cc, j, c AS code FROM rpairs
  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) = 1
),
tpairs AS MATERIALIZED (
  SELECT r.vec_id, r.cc, t.j, t.c,
         list_sum(list_transform(range(1, {_PQ_DSUB} + 1), i ->
           (r.rv[t.j * {_PQ_DSUB} + i] - t.bl[i])
           * (r.rv[t.j * {_PQ_DSUB} + i] - t.bl[i])
         )) AS d
  FROM resid r, tbook t
),
tcodes AS MATERIALIZED (
  SELECT vec_id, cc, j, c AS code FROM tpairs
  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) = 1
),
lutq AS MATERIALIZED (
  SELECT p.qid, p.cc, j.j::INT AS j, c.c,
         list_sum(list_transform(range(1, {_PQ_DSUB} + 1), i ->
           ((p.qe[j.j * {_PQ_DSUB} + i]::DOUBLE - p.ccv[j.j * {_PQ_DSUB} + i]::DOUBLE)
            - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
           * ((p.qe[j.j * {_PQ_DSUB} + i]::DOUBLE - p.ccv[j.j * {_PQ_DSUB} + i]::DOUBLE)
              - c.cv[j.j * {_PQ_DSUB} + i]::DOUBLE)
         )) AS d
  FROM cranked p, (SELECT unnest(range(0, {_PQ_M})) AS j) j, cent c
),
tlutq AS MATERIALIZED (
  SELECT p.qid, p.cc, t.j, t.c,
         list_sum(list_transform(range(1, {_PQ_DSUB} + 1), i ->
           ((p.qe[t.j * {_PQ_DSUB} + i]::DOUBLE - p.ccv[t.j * {_PQ_DSUB} + i]::DOUBLE)
            - t.bl[i])
           * ((p.qe[t.j * {_PQ_DSUB} + i]::DOUBLE - p.ccv[t.j * {_PQ_DSUB} + i]::DOUBLE)
              - t.bl[i])
         )) AS d
  FROM cranked p, tbook t
),
adcq AS MATERIALIZED (
  SELECT l.qid, cd.vec_id,
         max(CASE WHEN cd.j = 0 THEN l.d END)
         + max(CASE WHEN cd.j = 1 THEN l.d END)
         + max(CASE WHEN cd.j = 2 THEN l.d END)
         + max(CASE WHEN cd.j = 3 THEN l.d END) AS dist
  FROM rcodes cd JOIN lutq l ON cd.cc = l.cc AND cd.j = l.j AND cd.code = l.c
  GROUP BY l.qid, cd.vec_id
),
tadcq AS MATERIALIZED (
  SELECT l.qid, cd.vec_id,
         max(CASE WHEN cd.j = 0 THEN l.d END)
         + max(CASE WHEN cd.j = 1 THEN l.d END)
         + max(CASE WHEN cd.j = 2 THEN l.d END)
         + max(CASE WHEN cd.j = 3 THEN l.d END) AS dist
  FROM tcodes cd JOIN tlutq l ON cd.cc = l.cc AND cd.j = l.j AND cd.code = l.c
  GROUP BY l.qid, cd.vec_id
),
sel_raw AS (
  SELECT qid, vec_id FROM adcq
  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) <= 5
),
sel_tr AS (
  SELECT qid, vec_id FROM tadcq
  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) <= 5
),
pool AS (
  SELECT qid, vec_id FROM adcq
  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) <= {_PQT_POOL}
),
sel_rr AS (
  SELECT p.qid, p.vec_id
  FROM pool p JOIN embeddings e ON e.vec_id = p.vec_id JOIN q ON q.qid = p.qid
  QUALIFY row_number() OVER (
    PARTITION BY p.qid ORDER BY {_dd_l2sq("e.embedding", "q.qe")}, p.vec_id) <= 5
)
SELECT config, nprobe, n_queries, recall_at_5 FROM (
  SELECT 'fixed_raw' AS config, {_PQT_NPROBE} AS nprobe, nq.nq AS n_queries,
         round((SELECT count(*) FROM sel_raw s JOIN exact5 x
                ON s.qid = x.qid AND s.vec_id = x.vec_id) / (5.0 * nq.nq), 4) AS recall_at_5
  FROM nq
  UNION ALL
  SELECT 'trained_resid', {_PQT_NPROBE}, nq.nq,
         round((SELECT count(*) FROM sel_tr s JOIN exact5 x
                ON s.qid = x.qid AND s.vec_id = x.vec_id) / (5.0 * nq.nq), 4)
  FROM nq
  UNION ALL
  SELECT 'rerank_fixed', {_PQT_NPROBE}, nq.nq,
         round((SELECT count(*) FROM sel_rr s JOIN exact5 x
                ON s.qid = x.qid AND s.vec_id = x.vec_id) / (5.0 * nq.nq), 4)
  FROM nq
)
ORDER BY config
"""

_register("ann_ivfpq_recall_trained", _ann_ivfpq_recall_trained, _DD_IVFPQ_TRAINED)
