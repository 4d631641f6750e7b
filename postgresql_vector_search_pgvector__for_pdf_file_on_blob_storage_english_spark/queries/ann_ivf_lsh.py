# Auto-split from the monolithic queries.py (VERDICT r5 #9);
# registration side effects run at import, in package order.
from __future__ import annotations

from ._base import (  # noqa: F401
    DISTANCE_FNS,
    DataFrame,
    F,
    SparkSession,
    _dd_cosine_dist,
    _dd_l2,
    _register,
    _t,
    dd_sql,
)
# ANN scale paths: IVF coarse quantizer + random-hyperplane LSH
# (operators/ann.py; centroids = first 16 corpus vectors — a deterministic
# stand-in for k-means, identical on both sides)
# ==========================================================================

from ..operators.ann import assign_ivf, hyperplanes, ivf_search, lsh_bucket  # noqa: E402

_N_CENTROIDS = 16
_IVF_PROBE_ID = 5


def _local_centroids(spark: SparkSession, emb: DataFrame, n: int = _N_CENTROIDS) -> DataFrame:
    """The bounded centroid relation (n rows — the IVF model artifact)
    as a LOCAL in-memory relation: one driver collect per invocation,
    the same small movement a broadcast of trained centroids performs,
    instead of re-scanning the corpus parquet once per downstream use
    (the assign and every probe ranking each re-derived the
    filter+project branch; r13 opt).  Values round-trip
    collect -> createDataFrame exactly (float32 widens to double and
    narrows back losslessly), so every distance is bit-identical.

    UNUSED after re-measurement: a warm in-session min-of-9 A/B showed
    a win for the multi-step IVF-PQ fixtures, but both the 5-run cold
    bench medians (ann_ivfpq_probe 0.77 -> 0.93 s, ann_ivfpq_index_search
    4.02 -> 4.75 s) and an alternating bench-like process A/B
    (commit c63aeb1: probe ~2.27 vs ~1.00 s) measured the
    blocking collect + createDataFrame as a consistent per-invocation
    REGRESSION, so every call site keeps the lazy pushed-filter branch
    (the form the single-search IVF entries never left).  Kept as the
    documented trade for a deployment whose trained centroids already
    live on the driver."""
    src = emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    return spark.createDataFrame(src.collect(), src.schema)


def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    assigned = assign_ivf(emb, centroids)
    q = emb.filter(F.col("vec_id") == _IVF_PROBE_ID).select(F.col("embedding").alias("query_vec"))
    out = ivf_search(
        assigned, centroids, q, k=5, nprobe=1, payload_cols=["vec_id", "label", "centroid_id"]
    )
    return out.select(
        "vec_id", "label", "centroid_id", F.round("distance", 4).alias("distance")
    )


_DD_ANN_IVF = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
assigned AS (
  SELECT e.vec_id, e.label, e.embedding, c.centroid_id
  FROM embeddings e CROSS JOIN cent c
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY {_dd_l2("e.embedding", "c.cvec")}, c.centroid_id) = 1
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_IVF_PROBE_ID}),
probe AS (
  SELECT centroid_id FROM cent, q ORDER BY {_dd_l2("cvec", "q.qe")}, centroid_id LIMIT 1
)
SELECT a.vec_id, a.label, a.centroid_id, round({_dd_l2("a.embedding", "q.qe")}, 4) AS distance
FROM assigned a JOIN probe USING (centroid_id), q
ORDER BY {_dd_l2("a.embedding", "q.qe")}, a.vec_id
LIMIT 5
"""

_register("ann_ivf_search", _ann_ivf, _DD_ANN_IVF)


def _ann_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF (operators/ann.py::ivf_search_join): 8 queries, each
    probing its own nprobe=2 lists in one plan — scored volume tracks
    probed-list sizes, not |corpus| x N."""
    from ..operators.ann import ivf_search_join

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    assigned = assign_ivf(emb, centroids)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_search_join(
        assigned, centroids, queries, k=5, nprobe=2,
        payload_cols=["vec_id", "label", "centroid_id"],
    )
    return out.select(
        "query_id", "rank", "vec_id", "label", "centroid_id",
        F.round("distance", 4).alias("distance"),
    )


_DD_ANN_IVF_BATCH = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
assigned AS (
  SELECT e.vec_id, e.label, e.embedding, c.centroid_id
  FROM embeddings e CROSS JOIN cent c
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY {_dd_l2("e.embedding", "c.cvec")}, c.centroid_id) = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
probes AS (
  SELECT q.query_id, c.centroid_id FROM cent c, q
  QUALIFY row_number() OVER (
    PARTITION BY q.query_id ORDER BY {_dd_l2("c.cvec", "q.qe")}, c.centroid_id) <= 2
)
SELECT p.query_id,
       row_number() OVER (
         PARTITION BY p.query_id ORDER BY {_dd_l2("a.embedding", "q.qe")}, a.vec_id) AS rank,
       a.vec_id, a.label, a.centroid_id,
       round({_dd_l2("a.embedding", "q.qe")}, 4) AS distance
FROM assigned a JOIN probes p USING (centroid_id) JOIN q ON q.query_id = p.query_id
QUALIFY rank <= 5
"""

_register("ann_ivf_search_batch", _ann_ivf_batch, _DD_ANN_IVF_BATCH)


def _ann_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same probe as ``ann_ivf_search`` but through a *persisted* index:
    assignment written partitioned-by-centroid, search reading back with
    a literal ``isin`` on the partition column — static partition
    pruning (PartitionFilters), the physical layout the 100 TB IVF story
    rests on.  Same oracle as the in-memory path by construction."""
    import hashlib
    import os
    import tempfile

    from ..operators.ann import ivf_index_search, ivf_index_write

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_ivf_index_{tag}")
    ivf_index_write(assign_ivf(emb, centroids), path)
    q = list(emb.filter(F.col("vec_id") == _IVF_PROBE_ID).first()["embedding"])
    out = ivf_index_search(
        spark, path, centroids, q, k=5, nprobe=1,
        payload_cols=["vec_id", "label", "centroid_id"],
    )
    return out.select(
        "vec_id", "label", "centroid_id", F.round("distance", 4).alias("distance")
    )


_register("ann_ivf_index_search", _ann_ivf_index, _DD_ANN_IVF)


def _ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVING-path twin of ``ann_ivf_index_search`` (VERDICT r8 #3):
    the persisted list-partitioned artifact is built ONCE if absent —
    the deployed index is the ingest side's product, not per query —
    so the benched latency is the pruned probe alone (centroid pick +
    one-list scan + exact rerank), the number a 100x user sees per
    query.  Same exact-top-k oracle as the build-inclusive entry."""
    import hashlib
    import os
    import tempfile

    from ..operators.ann import ivf_index_search, ivf_index_write

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    params = f"cent{_N_CENTROIDS}_v1"
    tag = hashlib.md5(f"{sf_dir}|{params}".encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_ivf_probe_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        ivf_index_write(assign_ivf(emb, centroids), path)
    q = list(emb.filter(F.col("vec_id") == _IVF_PROBE_ID).first()["embedding"])
    out = ivf_index_search(
        spark, path, centroids, q, k=5, nprobe=1,
        payload_cols=["vec_id", "label", "centroid_id"],
    )
    return out.select(
        "vec_id", "label", "centroid_id", F.round("distance", 4).alias("distance")
    )


_register("ann_ivf_probe", _ann_ivf_probe, _DD_ANN_IVF)


def _ann_ivf_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List-size distribution of the persisted IVF index — the
    maintenance dial for append-drift (operators/ann.py::
    ivf_index_stats; pairs with ivf_index_rebuild).  The oracle replays
    the fixed-centroid assignment and counts per list."""
    import hashlib
    import os
    import tempfile

    from ..operators.ann import ivf_index_stats, ivf_index_write

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_ivf_index_{tag}")
    ivf_index_write(assign_ivf(emb, centroids), path)
    return ivf_index_stats(spark, path).withColumn(
        "centroid_id", F.col("centroid_id").cast("long")
    )


def _ann_ivf_index_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-freshness report: corpus rows NOT yet in the persisted
    index, per target list — the operational check between ingest and
    `ivf_index_append` runs.  The index here is deliberately built on a
    6/7 subset so staleness is non-vacuous; the anti-join ships only
    ids, and the per-list grouping says which directories the catch-up
    append will touch."""
    import hashlib
    import os
    import tempfile

    from ..operators.ann import ivf_index_write

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_ivf_stale_{tag}")
    ivf_index_write(assign_ivf(emb.filter(F.col("vec_id") % 7 != 0), centroids), path)
    idx_ids = spark.read.parquet(path).select("vec_id")
    missing = assign_ivf(emb, centroids).join(idx_ids, "vec_id", "left_anti")
    return (
        missing.groupBy(F.col("centroid_id").cast("long").alias("centroid_id"))
        .agg(F.count(F.lit(1)).alias("n_missing"), F.min("vec_id").alias("first_missing"))
    )


_register(
    "ann_ivf_index_staleness",
    _ann_ivf_index_staleness,
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


_register(
    "ann_ivf_index_stats",
    _ann_ivf_index_stats,
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


def _ann_ivf_index_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered search on the persisted IVF index (round 5): the
    pgvector ``WHERE label ... ORDER BY embedding <-> q`` idiom on the
    index path — metadata predicate pushed into the probed partitions
    (PushedFilters ∘ PartitionFilters), distances computed only for
    matching rows of probed lists.  nprobe=2 keeps the candidate pool
    non-trivial under the predicate.  The oracle replays assignment,
    probe, and filter exactly, so this is a hash-gated entry."""
    import hashlib
    import os
    import tempfile

    from ..operators.ann import ivf_index_search, ivf_index_write

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_ivf_index_{tag}")
    ivf_index_write(assign_ivf(emb, centroids), path)
    q = list(emb.filter(F.col("vec_id") == _IVF_PROBE_ID).first()["embedding"])
    out = ivf_index_search(
        spark, path, centroids, q, k=5, nprobe=2,
        payload_cols=["vec_id", "label", "centroid_id"],
        # Equality predicate: pushes whole (EqualTo, not just IsNotNull),
        # so row groups skip before any distance math — the plan
        # PLANS.md documents.  Arbitrary Columns work too (tests pin a
        # modulo filter); they just evaluate post-scan.
        pre_filter=(F.col("label") == 3),
    )
    return out.select(
        "vec_id", "label", "centroid_id", F.round("distance", 4).alias("distance")
    )


_DD_ANN_IVF_FILTERED = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
assigned AS (
  SELECT e.vec_id, e.label, e.embedding, c.centroid_id
  FROM embeddings e CROSS JOIN cent c
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY {_dd_l2("e.embedding", "c.cvec")}, c.centroid_id) = 1
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_IVF_PROBE_ID}),
probe AS (
  SELECT centroid_id FROM cent, q ORDER BY {_dd_l2("cvec", "q.qe")}, centroid_id LIMIT 2
)
SELECT a.vec_id, a.label, a.centroid_id, round({_dd_l2("a.embedding", "q.qe")}, 4) AS distance
FROM assigned a JOIN probe USING (centroid_id), q
WHERE a.label = 3
ORDER BY {_dd_l2("a.embedding", "q.qe")}, a.vec_id
LIMIT 5
"""

_register("ann_ivf_index_filtered_search", _ann_ivf_index_filtered, _DD_ANN_IVF_FILTERED)


_N_PLANES = 4
_LSH_PLANES = hyperplanes(64, _N_PLANES, seed=42)
_LSH_PROBE_ID = 7


def _ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select("vec_id", lsh_bucket("embedding", _LSH_PLANES).alias("bucket"))


def _dd_plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"


_DD_BUCKET_EXPR = " + ".join(
    f"(CASE WHEN list_sum(list_transform(range(1, len({{v}})+1), "
    f"i -> {{v}}[i]::DOUBLE * ({_dd_plane_literal(p)})[i])) >= 0 THEN {1 << b} ELSE 0 END)"
    for b, p in enumerate(_LSH_PLANES)
)

_register(
    "ann_lsh_buckets",
    _ann_lsh_buckets,
    f"SELECT vec_id, ({dd_sql(_DD_BUCKET_EXPR, v='embedding')})::BIGINT AS bucket FROM embeddings",
)


def _ann_lsh_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    tagged = emb.withColumn("bucket", lsh_bucket("embedding", _LSH_PLANES))
    qrow = emb.filter(F.col("vec_id") == _LSH_PROBE_ID).select(
        F.col("embedding").alias("query_vec"),
        lsh_bucket("embedding", _LSH_PLANES).alias("qbucket"),
    )
    bucket = tagged.crossJoin(F.broadcast(qrow)).filter(F.col("bucket") == F.col("qbucket"))
    scored = bucket.withColumn("distance", DISTANCE_FNS["cosine"](F.col("embedding"), F.col("query_vec")))
    return (
        scored.select("vec_id", "label", "bucket", "distance")
        .orderBy("distance", "vec_id").limit(5)
        .select("vec_id", "label", "bucket", F.round("distance", 4).alias("distance"))
    )


_DD_ANN_LSH = f"""
WITH tagged AS (
  SELECT vec_id, label, embedding, ({dd_sql(_DD_BUCKET_EXPR, v="embedding")})::BIGINT AS bucket
  FROM embeddings
),
q AS (SELECT embedding AS qe, ({dd_sql(_DD_BUCKET_EXPR, v="embedding")})::BIGINT AS qbucket
      FROM embeddings WHERE vec_id = {_LSH_PROBE_ID})
SELECT t.vec_id, t.label, t.bucket, round({_dd_cosine_dist("t.embedding", "q.qe")}, 4) AS distance
FROM tagged t, q
WHERE t.bucket = q.qbucket
ORDER BY {_dd_cosine_dist("t.embedding", "q.qe")}, t.vec_id
LIMIT 5
"""

_register("ann_lsh_search", _ann_lsh_search, _DD_ANN_LSH)


def _ann_lsh_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same probe/contract as ``ann_lsh_search`` but through a
    *persisted* bucket-partitioned index (operators/ann.py::
    lsh_index_write) — the probe reads ONE bucket directory via static
    partition pruning instead of re-bucketing the corpus per query
    (VERDICT r4 item 6).  Same oracle by construction."""
    import hashlib
    import os
    import tempfile

    from ..operators.ann import lsh_index_search, lsh_index_write

    emb = _t(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_lsh_index_{tag}")
    lsh_index_write(emb, path, _LSH_PLANES)
    q = list(emb.filter(F.col("vec_id") == _LSH_PROBE_ID).first()["embedding"])
    out = lsh_index_search(
        spark, path, q, _LSH_PLANES, k=5, metric="cosine",
        payload_cols=["vec_id", "label", "bucket"],
    )
    return out.select(
        "vec_id", "label", "bucket", F.round("distance", 4).alias("distance")
    )


_register("ann_lsh_index_search", _ann_lsh_index_search, _DD_ANN_LSH)


def _ann_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVING-path twin of ``ann_lsh_index_search`` (VERDICT r8 #3):
    bucket-partitioned artifact built once if absent; the benched
    latency is the one-bucket pruned scan + rerank alone.  Same oracle
    as the build-inclusive entry."""
    import hashlib
    import os
    import tempfile

    from ..operators.ann import lsh_index_search, lsh_index_write

    emb = _t(spark, sf_dir, "embeddings")
    params = f"planes{len(_LSH_PLANES)}_v1"
    tag = hashlib.md5(f"{sf_dir}|{params}".encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_lsh_probe_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        lsh_index_write(emb, path, _LSH_PLANES)
    q = list(emb.filter(F.col("vec_id") == _LSH_PROBE_ID).first()["embedding"])
    out = lsh_index_search(
        spark, path, q, _LSH_PLANES, k=5, metric="cosine",
        payload_cols=["vec_id", "label", "bucket"],
    )
    return out.select(
        "vec_id", "label", "bucket", F.round("distance", 4).alias("distance")
    )


_register("ann_lsh_probe", _ann_lsh_probe, _DD_ANN_LSH)


def _ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH (operators/ann.py::lsh_search_multiprobe): the
    query's bucket plus all 1-bit-flip neighbors — the standard recall
    widener without extra hash tables.  Same output contract as
    ``ann_lsh_search`` (whose single bucket is a subset of this probe
    set, so results can only improve toward exact)."""
    from ..operators.ann import lsh_search_multiprobe

    emb = _t(spark, sf_dir, "embeddings")
    q = list(emb.filter(F.col("vec_id") == _LSH_PROBE_ID).first()["embedding"])
    out = lsh_search_multiprobe(
        emb, q, _LSH_PLANES, k=5, metric="cosine", max_flips=1,
        payload_cols=["vec_id", "label"],
    )
    return out.select("vec_id", "label", F.round("distance", 4).alias("distance"))


_DD_ANN_LSH_MULTI = f"""
WITH tagged AS (
  SELECT vec_id, label, embedding, ({dd_sql(_DD_BUCKET_EXPR, v="embedding")})::BIGINT AS bucket
  FROM embeddings
),
q AS (SELECT embedding AS qe, ({dd_sql(_DD_BUCKET_EXPR, v="embedding")})::BIGINT AS qbucket
      FROM embeddings WHERE vec_id = {_LSH_PROBE_ID}),
probe AS (
  SELECT qbucket AS b FROM q
  UNION
  SELECT xor(qbucket, (1::BIGINT << i)) AS b FROM q, range(0, {len(_LSH_PLANES)}) t(i)
)
SELECT t.vec_id, t.label, round({_dd_cosine_dist("t.embedding", "q.qe")}, 4) AS distance
FROM tagged t, q
WHERE t.bucket IN (SELECT b FROM probe)
ORDER BY {_dd_cosine_dist("t.embedding", "q.qe")}, t.vec_id
LIMIT 5
"""

_register("ann_lsh_multiprobe_search", _ann_lsh_multiprobe, _DD_ANN_LSH_MULTI)


# Recall@k of the ANN paths measured against exact brute force — ANN
# quality as a number, not an assertion.  Queries are corpus members
# (so every probe set is non-empty and both engines agree on n_q);
# every top-k ties on (distance, id), making the winner sets — and
# therefore the recall ratios — exactly SQL-replayable.
_RECALL_QMOD = 53
# Same scale fix as ann_ivfpq_recall_trained (round 8): the modulo draw
# alone grows Q with the corpus and the exact ground truth is N x Q.
# Capping the query ids pins Q from sf0.01 up and is a no-op at both
# gated fixtures (all their ids are < 2000); the oracle carries the
# same predicate.
_RECALL_QCAP = 2000
_RECALL_QRES = 11
_RECALL_NPROBES = (1, 2, 4)


def _ann_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import recall_sweep

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    queries = emb.filter(
        (F.col("vec_id") % _RECALL_QMOD == _RECALL_QRES)
        & (F.col("vec_id") < _RECALL_QCAP)
    ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return recall_sweep(
        emb, queries, centroids, _LSH_PLANES, k=5, nprobes=_RECALL_NPROBES
    ).orderBy("method", "nprobe")


_DD_RECALL_SWEEP = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
  WHERE vec_id % {_RECALL_QMOD} = {_RECALL_QRES} AND vec_id < {_RECALL_QCAP}
),
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
exact_l2 AS (
  SELECT q.qid, e.vec_id FROM embeddings e CROSS JOIN q
  QUALIFY row_number() OVER (
    PARTITION BY q.qid ORDER BY {_dd_l2("e.embedding", "q.qvec")}, e.vec_id) <= 5
),
exact_cos AS (
  SELECT q.qid, e.vec_id FROM embeddings e CROSS JOIN q
  QUALIFY row_number() OVER (
    PARTITION BY q.qid ORDER BY {_dd_cosine_dist("e.embedding", "q.qvec")}, e.vec_id) <= 5
),
nq AS (SELECT count(DISTINCT qid) AS n FROM exact_l2),
assigned AS (
  SELECT e.vec_id, e.embedding, c.centroid_id FROM embeddings e CROSS JOIN cent c
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY {_dd_l2("e.embedding", "c.cvec")}, c.centroid_id) = 1
),
cranked AS (
  SELECT q.qid, c.centroid_id,
         row_number() OVER (
           PARTITION BY q.qid ORDER BY {_dd_l2("c.cvec", "q.qvec")}, c.centroid_id) AS crank
  FROM cent c CROSS JOIN q
  QUALIFY crank <= {max(_RECALL_NPROBES)}
),
levels AS (SELECT unnest([{", ".join(str(n) for n in _RECALL_NPROBES)}]) AS nprobe),
ivf_topk AS (
  SELECT l.nprobe, cr.qid, a.vec_id
  FROM assigned a
  JOIN cranked cr USING (centroid_id)
  JOIN levels l ON cr.crank <= l.nprobe
  JOIN q ON q.qid = cr.qid
  QUALIFY row_number() OVER (
    PARTITION BY l.nprobe, cr.qid ORDER BY {_dd_l2("a.embedding", "q.qvec")}, a.vec_id) <= 5
),
ivf_recall AS (
  SELECT 'ivf' AS method, t.nprobe AS nprobe,
         round(count(*)::DOUBLE / (5 * nq.n), 4) AS recall
  FROM ivf_topk t JOIN exact_l2 x ON t.qid = x.qid AND t.vec_id = x.vec_id, nq
  GROUP BY t.nprobe, nq.n
),
tagged AS (
  SELECT vec_id, embedding, ({dd_sql(_DD_BUCKET_EXPR, v="embedding")})::BIGINT AS bucket
  FROM embeddings
),
qb AS (
  SELECT qid, qvec, ({dd_sql(_DD_BUCKET_EXPR, v="qvec")})::BIGINT AS qbucket FROM q
),
lsh_topk AS (
  SELECT qb.qid, t.vec_id
  FROM tagged t JOIN qb ON t.bucket = qb.qbucket
  QUALIFY row_number() OVER (
    PARTITION BY qb.qid ORDER BY {_dd_cosine_dist("t.embedding", "qb.qvec")}, t.vec_id) <= 5
),
lsh_recall AS (
  SELECT 'lsh' AS method, 0 AS nprobe,
         round(count(*)::DOUBLE / (5 * nq.n), 4) AS recall
  FROM lsh_topk t JOIN exact_cos x ON t.qid = x.qid AND t.vec_id = x.vec_id, nq
  GROUP BY nq.n
)
SELECT * FROM ivf_recall UNION ALL SELECT * FROM lsh_recall
ORDER BY method, nprobe
"""

_register("ann_recall_sweep", _ann_recall_sweep, _DD_RECALL_SWEEP)


def _ann_ivf_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full index-maintenance lifecycle through the persisted IVF tree
    (operators/index_maint.py, VERDICT r6 #6): bulk build, tombstone
    two of the probe's top-5 neighbours, upsert a third with a mutated
    label, search the messy tree, compact to a clean batch_id=0 tree,
    search again.  BOTH searches are in the gated result (phase
    'pre'/'post' over identical rows), so the driver gate itself proves
    searches hash-match across compaction — the reconcile law (latest
    batch wins, tombstones hide) is shared by the search and compact
    paths.  The oracle replays the logical outcome: rank the probed
    lists, drop ranks 2-3, relabel rank 4."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..operators.ann import ivf_index_append, ivf_index_search, ivf_index_write
    from ..operators.index_maint import compact_index, write_tombstones

    emb = _t(spark, sf_dir, "embeddings")
    # Deliberately a LAZY corpus branch: localizing these 16 rows via
    # collect (the _local_centroids form, since reverted everywhere)
    # measured a consistent REGRESSION here in an alternating
    # same-session A/B (5.41/4.52 -> 7.07/6.90 s median/min at sf0.1) —
    # this fixture's cost is the index parquet writes, and the blocking
    # collect serializes the write pipeline it feeds.
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_ivf_maint_{tag}")
    dest = path + "_compact"
    for d in (path, dest):  # entries must be re-runnable in one session
        shutil.rmtree(d, ignore_errors=True)

    ivf_index_write(assign_ivf(emb, centroids), path)
    q = list(emb.filter(F.col("vec_id") == _IVF_PROBE_ID).first()["embedding"])

    def search(p: str) -> DataFrame:
        return ivf_index_search(
            spark, p, centroids, q, k=5, nprobe=2, payload_cols=["vec_id", "label"]
        )

    base = search(path).collect()  # bounded: 5 rows
    dead = [base[1]["vec_id"], base[2]["vec_id"]]
    upserted = base[3]["vec_id"]
    write_tombstones(
        spark.createDataFrame([(int(i),) for i in dead], "vec_id long"), path, "vec_id"
    )
    ivf_index_append(
        emb.filter(F.col("vec_id") == upserted).withColumn(
            "label", F.lit(777).cast("int")
        ),
        centroids,
        path,
    )
    pre = search(path)  # reconcile path: tombstones + upsert batch
    compact_index(spark, path, dest, "vec_id", "centroid_id")
    post = search(dest)  # clean tree: fast path again
    out = pre.withColumn("phase", F.lit("pre")).unionByName(
        post.withColumn("phase", F.lit("post"))
    )
    return out.select(
        "phase", "vec_id", "label", F.round("distance", 4).alias("distance")
    )


_DD_IVF_INDEX_COMPACT = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
assigned AS (
  SELECT e.vec_id, e.label, e.embedding, c.centroid_id
  FROM embeddings e CROSS JOIN cent c
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY {_dd_l2("e.embedding", "c.cvec")}, c.centroid_id) = 1
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_IVF_PROBE_ID}),
probe AS (
  SELECT centroid_id FROM cent, q ORDER BY {_dd_l2("cvec", "q.qe")}, centroid_id LIMIT 2
),
ranked AS (
  SELECT a.vec_id, a.label, {_dd_l2("a.embedding", "q.qe")} AS d,
         row_number() OVER (ORDER BY {_dd_l2("a.embedding", "q.qe")}, a.vec_id) AS rk
  FROM assigned a JOIN probe USING (centroid_id), q
),
final AS (
  SELECT vec_id, CAST(CASE WHEN rk = 4 THEN 777 ELSE label END AS INTEGER) AS label, d
  FROM ranked WHERE rk NOT IN (2, 3)
  ORDER BY d, vec_id LIMIT 5
)
SELECT 'pre' AS phase, vec_id, label, round(d, 4) AS distance FROM final
UNION ALL
SELECT 'post' AS phase, vec_id, label, round(d, 4) AS distance FROM final
"""

_register("ann_ivf_index_compact", _ann_ivf_index_compact, _DD_IVF_INDEX_COMPACT)


def _stream_ivf_upsert_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The idempotent-maintenance contract under the driver gate
    (ADVICE r6): odd-id embeddings stream into a bulk-seeded IVF index
    as 2 micro-batches, then batch 1 is REPLAYED verbatim through the
    same append (a foreachBatch retry after a lost checkpoint commit —
    the dynamic partition overwrite must make it a no-op), one row is
    tombstoned, and the probe must return exactly the logical answer.
    A duplicate-appending replay or a leaking delete fails the hash.
    Oracle = exact KNN over the probed lists minus the deleted ranks."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..operators.ann import ivf_index_append, ivf_index_search, ivf_index_write
    from ..operators.index_maint import write_tombstones
    from ..streaming.index_stream import stream_into_ivf_index
    from ._base import _drain

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_stream_ivfmaint_{tag}_{os.getpid()}"
    )
    src, idx, ckpt = f"{base}/src", f"{base}/index", f"{base}/ckpt"
    shutil.rmtree(base, ignore_errors=True)

    ivf_index_write(assign_ivf(emb.filter(F.col("vec_id") % 2 == 0), centroids), idx)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    odd.filter(F.col("vec_id") % 4 == 1).coalesce(1).write.parquet(f"{src}/f0")
    odd.filter(F.col("vec_id") % 4 == 3).coalesce(1).write.parquet(f"{src}/f1")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    _drain(stream_into_ivf_index(stream, centroids, idx, checkpoint=ckpt), 120)

    # the replay: foreachBatch batch 0 ran as batch_id=1 — re-append the
    # same file's rows at the same batch id (bit-identical retry)
    b0 = spark.read.parquet(f"{src}/f0")
    ivf_index_append(b0, centroids, idx, batch_id=1)

    q = list(emb.filter(F.col("vec_id") == _IVF_PROBE_ID).first()["embedding"])
    base_rows = ivf_index_search(
        spark, idx, centroids, q, k=5, nprobe=2, payload_cols=["vec_id", "label"]
    ).collect()  # bounded: 5 rows
    victim = int(base_rows[1]["vec_id"])  # rank 2 of the full probe
    write_tombstones(spark.createDataFrame([(victim,)], "vec_id long"), idx, "vec_id")

    out = ivf_index_search(
        spark, idx, centroids, q, k=5, nprobe=2, payload_cols=["vec_id", "label"]
    )
    return out.select("vec_id", "label", F.round("distance", 4).alias("distance"))


_DD_STREAM_IVF_MAINT = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
assigned AS (
  SELECT e.vec_id, e.label, e.embedding, c.centroid_id
  FROM embeddings e CROSS JOIN cent c
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY {_dd_l2("e.embedding", "c.cvec")}, c.centroid_id) = 1
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_IVF_PROBE_ID}),
probe AS (
  SELECT centroid_id FROM cent, q ORDER BY {_dd_l2("cvec", "q.qe")}, centroid_id LIMIT 2
),
ranked AS (
  SELECT a.vec_id, a.label, {_dd_l2("a.embedding", "q.qe")} AS d,
         row_number() OVER (ORDER BY {_dd_l2("a.embedding", "q.qe")}, a.vec_id) AS rk
  FROM assigned a JOIN probe USING (centroid_id), q
)
SELECT vec_id, label, round(d, 4) AS distance
FROM ranked WHERE rk != 2
ORDER BY d, vec_id
LIMIT 5
"""

_register("stream_ivf_upsert_replay", _stream_ivf_upsert_replay, _DD_STREAM_IVF_MAINT)


# ==========================================================================
