"""Approximate nearest-neighbor search — the scale path beyond exact KNN.

The reference's search is exact brute force (SURVEY.md §2/Q2) and
``operators.knn`` keeps that as the baseline/default.  These operators
add the two standard partition-the-corpus strategies for corpora where
even a narrow full scan per query is too much:

* **IVF (inverted-file)** — assign every vector to its nearest
  centroid once (an offline ``knn_join`` against the centroid
  relation), partition/cluster the corpus by ``centroid_id``, and at
  query time scan only ``nprobe`` centroids' buckets.  With the corpus
  written partitioned-by-centroid, Catalyst turns the bucket filter
  into partition pruning: the 100 TB scan becomes a few-GB scan.
* **Random-hyperplane LSH** — k seeded hyperplanes -> k-bit signature
  as the bucket key; cosine-similar vectors collide.  Deterministic
  (LCG-seeded hyperplanes), so buckets are reproducible across engines
  and runs.

Both return *exact distances within the probed buckets*; recall is
traded via nprobe / signature bits.  Both are oracle-checkable because
every step is portable arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import DISTANCE_FNS
from .index_maint import append_batch, probe_lists, read_reconciled, write_bulk
from .knn import _query_col, knn


def _lcg_doubles(n: int, seed: int) -> list[float]:
    """Deterministic pseudo-uniform doubles in [-1, 1) (portable LCG)."""
    state = seed & 0x7FFFFFFF
    out = []
    for _ in range(n):
        state = (1103515245 * state + 12345) % (1 << 31)
        out.append(state / float(1 << 30) - 1.0)
    return out


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    vals = _lcg_doubles(dim * n_planes, seed)
    return [vals[i * dim : (i + 1) * dim] for i in range(n_planes)]


def sql_double_array(vals: list[float]) -> str:
    """A float vector as one SQL array literal (``repr`` round-trips
    doubles exactly; loud guard against unparseable inf/nan)."""
    import math

    if not all(math.isfinite(float(v)) for v in vals):
        raise ValueError("non-finite value in SQL array literal")
    return "array(" + ",".join(repr(float(v)) + "D" for v in vals) + ")"


def lsh_bucket(vec_sql: str, planes: list[list[float]]) -> Column:
    """Signature bit b = 1 iff dot(vec, plane_b) >= 0; bucket = Σ bit<<b.

    ``vec_sql`` is the vector column's name (or any SQL expression text,
    e.g. a :func:`sql_double_array` literal for a driver-side query
    vector).  Built as ONE SQL-text expression: the old per-plane
    ``F.array(*[F.lit(x) ...])`` form shipped n_planes*dim Literal
    objects through py4j per call — pure plan-construction overhead
    (r13 opt, the pca.py/pq.py single-SQL-text pattern).  The fold is
    the same sequential index aggregate as ``dot_product``, so bucket
    ids are bit-identical."""
    dots = [
        f"aggregate(sequence(1, size({vec_sql})), 0.0D, (acc, i) -> "
        f"acc + CAST(element_at({vec_sql}, i) AS DOUBLE)"
        f" * CAST(element_at({sql_double_array(plane)}, i) AS DOUBLE))"
        for plane in planes
    ]
    bits = " + ".join(
        f"shiftleft(CASE WHEN ({d}) >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END, {b})"
        for b, d in enumerate(dots)
    )
    return F.expr(f"(CAST(0 AS BIGINT) + {bits})")


def assign_ivf(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
    metric: str = "l2",
) -> DataFrame:
    """Tag every corpus row with its nearest centroid.

    ``centroids`` is small — it broadcasts; the argmin over centroids is
    a ``min_by`` groupBy keyed on the corpus id, which Spark partially
    aggregates map-side: each task reduces its |centroids| candidate
    rows per corpus row to one *before* the exchange, so the shuffle
    carries exactly one row per corpus row.  Ties break on
    (distance, centroid_id) — declared, like every tiebreak here.
    Persist the result partitioned by ``centroid_id`` to get partition
    pruning at query time (see ``ivf_search``).
    """
    dist_fn = DISTANCE_FNS[metric]
    scored = corpus.crossJoin(F.broadcast(centroids)).withColumn(
        "_cdist", dist_fn(F.col(vec_col), F.col(centroid_vec_col))
    )
    row = F.struct(*[F.col(c) for c in corpus.columns], F.col(centroid_id_col))
    return (
        scored.groupBy(id_col)
        .agg(F.min_by(row, F.struct(F.col("_cdist"), F.col(centroid_id_col))).alias("_best"))
        .select("_best.*")
    )


def ivf_search(
    assigned_corpus: DataFrame,
    centroids: DataFrame,
    query_vec,
    k: int = 5,
    nprobe: int = 1,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
    payload_cols=None,
) -> DataFrame:
    """Probe the ``nprobe`` nearest centroids' buckets, exact top-k inside.

    The bucket filter is a semi-join on ``centroid_id`` — on a corpus
    stored partitioned by that column this is partition pruning, not a
    scan.  ``query_vec`` may be a literal sequence or a 1-row DataFrame
    whose single column is the vector.
    """
    dist_fn = DISTANCE_FNS[metric]
    if isinstance(query_vec, DataFrame):
        qname = query_vec.columns[0]
        probe = (
            centroids.crossJoin(F.broadcast(query_vec))
            .withColumn("_qd", dist_fn(F.col(centroid_vec_col), F.col(qname)))
        )
    else:
        probe = centroids.withColumn(
            "_qd", dist_fn(F.col(centroid_vec_col), _query_col(query_vec))
        )
    probe = probe.orderBy("_qd", centroid_id_col).limit(nprobe).select(centroid_id_col)
    bucket = assigned_corpus.join(F.broadcast(probe), centroid_id_col, "left_semi")
    return knn(
        bucket, query_vec, k=k, metric=metric, vec_col=vec_col, id_col=id_col,
        payload_cols=payload_cols,
    )


def ivf_search_join(
    assigned_corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
    payload_cols=None,
) -> DataFrame:
    """Batched IVF probe: N query vectors, each scanning only its own
    ``nprobe`` inverted lists — the IVF twin of ``knn.knn_join``.

    Physical shape: centroids x broadcast(queries) ranks probes map-side
    (both relations are small); the (query_id, centroid_id) probe list
    broadcasts onto the assigned corpus, so a corpus row is scored once
    per query that probes its list — total scored volume is
    sum over queries of their probed-list sizes, NOT |corpus| x N.  The
    projection entering the final per-query top-k window is narrow
    (id, payload, distance); embeddings never cross an exchange.
    """
    from pyspark.sql import Window

    dist_fn = DISTANCE_FNS[metric]
    ranked = centroids.crossJoin(F.broadcast(queries)).select(
        query_id_col,
        centroid_id_col,
        dist_fn(F.col(centroid_vec_col), F.col(query_vec_col)).alias("_qd"),
    )
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.col("_qd").asc(), F.col(centroid_id_col).asc()
    )
    probes = (
        ranked.withColumn("_pr", F.row_number().over(probe_w))
        .filter(F.col("_pr") <= nprobe)
        .select(query_id_col, centroid_id_col)
    )
    cols = list(payload_cols) if payload_cols is not None else [
        c for c in assigned_corpus.columns if c not in (vec_col,)
    ]
    cand = assigned_corpus.join(F.broadcast(probes), centroid_id_col).join(
        F.broadcast(queries), query_id_col
    )
    scored = cand.withColumn(
        "distance", dist_fn(F.col(vec_col), F.col(query_vec_col))
    ).select(query_id_col, *[c for c in cols if c != query_id_col], "distance")
    top_w = Window.partitionBy(query_id_col).orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(top_w))
        .filter(F.col("rank") <= k)
    )


def ivf_index_write(
    assigned_corpus: DataFrame,
    path: str,
    centroid_id_col: str = "centroid_id",
) -> None:
    """Materialize the IVF index: parquet partitioned by
    ``(batch_id=0, centroid_id)``.

    This is the physical layout the IVF docstring promises — one
    directory per inverted list.  At 100 TB the write is the offline
    index build (amortized over every query), and it is what turns the
    probe from "scan 100 TB, filter rows" into "read nprobe
    directories": the search filter lands in ``PartitionFilters``, so
    unprobed lists are eliminated at planning time with zero I/O.  The
    leading ``batch_id`` level is the maintenance contract
    (operators/index_maint.py): appends own their batch directory,
    deletes are tombstones, compaction folds back to ``batch_id=0``.
    """
    write_bulk(assigned_corpus, path, centroid_id_col)


def ivf_index_append(
    new_vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    batch_id: int | None = None,
) -> None:
    """Incrementally maintain a persisted IVF index: assign the new
    batch to its centroids and append it as its own ``batch_id`` level
    (operators/index_maint.py).

    Maintenance cost tracks the batch, not the index — only the
    directories the batch lands in are written.  Centroids stay fixed
    (the standard IVF contract; retrain + rebuild is the offline path),
    so existing lists never need rewriting and searches see old and new
    rows with identical semantics.  As the foreachBatch body for
    streaming ingest, pass the foreachBatch ``batch_id``: the write
    then uses dynamic partition overwrite, so a replayed batch rewrites
    exactly itself instead of appending duplicates (ADVICE r6).
    Re-appending an existing id in a later batch is an upsert — the
    reconcile law in the search path keeps the latest version.
    """
    assigned = assign_ivf(
        new_vectors, centroids, vec_col=vec_col, id_col=id_col,
        centroid_id_col=centroid_id_col,
    )
    append_batch(assigned, path, centroid_id_col, batch_id=batch_id)


def ivf_index_search(
    spark,
    path: str,
    centroids: DataFrame,
    query_vec,
    k: int = 5,
    nprobe: int = 1,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
    payload_cols=None,
    pre_filter=None,
) -> DataFrame:
    """Search a persisted IVF index with *static* partition pruning.

    Ranks centroids against the query and collects the ``nprobe``
    winning ids (a driver collect of nprobe rows — bounded by the probe
    width, never corpus-sized), then reads the index with an ``isin``
    filter on the partition column.  Unlike the semi-join in
    :func:`ivf_search` (which prunes dynamically at runtime), the
    literal ``isin`` prunes at planning time — the scan's
    ``PartitionFilters`` lists it, and only the probed directories are
    ever opened (gated in tests/test_plans.py).

    ``pre_filter`` (an optional boolean Column over payload columns) is
    the pgvector filtered-search idiom ``WHERE label = ... ORDER BY
    embedding <-> q`` on the index path: applied BEFORE any distance
    math, it reaches the parquet scan as a pushed row-group filter
    (PushedFilters) and composes with the partition pruning — probe
    directories x matching rows is all that's ever scored.  As with any
    pre-filter ANN, recall is relative to the probed lists: widen
    ``nprobe`` when the predicate is selective.
    """
    qcol = _query_col(query_vec)  # built once: each literal is a py4j call
    probe_ids = [
        r[centroid_id_col]
        for r in probe_lists(
            centroids, qcol, nprobe, metric, centroid_id_col, centroid_vec_col
        )
    ]
    # read_reconciled applies the maintenance law (latest batch wins,
    # tombstones hide) ONLY when the directory listing says the tree
    # has >1 batch or tombstones; a freshly bulk-built index keeps the
    # zero-exchange probe plan (tests/test_plans.py).  The reconcile,
    # when taken, runs over the PROBED lists only — cost ∝ probe width.
    index = (
        read_reconciled(
            spark, path, id_col,
            prune=F.col(centroid_id_col).isin(probe_ids),
        )
        # Partition-column values round-trip through directory names;
        # restore the pre-write integer type after the pruning filter.
        .withColumn(centroid_id_col, F.col(centroid_id_col).cast("long"))
    )
    if pre_filter is not None:
        index = index.filter(pre_filter)
    return knn(
        index, qcol, k=k, metric=metric, vec_col=vec_col, id_col=id_col,
        payload_cols=payload_cols,
    )


def ivf_index_stats(
    spark,
    path: str,
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Inverted-list size distribution of a persisted IVF index:
    ``(centroid_id, n_vectors, frac)`` per list, ``frac`` the list's
    share of the corpus.  The maintenance dial: ``ivf_index_append``
    keeps centroids fixed, so sustained appends drift list sizes —
    probe cost tracks the LARGEST probed list, so a ballooning ``frac``
    says "retrain" (``ivf_index_rebuild``).  Scan cost: the groupBy
    reads only the partition column, i.e. directory names — no data
    pages."""
    idx = spark.read.parquet(path).select(centroid_id_col)
    per = idx.groupBy(centroid_id_col).agg(F.count("*").alias("n_vectors"))
    total = per.agg(F.sum("n_vectors").alias("_total"))
    return per.crossJoin(F.broadcast(total)).select(
        centroid_id_col,
        "n_vectors",
        F.round(F.col("n_vectors") / F.col("_total"), 4).alias("frac"),
    )


def ivf_index_rebuild(
    spark,
    src_path: str,
    dest_path: str,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    train_limit: int = 100_000,
) -> DataFrame:
    """Offline retrain + rebuild of a persisted IVF index: re-train
    centroids on the index's CURRENT contents (``kmeans_fit_sampled`` —
    bounded driver sample, the FAISS train-vs-add split), re-assign
    every row, write the re-partitioned index to ``dest_path``, return
    the new centroid relation (the searcher needs it).

    This is the periodic maintenance job that pairs with
    ``ivf_index_append``: appends are cheap because centroids stay
    fixed, and the drift that fixed centroids accumulate (skewed lists,
    rising probe cost — watch ``ivf_index_stats``) is paid down here in
    one bulk pass.  Writes to a NEW path: Spark cannot safely overwrite
    an input mid-read, and at scale the swap is an atomic pointer flip
    (rename / view repoint) after validation, never an in-place
    rewrite."""
    from .kmeans import kmeans_fit_sampled

    if src_path == dest_path:
        raise ValueError("rebuild writes to a new path; swap after validation")
    # Rebuild from the LOGICAL contents: superseded versions and
    # tombstoned ids must not train the new centroids or reappear.
    contents = read_reconciled(spark, src_path, id_col).drop(centroid_id_col)
    centroids = kmeans_fit_sampled(
        contents, k=k, vec_col=vec_col, id_col=id_col, train_limit=train_limit
    )
    assigned = assign_ivf(
        contents, centroids, vec_col=vec_col, id_col=id_col,
        centroid_id_col=centroid_id_col,
    )
    ivf_index_write(assigned, dest_path, centroid_id_col=centroid_id_col)
    return centroids


def recall_sweep(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    nprobes: tuple[int, ...] = (1, 2, 4),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Measured recall@k of the ANN paths vs exact brute force — ANN
    quality as a *number*, not an assertion (VERDICT r2 item 5).

    One declarative plan, batch over a small broadcastable query
    relation: IVF probed at every ``nprobes`` level (vs exact L2 top-k,
    its metric) and hyperplane LSH (vs exact cosine top-k, its metric).
    Output ``(method, nprobe, recall)`` — recall = |approx ∩ exact| /
    (k · n_queries), ties everywhere broken on (distance, id) so the
    winner sets are deterministic and SQL-replayable.

    Scale: the corpus is scanned a bounded number of times (exact
    baselines + probed buckets); queries/centroids/planes are broadcast.
    The measurement itself is an offline-quality job — run it on a
    sampled corpus at 100 TB, exactly like the quantizer training.
    """
    from pyspark.sql import Window

    l2 = DISTANCE_FNS["l2"]
    cos = DISTANCE_FNS["cosine"]
    Q = F.broadcast(queries)

    def topk(scored: DataFrame, part_cols: list[str]) -> DataFrame:
        w = Window.partitionBy(*part_cols).orderBy(F.col("_d"), F.col(id_col))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn", "_d")
        )

    # Exact baselines for both metrics in ONE corpus pass: the two
    # row_number windows share partitionBy(qid), so Catalyst plans one
    # exchange with two sorts.  The winner sets are n_q*k rows consumed
    # three times downstream (two semi-joins + n_q) — materialize once
    # with a single eager checkpoint instead of replaying the
    # full-corpus scoring lineage per consumer.
    scored_all = corpus.crossJoin(Q).select(
        qid_col,
        id_col,
        l2(F.col(vec_col), F.col(qvec_col)).alias("_dl2"),
        cos(F.col(vec_col), F.col(qvec_col)).alias("_dcos"),
    )
    w_l2 = Window.partitionBy(qid_col).orderBy(F.col("_dl2"), F.col(id_col))
    w_cos = Window.partitionBy(qid_col).orderBy(F.col("_dcos"), F.col(id_col))
    exact = (
        scored_all.withColumn("_rl2", F.row_number().over(w_l2))
        .withColumn("_rcos", F.row_number().over(w_cos))
        .filter((F.col("_rl2") <= k) | (F.col("_rcos") <= k))
        .select(
            qid_col,
            id_col,
            (F.col("_rl2") <= k).alias("_in_l2"),
            (F.col("_rcos") <= k).alias("_in_cos"),
        )
        .localCheckpoint()
    )
    exact_l2 = exact.filter("_in_l2").select(qid_col, id_col)
    exact_cos = exact.filter("_in_cos").select(qid_col, id_col)
    n_q = F.broadcast(exact.agg(F.countDistinct(qid_col).alias("_nq")))

    # IVF at every nprobe level in one plan
    assigned = assign_ivf(corpus, centroids, vec_col=vec_col, id_col=id_col)
    wc = Window.partitionBy(qid_col).orderBy(F.col("_cd"), F.col("centroid_id"))
    cranked = (
        centroids.crossJoin(Q)
        .select(qid_col, "centroid_id", l2(F.col("centroid_vec"), F.col(qvec_col)).alias("_cd"))
        .withColumn("_crank", F.row_number().over(wc))
        .filter(F.col("_crank") <= max(nprobes))
        .select(qid_col, "centroid_id", "_crank")
    )
    levels = corpus.sparkSession.createDataFrame([(n,) for n in nprobes], "nprobe int")
    ivf_cand = (
        assigned.join(F.broadcast(cranked), "centroid_id")
        .join(F.broadcast(levels), F.col("_crank") <= F.col("nprobe"))
        .join(Q, qid_col)
        .select("nprobe", qid_col, id_col, l2(F.col(vec_col), F.col(qvec_col)).alias("_d"))
    )
    ivf_topk = topk(ivf_cand, ["nprobe", qid_col])
    ivf_recall = (
        ivf_topk.join(F.broadcast(exact_l2), [qid_col, id_col], "left_semi")
        .groupBy("nprobe")
        .agg(F.count("*").alias("_hits"))
        .crossJoin(n_q)
        .select(
            F.lit("ivf").alias("method"),
            F.col("nprobe"),
            F.round(F.col("_hits") / (F.lit(k) * F.col("_nq")), 4).alias("recall"),
        )
    )

    # LSH (single bucket probe, cosine)
    tagged = corpus.select(id_col, vec_col, lsh_bucket(f"`{vec_col}`", planes).alias("_bucket"))
    qb = Q.select(qid_col, qvec_col, lsh_bucket(f"`{qvec_col}`", planes).alias("_qbucket"))
    lsh_cand = (
        tagged.join(F.broadcast(qb), F.col("_bucket") == F.col("_qbucket"))
        .select(qid_col, id_col, cos(F.col(vec_col), F.col(qvec_col)).alias("_d"))
    )
    lsh_recall = (
        topk(lsh_cand, [qid_col])
        .join(F.broadcast(exact_cos), [qid_col, id_col], "left_semi")
        .agg(F.count("*").alias("_hits"))
        .crossJoin(n_q)
        .select(
            F.lit("lsh").alias("method"),
            F.lit(0).alias("nprobe"),  # 0 = not applicable
            F.round(F.col("_hits") / (F.lit(k) * F.col("_nq")), 4).alias("recall"),
        )
    )
    return ivf_recall.unionByName(lsh_recall)


def lsh_search(
    corpus: DataFrame,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 5,
    metric: str = "cosine",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols=None,
) -> DataFrame:
    """Exact top-k restricted to the query's LSH bucket."""
    tagged = corpus.withColumn("_bucket", lsh_bucket(f"`{vec_col}`", planes))
    qbucket = lsh_bucket(sql_double_array([float(v) for v in query_vec]), planes)
    bucket = tagged.filter(F.col("_bucket") == qbucket).drop("_bucket")
    return knn(
        bucket, query_vec, k=k, metric=metric, vec_col=vec_col, id_col=id_col,
        payload_cols=payload_cols,
    )


def lsh_index_write(
    corpus: DataFrame,
    path: str,
    planes: list[list[float]],
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> None:
    """Materialize the LSH index: parquet partitioned by bucket id.

    The persisted twin of :func:`lsh_search` (VERDICT r4 item 6): that
    path recomputes every row's bucket per query — a full corpus scan
    per probe, wrong at scale.  Written partitioned-by-bucket, a probe
    becomes a one-directory read via static partition pruning, exactly
    the :func:`ivf_index_write` layout with ``bucket`` in place of
    ``centroid_id``.  With ``n_planes`` bits the index has at most
    ``2^n_planes`` directories; size ``n_planes`` so directories stay
    within file-size sweet spots (at 100 TB / 8 bits, ~400 GB per
    bucket directory — pick 12-16 bits there).
    """
    tagged = corpus.withColumn(bucket_col, lsh_bucket(f"`{vec_col}`", planes))
    tagged.write.mode("overwrite").partitionBy(bucket_col).parquet(path)


def _query_bucket(spark, query_vec, planes: list[list[float]]) -> int:
    """The query's LSH bucket, computed by the SAME ``lsh_bucket``
    expression that tags the corpus (a 1-row Spark job, so the two sides
    can never drift in summation order)."""
    qrow = spark.range(1).select(_query_col(query_vec).alias("_qv"))
    return qrow.select(lsh_bucket("_qv", planes).alias("_b")).first()["_b"]


def lsh_index_search(
    spark,
    path: str,
    query_vec,
    planes: list[list[float]],
    k: int = 5,
    metric: str = "cosine",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_col: str = "bucket",
    payload_cols=None,
    max_flips: int = 0,
) -> DataFrame:
    """Search a persisted LSH index with *static* partition pruning.

    The probe set is the query's bucket (:func:`_query_bucket`) plus,
    with ``max_flips > 0``, every bucket within that many sign-bit flips
    (multi-probe: with 8 planes and max_flips=1 the probe reads 9 of 256
    buckets).  The index is read with a literal ``isin`` on the
    partition column: the filter lands in ``PartitionFilters`` and only
    the probed directories are ever opened (the delete-proof is
    tests/test_lsh_index.py).  In-bucket top-k is the flagship
    TakeOrderedAndProject — zero exchanges end to end.
    """
    qcol = _query_col(query_vec)  # built once: each literal is a py4j call
    qbucket = _query_bucket(spark, qcol, planes)
    probe = multiprobe_buckets(qbucket, len(planes), max_flips)
    index = (
        read_reconciled(spark, path, id_col, prune=F.col(bucket_col).isin(probe))
        # partition values round-trip through directory names; restore
        # the pre-write integer type after the pruning filter
        .withColumn(bucket_col, F.col(bucket_col).cast("long"))
    )
    return knn(
        index, qcol, k=k, metric=metric, vec_col=vec_col, id_col=id_col,
        payload_cols=payload_cols,
    )


def multiprobe_buckets(qbucket: int, n_planes: int, max_flips: int = 1) -> list[int]:
    """The query bucket plus every bucket within Hamming distance
    ``max_flips`` of it in signature space (flip-1 enumeration for
    max_flips=1 — the standard multi-probe LSH sequence: near-miss
    vectors most likely landed one sign-bit away)."""
    buckets = {int(qbucket)}
    frontier = {int(qbucket)}
    for _ in range(max_flips):
        frontier = {b ^ (1 << i) for b in frontier for i in range(n_planes)} - buckets
        buckets |= frontier
    return sorted(buckets)


def lsh_search_multiprobe(
    corpus: DataFrame,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 5,
    metric: str = "cosine",
    max_flips: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols=None,
) -> DataFrame:
    """Multi-probe LSH: exact top-k over the query's bucket PLUS its
    ``max_flips``-bit neighbors — recall approaches nprobe-style IVF
    widening without more hash tables.  With 8 planes and max_flips=1
    the probe reads 9 of 256 buckets (~3.5% of the corpus) instead of 1."""
    qbucket = _query_bucket(corpus.sparkSession, query_vec, planes)
    probe = multiprobe_buckets(qbucket, len(planes), max_flips)
    tagged = corpus.withColumn("_bucket", lsh_bucket(f"`{vec_col}`", planes))
    bucket = tagged.filter(F.col("_bucket").isin(probe)).drop("_bucket")
    return knn(
        bucket, query_vec, k=k, metric=metric, vec_col=vec_col, id_col=id_col,
        payload_cols=payload_cols,
    )
