"""Shared layer for the persisted index trees: the batch-keyed layout,
idempotent streaming appends, tombstoned deletes and compaction of the
IVF, IVF-PQ and BM25 postings trees, and the one search path every
persisted vector index (IVF, LSH, SQ8, IVF-SQ8, IVF-PQ, PCA) shares.

Layout contract
---------------
Every persisted index tree is hive-partitioned with a leading
``batch_id`` level::

    {path}/batch_id=0/<list_key>=.../part-*.parquet      (bulk build)
    {path}/batch_id=7/<list_key>=.../part-*.parquet      (appended batch 7)
    {path}/_tombstones/batch_id=9/part-*.parquet         (delete markers)

* ``batch_id=0`` is the bulk build (``*_index_write``).
* Each appended micro-batch owns EXACTLY the directories under its own
  ``batch_id=N`` — so a replayed batch (checkpoint committed after a
  write succeeded but the commit was lost) is made **idempotent** by
  writing with *dynamic partition overwrite*: the retry deletes and
  rewrites precisely its own partitions, never touching neighbours
  (ADVICE r6: plain ``mode("append")`` duplicated index rows on replay).
* Secondary pruning is unaffected: the list key (``centroid_id`` /
  ``term_bucket``) remains a partition column, so a probe's literal
  ``isin`` still lands in ``PartitionFilters`` and unprobed lists cost
  zero I/O at every batch level.
* ``_tombstones`` starts with an underscore, which Spark's file index
  treats as hidden — ``spark.read.parquet(path)`` never sees it; the
  reconcile path reads it explicitly.

Reconcile semantics (upsert + delete)
-------------------------------------
Within one batch an id appears at most once (the append contract).
Across batches the LAST write wins: a row's visible version is the one
with the highest ``batch_id``, and a tombstone ``(id, batch_id=T)``
hides every version with ``batch_id <= T`` (a later re-append
resurrects the id).  :func:`reconcile` applies exactly that; searches
call it only when the tree actually has >1 batch or tombstones (a
driver-side directory listing — no Spark job), so a freshly bulk-built
index keeps its zero-exchange probe plan.

Compaction
----------
:func:`compact_index` folds the whole tree back to a single
``batch_id=0`` level: reconcile, repartition by the list key (one
file set per list — the small-files payback), write to a NEW path.
Post-compact searches are hash-identical to pre-compact ones because
both sides go through the same :func:`reconcile` law (gated by
``ann_ivf_index_compact`` and tests/test_index_maint.py).

Search
------
A persisted vector index answers a query in at most four steps, each
written once here:

1. **Probe** — :func:`probe_lists` ranks the coarse lists (IVF,
   IVF-SQ8, IVF-PQ centroids) against the query with the declared
   ``(distance, centroid_id)`` tiebreak and collects the ``nprobe``
   winners — a driver collect bounded by the probe width.  LSH probes
   its query bucket (plus ``max_flips`` Hamming neighbours) instead.
2. **Pruned read** — :func:`read_reconciled` with ``prune`` set to a
   literal ``isin`` on the list key: the filter lands in
   ``PartitionFilters``, so unprobed lists cost zero I/O; reconcile
   engages only on a tree that has appends or tombstones (a tree with
   no ``batch_id`` level is a plain pruned read).  SQ8 and PCA have no
   lists and skip steps 1-2.
3. **Score** — IVF and LSH hold float vectors, so ``knn.knn`` over the
   probed lists is already exact and the search ends here.  The
   compressed families score their codes instead (int8 ADC for SQ8
   and IVF-SQ8, per-list LUT ADC for IVF-PQ, projected L2 for PCA).
4. **Pool and exact rerank** — :func:`rerank_pool` keeps the
   ``k * oversample`` best ids by that score, re-reads only those rows
   from the float corpus via a pushed ``In`` filter and returns
   ``knn.knn`` over them: exact double L2, ``(distance, id)`` tiebreak.

The BM25 and phrase postings share the layout and maintenance above
but NOT this search path: their rows are keyed by ``(doc_id, term)``,
and the per-id reconcile would collapse a document's terms to one row.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import DISTANCE_FNS
from .knn import _query_col, knn

BATCH_COL = "batch_id"
TOMBSTONE_DIR = "_tombstones"


def _fs_list_names(spark: SparkSession, path: str, glob: str | None = None) -> list[str]:
    """Child names of ``path`` via the Hadoop FS API (works on local,
    HDFS, and object stores) — a pure driver-side listing, no Spark
    job.  ``glob`` keeps only the matching children, filtered JVM-side
    (each returned name costs py4j round-trips, and a list-keyed tree
    such as LSH's has up to 2^bits children).  Empty list if the path
    does not exist."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    if glob is None:
        found = fs.listStatus(hpath)
    else:
        found = fs.globStatus(jvm.org.apache.hadoop.fs.Path(hpath, glob)) or []
    return [st.getPath().getName() for st in found]


def index_state(spark: SparkSession, path: str) -> tuple[list[int], bool]:
    """``(sorted batch ids, has_tombstones)`` of an index tree, from one
    directory listing."""
    names = _fs_list_names(spark, path, f"{{{BATCH_COL}=*,{TOMBSTONE_DIR}}}")
    batches = sorted(
        int(n.split("=", 1)[1]) for n in names if n.startswith(BATCH_COL + "=")
    )
    return batches, TOMBSTONE_DIR in names


def next_batch_id(spark: SparkSession, path: str) -> int:
    """The next free batch id for a manual (non-streaming) append or
    delete — max over BOTH the data and tombstone batch levels + 1, so
    appends and deletes sequence as one monotonic log (a re-append
    after a delete must land at a strictly later batch to resurrect
    the id)."""
    batches, has_tombs = index_state(spark, path)
    hi = batches[-1] if batches else 0
    if has_tombs:
        tomb_names = _fs_list_names(spark, f"{path}/{TOMBSTONE_DIR}")
        tomb_batches = [
            int(n.split("=", 1)[1])
            for n in tomb_names
            if n.startswith(BATCH_COL + "=")
        ]
        if tomb_batches:
            hi = max(hi, max(tomb_batches))
    return hi + 1


def write_bulk(
    df: DataFrame, path: str, list_key: str | list[str]
) -> None:
    """The bulk index build: everything lands under ``batch_id=0``.

    r14 opt (guide §6 — output file sizing): the rows are REBALANCE'd
    on the list key before the partitioned write.  Without it, a
    ``partitionBy`` write emits one file per (task x list) — at 100 TB
    that is tasks x nlist tiny files; with it, AQE sizes the write
    partitions to its advisory target, clustering each list's rows
    while still SPLITTING a skewed list across tasks (where a plain
    ``repartition(key)`` would serialize a giant list through one
    task).  Row content is untouched; only the physical layout
    changes."""
    keys = [list_key] if isinstance(list_key, str) else list(list_key)
    (
        df.withColumn(BATCH_COL, F.lit(0))
        .hint("rebalance", *keys)
        .write.mode("overwrite")
        .partitionBy(BATCH_COL, *keys)
        .parquet(path)
    )


def append_batch(
    df: DataFrame,
    path: str,
    list_key: str | list[str],
    batch_id: int | None = None,
) -> None:
    """Append one batch into the tree.

    With an explicit ``batch_id`` (the streaming ``foreachBatch`` path)
    the write uses **dynamic partition overwrite**: a replayed batch
    rewrites exactly its own ``batch_id=N`` partitions, making retries
    idempotent.  With ``batch_id=None`` (manual incremental append) the
    next free id is taken from the directory listing and the write is a
    plain append — only the directories the batch lands in are touched,
    so maintenance cost tracks the batch either way."""
    keys = [list_key] if isinstance(list_key, str) else list(list_key)
    if batch_id is None:
        bid = next_batch_id(df.sparkSession, path)
        (
            df.withColumn(BATCH_COL, F.lit(bid))
            .write.mode("append")
            .partitionBy(BATCH_COL, *keys)
            .parquet(path)
        )
        return
    if batch_id == 0:
        raise ValueError("batch_id 0 is reserved for the bulk build")
    (
        df.withColumn(BATCH_COL, F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL, *keys)
        .parquet(path)
    )


def write_tombstones(
    ids: DataFrame,
    path: str,
    id_col: str,
    batch_id: int | None = None,
) -> None:
    """Record deletes: ``(id, batch_id)`` marker rows under
    ``{path}/_tombstones``.  A tombstone at batch ``T`` hides every
    version of the id with ``batch_id <= T``; re-appending the id in a
    later batch resurrects it.  Streaming deletes pass the foreachBatch
    ``batch_id`` for the same dynamic-overwrite idempotency as
    :func:`append_batch`; manual deletes stamp the tree's next free id
    (so they sequence after every existing append)."""
    spark = ids.sparkSession
    tpath = f"{path}/{TOMBSTONE_DIR}"
    bid = next_batch_id(spark, path) if batch_id is None else int(batch_id)
    marker = ids.select(F.col(id_col)).distinct().withColumn(
        BATCH_COL, F.lit(bid)
    )
    if batch_id is None:
        marker.write.mode("append").partitionBy(BATCH_COL).parquet(tpath)
    else:
        (
            marker.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BATCH_COL)
            .parquet(tpath)
        )


def read_tombstones(spark: SparkSession, path: str, id_col: str) -> DataFrame | None:
    """The tombstone relation ``(id, batch_id)``, or None when the tree
    has none."""
    names = _fs_list_names(spark, path)
    if TOMBSTONE_DIR not in names:
        return None
    return (
        spark.read.parquet(f"{path}/{TOMBSTONE_DIR}")
        .select(F.col(id_col), F.col(BATCH_COL).cast("long").alias(BATCH_COL))
    )


def reconcile(
    index: DataFrame,
    id_col: str,
    tombstones: DataFrame | None = None,
    appended_latest: DataFrame | None = None,
) -> DataFrame:
    """Apply the last-write-wins + tombstone law to (a pruned slice of)
    an index tree: keep each id's highest-``batch_id`` version, then
    drop ids whose max tombstone batch is >= that version's batch.

    ``appended_latest`` is the GLOBAL ``(id, _g_max)`` relation over the
    tree's appended batches (``batch_id >= 1``).  Without it, LWW is
    applied only within ``index`` — wrong for a pruned slice when an
    upsert moved an id to a different list (e.g. a changed embedding
    re-assigns the centroid): a probe hitting the OLD list but not the
    new one would resurrect the superseded version (ADVICE r7 medium).
    With it, a slice row survives only if no strictly newer version
    exists anywhere in the tree.  Ids written solely by the bulk build
    never appear in the relation (their version cannot be superseded
    from outside the slice without an append existing), so the null
    branch keeps them.

    Shuffle cost ∝ the SLICE this runs on plus the appended-id relation
    — searches reconcile only the probed lists plus the (micro-batch
    sized, compaction-resettable) append log, never the bulk tree.  Ids
    are unique per batch (the append contract), so ``max_by`` on
    ``batch_id`` is deterministic."""
    data_cols = [c for c in index.columns if c != id_col]
    latest = index.groupBy(id_col).agg(
        F.max_by(F.struct(*data_cols), BATCH_COL).alias("_v")
    )
    out = latest.select(id_col, "_v.*")
    if appended_latest is not None:
        out = (
            out.join(F.broadcast(appended_latest), id_col, "left")
            .filter(
                F.col("_g_max").isNull()
                | (F.col(BATCH_COL) >= F.col("_g_max"))
            )
            .drop("_g_max")
        )
    if tombstones is not None:
        dead = tombstones.groupBy(id_col).agg(
            F.max(BATCH_COL).alias("_dead_at")
        )
        out = (
            out.join(F.broadcast(dead), id_col, "left")
            .filter(
                F.col("_dead_at").isNull()
                | (F.col(BATCH_COL) > F.col("_dead_at"))
            )
            .drop("_dead_at")
        )
    return out


def appended_latest_ids(
    spark: SparkSession, path: str, id_col: str
) -> DataFrame:
    """The global ``(id, _g_max)`` relation over a tree's APPENDED
    batches only (``batch_id >= 1`` — partition-pruned, so the bulk
    ``batch_id=0`` level costs zero I/O, and column-pruned to the id).
    Size is bounded by the append log, which compaction folds back to
    empty; a clean tree never builds this at all (read_reconciled's
    listing gate)."""
    return (
        spark.read.parquet(path)
        .filter(F.col(BATCH_COL) >= 1)
        .groupBy(id_col)
        .agg(F.max(F.col(BATCH_COL).cast("long")).alias("_g_max"))
    )


def read_reconciled(
    spark: SparkSession,
    path: str,
    id_col: str,
    prune=None,
) -> DataFrame:
    """Read an index tree applying reconcile ONLY when the directory
    listing says it is needed (>1 batch or tombstones present) — a
    freshly bulk-built tree keeps its original scan plan untouched, so
    probe plans stay zero-exchange (tests/test_plans.py).  ``prune`` is
    an optional Column filter applied before reconcile (the partition-
    pruning ``isin`` of a probe)."""
    batches, has_tombs = index_state(spark, path)
    df = spark.read.parquet(path)
    if prune is not None:
        df = df.filter(prune)
    if len(batches) <= 1 and not has_tombs:
        return df.drop(BATCH_COL)
    tombs = read_tombstones(spark, path, id_col) if has_tombs else None
    # Cross-list supersede guard (ADVICE r7 medium): when the tree has
    # appended batches AND the read is pruned, LWW must consult the
    # global append log — an upsert that moved an id to an unprobed
    # list would otherwise leave the stale version visible in the
    # probed one.  Unpruned reads see the whole tree, so slice LWW is
    # already global.
    appended = None
    if prune is not None and any(b >= 1 for b in batches):
        appended = appended_latest_ids(spark, path, id_col)
    return reconcile(df, id_col, tombs, appended).drop(BATCH_COL)


def compact_index(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    id_col: str,
    list_key: str | list[str],
    list_key_types: dict[str, str] | None = None,
) -> None:
    """Fold an index tree to a single clean ``batch_id=0`` level at a
    NEW path: reconcile (superseded versions and tombstoned ids drop
    out physically), repartition by the list key so each inverted list
    lands as one file set (the small-files payback of log-structured
    appends), write, done.  Tombstones are NOT carried — they are
    applied.  Never in-place: at scale the swap is an atomic pointer
    flip after validation (the ``ivf_index_rebuild`` contract).

    Searches before and after compaction return identical results
    because both go through the same :func:`reconcile` law."""
    if src_path == dest_path:
        raise ValueError("compact writes to a new path; swap after validation")
    keys = [list_key] if isinstance(list_key, str) else list(list_key)
    clean = read_reconciled(spark, src_path, id_col)
    # Partition-column VALUES round-trip through directory names, so
    # their read dtype comes from partition inference (e.g. int), not
    # from the writer's column type (ADVICE r7 low).  Source and
    # destination trees go through the same inference, so their READ
    # schemas agree by construction; when the caller needs the original
    # logical type preserved (long/string list keys), pass
    # ``list_key_types`` and the cast is applied before the rewrite.
    if list_key_types:
        unknown = set(list_key_types) - set(keys)
        if unknown:
            raise ValueError(f"list_key_types for non-key columns: {unknown}")
        for k, t in list_key_types.items():
            clean = clean.withColumn(k, F.col(k).cast(t))
    # layout is handled by write_bulk's keyed REBALANCE (r14, guide §6)
    # — the old repartition(keys) here forced ONE task per list, which
    # at scale both serializes a hot list and emits one oversized file.
    write_bulk(clean, dest_path, keys)


def probe_lists(
    centroids: DataFrame,
    query_vec,
    nprobe: int,
    metric: str = "l2",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
) -> list[Row]:
    """The ``nprobe`` coarse lists nearest the query, as collected
    ``(centroid_id, centroid_vec)`` rows in probe order.  Ties break on
    ``(distance, centroid_id)``, so equal centroids probe the lower id.
    One bounded collect of ``nprobe`` rows — the same small movement a
    broadcast of the centroid table performs."""
    dist = DISTANCE_FNS[metric](F.col(centroid_vec_col), _query_col(query_vec))
    return (
        centroids.withColumn("_qd", dist)
        .orderBy("_qd", centroid_id_col)
        .limit(nprobe)
        .select(centroid_id_col, centroid_vec_col)
        .collect()
    )


def rerank_pool(
    scored: DataFrame,
    coarse: Column,
    corpus: DataFrame,
    query_vec: Sequence[float] | Column,
    k: int,
    oversample: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
    distance_col: str = "distance",
) -> DataFrame:
    """Cut ``scored`` to its ``k * oversample`` best ids by the
    ``coarse`` score (ties on id), then exact-rerank those candidates
    against the float corpus: a literal ``isin`` (parquet row-group stats
    prune the re-read) feeding :func:`knn.knn`.  Returns
    ``(id, *payload_cols, distance)``.  The pool collect is bounded at
    ``k * oversample`` rows."""
    pool = (
        scored.orderBy(coarse.asc(), F.col(id_col).asc())
        .limit(k * oversample)
        .select(id_col)
        .collect()
    )
    cand = corpus.filter(F.col(id_col).isin([r[id_col] for r in pool]))
    return knn(
        cand, query_vec, k=k, vec_col=vec_col, id_col=id_col,
        payload_cols=[id_col, *payload_cols], distance_col=distance_col,
    )
