"""Ingestion pipeline assembly — the Spark restatement of the
reference's blob-upload path (SURVEY.md §3.1; Function.java:73-178).

Reference control flow (per file, per page, per chunk, sequential with
sleeps):  extract pages -> normalize -> chunk -> [status PAGE_SEPARATE_
FINISHED] -> embed (3 retries) -> [FINISH_OAI_INVOCATION] -> JDBC
INSERT -> [FINISH_DB_INSERTION] -> [COMPLETED | FAILED_DB_INSERTION].

Spark restatement: one declarative job —

    pages -> normalize (native regex) -> chunk (native bounds scan,
          r14 — no Python) -> posexplode -> deterministic chunk id
          -> embed (Arrow-batched pandas UDF) -> corpus rows (§1.1)

plus a status-event relation derived from the same lineage (the
reference's per-chunk Cosmos writes become one set-oriented append;
resolve with operators.status.status_upsert).  Per-chunk sequencing,
20 ms pacing and per-chunk JDBC connections disappear — batching *is*
the rate limiter, and one write per job replaces row-at-a-time inserts.

Scale notes: the ONLY Python stage is the embedder (Arrow-batched;
r14 made the chunker native, so the corpus text crosses the
JVM<->Python boundary once instead of twice).  Everything else is
whole-stage codegen.  The corpus write partitions by ``fileName``
prefix bucket so a 1000-executor ingest lays out files without a
single hot partition; embeddings never shuffle (the pipeline is
narrow from page rows to the sink).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.embed import DEFAULT_DIM, make_embedder
from ..functions.hashing import chunk_id
from ..functions.text import chunk_exploded

CORPUS_COLS = ["id", "embedding", "origntext", "fileName", "pageNumber", "chunk_index"]


def _valid_embedding(dim: int) -> Column:
    """pgvector's ``VECTOR(n)`` insert check as one predicate: the
    embedding exists, has ``dim`` elements, and every element is a
    finite number (pgvector rejects NaN and ±Inf).  It is false, never
    null, for a null vector or a null element, so its negation selects
    exactly the rejected rows."""
    emb = F.col("embedding")
    finite = F.forall(
        emb, lambda x: x.isNotNull() & ~F.isnan(x) & (F.abs(x) != F.lit(float("inf")))
    )
    return emb.isNotNull() & (F.size(emb) == F.lit(dim)) & finite


def pages_to_chunks(pages: DataFrame) -> DataFrame:
    """(fileName, pageNumber, text) -> one row per chunk with its
    deterministic id (P2 + P3 + P6).

    The reference draws a random UUID per chunk (Function.java:139);
    identity here is content-addressed — sha2(fileName § pageNumber §
    chunk_index) — so re-ingesting a file is idempotent (same keys).
    """
    # r14: fully native chunking (functions/text.py::chunk_exploded) —
    # the page text no longer crosses the Python boundary to find cut
    # points; the embedder below is now the pipeline's ONLY Python
    # stage, so the corpus text crosses JVM<->Python once, not twice.
    chunked = chunk_exploded(
        pages.select("fileName", "pageNumber", "text"), "text", "c"
    ).select(
        "fileName",
        "pageNumber",
        F.col("c_index").alias("chunk_index"),
        F.col("c_text").alias("origntext"),
    )
    return chunked.select(
        chunk_id("fileName", "pageNumber", "chunk_index").alias("id"),
        "origntext",
        "fileName",
        "pageNumber",
        "chunk_index",
    )


def embed_chunks(
    chunks: DataFrame,
    dim: int = DEFAULT_DIM,
    embed_fn=None,
    text_col: str = "origntext",
    on_error: str = "fail",
) -> DataFrame:
    """P5: attach the embedding column (Arrow-batched; deterministic
    local embedder unless a real endpoint is injected).  With
    ``on_error='null'`` an exhausted-retry batch yields null vectors
    for downstream quarantine instead of failing the job."""
    embedder = make_embedder(dim=dim, embed_fn=embed_fn, on_error=on_error)
    return chunks.withColumn("embedding", embedder(F.col(text_col)))


def failed_chunk_status(corpus: DataFrame, dim: int = DEFAULT_DIM) -> DataFrame:
    """Status events for quarantined chunks: every row failing the
    ``VECTOR(n)`` check becomes a FAILED_DB_INSERTION entry — the
    terminal-failure path of the reference's state machine
    (Function.java:173-174), set-at-a-time."""
    return validate_corpus(corpus, dim=dim).select(
        "id",
        "fileName",
        F.lit("FAILED_DB_INSERTION").alias("status"),
        "pageNumber",
        F.current_timestamp().alias("updated_at"),
    )


def ingest_pages(
    pages: DataFrame,
    dim: int = DEFAULT_DIM,
    embed_fn=None,
    on_error: str = "fail",
) -> tuple[DataFrame, DataFrame]:
    """Full §3.1 pipeline from a page relation.

    Returns ``(corpus, status_events)``:

    * corpus — the §1.1 vector-table schema (+ chunk_index);
    * status_events — one event per chunk per completed stage, a
      set-oriented version of the reference's per-chunk Cosmos writes.
      The unconditional-COMPLETED bug (Function.java:177) is not
      replicated: COMPLETED is emitted only for chunks whose embedding
      passes the ``VECTOR(n)`` check; a quarantined chunk
      (``on_error='null'``) gets the pre-embedding stages plus the
      FAILED_DB_INSERTION event from :func:`failed_chunk_status`, and
      :func:`..operators.status.status_upsert` resolves the union to the
      failure (terminal-failure outranks terminal-success on ties).

    ``on_error`` is passed through to the embedder (P5): ``'fail'``
    raises on exhausted retries, ``'null'`` quarantines the batch as
    null vectors so the job survives a partial embedding outage.
    """
    chunks = pages_to_chunks(pages)
    corpus = embed_chunks(chunks, dim=dim, embed_fn=embed_fn, on_error=on_error).select(
        *CORPUS_COLS
    )

    # Only PAGE_SEPARATE_FINISHED is known at chunk time (Function.java:142-144).
    # The OAI/DB stage events are history that happened only when the embedding
    # actually succeeded (Function.java:149, 165), so they derive from the
    # corpus validity predicate below — a quarantined chunk must not leave
    # FINISH_OAI_INVOCATION / FINISH_DB_INSERTION ghosts in the raw event log.
    chunk_events = chunks.select(
        "id",
        "fileName",
        F.lit("PAGE_SEPARATE_FINISHED").alias("status"),
        "pageNumber",
        F.current_timestamp().alias("updated_at"),
    )
    # Post-embedding events per chunk in ONE pass over corpus (the embedder
    # runs once for this leg): the full success trail iff the embedding passes
    # the VECTOR(n) check, the terminal failure otherwise — the conditional
    # the reference forgot (Function.java:177).
    valid = _valid_embedding(dim)
    success_trail = F.array(
        F.lit("FINISH_OAI_INVOCATION"), F.lit("FINISH_DB_INSERTION"), F.lit("COMPLETED")
    )
    post_events = corpus.select(
        "id",
        "fileName",
        F.explode(
            F.when(valid, success_trail).otherwise(F.array(F.lit("FAILED_DB_INSERTION")))
        ).alias("status"),
        "pageNumber",
        F.current_timestamp().alias("updated_at"),
    )
    status_events = chunk_events.unionByName(post_events)
    return corpus, status_events


def validate_corpus(corpus: DataFrame, dim: int = DEFAULT_DIM) -> DataFrame:
    """The engine-side twin of pgvector's ``VECTOR(n)`` insert check
    (SURVEY.md §1.1): reject rows whose embedding is missing, has the
    wrong dimensionality, or holds a NaN, ±Inf or null element.  Returns
    the offending rows (empty = valid).
    """
    return corpus.filter(~_valid_embedding(dim))


def write_corpus(corpus: DataFrame, path: str, buckets: int = 64) -> None:
    """S3 as a bulk columnar append.

    ``fileName``-hash bucket as the partition column: bounded fan-out
    (``buckets`` directories), no per-file skew, and chunk locality per
    source file — the layout a 100 TB corpus wants for both per-file
    reprocessing and embedding-scan queries.
    """
    (
        corpus.withColumn("bucket", F.pmod(F.xxhash64("fileName"), F.lit(buckets)))
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(path)
    )


def upsert_corpus_files(
    spark,
    corpus_path: str,
    new_corpus: DataFrame,
    buckets: int = 64,
) -> None:
    """Replace all chunks of the files present in ``new_corpus`` —
    the re-uploaded-blob path.

    The reference re-processes a re-uploaded blob into *new random
    UUIDs*, silently duplicating the corpus (Function.java:139); here
    chunk ids are content-addressed, and replacement is file-scoped:
    keep rows whose fileName is NOT being re-ingested, union the new
    rows, rewrite.  On a transactional table format this is
    ``MERGE``/``replaceWhere``; on plain parquet it is a
    read-filter-rewrite of only the buckets that contain the touched
    files (bucket = pmod(xxhash64(fileName), buckets), so untouched
    buckets are never rewritten).
    """
    from pyspark.sql import functions as F  # local: keep module import light

    touched = [r[0] for r in new_corpus.select("fileName").distinct().collect()]
    new_bucketed = new_corpus.withColumn(
        "bucket", F.pmod(F.xxhash64("fileName"), F.lit(buckets))
    )
    touched_buckets = sorted(
        r[0] for r in new_bucketed.select("bucket").distinct().collect()
    )

    import os

    existing_dirs = [
        f"{corpus_path}/bucket={b}"
        for b in touched_buckets
        if os.path.isdir(f"{corpus_path}/bucket={b}")
    ]
    if existing_dirs:
        kept = (
            spark.read.option("basePath", corpus_path)
            .parquet(*existing_dirs)
            .filter(~F.col("fileName").isin(touched))
            .localCheckpoint(eager=True)  # materialize before overwrite
        )
    else:
        kept = None

    merged = (
        kept.unionByName(new_bucketed) if kept is not None else new_bucketed
    )
    for b in touched_buckets:
        (
            merged.filter(F.col("bucket") == b)
            .drop("bucket")
            .write.mode("overwrite")
            .parquet(f"{corpus_path}/bucket={b}")
        )


def with_ingest_metrics(chunks: DataFrame):
    """P7 as query-lifetime observability: attach an ``Observation``
    collecting chunk count / total tokens / total chars in the same
    pass as whatever action consumes the relation — the set-at-a-time
    analog of the reference's per-call token logging
    (Function.java:194-196), with zero extra scans.

    Returns ``(df, observation)``; read ``observation.get`` after the
    first action on ``df``.
    """
    from pyspark.sql import Observation

    obs = Observation("ingest_metrics")
    tokens = F.size(F.split(F.trim(F.col("origntext")), " "))
    observed = chunks.observe(
        obs,
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(tokens).alias("total_tokens"),
        F.sum(F.length("origntext")).alias("total_chars"),
    )
    return observed, obs
