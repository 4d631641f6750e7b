"""Full-text retrieval: BM25 scoring and reciprocal-rank fusion.

The reference searches its corpus by vector similarity only
(SSEOpenAIController.java:315-316 — `ORDER BY embedding <-> q LIMIT 5`);
a user replacing it with this engine gets the standard lexical
complement: Okapi BM25 over the chunk text, and hybrid retrieval that
fuses the lexical and vector top-k lists with reciprocal-rank fusion
(RRF, the score used by Elasticsearch/Vespa/pgvector hybrid examples:
``sum over lists of 1 / (C + rank)``).

Everything is native DataFrame algebra — no Python in the row path:

* tokenization is the same whitespace convention the corpus-statistics
  queries use (`normalize_whitespace` + split), so lexical stats stay
  consistent engine-wide and SQL-replayable;
* document length and term frequency are two partial-aggregated
  shuffles keyed by (doc) and (doc, term) — both map-side combinable,
  shuffle volume ∝ distinct keys, never the token stream;
* per-term document frequencies (≤ |query| rows) and the 1-row corpus
  stats (N, avgdl) are **broadcast**; the only non-broadcast join keys
  on doc_id across two doc-sized relations.  At 100 TB the plan's big
  shuffles are the two aggregations — there is no all-pairs or
  driver-side loop anywhere.

Scoring (Lucene's BM25 variant, public formula):

    idf(t)  = ln( (N - df + 0.5) / (df + 0.5) + 1 )
    s(d, t) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    bm25(d) = sum over query terms of s(d, t)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_whitespace_col


def tokenize(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, text) -> one lowercased whitespace token per row."""
    return (
        docs.select(
            id_col,
            F.explode(
                F.split(F.trim(normalize_whitespace_col(text_col)), " ")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .withColumn("term", F.lower("term"))
    )


def tokenize_pos(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """:func:`tokenize` with the token's 0-based position — the input
    relation for span-level operators (substring dedup, packing of
    sub-document units)."""
    return (
        docs.select(
            id_col,
            F.posexplode(
                F.split(F.trim(normalize_whitespace_col(text_col)), " ")
            ).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
        .withColumn("term", F.lower("term"))
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: str = "bm25",
) -> DataFrame:
    """Top-k documents by BM25 against a bag of query terms.

    Deterministic tiebreak: (score desc, id asc) — same contract as the
    KNN top-k (SURVEY.md §4 item 2).
    """
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("bm25_topk needs at least one query term")
    # ONE tokenize pass: doc length and every per-term tf fall out of a
    # single per-doc conditional aggregation.  The old shape derived
    # doc_len and tf from `tokens` and dfreq + scored from `tf` as
    # plain branches — the corpus tokenized up to 4x per call (r13
    # opt).  The pinned relation is one narrow row per document
    # (id, dl, |terms| counts), so the checkpoint is cheap; every
    # downstream value (tf, dl, df, n_docs, avgdl) is identical, so the
    # BM25 expression is bit-identical.
    tokens = tokenize(docs, text_col=text_col, id_col=id_col)
    per_doc = tokens.groupBy(id_col).agg(
        F.count("*").alias("dl"),
        *[
            F.count(F.when(F.col("term") == t, F.lit(1))).alias(f"_tf_{i}")
            for i, t in enumerate(terms)
        ],
    ).localCheckpoint(eager=False)
    stats = per_doc.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    # (id, term, tf, dl) rows for query terms only — distinct (id, term)
    # by construction, so dfreq's per-term doc count is a plain count
    tf = (
        per_doc.select(
            id_col,
            "dl",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("term"), F.col(f"_tf_{i}").alias("tf")
                        )
                        for i, t in enumerate(terms)
                    ]
                )
            ).alias("_g"),
        )
        .select(id_col, "dl", F.col("_g.term").alias("term"), F.col("_g.tf").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))

    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    term_score = idf * F.col("tf") * (k1 + 1.0) / denom

    scored = (
        tf.crossJoin(F.broadcast(stats))
        .join(F.broadcast(dfreq), "term")
        .select(id_col, term_score.alias("_s"))
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum("_s").alias(score_col))
        .orderBy(F.col(score_col).desc(), id_col)
        .limit(k)
    )


def bm25_topk_join(
    docs: DataFrame,
    queries: dict[int, Sequence[str]] | DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    score_col: str = "bm25",
    terms_col: str = "terms",
) -> DataFrame:
    """Per-query BM25 top-k for a batch of term-bag queries — the
    lexical twin of ``knn.knn_join``.

    ``queries`` is either a DataFrame — ``(query_id, terms
    array<string>)`` or pre-exploded ``(query_id, term string)`` — or,
    as a convenience for ad-hoc literals, a ``{query_id: [terms]}``
    dict (converted to the same relation; VERDICT r5 #2: the DataFrame
    form is the scale path, so callers deriving queries FROM data never
    collect them to the driver).

    The expensive corpus statistics (tokenization, document lengths,
    N/avgdl, term frequencies, document frequencies) are computed ONCE
    over the union of all query terms; each query then reuses them
    through a broadcast (query_id, term) relation.  The token→tf stage
    keeps only query terms — a pushed literal ``In`` filter for the
    dict form, a broadcast semi-join for the DataFrame form.  Shuffles:
    the two partial-aggregated stats shuffles (dl and tf — shared by
    all queries) plus one narrow per-query window; N queries cost ~one
    query's corpus work.  Ranks use the (score desc, id asc) tiebreak.
    """
    all_terms: list[str] | None = None
    if isinstance(queries, DataFrame):
        if terms_col in queries.columns:  # (query_id, terms array)
            qrel = queries.select(
                query_id_col, F.explode(terms_col).alias("term")
            )
        elif "term" in queries.columns:  # already exploded
            qrel = queries.select(query_id_col, "term")
        else:
            raise ValueError(
                f"queries DataFrame needs a '{terms_col}' array column "
                f"or a 'term' string column; got {queries.columns}"
            )
        qrel = (
            qrel.withColumn("term", F.lower("term"))
            .filter(F.col("term") != "")
            .distinct()
        )
    else:
        qterms = [
            (int(qid), t.lower())
            for qid, terms in sorted(queries.items())
            for t in sorted({x.lower() for x in terms})
        ]
        if not qterms:
            raise ValueError("bm25_topk_join needs at least one query term")
        qrel = docs.sparkSession.createDataFrame(
            qterms, f"{query_id_col} int, term string"
        )
        all_terms = sorted({t for _, t in qterms})

    tokens = tokenize(docs, text_col=text_col, id_col=id_col)
    doc_len = tokens.groupBy(id_col).agg(F.count("*").alias("dl"))
    stats = doc_len.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    if all_terms is not None:
        wanted = tokens.filter(F.col("term").isin(all_terms))
    else:
        wanted = tokens.join(
            F.broadcast(qrel.select("term").distinct()), "term", "left_semi"
        )
    tf = wanted.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df"))

    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    term_score = idf * F.col("tf") * (k1 + 1.0) / denom

    scored = (
        tf.join(doc_len, id_col)
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qrel), "term")  # fan out per query AFTER stats
        .select(query_id_col, id_col, term_score.alias("_s"))
    )
    per_query = scored.groupBy(query_id_col, id_col).agg(F.sum("_s").alias(score_col))
    w = Window.partitionBy(query_id_col).orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return (
        per_query.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def with_rank(df: DataFrame, order_cols: Sequence, rank_col: str = "rank") -> DataFrame:
    """Attach a 1-based row-number position by the given ordering
    (``row_number()``, not ``dense_rank()`` — ties get distinct ranks,
    matching the SQL oracle's ``row_number() OVER (ORDER BY ...)``).

    Meant for already-truncated top-k lists (k rows): the single-partition
    window is bounded by k, not by the corpus.
    """
    # Constant partition key: same single-partition semantics (inputs are
    # pre-truncated to k rows) without Spark's "No Partition Defined" warning
    # flooding the 100-query gate logs.
    w = Window.partitionBy(F.lit(1)).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w))


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    k: int = 10,
    c: int = 60,
    rank_col: str = "rank",
    score_col: str = "rrf",
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists.

    ``score(d) = sum over lists containing d of 1 / (c + rank_d)``; a
    document present in only one list scores from that list alone
    (full outer join).  Inputs are top-k lists, so both sides are tiny;
    the join broadcasts under AQE.
    """
    sa = ranked_a.select(id_col, (1.0 / (c + F.col(rank_col))).alias("_sa"))
    sb = ranked_b.select(id_col, (1.0 / (c + F.col(rank_col))).alias("_sb"))
    fused = sa.join(sb, id_col, "full_outer").select(
        id_col,
        (
            F.coalesce(F.col("_sa"), F.lit(0.0))
            + F.coalesce(F.col("_sb"), F.lit(0.0))
        ).alias(score_col),
    )
    return fused.orderBy(F.col(score_col).desc(), id_col).limit(k)


# --------------------------------------------------------------------------
# Persisted inverted index: the offline/online split of bm25_topk.
#
# bm25_topk re-tokenizes the corpus per query — correct, but at 100 TB
# that is a full corpus scan per search.  The deployed shape (Lucene,
# Elasticsearch, Vespa) builds the postings ONCE and serves queries from
# them.  Here the postings live as parquet hive-partitioned by a stable
# hash bucket of the term, so a |Q|-term query opens at most |Q| bucket
# directories via *static* partition pruning (PartitionFilters) — probe
# I/O tracks the query, never the corpus.  Mirrors the IVF/LSH/SQ8
# persisted-index family (operators/ann.py::ivf_index_write).
# --------------------------------------------------------------------------

def phrase_match(
    docs: DataFrame,
    phrase: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search over positional postings: ``(doc_id,
    n_matches)`` for documents containing the consecutive token
    sequence ``phrase`` at least once.

    The positional-postings shape (Lucene phrase queries): one
    ``tokenize_pos`` pass, then one keyed join per phrase word — word i
    filtered from the postings, aligned to the anchor position
    ``pos - i``, joined on ``(doc, anchor)``.  Each join input is
    pre-filtered to ONE term's postings right at the explode, so join
    volume tracks the phrase words' document frequency, never the
    corpus token count.  (Here the postings are derived on the fly, so
    the filter runs post-explode; against a PERSISTED positional
    postings table the same term equality becomes a pushed scan filter
    and a term-bucket partition prune, exactly like
    :func:`bm25_index_search`.)  Overlapping occurrences count
    separately (position semantics, not substring replace)."""
    pos = tokenize_pos(docs, text_col=text_col, id_col=id_col)
    return phrase_match_postings(pos, phrase, id_col=id_col)


def phrase_match_postings(
    postings: DataFrame,
    phrase: Sequence[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`phrase_match` against a PREBUILT positional postings
    relation ``(id, pos, term)`` — the persisted-index serving form:
    when the postings are a parquet table, each word's term equality is
    a pushed scan filter (``PushedFilters: [EqualTo(term, ...)]``,
    gated in tests/test_bm25.py), so the scan reads only the phrase
    words' rows."""
    words = [w.lower() for w in phrase]
    if len(words) < 2:
        raise ValueError("phrase_match needs at least two words")
    anchored = None
    for i, w in enumerate(words):
        part = postings.filter(F.col("term") == w).select(
            id_col, (F.col("pos") - F.lit(i)).alias("_anchor")
        )
        anchored = part if anchored is None else anchored.join(
            part, [id_col, "_anchor"]
        )
    return anchored.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_matches"))


def postings_index_write(
    docs: DataFrame,
    path: str,
    n_buckets: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist POSITIONAL postings ``(id, pos, term)`` partitioned by
    the stable md5 term bucket — the artifact phrase queries serve
    from.  One tokenize pass, map-only plus the partitioned write; the
    same bucket layout as the BM25 index, so the two can share
    maintenance."""
    tokenize_pos(docs, text_col=text_col, id_col=id_col).withColumn(
        "term_bucket", term_bucket_col(F.col("term"), n_buckets)
    ).write.mode("overwrite").partitionBy("term_bucket").parquet(path)


def phrase_index_search(
    spark,
    path: str,
    phrase: Sequence[str],
    n_buckets: int = 32,
    id_col: str = "doc_id",
) -> DataFrame:
    """Serve a phrase query from the persisted positional postings:
    the phrase words' buckets are computed DRIVER-SIDE (no job), so the
    scan prunes statically to those directories AND pushes each word's
    term equality — the probed volume is the phrase words' postings,
    never the corpus.  Same semantics as :func:`phrase_match`."""
    words = sorted({w.lower() for w in phrase})
    buckets = sorted({term_bucket_py(w, n_buckets) for w in words})
    postings = (
        spark.read.parquet(path)
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(words))
        .select(id_col, "pos", "term")
    )
    return phrase_match_postings(postings, phrase, id_col=id_col)


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of :func:`term_bucket_col` — same md5-prefix
    bucket, so a search can enumerate its partitions without a job."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def term_bucket_col(term_col, n_buckets: int):
    """Stable md5-derived bucket of a term (engine-wide stable-hash
    convention — groupwise.hash_sample).  Deterministic across engines,
    partitionings and runs; NOT Spark's `hash()` (seed/version bound)."""
    return (
        F.conv(F.substring(F.md5(term_col), 1, 8), 16, 10).cast("long")
        % F.lit(n_buckets)
    )


def bm25_index_write(
    docs: DataFrame,
    path: str,
    n_buckets: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Build the persisted BM25 index: one tokenize pass, then

    * ``{path}/postings`` — (term, doc_id, tf, dl), partitioned by
      ``term_bucket``: the inverted lists;
    * ``{path}/terms``    — (term, df), same partitioning: per-term
      document frequencies for idf;
    * ``{path}/stats``    — 1 row (n_docs, avgdl): corpus constants.

    Cost model at 100 TB: the tokenize pass is map-only; the two
    aggregations (per-(doc,term) tf and per-doc dl) are partial-agg
    shuffles whose volume is distinct keys, not the token stream; the
    join back of dl onto postings keys on doc_id.  This is the offline
    index build, amortized over every query it serves.  Incremental
    maintenance appends new docs' postings into the same bucket layout
    (parquet append touches only the buckets the batch lands in), with
    stats/terms refreshed by the same aggregation over the delta — the
    ivf_index_append contract.
    """
    from .index_maint import write_bulk

    tokens = tokenize(docs, text_col=text_col, id_col=id_col)
    # ONE tokenize pass (r13 opt): tf is the only consumer of the raw
    # token stream — doc length is recovered algebraically as sum(tf)
    # per doc, so the corpus-sized stream is never re-derived and never
    # materialized; the three writes (postings / terms / stats) all read
    # the checkpointed distinct-key-sized tf relation.  The old shape
    # re-ran tokenization once per derived relation per write — 4 full
    # corpus passes for one index build.
    tf = (
        tokens.groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    doc_len = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    postings = tf.join(doc_len, id_col).withColumn(
        "term_bucket", term_bucket_col(F.col("term"), n_buckets)
    )
    write_bulk(postings, f"{path}/postings", "term_bucket")
    dfreq = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .withColumn("term_bucket", term_bucket_col(F.col("term"), n_buckets))
    )
    dfreq.write.mode("overwrite").partitionBy("term_bucket").parquet(f"{path}/terms")
    doc_len.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")).write.mode(
        "overwrite"
    ).parquet(f"{path}/stats")


def bm25_index_search(
    spark,
    path: str,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    score_col: str = "bm25",
) -> DataFrame:
    """Serve a BM25 top-k from the persisted index.

    The query's bucket ids are computed DRIVER-SIDE (md5 of each term —
    no Spark job), so the ``term_bucket IN (...)`` literal lands in the
    scan's ``PartitionFilters``: unqueried bucket directories are
    eliminated at planning time with zero I/O (delete-proof gated in
    tests/test_bm25_index.py).  Identical scoring math and
    (score desc, id asc) tiebreak as :func:`bm25_topk`, so the two are
    result-identical by construction — same SQL oracle.
    """
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("bm25_index_search needs at least one query term")
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})

    postings = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
    )
    dfreq = (
        spark.read.parquet(f"{path}/terms")
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .select("term", "df")
    )
    stats = spark.read.parquet(f"{path}/stats")

    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    term_score = idf * F.col("tf") * (k1 + 1.0) / denom

    scored = (
        postings.crossJoin(F.broadcast(stats))
        .join(F.broadcast(dfreq), "term")
        .select(id_col, term_score.alias("_s"))
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum("_s").alias(score_col))
        .orderBy(F.col(score_col).desc(), id_col)
        .limit(k)
    )


def bm25_index_append(
    new_docs: DataFrame,
    path: str,
    n_buckets: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
) -> None:
    """Incrementally maintain a persisted BM25 index: append the new
    batch's postings into the bucket layout, then refresh the
    corpus-relative side tables — the lexical twin of
    ``ann.ivf_index_append`` (and the foreachBatch body for streaming
    ingest into a text index).

    Postings rows are doc-local (term, doc_id, tf, dl): appending new
    docs (ids disjoint from the indexed corpus — the append contract)
    never touches existing rows, and the batch lands as its own
    ``batch_id`` level under the bucket layout (index_maint.py) — with
    the foreachBatch ``batch_id``, a replayed batch dynamic-partition-
    overwrites exactly itself, and the stats refresh that follows is a
    full overwrite, so the whole append is idempotent (ADVICE r6).
    df/n_docs/avgdl are corpus-relative, so they are REBUILT from the
    post-append postings: one aggregation pass ∝ index size, shuffling
    only (term) and (doc) keys.  This keeps the invariant tests pin —
    append(A); append(B) == write(A ∪ B) exactly, old docs' scores
    included (BM25 idf/avgdl shift with the corpus; a stale-stats index
    would silently diverge from the scan path).  A merge-based refresh
    (old stats + delta) avoids the postings pass but needs a staged
    swap to not read-and-overwrite the same directory; recompute is the
    simple default at fixture scale.
    """
    from .index_maint import append_batch

    spark = new_docs.sparkSession
    tokens = tokenize(new_docs, text_col=text_col, id_col=id_col)
    # same single-tokenize shape as bm25_index_write (r13 opt): dl is
    # recovered as sum(tf) per doc off the one checkpointed tf relation
    tf = (
        tokens.groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    doc_len = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    postings = tf.join(doc_len, id_col).withColumn(
        "term_bucket", term_bucket_col(F.col("term"), n_buckets)
    )
    append_batch(postings, f"{path}/postings", "term_bucket", batch_id=batch_id)

    all_postings = spark.read.parquet(f"{path}/postings")
    dfreq = (
        all_postings.groupBy("term")
        .agg(F.count("*").alias("df"))  # one posting row per (doc, term)
        .withColumn("term_bucket", term_bucket_col(F.col("term"), n_buckets))
    )
    dfreq.write.mode("overwrite").partitionBy("term_bucket").parquet(f"{path}/terms")
    doc_lens = all_postings.groupBy(id_col).agg(F.first("dl").alias("dl"))
    doc_lens.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")).write.mode(
        "overwrite"
    ).parquet(f"{path}/stats")


def mmr_rerank(
    corpus: DataFrame,
    query_vec,
    k: int = 5,
    pool_size: int = 20,
    lam_num: int = 1,
    lam_den: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sim_scale: int = 1_000_000,
) -> DataFrame:
    """Maximal-marginal-relevance diversification (round 8) — the
    standard RAG rerank that trades relevance against redundancy:
    greedily select ``argmax_c lam*sim(c, q) − (1−lam)*max_{s∈S}
    sim(c, s)`` from an exact top-``pool_size`` cosine pool.

    Engineering shape: the pool selection and every similarity are
    computed IN-PLAN (the codegen cosine folds of functions/vector.py)
    and quantized to exact micro-units (``floor(sim*1e6+0.5)`` BIGINT)
    before any ranking — so the greedy argmax chain is pure integer
    arithmetic, bit-identical across engines (the money-quantization
    discipline; λ is the rational ``lam_num/lam_den`` so the score
    ``lam_num*q_sim − (lam_den−lam_num)*max_sim`` stays integral).
    Only the bounded pool (ids + integer sims: pool_size + pool_size²
    rows) reaches the driver — the ``probe_lists``/``rerank_pool`` collect
    contract; the corpus-sized work is one pruned scan + TakeOrdered.
    First pick is pure relevance (empty-set penalty = 0, the standard
    MMR convention)."""
    from ..functions.vector import cosine_similarity

    spark = corpus.sparkSession
    qarr = F.array(*[F.lit(float(v)) for v in query_vec])

    def micro(c):
        return F.floor(c * F.lit(float(sim_scale)) + F.lit(0.5)).cast("long")

    pool = (
        corpus.withColumn("_qs", micro(cosine_similarity(F.col(vec_col), qarr)))
        .orderBy(F.col("_qs").desc(), F.col(id_col).asc())
        .limit(pool_size)
        .select(id_col, vec_col, "_qs")
    )
    a = pool.select(F.col(id_col).alias("_ia"), F.col(vec_col).alias("_va"))
    b = pool.select(F.col(id_col).alias("_ib"), F.col(vec_col).alias("_vb"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("_ia") != F.col("_ib"))
        .select(
            "_ia", "_ib",
            micro(cosine_similarity(F.col("_va"), F.col("_vb"))).alias("_ps"),
        )
    )
    qs = {int(r[id_col]): int(r["_qs"]) for r in pool.select(id_col, "_qs").collect()}
    ps = {
        (int(r["_ia"]), int(r["_ib"])): int(r["_ps"]) for r in pairs.collect()
    }

    penalty = lam_den - lam_num
    remaining = sorted(qs)
    selected: list[int] = []
    out = []
    for rank in range(1, min(k, len(qs)) + 1):
        best = None
        for cid in remaining:
            msim = max((ps[(cid, s)] for s in selected), default=0)
            score = lam_num * qs[cid] - penalty * msim
            cand = (-score, cid)
            if best is None or cand < best:
                best = cand
        cid = best[1]
        selected.append(cid)
        remaining.remove(cid)
        out.append((rank, cid, qs[cid], -best[0]))
    return spark.createDataFrame(
        out, f"rank int, {id_col} long, q_sim_micro long, mmr_score_micro long"
    )
