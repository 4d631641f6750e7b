"""Maintenance layer for the persisted index trees
(operators/index_maint.py): idempotent streaming appends, tombstoned
deletes, last-write-wins upserts, and compaction.

The contract under test (ADVICE r6 + VERDICT r6 #6):
* a replayed foreachBatch append (same ``batch_id``) changes NOTHING —
  dynamic partition overwrite rewrites exactly the batch's directories;
* a tombstone hides every version of the id at or before its batch, a
  later re-append resurrects it;
* compaction physically drops superseded/tombstoned rows and searches
  hash-match across it (search and compaction share the reconcile law).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
    assign_ivf,
    ivf_index_append,
    ivf_index_search,
    ivf_index_write,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.index_maint import (
    append_batch,
    compact_index,
    index_state,
    next_batch_id,
    reconcile,
    write_tombstones,
)

SF = "/root/testdata/sf0.001"
N_CENTROIDS = 16
PROBE_ID = 5


@pytest.fixture()
def emb_cent(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    return emb, centroids


def _search_key(spark, path, centroids, q, nprobe=2):
    out = ivf_index_search(
        spark, path, centroids, q, k=5, nprobe=nprobe,
        payload_cols=["vec_id", "label"],
    )
    return [(r["vec_id"], r["label"], round(r["distance"], 4)) for r in out.collect()]


class TestIdempotentReplay:
    def test_ivf_replayed_batch_is_noop(self, spark, emb_cent, tmp_path):
        emb, centroids = emb_cent
        path = str(tmp_path / "ivf")
        ivf_index_write(assign_ivf(emb.filter(F.col("vec_id") % 2 == 0), centroids), path)
        batch = emb.filter(F.col("vec_id") % 2 == 1)
        q = list(emb.filter(F.col("vec_id") == PROBE_ID).first()["embedding"])

        ivf_index_append(batch, centroids, path, batch_id=1)
        once = _search_key(spark, path, centroids, q)
        n_once = spark.read.parquet(path).count()

        # the replay: same batch, same batch_id (a foreachBatch retry)
        ivf_index_append(batch, centroids, path, batch_id=1)
        assert _search_key(spark, path, centroids, q) == once
        assert spark.read.parquet(path).count() == n_once

    def test_bm25_replayed_batch_is_noop(self, spark, tmp_path):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.retrieval import (
            bm25_index_append,
            bm25_index_search,
            bm25_index_write,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
        path = str(tmp_path / "bm25")
        bm25_index_write(docs.filter(F.col("doc_id") % 2 == 0), path, n_buckets=8)
        batch = docs.filter(F.col("doc_id") % 2 == 1)

        bm25_index_append(batch, path, n_buckets=8, batch_id=1)
        once = [
            (r["doc_id"], round(r["bm25"], 6))
            for r in bm25_index_search(spark, path, ["the", "data"], k=10, n_buckets=8).collect()
        ]
        n_once = spark.read.parquet(f"{path}/postings").count()

        bm25_index_append(batch, path, n_buckets=8, batch_id=1)
        again = [
            (r["doc_id"], round(r["bm25"], 6))
            for r in bm25_index_search(spark, path, ["the", "data"], k=10, n_buckets=8).collect()
        ]
        assert again == once
        assert spark.read.parquet(f"{path}/postings").count() == n_once

    def test_countmin_replayed_batch_does_not_double_count(self, spark, tmp_path):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.sketch import (
            countmin_build,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.streaming.sketch_stream import (
            countmin_read,
        )

        df = spark.createDataFrame([(f"k{i % 7}",) for i in range(100)], "k string")
        path = str(tmp_path / "cm")
        mat = countmin_build(df, "k", depth=2, width=16).withColumn(
            "batch_id", F.lit(0)
        )
        mat.write.mode("append").parquet(path)
        once = {(r["row"], r["col"]): r["cnt"] for r in countmin_read(spark, path).collect()}
        # the replay appends the bit-identical matrix again
        mat.write.mode("append").parquet(path)
        again = {(r["row"], r["col"]): r["cnt"] for r in countmin_read(spark, path).collect()}
        assert again == once

    def test_batch_zero_is_reserved(self, spark, emb_cent, tmp_path):
        emb, centroids = emb_cent
        path = str(tmp_path / "ivf")
        ivf_index_write(assign_ivf(emb, centroids), path)
        with pytest.raises(ValueError, match="reserved"):
            ivf_index_append(emb, centroids, path, batch_id=0)


class TestTombstonesAndUpserts:
    def test_delete_hides_reappend_resurrects(self, spark, emb_cent, tmp_path):
        emb, centroids = emb_cent
        path = str(tmp_path / "ivf")
        ivf_index_write(assign_ivf(emb, centroids), path)
        q = list(emb.filter(F.col("vec_id") == PROBE_ID).first()["embedding"])
        base = _search_key(spark, path, centroids, q)
        victim = base[0][0]  # nearest neighbour

        write_tombstones(
            spark.createDataFrame([(victim,)], "vec_id long"), path, "vec_id"
        )
        after = _search_key(spark, path, centroids, q)
        assert victim not in [t[0] for t in after]
        assert len(after) == 5  # k is refilled from surviving rows

        # re-append the victim in a LATER batch: resurrected
        ivf_index_append(
            emb.filter(F.col("vec_id") == victim), centroids, path
        )
        assert _search_key(spark, path, centroids, q) == base

    def test_upsert_latest_batch_wins(self, spark, emb_cent, tmp_path):
        emb, centroids = emb_cent
        path = str(tmp_path / "ivf")
        ivf_index_write(assign_ivf(emb, centroids), path)
        q = list(emb.filter(F.col("vec_id") == PROBE_ID).first()["embedding"])
        base = _search_key(spark, path, centroids, q)
        victim = base[0][0]

        # re-append the same id with a mutated label: the new version
        # must be the one searches see (and exactly once)
        mutated = emb.filter(F.col("vec_id") == victim).withColumn(
            "label", F.lit(999).cast(emb.schema["label"].dataType)
        )
        ivf_index_append(mutated, centroids, path)
        got = _search_key(spark, path, centroids, q)
        assert (victim, 999, base[0][2]) in got
        assert [t[0] for t in got].count(victim) == 1


class TestCompaction:
    def _build_messy(self, spark, emb, centroids, path):
        """bulk + upsert batch + delete: all three maintenance states."""
        ivf_index_write(assign_ivf(emb, centroids), path)
        q = list(emb.filter(F.col("vec_id") == PROBE_ID).first()["embedding"])
        pre = _search_key(spark, path, centroids, q)
        victim, upserted = pre[1][0], pre[2][0]
        write_tombstones(spark.createDataFrame([(victim,)], "vec_id long"), path, "vec_id")
        mutated = emb.filter(F.col("vec_id") == upserted).withColumn(
            "label", F.lit(777).cast(emb.schema["label"].dataType)
        )
        ivf_index_append(mutated, centroids, path)
        return q

    def test_search_hash_matches_across_compact(self, spark, emb_cent, tmp_path):
        emb, centroids = emb_cent
        src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
        q = self._build_messy(spark, emb, centroids, src)
        pre = _search_key(spark, src, centroids, q)
        compact_index(spark, src, dest, "vec_id", "centroid_id")
        assert _search_key(spark, dest, centroids, q) == pre

    def test_compact_drops_stale_rows_and_tombstones(self, spark, emb_cent, tmp_path):
        emb, centroids = emb_cent
        src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
        self._build_messy(spark, emb, centroids, src)

        n_physical_src = spark.read.parquet(src).count()
        n_logical = emb.count() - 1  # one id tombstoned, one superseded
        compact_index(spark, src, dest, "vec_id", "centroid_id")
        assert spark.read.parquet(dest).count() == n_logical
        # src carried 1 superseded + 1 tombstoned extra physical row
        assert n_physical_src == n_logical + 2
        # the compacted tree is clean: one batch level, no tombstones
        batches, has_tombs = index_state(spark, dest)
        assert batches == [0] and not has_tombs

    def test_compact_refuses_in_place(self, spark, emb_cent, tmp_path):
        path = str(tmp_path / "src")
        with pytest.raises(ValueError, match="new path"):
            compact_index(spark, path, path, "vec_id", "centroid_id")

    def test_rebuild_excludes_tombstoned(self, spark, emb_cent, tmp_path):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
            ivf_index_rebuild,
        )

        emb, centroids = emb_cent
        src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
        ivf_index_write(assign_ivf(emb, centroids), src)
        write_tombstones(spark.createDataFrame([(PROBE_ID,)], "vec_id long"), src, "vec_id")
        ivf_index_rebuild(spark, src, dest, k=8)
        ids = {r["vec_id"] for r in spark.read.parquet(dest).select("vec_id").collect()}
        assert PROBE_ID not in ids
        assert len(ids) == emb.count() - 1


class TestProbeTiebreak:
    def test_equal_centroids_probe_lower_id(self, spark, emb_cent, tmp_path):
        """IVF, IVF-SQ8 and IVF-PQ rank probes through one probe_lists:
        when two centroids hold the same vector, the (distance,
        centroid_id) tiebreak must probe the lower id in every family."""
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.index_maint import (
            probe_lists,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
            knn,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.pq import (
            fixed_codebooks,
            pq_index_search,
            pq_index_write,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.quant import (
            ivf_sq8_index_search,
            ivf_sq8_index_write,
        )

        emb, centroids = emb_cent
        lo, hi = 3, 9
        q = list(emb.filter(F.col("vec_id") == hi).first()["embedding"])
        # centroid `lo` takes centroid `hi`'s vector: both at distance 0
        id_type = centroids.schema["centroid_id"].dataType
        tied = centroids.filter(F.col("centroid_id") != lo).unionByName(
            centroids.filter(F.col("centroid_id") == hi).withColumn(
                "centroid_id", F.lit(lo).cast(id_type)
            )
        )
        assert [r["centroid_id"] for r in probe_lists(tied, q, 2)] == [lo, hi]

        # the index lists come from the untied centroids, so list `lo`
        # and list `hi` hold different rows
        assigned = assign_ivf(emb, centroids)

        def exact(cid):
            lst = assigned.filter(F.col("centroid_id") == cid)
            return {r["vec_id"] for r in knn(lst, q, k=5).collect()}

        want = exact(lo)
        assert want and want != exact(hi)

        ivf, sq8, pq = (str(tmp_path / n) for n in ("ivf", "sq8", "pq"))
        ivf_index_write(assigned, ivf)
        ivf_sq8_index_write(emb, centroids, sq8)
        books = fixed_codebooks(emb)
        pq_index_write(emb, centroids, books, pq)
        # oversample covers a whole list, so the rerank is exact over it
        got = {
            "ivf": ivf_index_search(spark, ivf, tied, q, k=5, nprobe=1),
            "ivf_sq8": ivf_sq8_index_search(
                spark, sq8, tied, emb, q, k=5, nprobe=1, oversample=1000
            ),
            "ivf_pq": pq_index_search(
                spark, pq, tied, emb, q, books, k=5, nprobe=1, oversample=1000
            ),
        }
        for family, out in got.items():
            assert {r["vec_id"] for r in out.collect()} == want, family


class TestMaintPrimitives:
    def test_next_batch_id_from_listing(self, spark, tmp_path):
        path = str(tmp_path / "t")
        df = spark.createDataFrame([(1, 10), (2, 20)], "id long, k long")
        assert next_batch_id(spark, path) == 1  # empty tree
        append_batch(df, path, "k")  # manual append -> batch 1
        assert next_batch_id(spark, path) == 2
        append_batch(df, path, "k", batch_id=7)
        assert next_batch_id(spark, path) == 8
        assert index_state(spark, path) == ([1, 7], False)

    def test_reconcile_law(self, spark):
        # versions: id 1 at batches 0,2; id 2 at 0; id 3 at 1
        idx = spark.createDataFrame(
            [(1, "a", 0), (1, "b", 2), (2, "c", 0), (3, "d", 1)],
            "id long, payload string, batch_id long",
        )
        # tombstones: id 2 at batch 1 (dead); id 1 at batch 1 (batch-2
        # version survives); id 3 at batch 1 (same batch -> dead)
        tombs = spark.createDataFrame(
            [(2, 1), (1, 1), (3, 1)], "id long, batch_id long"
        )
        got = {
            (r["id"], r["payload"])
            for r in reconcile(idx, "id", tombs).select("id", "payload").collect()
        }
        assert got == {(1, "b")}

    def test_search_plan_unchanged_on_clean_tree(self, spark, emb_cent, tmp_path):
        # the auto-reconcile must NOT engage on a freshly bulk-built
        # index: probe keeps the zero-exchange TakeOrdered plan
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.plans.inspect import (
            count_exchanges,
            has_take_ordered,
        )

        emb, centroids = emb_cent
        path = str(tmp_path / "ivf")
        ivf_index_write(assign_ivf(emb, centroids), path)
        q = list(emb.filter(F.col("vec_id") == PROBE_ID).first()["embedding"])
        out = ivf_index_search(spark, path, centroids, q, k=5, nprobe=2)
        assert has_take_ordered(out)
        assert count_exchanges(out) == 0


class TestPqMaintenance:
    def test_pq_delete_compact_search_parity(self, spark, tmp_path):
        import numpy as np

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.pq import (
            pq_index_search,
            fixed_codebooks,
            pq_index_write,
        )
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        centroids = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
        books = fixed_codebooks(emb, m=4, ksub=16)
        src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
        pq_index_write(emb, centroids, books, src, payload_cols=["label"])
        q = list(emb.filter(F.col("vec_id") == PROBE_ID).first()["embedding"])

        def search(p):
            return [
                (r["vec_id"], round(r["distance"], 4))
                for r in pq_index_search(
                    spark, p, centroids, emb, q, books,
                    k=5, nprobe=8, oversample=20, payload_cols=["label"],
                ).collect()
            ]

        base = search(src)
        victim = base[0][0]
        write_tombstones(
            spark.createDataFrame([(victim,)], "vec_id long"), src, "vec_id"
        )
        after = search(src)
        assert victim not in [v for v, _ in after] and len(after) == 5

        compact_index(spark, src, dest, "vec_id", "centroid_id")
        assert search(dest) == after
        ids = {r["vec_id"] for r in spark.read.parquet(dest).collect()}
        assert victim not in ids and len(ids) == emb.count() - 1


class TestCrossListUpsert:
    """ADVICE r7 medium: an upsert that MOVES an id to a different list
    (changed embedding -> new centroid) must not leave the stale
    version visible to probes that hit only the old list."""

    def test_pruned_read_hides_version_moved_to_unprobed_list(self, spark, tmp_path):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.index_maint import (
            append_batch,
            read_reconciled,
            write_bulk,
        )

        path = str(tmp_path / "tree")
        bulk = spark.createDataFrame(
            [(1, "v0", 10), (2, "keep", 10), (3, "keep", 20)],
            "id long, val string, list_key int",
        )
        write_bulk(bulk, path, "list_key")
        # the upsert moves id=1 from list 10 to list 20
        moved = spark.createDataFrame(
            [(1, "v1", 20)], "id long, val string, list_key int"
        )
        append_batch(moved, path, "list_key", batch_id=1)

        old_list = read_reconciled(
            spark, path, "id", prune=F.col("list_key") == 10
        )
        got = {(r["id"], r["val"]) for r in old_list.collect()}
        assert got == {(2, "keep")}, (
            "stale v0 of id=1 leaked from the old list"
        )

        new_list = read_reconciled(
            spark, path, "id", prune=F.col("list_key") == 20
        )
        assert {(r["id"], r["val"]) for r in new_list.collect()} == {
            (1, "v1"), (3, "keep"),
        }
        # unpruned read: global LWW, exactly one version of id=1
        full = read_reconciled(spark, path, "id")
        assert {(r["id"], r["val"]) for r in full.collect()} == {
            (1, "v1"), (2, "keep"), (3, "keep"),
        }

    def test_ivf_search_ignores_stale_version_after_centroid_move(
        self, spark, emb_cent, tmp_path
    ):
        emb, centroids = emb_cent
        path = str(tmp_path / "ivf")
        ivf_index_write(assign_ivf(emb, centroids), path)
        q = list(emb.filter(F.col("vec_id") == PROBE_ID).first()["embedding"])
        base = _search_key(spark, path, centroids, q, nprobe=1)
        victim = base[0][0]

        # old/new centroid of the victim: nprobe=1 probes exactly the
        # old one; the mutated embedding IS another centroid's vector,
        # so assign_ivf provably moves the row to that other list.
        old_cid = (
            assign_ivf(emb.filter(F.col("vec_id") == victim), centroids)
            .first()["centroid_id"]
        )
        new_cid = next(
            r["centroid_id"]
            for r in centroids.collect()
            if r["centroid_id"] != old_cid
        )
        new_vec = (
            centroids.filter(F.col("centroid_id") == new_cid)
            .first()["centroid_vec"]
        )
        mutated = emb.filter(F.col("vec_id") == victim).withColumn(
            "embedding", F.lit(new_vec).cast(emb.schema["embedding"].dataType)
        )
        ivf_index_append(mutated, centroids, path)

        got = _search_key(spark, path, centroids, q, nprobe=1)
        assert victim not in [t[0] for t in got], (
            "probe of the old list resurrected the superseded version"
        )

    def test_compact_reconciles_moved_id_globally(self, spark, tmp_path):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.index_maint import (
            append_batch,
            write_bulk,
        )

        src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
        bulk = spark.createDataFrame(
            [(1, "v0", 10), (2, "keep", 20)], "id long, val string, list_key int"
        )
        write_bulk(bulk, src, "list_key")
        append_batch(
            spark.createDataFrame([(1, "v1", 20)], "id long, val string, list_key int"),
            src, "list_key", batch_id=1,
        )
        compact_index(spark, src, dest, "id", "list_key")
        rows = {(r["id"], r["val"], r["list_key"])
                for r in spark.read.parquet(dest).collect()}
        assert rows == {(1, "v1", 20), (2, "keep", 20)}


class TestCompactSchema:
    """ADVICE r7 low: compacted tree's list-key dtype contract."""

    def test_compact_read_schema_matches_source_read_schema(
        self, spark, emb_cent, tmp_path
    ):
        emb, centroids = emb_cent
        src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
        ivf_index_write(assign_ivf(emb, centroids), src)
        ivf_index_append(emb.filter(F.col("vec_id") == PROBE_ID), centroids, src)
        compact_index(spark, src, dest, "vec_id", "centroid_id")
        src_fields = {f.name: f.dataType for f in spark.read.parquet(src).schema}
        dest_fields = {f.name: f.dataType for f in spark.read.parquet(dest).schema}
        assert src_fields == dest_fields

    def test_compact_list_key_types_cast(self, spark, tmp_path):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.index_maint import (
            write_bulk,
        )

        src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
        bulk = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id long, val string, list_key long"
        )
        write_bulk(bulk, src, "list_key")
        # inference reads the directory value as int; the caller pins
        # the original long via list_key_types
        compact_index(
            spark, src, dest, "id", "list_key",
            list_key_types={"list_key": "long"},
        )
        dt = dict(spark.read.parquet(dest).dtypes)["list_key"]
        assert dt in ("bigint", "int")  # inference on read of dest
        # the cast path rejects unknown columns
        with pytest.raises(ValueError, match="non-key"):
            compact_index(
                spark, src, str(tmp_path / "d2"), "id", "list_key",
                list_key_types={"wrong": "long"},
            )
