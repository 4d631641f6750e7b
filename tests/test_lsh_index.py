"""Persisted LSH index (operators/ann.py::lsh_index_write/search):
bucket-partitioned layout, static pruning, parity with the in-memory
probe, and the delete-proof that unprobed buckets are never opened —
the same three legs tests/test_ivf_index.py pins for IVF.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
    hyperplanes,
    lsh_bucket,
    lsh_index_search,
    lsh_index_write,
    lsh_search,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.plans.inspect import (
    count_exchanges,
    has_take_ordered,
    partition_filters,
)

SF = "/root/testdata/sf0.001"
PROBE_ID = 7
N_PLANES = 6


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    planes = hyperplanes(dim, n_planes=N_PLANES, seed=42)
    path = str(tmp_path_factory.mktemp("lsh") / "index")
    lsh_index_write(emb, path, planes)
    q = list(emb.filter(F.col("vec_id") == PROBE_ID).first()["embedding"])
    return emb, planes, path, q


class TestLshIndex:
    def test_layout_one_directory_per_bucket(self, index):
        _, _, path, _ = index
        dirs = sorted(d for d in os.listdir(path) if d.startswith("bucket="))
        assert dirs, "index must be hive-partitioned by bucket"
        assert len(dirs) <= 1 << N_PLANES

    def test_search_plan_prunes_statically(self, spark, index):
        _, planes, path, q = index
        out = lsh_index_search(spark, path, q, planes, k=5)
        pf = [f for f in partition_filters(out) if "bucket" in f]
        assert pf, "probe filter must land in PartitionFilters, not a row filter"
        assert has_take_ordered(out)
        assert count_exchanges(out) == 0

    def test_unprobed_buckets_never_opened(self, spark, index):
        _, planes, path, q = index
        out = lsh_index_search(spark, path, q, planes, k=5, payload_cols=["vec_id", "bucket"])
        rows = out.collect()
        expected = [(r["vec_id"], round(r["distance"], 4)) for r in rows]
        probed = {str(r["bucket"]) for r in rows}
        assert len(probed) == 1  # one bucket per probe, by construction

        # Physically delete every OTHER bucket directory and re-run: with
        # static pruning the deleted files are never opened, so the same
        # query succeeds and matches.  (Without pruning it would fail.)
        for d in os.listdir(path):
            if d.startswith("bucket=") and d.split("=", 1)[1] not in probed:
                shutil.rmtree(os.path.join(path, d))
        again = lsh_index_search(spark, path, q, planes, k=5, payload_cols=["vec_id", "bucket"])
        got = [(r["vec_id"], round(r["distance"], 4)) for r in again.collect()]
        assert got == expected

    def test_matches_inmemory_lsh(self, spark, index):
        emb, planes, path, q = index
        # rebuild: the delete-proof above mutated the module-scoped index
        lsh_index_write(emb, path, planes)
        persisted = lsh_index_search(
            spark, path, q, planes, k=5, payload_cols=["vec_id", "label"]
        )
        inmem = lsh_search(emb, q, planes, k=5, payload_cols=["vec_id", "label"])
        key = lambda r: (r["vec_id"], r["label"], round(r["distance"], 6))  # noqa: E731
        assert [key(r) for r in persisted.collect()] == [key(r) for r in inmem.collect()]

    def test_query_bucket_matches_corpus_expression(self, spark, index):
        """The probe's bucket (1-row Spark job) equals the bucket the
        write path assigned to the probe vector itself — no drift
        between query-side and corpus-side hashing."""
        emb, planes, path, q = index
        corpus_bucket = (
            emb.filter(F.col("vec_id") == PROBE_ID)
            .select(lsh_bucket("embedding", planes).alias("b"))
            .first()["b"]
        )
        hits = lsh_index_search(spark, path, q, planes, k=5, payload_cols=["vec_id", "bucket"])
        assert all(r["bucket"] == corpus_bucket for r in hits.collect())


class TestMultiprobe:
    def test_bucket_enumeration(self):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
            multiprobe_buckets,
        )

        got = multiprobe_buckets(0b101, 3, max_flips=1)
        assert got == sorted({0b101, 0b100, 0b111, 0b001})
        assert multiprobe_buckets(5, 8, max_flips=0) == [5]
        # 2 flips over 3 planes from 0: all masks of popcount <= 2
        assert multiprobe_buckets(0, 3, max_flips=2) == [0, 1, 2, 3, 4, 5, 6]

    def test_multiprobe_superset_of_single_bucket(self, spark, index):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
            lsh_search,
            lsh_search_multiprobe,
        )

        emb, planes, _, q = index
        big = emb.count()  # k >= corpus: both return their FULL pool
        single = {r["vec_id"]: round(r["distance"], 6) for r in
                  lsh_search(emb, q, planes, k=big, payload_cols=["vec_id"]).collect()}
        multi = {r["vec_id"]: round(r["distance"], 6) for r in
                 lsh_search_multiprobe(emb, q, planes, k=big, max_flips=1,
                                       payload_cols=["vec_id"]).collect()}
        # the multiprobe candidate pool strictly contains the single
        # bucket (flip-0 is in the probe set), with identical distances
        assert set(single) <= set(multi)
        assert all(single[v] == multi[v] for v in single)
        assert len(multi) > len(single), "1-bit flips should widen the pool"

    def test_persisted_multiprobe_prunes_and_matches(self, spark, index):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
            lsh_index_search,
            lsh_index_write,
            lsh_search_multiprobe,
        )

        emb, planes, path, q = index
        lsh_index_write(emb, path, planes)  # rebuild after delete-proof
        persisted = lsh_index_search(
            spark, path, q, planes, k=5, max_flips=1, payload_cols=["vec_id", "label"]
        )
        pf = [f for f in partition_filters(persisted) if "bucket" in f]
        assert pf, "multi-probe must still prune via PartitionFilters"
        inmem = lsh_search_multiprobe(
            emb, q, planes, k=5, max_flips=1, payload_cols=["vec_id", "label"]
        )
        key = lambda r: (r["vec_id"], r["label"], round(r["distance"], 6))  # noqa: E731
        assert [key(r) for r in persisted.collect()] == [key(r) for r in inmem.collect()]
