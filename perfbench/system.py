"""The paper's system, driven end to end through the package's public functions.

One closed-loop client in one process against ``local[<cores>]``:

* set-up, cold, as a user pays it on every run -- launch the JVM and get the
  session, generate the base PDF set, ingest it into the serving corpus and
  status table, warm up with one query and one listing;
* bulk ingest -- PDF bytes on disk -> ``pdf_source -> ingest_pages ->
  write_corpus`` + status write + both listings, into a fresh directory;
* warm-up, untimed -- more queries and listings;
* serving sequence -- the workload's fixed order of top-5 queries
  (``hash_embed_text -> knn -> llm_extract -> sse_events -> collect`` on a
  fresh read of the corpus), single-file uploads (append corpus + status) and
  listing polls.  The query after an upload is built from one of the
  uploaded chunks and must find it;
* traced runs only: the tracer's own cost, then the IVF index build
  (``assign_ivf`` + ``ivf_index_write``, seeded centroids) and batch search --
  one query batch through ``knn_join``, ``ivf_search_join`` over the
  persisted index, and ``sq8_knn_join``.

Every op's answer is checked against the pure-Python/NumPy reference; an op
that raises or answers wrong counts as failed.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, replace
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from checks import Snapshot, recall_at_k, reference_pool, topk_matches
from inputs import DIM, Generator, attach_reference, describe, write_files
from tracing import Tracer, node_metric

K = 5
# Untimed, before the serving sequence: without it query latency fell by a third
# over the first ten queries.  The first warm-up query is part of set-up.
WARMUP_QUERIES, WARMUP_LISTINGS = 8, 2
QUERY_WORDS = (4, 12)         # a user's question
BATCH_QUERY_WORDS = (12, 40)  # passages, as in a batch similarity job
ACCOUNT_URL = "https://bench.blob.core.windows.net/pdfs/"
HIT_COLS = ["id", "origntext", "fileName", "pageNumber"]


@dataclass(frozen=True)
class Workload:
    bulk_files: int          # one bulk-ingest op ingests bulk_files x bulk_pages pages
    bulk_pages: int
    bulk_reps: int
    # One round of the serving sequence, run ``rounds`` times: "query", "listing",
    # or "upload" (which is followed by a query for one of the uploaded chunks).
    round: tuple
    rounds: int
    base_files: int = 8      # serving corpus built in set-up
    pages_per_file: int = 6
    upload_pages: int = 4
    # batch search, traced runs only
    batch_reps: int = 3
    batch_size: int = 32
    nlist: int = 8
    nprobe: int = 4


WORKLOADS = {
    # Bulk decode/chunk/embed/write throughput (800 pages per op; two ops, since
    # back-to-back ops in one run differed by up to 15%), then queries over the
    # corpus written in bulk: 12 queries, 3 uploads, 3 listings.
    "ingest_bulk": Workload(
        bulk_files=40, bulk_pages=20, bulk_reps=2,
        round=("query", "query", "query", "upload", "listing"), rounds=3,
    ),
    # Per-file job overhead of uploads, and scans over a corpus that grows by one
    # small file per upload: 12 uploads, each followed by its query, 4 listings.
    "upload_serve_mixed": Workload(
        bulk_files=3, bulk_pages=6, bulk_reps=2,
        round=("upload", "upload", "upload", "listing"), rounds=4,
    ),
}


def tiny(w: Workload) -> Workload:
    """The same workload at the smallest size that still runs every op."""
    return replace(w, bulk_files=2, bulk_pages=3, bulk_reps=1, rounds=1, base_files=4,
                   pages_per_file=3, upload_pages=2, batch_reps=1, batch_size=4, nlist=2, nprobe=1)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def dir_bytes(path: Path) -> tuple[int, int]:
    """(data files, bytes) of the parquet files under ``path``."""
    files = list(path.rglob("*.parquet"))
    return len(files), sum(p.stat().st_size for p in files)


def parquet_rows(path: Path) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in path.rglob("*.parquet"))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Bench:
    def __init__(self, pkg, seed: int, trace: bool, work: Path, workload: Workload):
        self.pkg, self.seed, self.w, self.work = pkg, seed, workload, work
        self.trace_on = trace
        self.spark = None
        self.tr = Tracer(None, trace)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.failures: dict[str, int] = {}
        self.lat: dict[str, list[float]] = {}
        self.vals: dict[str, list[float]] = {}
        self.setup_s = float("nan")
        self.files, self.texts, pick_seed = self._generate()
        self.pick_rng = random.Random(pick_seed)  # which uploaded chunk the next query looks for
        attach_reference(pkg, [f for fs in self.files.values() for f in fs])
        self.snapshot = Snapshot()
        self.snapshot.add(c for f in self.files["base"] for c in f.chunks)
        self.batch_vecs = [pkg.hash_embed_text(t, DIM) for t in self.texts["batch"]]

    # -- inputs ---------------------------------------------------------------

    def _generate(self, base_only: bool = False):
        """(PDF files by role, query texts by role, seed of the uploaded-chunk picks).

        The base set comes first, so ``base_only`` regenerates it byte-equal."""
        w, gen = self.w, Generator(self.seed, self.pkg)
        files = {"base": gen.pdfs("base", w.base_files, w.pages_per_file)}
        if base_only:
            return files, None, None
        files["bulk"] = gen.pdfs("bulk", w.bulk_files, w.bulk_pages)
        files["upload"] = gen.pdfs("upload", w.round.count("upload") * w.rounds, w.upload_pages)
        texts = {"batch": [gen.query_text(BATCH_QUERY_WORDS) for _ in range(w.batch_size)],
                 "warmup": [gen.query_text(QUERY_WORDS) for _ in range(WARMUP_QUERIES)],
                 "query": [gen.query_text(QUERY_WORDS) for _ in range(512)]}
        return files, texts, gen.rng.random()

    def inputs_summary(self) -> dict:
        return {k: describe(v) for k, v in self.files.items()}

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        """The cold set-up; ``setup_s`` is its time."""
        self.tr.enabled = False
        t0 = time.perf_counter()
        self.spark = self.tr.spark = self.pkg.get_spark("perfbench", cpus=cores())
        self.vals["session.start_s"] = [time.perf_counter() - t0]
        root = self.work / "setup"
        files, _, _ = self._generate(base_only=True)  # input generation is part of set-up
        write_files(files["base"], root / "base_pdfs")
        self.corpus_path, self.status_path = root / "corpus", root / "status"
        self._ingest("setup", root / "base_pdfs", self.corpus_path, self.status_path)
        self._query_events(self.texts["warmup"][0])
        self._listings("setup", self.status_path)
        self.setup_s = time.perf_counter() - t0
        self.bulk_dir = self.work / "bulk_pdfs"
        self.bulk_bytes = write_files(self.files["bulk"], self.bulk_dir)
        self.tr.enabled = self.trace_on

    def _warm_up(self) -> None:
        """Untimed queries and listings before the serving sequence."""
        enabled, self.tr.enabled = self.tr.enabled, False
        for text in self.texts["warmup"][1:]:
            self._query_events(text)
        for _ in range(WARMUP_LISTINGS):
            self._listings("setup", self.status_path)
        self.tr.enabled = enabled

    def _build_ivf(self, path: Path) -> None:
        t0 = time.perf_counter()
        rng = random.Random(self.seed)
        picks = rng.sample(range(len(self.snapshot)), self.w.nlist)
        rows = [(i, self.snapshot.vector(j).tolist()) for i, j in enumerate(picks)]
        self.centroids = self.spark.createDataFrame(
            rows, "centroid_id int, centroid_vec array<double>")
        corpus = self.spark.read.parquet(str(self.corpus_path))
        self.pkg.ivf_index_write(self.pkg.assign_ivf(corpus, self.centroids, id_col="id"), str(path))
        self.ivf_path = path
        self.vals["ivf.build_s"] = [time.perf_counter() - t0]

    # -- the package calls ----------------------------------------------------

    def _ingest(self, kind: str, pdf_dir: Path, corpus: Path, status: Path) -> None:
        """``kind`` ("setup", "bulk" or "upload") names the spans of the two legs."""
        p = self.pkg
        chunks, events = p.ingest_pages(p.pdf_source(self.spark, str(pdf_dir)), dim=DIM)
        with self.tr.span(f"{kind}.corpus_leg"):
            p.write_corpus(chunks, str(corpus))
        with self.tr.span(f"{kind}.status_leg"):
            events.write.mode("append").parquet(str(status))

    def _listings(self, kind: str, status: Path):
        """``kind`` ("setup", "bulk" or "poll") names the span."""
        p = self.pkg
        with self.tr.span(f"{kind}.listing"):
            current = p.status_upsert(self.spark.read.parquet(str(status)))
            return p.completed_listing(current).collect(), p.failed_listing(current).collect()

    def _query_events(self, text: str):
        p = self.pkg
        q = p.hash_embed_text(text, DIM)
        corpus = self.spark.read.parquet(str(self.corpus_path))
        hits = p.knn(corpus, q, k=K, id_col="id", payload_cols=HIT_COLS)
        return q, p.sse_events(p.llm_extract(hits), ACCOUNT_URL).collect()

    def _query_traced(self, text: str):
        """The query with each layer's output materialized before the next layer runs."""
        p, tr = self.pkg, self.tr
        with tr.span("embed.query"):
            q = p.hash_embed_text(text, DIM)
        with tr.span("knn.construct"):
            corpus = self.spark.read.parquet(str(self.corpus_path))
            hits = p.knn(corpus, q, k=K, id_col="id", payload_cols=HIT_COLS)
        with tr.span("knn.execute"):
            rows = hits.collect()
        phases = hits._jdf.queryExecution().tracker().phases()
        it = phases.values().iterator()
        catalyst_ms = 0.0
        while it.hasNext():
            catalyst_ms += it.next().durationMs()
        self.vals.setdefault("knn.catalyst_ms", []).append(catalyst_ms)
        with tr.span("serving"):
            hit_df = self.spark.createDataFrame(rows, hits.schema)
            events = p.sse_events(p.llm_extract(hit_df), ACCOUNT_URL).collect()
        return q, events

    # -- ops: run, time, check ------------------------------------------------

    def _op(self, kind: str, fn, check) -> float | None:
        """Run one op; returns its latency in seconds, or None when it failed."""
        self.attempted += 1
        try:
            with self.tr.op(kind) as rec:
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
            why = check(out, rec)
        except Exception:  # noqa: BLE001 — an op that raises is a counted failure
            why = traceback.format_exc()
        if why:
            self.failed += 1
            self.failures[kind] = self.failures.get(kind, 0) + 1
            self.errors.append(f"{kind}: {why}")
            print(f"[perfbench] {kind} failed: {why}", file=sys.stderr)
            return None
        self.lat.setdefault(kind, []).append(dt)
        return dt

    def bulk_ingest(self, n: int) -> None:
        out = self.work / f"bulk{n}"
        corpus, status = out / "corpus", out / "status"
        files = self.files["bulk"]

        def run():
            self._ingest("bulk", self.bulk_dir, corpus, status)
            return self._listings("bulk", status)

        def check(listings, rec):
            done, failed = listings
            want = {c.id: c for f in files for c in f.chunks}
            if failed or {r["id"] for r in done} != set(want):
                return f"listings: {len(done)} completed, {len(failed)} other, want {len(want)}"
            stored = self.spark.read.parquet(str(corpus)).select("id", "origntext", "embedding").collect()
            if len(stored) != len(want):
                return f"corpus has {len(stored)} rows, want {len(want)}"
            for r in stored:
                c = want.get(r["id"])
                if c is None or r["origntext"] != c.text or not np.array_equal(
                        np.asarray(r["embedding"], dtype=np.float64), c.embedding):
                    return f"corpus row {r['id'][:12]} differs from the reference"
            self._record_ingest(rec, files)
            return None

        dt = self._op("ingest", run, check)
        if dt is not None:
            pages = sum(len(f.pages) for f in files)
            self.vals.setdefault("ingest_pages_per_s", []).append(pages / dt)
            stored = dir_bytes(corpus)[1] + dir_bytes(status)[1]
            if self.trace_on:
                self.vals.setdefault("status.events", []).append(parquet_rows(status))
            self.vals.setdefault("stored_bytes_per_input_byte", []).append(stored / self.bulk_bytes)
        if self.trace_on:
            self._layered_ingest(out / "layered")
        shutil.rmtree(out)

    def _record_ingest(self, rec: dict, files) -> None:
        if not self.trace_on:
            return
        n_chunks = sum(len(f.chunks) for f in files)
        v = self.vals.setdefault
        v("sources.decode_passes", []).append(
            node_metric(rec, "MapInPandas", "number of output rows") / len(files))
        v("embed.rows_per_chunk", []).append(
            node_metric(rec, "ArrowEvalPython", "number of output rows") / n_chunks)
        v("sources.python_s", []).append(
            node_metric(rec, "MapInPandas", "time to run Python workers"))
        v("embed.python_s", []).append(
            node_metric(rec, "ArrowEvalPython", "time to run Python workers"))
        v("embed.bytes_to_python", []).append(
            node_metric(rec, "ArrowEvalPython", "data sent to Python workers"))

    def _layered_ingest(self, out: Path) -> None:
        """Traced only: the bulk ingest again, one layer at a time, each materialized."""
        p, tr = self.pkg, self.tr
        with tr.op("sources.decode") as rec:
            pages = p.pdf_source(self.spark, str(self.bulk_dir)).localCheckpoint()
        self.vals.setdefault("sources.tasks", []).append(rec["tasks"])
        with tr.op("chunk"):
            chunks = p.pages_to_chunks(pages).localCheckpoint()
        with tr.op("embed"):
            corpus = p.embed_chunks(chunks, dim=DIM).select(*p.CORPUS_COLS).localCheckpoint()
        with tr.op("write"):
            p.write_corpus(corpus, str(out))
        files, size = dir_bytes(out)
        self.vals.setdefault("write.files", []).append(files)
        self.vals.setdefault("write.bytes", []).append(size)

    def batch(self) -> None:
        p, w = self.pkg, self.w
        qdf = lambda: self.spark.createDataFrame(  # noqa: E731
            list(enumerate(self.batch_vecs)), "query_id int, query_vec array<float>")
        corpus = lambda: self.spark.read.parquet(str(self.corpus_path))  # noqa: E731
        refs = [reference_pool(self.snapshot, q, K) for q in self.batch_vecs]
        exact = {i: [cid for _, cid in r[:K]] for i, r in enumerate(refs)}

        def per_query(rows) -> dict:
            out: dict[int, list] = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["distance"], r["id"])):
                out.setdefault(r["query_id"], []).append((r["id"], r["distance"]))
            return out

        def check_exact(rows, rec):
            got = per_query(rows)
            for i, ref in enumerate(refs):
                ids = [cid for cid, _ in got.get(i, [])]
                why = topk_matches(ref, ids, [d for _, d in got.get(i, [])], K)
                if why:
                    return f"query {i}: {why}"
            if self.trace_on:
                v = self.vals.setdefault
                v("knn_join.gemm_dispatch", []).append(
                    float(any(n.startswith("MapInPandas") for n, _ in rec["nodes"])))
                v("knn_join.tasks", []).append(rec["tasks"])
                v("knn_join.shuffle_bytes", []).append(rec["shuffle_write_bytes"])
            return None

        def check_ann(kind):
            def check(rows, rec):
                got = per_query(rows)
                for i, hits in got.items():
                    dist = dict((cid, d) for d, cid in zip(self.snapshot.distances(self.batch_vecs[i]),
                                                            self.snapshot.ids))
                    if len(hits) > K or any(abs(d - dist[cid]) > 1e-6 * max(1.0, d) for cid, d in hits):
                        return f"query {i}: a returned distance is not the row's true distance"
                recall = recall_at_k(exact, {i: [c for c, _ in h] for i, h in got.items()}, K)
                self.vals.setdefault(f"{kind}_recall_at_5", []).append(recall)
                if self.trace_on:
                    rows_joined = max((m.get("number of output rows", 0.0) for n, m in rec["nodes"]
                                       if n.startswith("BroadcastHashJoin")), default=0.0)
                    key = "ivf.rows_scored_per_query" if kind == "ivf" else "sq8.rerank_pool_rows"
                    self.vals.setdefault(key, []).append(
                        rows_joined / w.batch_size if kind == "ivf" else rows_joined)
                return None
            return check

        def run_exact():
            with self.tr.span("knn_join.construct"):
                df = p.knn_join(corpus(), qdf(), k=K, id_col="id",
                                payload_cols=["id", "fileName", "pageNumber"])
            with self.tr.span("knn_join.execute"):
                return df.collect()

        def run_ivf():
            index = self.spark.read.parquet(str(self.ivf_path))
            return p.ivf_search_join(index, self.centroids, qdf(), k=K, nprobe=w.nprobe, id_col="id",
                                     payload_cols=["id", "fileName", "pageNumber"]).collect()

        def run_sq8():
            return p.sq8_knn_join(corpus(), qdf(), k=K, id_col="id",
                                  payload_cols=["fileName", "pageNumber"]).collect()

        for kind, run, check in (("knn_join", run_exact, check_exact),
                                 ("ivf", run_ivf, check_ann("ivf")),
                                 ("sq8", run_sq8, check_ann("sq8"))):
            dt = self._op(kind, run, check)
            if dt is not None:
                self.vals.setdefault(f"{kind}_qps", []).append(w.batch_size / dt)

    def query(self, text: str, must_find: str | None = None) -> None:
        run = (lambda: self._query_traced(text)) if self.trace_on else (lambda: self._query_events(text))

        def check(out, rec):
            q, events = out
            ids = [e["id"] for e in events if e["seq"] == 1]
            if len(events) != 3 * len(ids):
                return f"{len(events)} SSE events for {len(ids)} hits"
            why = topk_matches(reference_pool(self.snapshot, q, K), ids, None, K)
            if why is None and must_find is not None and must_find not in ids:
                why = f"uploaded chunk {must_find[:12]} not found by its own text"
            if why is None and self.trace_on:
                v = self.vals.setdefault
                v("knn.jobs", []).append(rec["jobs"])
                v("knn.tasks", []).append(rec["tasks"])
                v("knn.files_scanned", []).append(node_metric(rec, "Scan parquet", "number of files read"))
                v("knn.rows_scanned_per_result", []).append(
                    node_metric(rec, "Scan parquet", "number of output rows") / K)
            return why

        self._op("query", run, check)

    def upload(self, f) -> None:
        d = self.work / "uploads" / f.name[:-4]
        write_files([f], d)
        self._op("upload", lambda: self._ingest("upload", d, self.corpus_path, self.status_path),
                 lambda out, rec: None)
        self.snapshot.add(f.chunks)

    def listing(self) -> None:
        def check(out, rec):
            done, failed = out
            if failed or len(done) != len(self.snapshot) or {r["id"] for r in done} != set(self.snapshot.ids):
                return f"{len(done)} completed and {len(failed)} other rows for {len(self.snapshot)} chunks"
            if self.trace_on:
                scanned = node_metric(rec, "Scan parquet", "number of output rows")
                self.vals.setdefault("status.events_scanned_per_listed_row", []).append(
                    scanned / max(1, len(done)))
            return None

        self._op("listing", lambda: self._listings("poll", self.status_path), check)

    # -- the run --------------------------------------------------------------

    def run(self, seconds: float) -> None:
        """The bulk ingests, the warm-up, the serving sequence, then, traced
        only, the tracer's cost and the batch searches.

        ``seconds`` is a floor on the measured phase: when the fixed sequence
        ends sooner, read-only queries follow until it has lasted that long."""
        t_end = time.perf_counter() + seconds
        for n in range(self.w.bulk_reps):
            self.bulk_ingest(n)
        self._warm_up()
        uploads = iter(self.files["upload"])
        queries = iter(self.texts["query"])
        for kind in self.w.round * self.w.rounds:
            if kind == "upload":
                f = next(uploads)
                self.upload(f)
                chunk = f.chunks[self.pick_rng.randrange(len(f.chunks))]
                self.query(chunk.text, must_find=chunk.id)
            elif kind == "listing":
                self.listing()
            else:
                self.query(next(queries))
        while time.perf_counter() < t_end:
            self.query(next(queries))
        if self.trace_on:
            self._tracer_overhead(queries)
            self._build_ivf(self.work / "ivf")
            for _ in range(self.w.batch_reps):
                self.batch()

    def _tracer_overhead(self, queries, pairs: int = 5) -> None:
        """Traced run only: the same untraced query path timed with the tracer
        off and on (job group, status-store reads), interleaved."""
        off, on = [], []
        for _ in range(pairs):
            text = next(queries)
            for enabled, times in ((False, off), (True, on)):
                self.tr.enabled = enabled
                t0 = time.perf_counter()
                with self.tr.op("tracer_probe"):
                    self._query_events(text)
                times.append(time.perf_counter() - t0)
        self.tr.enabled = True
        self.vals["trace.overhead_ms"] = [(median(on) - median(off)) * 1e3]

    def stop(self) -> None:
        """Stop the session, then its JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)

    # -- metrics --------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        ms = lambda kind: median(self.lat.get(kind, [])) * 1e3  # noqa: E731
        v = lambda key: median(self.vals.get(key, []))  # noqa: E731
        return {
            "setup_s": self.setup_s,
            "ingest_pages_per_s": v("ingest_pages_per_s"),
            "stored_bytes_per_input_byte": v("stored_bytes_per_input_byte"),
            "query_p50_ms": ms("query"),
            "upload_p50_ms": ms("upload"),
            "listing_p50_ms": ms("listing"),
        }

    def _span_s(self, name: str) -> float:
        return median([s["end"] - s["start"] for s in self.tr.spans if s["name"] == name])

    def per_layer(self, peak_rss_mb: float) -> dict[str, float]:
        v = lambda key: median(self.vals.get(key, []))  # noqa: E731
        span_ms = lambda name: self._span_s(name) * 1e3  # noqa: E731
        bulk_pages = sum(len(f.pages) for f in self.files["bulk"])
        e2e = [r for r in self.tr.ops
               if r["name"] in ("ingest", "query", "upload", "listing", "knn_join", "ivf", "sq8")]
        per_op = lambda key: sum(r[key] for r in e2e) / len(e2e)  # noqa: E731
        wall = sum(r["wall_s"] for r in e2e)
        return {
            "session.start_s": v("session.start_s"),
            "session.peak_rss_mb": peak_rss_mb,
            "sources.decode_s": self._span_s("sources.decode"),
            "sources.python_s": v("sources.python_s"),
            "sources.tasks": v("sources.tasks"),
            "sources.pages_per_s": bulk_pages / self._span_s("sources.decode"),
            "sources.decode_passes": v("sources.decode_passes"),
            "chunk.s": self._span_s("chunk"),
            "embed.s": self._span_s("embed"),
            "embed.python_s": v("embed.python_s"),
            "embed.bytes_to_python": v("embed.bytes_to_python"),
            "embed.rows_per_chunk": v("embed.rows_per_chunk"),
            "write.s": self._span_s("write"),
            "write.files": v("write.files"),
            "write.bytes": v("write.bytes"),
            "status.write_s": self._span_s("bulk.status_leg"),
            "status.events": v("status.events"),
            "status.listing_s": self._span_s("poll.listing"),
            "status.events_scanned_per_listed_row": v("status.events_scanned_per_listed_row"),
            "knn.construct_ms": span_ms("knn.construct"),
            "knn.catalyst_ms": v("knn.catalyst_ms"),
            "knn.execute_ms": span_ms("knn.execute"),
            "knn.jobs": v("knn.jobs"),
            "knn.tasks": v("knn.tasks"),
            "knn.files_scanned": v("knn.files_scanned"),
            "knn.rows_scanned_per_result": v("knn.rows_scanned_per_result"),
            "serving.ms": span_ms("serving"),
            "knn_join.construct_ms": span_ms("knn_join.construct"),
            "knn_join.execute_ms": span_ms("knn_join.execute"),
            "knn_join.gemm_dispatch": v("knn_join.gemm_dispatch"),
            "knn_join.tasks": v("knn_join.tasks"),
            "knn_join.shuffle_bytes": v("knn_join.shuffle_bytes"),
            "knn_join.qps": v("knn_join_qps"),
            "ivf.build_s": v("ivf.build_s"),
            "ivf.execute_ms": span_ms("ivf"),
            "ivf.rows_scored_per_query": v("ivf.rows_scored_per_query"),
            "ivf.qps": v("ivf_qps"),
            "ivf.recall_at_5": v("ivf_recall_at_5"),
            "sq8.execute_ms": span_ms("sq8"),
            "sq8.rerank_pool_rows": v("sq8.rerank_pool_rows"),
            "sq8.qps": v("sq8_qps"),
            "sq8.recall_at_5": v("sq8_recall_at_5"),
            "spark.jobs_per_op": per_op("jobs"),
            "spark.stages_per_op": per_op("stages"),
            "spark.tasks_per_op": per_op("tasks"),
            "spark.executor_run_s": per_op("run_s"),
            "spark.executor_cpu_s": per_op("cpu_s"),
            "spark.core_util": sum(r["run_s"] for r in e2e) / (wall * cores()),
            "spark.shuffle_write_bytes": per_op("shuffle_write_bytes"),
            "spark.spill_bytes": per_op("spill_bytes"),
            "spark.driver_only_ms": per_op("driver_only_s") * 1e3,
            "trace.overhead_ms": v("trace.overhead_ms"),
        }
