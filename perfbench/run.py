"""Benchmark of the PDF-ingest -> top-5-serve system, end to end or per layer.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the metrics are the end-to-end ones declared in ``BENCHMARK.json``, with
``--trace 1`` the per-layer ones, and the spans of the traced run are written
to ``.perfbench_out/``.  The line before it records the environment and the
generated inputs.  The exit code is 0 only when every op answered correctly.
Scratch data lives in ``.perfbench_work/`` and is removed on exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import resource
import shlex
import shutil
import sys
from pathlib import Path
from types import SimpleNamespace

from system import WORKLOADS, Bench, cores

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark"
# public name -> module of the package that defines it
API = {
    "get_spark": "session",
    "make_pdf": "sources.pdfcodec",
    "pdf_source": "sources.pdf",
    "split_chunks": "functions.text",
    "normalize_whitespace": "functions.text",
    "hash_embed_text": "functions.embed",
    "ingest_pages": "operators.ingest",
    "pages_to_chunks": "operators.ingest",
    "embed_chunks": "operators.ingest",
    "write_corpus": "operators.ingest",
    "CORPUS_COLS": "operators.ingest",
    "status_upsert": "operators.status",
    "completed_listing": "operators.status",
    "failed_listing": "operators.status",
    "knn": "operators.knn",
    "knn_join": "operators.knn",
    "llm_extract": "operators.serving",
    "sse_events": "operators.serving",
    "assign_ivf": "operators.ann",
    "ivf_index_write": "operators.ann",
    "ivf_search_join": "operators.ann",
    "sq8_knn_join": "operators.quant",
}


def load_package(root: Path) -> SimpleNamespace:
    sys.path.insert(0, str(root))
    return SimpleNamespace(**{
        name: getattr(importlib.import_module(f"{PACKAGE}.{module}"), name)
        for name, module in API.items()
    })


def pin_environment(root: Path, work: Path) -> None:
    """Make Spark's Python workers import the package from ``root`` and keep
    every scratch file of the JVM and the workers under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # -XX:-UsePerfData: each JVM would otherwise write /tmp/hsperfdata_<user>
        f"--driver-java-options {shlex.quote(f'-Djava.io.tmpdir={tmp} -XX:-UsePerfData')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def declared_metrics(root: Path, trace: bool) -> dict[str, str]:
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run(workload: str, seed: int, seconds: float, trace: bool, *, root: Path = ROOT,
        sized=None) -> tuple[dict, dict]:
    """One run; returns (environment record, result line).  ``sized`` maps the
    workload's configuration to the one run (the self-test shrinks it)."""
    units = declared_metrics(root, trace)
    pkg = load_package(root)
    work = root / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(root, work)
    w = WORKLOADS[workload] if sized is None else sized(WORKLOADS[workload])
    bench = Bench(pkg, seed, trace, work, w)
    try:
        bench.setup()
        bench.run(seconds)
        rss = peak_rss_mb(bench.spark)
        values = bench.per_layer(rss) if trace else bench.end_to_end()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    import pyspark

    env = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "cores": cores(), "master": f"local[{cores()}]", "spark": pyspark.__version__,
        "python": sys.version.split()[0], "inputs": bench.inputs_summary(),
        "op_ms": {k: [round(x * 1e3, 1) for x in v] for k, v in bench.lat.items()},
        "errors": bench.errors[:5],
    }
    if trace:
        out = root / ".perfbench_out" / f"trace-{workload}-seed{seed}.json"
        bench.tr.write(out, {"env": env, "per_layer": values})
        env["trace_file"] = str(out.relative_to(root))
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} differ from BENCHMARK.json")
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    return env, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        env, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except ImportError as e:  # the package is not next to the benchmark
        print(f"perfbench: cannot import the package: {e}", file=sys.stderr)
        return 2
    print(json.dumps(env))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
