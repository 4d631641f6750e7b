"""In-session A/B against an arbitrary git rev: the OLD source of one
function is extracted from ``git show <rev>:<file>`` and exec'd into
the live module namespace, then OLD/NEW alternate rep-by-rep inside
ONE Spark session (order flipped each rep, first rep pair dropped as
JVM warmup), so multi-minute host-noise windows hit both variants
equally.

Round-14 use cases:
  * VERDICT r13 item 5 — re-A/B `graph_order_episodes` against the r12
    form of connected_components (rev 521670a);
  * the r14 walk/kcore rewrites against HEAD before committing.

Usage: python tools/ab_rev.py [--reps N] [--sf DIR] [--rev REV] \
           module_relpath:function entry [module:function entry ...]
e.g.:  python tools/ab_rev.py --rev 521670a \
           operators/graph.py:connected_components graph_order_episodes
"""

from __future__ import annotations

import argparse
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PKG = "postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark"

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.queries import (  # noqa: E402
    REGISTRY,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.session import (  # noqa: E402
    get_spark,
)


def rev_fn(rev: str, relpath: str, fn_name: str, ns_module) -> object:
    src = subprocess.run(
        ["git", "-C", REPO, "show", f"{rev}:{PKG}/{relpath}"],
        capture_output=True, text=True, check=True,
    ).stdout
    lines = src.split("\n")
    start = next(
        i for i, l in enumerate(lines) if l.startswith(f"def {fn_name}(")
    )
    end = next(
        (
            i
            for i in range(start + 1, len(lines))
            if lines[i] and not lines[i][0].isspace() and not lines[i].startswith(")")
        ),
        len(lines),
    )
    fn_src = "\n".join(lines[start:end])
    ns = dict(ns_module.__dict__)
    exec(compile(fn_src, f"<{rev}:{relpath}>", "exec"), ns)  # noqa: S102
    return ns[fn_name]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--rev", default="HEAD")
    ap.add_argument("pairs", nargs="+", help="alternating module_relpath:function entry_name")
    args = ap.parse_args()
    if len(args.pairs) % 2:
        ap.error("pairs must alternate module_relpath:function entry_name")

    import importlib

    spark = get_spark("ab_rev")
    for j in range(0, len(args.pairs), 2):
        spec, entry = args.pairs[j], args.pairs[j + 1]
        relpath, attr = spec.split(":")
        modname = PKG + "." + relpath.removesuffix(".py").replace("/", ".")
        mod = importlib.import_module(modname)
        new = getattr(mod, attr)
        old = rev_fn(args.rev, relpath, attr, mod)
        fn, _ = REGISTRY[entry]

        def run(variant) -> float:
            setattr(mod, attr, variant)
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.mode("overwrite").format("noop").save()
            return time.perf_counter() - t0

        olds: list[float] = []
        news: list[float] = []
        for i in range(args.reps + 1):
            order = (
                [("old", old), ("new", new)]
                if i % 2 == 0
                else [("new", new), ("old", old)]
            )
            rep: dict[str, float] = {}
            for tag, variant in order:
                spark.sparkContext.setJobDescription(f"{entry} [{tag} rep {i}]")
                rep[tag] = run(variant)
            if i == 0:
                continue  # warmup pair
            olds.append(rep["old"])
            news.append(rep["new"])
            print(f"  rep {i}: old {rep['old']:.3f}  new {rep['new']:.3f}", flush=True)
        setattr(mod, attr, new)
        print(
            f"{entry} vs {args.rev}: OLD med/min "
            f"{statistics.median(olds):.3f}/{min(olds):.3f}  NEW med/min "
            f"{statistics.median(news):.3f}/{min(news):.3f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
