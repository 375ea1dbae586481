"""Launcher for the system under test.

    python perfbench/sut.py serve --spans FILE -- <serve arguments>
    python perfbench/sut.py curate --corpus P --benchmark P --seconds S \
        --out FILE [--spans FILE]

`serve` runs the shipped server (datasette_upload_csvs_spark.serve)
with every layer's public functions wrapped in span recorders; it is
only used for traced runs (untraced runs start the server module
directly). `curate` is the curation worker: it builds a session,
prints READY, then calls run_curation_funnel until `--seconds` have
passed (at least once) and writes the stage counts and walls as JSON.
With `--spans` it records spans too. Spans stay in memory and are
written when the process ends.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def serve(args, rest) -> None:
    import tracer

    tracer.install(args.spans)
    from datasette_upload_csvs_spark import serve as srv

    sys.argv = ["serve"] + rest
    srv.main()


def curate(args) -> None:
    tracer = None
    if args.spans:
        import tracer

        tracer.install(args.spans)
    from datasette_upload_csvs_spark.pipeline import run_curation_funnel
    from datasette_upload_csvs_spark.session import get_spark

    spark = get_spark(app_name="perfbench-curate",
                      warehouse_dir=str(Path.cwd() / "wh"))
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.corpus).select("doc_id", "text")
    bench = spark.read.parquet(args.benchmark).select("doc_id", "text")
    print("READY", flush=True)

    runs = []
    t_start = time.perf_counter()
    while not runs or time.perf_counter() - t_start < args.seconds:
        t0 = time.perf_counter()
        stages, split_summary, _ = run_curation_funnel(
            docs, benchmark=bench, release_stage_frames=True,
            run_stage=tracer.run_stage if tracer else None)
        split = {r["split"]: r["n_docs"] for r in split_summary.collect()}
        wall = time.perf_counter() - t0
        runs.append({
            "wall_s": wall,
            "stages": {s.name: {"n_docs": s.n_docs, "n_tokens": s.n_tokens}
                       for s in stages},
            "split": split,
        })
        spark.catalog.clearCache()
    Path(args.out).write_text(json.dumps({"runs": runs}))
    if tracer:
        tracer.dump()


def main() -> None:
    argv = sys.argv[1:]
    rest = []
    if "--" in argv:
        i = argv.index("--")
        argv, rest = argv[:i], argv[i + 1:]
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("serve", "curate"))
    ap.add_argument("--spans")
    ap.add_argument("--corpus")
    ap.add_argument("--benchmark")
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    if args.mode == "serve":
        serve(args, rest)
    else:
        curate(args)


if __name__ == "__main__":
    main()
