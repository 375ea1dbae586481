#!/usr/bin/env python3
"""The repository benchmark: drive one seeded workload against the
engine as a user meets it and print its metrics.

    python3 perfbench/run.py --workload upload|curate \
        --seed N --seconds S --trace 0|1

`upload` launches the shipped server
(`python -m datasette_upload_csvs_spark.serve --open-sql`) and talks
HTTP to it; `curate` launches a worker process (perfbench/sut.py) that
calls `pipeline.run_curation_funnel`. Inputs are generated from the
seed into a scratch directory under `perfbench/.run/`, removed at exit.

With `--trace 0` the last stdout line carries the end-to-end metrics of
BENCHMARK.json; with `--trace 1` the workload runs twice, untraced and
then under the span-recording launcher, and the last line carries the
per-layer metrics plus the tracing overhead (traced minus untraced
end-to-end values). Lines before the last one print every metric by
name and unit, including the workload-specific ones. The exit code is
1 when any answer was wrong, 2 when the benchmark could not run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import client  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from layers import STAGES  # noqa: E402
from stats import median, summarize  # noqa: E402

PACKAGE = "datasette_upload_csvs_spark"
SPARK_TYPE = {"integer": "bigint", "float": "double", "text": "string"}
POLL_S = 0.25       # uploader's progress poll interval
PROBE_HZ = 2.0      # open-loop form-route probe rate
DEADLINE_S = 175    # a run that takes longer is killed and fails


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Ctx:
    """One run's scratch layout and the environment of the system."""

    def __init__(self, workload: str, seed: int, seconds: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.dir = HERE / ".run" / f"{workload}-{seed}-{os.getpid()}"
        shutil.rmtree(self.dir, ignore_errors=True)
        self.inputs = self.dir / "inputs"
        self.inputs.mkdir(parents=True)
        self.nproc = os.cpu_count() or 1
        self.cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
            len(os.sched_getaffinity(0)))
        self._inputs = None

    def inputs_once(self, make):
        """Generate the inputs on the first pass; a traced run's second
        pass reuses them."""
        if self._inputs is None:
            self._inputs = make()
        return self._inputs

    def sut_env(self, tag: str) -> tuple[Path, dict]:
        """A fresh warehouse/scratch tree per launch."""
        d = self.dir / f"sut-{tag}"
        for sub in ("tmp", "local", "wh"):
            (d / sub).mkdir(parents=True, exist_ok=True)
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in [env.get("PYTHONPATH")] if p])
        env["SPARK_GRAFT_CPUS"] = self.cpus
        env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        env["SPARK_LOCAL_DIRS"] = str(d / "local")
        env["TMPDIR"] = str(d / "tmp")
        env["JDK_JAVA_OPTIONS"] = (
            f"-Djava.io.tmpdir={d / 'tmp'} -XX:-UsePerfData")
        env["PYTHONUNBUFFERED"] = "1"
        return d, env


class Tally:
    """Attempted / failed operations, thread-safe."""

    def __init__(self):
        self.lock = threading.Lock()
        self.attempted = 0
        self.failed = 0
        self.wrong = 0

    def ok(self):
        with self.lock:
            self.attempted += 1

    def fail(self, why: str, wrong: bool = False):
        with self.lock:
            self.attempted += 1
            self.failed += 1
            self.wrong += int(wrong)
        log(f"FAILED: {why}")


# ------------------------------------------------------------ serving


def launch_server(ctx: Ctx, tag: str, traced: bool):
    d, env = ctx.sut_env(tag)
    port = client.free_port()
    args = ["--open-sql", "--port", str(port), "--warehouse", str(d / "wh")]
    spans = d / "spans.json"
    if traced:
        argv = [sys.executable, str(HERE / "sut.py"), "serve",
                "--spans", str(spans), "--"] + args
    else:
        argv = [sys.executable, "-m", f"{PACKAGE}.serve"] + args
    sut = client.Sut(argv, cwd=str(d), env=env, log_path=str(d / "sut.log"))
    sut.port, sut.dir, sut.spans_path = port, d, spans
    return sut


def stage_upload(sut, path: str, table: str, rows: int, types: dict,
                 tally: Tally) -> dict | None:
    """Upload through the form route and verify the readback; used for
    the uploader's files and for staging tables at setup."""
    try:
        res = client.upload(sut.port, path, table, poll_s=POLL_S)
        physical = res["row"]["table_name"]
        n, got = client.readback(sut.port, physical, list(types))
    except (client.HttpError, OSError, ValueError, KeyError) as ex:
        tally.fail(f"upload {table}: {ex}")
        return None
    want = [SPARK_TYPE[t] for t in types.values()]
    if n != rows or got != want or res["row"].get("rows_done") != rows:
        tally.fail(f"upload {table}: readback rows={n} types={got}, "
                   f"expected rows={rows} types={want}", wrong=True)
        return None
    tally.ok()
    res["table"] = physical
    return res


def warehouse_bytes(wh: Path, skip) -> int:
    total = 0
    for t in wh.iterdir():
        if t.is_dir() and t.name not in skip:
            total += sum(f.stat().st_size for f in t.rglob("*")
                         if f.is_file() and not f.name.startswith((".", "_")))
    return total


def progress_files(wh: Path) -> int:
    d = wh / "_csv_progress_"
    return sum(1 for f in d.rglob("*.parquet")) if d.is_dir() else 0


def rows_equal(got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(
                        a, b, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True


def timed_sql(port: int, text: str, tally: Tally, want=None):
    """Run one SQL request; returns its latency in seconds, or None
    when it failed or answered wrongly."""
    t0 = time.perf_counter()
    try:
        status, out = client.sql(port, text)
    except OSError as ex:
        tally.fail(f"sql: {ex}")
        return None
    dt = time.perf_counter() - t0
    if status != 200 or not out or not out.get("ok"):
        tally.fail(f"sql returned {status}: {str(out)[:200]}")
        return None
    got = [tuple(r[c] for c in out["columns"]) for r in out["rows"]]
    if want is not None and not rows_equal(got, want):
        tally.fail(f"wrong answer to {text}", wrong=True)
        return None
    tally.ok()
    return dt


# ------------------------------------------------------------- upload

QUERY_TYPES = {
    "products": {"prod_id": "integer", "category": "text",
                 "brand": "text", "weight": "float"},
    "sales": {"sale_id": "integer", "cust_id": "integer",
              "prod_id": "integer", "qty": "integer", "price": "float",
              "region": "text"},
}


def duckdb_answers(tables: dict, pool: dict) -> dict:
    """Every pooled query's answer, computed by DuckDB over the same
    generated CSV files."""
    import duckdb

    con = duckdb.connect()
    for name, types in QUERY_TYPES.items():
        cols = ", ".join(
            f"'{c}': '{dict(integer='BIGINT', float='DOUBLE', text='VARCHAR')[t]}'"
            for c, t in types.items())
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_csv(?, "
                    f"header=true, columns={{{cols}}})", [tables[name]])
    out = {text: [tuple(r) for r in con.execute(text).fetchall()]
           for texts in pool.values() for text in texts}
    con.close()
    return out


def run_upload(ctx: Ctx, traced: bool, tag: str) -> dict:
    def make():
        files = gen.upload_files(ctx.seed, str(ctx.inputs / "up"),
                                 count=int(ctx.seconds / 1.2) + 4)
        tables = gen.query_tables(ctx.seed, str(ctx.inputs / "q"))
        pool = gen.query_pool(ctx.seed)
        return files, tables, pool, duckdb_answers(tables, pool)

    files, tables, pool, expected = ctx.inputs_once(make)
    tally = Tally()
    sut = launch_server(ctx, tag, traced)
    try:
        ready_s = sut.wait_http_ready(sut.port)
        rows = {"products": gen.N_PRODUCTS, "sales": tables["n_sales"]}
        for name, types in QUERY_TYPES.items():
            if stage_upload(sut, tables[name], name, rows[name], types,
                            tally) is None:
                raise RuntimeError(f"staging {name} failed")
        setup_s = time.perf_counter() - sut.t_launch
        rng = random.Random(ctx.seed)
        for kind in gen.QUERY_KINDS:  # warm-up, one query of each kind
            text = rng.choice(pool[kind])
            timed_sql(sut.port, text, tally, expected[text])

        t_start = time.perf_counter()
        t_wall0 = time.time()
        end = t_start + ctx.seconds
        done = threading.Event()
        uploads, probes = [], []
        lat = {k: [] for k in gen.QUERY_KINDS}

        def uploader():
            try:
                for f in files:
                    if time.perf_counter() >= end:
                        break
                    # one logical name for every file, as when a user
                    # re-uploads data.csv: each upload takes the
                    # collision path of the catalog
                    res = stage_upload(sut, f["path"], "data", f["rows"],
                                       f["types"], tally)
                    if res is not None:
                        uploads.append(dict(
                            res, file=f,
                            t_end=time.perf_counter() - t_start))
            finally:
                done.set()

        def reader():
            r = random.Random(ctx.seed * 7 + 1)
            i = 0
            while not done.is_set():
                kind = gen.QUERY_KINDS[i % len(gen.QUERY_KINDS)]
                i += 1
                text = r.choice(pool[kind])
                dt = timed_sql(sut.port, text, tally, expected[text])
                if dt is not None:
                    lat[kind].append(dt)

        def probe():
            k = 0
            while not done.is_set():
                due = t_start + k / PROBE_HZ
                k += 1
                now = time.perf_counter()
                if due > now:
                    time.sleep(due - now)
                try:
                    status, _ = client.request(sut.port, "GET",
                                               "/-/upload-csvs", timeout=30)
                except OSError as ex:
                    tally.fail(f"form probe: {ex}")
                    continue
                if status != 200:
                    tally.fail(f"form probe returned {status}")
                    continue
                tally.ok()
                probes.append(time.perf_counter() - due)

        threads = [threading.Thread(target=fn, daemon=True)
                   for fn in (uploader, reader, probe)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t_start
        t_wall1 = time.time()
        wh = sut.dir / "wh"
        n_progress_files = progress_files(wh)
        stored = warehouse_bytes(wh, skip=("_csv_progress_",
                                           "_csv_name_map_", *QUERY_TYPES))
    finally:
        sut.stop()

    lats = [u["latency_s"] for u in uploads]
    up_wall = max((u["t_end"] for u in uploads), default=wall)
    csv_bytes = sum(u["file"]["csv_bytes"] for u in uploads)
    allq = [x for v in lat.values() for x in v]
    if not lats or not all(lat.values()):
        raise RuntimeError("upload workload completed no upload or missed "
                           "a query kind")
    s = summarize(allq)
    detail = {
        "upload_p50_s": (median(lats), "s"),
        "upload_n": (len(lats), "count"),
        "upload_mb_per_s": (csv_bytes / 2**20 / up_wall, "MB/s"),
        "sql_qps": (len(allq) / wall, "1/s"),
        "sql_n": (s["n"], "count"),
    }
    for k, v in s.items():
        if k != "n":
            detail[f"sql_{k}_ms"] = (1000 * v, "ms")
    for k, v in lat.items():
        detail[f"sql_{k}_p50_ms"] = (1000 * median(v), "ms")
    detail.update({
        "form_probe_p50_ms": (1000 * median(probes), "ms"),
        "form_probe_max_ms": (1000 * max(probes), "ms"),
        "stored_bytes_per_input_byte": (stored / max(csv_bytes, 1), "ratio"),
        "progress_table_files": (n_progress_files, "count"),
        "server_ready_s": (ready_s, "s"),
    })
    return {
        "setup_s": setup_s,
        "op_p50_ms": 1000 * median(lats),
        "ops_per_s": len(uploads) / up_wall,
        "peak_rss_mb": sut.peak_rss / 2**20,
        "detail": detail,
        "tally": tally,
        "window": (t_wall0, t_wall1),
        "uploads": uploads,
        "probes": probes,
        "trace": layers.load(sut.spans_path) if traced else None,
    }


# ------------------------------------------------------------- curate

def check_funnel(run: dict, expect: dict, planted_near: int) -> list[str]:
    """Correctness of one funnel result; returns the problems found."""
    st = run["stages"]
    bad = []
    if list(st) != list(STAGES):
        return [f"stage order {list(st)}"]
    n = [st[k]["n_docs"] for k in STAGES[:5]]
    if any(b > a for a, b in zip(n, n[1:])):
        bad.append(f"survivor counts increase: {n}")
    for k, v in expect.items():
        if st[k]["n_docs"] != v:
            bad.append(f"{k}: {st[k]['n_docs']} docs, expected {v}")
    removed = st["exact_dedup"]["n_docs"] - st["near_dup_groups"]["n_docs"]
    if not planted_near / 2 <= removed <= planted_near:
        bad.append(f"near-dup stage removed {removed} docs; "
                   f"{planted_near} one-token edits were planted")
    split = run["split"]
    if split.get("train", 0) + split.get("val", 0) != st["decontaminated"][
            "n_docs"]:
        bad.append(f"split {split} does not cover the decontaminated set")
    if st["cluster_safe_split"]["n_docs"] != st["decontaminated"]["n_docs"]:
        bad.append("split stage changed the doc count")
    if st["export_shards"]["n_docs"] != split.get("train", 0):
        bad.append(f"shards hold {st['export_shards']['n_docs']} docs, "
                   f"train split has {split.get('train', 0)}")
    return bad


def run_curate(ctx: Ctx, traced: bool, tag: str) -> dict:
    corpus = ctx.inputs_once(
        lambda: gen.curate_corpus(ctx.seed, str(ctx.inputs / "c")))
    d, env = ctx.sut_env(tag)
    out = d / "result.json"
    argv = [sys.executable, str(HERE / "sut.py"), "curate",
            "--corpus", corpus["corpus"], "--benchmark", corpus["benchmark"],
            "--seconds", str(ctx.seconds), "--out", str(out)]
    if traced:
        argv += ["--spans", str(d / "spans.json")]
    tally = Tally()
    sut = client.Sut(argv, cwd=str(d), env=env, log_path=str(d / "sut.log"))
    sut.dir, sut.spans_path = d, d / "spans.json"
    try:
        line = sut.proc.stdout.readline()
        setup_s = time.perf_counter() - sut.t_launch
        if line.strip() != b"READY":
            raise RuntimeError("curation worker failed to start")
        t_wall0 = time.time()
        sut.proc.wait(timeout=170)
        t_wall1 = time.time()
        if sut.proc.returncode != 0:
            raise RuntimeError(f"curation worker exited with "
                               f"{sut.proc.returncode}")
        result = json.loads(out.read_text())
    finally:
        sut.stop()

    runs = result["runs"]
    first = None
    for r in runs:
        bad = check_funnel(r, corpus["expect"], corpus["planted_near"])
        counts = {k: v["n_docs"] for k, v in r["stages"].items()}
        if first is None:
            first = counts
        elif counts != first:
            bad.append("stage counts differ between runs of one seed")
        if bad:
            tally.fail("; ".join(bad), wrong=True)
        else:
            tally.ok()
    if not runs:
        raise RuntimeError("curation worker completed no funnel")
    walls = [r["wall_s"] for r in runs]
    detail = {
        "curate_docs_per_s": (corpus["n_docs"] / median(walls), "1/s"),
        "curate_funnel_s": (median(walls), "s"),
        "curate_funnels": (len(runs), "count"),
        "curate_corpus_docs": (corpus["n_docs"], "count"),
    }
    for k in STAGES:
        detail[f"curate_{k}_docs"] = (runs[0]["stages"][k]["n_docs"], "count")
    return {
        "setup_s": setup_s,
        "op_p50_ms": 1000 * median(walls),
        "ops_per_s": corpus["n_docs"] / median(walls),
        "peak_rss_mb": sut.peak_rss / 2**20,
        "detail": detail,
        "tally": tally,
        "window": (t_wall0, t_wall1),
        "corpus": corpus,
        "trace": layers.load(sut.spans_path) if traced else None,
    }


WORKLOADS = {"upload": run_upload, "curate": run_curate}
E2E = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        log(f"no {PACKAGE} package beside {HERE.name}/: nothing to measure")
        return 2
    # a terminated run still stops its processes and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))
    ctx = Ctx(args.workload, args.seed, args.seconds)
    fn = WORKLOADS[args.workload]

    def watchdog():
        log(f"benchmark aborted: still running after {DEADLINE_S} s")
        client.kill_all()
        shutil.rmtree(ctx.dir, ignore_errors=True)
        os._exit(2)

    timer = threading.Timer(DEADLINE_S, watchdog)
    timer.daemon = True
    timer.start()
    try:
        runs = [fn(ctx, traced=False, tag="plain")]
        if args.trace:
            runs.append(fn(ctx, traced=True, tag="traced"))
    except Exception as ex:  # the workload could not complete
        log(f"benchmark aborted: {type(ex).__name__}: {ex}")
        return 2
    finally:
        client.kill_all()
        shutil.rmtree(ctx.dir, ignore_errors=True)
        timer.cancel()

    res = runs[-1]
    tally = Tally()
    for r in runs:
        tally.attempted += r["tally"].attempted
        tally.failed += r["tally"].failed
        tally.wrong += r["tally"].wrong
    print(f"# workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace} nproc={ctx.nproc} "
          f"SPARK_GRAFT_CPUS={ctx.cpus}")
    for r, label in zip(runs, ("untraced", "traced")):
        for k, unit in dict(E2E, peak_rss_mb="MB").items():
            print(f"{label} {k} {r[k]:.6g} {unit}")
        for k, (v, unit) in r["detail"].items():
            print(f"{label} {k} {v:.6g} {unit}")
    failed_frac = tally.failed / max(tally.attempted, 1)
    print(f"failed_frac {failed_frac:.6g} fraction")

    if args.trace:
        metrics = layers.per_layer(args.workload, res, runs[0])
        for k, (v, unit, moves) in metrics.items():
            print(f"traced {k} {v:.6g} {unit}  (moves {moves})")
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in
                   metrics.items()}
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in E2E.items()}
    correct = tally.wrong == 0
    print(json.dumps({"correct": correct, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
