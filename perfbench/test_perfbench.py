"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
from stats import percentile, summarize, tail_percentile  # noqa: E402


def _digest(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(d.rglob("*")) if p.is_file()}


def _make_all(seed: int, out: Path) -> dict[str, str]:
    gen.upload_files(seed, str(out / "up"), count=6)
    gen.query_tables(seed, str(out / "q"), n_sales=5_000)
    gen.curate_corpus(seed, str(out / "c"), base_docs=300, copies=2)
    pool = gen.query_pool(seed, per_kind=4, n_sales=5_000)
    (out / "pool.json").write_text(json.dumps(pool))
    return _digest(out)


def test_same_seed_gives_identical_inputs(tmp_path):
    assert _make_all(7, tmp_path / "a") == _make_all(7, tmp_path / "b")


def test_different_seed_gives_different_inputs(tmp_path):
    a = _make_all(7, tmp_path / "a")
    b = _make_all(8, tmp_path / "b")
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_percentile_rule():
    # the tail is the highest percentile with >= 10 samples above it
    assert tail_percentile(9) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(100) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(1000) == 99
    values = list(range(1, 201))
    s = summarize(values)
    assert s == {"n": 200, "p50": 100.5, "p95": 190.0}
    assert sum(v > s["p95"] for v in values) >= 10
    assert summarize([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}
    assert percentile([5, 1, 4, 2, 3], 50) == 3.0


def test_upload_ground_truth_matches_files(tmp_path):
    import csv
    import gzip

    for f in gen.upload_files(3, str(tmp_path), count=len(gen.UPLOAD_CYCLE)):
        opener = gzip.open if f["path"].endswith(".gz") else open
        enc = "latin-1" if f["shape"] == "latin1" else "utf-8"
        with opener(f["path"], "rt", encoding=enc, newline="") as fh:
            rows = list(csv.reader(fh))
        assert rows[0] == list(f["types"]), f["shape"]
        assert len(rows) - 1 == f["rows"], f["shape"]
        for j, t in enumerate(f["types"].values()):
            cells = [r[j] for r in rows[1:] if r[j] != ""]
            if t == "integer":
                assert all(c.lstrip("-").isdigit() for c in cells)
            elif t == "float":
                assert all("." in c and float(c) >= 0 for c in cells)
            else:
                assert any(not c.replace(".", "").isdigit() for c in cells)


def test_gopher_oracle():
    assert not gen.gopher_keep("the a " + "word " * 10)     # too short
    assert gen.gopher_keep("the a " + "word " * 30)
    assert not gen.gopher_keep("word " * 30)                # no stopwords
    assert not gen.gopher_keep("the a " + "xy " * 30)       # short words


def test_query_kinds_classify_the_pool():
    pool = gen.query_pool(1, per_kind=3)
    for kind, texts in pool.items():
        assert {layers.query_kind(t) for t in texts} == {kind}


def test_benchmark_json_lists_every_per_layer_metric():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["per_layer"]] == [
        m[0] for m in layers.METRICS]
    assert {w["name"] for w in spec["workloads"]} == {"upload", "curate"}
    assert os.path.normpath(spec["paths"][0]) == HERE.name
