"""Per-layer metrics of a traced run, derived from the spans and the
Spark job/stage records the traced process wrote (see tracer.py).

Every traced run reports the full METRICS list; a layer the workload
does not exercise reports 0. Each metric names the end-to-end number
it should move and on which workload.
"""

from __future__ import annotations

import calendar
import json
import re
from collections import defaultdict
from datetime import datetime

from gen import QUERY_KINDS as KINDS
from stats import median

STAGES = ("scan", "gopher_quality", "exact_dedup", "near_dup_groups",
          "decontaminated", "cluster_safe_split", "export_shards")

# name, unit, better, moves (end-to-end metric @ workload)
METRICS: list[tuple[str, str, str, str]] = [
    ("web.post_ms", "ms", "lower", "upload_p50_s@upload"),
    ("web.progress_poll_ms", "ms", "lower", "upload_p50_s@upload"),
    ("web.progress_polls_per_upload", "count", "lower",
     "upload_p50_s@upload"),
    ("web.form_probe_p50_ms", "ms", "lower", "sql_p50_ms@upload"),
    ("web.form_probe_max_ms", "ms", "lower", "sql_p50_ms@upload"),
    ("web.sql_gate_ms", "ms", "lower",
     "sql_point_p50_ms,sql_page_p50_ms@upload"),
    ("web.sql_self_ms", "ms", "lower",
     "sql_point_p50_ms,sql_page_p50_ms@upload"),
    ("session.get_spark_s", "s", "lower", "setup_s@all"),
    ("session.new_session_ms", "ms", "lower", "sql_point_p50_ms@upload"),
]
METRICS += [(f"spark.{what}_ms.{k}", "ms", "lower", f"sql_{k}_p50_ms@upload")
            for what in ("sql", "collect") for k in KINDS]
METRICS += [
    ("spark.jobs", "count", "lower", "sql_*_p50_ms@upload;curate_docs_per_s@curate"),
    ("spark.tasks", "count", "lower", "sql_*_p50_ms@upload;curate_docs_per_s@curate"),
    ("spark.shuffle_write_mb", "MB", "lower", "curate_docs_per_s@curate"),
    ("spark.spill_mb", "MB", "lower", "curate_docs_per_s@curate"),
    ("spark.gc_s", "s", "lower", "sql_*_p50_ms@upload;curate_docs_per_s@curate"),
    ("ingest.progress_append_ms", "ms", "lower", "upload_p50_s@upload"),
    ("ingest.progress_appends_per_upload", "count", "lower",
     "upload_p50_s@upload"),
    ("ingest.get_progress_ms", "ms", "lower", "upload_p50_s@upload"),
    ("ingest.progress_table_files", "count", "lower", "upload_p50_s@upload"),
    ("ingest.jobs_per_upload", "count", "lower", "upload_p50_s@upload"),
    ("ingest.detect_encoding_ms", "ms", "lower", "upload_mb_per_s@upload"),
    ("ingest.multiline_probe_ms", "ms", "lower", "upload_mb_per_s@upload"),
    ("ingest.infer_types_ms", "ms", "lower", "upload_mb_per_s@upload"),
    ("ingest.write_ms", "ms", "lower", "upload_mb_per_s@upload"),
    ("ingest.input_bytes_per_file_byte", "ratio", "lower",
     "upload_mb_per_s@upload"),
    ("catalog.resolve_collision_ms", "ms", "lower", "upload_p50_s@upload"),
    ("catalog.register_logical_name_ms", "ms", "lower",
     "upload_p50_s@upload"),
]
for _st in STAGES:
    METRICS += [
        (f"pipeline.{_st}_s", "s", "lower", "curate_docs_per_s@curate"),
        (f"pipeline.{_st}_keep_ratio", "ratio", "lower",
         "curate_docs_per_s@curate"),
        (f"pipeline.{_st}_shuffle_mb", "MB", "lower",
         "curate_docs_per_s@curate"),
    ]
METRICS += [
    ("operators.dedup.minhash_near_dup_pairs_s", "s", "lower",
     "curate_docs_per_s@curate"),
    ("operators.graph.connected_components_s", "s", "lower",
     "curate_docs_per_s@curate"),
    ("operators.graph.cc_jobs", "count", "lower", "curate_docs_per_s@curate"),
    ("operators.export.balanced_shards_s", "s", "lower",
     "curate_docs_per_s@curate"),
    # tracing overhead: traced minus untraced end-to-end values
    ("overhead.setup_s", "s", "lower", "setup_s@all"),
    ("overhead.op_p50_ms", "ms", "lower", "op_p50_ms@all"),
    ("overhead.ops_per_s", "1/s", "higher", "ops_per_s@all"),
    ("overhead.peak_rss_mb", "MB", "lower", "peak_rss_mb@all"),
]


def load(path) -> dict:
    with open(path) as f:
        return json.load(f)


def _epoch(ts: str | None) -> float | None:
    """Spark UI timestamp ('2026-01-01T00:00:00.000GMT') -> epoch s."""
    if not ts:
        return None
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return calendar.timegm(dt.timetuple()) + dt.microsecond / 1e6


def query_kind(sql: str) -> str | None:
    if " JOIN " in sql:
        return "join"
    if "GROUP BY" in sql:
        return "agg"
    if "LIMIT 1000" in sql:
        return "page"
    if re.search(r"WHERE \w+ = \d+$", sql):
        return "point"
    return None


def _dur(s) -> float:
    return s["end"] - s["start"]


def _covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _p50(values, scale=1.0) -> float:
    return median(values) * scale if values else 0.0


class Trace:
    def __init__(self, data: dict, window):
        self.spans = [s for s in data["spans"] if s.get("end")]
        self.jobs = data.get("jobs", [])
        self.stages = data.get("stages", [])
        self.w0, self.w1 = window
        self.children = defaultdict(list)
        self.by_trace = defaultdict(list)
        self.by_name = defaultdict(list)
        for s in self.spans:
            self.children[s["parent"]].append(s)
            self.by_trace[s["trace"]].append(s)
            self.by_name[s["name"]].append(s)

    def in_window(self, name):
        return [s for s in self.by_name.get(name, [])
                if self.w0 <= s["start"] <= self.w1]

    def jobs_between(self, t0, t1):
        return [j for j in self.jobs
                if (_epoch(j.get("submissionTime")) or 0) >= t0 - 0.001
                and (_epoch(j.get("submissionTime")) or 0) <= t1 + 0.001]

    def stages_between(self, t0, t1):
        return [st for st in self.stages
                if t0 - 0.001 <= (_epoch(st.get("submissionTime")) or 0)
                <= t1 + 0.001]

    def stages_of_jobs(self, jobs):
        ids = {sid for j in jobs for sid in j.get("stageIds") or []}
        return [st for st in self.stages if st["stageId"] in ids]


def _spark_totals(tr: Trace, out: dict) -> None:
    stages = tr.stages_between(tr.w0, tr.w1)
    out["spark.jobs"] = len(tr.jobs_between(tr.w0, tr.w1))
    out["spark.tasks"] = sum(st.get("numTasks") or 0 for st in stages)
    out["spark.shuffle_write_mb"] = sum(
        st.get("shuffleWriteBytes") or 0 for st in stages) / 2**20
    out["spark.spill_mb"] = sum(
        (st.get("memoryBytesSpilled") or 0) + (st.get("diskBytesSpilled") or 0)
        for st in stages) / 2**20
    out["spark.gc_s"] = sum(st.get("jvmGcTime") or 0 for st in stages) / 1e3


def _web_sql(tr: Trace, out: dict) -> None:
    """SQL-route metrics over the requests of the measured window."""
    reqs = [s for s in tr.in_window("web.request")
            if "sql" in (s.get("attrs") or {})]
    sql_ms = defaultdict(list)
    collect_ms = defaultdict(list)
    self_ms = []
    for r in reqs:
        kind = query_kind(r["attrs"]["sql"])
        mine = tr.by_trace[r["trace"]]
        handler = [c for c in tr.children[r["id"]] if c["name"] == "web.get_sql"]
        if handler:
            inner = [(c["start"], c["end"]) for c in tr.children[handler[0]["id"]]]
            self_ms.append(1000 * (_dur(r) - _covered(inner)))
        if kind is None:
            continue
        sql_ms[kind] += [1000 * _dur(s) for s in mine if s["name"] == "spark.sql"]
        collect_ms[kind] += [1000 * _dur(s) for s in mine
                             if s["name"] == "spark.collect"]
    for k in KINDS:
        out[f"spark.sql_ms.{k}"] = _p50(sql_ms[k])
        out[f"spark.collect_ms.{k}"] = _p50(collect_ms[k])
    out["web.sql_gate_ms"] = _p50(
        [_dur(s) for s in tr.in_window("web.plan_is_pure_read")], 1000)
    out["web.sql_self_ms"] = _p50(self_ms)
    out["session.new_session_ms"] = _p50(
        [_dur(s) for s in tr.in_window("session.new_session")], 1000)


def _ingest(tr: Trace, res: dict, out: dict) -> None:
    uploads = res["uploads"]
    tasks = {u["task_id"] for u in uploads}
    per = {t: tr.by_trace.get(t, []) for t in tasks}

    def p50(name):
        return _p50([_dur(s) for t in tasks for s in per[t]
                     if s["name"] == name], 1000)

    reqs = [s for t in tasks for s in per[t] if s["name"] == "web.request"]
    out["web.post_ms"] = _p50([_dur(s) for s in reqs
                               if s["attrs"]["method"] == "POST"], 1000)
    polls = [s for s in reqs if s["attrs"]["path"].endswith(
        "_csv_progress_.json")]
    out["web.progress_poll_ms"] = _p50([_dur(s) for s in polls], 1000)
    out["web.progress_polls_per_upload"] = len(polls) / len(tasks)
    out["web.form_probe_p50_ms"] = _p50(res["probes"], 1000)
    out["web.form_probe_max_ms"] = 1000 * max(res["probes"])
    appends = [s for t in tasks for s in per[t]
               if s["name"] == "ingest.append_progress"]
    out["ingest.progress_append_ms"] = _p50([_dur(s) for s in appends], 1000)
    out["ingest.progress_appends_per_upload"] = len(appends) / len(tasks)
    out["ingest.get_progress_ms"] = p50("ingest.get_progress")
    out["ingest.progress_table_files"] = res["detail"][
        "progress_table_files"][0]
    jobs = [j for j in tr.jobs if j.get("jobGroup") in tasks]
    out["ingest.jobs_per_upload"] = len(jobs) / len(tasks)
    out["ingest.detect_encoding_ms"] = p50("ingest.detect_encoding")
    out["ingest.multiline_probe_ms"] = p50("ingest.resolve_multiline")
    out["ingest.infer_types_ms"] = p50("ingest.infer_column_types")
    writes = []
    for t in tasks:
        top = [s["id"] for s in per[t] if s["name"] == "ingest.upload_csv"]
        writes += [_dur(s) for s in per[t] if s["name"] == "spark.saveAsTable"
                   and s["parent"] in top]
    out["ingest.write_ms"] = _p50(writes, 1000)
    in_bytes = sum(st.get("inputBytes") or 0
                   for st in tr.stages_of_jobs(jobs))
    file_bytes = sum(u["file"]["file_bytes"] for u in uploads)
    out["ingest.input_bytes_per_file_byte"] = in_bytes / file_bytes
    out["catalog.resolve_collision_ms"] = p50("catalog.resolve_collision")
    out["catalog.register_logical_name_ms"] = p50(
        "catalog.register_logical_name")


def _pipeline(tr: Trace, res: dict, out: dict) -> None:
    walls = defaultdict(list)
    keep = defaultdict(list)
    shuffle = defaultdict(list)
    n_corpus = res["corpus"]["n_docs"]
    prev = n_corpus
    for s in sorted(tr.by_name.get("pipeline.stage", []),
                    key=lambda s: s["start"]):
        name = s["attrs"]["stage"]
        n = s["attrs"].get("n_docs", 0)
        if name == "scan":
            prev = n_corpus
        walls[name].append(_dur(s))
        keep[name].append(n / prev if prev else 0.0)
        prev = n
        shuffle[name].append(sum(
            st.get("shuffleWriteBytes") or 0
            for st in tr.stages_between(s["start"], s["end"])) / 2**20)
    for st in STAGES:
        out[f"pipeline.{st}_s"] = _p50(walls[st])
        out[f"pipeline.{st}_keep_ratio"] = _p50(keep[st])
        out[f"pipeline.{st}_shuffle_mb"] = _p50(shuffle[st])
    for name, key in (("operators.dedup.minhash_near_dup_pairs",
                       "operators.dedup.minhash_near_dup_pairs_s"),
                      ("operators.graph.connected_components",
                       "operators.graph.connected_components_s"),
                      ("operators.export.balanced_shards",
                       "operators.export.balanced_shards_s")):
        out[key] = _p50([_dur(s) for s in tr.by_name.get(name, [])])
    out["operators.graph.cc_jobs"] = _p50(
        [len(tr.jobs_between(s["start"], s["end"]))
         for s in tr.by_name.get("operators.graph.connected_components", [])])


def per_layer(workload: str, traced: dict, untraced: dict) -> dict:
    """{name: (value, unit, moves)} for every METRICS entry."""
    tr = Trace(traced["trace"], traced["window"])
    out = {name: 0.0 for name, *_ in METRICS}
    out["session.get_spark_s"] = _p50(
        [_dur(s) for s in tr.by_name.get("session.get_spark", [])])
    _spark_totals(tr, out)
    if workload in ("upload", "query"):
        _web_sql(tr, out)
    if workload == "upload":
        _ingest(tr, traced, out)
    if workload == "curate":
        _pipeline(tr, traced, out)
    for k in ("setup_s", "op_p50_ms", "ops_per_s", "peak_rss_mb"):
        out[f"overhead.{k}"] = traced[k] - untraced[k]
    return {name: (float(out[name]), unit, moves)
            for name, unit, _, moves in METRICS}
