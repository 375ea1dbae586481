"""Upload bookkeeping: `_csv_progress_` and `_csv_name_map_` rows are
single parameterized INSERTs, progress polls for tasks this process
wrote are answered from memory (no Spark job), and physical names are
reserved so concurrent same-name uploads cannot collide."""

from __future__ import annotations

import asyncio
import time
import uuid

from datasette_upload_csvs_spark import catalog as cat
from datasette_upload_csvs_spark import ingest
from datasette_upload_csvs_spark.web import UploadApp

SIMPLE = "name,age\nCleo,5\nPancakes,4\n"


def write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text, encoding="utf-8")
    return str(p)


def jobs_in_group(spark, fn):
    """Run fn() under a fresh job group; return (result, job ids)."""
    sc = spark.sparkContext
    group = f"test-bookkeeping-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "bookkeeping test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def scanned(spark, task_id):
    return ingest._scan_progress(spark, ingest.PROGRESS_TABLE, task_id)


def test_poll_for_own_task_starts_no_spark_job(spark, tmp_path):
    res = ingest.upload_csv(spark, write(tmp_path, "nojob.csv", SIMPLE))
    assert res.error is None
    prog, jobs = jobs_in_group(
        spark, lambda: ingest.get_progress(spark, res.task_id))
    assert jobs == []
    assert prog["completed"] is not None and prog["rows_done"] == 2


def test_unknown_task_falls_back_to_table(spark, tmp_path):
    res = ingest.upload_csv(spark, write(tmp_path, "fallback.csv", SIMPLE))
    missing, jobs = jobs_in_group(
        spark, lambda: ingest.get_progress(spark, "no-such-task"))
    assert missing is None
    assert jobs  # answered by a table scan

    # an entry evicted from the cache is still found in the table
    cached = ingest.get_progress(spark, res.task_id)
    key = ingest._progress_key(spark, None, res.task_id)
    with ingest._latest_lock:
        del ingest._latest_progress[key]
    again, jobs = jobs_in_group(
        spark, lambda: ingest.get_progress(spark, res.task_id))
    assert jobs
    assert again == cached


def test_memory_answer_equals_table_scan_for_every_row_kind(spark, tmp_path):
    def agree(task_id):
        mem, jobs = jobs_in_group(
            spark, lambda: ingest.get_progress(spark, task_id))
        assert jobs == []
        assert mem == scanned(spark, task_id)
        return mem

    tid = str(uuid.uuid4())
    base = dict(id=tid, filename="kinds.csv", database_name="default",
                table_name="kinds", bytes_todo=100, started="2026-01-01 00:00:00")
    init = dict(base, bytes_done=0, rows_done=0, completed=None, error=None,
                seq=0)
    tick = dict(base, bytes_done=40, rows_done=None, completed=None,
                error=None, seq=1)
    done = dict(base, bytes_done=100, rows_done=7,
                completed="2026-01-01 00:00:01", error=None, seq=2)
    for row in (init, tick, done):
        ingest._append_progress(spark, None, row)
        assert agree(tid)["seq"] == row["seq"]
    # a lower seq written late does not displace the latest row
    ingest._append_progress(spark, None, dict(tick, bytes_done=50))
    assert agree(tid)["seq"] == 2

    # real ingests: a completed upload and a failed one
    ok = ingest.upload_csv(spark, write(tmp_path, "kinds_ok.csv", SIMPLE))
    assert agree(ok.task_id)["completed"] is not None
    bad = ingest.upload_csv(spark, write(tmp_path, "kinds_empty.csv", ""))
    assert bad.error is not None
    row = agree(bad.task_id)
    assert row["error"] and row["completed"] is None


def test_quotes_semicolons_and_non_ascii_round_trip(spark, tmp_path):
    name = "it's; DROP TABLE x; -- café ☃.csv"
    res = ingest.upload_csv(spark, write(tmp_path, name, SIMPLE))
    assert res.error is None
    assert scanned(spark, res.task_id)["filename"] == name
    assert res.logical_name == name[:-4]
    assert cat.lookup_physical_name(spark, res.logical_name) == res.table


def test_bookkeeping_table_schemas(spark, tmp_path):
    res = ingest.upload_csv(spark, write(tmp_path, "schema ~ x.csv", SIMPLE))
    assert res.error is None
    assert spark.table(ingest.PROGRESS_TABLE).dtypes == [
        ("id", "string"), ("filename", "string"),
        ("database_name", "string"), ("table_name", "string"),
        ("bytes_todo", "bigint"), ("bytes_done", "bigint"),
        ("rows_done", "bigint"), ("started", "string"),
        ("completed", "string"), ("error", "string"), ("seq", "bigint"),
    ]
    assert spark.table(cat.NAME_MAP_TABLE).dtypes == [
        ("logical_name", "string"), ("physical_name", "string"),
        ("database_name", "string"), ("registered_ns", "bigint"),
    ]


def test_insert_row_recreates_a_dropped_table(spark):
    table = f"bk_dropped_{uuid.uuid4().hex[:8]}"
    cat.insert_row(spark, table, "a string", {"a": "first"})
    spark.sql(f"DROP TABLE {table}")
    cat.insert_row(spark, table, "a string", {"a": "second"})
    assert [r.a for r in spark.table(table).collect()] == ["second"]


def test_lookup_returns_latest_registration(spark):
    logical = f"latest {uuid.uuid4().hex[:8]}"
    physicals = [f"latest_{i}" for i in range(10)]
    for p in physicals:
        cat.register_logical_name(spark, logical, p)
    assert cat.lookup_physical_name(spark, logical) == physicals[-1]


def test_concurrent_same_name_uploads_get_distinct_tables(spark, tmp_path):
    table = f"conc_{uuid.uuid4().hex[:8]}"
    paths = [write(tmp_path, f"c{i}.csv", SIMPLE) for i in range(2)]
    tasks = [ingest.upload_csv_async(spark, p, table=table) for p in paths]
    results = [t.result(timeout=300) for t in tasks]
    assert [r.error for r in results] == [None, None]
    assert sorted(r.table for r in results) == [table, f"{table}_2"]
    for r in results:
        assert spark.table(r.table).count() == 2
    assert not any(n.startswith(table) for (*_, n) in cat._reserved)


def test_progress_poll_runs_off_the_event_loop(spark, tmp_path, monkeypatch):
    """A slow (table-scan) poll must not stall other requests."""
    ingest.set_allow_hook(None)
    app = UploadApp(spark, upload_dir=str(tmp_path))

    def slow_progress(*args, **kwargs):
        time.sleep(1.5)

    monkeypatch.setattr(ingest, "get_progress", slow_progress)

    async def request(path, query=""):
        sent = []

        async def receive():
            return {"type": "http.request", "body": b"", "more_body": False}

        async def send(msg):
            sent.append(msg)

        scope = {"type": "http", "method": "GET", "path": path,
                 "query_string": query.encode(), "headers": []}
        await app(scope, receive, send)
        return sent[0]["status"], time.perf_counter()

    async def main():
        t0 = time.perf_counter()
        poll = asyncio.ensure_future(
            request("/default/_csv_progress_.json", "id=slow"))
        await asyncio.sleep(0.1)
        (form_status, form_t) = await request("/-/upload-csvs")
        (poll_status, _) = await poll
        return t0, form_status, form_t, poll_status

    t0, form_status, form_t, poll_status = asyncio.run(main())
    assert form_status == 200 and poll_status == 404
    assert form_t - t0 < 1.0
