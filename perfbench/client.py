"""HTTP client helpers and the process wrapper for the system under test.

The load generator speaks plain HTTP/1.1 to the served engine, one
connection per request (the server closes each connection), so the
number of client threads is the number of open connections.
"""

from __future__ import annotations

import http.client
import json
import os
import signal
import socket
import subprocess
import threading
import time
import uuid
from urllib.parse import urlencode

HOST = "127.0.0.1"


class HttpError(Exception):
    pass


def free_port() -> int:
    s = socket.socket()
    s.bind((HOST, 0))
    port = s.getsockname()[1]
    s.close()
    return port


def request(port: int, method: str, path: str, body: bytes | None = None,
            headers: dict | None = None, timeout: float = 60.0):
    """One request on a fresh connection -> (status, body bytes)."""
    conn = http.client.HTTPConnection(HOST, port, timeout=timeout)
    try:
        conn.request(method, path, body=body, headers=headers or {})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def sql(port: int, text: str, timeout: float = 60.0):
    """GET /default.json?sql= -> (status, decoded JSON or None)."""
    status, body = request(
        port, "GET", "/default.json?" + urlencode({"sql": text}),
        timeout=timeout)
    try:
        return status, json.loads(body)
    except ValueError:
        return status, None


def multipart(fields: dict[str, str], filename: str, data: bytes):
    """(content-type, body) of a form post with one `csv` file part."""
    boundary = "bench" + uuid.uuid4().hex
    parts = []
    for k, v in fields.items():
        parts.append(
            f'--{boundary}\r\nContent-Disposition: form-data; name="{k}"'
            f"\r\n\r\n{v}\r\n".encode())
    parts.append(
        f'--{boundary}\r\nContent-Disposition: form-data; name="csv"; '
        f'filename="{filename}"\r\nContent-Type: text/csv\r\n\r\n'.encode())
    parts.append(data)
    parts.append(f"\r\n--{boundary}--\r\n".encode())
    return f"multipart/form-data; boundary={boundary}", b"".join(parts)


def upload(port: int, path: str, table: str, poll_s: float = 0.25,
           timeout: float = 150.0) -> dict:
    """POST one file with xhr=1, then poll the progress table until the
    task reports `completed` (or `error`). Returns timings and the final
    progress row; raises HttpError on any protocol failure."""
    with open(path, "rb") as f:
        data = f.read()
    ctype, body = multipart({"xhr": "1", "table": table},
                            os.path.basename(path), data)
    t0 = time.perf_counter()
    status, resp = request(port, "POST", "/-/upload-csvs", body,
                           {"Content-Type": ctype}, timeout=timeout)
    if status != 200:
        raise HttpError(f"upload POST returned {status}: {resp[:200]!r}")
    info = json.loads(resp)
    poll_path = (f"/{info['database_path']}/_csv_progress_.json?"
                 + urlencode({"id": info["task_id"]}))
    while True:
        if time.perf_counter() - t0 > timeout:
            raise HttpError(f"upload of {table} did not complete in "
                            f"{timeout:.0f} s")
        time.sleep(poll_s)
        status, resp = request(port, "GET", poll_path, timeout=timeout)
        if status == 404:
            continue  # the progress table may not exist yet
        if status != 200:
            raise HttpError(f"progress poll returned {status}")
        rows = json.loads(resp)
        row = rows[0] if rows else {}
        if row.get("error"):
            raise HttpError(f"upload of {table} failed: {row['error']}")
        if row.get("completed"):
            return {"latency_s": time.perf_counter() - t0, "row": row,
                    "task_id": info["task_id"]}


def quote_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def readback(port: int, table: str, columns: list[str]):
    """count(*) and the Spark type of every column, in one query."""
    exprs = ", ".join(f"typeof(max({quote_ident(c)})) AS t{i}"
                      for i, c in enumerate(columns))
    status, out = sql(port, f"SELECT count(*) AS n, {exprs} FROM "
                            f"{quote_ident(table)}")
    if status != 200 or not out or not out.get("ok"):
        raise HttpError(f"readback of {table} returned {status}: {out}")
    row = out["rows"][0]
    return row["n"], [row[f"t{i}"] for i in range(len(columns))]


# ------------------------------------------------------------- processes


def _proc_stat(pid: str):
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        # fields[0] is state (stat field 3): pgrp is field 5, rss 24
        return int(fields[2]), int(fields[21])
    except (OSError, IndexError, ValueError):
        return None


def group_rss_bytes(pgid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st and st[0] == pgid:
                total += st[1] * page
    return total


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


LIVE: set = set()  # every Sut not yet killed


def kill_all() -> None:
    for sut in list(LIVE):
        sut.kill()


class Sut:
    """A system-under-test process in its own process group. A sampler
    thread tracks the peak RSS of the whole group (the Python process,
    the Spark JVM and its Python workers)."""

    def __init__(self, argv, cwd, env, log_path, sample_s: float = 0.25):
        LIVE.add(self)
        self.log = open(log_path, "wb")
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(
            argv, cwd=cwd, env=env, stdout=subprocess.PIPE,
            stderr=self.log, start_new_session=True)
        self.pgid = self.proc.pid
        self.peak_rss = 0
        self._stop = threading.Event()
        self._sample_s = sample_s
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self):
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, group_rss_bytes(self.pgid))
            self._stop.wait(self._sample_s)

    def wait_http_ready(self, port: int, timeout: float = 120.0) -> float:
        """Seconds from launch until the form route answers 200."""
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError("system under test exited during start")
            try:
                status, _ = request(port, "GET", "/-/upload-csvs",
                                    timeout=5)
                if status == 200:
                    return time.perf_counter() - self.t_launch
            except OSError:
                pass
            time.sleep(0.05)
        raise RuntimeError("system under test did not become ready")

    def stop(self, grace_s: float = 30.0) -> None:
        """SIGTERM the main process, give it `grace_s` to exit (a traced
        process writes its spans then), then kill whatever is left of
        the group and wait until every member has ended."""
        if self.proc.poll() is None:
            try:
                self.proc.send_signal(signal.SIGTERM)
                self.proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                pass
        self.kill()

    def kill(self) -> None:
        LIVE.discard(self)
        try:
            os.killpg(self.pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass
        deadline = time.perf_counter() + 30
        while group_alive(self.pgid) and time.perf_counter() < deadline:
            time.sleep(0.05)
        self._stop.set()
        self._sampler.join()
        if self.proc.stdout:
            self.proc.stdout.close()
        self.log.close()
