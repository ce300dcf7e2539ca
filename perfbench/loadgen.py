"""HTTP load generator, run as its own process so client work does not share
the server's interpreter lock.

Reads one JSON config from stdin and writes one JSON result to stdout:

    {"base": "http://127.0.0.1:PORT", "threads": N,
     "phases": [
       {"name": "cold", "kind": "closed", "clients": 1, "questions": [...]},
       {"name": "hot", "kind": "open", "rate": R, "seconds": D, "questions": [...]},
       {"name": "saturation", "kind": "closed", "clients": N, "seconds": D,
        "questions": [...]}]}

A closed phase either walks its question list once (no ``seconds``) or
cycles it until ``seconds`` pass.  An open phase schedules request ``i`` at
``start + i / rate`` whatever the server does; its latency is timed from
that scheduled time, and ``late_s`` records how late the send was.  The
result keeps, per phase, every latency, and for every request its question,
status and a digest of its body, plus one body per distinct digest, so that
each response can be checked.
"""

from __future__ import annotations

import hashlib
import json
import queue
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request


def _get(base: str, question: str):
    url = f"{base}/query?q={urllib.parse.quote(question)}"
    try:
        with urllib.request.urlopen(url, timeout=60) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as exc:
        return exc.code, exc.read().decode()
    except OSError as exc:
        return 599, str(exc)


class _Recorder:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.lat: list = []
        self.late: list = []
        self.requests: list = []
        self.bodies: dict = {}

    def add(self, question, status, body, lat, late=0.0) -> None:
        digest = hashlib.sha1(body.encode()).hexdigest()
        with self.lock:
            self.lat.append(lat)
            self.late.append(late)
            self.requests.append((question, status, digest))
            self.bodies.setdefault(digest, body)


def _closed(base: str, phase: dict, rec: _Recorder) -> float:
    questions = phase["questions"]
    seconds = phase.get("seconds")
    clients = phase["clients"]
    counter = {"i": 0}
    lock = threading.Lock()
    t_end = None if seconds is None else time.perf_counter() + seconds

    def client() -> None:
        while True:
            with lock:
                i = counter["i"]
                counter["i"] += 1
            if t_end is None and i >= len(questions):
                return
            if t_end is not None and time.perf_counter() >= t_end:
                return
            q = questions[i % len(questions)]
            t0 = time.perf_counter()
            status, body = _get(base, q)
            rec.add(q, status, body, time.perf_counter() - t0)

    t0 = time.perf_counter()
    workers = [threading.Thread(target=client) for _ in range(clients)]
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    return time.perf_counter() - t0


def _open(base: str, phase: dict, threads: int, rec: _Recorder) -> float:
    questions = phase["questions"]
    rate = float(phase["rate"])
    n = int(rate * phase["seconds"])
    work: queue.Queue = queue.Queue()

    def worker() -> None:
        while True:
            item = work.get()
            if item is None:
                return
            due, q = item
            sent = time.perf_counter()
            status, body = _get(base, q)
            rec.add(q, status, body, time.perf_counter() - due, sent - due)

    pool = [threading.Thread(target=worker) for _ in range(threads)]
    for w in pool:
        w.start()
    start = time.perf_counter() + 0.05
    for i in range(n):
        due = start + i / rate
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        work.put((due, questions[i % len(questions)]))
    for _ in pool:
        work.put(None)
    for w in pool:
        w.join()
    return time.perf_counter() - start


def main() -> int:
    cfg = json.load(sys.stdin)
    out = {}
    for phase in cfg["phases"]:
        rec = _Recorder()
        if phase["kind"] == "open":
            wall = _open(cfg["base"], phase, cfg["threads"], rec)
        else:
            wall = _closed(cfg["base"], phase, rec)
        out[phase["name"]] = {
            "wall_s": wall,
            "lat_s": rec.lat,
            "late_s": rec.late,
            "requests": rec.requests,
            "bodies": rec.bodies,
        }
    json.dump(out, sys.stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
