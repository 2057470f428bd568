"""Closed-loop HTTP load generator for the ``serve`` workload.

Runs in its own process, so its threads never share an interpreter
lock with the gateway. Each client thread owns one HTTP connection
object and walks its own share of the schedule: it sends a request,
reads the whole body, then sends the next. Bodies are kept raw and
parsed by the caller after the measured window.

    python3 loadgen.py SPEC.json OUT.json

After the warm-up it prints ``warm`` and waits for a line on stdin
before it starts the window. SPEC holds ``base_url``, ``clients``, ``warmup`` (paths, split over the
clients and run before the window), ``schedule`` (paths, walked
cyclically from a per-client offset) and ``seconds``. OUT receives
``window`` (monotonic start and end), ``warmup`` and ``requests``,
each request as [path, t_send, t_done, status, body].
"""

from __future__ import annotations

import http.client
import json
import sys
import threading
import time
from urllib.parse import urlparse


def _client(host, port, paths, deadline, out, barrier):
    conn = http.client.HTTPConnection(host, port, timeout=120)
    try:
        if barrier is not None:
            barrier.wait()
        i = 0
        while True:
            path = paths[i % len(paths)]
            t0 = time.monotonic()
            if deadline is not None and t0 >= deadline:
                return
            if deadline is None and i >= len(paths):
                return
            try:
                conn.request("GET", path)
                resp = conn.getresponse()
                body = resp.read()
                status = resp.status
            except (OSError, http.client.HTTPException) as exc:
                conn.close()
                body, status = repr(exc).encode(), 0
            out.append([path, t0, time.monotonic(), status, body.decode("utf-8", "replace")])
            i += 1
    finally:
        conn.close()


def _run(host, port, shares, deadline):
    results = [[] for _ in shares]
    barrier = threading.Barrier(len(shares)) if deadline is not None else None
    threads = [
        threading.Thread(target=_client, args=(host, port, s, deadline, r, barrier))
        for s, r in zip(shares, results)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [req for r in results for req in r]


def main(spec_path: str, out_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    url = urlparse(spec["base_url"])
    n = spec["clients"]
    warm = spec["warmup"]
    warmup = _run(url.hostname, url.port, [warm[i::n] for i in range(n)], None)
    sched = spec["schedule"]
    step = len(sched) // n
    shares = [sched[i * step:] + sched[: i * step] for i in range(n)]
    # warm-up done: wait for the caller's go, so it can mark the window
    print("warm", flush=True)
    sys.stdin.readline()
    start = time.monotonic()
    deadline = start + spec["seconds"]
    requests = _run(url.hostname, url.port, shares, deadline)
    with open(out_path, "w") as fh:
        json.dump(
            {"window": [start, time.monotonic()], "warmup": warmup, "requests": requests},
            fh,
        )


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
