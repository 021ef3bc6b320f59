"""Open-loop HTTP load generator (runs as its own process).

    python3 loadgen.py <spec.json> <out.json>

The spec holds ``port``, ``conns`` and ``requests``: a list of
``[due_offset_s, kind, path]``. Requests are sent at their due time (offset
from a common start) over at most ``conns`` concurrent connections; a
request whose connection slots are all busy waits, and that wait counts in
its latency, which runs from the due time to the last response byte. The
output lists ``[kind, late_s, latency_s, status, body_bytes]`` per request,
in request order.
"""

from __future__ import annotations

import http.client
import json
import sys
import threading
import time

START_DELAY_S = 0.2  # lets every sender thread start before the first due time


def run(spec: dict) -> list:
    reqs = spec["requests"]
    results: list = [None] * len(reqs)
    lock = threading.Lock()
    cursor = [0]
    t0 = time.perf_counter() + START_DELAY_S

    def sender() -> None:
        while True:
            with lock:
                i = cursor[0]
                cursor[0] += 1
            if i >= len(reqs):
                return
            offset, kind, path = reqs[i]
            due = t0 + offset
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            sent = time.perf_counter()
            status, size = 0, 0
            conn = http.client.HTTPConnection("127.0.0.1", spec["port"], timeout=30)
            try:
                conn.request("GET", path)
                resp = conn.getresponse()
                size = len(resp.read())
                status = resp.status
            except OSError:
                pass
            finally:
                conn.close()
            results[i] = [kind, sent - due, time.perf_counter() - due, status, size]

    threads = [threading.Thread(target=sender) for _ in range(spec["conns"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def main() -> None:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    results = run(spec)
    with open(sys.argv[2], "w") as fh:
        json.dump(results, fh)


if __name__ == "__main__":
    main()
