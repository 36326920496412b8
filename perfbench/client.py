"""Closed-loop HTTP load client for the kg_serve workload.

Runs in its own process, apart from the server. Each of ``clients`` threads
sends its next request only after the previous reply arrived. The first
``warmup`` requests are not recorded; then the threads send for ``seconds``
and every reply's latency and status are recorded.

Usage: python3 client.py SPEC.json OUT.json
SPEC holds {"url", "paths", "clients", "warmup", "seconds"}; OUT receives
{"latencies_ms", "failed", "window_s", "warmup_s"}.
"""

from __future__ import annotations

import json
import sys
import threading
import time
import urllib.error
import urllib.request


def fetch(url: str) -> bool:
    """One request; True when the reply is a 200 carrying JSON."""
    try:
        with urllib.request.urlopen(url, timeout=60) as resp:
            json.loads(resp.read())
            return resp.status == 200
    except (urllib.error.URLError, OSError, ValueError):
        return False


class Load:
    def __init__(self, base: str, paths: list[str]):
        self.base = base
        self.paths = paths
        self.lock = threading.Lock()
        self.next = 0
        self.latencies_ms: list[float] = []
        self.failed = 0

    def take(self) -> str:
        with self.lock:
            path = self.paths[self.next % len(self.paths)]
            self.next += 1
        return self.base + path

    def run(self, clients: int, stop) -> None:
        """Run ``clients`` closed-loop threads until ``stop()`` is true."""

        def worker():
            while not stop():
                t0 = time.perf_counter()
                ok = fetch(self.take())
                ms = (time.perf_counter() - t0) * 1000.0
                with self.lock:
                    self.latencies_ms.append(ms)
                    self.failed += not ok

        threads = [threading.Thread(target=worker) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()


def main(spec_path: str, out_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    warm = Load(spec["url"], spec["paths"])
    t0 = time.perf_counter()
    warm.run(spec["clients"], lambda: warm.next >= spec["warmup"])
    warmup_s = time.perf_counter() - t0

    load = Load(spec["url"], spec["paths"])
    load.next = warm.next
    start = time.perf_counter()
    deadline = start + spec["seconds"]
    load.run(spec["clients"], lambda: time.perf_counter() >= deadline)
    window_s = time.perf_counter() - start
    with open(out_path, "w") as f:
        json.dump({
            "latencies_ms": load.latencies_ms,
            "failed": load.failed + warm.failed,
            "warmup_requests": len(warm.latencies_ms),
            "window_s": window_s,
            "warmup_s": warmup_s,
        }, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
