"""The benchmark's JSON-RPC chain node: one separate process serving a
seeded ``chain.Chain``.

Run as ``python3 -m perfbench.node --seed N --blocks B ...`` from the root
of a checkout. It builds every block's ``eth_getLogs`` payload before it
prints ``READY <port>``, so while the benchmark measures it only joins
precomputed bytes. It exits when its standard input closes.

Methods: ``eth_blockNumber`` and ``eth_getLogs`` (the two the archive's
``evm_logs`` source calls), plus two control methods for the benchmark:

- ``bench_startClock(rate, start)``: until it is called the head is fixed
  (``--head``, by default the last block); from then on it is
  ``start + floor(elapsed * rate)``. Returns the start instant on the
  system-wide monotonic clock, so block ``b`` is created at
  ``t0 + (b - start) / rate``;
- ``bench_stopClock()``: the head stops where the clock has brought it and
  is fixed from then on. Returns that head;
- ``bench_head()``: the head, like ``eth_blockNumber`` but not counted;
- ``bench_stats(reset)``: the node's counters since the last reset.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.chain import Chain, ChainSpec  # noqa: E402


class Node:
    def __init__(self, chain: Chain):
        self.last = chain.spec.blocks - 1
        self.frags = [
            ",".join(json.dumps(w, separators=(",", ":")) for w in chain.block_payload(b)).encode()
            for b in range(chain.spec.blocks)
        ]
        self.rows = [len(chain.block_payload(b)) for b in range(chain.spec.blocks)]
        self.lock = threading.Lock()
        self.fixed_head = self.last
        self.clock = None  # (t0, rate, start) when the head follows the wall clock
        self.reset()

    def reset(self) -> None:
        self.counts = {"get_logs_calls": 0, "block_number_calls": 0, "connections": 0,
                       "bytes_sent": 0, "rows_sent": 0}
        self.late_ms: list[float] = []
        self.t_reset = time.monotonic()
        self.cpu_reset = time.process_time()

    def head(self) -> int:
        if self.clock is None:
            return self.fixed_head
        t0, rate, start = self.clock
        return min(self.last, start + math.floor((time.monotonic() - t0) * rate))

    def stats(self) -> dict:
        wall = time.monotonic() - self.t_reset
        late = sorted(self.late_ms)
        return {
            **self.counts,
            "busy_share": (time.process_time() - self.cpu_reset) / wall if wall > 0 else 0.0,
            "late_ms_p99": late[min(len(late) - 1, int(0.99 * len(late)))] if late else 0.0,
        }

    def call(self, method: str, params: list) -> bytes:
        """The JSON text of the ``result`` member for one call."""
        if method == "eth_blockNumber":
            with self.lock:
                self.counts["block_number_calls"] += 1
            return json.dumps(hex(self.head())).encode()
        if method == "eth_getLogs":
            q = params[0]
            if q.get("address"):
                raise ValueError("address filters are not served by this node")
            lo = int(q["fromBlock"], 16)
            hi = min(int(q["toBlock"], 16), self.head())
            blocks = range(max(lo, 0), hi + 1)
            with self.lock:
                self.counts["get_logs_calls"] += 1
                self.counts["rows_sent"] += sum(self.rows[b] for b in blocks)
            return b"[" + b",".join(self.frags[b] for b in blocks if self.frags[b]) + b"]"
        if method == "bench_startClock":
            t0 = time.monotonic()
            self.clock = (t0, float(params[0]), int(params[1]))
            return json.dumps(t0).encode()
        if method == "bench_head":
            return json.dumps(self.head()).encode()
        if method == "bench_stopClock":
            with self.lock:
                self.fixed_head, self.clock = self.head(), None
            return json.dumps(self.fixed_head).encode()
        if method == "bench_stats":
            with self.lock:
                out = self.stats()
                if params and params[0]:
                    self.reset()
            return json.dumps(out).encode()
        raise KeyError(method)


class Server(ThreadingHTTPServer):
    daemon_threads = True
    request_queue_size = 64

    def __init__(self, node: Node):
        self.node = node
        self.accepted: dict = {}
        super().__init__(("127.0.0.1", 0), Handler)

    def process_request(self, request, client_address):
        self.accepted[request] = time.monotonic()
        with self.node.lock:
            self.node.counts["connections"] += 1
        super().process_request(request, client_address)


class Handler(BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802 (stdlib name)
        node: Node = self.server.node
        try:
            body = json.loads(self.rfile.read(int(self.headers.get("Content-Length", "0"))))
        except ValueError:  # a client that died mid-request (a stopped stream)
            return
        rid = json.dumps(body.get("id"))
        try:
            result = node.call(body.get("method", ""), body.get("params") or [])
            payload = b'{"jsonrpc":"2.0","id":' + rid.encode() + b',"result":' + result + b"}"
        except (KeyError, ValueError, IndexError) as e:
            payload = json.dumps({"jsonrpc": "2.0", "id": body.get("id"),
                                  "error": {"code": -32601, "message": str(e)}}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)
        self.wfile.flush()
        t_acc = self.server.accepted.pop(self.request, None)
        with node.lock:
            node.counts["bytes_sent"] += len(payload)
            if t_acc is not None:
                node.late_ms.append((time.monotonic() - t_acc) * 1000.0)

    def log_message(self, *a):
        pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--blocks", type=int, required=True)
    ap.add_argument("--logs-per-block", type=int, default=10)
    ap.add_argument("--reorg-from", type=int, default=None)
    ap.add_argument("--head", type=int, default=None, help="initial fixed head (default: last block)")
    a = ap.parse_args(argv)
    chain = Chain(ChainSpec(a.seed, a.blocks, a.logs_per_block, a.reorg_from))
    node = Node(chain)
    if a.head is not None:
        node.fixed_head = a.head
    srv = Server(node)

    def watch_stdin():
        sys.stdin.read()  # returns when the parent closes our stdin or exits
        srv.shutdown()

    threading.Thread(target=watch_stdin, daemon=True).start()
    print(f"READY {srv.server_address[1]}", flush=True)
    srv.serve_forever(poll_interval=0.2)
    srv.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
