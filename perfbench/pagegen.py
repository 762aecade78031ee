"""Page generator for the event_ingest workload: a single-threaded HTTP
server, run as its own process, that serves a seeded backlog of events
as JSON pages.

  GET /page/<i>  -> 200 and a JSON array of page i's events, in
                    event-time order; 404 for a page outside the backlog
  GET /stats     -> {"pages_served", "non200", "serve_s"}: counts since
                    start, and the time spent inside page handlers

The port is printed on the first line of standard output once the
server listens.

Usage: python3 perfbench/pagegen.py --seed N --pages P --page-size S
"""

from __future__ import annotations

import argparse
import http.server
import json
import time

from gendata import ingest_events


def encode_pages(seed: int, pages: int, page_size: int) -> list[bytes]:
    tbl = ingest_events(seed, pages * page_size).to_pylist()
    out = []
    for p in range(pages):
        rows = tbl[p * page_size:(p + 1) * page_size]
        for r in rows:
            r["ts"] = r["ts"].isoformat()
        out.append(json.dumps(rows).encode())
    return out


def serve(pages: list[bytes]) -> None:
    stats = {"pages_served": 0, "non200": 0, "serve_s": 0.0}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            t0 = time.perf_counter()
            if self.path == "/stats":
                self._send(200, json.dumps(stats).encode())
                return
            head, _, tail = self.path.rpartition("/")
            if head == "/page" and tail.isdigit() and int(tail) < len(pages):
                self._send(200, pages[int(tail)])
                stats["pages_served"] += 1
            else:
                self._send(404, b"[]")
                stats["non200"] += 1
            stats["serve_s"] += time.perf_counter() - t0

        def _send(self, status: int, body: bytes) -> None:
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    print(server.server_address[1], flush=True)
    server.serve_forever()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pages", type=int, required=True)
    ap.add_argument("--page-size", type=int, required=True)
    a = ap.parse_args()
    serve(encode_pages(a.seed, a.pages, a.page_size))


if __name__ == "__main__":
    main()
