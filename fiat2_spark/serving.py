"""HTTP serving shim — the process boundary of the reference's extracted
Servant server (haskellServer/src/Lib.hs:28-46: two GET endpoints with a
Capture :n, JSON string responses, port 8080), over the same two queries
``workloads/server.py`` proves parity for.

A stdlib ``ThreadingHTTPServer``: each request compiles the
:n-parameterized DataFrame plan and serializes the (small, filtered)
result through ``sources.io.to_json_records``, as the reference's
handlers return pre-extracted JSON strings. The artist and album tables
are resident on the driver (``catalog.resident``), as the reference's
tables are held in memory: once each has been read, a request runs no
Spark job. This is a demo boundary, not a production server: one
SparkSession, results and both tables must fit the driver, no auth.

Run: ``python -m fiat2_spark.serving [port] [sf_dir]``.
"""

from __future__ import annotations

import json
import re
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

ROUTES = ("get_artist_less_than", "get_album_and_artist")
_PATH = re.compile(r"^/(" + "|".join(ROUTES) + r")/(-?\d+)$")


def _dispatch(spark: SparkSession, sf_dir: str, route: str, n: int) -> list[str]:
    from fiat2_spark.sources.io import to_json_records
    from fiat2_spark.workloads.server import album_and_artist, artist_less_than

    fn = artist_less_than if route == "get_artist_less_than" else album_and_artist
    return to_json_records(fn(spark, sf_dir, n))


def make_server(spark: SparkSession, sf_dir: str, port: int = 8080) -> ThreadingHTTPServer:
    """Build (but don't start) the server; port 0 picks an ephemeral
    port (tests). ``serve_forever()`` / ``shutdown()`` are the caller's."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — BaseHTTPRequestHandler contract
            m = _PATH.match(self.path)
            if not m:
                self.send_error(404, "unknown route")
                return
            route, n = m.group(1), int(m.group(2))
            try:
                records = _dispatch(spark, sf_dir, route, n)
            except Exception as e:  # surface plan errors as 500, keep serving
                self.send_error(500, str(e)[:200])
                return
            body = ("[" + ",".join(records) + "]").encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet test runs
            pass

    return ThreadingHTTPServer(("127.0.0.1", port), Handler)


def main() -> None:
    import sys

    from fiat2_spark.session import get_spark

    port = int(sys.argv[1]) if len(sys.argv) > 1 else 8080
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    srv = make_server(get_spark(app_name="fiat2-serving"), sf_dir, port)
    print(json.dumps({"serving": f"http://127.0.0.1:{srv.server_address[1]}", "sf_dir": sf_dir}))
    srv.serve_forever()


if __name__ == "__main__":
    main()
