"""A loopback HTTP data lake for the elt_incremental workload.

The server speaks the wire protocol ``sources.http_transport``
expects: a split endpoint that returns chunk filters, a paged list
endpoint that returns ``[header, {dl_id, dl_instance_count}...]``, an
object endpoint that returns JSON-lines, and a token endpoint. It
counts requests, 503 retries and bytes served, so the HTTP layer is
measured from outside the package. A seeded schedule answers the first
GET of some objects with 503, which exercises the transport's retry
path without ever failing a batch.
"""

from __future__ import annotations

import hashlib
import json
import re
import threading
import urllib.parse
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

from luma_etl_data_platform_spark.sources.http_transport import (
    HttpLakeTransport, LakeEndpoints, requests_get,
)
from luma_etl_data_platform_spark.sources.oauth import TokenProvider

N_CHUNKS = 4
# The first GET of one object in 16 answers 503: with four objects a
# batch that is about one retry every four batches, so each run takes
# the retry path without retries dominating the extract.
FAIL_EVERY = 16
_CHUNK_RE = re.compile(r"chunk eq '(\d+)'")


def fetch_token(base_url: str) -> dict:
    status, body = requests_get(f"{base_url}/token", {}, 10.0)
    if status != 200:
        raise RuntimeError(f"token endpoint answered {status}")
    return json.loads(body)


class BenchLakeTransport(HttpLakeTransport):
    """``HttpLakeTransport`` against the loopback lake. It pickles as
    its base URL alone, so the restlake source's LakeTransport-only
    unpickler can ship it to executor tasks; the token provider and
    the ``requests`` GET are rebuilt on arrival."""

    def __init__(self, base_url: str):
        self.base_url = base_url
        super().__init__(
            LakeEndpoints(split_url=base_url + "/split?filter={filter}",
                          list_url=base_url + "/list?filter={filter}&n={num_records}",
                          object_url=base_url + "/object/{id}"),
            TokenProvider(lambda: fetch_token(base_url)),
            get_fn=requests_get, timeout=30.0, max_retries=3,
            backoff_seconds=0.01)

    def __reduce__(self):
        return (BenchLakeTransport, (self.base_url,))


class LakeServer:
    """Objects are immutable once published; ``objects`` keeps publish
    order so listings are stable."""

    def __init__(self, seed: int, threads: int):
        self.seed = seed
        self.objects: dict[str, bytes] = {}
        self.stats = {"requests": 0, "retries": 0, "bytes": 0, "tokens": 0}
        self._failed_once: set[str] = set()
        self._lock = threading.Lock()
        handler = _make_handler(self)
        self._httpd = _PooledHTTPServer(("127.0.0.1", 0), handler, threads)
        self.base_url = f"http://127.0.0.1:{self._httpd.server_address[1]}"
        self._thread = threading.Thread(target=self._httpd.serve_forever,
                                        name="lake-server", daemon=True)
        self._thread.start()

    def publish(self, object_id: str, payload: bytes) -> None:
        with self._lock:
            self.objects[object_id] = payload

    def should_fail(self, object_id: str) -> bool:
        """The seeded 503 schedule: the first GET of every object whose
        seeded hash falls in the 1/``FAIL_EVERY`` slice."""
        h = hashlib.blake2b(f"{self.seed}:{object_id}".encode(), digest_size=4)
        if int.from_bytes(h.digest(), "big") % FAIL_EVERY:
            return False
        with self._lock:
            if object_id in self._failed_once:
                return False
            self._failed_once.add(object_id)
            return True

    def count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.stats[key] += n

    def transport(self) -> BenchLakeTransport:
        return BenchLakeTransport(self.base_url)

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join()


class _PooledHTTPServer(HTTPServer):
    """HTTPServer whose requests run on a bounded thread pool."""

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self._pool = ThreadPoolExecutor(max_workers=threads,
                                        thread_name_prefix="lake-http")

    def process_request(self, request, client_address):
        self._pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self._pool.shutdown(wait=True)


def _make_handler(lake: LakeServer):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *args):  # keep stderr quiet
            pass

        def _send(self, status: int, body: bytes) -> None:
            self.send_response(status)
            self.send_header("Content-Length", str(len(body)))
            self.send_header("Connection", "close")
            self.end_headers()
            self.wfile.write(body)
            lake.count("bytes", len(body))

        def do_GET(self):
            lake.count("requests")
            url = urllib.parse.urlsplit(self.path)
            qs = urllib.parse.parse_qs(url.query)
            if url.path == "/token":
                lake.count("tokens")
                return self._send(200, json.dumps(
                    {"access_token": "bench", "expires_in": 3600}).encode())
            if url.path == "/split":
                doc = qs["filter"][0].strip("()")
                return self._send(200, json.dumps(
                    [f"{doc} and chunk eq '{i}'" for i in range(N_CHUNKS)]).encode())
            if url.path == "/list":
                chunk = int(_CHUNK_RE.search(qs["filter"][0]).group(1))
                with lake._lock:
                    ids = list(lake.objects)
                recs = [{"dl_id": oid, "dl_instance_count": 1}
                        for i, oid in enumerate(ids) if i % N_CHUNKS == chunk]
                header = {"_count": len(recs), "_links": [{"rel": "self", "href": self.path}]}
                return self._send(200, json.dumps([header] + recs).encode())
            if url.path.startswith("/object/"):
                oid = urllib.parse.unquote(url.path[len("/object/"):])
                payload = lake.objects.get(oid)
                if payload is None:
                    return self._send(404, b"no such object")
                if lake.should_fail(oid):
                    lake.count("retries")
                    return self._send(503, b"busy")
                return self._send(200, payload)
            return self._send(404, b"no route")

    return Handler
