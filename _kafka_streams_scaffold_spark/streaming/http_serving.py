"""Interactive-query HTTP tier: the reference's only user-facing query
surface, re-expressed over the Spark serving stores.

Reference routes (Javalin):

- ``GET /wordcount/{key}``  -> ``{"fox":1}``
  (``WordCountService.java:40``, handler ``:88-108``; exact body
  asserted at ``WordCountServiceTests.java:70-87``)
- ``GET /purchases/{key}``  -> ``{"42-00007":{"count":2,"total":9}}``
  (``PurchasesService.java:47``, range ``key+"-00000"``..``key+"-99999"``
  at ``:113``, map-merge ``:117-120``)
- ``GET /metadata`` and ``GET /metadata/{store}`` -> host -> stores map
  (``MetadataService.java:31-34``, ``:48-60``)

What does NOT carry over, by design (ARCHITECTURE.md): key->instance
routing and scatter-gather (``WordCountService.java:110-112``,
``PurchasesService.java:58-94``). Spark is one logical engine over all
partitions, so every key is local and the metadata map has exactly one
host entry; the reference's HTTP-redirect and provenance-header loop
guard have nothing to route.

Transport is stdlib ``http.server`` (threaded): the tier is a thin
JSON shim over ``MemoryStore`` / ``ParquetChangelogStore``; anything
heavier would imply the server does query work, which it must not —
reads are dict lookups / pre-compacted parquet reads.

Store choice: ``ParquetChangelogStore`` (via ``SparkStoreAdapter``)
is the DEFAULT for anything beyond demo keyspaces — it never holds
the keyspace in driver memory and compacts on read/schedule.
``MemoryStore`` is the interactive/demo tier only and enforces its
own ``max_keys`` bound (it collect()s every micro-batch into the
driver).
"""

from __future__ import annotations

import json
import math
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable

from .. import pinning

PAD = 5  # zero-padding of the product half of the compound key


class SparkStoreAdapter:
    """Gives ``ParquetChangelogStore`` the session-free ``get`` /
    ``range_scan`` surface the HTTP handlers expect (the store's own
    methods take the SparkSession per call)."""

    def __init__(self, store, spark):
        self._store = store
        self._spark = spark

    def get(self, *key):
        return self._store.get(self._spark, *key)

    def range_scan(self, lo, hi, key_col=None):
        return self._store.range_scan(self._spark, lo, hi, key_col)


def _compact(obj) -> bytes:
    # Javalin/Jackson emit compact JSON ({"fox":1}); match byte-for-byte.
    return json.dumps(obj, separators=(",", ":")).encode()


class InteractiveQueryServer:
    """One instance serves every bound store (the reference binds all
    services onto one Javalin server per app instance)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._host = host
        self._port = port
        self._point: dict[str, Callable[[str], dict]] = {}
        self._range: dict[str, Callable[[str], dict]] = {}
        self._stores: list[str] = []
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- bindings ----------------------------------------------------------

    def bind_point(
        self,
        path: str,
        store,
        key_col: str,
        value_col: str,
        store_name: str | None = None,
    ) -> None:
        """``GET /{path}/{key}`` -> ``{key: value}`` (Q1). Missing key
        serves ``{key: null}``, mirroring the reference's
        ``Collections.singletonMap(key, value)`` with a null value
        (``WordCountService.java:96-107``)."""

        def handler(key: str) -> dict:
            row = store.get(key)
            return {key: None if row is None else row[value_col]}

        self._point[path] = handler
        self._stores.append(store_name or path)

    def bind_range(
        self,
        path: str,
        store,
        key_col: str,
        fields: dict[str, str],
        store_name: str | None = None,
    ) -> None:
        """``GET /{path}/{key}`` -> map of compound key -> value object
        (Q2): scans ``key-00000``..``key-99999`` like
        ``PurchasesService.range`` and merges into one JSON object.
        ``fields`` maps JSON field name -> store column, so the wire
        shape can keep the reference's POJO names (``CountAndTotal``:
        ``count``/``total``) over differently-named columns."""

        def handler(key: str) -> dict:
            rows = store.range_scan(
                f"{key}-{'0' * PAD}", f"{key}-{'9' * PAD}", key_col
            )
            return {
                str(r[key_col]): {j: r[c] for j, c in fields.items()}
                for r in rows
            }

        self._range[path] = handler
        self._stores.append(store_name or path)

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> int:
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test output
                pass

            def do_GET(self):
                parts = [p for p in self.path.split("/") if p]
                status = 200
                try:
                    body = outer._route(parts)
                except KeyError:
                    self.send_response(404)
                    self.end_headers()
                    return
                except Exception as e:  # noqa: BLE001 — surface, don't drop
                    # Spark analysis/runtime failures must come back as a
                    # JSON 500, not a dropped connection + server traceback.
                    status = 500
                    body = {"error": f"{type(e).__name__}: {e}"}
                payload = _compact(body)
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

        self._httpd = ThreadingHTTPServer((self._host, self._port), Handler)
        self._port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self._port

    def stop(self) -> None:
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

    @property
    def address(self) -> str:
        return f"{self._host}:{self._port}"

    # -- routing -----------------------------------------------------------

    def _route(self, parts: list[str]):
        if parts and parts[0] == "metadata":
            # Q5: one logical host owning every store (vs the
            # reference's host -> stores map over N instances).
            if len(parts) == 1:
                return {self.address: sorted(self._stores)}
            if parts[1] in self._stores:
                return {self.address: [parts[1]]}
            raise KeyError(parts[1])
        if len(parts) == 2 and parts[0] in self._point:
            return self._point[parts[0]](parts[1])
        if len(parts) == 2 and parts[0] in self._range:
            return self._range[parts[0]](parts[1])
        raise KeyError("/".join(parts))


class RegistryQueryService:
    """``GET /query`` -> sorted query names; ``GET /query/{name}`` ->
    ``{"rows": [...], "truncated": bool}`` — the whole analytics
    registry exposed as an interactive HTTP surface (the natural
    extension of the reference's per-store endpoints once the engine
    has 150 queries instead of 2 stores).

    The row cap is load-bearing: the HTTP tier must never become the
    place query-sized data is materialized, so results collect at
    most ``max_rows`` (LIMIT pushed into the plan — Spark executes a
    CollectLimit, not a full materialize-then-truncate) and report
    ``truncated`` so callers know to go to the batch path. Values are
    JSON-stringified with the same canonicalization the oracle
    harness uses for floats."""

    def __init__(self, spark, sf_dir: str, max_rows: int = 100):
        from .. import registry

        self._spark = spark
        self._sf_dir = sf_dir
        self._max_rows = max_rows
        self._queries = registry.queries()

    def names(self) -> list[str]:
        return sorted(self._queries)

    def run(self, name: str) -> dict:
        if name not in self._queries:
            raise KeyError(name)
        # One pin scope per request: its pins are released once the
        # rows are collected. A handler thread starts in a fresh
        # context, so concurrent requests never share or release each
        # other's pins (each builds its own shared pins).
        with pinning.scope():
            df = self._queries[name](self._spark, self._sf_dir)
            rows = df.limit(self._max_rows + 1).collect()
        truncated = len(rows) > self._max_rows

        def jsonable(v):
            if isinstance(v, float):
                # json.dumps would emit non-standard NaN/Infinity
                # tokens (possible from e.g. zero-variance corr);
                # canonicalize non-finite floats to null.
                return v if math.isfinite(v) else None
            if v is None or isinstance(v, (bool, int, str)):
                return v
            if isinstance(v, (list, tuple)):
                return [jsonable(x) for x in v]
            if isinstance(v, dict):
                return {k: jsonable(x) for k, x in v.items()}
            return str(v)  # timestamps, dates, Decimals

        return {
            "rows": [
                {k: jsonable(v) for k, v in r.asDict(recursive=True).items()}
                for r in rows[: self._max_rows]
            ],
            "truncated": truncated,
        }

    def bind(self, server: "InteractiveQueryServer") -> None:
        server._point["query"] = self.run
        server._stores.append("query")
        # list endpoint: /query with no name
        orig_route = server._route

        def route(parts):
            if parts == ["query"]:
                return {"queries": self.names()}
            return orig_route(parts)

        server._route = route
