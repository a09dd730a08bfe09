"""Thin HTTP/JSON gateway over a warm index — the Spark-side analog of
the reference's wfrest server (``src/Search_Engine_Server.cpp:44-77``,
routes ``/api/search`` and ``/api/suggest``; ``src/main.cpp:6-7`` port
wiring) and of its form-input percent-decoding (``src/Utils.cpp:5-28``).

The reference fronts native engines with an HTTP worker pool that
fans out RPCs to services which load their indexes into memory at
startup (srpc/PageSearch/ReadPage.cpp, srpc/WordSearch/ReadIndist.cpp).
Here the driver IS the gateway: a stdlib ThreadingHTTPServer whose
handlers run against an ``open_index()`` handle, and for a small index
that handle plays the in-memory services' part.

Per-request cost, on an index whose summed df is at most
``Bm25CompressedIndex.DRIVER_SCORE_MAX_POSTINGS`` postings: after the
first request has filled the handle's driver dict cache and loaded its
postings decoded flat per term (``operators/postings.py::decode_table``),
``/api/search`` (``search_query_rows``) and ``/api/suggest``
(``suggest_rows``) run NO Spark job — a term lookup, the query's terms
scored on the driver straight from the decoded arrays, or a numpy
edit-distance rank over the dictionary grouped by length
(``operators/suggest.py::CodeGroups``, built once per snapshot); what is
left per request is one ``dict_version`` read (a local file read for a
root on the local filesystem: no py4j call, so a handler thread never
opens its own JVM connection; elsewhere three py4j calls, ~0.6 ms).
Measured one HTTP request at a time on a 4-vCPU host (the benchmark's
seed-1 index: 1000 docs with positions, 18,828 terms; local[4]): search
1.9 ms mean (1.6 ms median) and suggest 2.1 ms mean (1.9 ms median),
against 110 ms and 92 ms when each ran one Spark job. On a larger index a query whose own terms hold at most that
many postings is one narrow filtered scan job, scored on the driver;
larger or faceted queries pay the distributed plan's one-or-two jobs (~0.3-0.5 s
scheduling floor on local mode, see PLANS.md §6), and suggest without
a dict cache runs the Spark operator. Bulk callers should still use
``/api/search_batch``: one dictionary probe and one scoring pass per
query SET — on the small index above a driver pass with no Spark job,
on a larger one (or with facets) one distributed job.

Concurrent single requests are not coalesced into batches: on the
in-memory path there is no per-request job left whose cost a batch
could share.

Request shapes (both routes take GET query strings or POST bodies in
``application/x-www-form-urlencoded`` or JSON):

* ``/api/search``: ``query`` (the grammar: phrases, +/-, prefixes,
  fuzzy, regexps...; no facet clauses, the gateway has no docs table),
  optional ``k`` and ``mode`` — returns
  ``{"query", "k", "results": [{"doc_id", "score"}...]}``. A query the
  grammar rejects, or one with a facet clause, is a 400 with the reason
  (in a batch, naming the query id).
* ``/api/suggest``: ``word``, optional ``k`` — returns
  ``{"word", "suggestions": [{"term", "sim"}...]}``.
* ``/api/search_batch`` (POST JSON): ``{"queries": {id: query, ...},
  "k", "mode"}`` — the whole set in one ``search_query_batch`` call: no
  Spark job on a small index with no facet clause, else ONE job (the
  measured ~10x-throughput serving shape, PLANS.md §6); returns
  ``{"k", "results": {id: [{"doc_id", "score"}...]}}`` with an entry
  for every id, hitless ids included.
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from .functions.queryparse import parse_query


def url_decode(col) -> Column:
    """Columnar percent-decoding of form-encoded input ('+' -> space,
    %XX -> UTF-8 byte) — the vectorized analog of the reference's
    ``Utils.cpp:5-28`` urlDecode (and of :func:`urllib.parse.
    unquote_plus`); JVM-side via Spark's builtin url_decode."""
    return F.url_decode(col)


def decode_form(body: str) -> dict[str, str]:
    """Driver-side form decoding for gateway input: last-wins flat dict
    of percent-decoded key/value pairs."""
    return {
        k: v[-1]
        for k, v in urllib.parse.parse_qs(
            body, keep_blank_values=True, strict_parsing=False
        ).items()
    }


class SearchServer:
    """HTTP gateway bound to one index root. ``port=0`` binds an
    ephemeral port (read it back from ``.port``)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        host: str = "127.0.0.1",
        port: int = 0,
        default_k: int = 10,
    ):
        from .plans.build_index import open_index

        self.spark = spark
        self.idx = open_index(spark, root)
        self.default_k = default_k
        # one request at a time against the shared index handle: its lazy
        # driver dict cache, resident postings and dict_version
        # re-snapshot are check-then-act mutations, unsafe under
        # concurrent handler threads. On a small index a search or suggest
        # holds it for driver-side work only, no Spark job (see the module
        # docstring); bulk throughput comes from /api/search_batch (one
        # scoring pass per query SET) — same trade the reference's worker
        # pool makes per engine connection.
        self._lock = threading.Lock()
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # keep test output quiet
                pass

            def _reply(self, code: int, payload: dict) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _params(self) -> dict[str, str]:
                parsed = urllib.parse.urlsplit(self.path)
                params = decode_form(parsed.query)
                length = int(self.headers.get("Content-Length") or 0)
                if length:
                    raw = self.rfile.read(length)
                    ctype = (self.headers.get("Content-Type") or "").split(";")[0]
                    if ctype == "application/json":
                        try:
                            body = json.loads(raw)
                        except ValueError as e:
                            raise _BadRequest(f"malformed JSON body: {e}") from None
                        if not isinstance(body, dict):
                            raise _BadRequest("JSON body must be an object")
                        params.update(body)  # values keep type
                    else:  # the reference's form-body shape (Utils.cpp)
                        params.update(decode_form(raw.decode()))
                return params

            def _route(self) -> None:
                path = urllib.parse.urlsplit(self.path).path
                try:
                    params = self._params()
                    if path == "/api/search":
                        with server._lock:
                            self._reply(200, server.api_search(params))
                    elif path == "/api/search_batch":
                        with server._lock:
                            self._reply(200, server.api_search_batch(params))
                    elif path == "/api/suggest":
                        with server._lock:
                            self._reply(200, server.api_suggest(params))
                    else:
                        self._reply(404, {"error": f"no route {path}"})
                except _BadRequest as e:
                    self._reply(400, {"error": str(e)})
                except Exception as e:  # surface, don't kill the thread
                    self._reply(500, {"error": f"{type(e).__name__}: {e}"})

            do_GET = do_POST = _route

        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    # --- route implementations (also callable directly in tests)

    def _k(self, params: dict) -> int:
        v = params.get("k")
        if v is None or v == "":
            return self.default_k
        try:
            k = int(v)
        except (TypeError, ValueError):
            raise _BadRequest(f"'k' must be an integer, got {v!r}") from None
        if k < 1:
            raise _BadRequest(f"'k' must be >= 1, got {k}")
        return k

    @staticmethod
    def _mode(params: dict) -> str:
        mode = params.get("mode") or "and"
        if mode not in ("and", "or"):
            raise _BadRequest(f"'mode' must be 'and' or 'or', got {mode!r}")
        return mode

    @staticmethod
    def _check_query(query: str, where: str = "") -> None:
        """A query the grammar rejects (functions/queryparse) or that holds
        a facet clause (the gateway has no docs table) is the client's
        error."""
        try:
            spec = parse_query(query)
        except ValueError as e:
            raise _BadRequest(f"{where}{e}") from None
        if spec.facets:
            raise _BadRequest(f"{where}facet clauses need a docs table; the gateway has none")

    def api_search(self, params: dict[str, str]) -> dict:
        query = params.get("query") or params.get("q")
        if not query:
            raise _BadRequest("missing 'query'")
        k = self._k(params)
        mode = self._mode(params)
        self._check_query(query)
        rows = self.idx.search_query_rows(query, k=k, mode=mode)
        return {
            "query": query,
            "k": k,
            "results": [{"doc_id": d, "score": s} for d, s in rows],
        }

    def api_search_batch(self, params: dict) -> dict:
        queries = params.get("queries")
        if isinstance(queries, str):  # form-encoded: JSON-valued field
            try:
                queries = json.loads(queries)
            except ValueError as e:
                raise _BadRequest(f"malformed JSON in 'queries': {e}") from None
        if not isinstance(queries, dict) or not queries:
            raise _BadRequest("missing 'queries' (object of id -> query)")
        k = self._k(params)
        mode = self._mode(params)
        qs = {str(i): str(q) for i, q in queries.items()}
        for i, q in qs.items():
            self._check_query(q, f"query {i!r}: ")
        rows = self.idx.search_query_batch(qs, k=k, mode=mode).collect()
        results: dict[str, list] = {i: [] for i in qs}
        for r in rows:
            results[r["query_id"]].append(
                {"doc_id": r["doc_id"], "score": r["score"]}
            )
        return {"k": k, "results": results}

    def api_suggest(self, params: dict[str, str]) -> dict:
        word = params.get("word") or params.get("q")
        if not word:
            raise _BadRequest("missing 'word'")
        k = self._k(params)
        # the handle's version-watched dictionary — a privately-held
        # parquet read would serve a stale one forever after incremental
        # folds bump dict_version
        rows = self.idx.suggest_rows(word, k=k)
        return {
            "word": word,
            "suggestions": [{"term": t, "sim": s} for t, s in rows],
        }

    # --- lifecycle

    def start(self) -> "SearchServer":
        """Serve on a daemon thread; returns self (port is bound)."""
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def serve_forever(self) -> None:
        self.httpd.serve_forever()

    def shutdown(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)


class _BadRequest(ValueError):
    pass
