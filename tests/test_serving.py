"""HTTP gateway parity: the /api/search and /api/suggest routes must
return exactly what the underlying index calls return, with form input
percent-decoded the way the reference gateway does
(src/Search_Engine_Server.cpp:44-77, src/Utils.cpp:5-28)."""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

import pytest

from searchenginer_spark.operators.suggest import suggest
from searchenginer_spark.plans.build_index import build_index, open_index
from searchenginer_spark.serving import SearchServer, decode_form, url_decode
from searchenginer_spark.sources.corpus import build_docs


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("srv") / "idx")
    build_index(
        build_docs(spark, 150, seed=7), root, docs_per_part=64,
        with_positions=True,  # the grammar test sends a phrase clause
    )
    srv = SearchServer(spark, root, port=0).start()
    yield srv
    srv.shutdown()


def _get(srv, path):
    with urllib.request.urlopen(
        f"http://127.0.0.1:{srv.port}{path}", timeout=120
    ) as r:
        return r.status, json.loads(r.read())


def _post(srv, path, body, ctype):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=body.encode(),
        headers={"Content-Type": ctype},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.status, json.loads(r.read())


def test_search_route_matches_direct_call(server):
    want = [
        {"doc_id": r["doc_id"], "score": r["score"]}
        for r in server.idx.search_query("int return", k=5).collect()
    ]
    assert want, "fixture corpus must hit"
    q = urllib.parse.quote_plus("int return")
    status, got = _get(server, f"/api/search?query={q}&k=5")
    assert status == 200
    assert got["query"] == "int return" and got["k"] == 5
    assert got["results"] == want

    # POST form body — the reference's input shape (percent + '+')
    status, got2 = _post(
        server, "/api/search", f"query=int+return&k=5",
        "application/x-www-form-urlencoded",
    )
    assert status == 200 and got2["results"] == want

    # POST JSON
    status, got3 = _post(
        server, "/api/search", json.dumps({"query": "int return", "k": 5}),
        "application/json",
    )
    assert status == 200 and got3["results"] == want


def test_search_route_grammar_through_percent_encoding(server):
    query = '"int return" -float'
    want = [
        {"doc_id": r["doc_id"], "score": r["score"]}
        for r in server.idx.search_query(query, k=5).collect()
    ]
    status, got = _get(
        server, "/api/search?query=" + urllib.parse.quote_plus(query) + "&k=5"
    )
    assert status == 200
    assert got["query"] == query  # %22/%20/+ all decoded
    assert got["results"] == want


def test_suggest_route_matches_direct_call(server):
    want = [
        {"term": r["term"], "sim": r["sim"]}
        for r in suggest(server.idx.term_dict, "retrun", k=5).collect()
    ]
    status, got = _get(server, "/api/suggest?word=retrun&k=5")
    assert status == 200
    assert got["word"] == "retrun" and got["suggestions"] == want


def test_gateway_k_validation(server):
    """r6 fix: malformed k is a 400, not a 500; k=0 rejected explicitly."""
    for bad in ("abc", "0", "-3"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server, f"/api/search?query=int&k={bad}")
        assert e.value.code == 400, bad
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/api/search", "not json", "application/json")
    assert e.value.code == 400
    # mode is 'and' or 'or', never silently read as 'or'
    for bad in ("AND", "xor"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server, f"/api/search?query=int&mode={bad}")
        assert e.value.code == 400, bad
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(
                server, "/api/search_batch",
                json.dumps({"queries": {"a": "int"}, "mode": bad}),
                "application/json",
            )
        assert e.value.code == 400, bad
    # malformed JSON in a form-encoded queries field is the client's error
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(
            server, "/api/search_batch", "queries=%7Bnot+json&k=3",
            "application/x-www-form-urlencoded",
        )
    assert e.value.code == 400


@pytest.mark.parametrize(
    "bad,msg",
    [
        ('-"a b"', "negated phrase"),
        ("x~3", "fuzzy distance"),
        ("int f:[100]", "range facet"),
        ("int /[/", "invalid regexp /[/"),
        ("int lang:de", "facet clauses need a docs table"),
    ],
)
def test_gateway_query_grammar_errors(server, bad, msg):
    """A query the grammar rejects, an uncompilable /regexp/ and a facet
    clause (the gateway has no docs table) are 400s carrying the reason,
    not 500s; in a batch the message names the offending query id."""
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/search?query=" + urllib.parse.quote_plus(bad))
    assert e.value.code == 400
    assert msg in json.loads(e.value.read())["error"]
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(
            server, "/api/search_batch",
            json.dumps({"queries": {"ok": "int", "culprit": bad}}),
            "application/json",
        )
    assert e.value.code == 400
    err = json.loads(e.value.read())["error"]
    assert "'culprit'" in err and msg in err


def test_gateway_errors(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/search?k=5")
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/nope")
    assert e.value.code == 404


def test_url_decode_parity(spark):
    """Columnar url_decode == the driver-side form decode == stdlib
    unquote_plus on the shapes the reference's Utils.cpp handles:
    '+' -> space, %XX bytes, multi-byte UTF-8, literal %2B."""
    cases = ["a+b", "a%2Bb", "int%20return", "%E4%B8%AD%E6%96%87",
             "plain", "q%3D1%26r%3D2"]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = {
        r["s"]: r["d"]
        for r in df.select("s", url_decode("s").alias("d")).collect()
    }
    for c in cases:
        want = urllib.parse.unquote_plus(c)
        assert got[c] == want, c
        assert decode_form(f"x={c}")["x"] == want, c


def test_search_batch_route(server):
    qs = {"a": "int return", "b": "float", "c": "zzzznohit"}
    want_rows = server.idx.search_query_batch(qs, k=4).collect()
    want: dict[str, list] = {i: [] for i in qs}
    for r in want_rows:
        want[r["query_id"]].append({"doc_id": r["doc_id"], "score": r["score"]})
    status, got = _post(
        server, "/api/search_batch",
        json.dumps({"queries": qs, "k": 4}), "application/json",
    )
    assert status == 200 and got["k"] == 4
    assert got["results"] == want
    assert got["results"]["c"] == []  # hitless id still present
    # form-encoded variant carries the queries object as a JSON field
    body = "queries=" + urllib.parse.quote_plus(json.dumps(qs)) + "&k=4"
    status, got2 = _post(
        server, "/api/search_batch", body, "application/x-www-form-urlencoded"
    )
    assert status == 200 and got2["results"] == want
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/api/search_batch", "{}", "application/json")
    assert e.value.code == 400


def test_warm_routes_make_no_jvm_call(server, spark, monkeypatch):
    """Once warm, a search and a suggest on an index root on the local
    filesystem make no py4j call: the dict_version check reads the marker
    in this process, so a handler thread (a new one per request) never
    opens its own JVM connection. The spy is live: a JVM call passes it."""
    assert _get(server, "/api/search?query=int&k=5")[0] == 200
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def spy(*args, **kwargs):
        calls.append(args[0][:20] if args else None)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", spy)
    for path in ("/api/search?query=int+return&k=5", "/api/suggest?word=retrun&k=5"):
        assert _get(server, path)[0] == 200
    assert calls == []
    spark.sparkContext._jsc.sc().applicationId()
    assert calls


def _call(srv, path, body=None, ctype=None):
    """(status, JSON reply) of one request; an HTTP error is a reply too."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=None if body is None else body.encode(),
        headers={} if ctype is None else {"Content-Type": ctype},
        method="GET" if body is None else "POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_gateway_concurrent_and_malformed_requests(server):
    """8 clients at once mix the three routes with malformed requests (a
    bad k, malformed JSON, an unknown route) against one handle shared with
    no lock: every good reply is a 200 equal to the direct call, every bad
    one its 400 or 404."""
    from concurrent.futures import ThreadPoolExecutor

    idx = server.idx
    queries = ["int return", "value", '"int return" -float', "ret* value"]
    words = ["retrun", "flaot", "int"]
    batch = {"a": "int return", "b": "value", "c": "zzzznohit"}
    want_batch: dict[str, list] = {i: [] for i in batch}
    for r in idx.search_query_batch(batch, k=4).collect():
        want_batch[r["query_id"]].append({"doc_id": r["doc_id"], "score": r["score"]})
    good = [
        (
            f"/api/search?query={urllib.parse.quote_plus(q)}&k=5", None, None,
            {"query": q, "k": 5, "results": [
                {"doc_id": d, "score": s} for d, s in idx.search_query_rows(q, k=5, mode="and")
            ]},
        )
        for q in queries
    ] + [
        (
            f"/api/suggest?word={w}&k=5", None, None,
            {"word": w, "suggestions": [
                {"term": t, "sim": s} for t, s in idx.suggest_rows(w, k=5)
            ]},
        )
        for w in words
    ] + [
        (
            "/api/search_batch", json.dumps({"queries": batch, "k": 4}),
            "application/json", {"k": 4, "results": want_batch},
        )
    ]
    assert all(e.get("results") or e.get("suggestions") for *_, e in good)
    bad = [
        ("/api/search?query=int&k=abc", None, None, 400),
        ("/api/suggest?word=int&k=0", None, None, 400),
        ("/api/search", "not json", "application/json", 400),
        ("/api/search_batch", '{"queries": ', "application/json", 400),
        ("/api/nope?query=int", None, None, 404),
    ]
    mix = [("good", g) for g in good] + [("bad", b) for b in bad]

    def client(c: int) -> list:
        out = []
        for i in range(3 * len(mix)):
            kind, (path, body, ctype, want) = mix[(c + 5 * i) % len(mix)]
            out.append((kind, path, want, _call(server, path, body, ctype)))
        return out

    with ThreadPoolExecutor(8) as pool:
        replies = [r for rs in pool.map(client, range(8)) for r in rs]
    assert len(replies) == 8 * 3 * len(mix)
    for kind, path, want, (status, got) in replies:
        if kind == "good":
            assert (status, got) == (200, want), path
        else:
            assert status == want and "error" in got, (path, status, got)
