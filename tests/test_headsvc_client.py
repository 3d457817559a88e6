"""HttpObjectClient under transport failures: a head service that
handles a PUT and then drops the connection without replying. The
client must retry idempotent requests, settle a conditional PUT by
re-reading the key, and give up after a bounded number of attempts."""

import http.client
import threading
from http.server import ThreadingHTTPServer

import pytest

from zef_spark.graph import headsvc
from zef_spark.graph.headsvc import HttpObjectClient, _Handler, _Store


@pytest.fixture
def flaky():
    """(client, store, plan): each PUT pops one action off ``plan`` —
    'store' (apply it, then drop the connection), 'rival' (store other
    bytes under the key, then drop) or 'drop' (drop untouched); an
    empty plan serves normally. ``plan.calls`` counts PUTs."""
    store = _Store()
    plan: list = []
    calls = []

    class Flaky(_Handler):
        def do_PUT(self):
            calls.append(self.path)
            if not plan:
                return _Handler.do_PUT(self)
            action = plan.pop(0)
            key = self.path[len("/obj/"):]
            data = self.rfile.read(int(self.headers["Content-Length"]))
            if action == "store":
                store.put(key, data,
                          self.headers.get("If-None-Match") == "*")
            elif action == "rival":
                store.put(key, b"theirs", False)
            self.close_connection = True   # no status line at all

    Flaky.store = store
    srv = ThreadingHTTPServer(("127.0.0.1", 0), Flaky)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    client = HttpObjectClient(
        f"http://127.0.0.1:{srv.server_address[1]}", timeout=5.0)
    yield client, store, plan, calls
    srv.shutdown()
    srv.server_close()


def test_conditional_put_that_landed_reports_success(flaky):
    client, store, plan, calls = flaky
    plan.append("store")
    assert client.put("txlog/_commits/7.json", b"mine",
                      if_none_match=True) is True
    assert store.get("txlog/_commits/7.json") == b"mine"
    assert len(calls) == 1     # the re-read settled it: no second PUT


def test_conditional_put_that_never_landed_is_sent_again(flaky):
    client, store, plan, calls = flaky
    plan.append("drop")
    assert client.put("k", b"mine", if_none_match=True) is True
    assert store.get("k") == b"mine"
    assert len(calls) == 2


def test_conditional_put_reports_a_lost_race(flaky):
    client, store, plan, calls = flaky
    plan.append("rival")
    assert client.put("k", b"mine", if_none_match=True) is False
    assert store.get("k") == b"theirs"
    assert len(calls) == 1


def test_unconditional_put_simply_retries(flaky):
    client, store, plan, calls = flaky
    plan.extend(["store", "drop"])
    assert client.put("txlog/seg-1/a.parquet", b"blob") is True
    assert store.get("txlog/seg-1/a.parquet") == b"blob"
    assert len(calls) == 3


def test_retries_are_bounded(flaky):
    client, _store, plan, calls = flaky
    plan.extend(["drop"] * 50)
    with pytest.raises((ConnectionError, http.client.HTTPException)):
        client.put("k", b"mine")
    assert len(calls) == headsvc._ATTEMPTS
