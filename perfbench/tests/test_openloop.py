"""Open-loop accounting: latency runs from each request's due time, so
a server slower than the offered rate shows a growing backlog."""

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from perfbench import serve

SERVICE_S = 0.05


@pytest.fixture()
def slow_server():
    lock = threading.Lock()  # one request at a time: capacity 20/s

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_GET(self):
            with lock:
                time.sleep(SERVICE_S)
            self.send_response(200)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"{}")

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv.server_address[1]
    srv.shutdown()
    srv.server_close()
    t.join(timeout=5)
    assert not t.is_alive()


def _plan(rate: float, n: int) -> list[dict]:
    reqs = [{"kind": "stats", "method": "GET", "path": "/stats", "body": None}] * n
    serve_phases = [
        {**r, "id": i, "phase": 0, "rate": rate, "due": i / rate} for i, r in enumerate(reqs)
    ]
    return serve_phases


def test_requests_are_sent_at_their_due_time_below_capacity(slow_server):
    res = serve.run_load(slow_server, _plan(10.0, 20), senders=4, tagged=False)
    assert [r["status"] for r in res] == [200] * 20
    late = [r["sent"] - r["due"] for r in res]
    assert max(late) < 0.05
    # below capacity, latency from due time is about one service time
    assert serve.percentile([serve.latency_ms(r) for r in res], 50) < 4 * SERVICE_S * 1000


def test_latency_from_due_time_counts_the_backlog(slow_server):
    n, rate = 30, 60.0  # offered 60/s against capacity 20/s
    res = serve.run_load(slow_server, _plan(rate, n), senders=4, tagged=False)
    lat = [serve.latency_ms(r) for r in res]
    # the last request is due at (n-1)/rate but can finish no earlier
    # than n service times after the start
    assert lat[-1] >= (n * SERVICE_S - (n - 1) / rate) * 1000 * 0.9
    # service time alone (done - sent) would hide most of that wait
    assert lat[-1] > (res[-1]["done"] - res[-1]["sent"]) * 1000 + 100
    assert serve.backlog_growth_ms(res) > 0


def test_saturation_rate_is_the_servers_capacity(slow_server):
    n = 20
    plan = [{**r, "rate": None, "due": 0.0} for r in _plan(1.0, n)]
    res = serve.run_load(slow_server, plan, senders=4, tagged=False)
    assert [r["status"] for r in res] == [200] * n
    # one request at a time: at most 1 / SERVICE_S, less only by the
    # round trips around the lock
    assert 0.7 / SERVICE_S < serve.saturation_rate(res, senders=4) <= 1.05 / SERVICE_S
