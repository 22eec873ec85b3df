"""Each correctness check passes on the right answer and fails when
fed a wrong one."""

import datetime as dt
import json
from decimal import Decimal

import pytest
from tests.oracle import _canon_rows

from perfbench import analytics, ingest, serve


class FixedOracle:
    def __init__(self, status, body):
        self.status, self.body = status, body

    def answer(self, req):
        return self.status, self.body


def _result(rid, status, body):
    return {"id": rid, "status": status, "body": json.dumps(body).encode()}


def test_serve_check_rejects_a_wrong_body_or_status():
    plan = [{"id": 0, "method": "GET", "path": "/stats", "body": None, "kind": "stats"}]
    body = {"total_products": 10, "average_price": 1.25}
    assert serve.check([_result(0, 200, body)], plan, FixedOracle(200, body)) == {0: True}
    wrong = {**body, "average_price": 1.26}
    assert serve.check([_result(0, 200, body)], plan, FixedOracle(200, wrong)) == {0: False}
    assert serve.check([_result(0, 500, body)], plan, FixedOracle(200, body)) == {0: False}


def test_serve_failed_reply_counts_as_infinitely_late():
    rs = [{"id": i, "status": 200, "due": 0.0, "done": 0.01, "sent": 0.0} for i in range(20)]
    ok = {i: True for i in range(20)}
    assert serve.phase_tail(rs, ok)[1] == pytest.approx(10.0)
    ok[3] = ok[7] = ok[11] = ok[13] = ok[17] = ok[19] = ok[5] = ok[1] = ok[2] = ok[4] = ok[6] = False
    assert serve.phase_tail(rs, ok)[1] == float("inf")


def test_analytics_compare_rejects_a_wrong_value():
    cols = ["k", "v"]
    rows = [(1, Decimal("2.50")), (2, dt.date(2024, 1, 1))]
    assert analytics.compare_rows(cols, rows, ["v", "k"], [(2.5, 1), ("2024-01-01", 2)], _canon_rows) == []
    assert analytics.compare_rows(cols, rows, cols, [(1, 2.51), (2, dt.date(2024, 1, 1))], _canon_rows)
    assert analytics.compare_rows(cols, rows, cols, rows[:1], _canon_rows)
    assert analytics.compare_rows(cols, rows, ["k", "w"], rows, _canon_rows)


def test_ingest_reads_reject_a_wrong_price_or_missing_name(monkeypatch):
    monkeypatch.setattr(ingest, "point_read", lambda spark, sink, c, s, code: ["12.90"])
    monkeypatch.setattr(ingest, "fuzzy_read", lambda spark, index, probe: ["kala bo rute"])
    stream = type("S", (), {"sink": "sink", "index": "index"})()
    read = {"probe": "kala b rute", "name": "kala bo rute", "key": ("c", "s", "1"), "price": "12.90"}
    assert [r["ok"] for r in ingest.timed_reads(None, stream, [read])] == [True]
    wrong_price = {**read, "price": "12.91"}
    missing_name = {**read, "name": "other name"}
    bad = ingest.timed_reads(None, stream, [wrong_price, missing_name])
    assert [r["ok"] for r in bad] == [False, False]


def test_ingest_sink_checks_reject_unabsorbed_replays():
    # 2 timed rounds of 2,000 source rows, 1,500 of them new in each
    absorbed, checks = ingest.sink_checks(5000, 5000, 5000, 3000, 4000)
    assert absorbed == 0.25 and all(checks.values())
    # the sink kept a replayed file's 250 rows a second time
    absorbed, checks = ingest.sink_checks(5250, 5000, 5000, 3250, 4000)
    assert absorbed < 0.25 and not any(checks.values())
