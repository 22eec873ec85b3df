"""``serve``: an open-loop request mix over HTTP against
``server.serve_background``, the paper's user-facing path.

The tier (sf0.01, a tenth of sf0.1: at sf0.1 the handlers take
0.15-0.75 s each, and a reporting phase with enough requests below
saturation would not fit the benchmark's run-time budget) and
the requests are generated from the seed before the session starts.
Requests spread evenly over the nine REST routes and MCP tool calls
(an assumption: the reference publishes no traffic logs, so no route
is taken to be more popular than another); their barcodes, stores and
search terms follow seeded Zipf draws, so keys repeat the way a
popular catalogue's do. A scheduler hands each request
to a pool of at most ``nproc`` sender threads at its due time, and
latency is measured from the due time, so a stall also delays the
requests queued behind it. The run alternates two kinds of phase, each
with an exact share of every route, for at least ``--seconds``:
reporting phases, open loop at REPORT_RATE, which give the latency
percentiles (Harrell-Davis estimates over every reporting request, at
least six per route and ten beyond the p75; a p90 would need 100, and
that many more seconds per run do not fit the benchmark's run-time
budget when the box runs slow); and saturation phases, whose requests
are all due at once, so every sender keeps one request in flight. The
throughput counts a saturation phase's replies while every sender is
busy (from its first reply to the one after which fewer than ``nproc``
requests remain): the rate the server completes the mix at when
``nproc`` users wait on it. Alternating spreads both metrics over the
whole run, so neither rests on the few seconds in which a shared box
happened to run slow.

Every response is checked, after the timed region, against DuckDB's
answer for the same request over the same parquet files, built from
``mapping.domain_sql``.
"""

from __future__ import annotations

import http.client
import json
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal
from urllib.parse import quote

import numpy as np

from . import datagen
from .common import (
    dir_bytes,
    hd_quantile,
    median,
    percentile,
    tail_percentile,
)
from .metrics import ROUTES

SF = 0.01
# (route kind, share of requests): the same share for every route.
MIX = tuple((k, 1 / len(ROUTES)) for k in ROUTES)
ZIPF_S = 1.1
HISTORY_DAYS = (30, 90, 365)
# The reporting rate stays well below what the warmed server sustains
# (about 9 req/s with four in flight on a 4-core box), so its latency
# tracks service time rather than a backlog, which would magnify every
# change in the box's speed.
REPORT_RATE = 4.0  # requests/s
# Per pair of phases: two of each route at the reporting rate (4.5 s),
# then two of each with every sender busy (under 2 s; ramp-up and
# drain are left out of the count).
BLOCK_REPORT = 2 * len(ROUTES)
BLOCK_SATURATION = 2 * len(ROUTES)
MIN_BLOCKS = 3  # 54 reporting requests: six per route, ten beyond the p75
WARM_REQUESTS = 4 * len(ROUTES)


# ------------------------------------------------------------ inputs

def _zipf_order(n: int, rng: np.random.Generator, k: int) -> np.ndarray:
    """k indices into range(n), Zipf(s) over a seeded permutation."""
    weights = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    perm = rng.permutation(n)
    return perm[rng.choice(n, size=k, p=weights / weights.sum())]


def catalogue(tables: dict) -> dict:
    """What the request generator may draw from: barcodes and stores
    that exist, and each store's barcodes (for complete baskets)."""
    li = tables["lineitem"]
    parts = li.column("l_partkey").to_numpy()
    supps = li.column("l_suppkey").to_numpy()
    store_items: dict[int, list[int]] = {}
    for s, p in zip(supps.tolist(), parts.tolist()):
        store_items.setdefault(s, []).append(p)
    terms = list(datagen.ADJECTIVES) + list(datagen.NOUNS) + [
        f"{a} {b}" for a in datagen.ADJECTIVES for b in datagen.NOUNS
    ]
    return {
        "barcodes": sorted(set(parts.tolist())),
        "stores": sorted(store_items),
        "store_items": {s: sorted(set(v)) for s, v in store_items.items()},
        "terms": terms,
    }


def make_requests(seed: int, cat: dict, n: int, stream: int = 1) -> list[dict]:
    """n requests (method, path, body, kind) drawn from the seed; the
    warm-up draws from another stream than the measured schedule."""
    rng = np.random.default_rng([seed, stream])
    kinds = [k for k, _ in MIX]
    # Exact shares in one fixed shuffled order: every seed offers the
    # same sequence of routes (so heavy requests bunch up the same way),
    # and seeds differ in the keys they ask for.
    exact = [w * n for _, w in MIX]
    counts = [int(x) for x in exact]
    for i in sorted(range(len(MIX)), key=lambda i: counts[i] - exact[i])[: n - sum(counts)]:
        counts[i] += 1  # largest remainders first
    order = np.random.default_rng([stream, n])
    drawn = order.permutation(np.repeat(np.arange(len(kinds)), counts))
    barcodes = [cat["barcodes"][i] for i in _zipf_order(len(cat["barcodes"]), rng, n)]
    stores = [cat["stores"][i] for i in _zipf_order(len(cat["stores"]), rng, n)]
    terms = [cat["terms"][i] for i in _zipf_order(len(cat["terms"]), rng, n)]
    out = []
    for i, k in enumerate(drawn.tolist()):
        kind = kinds[k]
        b, s, t = barcodes[i], stores[i], terms[i]
        req = {"kind": kind, "method": "GET", "body": None}
        if kind == "search":
            req["path"] = f"/products?q={quote(t)}&limit=20"
        elif kind == "barcode":
            req["path"] = f"/products/barcode/{b}"
        elif kind == "history":
            days = HISTORY_DAYS[int(rng.integers(len(HISTORY_DAYS)))]
            req["path"] = f"/products/barcode/{b}/history?days={days}"
        elif kind == "lowest":
            req["path"] = f"/products/lowest-prices?limit={int(rng.choice([10, 20]))}"
        elif kind == "stats":
            req["path"] = "/stats"
        elif kind == "store_products":
            req["path"] = f"/supermarkets/{s}/products?limit=20"
        else:
            req["method"] = "POST"
            if kind == "mcp_search":
                tool, args = "search_product", {"term": t}
            elif kind == "mcp_compare":
                tool, args = "compare_results", {"barcode": str(b)}
            else:
                items = cat["store_items"][s]
                k_items = min(len(items), int(rng.integers(2, 4)))
                picked = rng.choice(len(items), size=k_items, replace=False)
                tool, args = "find_best_basket", {
                    "barcodes": [str(items[j]) for j in sorted(picked.tolist())]
                }
            req["path"] = f"/api/mcp/tools/{tool}"
            req["body"] = {"arguments": args}
        out.append(req)
    return out


def plan_for(seconds: float, seed: int, cat: dict) -> list[list[dict]]:
    """Reporting and saturation phases, alternating: each its own draw
    with the exact MIX, every request with its id, phase, offered rate
    (None: as fast as the senders go) and due time (s from the phase's
    start)."""
    blocks = max(MIN_BLOCKS, round(REPORT_RATE * seconds / BLOCK_REPORT))
    sizes = [(REPORT_RATE, BLOCK_REPORT), (None, BLOCK_SATURATION)] * blocks
    out, first = [], 0
    for phase, (rate, count) in enumerate(sizes):
        reqs = make_requests(seed, cat, count, stream=phase + 1)
        out.append([
            {**req, "id": first + j, "phase": phase, "rate": rate,
             "due": j / rate if rate else 0.0}
            for j, req in enumerate(reqs)
        ])
        first += count
    return out


# ------------------------------------------------------------ load

def _send(port: int, req: dict, t0: float, tag: str | None) -> dict:
    sent = time.perf_counter() - t0
    path = req["path"]
    if tag is not None:
        path += ("&" if "?" in path else "?") + f"_rid={tag}"
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        body = json.dumps(req["body"]).encode() if req["body"] is not None else None
        headers = {"Content-Type": "application/json"} if body else {}
        conn.request(req["method"], path, body=body, headers=headers)
        resp = conn.getresponse()
        status, data = resp.status, resp.read()
    except OSError as exc:
        status, data = 0, json.dumps({"error": repr(exc)}).encode()
    finally:
        conn.close()
    done = time.perf_counter() - t0
    return {"id": req["id"], "status": status, "body": data, "sent": sent, "done": done}


def run_load(port: int, plan: list[dict], senders: int, tagged: bool) -> list[dict]:
    """Open loop: submit each request at its due time; never wait for
    replies before sending the next."""
    results: list[dict] = []
    lock = threading.Lock()

    def task(req):
        r = _send(port, req, t0, str(req["id"]) if tagged else None)
        r.update(due=req["due"], phase=req["phase"], rate=req["rate"], kind=req["kind"])
        with lock:
            results.append(r)

    with ThreadPoolExecutor(max_workers=senders) as pool:
        t0 = time.perf_counter()
        futures = []
        for req in plan:
            delay = req["due"] - (time.perf_counter() - t0)
            if delay > 0:
                time.sleep(delay)
            futures.append(pool.submit(task, req))
        for f in futures:
            f.result()
    return sorted(results, key=lambda r: r["id"])


def latency_ms(r: dict) -> float:
    return (r["done"] - r["due"]) * 1000.0


def _latencies(rs: list[dict], correct: dict[int, bool] | None) -> list[float]:
    """Latency from due time; a failed or wrong reply counts as
    infinitely late."""
    return [
        latency_ms(r) if r["status"] == 200 and (correct is None or correct[r["id"]])
        else float("inf")
        for r in rs
    ]


def phase_tail(rs: list[dict], correct: dict[int, bool] | None = None) -> tuple[float, float]:
    """(percentile, latency) of requests by the ten-beyond rule."""
    lat = _latencies(rs, correct)
    p = tail_percentile(len(lat)) or 50.0
    return p, hd_quantile(lat, p)


def backlog_growth_ms(rs: list[dict]) -> float:
    """How much longer the last third of the requests waited for a
    sender than the first third: > 0 and rising means a growing
    backlog."""
    wait = [(r["sent"] - r["due"]) * 1000.0 for r in sorted(rs, key=lambda r: r["id"])]
    third = max(1, len(wait) // 3)
    return median(wait[-third:]) - median(wait[:third])


def saturation_rate(rs: list[dict], senders: int) -> float:
    """Replies per second in saturation phases, whose requests were all
    due at once, counted while every sender had a request in flight:
    from each phase's first reply to the one that leaves fewer than
    ``senders`` to go. The start, before the first reply, and the drain
    are left out."""
    by_phase: dict[int, list[float]] = {}
    for r in rs:
        by_phase.setdefault(r["phase"], []).append(r["done"])
    counted = busy = 0.0
    for done in by_phase.values():
        done.sort()
        last = len(done) - senders
        counted += last
        busy += done[last] - done[0]
    return counted / busy


# ------------------------------------------------------------ oracle

class Oracle:
    """DuckDB's answer (status, body) for each request."""

    PRODUCT_COLS = (
        "product_id, supermarket_id, barcode, canonical_name, brand, "
        "category, price, promo_price, collected_at"
    )

    def __init__(self, sf_dir: str):
        from tests.oracle import duckdb_connect

        from data_pipeline_2025_spark.mapping import domain_sql

        self.con = duckdb_connect(sf_dir)
        self.con.execute(
            "CREATE TEMP TABLE products AS "
            + domain_sql("SELECT * FROM products")
        )
        self.con.execute(
            "CREATE TEMP TABLE supermarkets AS "
            + domain_sql("SELECT * FROM supermarkets")
        )

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str, params=()) -> list[dict]:
        cur = self.con.execute(sql, list(params))
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, row)) for row in cur.fetchall()]

    def answer(self, req: dict) -> tuple[int, object]:
        from urllib.parse import parse_qs, unquote, urlparse

        from data_pipeline_2025_spark.server import _jsonable

        url = urlparse(req["path"])
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        parts = [unquote(p) for p in url.path.strip("/").split("/")]
        kind = req["kind"]
        status, body = 200, None
        if kind == "search":
            body = self.rows(
                f"SELECT {self.PRODUCT_COLS} FROM products "
                "WHERE contains(lower(canonical_name), lower(?)) "
                "ORDER BY product_id LIMIT ?",
                (q["q"], int(q["limit"])),
            )
        elif kind == "barcode":
            body = self.barcode_offers(parts[2])
            if not body:
                status, body = 404, {"detail": f"no products with barcode {parts[2]}"}
        elif kind == "history":
            status, body = self.history(parts[2], int(q["days"]))
        elif kind == "lowest":
            body = self.lowest(int(q["limit"]))
        elif kind == "stats":
            body = self.stats()
        elif kind == "store_products":
            body = self.rows(
                f"SELECT {self.PRODUCT_COLS} FROM products "
                "WHERE supermarket_id = ? ORDER BY product_id LIMIT ?",
                (int(parts[1]), int(q["limit"])),
            )
        else:
            tool = parts[-1]
            args = req["body"]["arguments"]
            if kind == "mcp_search":
                result = self.mcp_search(args["term"])
            elif kind == "mcp_compare":
                result = self.mcp_compare(args["barcode"])
            else:
                result = self.mcp_basket(args["barcodes"])
            body = {"tool": tool, "result": result}
        return status, json.loads(json.dumps(_jsonable(body)))

    def barcode_offers(self, barcode: str) -> list[dict]:
        return self.rows(
            f"SELECT {self.PRODUCT_COLS}, s.name AS supermarket_name, "
            "COALESCE(promo_price, price) AS effective_price, "
            "price - promo_price AS savings "
            "FROM products JOIN supermarkets s USING (supermarket_id) "
            "WHERE barcode = ? ORDER BY effective_price, product_id",
            (barcode,),
        )

    def history(self, barcode: str, days: int):
        import datetime as dt

        anchor = self.rows(
            "SELECT max(collected_at) AS m FROM products WHERE barcode = ?",
            (barcode,),
        )[0]["m"]
        if anchor is None:
            return 404, {"detail": f"no products with barcode {barcode}"}
        cutoff = anchor - dt.timedelta(days=days)
        hist = self.rows(
            "SELECT product_id, price, promo_price, "
            "COALESCE(promo_price, price) AS effective_price, collected_at "
            "FROM products WHERE barcode = ? AND collected_at >= ? "
            "ORDER BY collected_at DESC, product_id",
            (barcode, cutoff),
        )
        effs = [h["effective_price"] for h in hist]
        trend = "stable"
        if len(effs) >= 2:
            half = len(effs) // 2
            recent = float(sum(effs[:half], Decimal(0))) / half
            older = float(sum(effs[half:], Decimal(0))) / (len(effs) - half)
            if recent > older * 1.05:
                trend = "increasing"
            elif recent < older * 0.95:
                trend = "decreasing"
        return 200, {
            "barcode": barcode,
            "days": days,
            "price_history": hist,
            "trend": trend,
            "lowest_price": float(min(effs)),
            "highest_price": float(max(effs)),
        }

    def lowest(self, limit: int) -> list[dict]:
        page = self.rows(
            f"SELECT {self.PRODUCT_COLS}, COALESCE(promo_price, price) AS eff "
            "FROM products ORDER BY eff, product_id LIMIT ?",
            (limit * 3,),
        )
        top = max(r["eff"] for r in page)
        for r in page:
            r["savings_pct"] = (
                float(top - r["eff"]) * 100 / float(top) if r["eff"] < top else None
            )
        return page

    def stats(self) -> dict:
        r = self.rows(
            "SELECT count(*) AS total, count(DISTINCT supermarket_id) AS stores, "
            "count(promo_price) AS on_sale, avg(CAST(price AS DOUBLE)) AS avg_price "
            "FROM products"
        )[0]
        return {
            "total_products": r["total"],
            "total_supermarkets": r["stores"],
            "products_on_sale": r["on_sale"],
            "sale_percentage": round(r["on_sale"] * 100 / r["total"], 1),
            "average_price": round(r["avg_price"], 2),
        }

    def mcp_search(self, term: str) -> list[dict]:
        rows = self.rows(
            "SELECT product_id, barcode, canonical_name, brand, category, "
            "CAST(price AS DOUBLE) AS price, CAST(promo_price AS DOUBLE) AS promo_price "
            "FROM products WHERE contains(lower(canonical_name), lower(?)) "
            "ORDER BY COALESCE(promo_price, price), product_id LIMIT 10",
            (term,),
        )
        return rows

    def mcp_compare(self, barcode: str) -> dict:
        offers = self.rows(
            "SELECT supermarket_id, s.name AS supermarket_name, "
            "CAST(price AS DOUBLE) AS price, CAST(promo_price AS DOUBLE) AS promo_price, "
            "CAST(COALESCE(promo_price, price) AS DOUBLE) AS effective_price, product_id "
            "FROM products JOIN supermarkets s USING (supermarket_id) "
            "WHERE barcode = ? ORDER BY effective_price, product_id",
            (barcode,),
        )
        if not offers:
            return {"found": False, "barcode": barcode, "results": []}
        best, worst = offers[0], offers[-1]
        return {
            "found": True,
            "barcode": barcode,
            "results": offers,
            "best_price": best["effective_price"],
            "cheapest_store": best["supermarket_name"],
            "max_savings": round(worst["effective_price"] - best["effective_price"], 2),
        }

    def mcp_basket(self, barcodes: list[str]) -> dict:
        wanted: list[str] = []
        for b in barcodes:
            if b not in wanted:
                wanted.append(b)
        marks = ", ".join("?" for _ in wanted)
        rows = self.rows(
            "WITH best AS (SELECT supermarket_id, barcode, price, "
            "COALESCE(promo_price, price) AS eff, row_number() OVER ("
            "PARTITION BY supermarket_id, barcode "
            "ORDER BY COALESCE(promo_price, price), product_id) AS rn "
            f"FROM products WHERE barcode IN ({marks})) "
            "SELECT supermarket_id, s.name AS supermarket_name, "
            "CAST(ROUND(SUM(price), 2) AS DOUBLE) AS total_price, "
            "CAST(ROUND(SUM(eff), 2) AS DOUBLE) AS total_promo_price, "
            "CAST(ROUND(SUM(price - eff), 2) AS DOUBLE) AS total_savings, "
            "count(*) AS product_count "
            "FROM best JOIN supermarkets s USING (supermarket_id) WHERE rn = 1 "
            "GROUP BY supermarket_id, s.name "
            "HAVING count(*) = ? ORDER BY total_promo_price, supermarket_id",
            (*wanted, len(wanted)),
        )
        out = {
            "requested_products": len(wanted),
            "complete_baskets": len(rows),
            "stores": rows,
        }
        if rows:
            best, worst = rows[0], rows[-1]
            out["best_store"] = best["supermarket_name"]
            out["best_total"] = best["total_promo_price"]
            out["max_potential_savings"] = round(
                worst["total_promo_price"] - best["total_promo_price"], 2
            )
        return out


def check(results: list[dict], plan: list[dict], oracle: Oracle) -> dict[int, bool]:
    """Request id -> whether status and body equal DuckDB's answer."""
    by_id = {p["id"]: p for p in plan}
    cache: dict[tuple, tuple] = {}
    ok: dict[int, bool] = {}
    for r in results:
        req = by_id[r["id"]]
        key = (req["method"], req["path"], json.dumps(req["body"], sort_keys=True))
        if key not in cache:
            cache[key] = oracle.answer(req)
        try:
            got = json.loads(r["body"])
        except ValueError:
            got = None
        ok[r["id"]] = (r["status"], got) == cache[key]
    return ok


# ------------------------------------------------------------ run

ROUTE_FUNCTIONS = {
    "get_products": "search",
    "get_barcode": "barcode",
    "get_history": "history",
    "get_lowest_prices": "lowest",
    "get_stats": "stats",
    "get_supermarket_products": "store_products",
}
MCP_KINDS = {
    "search_product": "mcp_search",
    "compare_results": "mcp_compare",
    "find_best_basket": "mcp_basket",
}
DOMAIN_FUNCTIONS = (
    "search_products",
    "compare_offers",
    "price_history",
    "price_trend",
    "history_minmax",
    "lowest_prices_page",
    "basket_store_totals",
)


def instrument(tracer) -> None:
    """Spans at the server, route, mapping and domain boundaries; the
    request id rides in a ``_rid`` query parameter that is removed
    before the route sees it."""
    from data_pipeline_2025_spark import domain, mcp, server, tools

    dispatch = server._dispatch

    def traced_dispatch(ctx, method, path, params, body):
        rid = params.pop("_rid", None)
        tracer.rid = rid
        tracer.job_group(ctx["spark"].sparkContext, f"r:{rid}", path)
        try:
            with tracer.span("server.handler"):
                return dispatch(ctx, method, path, params, body)
        finally:
            tracer.rid = None

    tracer.patch(server, "_dispatch", traced_dispatch)
    for fn, kind in ROUTE_FUNCTIONS.items():
        tracer.wrap(server, fn, f"route.{kind}")
    execute = mcp.execute_tool

    def traced_execute(spark, sf_dir, name, arguments):
        with tracer.span(f"route.{MCP_KINDS.get(name, name)}"):
            return execute(spark, sf_dir, name, arguments)

    tracer.patch(mcp, "execute_tool", traced_execute)
    for owner in (server, tools):
        tracer.wrap(owner, "products", "mapping.products")
        tracer.wrap(owner, "supermarkets", "mapping.supermarkets")
    for fn in DOMAIN_FUNCTIONS:
        tracer.wrap(domain, fn, "domain.build")


def prepare(seed: int, seconds: int, run_dir: str) -> dict:
    """The tier, the warm-up burst and the measured schedule."""
    import os

    import pyarrow.parquet as pq

    from .common import generate_tier

    sf_dir = os.path.join(run_dir, "serve-tier")
    generate_tier(sf_dir, SF, seed)
    lineitem = pq.read_table(
        os.path.join(sf_dir, "lineitem.parquet"), columns=["l_partkey", "l_suppkey"]
    )
    cat = catalogue({"lineitem": lineitem})
    return {
        "sf_dir": sf_dir,
        "warm": make_requests(seed, cat, WARM_REQUESTS, stream=0),
        "plan": plan_for(seconds, seed, cat),
    }


def run(ctx) -> dict:
    import os

    from data_pipeline_2025_spark import server
    from data_pipeline_2025_spark.catalog import Catalog
    from data_pipeline_2025_spark.mapping import products, silver_products_path

    from .common import memory

    spark = ctx.spark
    senders = os.cpu_count() or 1
    sf_dir, plan = ctx.inputs["sf_dir"], ctx.inputs["plan"]
    t0 = time.perf_counter()
    products(Catalog(spark, sf_dir)).count()
    srv, _ = server.serve_background(spark, sf_dir)
    port = srv.server_address[1]
    # Warm pass: a closed-loop burst over every route from its own seed
    # stream, so the JIT has compiled the serving path before the
    # first phase opens.
    with ThreadPoolExecutor(max_workers=senders) as pool:
        list(pool.map(lambda r: _send(port, {**r, "id": -1}, t0, None), ctx.inputs["warm"]))
    setup_s = time.perf_counter() - t0
    if ctx.tracer is not None:
        instrument(ctx.tracer)
    window = [time.time()]
    results = []
    try:
        for phase in plan:
            results += run_load(port, phase, senders, ctx.tracer is not None)
    finally:
        window.append(time.time())
        if ctx.tracer is not None:
            ctx.tracer.restore()
        srv.shutdown()
        srv.server_close()
    mem = memory(spark)

    oracle = Oracle(sf_dir)
    try:
        ok = check(results, [r for phase in plan for r in phase], oracle)
    finally:
        oracle.close()
    report = [r for r in results if r["rate"] is not None]
    saturation = [r for r in results if r["rate"] is None]
    lat = _latencies(report, ok)
    tail_p, tail = phase_tail(report, ok)
    silver_bytes = dir_bytes(os.path.realpath(silver_products_path(sf_dir)))
    by_route: dict[str, list[float]] = {}
    for r, ms in zip(report, lat):
        by_route.setdefault(r["kind"], []).append(ms)
    return {
        "attempted": len(results),
        "failed": sum(1 for v in ok.values() if not v),
        "setup_s": setup_s,
        "memory": mem,
        "metrics": {
            "latency_p50_ms": hd_quantile(lat, 50),
            "latency_tail_ms": tail,
            "throughput_per_s": saturation_rate(saturation, senders),
            "bytes_per_row": silver_bytes / datagen.row_counts(SF)["lineitem"],
        },
        "detail": {
            # at the reporting rate, per route, as they fell
            "route_p50_ms": {k: median(v) for k, v in sorted(by_route.items())},
            "tail_percentile": tail_p,
            "report_rate": REPORT_RATE,
            "report_requests": len(report),
            "backlog_growth_ms": backlog_growth_ms(report),
            "saturation": {
                "n": len(saturation),
                "senders": senders,
                "service_p50_ms": median([(r["done"] - r["sent"]) * 1000 for r in saturation]),
            },
            "failures": sorted(k for k, v in ok.items() if not v)[:20],
            "report_latency_ms": [(r["kind"], round(latency_ms(r), 1)) for r in report],
        },
        "window": window,
        "results": results,
    }


def layers(res: dict, tracer, groups: dict) -> dict:
    """Per-request layer metrics from the spans and the event log."""
    from .eventlog import GroupStats

    spans = tracer.spans
    by_rid: dict[str, list[dict]] = {}
    for s in spans:
        if s["rid"] is not None:
            by_rid.setdefault(s["rid"], []).append(s)
    self_ms, products_ms, domain_ms, gaps = [], [], [], []
    route_ms: dict[str, list[float]] = {k: [] for k, _ in MIX}
    jobs = tasks = inputs = exec_ms = 0.0
    n = 0
    for r in res["results"]:
        rs = by_rid.get(str(r["id"]), [])
        handler = next((s for s in rs if s["name"] == "server.handler"), None)
        if handler is None:
            continue
        n += 1
        dur = handler["end"] - handler["start"]
        self_ms.append(((r["done"] - r["sent"]) - dur) * 1000)
        route_ms[r["kind"]].append(
            sum(s["end"] - s["start"] for s in rs if s["name"] == f"route.{r['kind']}") * 1000
        )
        products_ms.append(
            sum(s["end"] - s["start"] for s in rs if s["name"] == "mapping.products") * 1000
        )
        domain_ms.append(
            sum(s["end"] - s["start"] for s in rs if s["name"] == "domain.build") * 1000
        )
        g = groups.get(f"r:{r['id']}", GroupStats())
        jobs += g.jobs
        tasks += g.tasks
        inputs += g.input_bytes
        exec_ms += g.executor_run_ms
        gaps.append((dur - g.job_time_s(handler["start"], handler["end"])) * 1000)
    # at the reporting rate; in saturation phases every request is due
    # at once, so senders are behind by design
    late = [(r["sent"] - r["due"]) * 1000 for r in res["results"] if r["rate"] is not None]
    handler_s = sum(s["end"] - s["start"] for s in tracer.named("server.handler"))
    out = {
        "trace.overhead_pct": tracer.own_s / handler_s * 100,
        "server.self_ms": median(self_ms),
        "loadgen.late_p90_ms": percentile(late, 90),
        "mapping.products_ms": median(products_ms),
        "domain.build_ms": median(domain_ms),
        "spark.jobs_per_req": jobs / max(n, 1),
        "spark.driver_gap_ms": median(gaps),
        "spark.input_bytes_per_req": inputs / max(n, 1),
        "spark.tasks_per_req": tasks / max(n, 1),
        "spark.executor_ms_per_req": exec_ms / max(n, 1),
    }
    for kind, vals in route_ms.items():
        out[f"route.{kind}_ms"] = median(vals) if vals else 0.0
    return out
