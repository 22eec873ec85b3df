"""``ingest``: seeded rounds of crawled price files drained by
``streaming.ingest.start_price_ingest`` (AvailableNow) into a
transactional silver sink with a maintained trigram index, each round
followed by reads of the snapshot it just committed.

A round is FILES_PER_ROUND JSON files in the ``Root/Items/Item``
envelope. After the first round, REPLAYS_PER_ROUND of them repeat an
earlier file's content under a new name (a crawler re-delivering), so
the idempotence anti-join must absorb exactly that share of the
round's rows; the share absorbed is measured from the rows the sink
commits. Price dates spread over a few partitions per round. Every
round's files are generated from the seed before the session starts.
After each round, READS_PER_ROUND of its fresh items are read the way
a shopper finds a product and opens it: a fuzzy search for the name
with one letter dropped (``search.search_trigram_index``), which must
find the new name, then a point lookup of the item through
``ingest.read_silver``, which must return the price just written. One
read is both steps, timed together.
"""

from __future__ import annotations

import json
import os
import time
from datetime import date, timedelta

import numpy as np

FILES_PER_ROUND = 8
REPLAYS_PER_ROUND = 2
ITEMS_PER_FILE = 250
DATES_PER_ROUND = 3
READS_PER_ROUND = 14
MIN_ROUNDS = 3  # 3 x 14 reads: a p75 with ten samples beyond it
CHAINS = ("7290027600007", "7290058140886", "7290873255550")
STORES = ("001", "002", "013", "027", "101")
SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def _word(rng: np.random.Generator) -> str:
    return "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), int(rng.integers(2, 4))))


def new_files(seed: int, rnd: int) -> list[dict]:
    """The round's fresh (never replayed) files, deterministic in
    (seed, round). Item codes are unique across the whole run."""
    rng = np.random.default_rng([seed, 2, rnd])
    day0 = date(2025, 8, 1) + timedelta(days=rnd)
    files = []
    for f in range(FILES_PER_ROUND - (REPLAYS_PER_ROUND if rnd else 0)):
        chain = CHAINS[int(rng.integers(len(CHAINS)))]
        store = STORES[int(rng.integers(len(STORES)))]
        items = []
        for i in range(ITEMS_PER_FILE):
            day = day0 + timedelta(days=int(rng.integers(DATES_PER_ROUND)))
            items.append({
                "ItemCode": f"{rnd:04d}{f:02d}{i:04d}",
                "ItemName": " ".join(_word(rng) for _ in range(3)),
                "ManufacturerName": "Maker",
                "ItemPrice": f"{int(rng.integers(100, 100000)) / 100:.2f}",
                "UnitOfMeasurePrice": "1.0000",
                "Quantity": "1.000",
                "UnitQty": "1",
                "UnitOfMeasure": "unit",
                "PriceUpdateDate": f"{day.isoformat()} {int(rng.integers(24)):02d}:00:00",
                "ItemStatus": "1",
                "AllowDiscount": "1",
                "bIsWeighted": "0",
                "ItemId": f"{rnd:04d}{f:02d}{i:04d}",
            })
        files.append({"ChainId": chain, "StoreId": store, "Items": {"Item": items}})
    return files


def replayed_files(seed: int, rnd: int, earlier: list[dict]) -> list[dict]:
    if rnd == 0:
        return []
    rng = np.random.default_rng([seed, 3, rnd])
    picks = rng.choice(len(earlier), size=REPLAYS_PER_ROUND, replace=False)
    return [earlier[int(i)] for i in picks]


def write_round(source_dir: str, rnd: int, files: list[dict]) -> None:
    for j, root in enumerate(files):
        path = os.path.join(source_dir, f"prices-r{rnd:04d}-{j:02d}.json")
        with open(path + ".part", "w", encoding="utf-8") as f:
            json.dump({"Root": root}, f, ensure_ascii=False)
        os.replace(path + ".part", path)  # the stream never sees a torn file


def typo(name: str) -> str:
    """Drop one letter from the middle word: a misspelled probe."""
    words = name.split(" ")
    w = words[1]
    words[1] = w[: len(w) // 2] + w[len(w) // 2 + 1:]
    return " ".join(words)


def plan_rounds(seed: int, n: int) -> list[tuple[list[dict], list[dict]]]:
    """(fresh files, replayed files) of rounds 0..n-1."""
    out, history = [], []
    for rnd in range(n):
        fresh = new_files(seed, rnd)
        out.append((fresh, replayed_files(seed, rnd, history)))
        history.extend(fresh)
    return out


class Stream:
    """One sink + checkpoint + index triple fed from one source dir."""

    def __init__(self, spark, base: str):
        self.spark = spark
        self.source = os.path.join(base, "source")
        self.sink = os.path.join(base, "silver")
        self.ckpt = os.path.join(base, "ckpt")
        self.index = os.path.join(base, "tg_index")
        os.makedirs(self.source, exist_ok=True)
        self.rounds = 0
        self.new_rows = 0
        self.source_rows = 0

    def drain(self) -> None:
        from data_pipeline_2025_spark.streaming.ingest import start_price_ingest

        q = start_price_ingest(self.spark, self.source, self.sink, self.ckpt, index_dir=self.index)
        try:
            q.awaitTermination()
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"ingest round {self.rounds} failed: {q.exception()}")

    def next_round(self, fresh: list[dict], replayed: list[dict]) -> float:
        """Deliver one round's files and drain them; returns the
        seconds the drain took."""
        files = fresh + replayed
        write_round(self.source, self.rounds, files)
        t0 = time.perf_counter()
        self.drain()
        drain_s = time.perf_counter() - t0
        self.rounds += 1
        self.new_rows += sum(len(f["Items"]["Item"]) for f in fresh)
        self.source_rows += sum(len(f["Items"]["Item"]) for f in files)
        return drain_s


def pick_reads(seed: int, rnd: int, fresh: list[dict]) -> list[dict]:
    """The round's reads, drawn from its fresh items: the misspelled
    probe and the name it must find, the item's key and its price."""
    rng = np.random.default_rng([seed, 4, rnd])
    flat = [(f["ChainId"], f["StoreId"], it) for f in fresh for it in f["Items"]["Item"]]
    picked = [flat[int(i)] for i in rng.choice(len(flat), size=READS_PER_ROUND, replace=False)]
    return [
        {"probe": typo(it["ItemName"]), "name": it["ItemName"],
         "key": (c, s, it["ItemCode"]), "price": it["ItemPrice"]}
        for c, s, it in picked
    ]


def point_read(spark, sink: str, chain: str, store: str, code: str) -> list:
    from pyspark.sql import functions as F

    from data_pipeline_2025_spark.streaming.ingest import read_silver

    df = read_silver(spark, sink)
    return [
        str(r["item_price"])
        for r in df.where(
            (F.col("chain_id") == chain)
            & (F.col("store_id") == store)
            & (F.col("item_code") == code)
        ).select("item_price").collect()
    ]


def fuzzy_read(spark, index: str, probe: str) -> list[str]:
    from data_pipeline_2025_spark.operators.search import search_trigram_index

    return [r["name"] for r in search_trigram_index(spark, index, probe).collect()]


def timed_reads(spark, stream: Stream, reads: list[dict]) -> list[dict]:
    """Run the round's reads; each record keeps its latency (and that
    of its two steps) and whether both answers were right."""
    out = []
    for r in reads:
        t0 = time.perf_counter()
        names = fuzzy_read(spark, stream.index, r["probe"])
        t1 = time.perf_counter()
        prices = point_read(spark, stream.sink, *r["key"])
        t2 = time.perf_counter()
        out.append({
            "ms": (t2 - t0) * 1000,
            "fuzzy_ms": (t1 - t0) * 1000,
            "point_ms": (t2 - t1) * 1000,
            "found": r["name"] in names,
            "ok": r["name"] in names and prices == [r["price"]],
        })
    return out


def sink_rows_and_keys(spark, sink: str) -> tuple[int, int]:
    from pyspark.sql import functions as F

    from data_pipeline_2025_spark.streaming.ingest import DEDUP_KEY, read_silver

    df = read_silver(spark, sink)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(*DEDUP_KEY).alias("k"),
    ).first()
    return int(row["n"]), int(row["k"])


ROUND_SECONDS = 4.5  # a round plus its reads, on a 4-core box


def instrument(tracer, sizes: list[int], sink: str) -> None:
    """Spans around the transaction log, the index maintenance and the
    idempotence scope; ``sizes`` collects the committed bytes each
    anti-join's partition scope covers."""
    from data_pipeline_2025_spark.operators import search
    from data_pipeline_2025_spark.streaming import ingest as ing
    from data_pipeline_2025_spark.streaming import txn

    tracer.wrap(txn, "stage_append", "txn.stage")
    tracer.wrap(txn, "commit_append", "txn.commit")
    tracer.wrap(txn, "read_committed", "txn.read_committed")
    tracer.wrap(search, "update_trigram_index", "search.index_update")
    scoped = ing.scoped_existing_keys

    def traced_scope(existing, touched_dates):
        wanted = {f"{ing.PARTITION_COL}={d}" for d in touched_dates if d is not None}
        sizes.append(sum(
            os.path.getsize(os.path.join(sink, rel))
            for rel in txn.committed_files(sink)
            if any(part in wanted for part in rel.split("/"))
        ))
        return scoped(existing, touched_dates)

    tracer.patch(ing, "scoped_existing_keys", traced_scope)


def sink_checks(
    committed: int, keys: int, distinct_new: int, added: int, source_rows: int
) -> tuple[float, dict[str, bool]]:
    """The share of the timed rounds' source rows the sink did not add
    (``added`` of ``source_rows``), and the sink's checks: one row per
    distinct new key the generator wrote, replays absorbed exactly."""
    absorbed = 1.0 - added / source_rows
    return absorbed, {
        "committed_rows_equal_new_keys": committed == keys == distinct_new,
        "replays_absorbed": abs(absorbed - REPLAYS_PER_ROUND / FILES_PER_ROUND) < 1e-12,
    }


def prepare(seed: int, seconds: int, run_dir: str) -> list:
    """Every round's files: the bootstrap round, then the timed ones."""
    return plan_rounds(seed, 1 + max(MIN_ROUNDS, round(seconds / ROUND_SECONDS)))


def run(ctx) -> dict:
    from .common import dir_bytes, hd_quantile, memory, tail_percentile

    spark = ctx.spark
    boot, *timed = ctx.inputs
    t0 = time.perf_counter()
    stream = Stream(spark, os.path.join(ctx.run_dir, "ingest"))
    stream.next_round(*boot)  # bootstrap: creates the sink, index and checkpoint
    setup_s = time.perf_counter() - t0
    boot_committed, _ = sink_rows_and_keys(spark, stream.sink)
    boot_source = stream.source_rows
    dedup_bytes: list[int] = []
    if ctx.tracer is not None:
        instrument(ctx.tracer, dedup_bytes, stream.sink)
    sc = spark.sparkContext
    reads, drain_s = [], 0.0
    window = [time.time()]
    try:
        for fresh, replayed in timed:
            if ctx.tracer is not None:
                ctx.tracer.job_group(sc, f"round:{stream.rounds}", "ingest round")
            drain_s += stream.next_round(fresh, replayed)
            if ctx.tracer is not None:
                ctx.tracer.job_group(sc, f"reads:{stream.rounds - 1}", "fresh reads")
            reads += timed_reads(spark, stream, pick_reads(ctx.seed, stream.rounds - 1, fresh))
    finally:
        window.append(time.time())
        if ctx.tracer is not None:
            ctx.tracer.restore()
            ctx.tracer.job_group(sc, "idle", "idle")
    mem = memory(spark)

    committed, keys = sink_rows_and_keys(spark, stream.sink)
    rounds = len(timed)
    new_rows = committed - boot_committed
    absorbed, checks = sink_checks(
        committed, keys, stream.new_rows, new_rows, stream.source_rows - boot_source
    )
    from data_pipeline_2025_spark.streaming import txn

    sink_bytes, index_bytes = dir_bytes(stream.sink), dir_bytes(stream.index)
    ms = [r["ms"] for r in reads]
    tail_p = tail_percentile(len(ms))
    return {
        "attempted": rounds + len(reads) + len(checks),
        "failed": sum(1 for r in reads if not r["ok"]) + sum(1 for v in checks.values() if not v),
        "setup_s": setup_s,
        "memory": mem,
        "metrics": {
            "latency_p50_ms": hd_quantile(ms, 50),
            "latency_tail_ms": hd_quantile(ms, tail_p),
            "throughput_per_s": new_rows / drain_s,
            "bytes_per_row": (sink_bytes + index_bytes) / committed,
        },
        "detail": {
            "tail_percentile": tail_p,
            "rounds": rounds,
            "committed_rows": committed,
            "absorbed_ratio": absorbed,
            "checks": checks,
            "failed_reads": [r for r in reads if not r["ok"]][:10],
            "read_steps_ms": [(round(r["fuzzy_ms"], 1), round(r["point_ms"], 1)) for r in reads],
        },
        "window": window,
        "layer_inputs": {
            "log_versions": len(txn.versions(stream.sink)),
            "absorbed_ratio": absorbed,
            "dedup_bytes": dedup_bytes,
            "sink_bytes_per_row": sink_bytes / committed,
            "index_bytes_per_row": index_bytes / committed,
        },
    }


def layers(res: dict, tracer, groups: dict) -> dict:
    from .common import median

    def med_ms(name: str) -> float:
        vals = [(s["end"] - s["start"]) * 1000 for s in tracer.named(name)]
        return median(vals) if vals else 0.0

    li = res["layer_inputs"]
    return {
        "txn.stage_ms": med_ms("txn.stage"),
        "txn.commit_ms": med_ms("txn.commit"),
        "txn.read_committed_ms": med_ms("txn.read_committed"),
        "txn.log_versions": li["log_versions"],
        "ingest.dedup_input_bytes": (
            sum(li["dedup_bytes"]) / len(li["dedup_bytes"]) if li["dedup_bytes"] else 0.0
        ),
        "ingest.absorbed_ratio": li["absorbed_ratio"],
        "search.index_update_ms": med_ms("search.index_update"),
        "storage.index_bytes_per_row": li["index_bytes_per_row"],
        "storage.sink_bytes_per_row": li["sink_bytes_per_row"],
        "trace.overhead_pct": tracer.own_s / (res["window"][1] - res["window"][0]) * 100,
    }
