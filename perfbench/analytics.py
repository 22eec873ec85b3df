"""``analytics``: one closed-loop pass over headline queries taken
from ``bench.HEADLINE`` (see ``headline()``), each ``.collect()``-ed
in order by one caller.

The tier is written from the seed before the session starts, so its
generation is not set-up. Set-up is what ``bench.py`` treats as
ingest-time: the silver
products table, the trigram index, the shared dedup frames and near-
duplicate pair tables, and the q214/q215 lifecycle sink. The timed
pass is the first one in the session after those builds, so it pays
each query's per-session first-call work (session sinks, code
generation) once; a second, warm pass would not fit the run budget.
Each result is checked against its registry DuckDB oracle with the
comparison ``tests/oracle.py`` uses.
"""

from __future__ import annotations

import time

# A tenth of sf0.1: an sf0.1 pass with its builds takes over a minute,
# more than the benchmark's run-time budget allows a run.
SF = 0.01
# Two of the heaviest shuffle paths: q215's incremental view
# maintenance and q264's overlapped checkpoint builds.
HEAVY_PATHS = (
    "q215_incremental_matview",
    "q264_lsh_index_foldin",
)


def ingest_time_builds(spark, sf_dir: str) -> None:
    """The materializations bench.py builds before timing."""
    from data_pipeline_2025_spark.catalog import Catalog
    from data_pipeline_2025_spark.mapping import products
    from data_pipeline_2025_spark.operators.dedup import (
        lsh_pairs_df,
        minhash_df,
        rare_shingles_df,
        shingles_df,
    )
    from data_pipeline_2025_spark.operators.search import build_trigram_index
    from data_pipeline_2025_spark.operators.similarity import neardup_pairs_df
    from data_pipeline_2025_spark.streaming.timetravel import _cdf_sink

    products(Catalog(spark, sf_dir)).count()
    build_trigram_index(spark, sf_dir)
    shingles_df(spark, sf_dir).count()
    rare_shingles_df(spark, sf_dir).count()
    minhash_df(spark, sf_dir).count()
    lsh_pairs_df(spark, sf_dir).count()
    neardup_pairs_df(spark, sf_dir).count()
    _cdf_sink(spark, sf_dir)


def headline() -> tuple[str, ...]:
    """The pass: from ``bench.HEADLINE`` (in its order), the first
    query of each operator module plus HEAVY_PATHS. All 50 would not
    fit the run budget; this keeps every operator module and the
    heaviest shuffle paths on the timed path."""
    from bench import HEADLINE

    from data_pipeline_2025_spark import registry

    specs = registry.load_all()
    seen: set[str] = set()
    out = []
    for name in HEADLINE:
        module = specs[name].spark_fn.__module__
        if module not in seen or name in HEAVY_PATHS:
            out.append(name)
            seen.add(module)
    return tuple(out)


def run_pass(spark, sf_dir: str, tracer=None) -> list[dict]:
    """Run every headline query once; returns per-query records with
    the collected rows (checked later, outside the timed region)."""
    from data_pipeline_2025_spark import registry

    specs = registry.load_all()
    sc = spark.sparkContext
    out = []
    for name in headline():
        spec = specs[name]
        rec = {"name": name, "module": spec.spark_fn.__module__}
        if tracer is not None:
            tracer.job_group(sc, f"q:{name}", name)
            tracer.rid = name
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span("query", query=name, module=rec["module"]):
                    tracer.in_query += 1
                    try:
                        df = spec.spark_fn(spark, sf_dir)
                    finally:
                        tracer.in_query -= 1
                    with tracer.span("collect"):
                        rows = df.collect()
            else:
                df = spec.spark_fn(spark, sf_dir)
                rows = df.collect()
            rec["columns"], rec["rows"], rec["error"] = df.columns, [tuple(r) for r in rows], None
        except Exception as exc:  # a failed query is counted, not fatal
            rec["columns"], rec["rows"], rec["error"] = None, None, repr(exc)
        rec["seconds"] = time.perf_counter() - t0
        out.append(rec)
    if tracer is not None:
        tracer.job_group(sc, "idle", "idle")
        tracer.rid = None
    return out


def check(records: list[dict], sf_dir: str) -> dict[str, list[str]]:
    """Query name -> mismatch descriptions (empty = equal to oracle)."""
    from tests.oracle import _canon_rows, run_oracle

    from data_pipeline_2025_spark import registry

    specs = registry.load_all()
    problems: dict[str, list[str]] = {}
    for rec in records:
        spec = specs[rec["name"]]
        if rec["error"] is not None:
            problems[rec["name"]] = [rec["error"]]
            continue
        if spec.oracle is None:
            problems[rec["name"]] = []
            continue
        o_cols, o_rows = run_oracle(spec, sf_dir)
        problems[rec["name"]] = compare_rows(
            rec["columns"], rec["rows"], o_cols, o_rows, _canon_rows
        )
    return problems


def compare_rows(s_cols, s_rows, o_cols, o_rows, canon) -> list[str]:
    """tests/oracle.compare's rule applied to already-collected rows."""
    sc, sr = canon(s_cols, s_rows)
    oc, orows = canon(o_cols, o_rows)
    if sc != oc:
        return [f"column mismatch: spark={sc} oracle={oc}"]
    if len(sr) != len(orows):
        return [f"row-count mismatch: spark={len(sr)} oracle={len(orows)}"]
    diffs = [i for i, (a, b) in enumerate(zip(sr, orows)) if a != b]
    return [f"{len(diffs)} rows differ, first at {diffs[0]}"] if diffs else []


def prepare(seed: int, seconds: int, run_dir: str) -> str:
    import os

    from .common import generate_tier

    sf_dir = os.path.join(run_dir, "analytics-tier")
    generate_tier(sf_dir, SF, seed)
    return sf_dir


def run(ctx) -> dict:
    import os

    from . import datagen
    from .common import dir_bytes, memory

    spark = ctx.spark
    sf_dir = ctx.inputs
    t0 = time.perf_counter()
    ingest_time_builds(spark, sf_dir)
    setup_s = time.perf_counter() - t0
    tmp = os.environ["TMPDIR"]
    disk_before = dir_bytes(tmp)
    if ctx.tracer is not None:
        ctx.tracer.wrap_materialization()
    window = [time.time()]
    try:
        records = run_pass(spark, sf_dir, ctx.tracer)
    finally:
        window.append(time.time())
        if ctx.tracer is not None:
            ctx.tracer.restore()
    mem = memory(spark)
    disk_after = dir_bytes(tmp)
    problems = check(records, sf_dir)
    # The caller waits for the whole pass, so its latency is the pass's
    # wall time: one sample per run. (The median of 21 unlike queries
    # jumps between neighbours from run to run.)
    wall = sum(r["seconds"] for r in records)
    return {
        "attempted": len(records),
        "failed": sum(1 for p in problems.values() if p),
        "setup_s": setup_s,
        "memory": mem,
        "metrics": {
            "latency_p50_ms": wall * 1000,
            "latency_tail_ms": wall * 1000,
            "throughput_per_s": len(records) / wall,
            "bytes_per_row": (
                max(disk_after - disk_before, 1) / sum(datagen.row_counts(SF).values())
            ),
        },
        "detail": {
            "pass_wall_s": wall,
            "query_s": {r["name"]: r["seconds"] for r in records},
            "failures": {k: v for k, v in problems.items() if v},
        },
        "window": window,
        "records": records,
    }


def layers(res: dict, tracer, groups: dict) -> dict:
    """Time per operator module and the materialization counters."""
    out: dict[str, float] = {}
    for r in res["records"]:
        key = f"module.{r['module'].rsplit('.', 1)[-1]}_s"
        out[key] = out.get(key, 0.0) + r["seconds"]
    checkpoints = tracer.named("materialize.checkpoint")
    eager = tracer.named("materialize.eager")
    out["materialize.checkpoints"] = len(checkpoints)
    out["materialize.checkpoint_ms"] = tracer.total_s("materialize.checkpoint") * 1000
    out["materialize.eager_actions"] = len(eager)
    out["materialize.eager_ms"] = tracer.total_s("materialize.eager") * 1000
    out["trace.overhead_pct"] = tracer.own_s / res["detail"]["pass_wall_s"] * 100
    return out
