"""Capture .explain("formatted") for headline queries → plans/<round>/.

Usage:
    python tools/capture_plans.py before [sf_dir] [q1 q2 ...]
    python tools/capture_plans.py after  [sf_dir] [q1 q2 ...]

With no query names, captures every bench.py HEADLINE query. Output
files: plans/$PLANS_ROUND/<query>_<tag>.txt (PLANS_ROUND defaults to
r11; committed as judge evidence — the optimization round's
plan-shape claims are checked against these).

Run-specific names are replaced by fixed placeholders before writing,
so two captures of unchanged code are byte-identical: expression ids
(``#1234`` -> ``#N``), exchange plan ids, RDD ids (concurrent
checkpoints number their RDDs in completion order), the random suffix
of a session scratch directory (``spark_graft_<tag>_<random>`` ->
``spark_graft_<tag>_<tmp>``) and uuid-named files (data files and the
transaction log's ``_txn/dv/<hex>``).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from data_pipeline_2025_spark import registry  # noqa: E402
from data_pipeline_2025_spark.plans.explain import plan_of  # noqa: E402
from data_pipeline_2025_spark.session import get_spark  # noqa: E402


_RUN_SPECIFIC = (
    (re.compile(r"#\d+"), "#N"),
    # mkdtemp appends 8 chars of [a-z0-9_] to the "spark_graft_<tag>_" prefix
    (re.compile(r"(spark_graft_\w*_)\w{8}(?!\w)"), r"\1<tmp>"),
    (re.compile(r"(_txn/\w+/)[0-9a-f]{12}(?![0-9a-f])"), r"\1<uuid>"),
    (re.compile(r"[0-9a-f]{12}-part-"), "<uuid>-part-"),
    (re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
)


def normalize(text: str) -> str:
    """Replace run-specific ids and paths in a plan with placeholders."""
    for pattern, repl in _RUN_SPECIFIC:
        text = pattern.sub(repl, text)
    return text


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:] or list(HEADLINE)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("PLANS_ROUND", "r11"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry.load_all()
    for name in names:
        try:
            df = specs[name].spark_fn(spark, sf_dir)
            text = normalize(plan_of(df, "formatted"))
        except Exception as ex:  # noqa: BLE001 — record, keep going
            text = f"EXCEPTION during plan capture: {type(ex).__name__}: {ex}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)")


if __name__ == "__main__":
    main()
