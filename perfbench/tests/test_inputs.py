"""Inputs come from the seed alone: the same seed gives the same
inputs, another seed other ones."""

import numpy as np

from perfbench import datagen, ingest, serve


def _requests(seed):
    tables = datagen.tables(0.001, seed)
    return serve.make_requests(seed, serve.catalogue(tables), 300)


def test_tables_are_deterministic_in_the_seed():
    a, b, c = datagen.tables(0.001, 5), datagen.tables(0.001, 5), datagen.tables(0.001, 6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == datagen.row_counts(0.001)


def test_request_mix_is_deterministic_and_covers_every_route():
    a, b = _requests(5), _requests(5)
    assert a == b
    assert a != _requests(6)
    assert {r["kind"] for r in a} == {k for k, _ in serve.MIX}


def test_barcodes_repeat_under_the_zipf_draw():
    reqs = [r for r in _requests(5) if r["kind"] == "barcode"]
    paths = [r["path"] for r in reqs]
    top = max(paths.count(p) for p in set(paths))
    assert top >= 3 and len(set(paths)) < len(paths)


def test_baskets_name_items_one_store_carries():
    tables = datagen.tables(0.001, 5)
    cat = serve.catalogue(tables)
    for r in serve.make_requests(5, cat, 300):
        if r["kind"] == "mcp_basket":
            items = {int(b) for b in r["body"]["arguments"]["barcodes"]}
            assert any(items <= set(v) for v in cat["store_items"].values())


def test_ingest_rounds_replay_a_fixed_share():
    fresh0 = ingest.new_files(9, 0)
    fresh1 = ingest.new_files(9, 1)
    assert fresh0 == ingest.new_files(9, 0) and fresh0 != ingest.new_files(10, 0)
    assert len(fresh0) == ingest.FILES_PER_ROUND
    assert len(fresh1) == ingest.FILES_PER_ROUND - ingest.REPLAYS_PER_ROUND
    replays = ingest.replayed_files(9, 1, fresh0)
    assert len(replays) == ingest.REPLAYS_PER_ROUND and all(r in fresh0 for r in replays)
    codes = [it["ItemCode"] for f in fresh0 + fresh1 for it in f["Items"]["Item"]]
    assert len(codes) == len(set(codes))


def test_typo_probe_differs_by_one_letter():
    name = "kalabo rutesi mavo"
    probe = ingest.typo(name)
    assert len(probe) == len(name) - 1 and probe != name


def test_held_out_seed_generates_clean_inputs():
    rng = np.random.default_rng(2024)
    seed = int(rng.integers(10_000, 1_000_000))
    assert {r["kind"] for r in _requests(seed)} == {k for k, _ in serve.MIX}
