"""Tests of the benchmark's generators, oracle and statistics (no Spark).

    python3 -m pytest perfbench -q
"""

import json
from pathlib import Path

import pandas as pd
import pytest

from perfbench import gen, oracle
from perfbench.harness import Latencies, geomean, tail


def test_cdc_batches_are_seeded_and_keep_their_shares():
    a, b = gen.CdcGenerator(7, base_rows=2_000, batch_rows=200), \
        gen.CdcGenerator(7, base_rows=2_000, batch_rows=200)
    pd.testing.assert_frame_equal(a.base(), b.base())
    for _ in range(3):
        pd.testing.assert_frame_equal(a.next_batch(), b.next_batch())
    assert not gen.CdcGenerator(8, base_rows=2_000).plan.hot_keys.tolist() == \
        a.plan.hot_keys.tolist()

    g = gen.CdcGenerator(3, base_rows=5_000, batch_rows=200)
    g.base()
    alive = set(range(5_000))
    hot = set(g.plan.hot_keys.tolist())
    assert len(hot) == 50
    for _ in range(5):
        batch = g.next_batch()
        keys = batch["o_orderkey"].tolist()
        assert len(keys) == len(set(keys)) == 200
        kinds = batch[gen.ROW_KIND].value_counts().to_dict()
        assert kinds == {"+U": 140, "+I": 40, "-D": 20}
        by_kind = {k: set(batch.loc[batch[gen.ROW_KIND] == k, "o_orderkey"])
                   for k in kinds}
        assert by_kind["+U"] <= alive
        assert by_kind["-D"] <= alive - hot
        assert not by_kind["+I"] & alive
        assert len(by_kind["+U"] & hot) == 28
        alive = (alive - by_kind["-D"]) | by_kind["+I"]
    assert g.plan.kinds == {"+U": 700, "+I": 200, "-D": 100}
    assert set(g.lookup_keys(10)) <= hot


def test_orders_fold_is_last_writer_wins_and_changelog_replays_it():
    base = pd.DataFrame({"o_orderkey": [1, 2, 3], "v": [10, 20, 30]})
    batch = pd.DataFrame({"o_orderkey": [2, 3, 4], "v": [21, 0, 40],
                          gen.ROW_KIND: ["+U", "-D", "+I"]})
    state = oracle.OrdersState(base)
    state.apply(batch)
    want = pd.DataFrame({"o_orderkey": [1, 2, 4], "v": [10, 21, 40]})
    assert oracle.frames_equal(state.frame(), want, "o_orderkey") is None

    replay = oracle.OrdersState(base)
    replay.apply_changelog(pd.DataFrame({
        "o_orderkey": [2, 2, 3, 4], "v": [20, 21, 30, 40],
        gen.ROW_KIND: ["-U", "+U", "-D", "+I"]}))
    assert oracle.frames_equal(replay.frame(), want, "o_orderkey") is None
    assert "v differs" in oracle.frames_equal(
        want.assign(v=[10, 22, 40]), want, "o_orderkey")


def test_lake_generator_layout_and_answers():
    g = gen.LakeGenerator(5, rows_per_replica=400, update_rows=80, lookup_batch=10)
    frames = g.commits()
    assert len(frames) == 6 and g.total_rows == 1_600
    ranges = [(f["l_orderkey"].min(), f["l_orderkey"].max()) for f in frames[:4]]
    assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:]))
    k1 = set(oracle.lake_key(frames[4]["l_orderkey"], frames[4]["l_linenumber"]))
    k2 = set(oracle.lake_key(frames[5]["l_orderkey"], frames[5]["l_linenumber"]))
    assert len(k1 & k2) == 40
    assert set(g.hot_keys[:, 0]) <= set(frames[3]["l_orderkey"])

    a = oracle.LakeAnswers(frames, 4)
    assert a.full_count() == 1_600
    assert len(a.incremental) == 120
    key = (int(frames[5]["l_orderkey"][0]), int(frames[5]["l_linenumber"][0]))
    assert a.lookup([key])[0][0] == frames[5]["l_quantity"][0]
    assert a.pruned(eq_key=key) == (1, frames[5]["l_quantity"][0])
    assert a.pruned(key_range=(0, 1))[0] == gen.LINES_PER_ORDER
    kinds = [op.kind for op in g.next_round()]
    assert sorted(set(kinds)) == sorted(gen.LAKE_OPS)


def test_corpus_plants_copies_and_the_oracle_finds_them():
    g = gen.CorpusGenerator(11, base_docs=200, exact_sources=30, near_sources=30)
    f, plan = g.frame, g.plan
    assert f["doc_id"].is_unique and len(f) == plan.docs
    assert plan.docs == 200 + plan.exact_copies + plan.near_copies
    text = dict(zip(f["doc_id"], f["text"]))
    groups: dict = {}
    for doc, root in plan.groups.items():
        groups.setdefault(root, []).append(doc)
    assert len(groups) == 200
    for members in groups.values():
        lens = {len(text[m].split()) for m in members}
        assert max(lens) - min(lens) <= 1  # exact copies or one word dropped

    keep = oracle.survivors(plan.groups)
    assert len(keep) == 200
    assert all(min(m) in keep for m in groups.values())
    exact = oracle.exact_groups(f)
    assert sum(exact.values()) - len(exact) >= plan.exact_copies

    clean = oracle.clean_segments(f[f["doc_id"].isin(keep)])
    assert len(clean) == 200
    assert clean["removed_segments"].sum() >= plan.boilerplate_docs * 0.9
    words = {i: len(t.split()) for i, t in zip(f["doc_id"], f["text"])}
    for r in clean.itertuples():
        assert r.kept_segments + r.removed_segments == -(-words[r.id] // gen.SEGMENT_WORDS)


def test_tail_needs_ten_samples_beyond_it():
    assert tail(list(range(19))) is None
    pct, value, beyond = tail(list(range(1, 21)))
    assert (pct, value, beyond) == (50.0, 10, 10)
    pct, value, beyond = tail(list(range(1, 1001)))
    assert pct == 99.0 and beyond == 10
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)
    lat = Latencies()
    lat.add("a", 0.001)
    lat.add("b", 0.1)
    assert lat.p50_geomean_ms() == pytest.approx(10.0)


def test_benchmark_json_matches_the_reported_metrics():
    from perfbench.run import E2E_UNITS, LAYER_UNITS, WORKLOAD_NAMES
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOAD_NAMES)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
