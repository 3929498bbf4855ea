"""The benchmark's own arithmetic, generators and references."""

import os

import numpy as np
import pandas as pd
import pytest

import check
import gen
import metrics
import spans


def test_tail_percentile_has_ten_samples_beyond():
    values = list(range(1, 101))
    p, n, v = metrics.tail_percentile(values)
    assert (p, n) == (90, 100)
    assert sum(1 for x in values if x > v) >= 10
    assert sum(1 for x in values if x > np.percentile(values, p + 1)) < 10


def test_self_time_subtracts_direct_children():
    tr = spans.Tracer()
    tr.op = "x"
    tr.spans = [["op", 0.0, 10.0, -1, "x"],
                ["queries.plan", 1.0, 4.0, 0, "x"],
                ["registry.load_table", 1.5, 2.0, 1, "x"],
                ["exec.force", 5.0, 9.0, 0, "x"]]
    st = tr.self_times("x")
    assert st == {"op": 3.0, "queries.plan": 2.5,
                  "registry.load_table": 0.5, "exec.force": 4.0}
    assert sum(st.values()) == 10.0


def test_install_rebinds_imported_names_and_uninstalls():
    from python_minerva_etl_spark.queries import base
    from python_minerva_etl_spark import registry
    original = registry.load_table
    tr = spans.Tracer()
    undo = spans.install(tr)
    try:
        assert base.load_table is registry.load_table
        assert registry.load_table is not original
    finally:
        spans.uninstall(undo)
    assert registry.load_table is original and base.load_table is original


def _brute_pairs(doc, fp, k):
    out = []
    u = fp.astype(np.int64).view(np.uint64)
    for i in range(len(doc)):
        for j in range(i + 1, len(doc)):
            h = bin(int(u[i] ^ u[j])).count("1")
            if h <= k:
                a, b = sorted((int(doc[i]), int(doc[j])))
                out.append((a, b, h))
    return sorted(out)


def test_simhash_pairs_match_all_pairs_search():
    rng = np.random.default_rng(5)
    base = rng.integers(-2**63, 2**63 - 1, 40, dtype=np.int64)
    fps = [base]
    for flips in (1, 2, 3, 4):  # near copies at known distances
        bits = rng.integers(0, 64, (40, flips))
        mask = np.zeros(40, dtype=np.uint64)
        for c in range(flips):
            mask |= np.uint64(1) << bits[:, c].astype(np.uint64)
        fps.append((base.view(np.uint64) ^ mask).view(np.int64))
    fp = np.concatenate(fps)
    doc = np.arange(len(fp), dtype=np.int64) * 3
    got = check.simhash_pairs(doc, fp)
    want = _brute_pairs(doc, fp, 3)
    assert sorted(map(tuple, got.to_numpy().tolist())) == want


def test_last_wins_latest_batch_then_highest_event_id():
    hour = check.HOUR_US
    b0 = pd.DataFrame({"event_id": [1, 2], "ts": [0, hour],
                       "user_id": [7, 7], "value": [1.25, 2.5]})
    b1 = pd.DataFrame({"event_id": [0, 3], "ts": [10, 20],
                       "user_id": [7, 7], "value": [4.0, 8.0]})
    states = list(check.last_wins_states([b0, b1]))
    state, sig = states[-1]
    # the later batch wins the shared key even with a lower event_id
    # in it; within the batch the highest event_id wins
    row = state[state["bucket_us"] == 0].iloc[0]
    assert (row["event_id"], row["value"]) == (3, 8.0)
    assert sig == {"groups": 1, "samples": 2, "sum_value": "10.5"}


def test_generators_are_seeded(tmp_path):
    a = gen.write_corpus(str(tmp_path / "a"), 3, 400, 4)
    b = gen.write_corpus(str(tmp_path / "b"), 3, 400, 4)
    assert a == b
    for f in sorted(os.listdir(tmp_path / "a" / "documents.parquet")):
        assert (tmp_path / "a" / "documents.parquet" / f).read_bytes() \
            == (tmp_path / "b" / "documents.parquet" / f).read_bytes()
    assert a["files"] == 4 and a["rows"] == 400
    _, props, frames = gen.write_ingest_batches(str(tmp_path / "i"), 3,
                                                2000, 4)
    assert props[0]["updated_key_share"] == 0
    assert all(p["updated_key_share"] > 0 for p in props[1:])
    assert sum(len(f) for f in frames) == sum(p["rows"] for p in props)


def test_clique_profile_is_heavy_tailed_and_seed_free():
    sizes = gen.clique_sizes(750)
    assert sum(sizes) - len(sizes) >= 750
    assert max(sizes) >= 20 * int(np.median(sizes))
    assert sizes == gen.clique_sizes(750)


@pytest.mark.parametrize("sf", [0.001])
def test_tables_have_fixture_schema(tmp_path, sf):
    import pyarrow.parquet as pq
    rows = gen.write_tables(str(tmp_path), 1, sf)
    assert rows["lineitem"] == 6000 and rows["events"] == 1000
    schema = pq.read_schema(tmp_path / "events.parquet")
    assert [f.name for f in schema] == ["event_id", "ts", "user_id",
                                        "event_type", "value", "props"]
    assert str(schema.field("ts").type) == "timestamp[us]"
