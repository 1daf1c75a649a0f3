"""Tests of the benchmark itself (no Spark needed):

    python -m pytest lakebench -q
"""

from __future__ import annotations

import datetime as dt
import io
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lakebench import cdcoracle, inputs, run
from lakebench.tracing import Spans, union_length
from lakebench.workloads import LISTED, WORKLOADS, is_meta

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def test_same_seed_gives_byte_identical_batches():
    a, b = inputs.CdcFeed(seed=5, rows=2_000), inputs.CdcFeed(seed=5, rows=2_000)
    assert _bytes(a.full_load()) == _bytes(b.full_load())
    for i in (0, 1, 7):
        assert _bytes(a.batch(i)) == _bytes(b.batch(i))


def test_other_seed_gives_other_batches():
    a, b = inputs.CdcFeed(seed=5, rows=2_000), inputs.CdcFeed(seed=6, rows=2_000)
    assert _bytes(a.full_load()) != _bytes(b.full_load())
    assert _bytes(a.batch(0)) != _bytes(b.batch(0))


def test_fixtures_follow_the_seed():
    a = inputs.fixture_tables(3, scale=0.01)
    b = inputs.fixture_tables(3, scale=0.01)
    c = inputs.fixture_tables(4, scale=0.01)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_batches_carry_every_feed_edge_case():
    feed = inputs.CdcFeed(seed=1)
    b = feed.batch(3).to_pydict()
    keys, ops = b["o_orderkey"], b["op"]
    assert len(keys) == feed.rows // 100
    assert len(keys) > len(set(keys)), "duplicate keys within a batch"
    assert all(ops.count(o) == len(ops) // 4 for o in ("I", "U", "D", None))
    inserted = {k for k, o in zip(keys, ops) if o == "I"}
    assert min(inserted) >= feed.rows, "an I row inserts a new key"
    assert any(k < 0 and o == "D" for k, o in zip(keys, ops)), "D on a key never inserted"
    assert min(b["process_date"]) < inputs.FEED_EPOCH, "late rows"
    per_key = {}
    for k, t in zip(keys, b["process_date"]):
        assert t not in per_key.setdefault(k, set()), "process_date tie within a key"
        per_key[k].add(t)


def _feed(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table(
        {
            "o_orderkey": pa.array(cols[0], pa.int64()),
            "o_custkey": pa.array([1] * len(rows), pa.int64()),
            "o_orderstatus": pa.array(cols[1]),
            "o_totalprice": pa.array([1.5] * len(rows)),
            "o_orderdate": pa.array([dt.datetime(1996, 1, 1)] * len(rows), pa.timestamp("us")),
            "o_orderpriority": pa.array(["5-LOW"] * len(rows)),
            "process_date": pa.array(cols[2], pa.timestamp("us")),
            "op": pa.array(cols[3], pa.string()),
        }
    )


def test_oracle_matches_hand_computed_chain():
    d = lambda day, h=0: dt.datetime(2024, 1, day, h)  # noqa: E731
    o = cdcoracle.CdcOracle()
    # full load: key 1 twice (latest wins), key 3 deleted in the load
    o.load(_feed([(1, "a", d(1), "I"), (1, "b", d(1, 5), "U"), (2, "c", d(1), "I"),
                  (3, "x", d(1), "D")]))
    assert sorted((r[0], r[2]) for r in o.query("SELECT * FROM {state}")) == [(1, "b"), (2, "c")]
    # batch 1: late row for key 2 dropped, D on never-seen key 9, key 4 with
    # op NULL kept, key 1 updated twice in one batch (latest wins)
    v1 = o.apply(_feed([(2, "late", d(1, 1), "U"), (9, "ghost", d(2), "D"),
                        (4, "null-op", d(2, 1), None), (1, "u1", d(2, 2), "U"),
                        (1, "u2", d(2, 3), "U")]))
    assert v1 == 1
    # batch 2: key 2 deleted; a duplicate of key 4 where the D is older
    v2 = o.apply(_feed([(2, "c", d(3), "D"), (4, "del", d(3, 1), "D"),
                        (4, "back", d(3, 2), "I")]))
    # batch 3: every row late -> nothing commits
    assert o.apply(_feed([(5, "late", d(1, 2), "I")])) is None
    state = lambda v: sorted((r[0], r[2]) for r in o.query("SELECT * FROM {state}", v))  # noqa: E731
    assert state(0) == [(1, "b"), (2, "c")]
    assert state(v1) == [(1, "u2"), (2, "c"), (4, "null-op")]
    assert state(v2) == [(1, "u2"), (4, "back")]
    assert state(None) == state(v2)
    assert o.count(v1) == 3
    # net change from the load to the tip: key 2 gone, key 1 and 4 new images
    net = {(r[0], r[2], r[-1]) for r in o.net_changes(0, v2)}
    assert net == {(1, "b", -1), (2, "c", -1), (1, "u2", 1), (4, "back", 1)}
    o.close()


def test_oracle_dml_and_compact():
    o = cdcoracle.CdcOracle()
    o.load(_feed([(k, "O", dt.datetime(2024, 1, 1, 0, k), "I") for k in range(6)]))
    v1 = o.delete_where("o_orderkey < 2")
    v2 = o.update_where("o_orderkey = 4", {"o_orderstatus": "'F'"})
    v3 = o.compact()
    assert (v1, v2, v3) == (1, 2, 3)
    assert o.count(v1) == 4
    assert o.query("SELECT o_orderstatus FROM {state} WHERE o_orderkey = 4", v2) == [("F",)]
    assert o.query("SELECT o_orderstatus FROM {state} WHERE o_orderkey = 4", v1) == [("O",)]
    assert o.rows(v3).equals(o.rows(v2))
    o.close()


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_every_workload_and_metric():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(LISTED)
    assert set(LISTED) <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_untraced_output_carries_exactly_the_end_to_end_metrics():
    m = run.end_to_end_metrics(setup_s=1.0, latencies=[0.1, 0.2, 0.3], rows=30, rss_mb=10.0)
    assert set(m) == set(run.END_TO_END)
    assert m["op_p50_s"] == 0.2 and m["ops_per_s"] == pytest.approx(5.0)


class _NoJobs:
    jobs: list = []
    cached_bytes_peak = 0

    def op_jobs(self, op):
        return []


class _NoLayers:
    def layer_metrics(self):
        return {}


def test_traced_output_carries_exactly_the_per_layer_metrics():
    spans = Spans(True)
    spans.op = 0
    with spans.span("cdc.merge_cdc_batch"):
        with spans.span("lake.upsert"):
            pass
    m = run.layer_metrics(spans, _NoJobs(), None, [{"id": 0, "t0": 0.0, "t1": 1.0}], _NoLayers())
    m.update(run.trace_summary_metrics(failed=0, attempted=1, bookkeeping=0.0))
    assert set(m) == set(run.PER_LAYER)


def test_self_time_subtracts_children():
    spans = Spans(True)
    spans.items = [
        {"id": 0, "name": "p", "parent": None, "op": 0, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "c", "parent": 0, "op": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "c", "parent": 0, "op": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "name": "p", "parent": None, "op": None, "start": 20.0, "end": 30.0},
    ]
    assert spans.self_seconds() == {"p": 6.0, "c": 5.0}
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0


def test_storage_split_of_data_and_metadata():
    root = "/t"
    assert not is_meta(root, "/t/part-0001.parquet")
    assert not is_meta(root, "/t/_change_data/cdc-0.parquet")
    assert is_meta(root, "/t/_delta_log/00000000000000000001.json")
    assert is_meta(root, "/t/_delta_log/00000000000000000010.checkpoint.parquet")
    assert is_meta(root, "/t/metadata/snap-1.avro")
    assert is_meta(root, "/t/_manifests/v2.json")
    assert is_meta(root, "/t/.part-0001.parquet.crc")
