"""Seeded input generation for every workload.

Everything the engine sees comes from here, derived only from the seed:

* ``write_fixtures`` writes the ten sf-shaped fixture tables (the schemas
  of the registry's ``tables.TABLES``, one parquet file each) that the
  registered queries read.
* ``CdcFeed.full_load`` / ``CdcFeed.batch`` make the DMS-style change
  feed over an ``orders``-shaped table: rows tagged ``op`` in
  {I, U, D, NULL} with a ``process_date`` event time, duplicate keys
  inside a batch, new keys, a delete of a key that never existed and a
  late row that the watermark must drop.

Batch ``i`` depends only on the seed, ``i`` and the feed's size, so the
same seed replays byte-identical batches in any process.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the fixture tables at scale factor 0.1 (TESTDATA.md).
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "hot", "large", "new", "red", "small", "cold", "old"]
_PART_NOUN = ["anvil", "bolt", "gizmo", "ring", "rod", "widget", "gear", "nut"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: Event time of the full load; every CDC batch lands after it.
FEED_EPOCH = dt.datetime(2024, 1, 1)
_US_PER_DAY = 86_400_000_000
_DATE0 = np.datetime64("1995-01-01T00:00:00", "us")

ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)
FEED_SCHEMA = pa.schema(
    list(ORDERS_SCHEMA) + [("process_date", pa.timestamp("us")), ("op", pa.string())]
)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, span_days: int, n: int) -> np.ndarray:
    return _DATE0 + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def _orders_cols(rng: np.random.Generator, keys: np.ndarray) -> dict:
    n = len(keys)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, 15_000, n),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, 2_400, n),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    }


def _distinct_offsets(rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    """``n`` distinct microsecond offsets in ``[0, span)``, shuffled."""
    step = span // n
    return rng.permutation(np.arange(n) * step + rng.integers(0, step, n))


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n_words))


def fixture_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The ten fixture tables, ``scale`` times their sf0.1 row counts."""
    rows = {k: max(10, int(v * scale)) for k, v in SF01_ROWS.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    rng = _rng(seed, 1)
    n = rows["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, _SEGMENTS, n),
        }
    )
    n = rows["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = rows["part"]
    adj = np.asarray(_PART_ADJ, dtype=object)[rng.integers(0, len(_PART_ADJ), n)]
    noun = np.asarray(_PART_NOUN, dtype=object)[rng.integers(0, len(_PART_NOUN), n)]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, _PART_TYPES, n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n) / 10.0, 2),
        }
    )
    rng = _rng(seed, 2)
    out["orders"] = pa.table(
        _orders_cols(rng, np.arange(rows["orders"])), schema=ORDERS_SCHEMA
    )
    n = rows["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, rows["orders"], n),
            "l_partkey": rng.integers(0, rows["part"], n),
            "l_suppkey": rng.integers(0, rows["supplier"], n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, 2_500, n),
        }
    )
    rng = _rng(seed, 3)
    n = rows["events"]
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1_500, n),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": np.round(rng.exponential(40.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    rng = _rng(seed, 4)
    n = rows["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, _LANGS, n, p=_LANG_P),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )
    rng = _rng(seed, 5)
    n = rows["embeddings"]
    vec = rng.standard_normal((n, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )
    return out


def write_fixtures(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the fixture tables under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in fixture_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


class CdcFeed:
    """DMS-style change feed over an ``orders``-shaped table.

    ``full_load()`` is the initial extract, every row an ``I``;
    ``batch(i)`` is micro-batch ``i`` (0-based), ``BATCH_SHARE`` times the
    full load's rows:

    * ``op`` takes each of I, U, D and NULL on a quarter of the rows; NULL
      rows are kept by the pipeline;
    * an ``I`` row inserts a key never seen before;
    * U, D and NULL rows hit existing keys, drawn with replacement and
      with a bias towards recently inserted ones (see ``RECENCY``), and
      a key drawn twice appears twice in one batch, each version with
      its own ``process_date`` (the latest wins);
    * one ``D`` row hits a key that never existed (a no-op delete);
    * one row carries a ``process_date`` before the full load's, which
      the watermark drops.

    No source fixes the real mix of such a feed; the even op split and
    the single ghost delete and late row are the fewest choices that
    cover every case the pipeline must handle.

    Event times strictly increase from batch to batch, and no two rows of
    one key share a ``process_date``, so the latest-per-key winner is
    unambiguous.
    """

    OPS = np.array(["I", "U", "D", None], dtype=object)
    #: Rows per batch as a share of the full load's rows.
    BATCH_SHARE = 0.01
    #: The distance of a changed key from the newest key is exponential
    #: with mean ``1 / RECENCY`` of the key range: the newest quarter of
    #: the keys takes about 63% of the changes and the oldest quarter
    #: about 5%, so a copy-on-write merge over files clustered by key
    #: would rewrite some files but not all.
    RECENCY = 4

    def __init__(self, seed: int, rows: int = SF01_ROWS["orders"]):
        self.seed = seed
        self.rows = rows
        self.batch_rows = max(8, int(rows * self.BATCH_SHARE))

    def full_load(self) -> pa.Table:
        rng = _rng(self.seed, 100)
        keys = np.arange(self.rows, dtype=np.int64)
        cols = _orders_cols(rng, keys)
        # one distinct microsecond per row within the load's day
        offs = _distinct_offsets(rng, self.rows, _US_PER_DAY)
        cols["process_date"] = np.datetime64(FEED_EPOCH, "us") + offs.astype("timedelta64[us]")
        cols["op"] = pa.array(np.full(self.rows, "I", dtype=object))
        return pa.table(cols, schema=FEED_SCHEMA)

    def batch_time(self, i: int) -> np.datetime64:
        """Start of batch ``i``'s one-hour event-time window; batches sit
        a day apart, after the full load's day."""
        return np.datetime64(FEED_EPOCH, "us") + np.timedelta64(1 + i, "h") * 24

    def batch(self, i: int) -> pa.Table:
        rng = _rng(self.seed, 1000 + i)
        n = self.batch_rows
        ops = self.OPS[rng.permutation(np.arange(n) % 4)]
        inserts = ops == "I"
        n_new = int(inserts.sum())
        # keys inserted by earlier batches start at `rows`; batch i owns
        # the block [rows + i*n_new, rows + (i+1)*n_new)
        top = self.rows + i * n_new
        back = rng.exponential(top / self.RECENCY, n - n_new).astype(np.int64)
        keys = np.empty(n, dtype=np.int64)
        keys[inserts] = np.arange(top, top + n_new)
        keys[~inserts] = top - 1 - np.minimum(back, top - 1)
        keys[np.flatnonzero(ops == "D")[0]] = -1 - i  # never inserted
        cols = _orders_cols(rng, keys)
        offs = _distinct_offsets(rng, n, 3_600_000_000).astype("timedelta64[us]")
        pdate = self.batch_time(i) + offs
        late = int(rng.integers(0, n))
        pdate[late] = np.datetime64(FEED_EPOCH, "us") - np.timedelta64(1, "h") + offs[late]
        cols["process_date"] = pdate
        cols["op"] = pa.array(ops)
        return pa.table(cols, schema=FEED_SCHEMA)
