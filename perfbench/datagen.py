"""Seeded input generator for the benchmark.

Writes the engine's table catalog (TPC-H-style star schema, ``events``,
``documents``, ``embeddings``; one parquet file per table) at a given
scale factor. Parquet types, row counts and value domains follow the
engine's parquet fixtures as written at sf0.001, sf0.01 and sf0.1
(timestamps are ``timestamp[us]``; documents are 10-100-token word soup
over a 30-word vocabulary, 5% of them another document plus a
trailing ``dup`` token; 15 000 event users per unit of sf). The same seed
gives byte-identical inputs. Row counts scale linearly with ``sf``; the
small tables keep the fixture floors (10 suppliers, 500 documents and
embeddings, 15 event users).

``python3 perfbench/datagen.py --compare DIR --sf 0.01`` generates a
catalog and compares it, table by table and column by column (type, row
count, range, distinct count), with the fixture catalog in ``DIR``.

Also generates the events of the ``stream_window`` workload: a zipf-skewed
``user_id``, bounded out-of-order event time and a small share of events
far behind the watermark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _pick(rng, values, n, p=None):
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def make_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    nk = np.arange(25, dtype=np.int32)
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    brands = [f"Brand#{i}" for i in range(1, 26)]
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, brands, n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_line) * DAY_US),
    })
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_evt))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_evt, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    _write(out_dir, "documents", _documents(rng, n_doc))
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64)
        .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_evt,
        "documents": n_doc, "embeddings": n_emb,
    }


def _documents(rng, n: int) -> dict:
    """Word-soup documents of 10-100 tokens; ~5% are another document
    plus a trailing ``dup`` token (near duplicates; two near duplicates of
    the same document are exact duplicates of each other)."""
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)
    base = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    near = rng.random(n) < 0.05
    src = rng.integers(0, n - 1, n)
    src += src >= np.arange(n)  # any document but itself
    texts = [base[j] + " dup" if d else t for t, d, j in zip(base, near, src)]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


STREAM_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("user_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("value", pa.float64()),
    ("created_us", pa.int64()),
])


USERS = 1000  # stream users, zipf-skewed with exponent ZIPF_A
ZIPF_A = 1.3
OOO_US = 1_000_000  # bounded out-of-orderness of on-time events
LATE_SHARE = 0.01  # share of late events once they are allowed
LATE_US = 3_600_000_000  # how far behind creation late events lie, at least


class EventSource:
    """Deterministic event batches for ``stream_window``.

    ``user_id`` follows a zipf law over ``USERS``; event time trails the
    creation time by up to ``OOO_US`` (bounded out-of-order). When
    ``allow_late`` is set, a share ``LATE_SHARE`` of events lies at least
    ``LATE_US`` behind creation, far behind any watermark. Each late event
    gets a window of its own (counting back from the first one), so one
    dropped partial aggregate is one dropped event."""

    def __init__(self, seed: int, window_us: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.window_us = window_us
        self.next_id = 0
        self.n_late = 0
        self.late_anchor = None

    def batch(self, n: int, created_us: int, allow_late: bool):
        """Returns (table, late mask)."""
        rng = self.rng
        users = (rng.zipf(ZIPF_A, n) - 1) % USERS
        ts = created_us - rng.integers(0, OOO_US, n)
        late = (rng.random(n) < LATE_SHARE) & allow_late
        k = int(late.sum())
        if k:  # one window per late event, counting back from the anchor
            if self.late_anchor is None:
                self.late_anchor = (created_us - LATE_US) // self.window_us * self.window_us
            ts[late] = self.late_anchor - (self.n_late + np.arange(k)) * self.window_us
        self.n_late += k
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        table = pa.table({
            "event_id": ids,
            "user_id": users.astype(np.int64),
            "ts": _ts(ts),
            "value": np.round(rng.uniform(0.0, 100.0, n), 2),
            "created_us": np.full(n, created_us, dtype=np.int64),
        }, schema=STREAM_SCHEMA)
        return table, late


def make_backlog(out_dir: str, seed: int, window_us: int, n_files: int,
                 per_file: int, spacing_us: int = 100_000) -> int:
    """A fixed backlog of on-time events for the replay phase; returns the
    number of events written."""
    os.makedirs(out_dir, exist_ok=True)
    src = EventSource(seed, window_us)
    base = int(np.datetime64("2024-06-01", "us").astype(np.int64))
    for i in range(n_files):
        table, _ = src.batch(per_file, base + i * spacing_us, allow_late=False)
        write_atomic(table, out_dir, f"b{i:04d}.parquet")
    return n_files * per_file


def write_atomic(table: pa.Table, directory: str, name: str) -> str:
    """Write ``name`` into ``directory`` by temp-and-rename, so a
    directory-watching reader never sees a partial file."""
    tmp = os.path.join(directory, f".{name}.tmp")
    final = os.path.join(directory, name)
    pq.write_table(table, tmp)
    os.rename(tmp, final)
    return final


def profile(path: str) -> dict[str, tuple]:
    """Per column of one parquet file: (type, rows, min, max, distinct);
    list columns give their first element's length instead of a range."""
    import pyarrow.compute as pc

    table = pq.read_table(path)
    out = {}
    for name in table.column_names:
        col = table[name]
        if pa.types.is_list(col.type):
            lo = hi = len(col[0].as_py())
            distinct = None
        else:
            mm = pc.min_max(col).as_py()
            lo, hi = mm["min"], mm["max"]
            distinct = pc.count_distinct(col).as_py()
        out[name] = (str(col.type), table.num_rows, lo, hi, distinct)
    return out


def compare(fixtures_dir: str, sf: float, seed: int) -> int:
    """Print generated vs fixture profiles; returns the number of tables
    whose column names, types or row counts differ."""
    import tempfile

    bad = 0
    with tempfile.TemporaryDirectory() as tmp:
        make_tables(tmp, sf, seed)
        for name in sorted(os.listdir(tmp)):
            want = profile(os.path.join(fixtures_dir, name))
            got = profile(os.path.join(tmp, name))
            shape = {c: v[:2] for c, v in got.items()}
            same = shape == {c: v[:2] for c, v in want.items()}
            bad += not same
            print(f"{name}: {'same' if same else 'DIFFERENT'} columns, types and rows")
            for c in sorted(want.keys() | got.keys()):
                print(f"  {c}\n    fixture   {want.get(c)}\n    generated {got.get(c)}")
    return bad


if __name__ == "__main__":
    import argparse
    import sys

    ap = argparse.ArgumentParser(description="compare generated tables with fixtures")
    ap.add_argument("--compare", required=True, help="directory of fixture parquet files")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.exit(1 if compare(args.compare, args.sf, args.seed) else 0)
