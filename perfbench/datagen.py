"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed writes
byte-identical files. Nothing imports Spark, so the generators (and
the counts they report) can be checked without a session.

* ``write_tables`` writes the ten parquet tables ``session.load_tables``
  reads, with the same column names and types as the engine's test data
  and similar value distributions (TPC-H-style keys and money columns,
  a 30-day click stream, a small document corpus with near-duplicates,
  clustered unit embeddings).
* ``write_corpus`` writes the LDJSON input of the ``esIndex`` path: event
  rows replicated under unique doc ids, with fixed shares of malformed,
  blank and null-id lines. It returns the exact counts it wrote.
* ``ServeModel`` is the seeded operation stream of ``serve_mixed``
  (Zipf-skewed point lookups, absent ids, upsert and tombstone batches)
  plus the row count each lookup must return.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Column types of the corpus documents (DDL read by ``read_json_lines``).
CORPUS_SCHEMA_DDL = (
    "doc_id STRING, user_id BIGINT, event_type STRING, ts TIMESTAMP, "
    "value DOUBLE, props STRING"
)
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")

# The load shape below is assumed, not measured: no trace of a real
# feed or query log backs any of these values. Each is picked so that
# every code path it feeds runs in every run, at a share small enough
# not to dominate the cost. Change them only together with the
# benchmark's baseline.

#: Shares of corpus lines that are malformed, blank, or carry a null
#: id: enough that each quarantine / fail path sees hundreds of lines
#: per corpus, while over 98 % of the lines are indexed.
MALFORMED_SHARE, BLANK_SHARE, NULL_ID_SHARE = 0.01, 0.005, 0.005
#: Lookup skew of ``serve_mixed`` (a hot-key Zipf exponent in the usual
#: 1-1.5 range of key-value traces) and the share of ids never indexed
#: (misses must be served too, but most lookups should hit).
ZIPF_A, ABSENT_SHARE = 1.2, 0.1
#: One delta batch of ``BATCH_SIZE`` ids per ``LOOKUPS_PER_WRITE``
#: lookups, every ``DELETE_EVERY``-th batch a tombstone batch: a
#: read-mostly mix in which each kind of write happens within a few
#: seconds, so later lookups observe it.
LOOKUPS_PER_WRITE, BATCH_SIZE, DELETE_EVERY = 25, 60, 3
#: The analytics tables at the engine's sf0.01 test-data sizes, and the
#: part files of an LDJSON corpus.
TABLE_SCALE, CORPUS_FILES = 0.01, 8
_EVENTS_START = dt.datetime(2024, 1, 1)
_EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream), so adding a table never
    shifts the values of another."""
    key = int.from_bytes(stream.encode(), "little") % (2**32)
    return np.random.default_rng([seed, key])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def _events_columns(rng, n: int, n_users: int) -> dict:
    ts = np.sort(rng.integers(0, _EVENTS_SPAN_US, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return {
        "ts_us": ts,
        "user_id": rng.integers(0, n_users, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": value,
        "k": rng.integers(0, 100, n),
    }


def _clear_session_boundary(ev: dict) -> dict:
    """Keep every per-user gap between consecutive events at least one
    second away from 30 minutes, then re-sort by time.

    ``t3_session_windows`` compares gaps of whole seconds (``ts`` cast
    to long) while its oracle compares exact intervals, so a gap in
    (30 min, 30 min + 1 s) splits a session on one side only. That is
    an engine defect the benchmark does not measure; the inputs stay
    clear of it.
    """
    ts, users = ev["ts_us"].copy(), ev["user_id"]
    lo, hi = 1_799_000_000, 1_801_000_000
    while True:
        order = np.lexsort((ts, users))
        gap = np.diff(ts[order])
        bad = (users[order][1:] == users[order][:-1]) & (gap >= lo) & (gap <= hi)
        if not bad.any():
            break
        ts[order[1:][bad]] += 2 * (hi - lo)
    resort = np.argsort(ts, kind="stable")
    out = {k: v[resort] for k, v in ev.items()}
    out["ts_us"] = ts[resort]
    return out


# --- the ten analytics tables ---------------------------------------------

_ADJ = ("small", "red", "blue", "hot", "cold", "new", "old", "large")
_NOUN = ("ring", "widget", "bolt", "gear", "anvil", "gizmo", "plate", "rod")
_WORDS = (
    "a the data table row column key value hash join merge sort scan filter "
    "group agg window stream batch query spark vector part line order "
    "customer small big fast slow"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write ``{name}.parquet`` for the ten tables; return row counts.

    ``TABLE_SCALE`` follows the engine's test-data naming: 0.01 gives
    1,500 customers, 15,000 orders and 60,000 line items.
    """
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * TABLE_SCALE)
    n_supp = max(10, int(10_000 * TABLE_SCALE))
    n_part = int(200_000 * TABLE_SCALE)
    n_ord = int(1_500_000 * TABLE_SCALE)
    n_li = 4 * n_ord
    n_ev = int(1_000_000 * TABLE_SCALE)
    n_docs = max(500, int(50_000 * TABLE_SCALE))
    n_emb = max(500, int(20_000 * TABLE_SCALE))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    tables = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    r = _rng(seed, "customer")
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust), f64),
            "c_mktsegment": r.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    r = _rng(seed, "supplier")
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp), f64),
        }
    )
    r = _rng(seed, "part")
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": r.choice(names, n_part),
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": r.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": pa.array(r.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1), f64
            ),
        }
    )
    r = _rng(seed, "orders")
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, n_ord), f64),
            "o_orderdate": _days(r, dt.date(1995, 1, 1), 2400, n_ord),
            "o_orderpriority": r.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    r = _rng(seed, "lineitem")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), i32),
            "l_quantity": pa.array(r.integers(1, 51, n_li).astype(float), f64),
            "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, n_li), f64),
            "l_discount": pa.array(np.round(r.uniform(0.0, 0.10, n_li), 2), f64),
            "l_tax": pa.array(np.round(r.uniform(0.0, 0.08, n_li), 2), f64),
            "l_returnflag": r.choice(["A", "N", "R"], n_li),
            "l_linestatus": r.choice(["F", "O"], n_li),
            "l_shipdate": _days(r, dt.date(1995, 1, 2), 2500, n_li),
        }
    )
    r = _rng(seed, "events")
    ev = _clear_session_boundary(_events_columns(r, n_ev, n_users=max(10, n_ev // 66)))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(
                np.datetime64(_EVENTS_START, "us") + ev["ts_us"].astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(ev["user_id"], i64),
            "event_type": ev["event_type"],
            "value": pa.array(ev["value"], f64),
            "props": [f'{{"k": {k}}}' for k in ev["k"]],
        }
    )
    r = _rng(seed, "documents")
    texts = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.05:
            # near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(_WORDS, int(r.integers(10, 100)))))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": r.choice(_LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    r = _rng(seed, "embeddings")
    dim, n_lab = 64, 10
    centers = r.normal(0.0, 1.0, (n_lab, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = r.integers(0, n_lab, n_emb)
    vecs = 0.14 * centers[labels] + r.normal(0.0, 0.125, (n_emb, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --- the LDJSON corpus --------------------------------------------------------


@dataclass
class CorpusCounts:
    """What ``write_corpus`` wrote, line by line."""

    lines: int = 0
    good: int = 0  # parseable lines, null-id lines included
    malformed: int = 0
    blank: int = 0
    null_id: int = 0
    bytes: int = 0
    #: every non-null doc id, in file order
    doc_ids: list[str] = field(default_factory=list)

    @property
    def indexed(self) -> int:
        return self.good - self.null_id


def _ts_text(ts_us: int) -> str:
    return (_EVENTS_START + dt.timedelta(microseconds=int(ts_us))).strftime(
        "%Y-%m-%dT%H:%M:%S.%f"
    )[:-3]


def write_corpus(out_dir: str, seed: int, n_lines: int) -> CorpusCounts:
    """Write ``n_lines`` LDJSON lines over ``CORPUS_FILES`` part files.

    Lines replicate a 10,000-row event sample, each copy under a unique
    doc id. Malformed lines are documents cut mid-record; blank lines
    are empty; null-id lines carry ``"doc_id": null``.
    """
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "corpus")
    ev = _events_columns(r, 10_000, n_users=150)
    bodies = [
        f'"user_id": {u}, "event_type": "{e}", "ts": "{_ts_text(t)}", '
        f'"value": {v}, "props": "{{\\"k\\": {k}}}"}}'
        for u, e, t, v, k in zip(
            ev["user_id"], ev["event_type"], ev["ts_us"], ev["value"], ev["k"]
        )
    ]
    kinds = r.choice(
        4,
        n_lines,
        p=[
            1.0 - MALFORMED_SHARE - BLANK_SHARE - NULL_ID_SHARE,
            MALFORMED_SHARE,
            BLANK_SHARE,
            NULL_ID_SHARE,
        ],
    )
    src = r.integers(0, len(bodies), n_lines)
    cuts = r.integers(5, 40, n_lines)
    counts = CorpusCounts(lines=n_lines)
    per_file = -(-n_lines // CORPUS_FILES)
    for f in range(CORPUS_FILES):
        out = []
        for i in range(f * per_file, min(n_lines, (f + 1) * per_file)):
            kind = kinds[i]
            if kind == 2:
                out.append("")
                counts.blank += 1
                continue
            if kind == 3:
                out.append('{"doc_id": null, ' + bodies[src[i]])
                counts.null_id += 1
                counts.good += 1
                continue
            doc_id = f"d{seed:x}-{i:08d}"
            line = f'{{"doc_id": "{doc_id}", ' + bodies[src[i]]
            if kind == 1:
                out.append(line[: cuts[i]])
                counts.malformed += 1
            else:
                out.append(line)
                counts.good += 1
                counts.doc_ids.append(doc_id)
        text = "\n".join(out) + "\n"
        with open(os.path.join(out_dir, f"part-{f:03d}.json"), "w") as fh:
            fh.write(text)
        counts.bytes += len(text.encode())
    return counts


def corpus_doc(doc_id: str, rng: np.random.Generator) -> dict:
    """One document row (the corpus schema) for an upsert batch."""
    return {
        "doc_id": doc_id,
        "user_id": int(rng.integers(0, 150)),
        "event_type": str(rng.choice(EVENT_TYPES)),
        "ts": _EVENTS_START + dt.timedelta(microseconds=int(rng.integers(0, _EVENTS_SPAN_US))),
        "value": float(np.round(rng.exponential(50.0), 2)),
        "props": json.dumps({"k": int(rng.integers(0, 100))}),
    }


# --- the serve_mixed operation stream --------------------------------------


@dataclass
class Op:
    kind: str  # "lookup" | "upsert" | "delete"
    doc_id: str | None = None
    rows: list[dict] | None = None  # delta batch (upsert/delete)
    expected: int | None = None  # lookup: rows read_shard must return


class ServeModel:
    """Seeded op stream over an index built from ``doc_ids``.

    Lookup ids are Zipf-skewed over a seeded ranking of the indexed ids;
    ``ABSENT_SHARE`` of them name ids that were never indexed. The
    stream is a sequence of cycles: one delta batch of ``BATCH_SIZE``
    distinct ids drawn the same way, then ``LOOKUPS_PER_WRITE`` lookups;
    every ``DELETE_EVERY``-th batch is a tombstone batch. ``read_shard``
    returns the raw log rows of an id (base row, every upsert version
    and every tombstone), so the expected count of a lookup is the
    number of rows written for that id so far.
    """

    def __init__(self, seed: int, doc_ids: list[str]):
        self._rng = _rng(seed, "serve")
        self._ids = list(doc_ids)
        self._order = self._rng.permutation(len(self._ids))
        self.rows_written = dict.fromkeys(self._ids, 1)
        self._since_write = LOOKUPS_PER_WRITE
        self._n_batches = 0
        self._n_absent = 0

    def _hot_id(self) -> str:
        rank = int(self._rng.zipf(ZIPF_A)) - 1
        return self._ids[self._order[rank % len(self._ids)]]

    def next_op(self) -> Op:
        if self._since_write >= LOOKUPS_PER_WRITE:
            return self.next_write()
        return self.next_lookup()

    def next_lookup(self) -> Op:
        self._since_write += 1
        if self._rng.random() < ABSENT_SHARE:
            self._n_absent += 1
            return Op("lookup", doc_id=f"absent-{self._n_absent:08d}", expected=0)
        doc_id = self._hot_id()
        return Op("lookup", doc_id=doc_id, expected=self.rows_written[doc_id])

    def next_write(self) -> Op:
        self._since_write = 0
        self._n_batches += 1
        delete = self._n_batches % DELETE_EVERY == 0
        batch = {}
        while len(batch) < BATCH_SIZE:
            doc_id = self._hot_id()
            batch.setdefault(doc_id, corpus_doc(doc_id, self._rng))
        for doc_id in batch:
            self.rows_written[doc_id] += 1
        return Op("delete" if delete else "upsert", rows=list(batch.values()))
