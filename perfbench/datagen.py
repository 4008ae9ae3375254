"""Deterministic synthetic inputs for the benchmark.

Everything here is plain numpy/pyarrow: inputs are made before the engine
starts and never depend on it, so the same seed always yields the same
bytes.

- :func:`write_fixture_tables` writes the ten fixture tables the query
  registry reads (TPC-H-ish star schema, ``events``, ``documents``,
  ``embeddings``) in the same schema and value domains as the engine's
  test fixtures, at a chosen scale factor.
- :func:`person_snapshot` and :class:`PersonChangeGenerator` make the CDC
  workload's snapshot table and its I/U/D change log (wal2json v2 lines).
- :func:`document_change_log` turns ``documents`` into document change
  lines for the curation workload.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
EMB_DIM = 64

_US_PER_DAY = 86_400_000_000


def _days(rng, n, start, end):
    """Midnight timestamps (µs since epoch) uniform in [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _US_PER_DAY


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 40)
    n_emb = max(int(50_000 * sf), 40)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": _ts(_days(rng, n_li, "1995-01-02", "2001-11-04")),
        }
    )
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = np.sort(base + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": _money(rng, n_ev, 0.01, 490.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary; about 10% are
    near-duplicates (1-3 words substituted) of an earlier document and
    about 3% contain an earlier document's prefix, so the dedup and
    containment operators find real pairs."""
    texts: list[list[str]] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.10:
            words = list(texts[int(rng.integers(0, i))])
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        elif i > 10 and r < 0.13:
            src = texts[int(rng.integers(0, i))]
            words = src[: max(10, len(src) // 2)] + list(
                rng.choice(VOCAB, int(rng.integers(3, 12)))
            )
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        texts.append(words)
    text = [" ".join(w) for w in texts]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in text], dtype=np.int64),
        }
    )


def documents_table(n: int, seed: int) -> pa.Table:
    """``n`` documents alone, for the curation stream's input."""
    return _documents(np.random.default_rng([seed, 4]), n)


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors clustered around 10 label centroids."""
    centers = rng.normal(size=(10, EMB_DIM))
    labels = rng.integers(0, 10, n)
    v = centers[labels] * 0.35 + rng.normal(size=(n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": labels.astype(np.int32),
        }
    )


def write_fixture_tables(out_dir: str, sf: float, seed: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --- CDC workload inputs ----------------------------------------------------

NAMES = ("alice", "bob", "carol", "dave", "eve", "frank", "grace", "heidi", "ivan", "judy")
OTHER_TABLES = ("audit", "orders")
SNAPSHOT_CREATED_US = int(np.datetime64("2024-01-01", "us").astype(np.int64))


def _uid(rng) -> str:
    h = rng.bytes(16).hex()
    return f"{h[:8]}-{h[8:12]}-4{h[13:16]}-8{h[17:20]}-{h[20:32]}"


def person_snapshot(n: int, seed: int) -> dict[int, tuple]:
    """Source table at copy time: id -> (name, uid, score, created_at µs)."""
    rng = np.random.default_rng([seed, 1])
    scores = rng.integers(1, 101, n)
    names = rng.integers(0, len(NAMES), n)
    return {
        i: (f"{NAMES[names[i - 1]]}_{i}", _uid(rng), int(scores[i - 1]), SNAPSHOT_CREATED_US + i * 1_000_000)
        for i in range(1, n + 1)
    }


def snapshot_table(snap: dict[int, tuple]) -> pa.Table:
    ids = list(snap)
    vals = list(snap.values())
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "name": [v[0] for v in vals],
            "uid": [v[1] for v in vals],
            "score": pa.array([v[2] for v in vals], pa.int32()),
            "created_at": _ts([v[3] for v in vals]),
        }
    )


def _us_to_text(us: int) -> str:
    return str(np.datetime64(us, "us")).replace("T", " ")


class PersonChangeGenerator:
    """Seeded I/U/D source-table writer.

    Inserts and deletes have equal shares so the table size stays flat;
    updates hit keys drawn from a skewed (Zipf-like) distribution over the
    live keys.  About 2% of lines are malformed and about 5% belong to
    another table.  ``created_at`` of an insert is the event's scheduled
    creation time, so the lag monitor reads real lag.
    """

    MALFORMED = 0.02
    OTHER_TABLE = 0.05

    def __init__(self, snap: dict[int, tuple], seed: int):
        self.rng = np.random.default_rng([seed, 2])
        self.live = list(snap)
        self.pos = {k: i for i, k in enumerate(self.live)}
        self.next_id = max(snap) + 1
        self.seq = 0

    def _pick_live(self, skewed: bool) -> int:
        n = len(self.live)
        if skewed:
            i = min(int(self.rng.zipf(1.3)) - 1, n - 1)
            i = (i * 7919) % n  # hot keys spread over the key space
        else:
            i = int(self.rng.integers(0, n))
        return self.live[i]

    def _remove(self, key: int) -> None:
        i = self.pos.pop(key)
        last = self.live.pop()
        if last != key:
            self.live[i] = last
            self.pos[last] = i

    def lines(self, n: int, created_us: list[int]) -> list[str]:
        out = []
        for j in range(n):
            self.seq += 1
            r = self.rng.random()
            ts = _us_to_text(created_us[j])
            if r < self.MALFORMED:
                out.append('{"seq": %d, "action": "I", "table": "person", "colu' % self.seq)
                continue
            if r < self.MALFORMED + self.OTHER_TABLE:
                row = {"id": int(self.rng.integers(1, 1 << 30)), "name": "x", "uid": "u", "score": 1}
                out.append(_person_json(self.seq, "I", row, None, OTHER_TABLES[j % 2], ts))
                continue
            a = self.rng.random()
            score = int(self.rng.integers(1, 101))
            if a < 0.3 or len(self.live) < 2:
                key = self.next_id
                self.next_id += 1
                self.pos[key] = len(self.live)
                self.live.append(key)
                row = {
                    "id": key,
                    "name": f"{NAMES[key % 10]}_{key}",
                    "uid": _uid(self.rng),
                    "score": score,
                    "created_at": ts,
                }
                out.append(_person_json(self.seq, "I", row, None, "person", ts))
            elif a < 0.6:
                key = self._pick_live(skewed=False)
                self._remove(key)
                out.append(_person_json(self.seq, "D", None, {"id": key}, "person", ts))
            else:
                key = self._pick_live(skewed=True)
                row = {
                    "id": key,
                    "name": f"upd_{key}_{self.seq}",
                    "uid": _uid(self.rng),
                    "score": score,
                    "created_at": ts,
                }
                out.append(_person_json(self.seq, "U", row, {"id": key}, "person", ts))
        return out


_PERSON_TYPES = {
    "id": "integer",
    "name": "character varying(100)",
    "uid": "uuid",
    "score": "integer",
    "created_at": "timestamp without time zone",
}


def _person_json(seq, action, row, identity, table, ts) -> str:
    def cols(d):
        return [
            {"name": k, "type": _PERSON_TYPES.get(k, "text"), "value": None if v is None else str(v)}
            for k, v in d.items()
        ]

    payload = {"seq": seq, "action": action, "timestamp": ts, "schema": "public", "table": table}
    if row is not None:
        payload["columns"] = cols(row)
    if identity is not None:
        payload["identity"] = cols(identity)
    return json.dumps(payload)


# --- curation workload inputs -----------------------------------------------


def document_change_log(docs: pa.Table, seed: int, n_docs: int) -> list[str]:
    """wal2json document change lines over the first ``n_docs`` documents,
    renumbered in ascending ``doc_id`` (the quota gate's ordering
    contract).  A seeded share of exact re-emits and one-word
    near-duplicates controls how much work inputs share; about 1% of
    lines are malformed and about 1% carry schema drift (an added or a
    dropped column)."""
    rng = np.random.default_rng([seed, 3])
    rows = docs.slice(0, n_docs).to_pylist()
    out: list[str] = []
    doc_id = 0
    emitted: list[dict] = []
    for r in rows:
        u = rng.random()
        if emitted and u < 0.08:
            text = emitted[int(rng.integers(0, len(emitted)))]["text"]
        elif emitted and u < 0.16:
            words = emitted[int(rng.integers(0, len(emitted)))]["text"].split()
            words[int(rng.integers(0, len(words)))] = "substituted"
            text = " ".join(words)
        else:
            text = r["text"]
        doc_id += 1
        row = {
            "doc_id": doc_id,
            "text": text,
            "lang": r["lang"],
            "source": r["source"],
            "n_chars": len(text),
        }
        emitted.append(row)
        v = rng.random()
        if v < 0.01:
            out.append('{"seq": %d, "action": "I", "table": "documents", "col' % doc_id)
            continue
        extra, omit = None, ()
        if v < 0.015:
            extra = {"crawl_url": f"https://example.com/{doc_id}"}
        elif v < 0.02:
            omit = ("lang",)
        out.append(_document_json(doc_id, row, extra, omit))
    return out


_DOC_TYPES = {
    "doc_id": "bigint",
    "text": "text",
    "lang": "character varying(8)",
    "source": "character varying(32)",
    "n_chars": "bigint",
}


def _document_json(seq, row, extra, omit) -> str:
    cols = [
        {"name": k, "type": _DOC_TYPES.get(k, "text"), "value": None if v is None else str(v)}
        for k, v in {**row, **(extra or {})}.items()
        if k not in omit
    ]
    return json.dumps(
        {"seq": seq, "action": "I", "timestamp": None, "schema": "public", "table": "documents", "columns": cols}
    )
