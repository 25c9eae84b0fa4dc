"""Seeded input generators for the workloads.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical inputs, and another seed gives inputs of
the same size and shape. The program under test only ever sees the
files these functions write.

- ``write_fixtures``: the six star-schema + event tables the analytics
  queries read, with the schemas and value domains of FIXTURES.md
  (no NULLs, loss-less foreign keys, unique keys, sorted event ids).
- ``ChangeLog``: an append-only JSONL change log of Salesforce
  Account records for the ``sf_model`` DataSource, plus the plain-Python
  latest-per-key state the warehouse must end up holding.
- ``make_corpus``: documents with planted near-duplicate families,
  shared boilerplate spans, repetitive low-quality documents and
  passages copied from an eval set, plus clustered 64-dim embeddings in
  which each near-duplicate copy sits next to its original.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Analytics fixtures
# ---------------------------------------------------------------------------

FIXTURE_TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_US = np.int64(1_000_000)


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (driver proportions)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        # q_quantile_sketch checks its sketch's rank error per (day,
        # event_type): that needs ~60 events per group, so even tiny
        # fixtures keep the sf0.01 event count
        "events": max(10_000, int(1_000_000 * sf)),
    }


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = fixture_rows(sf)
    day = 86_400 * _US
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }
    )
    no = n["orders"]
    o_day = rng.integers(0, (_epoch_us(2001, 8, 1) - _epoch_us(1995, 1, 1)) // day + 1, no)
    o_date = _epoch_us(1995, 1, 1) + o_day * day
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            # unique cents: q_sort's ranking is a total order either way,
            # but distinct prices keep the rank independent of the key
            "o_totalprice": (rng.choice(50_000_000, no, replace=False) + 100_000) / 100.0,
            "o_orderdate": _ts(o_date),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    l_order = np.sort(rng.integers(0, no, nl))
    line_no = np.zeros(nl, dtype=np.int32)
    starts = np.r_[True, l_order[1:] != l_order[:-1]]
    idx = np.arange(nl)
    first = np.maximum.accumulate(np.where(starts, idx, 0))
    line_no[:] = idx - first + 1
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(1, nl // 30), nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(1, nl // 600), nl), pa.int64()),
            "l_linenumber": pa.array(line_no, pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _ts(o_date[l_order] + rng.integers(1, 122, nl) * day),
        }
    )
    ne = n["events"]
    users = max(10, ne // 66)
    t0 = _epoch_us(2024, 1, 1)
    span = 30 * day
    ts = np.sort(rng.choice(span, ne, replace=False)) + t0
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    return tables


def write_fixtures(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write one parquet file per table; returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in fixture_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------------------
# Salesforce change log
# ---------------------------------------------------------------------------

# describe()-shaped field list covering the SF_TYPE_MAP types id,
# string, picklist, currency, int, boolean and datetime.
ACCOUNT_FIELDS = [
    {"name": "Id", "type": "id", "nillable": False},
    {"name": "Name", "type": "string"},
    {"name": "Industry", "type": "picklist"},
    {"name": "AnnualRevenue", "type": "currency"},
    {"name": "NumberOfEmployees", "type": "int"},
    {"name": "IsActive", "type": "boolean"},
    {"name": "SystemModstamp", "type": "datetime"},
]
_INDUSTRIES = ["Banking", "Energy", "Healthcare", "Media", "Retail", "Technology"]
_WORDS = ["Acme", "Global", "Northwind", "Summit", "Vertex", "Blue", "Union", "Pacific"]


class ChangeLog:
    """Append-only JSONL log of Account changes with a strictly
    increasing ``SystemModstamp``, and the expected warehouse state.

    ``expected`` maps Id → the latest record as typed Python values,
    computed here in plain Python: the independent latest-per-key
    reference the warehouse is checked against.
    """

    def __init__(self, path: str, seed: int, t0: dt.datetime = dt.datetime(2024, 1, 1)):
        self.path = path
        self.rng = random.Random(seed)
        self.now = t0
        self.n_keys = 0
        self.lines = 0
        self.expected: dict[str, tuple] = {}
        self.max_ts: dt.datetime | None = None

    def _record(self, key: int) -> dict:
        r = self.rng
        self.now += dt.timedelta(microseconds=r.randrange(1, 5_000_000))
        return {
            "Id": f"001{key:015d}",
            "Name": f"{r.choice(_WORDS)} {r.choice(_WORDS)} {r.randrange(10**6)}",
            "Industry": r.choice(_INDUSTRIES),
            "AnnualRevenue": round(r.uniform(0, 5e8), 2),
            "NumberOfEmployees": r.randrange(1, 250_000),
            "IsActive": r.random() < 0.8,
            "SystemModstamp": self.now.isoformat(),
        }

    def _append(self, records: list[dict]) -> None:
        with open(self.path, "a") as f:
            for rec in records:
                f.write(json.dumps(rec) + "\n")
                ts = dt.datetime.fromisoformat(rec["SystemModstamp"])
                self.expected[rec["Id"]] = (
                    rec["Id"],
                    rec["Name"],
                    rec["Industry"],
                    Decimal(str(rec["AnnualRevenue"])).quantize(Decimal("0.01")),
                    rec["NumberOfEmployees"],
                    rec["IsActive"],
                    ts,
                )
                self.max_ts = ts
        self.lines += len(records)

    def write_history(self, n: int) -> None:
        """Create the log with ``n`` records over ``n`` distinct keys."""
        open(self.path, "w").close()
        self._append([self._record(k) for k in range(n)])
        self.n_keys = n

    def append_delta(self, n: int, repeat_share: float = 0.1) -> dict:
        """Append ``n`` changes: even slots update an existing key, odd
        slots insert a new key, and every ``1 / repeat_share``-th update
        re-edits a key already changed in this delta, so latest-per-key
        drops rows. Returns the delta's traffic counts."""
        r = self.rng
        every = round(1 / repeat_share)
        keys: list[int] = []
        for i in range(n):
            if i % 2 == 0:
                if keys and (i // 2) % every == every - 1:
                    k = r.choice(keys)
                else:
                    k = r.randrange(self.n_keys)
            else:
                k = self.n_keys
                self.n_keys += 1
            keys.append(k)
        self._append([self._record(k) for k in keys])
        distinct = len(set(keys))
        return {
            "changes": n,
            "updates": (n + 1) // 2,
            "inserts": n // 2,
            "repeat_edits": n - distinct,
            "distinct_keys": distinct,
        }


# ---------------------------------------------------------------------------
# LLM-data corpus
# ---------------------------------------------------------------------------


def _vocab(rng: random.Random, size: int) -> list[str]:
    sy = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "da", "fi", "gu",
          "ha", "je", "ko", "ma", "no", "pi", "re", "su", "ta", "ve", "wo", "yu"]
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(sy) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def make_corpus(seed: int, n_docs: int, dim: int = 64, n_clusters: int = 10) -> dict:
    """Documents + embeddings + eval set (pyarrow tables) and traffic.

    Planted structure, in exact shares of ``n_docs`` so that every seed
    gives the same amount of each kind of work:
    - 12% near-duplicate copies of an earlier document: an exact copy or
      one token replaced (word-set Jaccard ≥ ~0.95), their embedding the
      original's plus tiny noise (cosine > 0.99);
    - 30% carry one of 12 shared 12-token boilerplate spans;
    - 4% are a three-word phrase repeated (they fail the repetition caps);
    - 6% contain a 6-token passage copied from the 24-doc eval set.
    Everything else is Zipf-distributed word soup over a 3,000-word
    vocabulary, so unrelated documents share few words. Document
    lengths are a fixed multiset (60-109 tokens), shuffled.
    """
    rng = random.Random(seed * 7919 + 17)
    vocab = _vocab(rng, 3000)
    weights = [1.0 / (i + 1) ** 0.9 for i in range(len(vocab))]

    def soup(k: int) -> list[str]:
        return rng.choices(vocab, weights, k=k)

    boiler = [soup(12) for _ in range(12)]
    eval_docs = [soup(30) for _ in range(24)]
    shares = {"near_copy": 0.12, "repetitive": 0.04, "boilerplate": 0.30, "contaminated": 0.06}
    plan = [k for k, f in shares.items() for _ in range(round(n_docs * f))]
    plan += ["plain"] * (n_docs - len(plan))
    rng.shuffle(plan)
    # a copy needs an earlier original: no copies among the first ten
    for i in range(min(10, n_docs)):
        if plan[i] == "near_copy":
            j = next(j for j in range(10, n_docs) if plan[j] != "near_copy")
            plan[i], plan[j] = plan[j], plan[i]
    lengths = [60 + (50 * i) // n_docs for i in range(n_docs)]
    rng.shuffle(lengths)

    texts: list[list[str]] = []
    copy_of: dict[int, int] = {}
    for i, (kind, n) in enumerate(zip(plan, lengths)):
        if kind == "near_copy":
            src = rng.choice([d for d in range(i) if d not in copy_of])
            t = list(texts[src])
            if rng.random() < 0.5:
                t[rng.randrange(len(t))] = rng.choice(vocab)
            copy_of[i] = src
        elif kind == "repetitive":
            t = soup(3) * (n // 3)
        else:
            t = soup(n)
            if kind == "boilerplate":
                pos = rng.randrange(len(t))
                t[pos:pos] = boiler[rng.randrange(len(boiler))]
            elif kind == "contaminated":
                ev = eval_docs[rng.randrange(len(eval_docs))]
                start = rng.randrange(len(ev) - 6)
                pos = rng.randrange(len(t))
                t[pos:pos] = ev[start:start + 6]
        texts.append(t)

    nrng = np.random.default_rng([seed, 2])
    centers = nrng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = nrng.integers(0, n_clusters, n_docs)
    vecs = centers[labels] + nrng.normal(scale=0.1, size=(n_docs, dim))
    for i, src in copy_of.items():
        labels[i] = labels[src]
        vecs[i] = vecs[src] + nrng.normal(scale=0.002, size=dim)
    langs = ["en", "de", "es", "fr", "zh"]
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": [" ".join(t) for t in texts],
            "lang": [langs[i % 5] for i in range(n_docs)],
            "source": [f"src{i % 10}" for i in range(n_docs)],
            "n_chars": pa.array([len(" ".join(t)) for t in texts], pa.int64()),
        }
    )
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_docs), pa.int64()),
            "embedding": pa.array(
                [list(v) for v in vecs.astype(np.float32)], pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    evals = pa.table(
        {
            "doc_id": pa.array(range(len(eval_docs)), pa.int64()),
            "text": [" ".join(t) for t in eval_docs],
        }
    )
    kinds = {k: plan.count(k) for k in shares}
    return {"documents": docs, "embeddings": emb, "eval": evals, "kinds": kinds}
