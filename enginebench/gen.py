"""Seeded input generation for the engine benchmark.

Two datasets, both written as one parquet file per table:

- ``fans``: the Layer-A CRM table (the 14-field schema and value domains of
  ``hive_feature_demo_spark.fixtures.fans``: mixed-case genres, substring
  cities, the 91/92/93-day recency boundary and the 200.00 spend boundary),
  at any row count.
- ``star``: the TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings`` that the query registry reads, with the value domains of the
  repository's testdata (TESTDATA.md) at scale factor ``sf`` (lineitem =
  6M x sf rows).
  Five percent of documents are a copy of another document plus one token,
  so the near-duplicate pipelines always find work.

The same (kind, size, seed) always yields byte-identical tables; another
seed yields other rows. A finished dataset is marked with a sentinel file
holding its tag, so a later run with the same tag reuses it and a
half-written directory is rebuilt.

Run as a script to build one dataset in a fresh process (the benchmark does
this so generation memory never counts toward its own peak RSS):

    python3 enginebench/gen.py fans 1000000 7 OUT_DIR
    python3 enginebench/gen.py star 0.01 7 OUT_DIR
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SENTINEL = "_COMPLETE"
#: datasets of one kind kept in the cache; older ones are removed
KEEP = 3

_EPOCH = dt.date(1970, 1, 1)


def _tag(kind: str, size: float, seed: int) -> str:
    return f"kind={kind}\nsize={size!r}\nseed={seed}\nformat=1\n"


def is_built(out_dir: str, kind: str, size: float, seed: int) -> bool:
    try:
        with open(os.path.join(out_dir, SENTINEL)) as f:
            return f.read() == _tag(kind, size, seed)
    except OSError:
        return False


def _rng(seed: int, stream: int) -> np.random.Generator:
    """One independent stream per table, so tables do not shift each other."""
    return np.random.default_rng(np.random.SeedSequence([seed, stream]))


def _days(d: dt.date) -> int:
    return (d - _EPOCH).days


def _pick(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values, pa.string())
    ).cast(pa.string())


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_days(rng, lo: dt.date, hi: dt.date, n) -> pa.Array:
    """Midnight timestamps uniform over [lo, hi] (date-granular, like the
    testdata's order and ship dates)."""
    days = rng.integers(_days(lo), _days(hi) + 1, n).astype(np.int64)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _list_of(values: list[str], idx: np.ndarray, counts: np.ndarray) -> pa.Array:
    """list<string> column from flat value indices and per-row lengths."""
    offsets = np.zeros(len(counts) + 1, np.int32)
    np.cumsum(counts, out=offsets[1:])
    flat = pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values, pa.string())
    ).cast(pa.string())
    return pa.ListArray.from_arrays(pa.array(offsets), flat)


# --------------------------------------------------------------------- fans


def fans_table(n: int, seed: int) -> pa.Table:
    from hive_feature_demo_spark.fixtures.fans import (
        _CITIES, _FIRST, _GENRE_WEIGHTS, _LAST, _SCHEMA, TODAY,
    )

    rng = _rng(seed, 0)
    first = rng.integers(0, len(_FIRST), n)
    last = rng.integers(0, len(_LAST), n)

    # 1-3 distinct genres per fan, weighted without replacement (Gumbel
    # top-k: the k largest of log(w) + Gumbel noise)
    genres = list(_GENRE_WEIGHTS)
    logw = np.log(np.array(list(_GENRE_WEIGHTS.values()), float))
    keys = logw + rng.gumbel(size=(n, len(genres)))
    order = np.argsort(-keys, axis=1)[:, :3]
    n_genres = rng.choice([1, 2, 3], size=n, p=np.array([20, 54, 6]) / 80)
    take = np.arange(3)[None, :] < n_genres[:, None]
    genre_idx = order[take]

    n_events = rng.integers(1, 5, n)
    event_names = [f"Event {e} {y}" for e in range(1, 40) for y in (2023, 2024)]
    event_idx = rng.integers(0, len(event_names), int(n_events.sum()))

    lo, hi = _days(dt.date(2023, 7, 18)), _days(dt.date(2024, 10, 14))
    purchase = rng.integers(lo, hi + 1, n)
    # recency boundary rows: 91/92/93 days before TODAY are 2.99 / 3.02 /
    # 3.06 months under days/30.44, so a 3-month bound splits them
    edge = rng.random(n)
    for k, days_back in enumerate((91, 92, 93)):
        hit = (edge >= 0.01 * k) & (edge < 0.01 * (k + 1))
        purchase[hit] = _days(TODAY) - days_back
    spent = _money(rng, 134.0, 934.0, n)
    spent[rng.random(n) < 0.01] = 200.00

    ids = [f"f{i:07d}" for i in range(1, n + 1)]
    first_names = [_FIRST[i] for i in first]
    last_names = [_LAST[i] for i in last]
    emails = [
        f"{f[0].lower()}{s.lower()}{i}@example.com"
        for i, (f, s) in enumerate(zip(first_names, last_names))
    ]
    cols = {
        "id": pa.array(ids, pa.string()),
        "first_name": pa.array(first_names, pa.string()),
        "last_name": pa.array(last_names, pa.string()),
        "email": pa.array(emails, pa.string()),
        "phone": pa.array([f"+1312{5550000 + i % 10_000_000:07d}" for i in range(n)]),
        "city": _pick(rng, _CITIES, n),
        "state": pa.array(["IL"] * n, pa.string()),
        "events_attended": _list_of(event_names, event_idx, n_events),
        "genres": _list_of(genres, genre_idx, n_genres),
        "last_purchase_date": pa.array(purchase.astype(np.int32), pa.date32()),
        "total_spent": pa.array(spent),
        "email_open_rate": pa.array(_money(rng, 0.36, 0.82, n)),
        "email_click_rate": pa.array(_money(rng, 0.10, 0.35, n)),
        "subscribed": pa.array(rng.random(n) < 0.9),
    }
    return pa.table(cols, schema=_SCHEMA)


# --------------------------------------------------------------------- star

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "red", "blue", "cold", "hot", "large", "new", "old"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
]


def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_evt = max(1, round(1_000_000 * sf))
    n_users = max(1, n_cust // 10)
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    rng = _rng(seed, 1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })

    rng = _rng(seed, 2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })

    rng = _rng(seed, 3)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
        ),
    })

    rng = _rng(seed, 4)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })

    rng = _rng(seed, 5)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })

    rng = _rng(seed, 6)
    start_us = _days(dt.date(2024, 1, 1)) * 86_400_000_000
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_evt)) + start_us
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt)),
        "event_type": _pick(rng, _EVENT_TYPES, n_evt),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })

    rng = _rng(seed, 7)
    lengths = rng.integers(10, 101, n_docs)
    word_idx = rng.integers(0, len(_WORDS), int(lengths.sum()))
    texts: list[str] = []
    pos = 0
    for k in lengths:
        texts.append(" ".join(_WORDS[w] for w in word_idx[pos:pos + k]))
        pos += k
    # near-duplicates: 5% of docs become another doc's text plus " dup"
    dup_rows = rng.choice(n_docs, size=n_docs // 20, replace=False)
    for i in dup_rows:
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })

    rng = _rng(seed, 8)
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
    return out


# -------------------------------------------------------------------- build


def build(kind: str, size: float, seed: int, out_dir: str) -> None:
    """Write the dataset into ``out_dir`` and mark it complete."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    if kind == "fans":
        # ~16 row groups, so a scan splits across every core
        tbl = fans_table(int(size), seed)
        pq.write_table(tbl, os.path.join(out_dir, "fans.parquet"),
                       row_group_size=max(1, int(size) // 16))
    elif kind == "star":
        for name, tbl in star_tables(float(size), seed).items():
            pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    else:
        raise ValueError(f"unknown dataset kind: {kind}")
    with open(os.path.join(out_dir, SENTINEL), "w") as f:
        f.write(_tag(kind, size, seed))


def ensure(kind: str, size: float, seed: int, cache_root: str) -> tuple[str, float]:
    """Path of the (kind, size, seed) dataset under ``cache_root``, built in
    a child process when missing. Returns (path, seconds spent building).
    Older datasets of the kind beyond ``KEEP`` are removed first."""
    import subprocess

    out_dir = os.path.join(cache_root, f"{kind}-{size}-seed{seed}")
    if is_built(out_dir, kind, size, seed):
        return out_dir, 0.0
    os.makedirs(cache_root, exist_ok=True)
    same_kind = sorted(
        (os.path.join(cache_root, d) for d in os.listdir(cache_root)
         if d.startswith(f"{kind}-") and os.path.join(cache_root, d) != out_dir),
        key=os.path.getmtime,
    )
    for old in same_kind[: max(0, len(same_kind) - (KEEP - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    t0 = time.perf_counter()
    here = os.path.dirname(os.path.abspath(__file__))
    subprocess.run(
        [sys.executable, os.path.join(here, "gen.py"), kind, repr(size), str(seed), out_dir],
        check=True,
        cwd=os.path.dirname(here),
    )
    return out_dir, time.perf_counter() - t0


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    kind_, size_, seed_, out_ = sys.argv[1:5]
    build(kind_, float(size_) if kind_ == "star" else int(size_), int(seed_), out_)
