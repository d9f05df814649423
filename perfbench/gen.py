"""Seeded input generators: the engine only ever sees the files written here.

Every generator takes a ``numpy.random.Generator`` built from the
benchmark's ``--seed`` and writes deterministic bytes (JSON text, or
parquet written by pyarrow with no timestamps in its metadata), so the
same seed gives byte-identical inputs.  Each returns the ground truth it
planted, which the workload checks use outside the timed window.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc
NY = ZoneInfo("America/New_York")
EPOCH = dt.datetime(1970, 1, 1)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream never
    shifts another stream's bytes."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _micros(ts: np.ndarray) -> pa.Array:
    return pa.array(ts.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


# --------------------------------------------------------------------------
# daily_etl: bronze landing of multiline JSON documents
# --------------------------------------------------------------------------
BARS_PER_DAY = 96  # 5-minute bars, 08:00..15:55 ET: 18 pre-market + 78 RTH
RTH_BARS = 78


@dataclass
class Bronze:
    raw_dir: str
    pairs: list[tuple[str, str]]
    files: int
    bytes: int
    bars: int  # bars in parseable documents, before the RTH filter
    truth_bars: list[tuple[str, dt.datetime, float]]  # parseable, in RTH
    gaps: dict[tuple[str, str], int] = field(default_factory=dict)
    dups: dict[tuple[str, str], int] = field(default_factory=dict)
    corrupt: list[tuple[str, str]] = field(default_factory=list)


def trading_days(n: int, start: dt.date = dt.date(2024, 3, 8)) -> list[dt.date]:
    days, d = [], start
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def gen_bronze(root: str, seed: int, n_pairs: int, n_days: int) -> Bronze:
    """One multiline JSON document per (symbol, day), 96 bars each.

    Planted faults: each (symbol, day) may lose 0-3 RTH bars (gaps) or
    carry one exact duplicate bar; one document per run is truncated
    mid-array (corrupt, quarantined by the PERMISSIVE reader).  Days span
    a DST change, so the RTH filter's zone conversion matters.
    """
    rng = rng_for(seed, "bronze")
    raw = os.path.join(root, "bronze")
    os.makedirs(raw)
    syms = [f"S{seed % 1000:03d}{i:02d}" for i in range(2 * n_pairs)]
    pairs = [(syms[2 * i], syms[2 * i + 1]) for i in range(n_pairs)]
    days = trading_days(n_days)
    corrupt_at = (syms[int(rng.integers(len(syms)))], days[int(rng.integers(n_days))])
    out = Bronze(raw, pairs, 0, 0, 0, [])
    for sym in syms:
        px = float(rng.uniform(20, 400))
        for day in days:
            open_utc = dt.datetime.combine(day, dt.time(8, 0), NY).astimezone(UTC)
            rets = rng.normal(0, 0.002, BARS_PER_DAY)
            closes = np.round(px * np.exp(np.cumsum(rets)), 4)
            px = float(closes[-1])
            gap_n = int(rng.choice([0, 0, 0, 1, 2, 3]))
            gap_idx = set(rng.choice(np.arange(18, BARS_PER_DAY), gap_n, replace=False).tolist())
            dup_idx = int(rng.integers(18, BARS_PER_DAY)) if rng.random() < 0.25 else -1
            bars, key = [], (sym, day.isoformat())
            for i in range(BARS_PER_DAY):
                if i in gap_idx:
                    continue
                ts = open_utc + dt.timedelta(minutes=5 * i)
                c = float(closes[i])
                bar = {
                    "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S+00:00"),
                    "open": c, "high": round(c * 1.001, 4), "low": round(c * 0.999, 4),
                    "close": c, "volume": int(rng.integers(100, 10_000)),
                }
                copies = 2 if i == dup_idx else 1
                bars.extend([bar] * copies)
                if i >= 18:
                    naive = ts.astimezone(UTC).replace(tzinfo=None)
                    out.truth_bars.extend([(sym, naive, c)] * copies)
            doc = {
                "symbol": sym, "timeframe": "5Min", "source": "perfbench", "feed": "sim",
                "start_utc": f"{day.isoformat()}T00:00:00+00:00",
                "end_utc": f"{day.isoformat()}T23:59:59+00:00", "bars": bars,
            }
            text = json.dumps(doc, indent=1)
            if (sym, day) == corrupt_at:
                text = text[: len(text) // 2]  # truncated upload
                out.corrupt.append(key)
                out.truth_bars = [b for b in out.truth_bars if not (b[0] == sym and b[1].date() == day)]
            else:
                out.bars += len(bars)
                out.gaps[key] = gap_n
                out.dups[key] = int(dup_idx >= 0)
            path = os.path.join(raw, f"{sym}_{day.isoformat()}.json")
            with open(path, "w") as f:
                f.write(text)
            out.files += 1
            out.bytes += os.path.getsize(path)
    return out


# --------------------------------------------------------------------------
# corpus_curation: the fixture tables (star schema, events, corpus)
# --------------------------------------------------------------------------
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = ["small", "large", "red", "blue", "green", "steel", "brass", "ring", "widget", "bolt", "gear", "pipe"]
TABLE_NAMES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def gen_events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """Tick-like events over 30 days; ids start at a seeded offset and the
    clock at a seeded shift so no two seeds share ids or timestamps."""
    base = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=int(rng.integers(0, 24 * 60)))
    start_us = int((base - EPOCH).total_seconds()) * 1_000_000
    ts = np.sort(start_us + rng.integers(0, 30 * 86_400 * 1_000_000, n))
    id0 = int(rng.integers(0, 1_000_000)) * 10
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(id0, id0 + n), pa.int64()),
        "ts": _micros(ts),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)].tolist()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def gen_tpch(rng: np.random.Generator, sf_rows: int) -> dict[str, pa.Table]:
    """TPC-H-shaped dimension and fact tables; ``sf_rows`` = orders rows."""
    n_cust, n_supp, n_part = max(sf_rows // 10, 50), max(sf_rows // 150, 20), max(sf_rows * 2 // 15, 100)
    d0 = int((dt.datetime(1995, 1, 1) - EPOCH).total_seconds()) * 1_000_000
    day_us = 86_400 * 1_000_000
    o_date = d0 + rng.integers(0, 2400, sf_rows) * day_us
    n_li = rng.integers(1, 8, sf_rows)
    li_order = np.repeat(np.arange(sf_rows), n_li)
    li_num = np.concatenate([np.arange(1, k + 1) for k in n_li]).astype("int32")
    m = len(li_order)
    qty = rng.integers(1, 51, m).astype("float64")
    retail = np.round(900 + rng.integers(0, 1000, n_part) * 0.1, 2)
    partkey = rng.integers(0, n_part, m)
    ext = np.round(qty * retail[partkey], 2)
    ship = o_date[li_order] + rng.integers(1, 122, m) * day_us
    flag = np.where(ship < d0 + 1800 * day_us, np.array(["A", "R"])[rng.integers(0, 2, m)], "N")
    status = np.where(ship < d0 + 1800 * day_us, "F", "O")
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist(),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in rng.integers(0, len(PART_WORDS), (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[rng.integers(0, 6, n_part)].tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(sf_rows), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, sf_rows), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, sf_rows)].tolist(),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, sf_rows), 2),
            "o_orderdate": _micros(o_date),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, sf_rows)].tolist(),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(li_order, pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, m), pa.int64()),
            "l_linenumber": pa.array(li_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": ext,
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": flag.tolist(),
            "l_linestatus": status.tolist(),
            "l_shipdate": _micros(ship),
        }),
    }


def gen_corpus(rng: np.random.Generator, n_docs: int, n_vecs: int, near_dup_share: float) -> tuple[dict[str, pa.Table], dict]:
    """Documents and embeddings with a planted near-duplicate share.

    A near-duplicate document is an edited copy of an earlier one (2-4
    word substitutions); a near-duplicate vector is an earlier vector plus
    small noise, re-normalised.  The remaining rows are independent draws.
    """
    vocab = np.array(WORDS)
    texts: list[str] = []
    n_near = 0
    for i in range(n_docs):
        if i > 10 and rng.random() < near_dup_share:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), min(len(words), int(rng.integers(2, 5))), replace=False):
                words[j] = str(vocab[rng.integers(0, len(vocab))])
            n_near += 1
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))].tolist()
        texts.append(" ".join(words))
    # ids start at 0 as in the fixtures: the audit queries pick their sample
    # by id (minhash_recall_audit: ``doc_id < 100``; the IVF audits:
    # ``vec_id < 20`` queries, ``vec_id < 32`` centroids)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_docs)].tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0, 1, (n_vecs, 64)).astype("float32")
    near_v = rng.random(n_vecs) < near_dup_share
    near_v[:10] = False
    src = rng.integers(0, np.maximum(np.arange(n_vecs), 1))
    for i in np.flatnonzero(near_v):
        vecs[i] = vecs[src[i]] + rng.normal(0, 0.05, 64).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}, {
        "near_dup_docs": n_near, "near_dup_vecs": int(near_v.sum()),
        "near_dup_share": near_dup_share,
    }


def gen_tables(root: str, seed: int, orders: int, events: int, docs: int, vecs: int, near_dup_share: float) -> tuple[str, dict]:
    """Write the ten fixture tables under ``root/tables``; returns the dir
    and a record of what was written (rows and bytes per table)."""
    sf_dir = os.path.join(root, "tables")
    os.makedirs(sf_dir)
    tables = gen_tpch(rng_for(seed, "tpch"), orders)
    tables["events"] = gen_events(rng_for(seed, "events"), events, users=max(events // 60, 20))
    corpus, planted = gen_corpus(rng_for(seed, "corpus"), docs, vecs, near_dup_share)
    tables.update(corpus)
    sizes = {}
    for name in TABLE_NAMES:
        sizes[name] = {"rows": tables[name].num_rows,
                       "bytes": _write(tables[name], os.path.join(sf_dir, f"{name}.parquet"))}
    return sf_dir, {"tables": sizes, **planted}


# --------------------------------------------------------------------------
# live_bars: parquet tick files, landed on a schedule by a generator thread
# --------------------------------------------------------------------------
TICK_SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                         ("symbol", pa.string()), ("price", pa.float64())])


@dataclass
class TickFile:
    name: str  # file name inside the staging dir
    rows: int  # ticks in the file, planted duplicates and late ticks included
    max_ts_us: int  # largest event time in the file
    late_ids: list[int]  # event ids of ticks planted behind the watermark


def gen_ticks(stage_dir: str, seed: int, n_files: int, ticks_per_file: int, symbols: int,
              event_us_per_file: int, start_us: int, first_id: int, late_from: int,
              late_lag_us: int, prefix: str) -> list[TickFile]:
    """Write ``n_files`` tick files into ``stage_dir``; file k covers event
    time [start + k*span, start + (k+1)*span).

    Each file re-delivers ~1% of its ticks (same event_id: removed by the
    stream's dedup).  From file ``late_from`` on, every 8th file carries a
    handful of ticks ``late_lag_us`` behind its window, far enough behind
    the watermark that the stream must drop them.
    """
    rng = rng_for(seed, prefix)
    syms = np.array([f"T{i:02d}" for i in range(symbols)])
    out: list[TickFile] = []
    next_id = first_id
    for k in range(n_files):
        lo = start_us + k * event_us_per_file
        ts = np.sort(lo + rng.integers(0, event_us_per_file, ticks_per_file))
        ids = np.arange(next_id, next_id + ticks_per_file)
        next_id += ticks_per_file
        sym = syms[rng.integers(0, symbols, ticks_per_file)]
        price = np.round(100 + rng.normal(0, 1, ticks_per_file).cumsum() * 0.01, 4)
        dup = rng.random(ticks_per_file) < 0.01
        n_late = 5 if (k >= late_from and k % 8 == 0) else 0
        late_ts = lo - late_lag_us + rng.integers(0, event_us_per_file, n_late)
        late_ids = np.arange(next_id, next_id + n_late)
        next_id += n_late
        t = pa.table({
            "event_id": pa.array(np.concatenate([ids, ids[dup], late_ids]), pa.int64()),
            "ts": _micros(np.concatenate([ts, ts[dup], late_ts])),
            "symbol": np.concatenate([sym, sym[dup], syms[rng.integers(0, symbols, n_late)]]).tolist(),
            "price": np.concatenate([price, price[dup], np.full(n_late, 1.0)]),
        }, schema=TICK_SCHEMA)
        name = f"{prefix}-{k:05d}.parquet"
        _write(t, os.path.join(stage_dir, name))
        out.append(TickFile(name, t.num_rows, int(ts.max()), late_ids.tolist()))
    return out
