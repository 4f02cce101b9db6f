"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed writes
byte-identical files (the tests check this). The program under test only
ever sees the files written here.

- catalog: the TPC-H-like star schema plus events, documents and
  embeddings, with the column names, types and value ranges of the testdata
  the query catalog was written against.
- qpe: a 640x710 polar-to-Cartesian lookup table for five radars, and per
  slot one staging directory holding that slot's five radar gate files
  (A/D/L/P/W), one arrival notice per file, and the landing schedule.
- llm: the seed corpus for the dedup and IVF indexes and the ingest
  micro-batches, with a fixed share of near-duplicates and too-short docs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the output of a generator changes: the cached catalog data is
# keyed on it.
VERSION = 1


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _ts_us(rng, start, end, n):
    """Day-aligned microsecond timestamps between two numpy datetimes."""
    days = (np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int)
    d = np.datetime64(start, "D") + rng.integers(0, days + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


# ---------------------------------------------------------------- catalog

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "red", "hot", "new", "large", "small", "old", "green"]
NOUN = ["bolt", "ring", "anvil", "gear", "nut", "screw", "spring", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def catalog(out, sf=0.1, seed=42):
    """Write the ten catalog tables for scale factor `sf` into `out`."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150000 * sf), max(100, int(10000 * sf))
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_li, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), int(20000 * sf)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(rng, "1995-01-02", "2001-11-04", n_li)}),
        f"{out}/lineitem.parquet")
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:   # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and rng.random() < 0.002:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, 30, int(rng.integers(10, 101)))]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i // max(1, n_doc // 20)}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(_unit(rng, n_emb, 64)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}),
        f"{out}/embeddings.parquet")


def _unit(rng, n, dim):
    v = rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


# ---------------------------------------------------------------- qpe

RADARS = ["A", "D", "L", "P", "W"]
NX, NY = 640, 710
N_AZ, N_SWEEPS = 360, 1
# radar sites on the grid (cell coordinates) and their range in cells; every
# cell of the 640x710 grid lies within range of its nearest site
SITES = [(160, 177), (480, 177), (320, 355), (160, 532), (480, 532)]
RANGE_CELLS = 240
SLOT_MS = 300_000          # one product every 5 minutes, in event time
TIMEOUT_MS = 60_000        # completeness deadline after the slot start


def qpe_lut(out):
    """LUT (sweep, az_idx, rng_idx) -> (chx, chy): every cell of the grid maps
    to the nearest gate of its nearest radar. Sweep ids are radar-local
    (10*radar + sweep), so each radar's gates land on its own footprint."""
    x, y = np.meshgrid(np.arange(NX), np.arange(NY), indexing="ij")
    x, y = x.ravel(), y.ravel()
    d = np.stack([np.hypot(x - sx, y - sy) for sx, sy in SITES])
    nearest = d.argmin(axis=0)
    cols = {k: [] for k in ["sweep", "az_idx", "rng_idx", "chx", "chy"]}
    for ri, (sx, sy) in enumerate(SITES):
        mine = nearest == ri
        az = (np.degrees(np.arctan2(y[mine] - sy, x[mine] - sx)) % 360.0).astype(np.int32) % N_AZ
        for s in range(1, N_SWEEPS + 1):
            cols["sweep"].append(np.full(mine.sum(), 10 * ri + s, np.int32))
            cols["az_idx"].append(az)
            cols["rng_idx"].append(d[ri, mine].astype(np.int32))
            cols["chx"].append(x[mine].astype(np.int32))
            cols["chy"].append(y[mine].astype(np.int32))
    _write(pa.table({k: np.concatenate(v) for k, v in cols.items()}),
           f"{out}/lut.parquet")


def qpe_slots(out, seed, n_slots, interval_s):
    """Per-slot staging directories of gate files and the landing schedule.

    Slot k starts at k*interval_s seconds of run time (5 minutes of event
    time, compressed). Its radar files land at seeded offsets inside the
    first 40% of the interval, one of them at 40%, all stamped with the slot
    time as event time.
    With three or more slots, the second-to-last slot misses one seeded
    radar; it is emitted degraded once the last slot's arrivals move the
    watermark past its completeness deadline. Count and position are fixed
    so that every seed sees the same mix of complete and degraded slots."""
    rng = np.random.default_rng(seed)
    az, rg = np.meshgrid(np.arange(N_AZ), np.arange(RANGE_CELLS), indexing="ij")
    az, rg = az.ravel().astype(np.int32), rg.ravel().astype(np.int32)
    n = az.size * N_SWEEPS
    az_col, rg_col = pa.array(np.tile(az, N_SWEEPS)), pa.array(np.tile(rg, N_SWEEPS))
    base_ms = 1_700_000_000_000
    schedule = []
    degraded = n_slots - 2 if n_slots >= 3 else -1
    for k in range(n_slots):
        slot = base_ms + k * SLOT_MS
        missing = RADARS[int(rng.integers(0, 5))] if k == degraded else None
        # the last file lands at 40% of the interval, so every slot is due
        # the same time before its trigger
        offsets = rng.uniform(0.0, 0.4, 5)
        offsets[int(rng.integers(0, 5))] = 0.4
        # storm field shared by the radars of a slot: a few Gaussian cells
        # over a noise floor, seen by each radar from its own angle
        storm = np.zeros((N_AZ, RANGE_CELLS))
        for _ in range(3):
            ca, cr = rng.uniform(0, N_AZ), rng.uniform(0, RANGE_CELLS)
            storm += 25.0 * np.exp(-(((np.arange(N_AZ)[:, None] - ca) / 20.0) ** 2
                                     + ((np.arange(RANGE_CELLS)[None, :] - cr) / 30.0) ** 2))
        for ri, radar in enumerate(RADARS):
            zh = np.tile(np.roll(storm, 72 * ri, axis=0).ravel(), N_SWEEPS) + rng.normal(15.0, 6.0, n)
            if radar == missing:
                continue
            tb = pa.table({
                "slot": pa.array(np.full(n, slot), pa.int64()),
                "radar": pa.DictionaryArray.from_arrays(pa.array(np.zeros(n, np.int32)), [radar]),
                "sweep": pa.array(np.repeat(np.arange(1, N_SWEEPS + 1, dtype=np.int32) + 10 * ri, az.size)),
                "az_idx": az_col,
                "rng_idx": rg_col,
                "zh": np.round(zh, 2),
                "noise": np.round(rng.normal(5.0, 2.0, n), 2),
                "visib": np.round(rng.uniform(30.0, 100.0, n), 1),
                "w": np.round(rng.uniform(0.5, 1.0, n), 3),
                "eventTimeMs": pa.array(np.full(n, slot), pa.int64())})
            name = f"slot_{k:04d}/{radar}.parquet"
            _write(tb, f"{out}/staged/{name}")
            # the arrival notice the daemon's stream watches: one row per file
            _write(pa.table({"slot": pa.array([slot], pa.int64()), "radar": [radar],
                             "eventTimeMs": pa.array([slot], pa.int64())}),
                   f"{out}/staged/arrivals/slot_{k:04d}_{radar}.parquet")
            schedule.append({"file": name, "slot": slot, "radar": radar,
                             "at_s": round((k + offsets[ri]) * interval_s, 6)})
        schedule.append({"file": None, "slot": slot, "radar": missing,
                         "deadline_s": round((k + TIMEOUT_MS / SLOT_MS) * interval_s, 6)})
    with open(f"{out}/schedule.json", "w") as f:
        json.dump({"interval_s": interval_s, "timeout_ms": TIMEOUT_MS,
                   "events": schedule}, f, indent=0)


# ---------------------------------------------------------------- llm

LLM_DIM = 32
LLM_VOCAB = 4000


def _words(rng, n):
    return " ".join(f"w{int(i)}" for i in rng.integers(0, LLM_VOCAB, n))


def llm(out, seed, n_seed_docs, n_batches, batch_docs,
        dup_share=0.15, short_share=0.1):
    """Seed corpus (dedup index + IVF corpus) and ingest micro-batches.

    Each batch doc is fresh (30-60 random words over a 4000-word vocabulary,
    so unrelated docs share almost no shingles), a near-duplicate of a seed
    doc or of a doc from an earlier batch, or too short (3 words, under the
    10-token quality floor). A near-duplicate is its original upper-cased:
    another digest, but the same lower-cased shingle set, so the MinHash
    probe finds it with certainty (a changed word would leave a small,
    seeded chance that no band matches). expected.json records the counts
    the audit must reproduce."""
    rng = np.random.default_rng(seed)
    seed_texts = [_words(rng, int(rng.integers(30, 61))) for _ in range(n_seed_docs)]
    _write(pa.table({"doc_id": pa.array(np.arange(n_seed_docs), pa.int64()),
                     "text": seed_texts,
                     "embedding": pa.array(list(_unit(rng, n_seed_docs, LLM_DIM)),
                                           pa.list_(pa.float32()))}),
           f"{out}/seed.parquet")
    accepted = list(seed_texts)
    next_id = 1_000_000
    per_batch = []
    for b in range(n_batches):
        ids, texts, fresh = [], [], []
        n_short = n_dup = 0
        for _ in range(batch_docs):
            u = rng.random()
            if u < short_share:
                t = _words(rng, 3)
                n_short += 1
            elif u < short_share + dup_share:
                t = accepted[int(rng.integers(0, len(accepted)))].upper()
                n_dup += 1
            else:
                t = _words(rng, int(rng.integers(30, 61)))
                fresh.append(t)
            ids.append(next_id)
            texts.append(t)
            next_id += 1
        accepted.extend(fresh)
        per_batch.append({"short": n_short, "near_dup": n_dup, "fresh": len(fresh)})
        _write(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts,
                         "embedding": pa.array(list(_unit(rng, len(ids), LLM_DIM)),
                                               pa.list_(pa.float32()))}),
               f"{out}/batches/batch_{b:04d}.parquet")
    with open(f"{out}/expected.json", "w") as f:
        json.dump({"seed_docs": n_seed_docs, "dim": LLM_DIM, "batches": per_batch,
                   "final_index_docs": n_seed_docs + sum(p["fresh"] for p in per_batch)}, f)
