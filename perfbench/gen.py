"""Seeded input generators for the benchmark.

Every table is a pure function of (seed, scale): the same arguments give
byte-identical parquet files. The engine only ever sees the files written here.

* `tables(seed, sf, out)` writes the ten tables SparkEntry.queries reads (region,
  nation, customer, supplier, part, orders, lineitem, events, documents,
  embeddings) with the same schemas and value domains as the test data
  described in TESTDATA.md,
  sized like TPC-H scale factor `sf` (sf=0.01 gives 60 k lineitem rows).
  Documents carry ~5% planted near-duplicates (an earlier text plus " dup"),
  embeddings are unit float32 vectors with a weak per-label direction.
* `stations(seed, n_stations, out)` writes one half-hourly multi-variable
  station year with planted faults and the ledger of what was planted
  (`faults.parquet`) plus the row counts the clean step must leave.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
US_PER_DAY = 86_400_000_000
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _ts(dates_us, tz=None):
    return pa.array(dates_us, type=pa.timestamp("us", tz=tz))


def _days(rng, n, lo, hi):
    """Midnight timestamps uniform over [lo, hi] (numpy datetime64 day strings)."""
    d0 = np.datetime64(lo, "D").astype(np.int64)
    d1 = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(d0, d1 + 1, n).astype(np.int64) * US_PER_DAY


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 22)


def tables(seed: int, sf: float, out: str) -> dict:
    """Write the ten tables; returns {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}))
    pk = np.arange(n_part)
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    _write(out, "part", pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}))

    ok = np.arange(n_ord)
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}))

    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in lines]) if n_ord else ok
    n_li = len(l_ok)
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_ln, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days(rng, n_li, "1995-01-02", "2001-11-04"))}))

    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, n_ev, 0.01, 490.02),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))

    texts = []
    n_words = rng.integers(10, 100, n_doc)
    dup_of = rng.random(n_doc) < 0.05
    for i in range(n_doc):
        if dup_of[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n_words[i])]))
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))

    dirs = rng.normal(size=(10, 64))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    v = rng.normal(size=(n_emb, 64)) / 8.0 + 0.14 * dirs[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))

    return {t: pq.ParquetFile(os.path.join(out, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}


# Planted-fault codes, as the QA/QC flag column must carry them after the
# pipeline (graft.core.Flags); 0 marks a missing-value sentinel, which the
# clean step must null out instead of flagging.
SENTINEL, NEGATIVE, WORLD_RECORD, SUPERSAT, CALM_DIR, SPIKE, FREQUENT, STREAK = (
    0, 10, 11, 12, 14, 23, 24, 28)
STATION_YEAR = 2021
STEP_US = 30 * 60 * 1_000_000


def stations(seed: int, n_stations: int, out: str) -> dict:
    """Write `stations.parquet` (half-hourly obs) and `faults.parquet`
    (station, time, var, code); returns row counts for the clean-step check."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    t0 = np.datetime64(f"{STATION_YEAR}-01-01", "us").astype(np.int64)
    n_t = 365 * 48
    hours = np.arange(n_t) / 2.0
    doy = hours / 24.0
    frames, faults = [], []
    n_dups = n_oob = 0
    for s in range(n_stations):
        sid = f"ST{s:04d}"
        base = 280.0 + rng.uniform(-8, 8)
        season = -10.0 * np.cos(2 * np.pi * doy / 365.0)
        diurnal = 4.0 * np.sin(2 * np.pi * (hours % 24) / 24.0 - rng.uniform(0, 6.3))
        tas = np.round(base + season + diurnal + rng.normal(0, 0.4, n_t), 1)
        tdps = np.round(tas - rng.uniform(2.0, 8.0, n_t), 1)
        ps = np.round(101000.0 + 800 * np.sin(2 * np.pi * doy / 9.0)
                      + rng.normal(0, 30, n_t), 0)
        pr = np.where(rng.random(n_t) < 0.06, np.round(rng.exponential(1.5, n_t), 1), 0.0)
        wind = np.round(rng.uniform(0.5, 12.0, n_t), 1)
        wdir = rng.integers(1, 361, n_t).astype(np.float64)
        planted = []

        def plant(idx, var, code):
            planted.extend((sid, int(t0 + i * STEP_US), var, code) for i in np.atleast_1d(idx))

        # disjoint regions of the year, one per fault kind, away from the edges
        slots = rng.permutation(np.arange(2, 60))[:8] * (n_t // 64)
        i = slots[0] + rng.integers(0, 40, 3)
        tas[i] = -999.0; plant(i, "tas", SENTINEL)
        i = slots[1] + rng.integers(0, 40, 2)
        tas[i] = 345.0; plant(i, "tas", WORLD_RECORD)
        i = slots[2] + rng.integers(0, 40, 3)
        pr[i] = -1.5; plant(i, "pr", NEGATIVE)
        i = slots[3] + rng.integers(0, 40, 2)
        tdps[i] = tas[i] + 3.0; plant(i, "tdps", SUPERSAT)
        i = slots[4] + rng.integers(0, 40, 2)
        wind[i] = 0.0; plant(i, "sfcWind_dir", CALM_DIR)
        i = slots[5] + 20
        tas[i] = tas[i] + 25.0; plant(i, "tas", SPIKE)
        i = slots[6] + np.arange(30)
        tas[i] = tas[i[0]]; plant(i, "tas", STREAK)
        if s % 4 == 0:
            # frequent value: every winter sample within 0.35 K of the winter
            # median is set to it, so its 0.1 K histogram bin holds all the mass
            # of its +-3-bin neighbourhood; the moves are too small to be spikes
            winter = (doy < 59) | (doy >= 334)
            v = np.round(np.median(tas[winter]), 1)
            block = np.arange(n_t) // (n_t // 64)
            i = np.flatnonzero(winter & (np.abs(tas - v) < 0.35) & ~np.isin(block, slots // (n_t // 64)))
            tas[i] = v; plant(i, "tas", FREQUENT)

        time = t0 + np.arange(n_t, dtype=np.int64) * STEP_US
        seq = np.arange(n_t, dtype=np.int64)
        # planted duplicates (same station/time, later ingest seq) and rows
        # outside the station year, both removed by the clean step
        dup = rng.integers(0, n_t, 5)
        oob = rng.integers(0, n_t, 3)
        time_x = np.concatenate([time, time[dup], time[oob] + 366 * US_PER_DAY])
        cols = {
            "time": time_x,
            "seq": np.concatenate([seq, n_t + np.arange(5), n_t + 5 + np.arange(3)]),
        }
        for name, arr in [("tas", tas), ("tdps", tdps), ("ps", ps), ("pr", pr),
                          ("sfcWind", wind), ("sfcWind_dir", wdir)]:
            extra = arr[dup] + (0.7 if name == "tas" else 0.0)
            cols[name] = np.concatenate([arr, extra, arr[oob]])
        n_dups += 5
        n_oob += 3
        frames.append(pa.table({
            "station": pa.array([sid] * len(time_x)),
            "time": _ts(cols["time"], "UTC"),
            "seq": pa.array(cols["seq"], pa.int64()),
            "elevation": np.full(len(time_x), round(float(rng.uniform(0, 2500)), 1)),
            **{k: cols[k] for k in ["tas", "tdps", "ps", "pr", "sfcWind", "sfcWind_dir"]}}))
        faults.extend(planted)
    table = pa.concat_tables(frames)
    pq.write_table(table, os.path.join(out, "stations.parquet"), row_group_size=1 << 20)
    st, tm, var, code = zip(*faults)
    pq.write_table(pa.table({"station": list(st), "time": _ts(list(tm), "UTC"), "var": list(var),
                             "code": pa.array(code, pa.int32())}),
                   os.path.join(out, "faults.parquet"))
    info = {"rows": table.num_rows, "rows_after_clean": table.num_rows - n_dups - n_oob,
            "stations": n_stations, "faults": len(faults)}
    with open(os.path.join(out, "stations.json"), "w") as f:
        json.dump(info, f)
    return info
