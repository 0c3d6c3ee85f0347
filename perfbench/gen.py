#!/usr/bin/env python3
"""Seeded input generator for the daily-run benchmark.

Writes the raw inputs one workload reads, as parquet, under `<out>/input/`:

* DeFi workloads (`daily_full`, `daily_incremental`): `copies` wallet-shifted
  copies of a 30-day event history shaped like the testdata `events` table
  (5 event types, heavy-tailed wallet activity), mapped to the reference's
  raw API shapes: raw events (event type -> category the way the registry's
  feature pipeline maps them), historical positions (from deposit events),
  per-block market snapshots, token metadata, the token blocklist and daily
  token prices.  Values and prices are in cents, like the testdata.  A few
  events carry a blocklisted or zero-decimal token so the analytics filters
  drop rows.  For `daily_incremental`, days 1-29 come from a fixed seed and
  only day 30 from `--seed`.
* `corpus_dedup`: `copies` id-shifted copies of a word-salad corpus shaped
  like the testdata `documents` table, with junk documents the quality gate
  drops and planted near-duplicate clones (one word changed) that MinHash
  LSH must recall.

The same seed always gives byte-identical tables.  Prints the input sizes
as one JSON line.

Usage: gen.py --workload NAME --seed N --out DIR [--copies K]
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAYS = 30
START_EPOCH = 1704067200  # 2024-01-01T00:00:00Z
USERS_PER_COPY = 1500
EVENTS_PER_COPY = 100_000
BLOCK_BASE = 18_900_000
BLOCKS_PER_DAY = 7200
ZERO = "0x0000000000000000000000000000000000000000"
# event type -> reference category (registry FeaturePipeline's mapping)
CATEGORIES = {"purchase": "borrow", "error": "repay", "click": "deposit",
              "view": "withdraw", "signup": "liquidation"}
EVENT_TYPES = list(CATEGORIES)
# token -> decimals; 0xnodec has 0 decimals (dropped by the metadata join),
# 0xbad is blocklisted (dropped by the anti-join)
TOKENS = {ZERO: 18, "0xtoka": 6, "0xtokb": 8, "0xtokc": 2, "0xnodec": 0, "0xbad": 6}
DOCS_PER_COPY = 5000
DOC_STRIDE = 10_000_000
CLONE_OFF = 5_000_000
CLONES_PER_COPY = 25
HISTORY_SEED = 0  # daily_incremental's days 1-29

WORDS = ("spark line column order small sort fast value scan hash slow group "
         "batch agg filter query big key window row part table stream merge "
         "data join vector customer index shuffle stage task driver commit "
         "bucket snapshot ledger wallet token price market block chain").split()
STOP = "the a of and to is in that it for on with as".split()


def addr(u):
    """Upper-case hex wallet address; the stage layer lower-cases it."""
    return "0x%010X" % ((int(u) * 2654435761) % (1 << 40))


def day_block(day):
    return BLOCK_BASE + int(day) * BLOCKS_PER_DAY


def fmt_ts(epoch):
    return np.datetime_as_string(epoch.astype("datetime64[s]"), unit="s").astype(object)


def write(out, name, table):
    pq.write_table(table, os.path.join(out, name + ".parquet"))


def copy_shape(copies):
    """(whole copies, events per copy, wallets per copy): a fractional
    `copies` below 1 is one copy scaled down in events and wallets alike."""
    if copies >= 1:
        return int(copies), EVENTS_PER_COPY, USERS_PER_COPY
    return 1, int(EVENTS_PER_COPY * copies), int(USERS_PER_COPY * copies)


def base_events(rng_hist, rng_last, copies):
    """Events of days 1-29 drawn from `rng_hist`, day 30's from `rng_last`."""
    k, per_copy, users_per_copy = copy_shape(copies)
    n = per_copy * k
    n_last = n // DAYS
    # heavy-tailed activity: wallet rank r is drawn with weight 1/(r+10)
    w = 1.0 / (np.arange(users_per_copy) + 10.0)
    parts = []
    for rng, m, lo, hi in ((rng_hist, n - n_last, 0, DAYS - 1), (rng_last, n_last, DAYS - 1, DAYS)):
        users = rng.choice(users_per_copy, size=m, p=w / w.sum())
        copy = rng.integers(0, k, size=m)
        parts.append((users + copy * USERS_PER_COPY,
                      START_EPOCH + rng.integers(lo * 86400, hi * 86400, size=m),
                      rng.integers(0, len(EVENT_TYPES), size=m),
                      rng.integers(1, 100_000, size=m) / 100.0))  # cents, like the testdata
    user_id, ts, etype, value = (np.concatenate(c) for c in zip(*parts))
    order = np.lexsort((user_id, ts))  # event ids follow time
    return {
        "event_id": np.arange(1, n + 1, dtype=np.int64),
        "ts": ts[order].astype(np.int64),
        "user_id": user_id[order].astype(np.int64),
        "etype": etype[order],
        "value": value[order],
    }


def gen_defi(rng_hist, rng_last, copies, out):
    e = base_events(rng_hist, rng_last, copies)
    users_per_copy = copy_shape(copies)[2]
    n = len(e["event_id"])
    eid, ts, uid, val = e["event_id"], e["ts"], e["user_id"], e["value"]
    day = (ts - START_EPOCH) // 86400 + 1
    copy = uid // USERS_PER_COPY
    local = uid % USERS_PER_COPY
    cat = np.array([CATEGORIES[EVENT_TYPES[t]] for t in range(len(EVENT_TYPES))])[e["etype"]]
    toks = np.array([ZERO, "0xtoka", "0xtokb", "0xtokc"], dtype=object)[eid % 4]
    toks[eid % 50 == 7] = "0xbad"
    toks[eid % 50 == 13] = "0xnodec"
    dec = np.array([TOKENS[t] for t in toks])
    qty = val * np.power(10.0, dec)
    senders = np.array([addr(u) for u in uid], dtype=object)
    acct_uid = (local * 7 + 3) % users_per_copy + copy * USERS_PER_COPY
    accounts = np.array([addr(u) for u in acct_uid], dtype=object)
    proto = np.where(uid % 2 == 0, "aave", "compound").astype(object)
    liq = cat == "liquidation"
    liquidator = np.array([addr(u + 7_000_000) for u in uid], dtype=object)
    events = pa.table({
        "event_id": eid,
        "day": day.astype(np.int64),
        "block_number": (BLOCK_BASE + day * BLOCKS_PER_DAY + (ts % 86400) // 12).astype(np.int64),
        "log_index": (eid % 200).astype(np.int64),
        "transaction_hash": np.array(["0x%016x" % i for i in eid], dtype=object),
        "timestamp": fmt_ts(ts),
        "protocol_name": proto,
        "contract_version": np.full(n, "v2", dtype=object),
        "market_address": np.array(["0xMKT%02d" % (u % 10) for u in uid], dtype=object),
        "token_address": np.where(liq, ZERO, toks).astype(object),
        "category": cat.astype(object),
        "account_address": accounts,
        "quantity": np.where(liq, val, qty),
        "sender_address": senders,
        "liquidated_token_address": pa.array(np.where(liq, toks, None)),
        "liquidator_address": pa.array(np.where(liq, liquidator, None)),
        "quantity_liquidated": pa.array(np.where(liq, qty, np.nan), from_pandas=True),
    })
    write(out, "raw_events", events)

    # historical positions: one per deposit event, on the day's snapshot block
    dep = cat == "deposit"
    pe, pu, pv, pday, pts = eid[dep], uid[dep], val[dep], day[dep], ts[dep]
    m = pu % 10
    positions = pa.table({
        "position_seq": pe,
        "day": pday.astype(np.int64),
        "balance": pv,
        "id": np.array(["0xPOS%x" % i for i in pe], dtype=object),
        "isCollateral": pe % 3 != 0,
        "market": pa.StructArray.from_arrays(
            [pa.array(["m%d" % i for i in m]), pa.array(["0xM%d" % i for i in m])],
            names=["name", "id"]),
        "side": np.where(pe % 2 == 0, "BORROWER", "LENDER").astype(object),
        "account": pa.StructArray.from_arrays(
            [pa.array([addr(u) for u in pu])], names=["id"]),
        "block_number": np.array([day_block(d) for d in pday], dtype=np.int64),
        "protocol": np.where(pu % 2 == 0, "aave-v2-eth", "compound-v2-eth").astype(object),
        "timestamp": fmt_ts(pts),
    })
    write(out, "raw_positions", positions)

    # prices in cents, like the testdata values the registry's feature
    # pipeline derives its prices from
    def cents(rng, lo, hi):
        return int(rng.integers(round(lo * 100), round(hi * 100) + 1)) / 100.0

    # market snapshots: 10 markets + the 2 ETH reference markets per day
    rows = []
    for d in range(1, DAYS + 1):
        rng = rng_last if d == DAYS else rng_hist
        t = START_EPOCH + (d - 1) * 86400
        for i in range(10):
            rows.append(("0xm%d" % i, "m%d" % i, cents(rng, 0.5, 5000.0),
                         float(70 + i), i % 3, "aave-v2-eth" if i % 2 == 0 else "compound-v2-eth",
                         d, t))
        for mid, name, p in (("0xeth-a", "Aave interest bearing WETH", "aave-v2-eth"),
                             ("0xeth-c", "Compound Ether", "compound-v2-eth")):
            rows.append((mid, name, cents(rng, 1500.0, 2500.0), 80.0, 18, p, d, t))
    cols = list(zip(*rows))
    markets = pa.table({
        "id": pa.array(cols[0]), "name": pa.array(cols[1]),
        "inputTokenPriceUSD": pa.array(cols[2]), "liquidationThreshold": pa.array(cols[3]),
        "inputToken": pa.StructArray.from_arrays(
            [pa.array(cols[4], type=pa.int64())], names=["decimals"]),
        "protocol": pa.array(cols[5]), "day": pa.array(cols[6], type=pa.int64()),
        "block_number": pa.array([day_block(d) for d in cols[6]], type=pa.int64()),
        "timestamp": pa.array(fmt_ts(np.array(cols[7]))),
    })
    write(out, "raw_markets", markets)

    write(out, "tokens_metadata", pa.table({
        "contract_address": list(TOKENS), "decimals": pa.array(list(TOKENS.values()), type=pa.int32())}))
    write(out, "tokens_blocklist", pa.table({"contract_address": ["0xbad"]}))
    paddr, pts2, pprice = [], [], []
    for d in range(DAYS):
        rng = rng_last if d == DAYS - 1 else rng_hist
        for t in TOKENS:
            paddr.append(t)
            pts2.append(START_EPOCH + d * 86400)
            pprice.append(cents(rng, 0.01, 4.0))
    write(out, "daily_prices", pa.table({
        "address": paddr, "timestamp": pa.array(pts2, type=pa.int64()), "price": pprice}))
    wallets = len(np.unique(np.concatenate([uid, acct_uid])))
    return {"events": int(n), "wallets": int(wallets), "days": DAYS,
            "event_pages": int(-(-n // 10_000)), "positions": int(dep.sum()),
            "position_batches": int(-(-int(dep.sum()) // 6000)),
            "market_snapshots": len(rows)}


def gen_corpus(rng, copies, out):
    ids, texts = [], []
    clones = []
    k, docs_per_copy = (int(copies), DOCS_PER_COPY) if copies >= 1 else \
        (1, int(DOCS_PER_COPY * copies))
    for c in range(k):
        base = c * DOC_STRIDE
        n_words = rng.integers(12, 90, size=docs_per_copy)
        junk = rng.random(docs_per_copy) < 0.1
        for i in range(docs_per_copy):
            k = int(n_words[i])
            if junk[i]:
                ws = rng.choice(list("xyzqj"), size=k)
            else:
                stop = rng.random(k) < 0.3
                ws = np.where(stop, rng.choice(STOP, size=k), rng.choice(WORDS, size=k))
            ids.append(base + i)
            texts.append(" ".join(ws))
        # planted near-duplicates: a clone with one word replaced
        for i in rng.choice(np.flatnonzero(~junk & (n_words >= 40)), size=CLONES_PER_COPY,
                            replace=False):
            ws = texts[c * (docs_per_copy + CLONES_PER_COPY) + i].split(" ")
            j = int(rng.integers(0, len(ws)))
            ws[j] = "planted"
            ids.append(base + CLONE_OFF + int(i))
            texts.append(" ".join(ws))
            clones.append((base + int(i), base + CLONE_OFF + int(i)))
    write(out, "documents", pa.table({"doc_id": pa.array(ids, type=pa.int64()), "text": texts}))
    a, b = zip(*clones)
    write(out, "planted_pairs", pa.table({
        "doc_id_1": pa.array(a, type=pa.int64()), "doc_id_2": pa.array(b, type=pa.int64())}))
    return {"documents": len(ids), "planted_pairs": len(clones)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--copies", type=float, default=0)
    a = ap.parse_args()
    out = os.path.join(a.out, "input")
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(a.seed)
    extra = {}
    if a.workload == "corpus_dedup":
        sizes = gen_corpus(rng, a.copies or 4, out)
    elif a.workload == "daily_incremental":
        # the lakehouse's days 1-29 are the same for every seed, so a
        # checkout builds it once (run.py caches it); day 30 is seeded
        extra = {"history_seed": HISTORY_SEED}
        sizes = gen_defi(np.random.default_rng(HISTORY_SEED), rng, a.copies or 10, out)
    else:
        sizes = gen_defi(rng, rng, a.copies or 10, out)
    sizes = {"workload": a.workload, "seed": a.seed, **extra, **sizes}
    with open(os.path.join(out, "sizes.json"), "w") as f:
        json.dump(sizes, f)
    print(json.dumps(sizes))


if __name__ == "__main__":
    main()
