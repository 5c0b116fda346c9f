"""Seeded input generators for the benchmark, plus the ETL expected-state
replay. Everything here is a pure function of its seed: the same seed writes
byte-identical files, so a run's inputs are reproducible from its command line.

Three input families:
  * ETL snapshots: CoinGecko /coins/markets dumps (one JSON array per file).
  * Star-schema fixture: the ten tables the registered queries read.
  * LLM corpus: documents + embeddings with recorded duplicate shares.
"""
import datetime as dt
import functools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("batch sort value hash filter big data dup spark line small fast group "
         "customer query row stream the part column order scan a slow agg key "
         "window table merge vector join").split()
NAME_WORDS = ("Bit Eth Sol Doge Chain Link Swap Moon Atom Nova Pixel Terra Luna "
              "Quant Fi Block Coin Token Dao Net Verse Labs").split()

# ---------------------------------------------------------------------------
# ETL: CoinGecko snapshots
# ---------------------------------------------------------------------------

SNAP_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
SNAP_GAP_S = 300        # one snapshot every five minutes
UPDATE_SLOTS = 10       # last_updated lands on one of ten 10-second slots


def _iso_ms(ms):
    t = SNAP_EPOCH + dt.timedelta(milliseconds=int(ms))
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + "%03dZ" % (t.microsecond // 1000)


def coin_universe(seed, n_coins):
    """The coin pool: ~5% of coins share their symbol with another coin (the
    reference keys both tables on symbol), some names carry commas and
    quotes, and supply fields are null for a share of coins."""
    rng = np.random.default_rng([seed, 1])
    pool = n_coins + n_coins // 10          # snapshots sample n_coins of these
    coins = []
    for i in range(pool):
        sym = "c%05d" % i
        w = rng.choice(NAME_WORDS, size=2)
        name = "%s%s %d" % (w[0], w[1].lower(), i)
        r = rng.random()
        if r < 0.04:
            name = name + ", Inc."
        elif r < 0.08:
            name = 'The "%s"' % name
        coins.append({
            "id": "coin-%05d" % i, "symbol": sym, "name": name,
            "image": "https://img.example/%05d.png" % i,
            "base_price": float(10 ** rng.uniform(-4, 4)),
            "supply": float(np.round(10 ** rng.uniform(5, 10))),
            "null_total": bool(rng.random() < 0.1),
            "null_max": bool(rng.random() < 0.4),
            "has_roi": bool(rng.random() < 0.3),
        })
    # symbol collisions: every 20th coin reuses the symbol of a random other one
    for i in range(0, pool, 20):
        j = int(rng.integers(0, pool))
        if j != i:
            coins[i]["symbol"] = coins[j]["symbol"]
    for c in coins:
        for f in ("id", "symbol", "name", "image"):
            c["j_" + f] = json.dumps(c[f])
    return coins


def _num(x):
    return "null" if x is None else repr(x)


def snapshot(seed, coins, k, n_coins):
    """Snapshot number k as JSON text: n_coins coins drawn from the pool, each
    with fresh market figures and a last_updated inside the snapshot's window."""
    rng = np.random.default_rng([seed, 2, k])
    pick = np.sort(rng.choice(len(coins), size=n_coins, replace=False))
    drift = rng.normal(0, 0.05, n_coins).tolist()
    vol = rng.uniform(0.001, 0.2, n_coins).tolist()
    slot = rng.integers(0, UPDATE_SLOTS, n_coins).tolist()
    roi_t, roi_p = rng.uniform(0, 50, n_coins).tolist(), rng.uniform(0, 5000, n_coins).tolist()
    stamps = [_iso_ms(k * SNAP_GAP_S * 1000 + u * 10_000) for u in range(UPDATE_SLOTS)]
    rows = []
    for j, i in enumerate(pick.tolist()):
        c, d = coins[i], drift[j]
        price = round(c["base_price"] * (1 + d), 8)
        cap = round(price * c["supply"], 2)
        total = None if c["null_total"] else c["supply"]
        roi = ('{"times":%r,"currency":"usd","percentage":%r}'
               % (round(roi_t[j], 4), round(roi_p[j], 4)) if c["has_roi"] else "null")
        rows.append(
            '{"id":%s,"symbol":%s,"name":%s,"image":%s,"current_price":%r,"market_cap":%r,'
            '"market_cap_rank":%d,"fully_diluted_valuation":%s,"total_volume":%r,'
            '"high_24h":%r,"low_24h":%r,"price_change_24h":%r,'
            '"price_change_percentage_24h":%r,"market_cap_change_24h":%r,'
            '"market_cap_change_percentage_24h":%r,"circulating_supply":%r,'
            '"total_supply":%s,"max_supply":%s,"ath":%r,"ath_change_percentage":-66.6,'
            '"ath_date":"2021-11-10T14:24:11.849Z","atl":%r,"atl_change_percentage":900.0,'
            '"atl_date":"2015-10-20T00:00:00.000Z","roi":%s,"last_updated":"%s"}' % (
                c["j_id"], c["j_symbol"], c["j_name"], c["j_image"], price, cap, j + 1,
                _num(None if total is None else round(price * total, 2)),
                round(cap * vol[j], 2), round(price * 1.03, 8), round(price * 0.97, 8),
                round(price * d, 8), round(d * 100, 4), round(cap * d, 2), round(d * 100, 4),
                c["supply"], _num(total), _num(None if c["null_max"] else c["supply"] * 2),
                round(price * 3, 8), round(price / 10, 8), roi, stamps[slot[j]]))
    return "[" + ",".join(rows) + "]"


def write_snapshots(out_dir, seed, first, count, n_coins):
    """Writes snapshots first..first+count-1 as `snap_%05d.json`; returns paths."""
    os.makedirs(out_dir, exist_ok=True)
    coins = coin_universe(seed, n_coins)
    paths = []
    for k in range(first, first + count):
        p = os.path.join(out_dir, "snap_%05d.json" % k)
        with open(p, "w") as f:
            f.write(snapshot(seed, coins, k, n_coins))
        paths.append(p)
    return paths


@functools.lru_cache(maxsize=4096)
def _ms(iso):
    t = dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
    return int(round((t - SNAP_EPOCH).total_seconds() * 1000))


class Replay:
    """Expected warehouse state, computed without the engine: per batch the
    latest row per key (dim: greatest name; fact: latest last_updated), then a
    source-wins SCD1 merge. A key whose winners tie keeps every tied row as
    acceptable."""

    def __init__(self):
        self.dim = {}     # symbol -> set of acceptable dim tuples
        self.fact = {}    # symbol -> set of acceptable fact tuples
        self.tied_dim = set()
        self.tied_fact = set()

    @staticmethod
    def dim_row(r):
        return (r["symbol"], r["name"], r["symbol"], r["image"])

    @staticmethod
    def fact_row(r):
        return (r["symbol"], r["current_price"], r["market_cap"], r["market_cap_rank"],
                r["total_volume"], r["price_change_percentage_24h"],
                r["market_cap_change_percentage_24h"], r["high_24h"], r["low_24h"],
                r["price_change_24h"], r["circulating_supply"], r["total_supply"],
                r["max_supply"], _ms(r["last_updated"]))

    def apply(self, rows):
        best_dim, best_fact = {}, {}
        for r in rows:
            k = r["symbol"]
            for best, order, row in ((best_dim, r["name"], self.dim_row(r)),
                                     (best_fact, _ms(r["last_updated"]), self.fact_row(r))):
                cur = best.get(k)
                if cur is None or order > cur[0]:
                    best[k] = (order, {row})
                elif order == cur[0]:
                    cur[1].add(row)
        for best, state, tied in ((best_dim, self.dim, self.tied_dim),
                                  (best_fact, self.fact, self.tied_fact)):
            for k, (_, acc) in best.items():
                state[k] = acc
                (tied.add if len(acc) > 1 else tied.discard)(k)


# ---------------------------------------------------------------------------
# Star-schema fixture (the tables the registered queries read)
# ---------------------------------------------------------------------------

def _ts_us(days_from, base):
    return pa.array((base + days_from).astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))


def _words(rng, lo, hi):
    n = int(rng.integers(lo, hi))
    return " ".join(rng.choice(WORDS, size=n))


def write_star(out_dir, seed, sf, n_docs=500, n_vecs=500):
    """The star tables at scale factor `sf` (lineitem ~ 6M x sf rows), plus
    `documents` and `embeddings`, in the fixture's column types."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_evt, n_users = int(1500000 * sf), int(1000000 * sf), max(15, int(15000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    noun = ["widget", "bolt", "gear", "gizmo", "ring", "plate", "anvil", "spring"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": ["%s %s" % (a, b) for a, b in zip(rng.choice(adj, n_part),
                                                     rng.choice(noun, n_part))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"],
                             n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    base = np.datetime64("1995-01-01", "D")
    odays = rng.integers(0, 2404, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts_us(odays, base),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    per = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord), per)
    n_li = len(lok)
    lnum = np.concatenate([np.arange(1, p + 1) for p in per]) if n_ord else np.array([])
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts_us(odays[lok] + rng.integers(1, 122, n_li), base)})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt))
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_evt),
        "value": money(0.01, 490.0, n_evt),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_evt)]})
    docs = [_words(rng, 8, 90) for _ in range(n_docs)]
    _write_docs(out_dir, rng, list(range(n_docs)), docs)
    vecs, labels = _clustered_vecs(rng, n_vecs)
    _write_vecs(out_dir, list(range(n_vecs)), vecs, labels)


def _write_docs(out_dir, rng, ids, texts):
    n = len(ids)
    _write(out_dir, "documents", {
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "zh", "de", "fr", "es"], n),
        "source": ["src%d" % (i % 20) for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _clustered_vecs(rng, n, dim=64, k=10):
    centers = rng.normal(0, 1, (k, dim))
    labels = rng.integers(0, k, n)
    v = centers[labels] + rng.normal(0, 0.8, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels


def _write_vecs(out_dir, ids, vecs, labels):
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array([list(map(float, r)) for r in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# ---------------------------------------------------------------------------
# LLM corpus: documents and embeddings with exact and near duplicates
# ---------------------------------------------------------------------------

def write_corpus(out_dir, seed, n_docs, n_vecs, exact_share=0.08, near_share=0.08):
    """A corpus for the curation and embedding pipelines. Distinct base rows
    are re-emitted under fresh, shuffled ids: `exact_share` of the rows are
    verbatim copies of another row and `near_share` are copies with a small
    edit (a few words swapped / a little vector noise). Returns the recorded
    shares so the artifact states the input property the dedup stages see."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 4])

    def plan(n):
        n_exact, n_near = int(n * exact_share), int(n * near_share)
        n_base = n - n_exact - n_near
        src = rng.integers(0, n_base, n_exact + n_near)
        return n_base, src[:n_exact], src[n_exact:]

    n_base, ex, nr = plan(n_docs)
    texts = [_words(rng, 12, 90) for _ in range(n_base)]
    for s in ex:
        texts.append(texts[s])
    for s in nr:
        w = texts[s].split()
        for j in rng.integers(0, len(w), max(1, len(w) // 20)):
            w[j] = str(rng.choice(WORDS))
        texts.append(" ".join(w))
    order = rng.permutation(n_docs)
    _write_docs(out_dir, rng, list(range(n_docs)), [texts[i] for i in order])

    v_base, vex, vnr = plan(n_vecs)
    vecs, labels = _clustered_vecs(rng, v_base)
    near = vecs[vnr] + rng.normal(0, 0.01, (len(vnr), vecs.shape[1])).astype(np.float32)
    near /= np.linalg.norm(near, axis=1, keepdims=True)
    allv = np.concatenate([vecs, vecs[vex], near.astype(np.float32)])
    alll = np.concatenate([labels, labels[vex], labels[vnr]])
    vorder = rng.permutation(n_vecs)
    _write_vecs(out_dir, list(range(n_vecs)), allv[vorder], alll[vorder])
    return {"docs": n_docs, "vecs": n_vecs,
            "doc_exact_dup_share": len(ex) / n_docs, "doc_near_dup_share": len(nr) / n_docs,
            "vec_exact_dup_share": len(vex) / n_vecs, "vec_near_dup_share": len(vnr) / n_vecs}
