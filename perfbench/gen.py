"""Seeded input generators. Every table is a pure function of (workload,
seed); the engine sees only the files written here.

  dashboard_serve  testdata-schema tables at about sf0.1 (TESTDATA.md)
  stream_jobs      JSON wire lines per round for the events stream and the
                   CDC changelog, plus the same records as parquet for the
                   checker
  corpus_refresh   a base documents/embeddings corpus plus one batch of new
                   documents and embeddings per round
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - EPOCH).total_seconds()) * US


def zipf(rng, n_keys, s=1.1):
    """A sampler of Zipf(s)-skewed ids over n_keys; which ids are hot is
    seeded once, so every draw from it shares the same hot keys."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    p /= p.sum()
    perm = rng.permutation(n_keys)
    return lambda size: perm[rng.choice(n_keys, size=size, p=p)]


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


# ---------------------------------------------------------------- dashboard
ADJ = ["small", "large", "hot", "blue", "red", "green", "steel", "smooth",
       "brushed", "plated", "tiny", "rough"]
NOUN = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring",
        "hinge", "bracket", "lamp"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DASH = dict(customers=15000, parts=20000, suppliers=1000, orders=150000,
            events=100000, users=1500)


def gen_dashboard(out, seed):
    rng = np.random.default_rng([seed, 1])
    n = DASH
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n["suppliers"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["suppliers"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["suppliers"]).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n["suppliers"]), 2)})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n["customers"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customers"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customers"]).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n["customers"]), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n["customers"])]})
    adj = rng.integers(0, len(ADJ), n["parts"])
    noun = rng.integers(0, len(NOUN), n["parts"])
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n["parts"], dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["parts"])],
        "p_type": [["SMALL", "LARGE", "ECONOMY", "PROMO", "STANDARD"][i]
                   for i in rng.integers(0, 5, n["parts"])],
        "p_size": pa.array(rng.integers(1, 51, n["parts"]).astype(np.int32)),
        "p_retailprice": np.round(900 + np.arange(n["parts"]) % 1000 * 0.1, 2)})
    day0, days = _us(dt.datetime(1995, 1, 1)), 2404  # through 2001-08-01
    no = n["orders"]
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": zipf(rng, n["customers"])(no).astype(np.int64),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, no), 2),
        "o_orderdate": _ts(day0 + rng.integers(0, days, no) * 86400 * US),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][i]
                            for i in rng.integers(0, 5, no)]})
    lines = rng.integers(1, 8, no)
    lok = np.repeat(np.arange(no, dtype=np.int64), lines)
    lnum = (np.arange(len(lok)) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    nl = len(lok)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": lok,
        "l_partkey": zipf(rng, n["parts"])(nl).astype(np.int64),
        "l_suppkey": rng.integers(0, n["suppliers"], nl).astype(np.int64),
        "l_linenumber": pa.array(lnum),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(day0 + rng.integers(1, days + 95, nl) * 86400 * US)})
    ne = n["events"]
    ts = np.sort(_us(dt.datetime(2024, 1, 1)) + rng.integers(0, 30 * 86400 * US, ne))
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": zipf(rng, n["users"])(ne).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0, 200, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})


def dashboard_requests(seed):
    """The distinct requests of dashboard_serve: endpoint calls with seeded
    days, keywords and pages, then the q01-q18 reference queries."""
    rng = np.random.default_rng([seed, 2])
    reqs = []
    for d in sorted(rng.choice(np.arange(2, 31), 2, replace=False)):
        reqs.append({"op": "realtime_total", "day": f"2024-01-{d:02d}"})
    for d in sorted(rng.choice(np.arange(2, 31), 2, replace=False)):
        reqs.append({"op": "realtime_hours", "day": f"2024-01-{d:02d}",
                     "prev": f"2024-01-{d - 1:02d}"})
    for i in range(4):
        kw = f"{ADJ[rng.integers(0, len(ADJ))]} {NOUN[rng.integers(0, len(NOUN))]}" \
            if i % 2 == 0 else NOUN[rng.integers(0, len(NOUN))]
        reqs.append({"op": "sale_detail", "keyword": kw, "page": int(rng.integers(1, 4))})
    return reqs


# ---------------------------------------------------------------- streaming
# The jobs run at the reference's settings (BASELINE.md): 5 min alert windows
# sliding every 3 s, a 10 s watermark and join tolerance, >= 3 coupon uids.
# A round carries 60 s of event time, so the windows close and the state
# reaches its steady size within the untimed warm-up rounds. Records from the
# last `late_window_s` of a round may arrive one round late; 4 s plus the 5 s
# a detail may trail its order stays inside the 10 s watermark.
STREAM = dict(round_s=60, events=1200, users=2000, orders=120,
              max_details=4, detail_lag_s=5, skus=1000, user_changes=60,
              late_share=0.05, late_window_s=4, order_updates=0.05,
              fraud_pool=20, fraud_per_round=2, fraud_coupons=4)
STREAM_T0 = _us(dt.datetime(2024, 3, 1))


def _iso(us):
    return (EPOCH + dt.timedelta(microseconds=int(us))).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def _sql_ts(us):
    return (EPOCH + dt.timedelta(microseconds=int(us))).strftime("%Y-%m-%d %H:%M:%S")


def gen_stream(out, seed, rounds):
    """Rounds of wire lines, one pair of files per round under out/wire, in
    the round they are handed to the engine (`deliver`). A fixed share of all
    records, drawn from the last `late_window_s` of a round, arrive one round
    late, and every round's records arrive shuffled. Besides the Zipf-skewed
    users, a pool of `fraud_pool` devices never clicks; each round a few of
    them take coupons from several uids, which the alert job must catch."""
    rng = np.random.default_rng([seed, 3])
    p = STREAM
    R = p["round_s"] * US
    user_of, sku_of = zipf(rng, p["users"]), zipf(rng, p["skus"])
    ev, cdc = [], []
    ev_id, order_id = 0, 0
    seen_users = set()

    def deliver_round(r, ts):
        late = (ts >= STREAM_T0 + (r + 1) * R - p["late_window_s"] * US) & \
            (rng.random(len(ts)) < p["late_share"] / (p["late_window_s"] * US / R))
        return np.where(late, r + 1, r)

    for r in range(rounds):
        base = STREAM_T0 + r * R
        n = p["events"]
        ts = base + rng.integers(0, R // 1000, n) * 1000  # the wire carries ms
        users = user_of(n)
        types = rng.choice(5, n, p=[0.25, 0.05, 0.3, 0.05, 0.35])
        ks = rng.integers(0, 50, n)
        # fraud devices: coupons from distinct uids within 30 s, no click
        fraud = rng.choice(p["fraud_pool"], p["fraud_per_round"], replace=False) + p["users"]
        nf = p["fraud_coupons"]
        f0 = base + rng.integers(0, (R - 30 * US) // 1000, len(fraud)) * 1000
        ts = np.concatenate([ts, np.repeat(f0, nf) + rng.integers(0, 30_000, len(fraud) * nf) * 1000])
        users = np.concatenate([users, np.repeat(fraud, nf)])
        types = np.concatenate([types, np.full(len(fraud) * nf, 2)])
        ks = np.concatenate([ks, np.concatenate([rng.choice(50, nf, replace=False) for _ in fraud])])
        vals = np.round(rng.uniform(0, 200, len(ts)), 2)
        dr = deliver_round(r, ts)
        for i in range(len(ts)):
            ev.append((int(dr[i]), ev_id, int(ts[i]), int(users[i]),
                       EVENT_TYPES[types[i]], float(vals[i]), int(ks[i])))
            ev_id += 1
        # orders and their details; a detail trails its order by < detail_lag_s
        no = p["orders"]
        ots = base + rng.integers(0, R // US, no) * US
        ousers = user_of(no)
        odr = deliver_round(r, ots)
        for i in range(no):
            oid = order_id + i
            o = {"id": str(oid), "user_id": str(int(ousers[i])),
                 "province_id": str(int(rng.integers(1, 35))),
                 "order_status": "1001", "total_amount": float(np.round(rng.uniform(10, 5000), 2)),
                 "create_time": _sql_ts(ots[i])}
            cdc.append((int(odr[i]), "order_info", "INSERT", o))
            if rng.random() < p["order_updates"]:
                cdc.append((int(odr[i]), "order_info", "UPDATE", dict(o, order_status="1002")))
            nd = int(rng.integers(1, p["max_details"] + 1))
            for j in range(nd):
                dts = int(ots[i] + rng.integers(0, p["detail_lag_s"]) * US)
                sku = int(sku_of(1)[0])
                d = {"id": str(oid * 10 + j), "order_id": str(oid), "sku_id": str(sku),
                     "sku_name": f"{ADJ[sku % len(ADJ)]} {NOUN[sku % len(NOUN)]} {sku}",
                     "order_price": f"{rng.uniform(5, 900):.2f}",
                     "sku_num": str(int(rng.integers(1, 5))), "create_time": _sql_ts(dts)}
                cdc.append((int(deliver_round(r, np.array([dts]))[0]), "order_detail", "INSERT", d))
        order_id += no
        # user dimension changelog: ordered across rounds, one second apart
        nu = p["user_changes"]
        uids = user_of(nu)
        for i in range(nu):
            uts = base + i * US
            u = int(uids[i])
            op = "UPDATE" if u in seen_users else "INSERT"
            seen_users.add(u)
            cdc.append((r, "user_info", op, {
                "id": str(u), "login_name": f"user{u}",
                "user_level": str(int(rng.integers(1, 6))),
                "birthday": f"{1960 + int(rng.integers(0, 45))}-0{int(rng.integers(1, 10))}-1{int(rng.integers(0, 10))}",
                "gender": "MF"[int(rng.integers(0, 2))],
                "operate_time": _sql_ts(uts)}))
    ev_order = rng.permutation(len(ev))
    cdc_order = rng.permutation(len(cdc))
    os.makedirs(f"{out}/wire")
    files = {}

    def wire(kind, r):
        if (kind, r) not in files:
            files[(kind, r)] = open(f"{out}/wire/{kind}_{r:04d}.wire", "w")
        return files[(kind, r)]
    # a record delivered after the last round is never handed over
    for i in ev_order:
        d, eid, t, u, et, v, k = ev[i]
        if d < rounds:
            wire("events", d).write(json.dumps({
                "event_id": eid, "ts": _iso(t), "user_id": u, "event_type": et,
                "value": v, "props": json.dumps({"k": k})}) + "\n")
    for i in cdc_order:
        d, table, op, data = cdc[i]
        if d < rounds:
            wire("cdc", d).write(f"{table}\t{op}\t{json.dumps(data)}\n")
    for fh in files.values():
        fh.close()
    _write(f"{out}/events_in.parquet", {
        "deliver": np.array([e[0] for e in ev], dtype=np.int64),
        "event_id": np.array([e[1] for e in ev], dtype=np.int64),
        "ts": _ts([e[2] for e in ev]),
        "user_id": np.array([e[3] for e in ev], dtype=np.int64),
        "event_type": [e[4] for e in ev],
        "value": np.array([e[5] for e in ev]),
        "k": np.array([e[6] for e in ev], dtype=np.int64)})
    _write(f"{out}/cdc_in.parquet", {
        "deliver": np.array([c[0] for c in cdc], dtype=np.int64),
        "tbl": [c[1] for c in cdc], "op": [c[2] for c in cdc],
        "data": [json.dumps(c[3]) for c in cdc]})


# ---------------------------------------------------------------- corpus
WORDS = ("spark stream table query join sort scan filter group hash value row "
         "column batch window key order part data line vector merge agg fast "
         "slow big small customer").split()
STOP = ["the", "a", "of", "and", "to", "in", "is"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
CORPUS = dict(docs=1500, vecs=1500, dim=64, batch_docs=20, batch_vecs=20)


def _doc_text(rng, n_tokens):
    """Every fourth token is a stopword, so each document passes the ingest
    path's quality gate (stopword share 0.02-0.6, at least 10 tokens)."""
    words = rng.integers(0, len(WORDS), n_tokens)
    stops = rng.integers(0, len(STOP), n_tokens)
    return " ".join(STOP[s] if i % 4 == 3 else WORDS[w]
                    for i, (w, s) in enumerate(zip(words, stops)))


def _planted_pair(tag):
    """A near-duplicate pair whose text does not depend on the seed: the
    second copy differs in its last word only (3-gram Jaccard > 0.9)."""
    words = _doc_text(np.random.default_rng([99, tag + 1]), 60).split()
    return " ".join(words), " ".join(words[:-1] + ["edited"])


def _docs(rng, ids, texts):
    return {"doc_id": np.asarray(ids, dtype=np.int64), "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), len(texts))],
            "source": [f"src{i}" for i in rng.integers(0, 20, len(texts))],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def _vecs(rng, ids, dim):
    v = rng.normal(0, 0.15, (len(ids), dim)).astype(np.float32)
    return {"vec_id": np.asarray(ids, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, len(ids)).astype(np.int32))}


def gen_corpus(out, seed, rounds):
    """Base tables under out/base, one batch per round under out/batch_NNNN.
    Round 0 is the batch of the set-up pass."""
    rng = np.random.default_rng([seed, 4])
    c = CORPUS
    os.makedirs(f"{out}/base", exist_ok=True)
    texts = [_doc_text(rng, int(rng.integers(20, 80))) for _ in range(c["docs"] - 2)]
    texts += list(_planted_pair(-1))
    _write(f"{out}/base/documents.parquet", _docs(rng, range(c["docs"]), texts))
    _write(f"{out}/base/embeddings.parquet", _vecs(rng, range(c["vecs"]), c["dim"]))
    for r in range(rounds):
        d = f"{out}/batches/batch_{r:04d}"
        os.makedirs(d, exist_ok=True)
        nb = c["batch_docs"]
        first = c["docs"] + r * nb
        texts = [_doc_text(rng, int(rng.integers(20, 80))) for _ in range(nb - 2)]
        texts += list(_planted_pair(r))
        _write(f"{d}/documents.parquet", _docs(rng, range(first, first + nb), texts))
        fv = c["vecs"] + r * c["batch_vecs"]
        _write(f"{d}/embeddings.parquet", _vecs(rng, range(fv, fv + c["batch_vecs"]), c["dim"]))
