#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes gmall-shaped ODS records into ``DIR/ods/``, the stand-in for the
reference's Kafka topics ``ods_base_log`` and ``ods_base_db``:
* ``log/log-NNNNN.json``: app-log JSON lines (start and page events,
  displays), with a fixed number of malformed lines per file;
* ``db/db-NNNNN.json``: CDC envelopes ``{database, tableName, before,
  after, type}``: a dim snapshot, fact inserts, and dim updates;
* ``table_process.json``: the routing config rows DbRouter reads;
* ``meta.json``: the layout (files per trigger, day, fault keys);
* ``DIR/sf/``: the star-schema tables the registry gates read.

Every CDC count is a function of the size arguments only; ``--seed`` moves
values (who, which sku, when, how much), never how many. How many log
lines a session yields does depend on the seed. File modification
times are pinned in file order, so a file stream with a fixed
``maxFilesPerTrigger`` sees the same batches on every run.

The whole CDC backlog is one micro-batch for DbRouter, as a binlog backlog
read at once is. Only the seed-independent fault block changes keys after
their snapshot insert: ``FAULT_USERS`` user_info keys get three updates
each, and each of those users places exactly one order (two details, one
payment) with fixed contents.

Usage: python3 perfbench/gen.py --out DIR --seed N [--ods-orders N]
       [--ods-sessions N]
"""
import argparse
import json
import os
import random

DAY = "2024-06-01"
DAY_INT = 20240601
# 08:00:00 UTC on DAY, in epoch seconds
T0 = 1717228800
SPAN_S = 3600
SENTINEL_S = T0 + SPAN_S + 1800
FAULT_USERS = 200
FAULT_UPDATES = 3
DB_FILES_PER_TRIGGER = 4
LOG_FILES_PER_TRIGGER = 4
MALFORMED_PER_FILE = 25

PAGES = ["home", "good_list", "good_detail", "cart", "trade", "payment", "mine"]
KEYWORDS = ["phone", "xiaomi", "apple", "5g", "laptop", "tv", "camera",
            "watch", "shoes", "coat", "book", "tea"]
CHANNELS = ["xiaomi", "huawei", "oppo", "vivo", "appstore", "web"]
VERSIONS = ["v2.1.134", "v2.1.132", "v2.0.1", "v1.9.9"]
BRANDS = ["Xiaomi", "Huawei", "Apple", "Oppo"]
FACT_ROUTES = ["order_info", "order_detail", "payment_info", "cart_info",
               "favor_info", "comment_info", "order_refund_info"]
DIM_ROUTES = ["user_info", "base_province", "sku_info", "spu_info",
              "base_trademark", "base_category3"]
SINK_COLUMNS = {
    "order_info": "id,province_id,order_status,user_id,total_amount,"
                  "activity_reduce_amount,coupon_reduce_amount,"
                  "original_total_amount,feight_fee,expire_time,create_time",
    "order_detail": "id,order_id,sku_id,order_price,sku_num,sku_name,"
                    "create_time,split_total_amount,split_activity_amount,"
                    "split_coupon_amount",
    "payment_info": "id,order_id,user_id,payment_type,total_amount,"
                    "callback_time,create_time",
    "cart_info": "id,user_id,sku_id,sku_num,create_time",
    "favor_info": "id,user_id,sku_id,create_time",
    "comment_info": "id,user_id,sku_id,order_id,appraise,create_time",
    "order_refund_info": "id,user_id,order_id,sku_id,refund_amount,create_time",
    "user_info": "id,name,birthday,gender",
    "base_province": "id,name,area_code,iso_code,iso_3166_2",
    "sku_info": "id,spu_id,tm_id,category3_id,sku_name",
    "spu_info": "id,spu_name",
    "base_trademark": "id,tm_name",
    "base_category3": "id,name",
}


def ts_str(sec):
    import datetime
    return datetime.datetime.fromtimestamp(sec, datetime.timezone.utc) \
        .strftime("%Y-%m-%d %H:%M:%S")


def money(cents):
    return f"{cents // 100}.{cents % 100:02d}"


def env(table, row, typ="insert"):
    return json.dumps({"database": "gmall", "tableName": table, "before": None,
                       "after": json.dumps(row, separators=(",", ":")),
                       "type": typ}, separators=(",", ":"))


def table_process():
    rows = []
    for t in FACT_ROUTES:
        rows.append({"source_table": t, "operate_type": "insert",
                     "sink_type": "kafka", "sink_table": f"dwd_{t}",
                     "sink_columns": SINK_COLUMNS[t], "sink_pk": "id",
                     "sink_extend": None})
    for t in DIM_ROUTES:
        for op in ("insert", "update"):
            rows.append({"source_table": t, "operate_type": op,
                         "sink_type": "hbase", "sink_table": f"dim_{t}",
                         "sink_columns": SINK_COLUMNS[t], "sink_pk": "id",
                         "sink_extend": None})
    return rows


def write_files(dirpath, prefix, files, base_mtime):
    os.makedirs(dirpath, exist_ok=True)
    for i, lines in enumerate(files):
        p = os.path.join(dirpath, f"{prefix}-{i:05d}.json")
        with open(p, "w") as f:
            f.write("\n".join(lines))
            f.write("\n")
        # file streams order new files by mtime: pin it in file order
        os.utime(p, (base_mtime + i * 10, base_mtime + i * 10))


def split_even(items, n):
    k, r = divmod(len(items), n)
    out, at = [], 0
    for i in range(n):
        m = k + (1 if i < r else 0)
        out.append(items[at:at + m])
        at += m
    return out


# --------------------------------------------------------------- app logs

def gen_logs(rng, n_sessions, n_mids, n_skus, n_files):
    """Sessions of page events (plus some start events) for n_mids devices,
    globally ts-ordered, split into n_files files. Returns the file lines."""
    events = []  # (ts_ms, line)
    used = set()
    seen_mid = set()

    def unique_ts(mid, ms):
        while (mid, ms) in used:
            ms += 1
        used.add((mid, ms))
        return ms

    for s in range(n_sessions):
        mid = rng.randint(1, n_mids)
        start = T0 * 1000 + rng.randint(0, SPAN_S * 1000 - 120_000)
        common = {"ar": str(rng.randint(1, 34)), "ba": rng.choice(BRANDS),
                  "ch": rng.choice(CHANNELS),
                  "is_new": "1" if mid not in seen_mid else "0",
                  "md": f"model {rng.randint(1, 9)}", "mid": f"mid_{mid}",
                  "os": "Android 11.0", "uid": str(rng.randint(1, 5000)),
                  "vc": rng.choice(VERSIONS)}
        seen_mid.add(mid)
        t = start
        if rng.random() < 0.3:
            t = unique_ts(mid, t)
            events.append((t, {"common": common, "start": {
                "entry": "icon", "loading_time": rng.randint(1000, 9000),
                "open_ad_id": rng.randint(1, 20),
                "open_ad_ms": rng.randint(1000, 6000),
                "open_ad_skip_ms": 0}, "ts": t}))
        n_pages = rng.choice([1, 1, 2, 3, 4, 5])
        last = None
        for _ in range(n_pages):
            t = unique_ts(mid, t + rng.randint(500, 4000))
            if last == "home" and rng.random() < 0.4:
                page = {"during_time": rng.randint(1000, 20000),
                        "item": " ".join(rng.sample(KEYWORDS, rng.randint(1, 3))),
                        "item_type": "keyword", "last_page_id": "search",
                        "page_id": "good_list"}
            else:
                pid = rng.choice(PAGES)
                page = {"during_time": rng.randint(1000, 20000),
                        "last_page_id": last, "page_id": pid}
                if pid == "good_detail":
                    page["item"] = str(rng.randint(1, n_skus))
                    page["item_type"] = "sku_id"
            rec = {"common": common, "page": page, "ts": t}
            if page["page_id"] in ("home", "good_list") and rng.random() < 0.5:
                rec["displays"] = [
                    {"display_type": "query", "item": str(rng.randint(1, n_skus)),
                     "item_type": "sku_id", "order": k + 1, "pos_id": rng.randint(1, 5)}
                    for k in range(rng.randint(1, 4))]
            events.append((t, rec))
            last = page["page_id"]
            # a long pause ends the visit early: bounce material
            if rng.random() < 0.25:
                t += rng.randint(11_000, 40_000)
    # the sentinel page event moves every event-time watermark past the
    # last real window; device mid_0 is reserved for it
    ts = SENTINEL_S * 1000
    events.append((ts, {"common": {"ar": "1", "ba": "Xiaomi", "ch": "web",
                                   "is_new": "1", "md": "model 1",
                                   "mid": "mid_0", "os": "Android 11.0",
                                   "uid": "1", "vc": "v2.1.134"},
                        "page": {"during_time": 1000, "last_page_id": None,
                                 "page_id": "home"}, "ts": ts}))
    events.sort(key=lambda e: (e[0], e[1]["common"]["mid"]))
    lines = [json.dumps(r, separators=(",", ":")) for _, r in events]
    files = split_even(lines, n_files)
    for fi, fl in enumerate(files):
        for k in range(MALFORMED_PER_FILE):
            pos = rng.randint(0, len(fl))
            if k % 3 == 0:  # truncated mid-object
                bad = '{"common":{"mid":"mid_%d","ch":"web"},"page":{"page_id":' % k
            elif k % 3 == 1:  # not JSON at all
                bad = "GET /app/log?mid=mid_%d HTTP/1.1" % k
            else:  # parses, but carries no ts
                bad = '{"common":{"mid":"mid_%d"},"page":{"page_id":"home"}}' % k
            fl.insert(pos, bad)
    return files


# --------------------------------------------------------------- CDC envelopes

def gen_db(rng, n_orders, n_users, n_skus, n_files):
    """Dim snapshot, fact inserts in ts order, and dim updates, as one
    micro-batch. Returns the file lines and the fault block's user ids."""
    provinces = [{"id": p, "name": f"province_{p}", "area_code": f"{110000 + p}",
                  "iso_code": f"CN-{p:02d}", "iso_3166_2": f"CN-P{p}"}
                 for p in range(1, 35)]
    n_spu, n_tm, n_c3 = max(4, n_skus // 4), 12, 30
    skus = [{"id": s, "spu_id": rng.randint(1, n_spu), "tm_id": rng.randint(1, n_tm),
             "category3_id": rng.randint(1, n_c3), "sku_name": f"sku {s}"}
            for s in range(1, n_skus + 1)]
    spus = [{"id": s, "spu_name": f"spu {s} {rng.choice(BRANDS)}"} for s in range(1, n_spu + 1)]
    tms = [{"id": t, "tm_name": f"tm {t}"} for t in range(1, n_tm + 1)]
    c3s = [{"id": c, "name": f"category {c}"} for c in range(1, n_c3 + 1)]

    def user(u, r):
        return {"id": u, "name": f"user {u}",
                "birthday": f"{r.randint(1960, 2005)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}",
                "gender": r.choice("MF")}

    users = [user(u, rng) for u in range(1, n_users + 1)]
    # fault block: fixed contents, independent of the seed
    fr = random.Random(7)
    fault_ids = list(range(n_users + 1, n_users + FAULT_USERS + 1))
    fault_users = [user(u, fr) for u in fault_ids]
    snapshot = []
    for t, rows in (("base_province", provinces), ("base_trademark", tms),
                    ("base_category3", c3s), ("spu_info", spus), ("sku_info", skus),
                    ("user_info", users + fault_users)):
        snapshot += [env(t, r) for r in rows]

    facts = []  # (ts, line)
    oid, did, pid, xid = 0, 0, 0, 0

    def order(u, ts, r, fixed):
        nonlocal oid, did, pid
        oid += 1
        o = oid
        n_det = 2 if fixed else 1 + o % 3
        details, total = [], 0
        for k in range(n_det):
            did += 1
            price = r.randint(100, 99999)
            num = r.randint(1, 3)
            amt = price * num
            total += amt
            # every 20th order's last detail lands outside the +-5 s band
            off = 8 if (not fixed and o % 20 == 0 and k == n_det - 1) else r.randint(-3, 3)
            details.append((ts + off, env("order_detail", {
                "id": did, "order_id": o, "sku_id": r.randint(1, n_skus),
                "order_price": money(price), "sku_num": num,
                "sku_name": f"sku name {did}", "create_time": ts_str(ts + off),
                "split_total_amount": money(amt), "split_activity_amount": "0.00",
                "split_coupon_amount": "0.00"},
                "create" if did % 5 == 0 else "insert")))
        facts.append((ts, env("order_info", {
            "id": o, "province_id": r.randint(1, 34), "order_status": "1001",
            "user_id": u, "total_amount": money(total),
            "activity_reduce_amount": "0.00", "coupon_reduce_amount": "0.00",
            "original_total_amount": money(total), "feight_fee": "0.00",
            "expire_time": ts_str(ts + 900), "create_time": ts_str(ts)})))
        facts.extend(details)
        # three of four orders are paid; every 16th payment falls outside
        # the 15 s PaymentWide band
        if fixed or o % 4 != 3:
            pid += 1
            d = 20 if (not fixed and o % 16 == 5) else r.randint(1, 14)
            facts.append((ts + d, env("payment_info", {
                "id": pid, "order_id": o, "user_id": u, "payment_type": "1101",
                "total_amount": money(total), "callback_time": ts_str(ts + d),
                "create_time": ts_str(ts + d)})))
        return o

    span = SPAN_S - 120
    for i in range(n_orders):
        ts = T0 + 60 + rng.randint(0, span - 60)
        o = order(rng.randint(1, n_users), ts, rng, False)
        if i % 2 == 0:
            facts.append((ts + rng.randint(0, 30), env("comment_info", {
                "id": o, "user_id": rng.randint(1, n_users), "sku_id": rng.randint(1, n_skus),
                "order_id": o, "appraise": rng.choice(["1201", "1202", "1203"]),
                "create_time": ts_str(ts + 30)})))
        if i % 10 == 0:
            facts.append((ts + rng.randint(0, 30), env("order_refund_info", {
                "id": o, "user_id": rng.randint(1, n_users), "order_id": o,
                "sku_id": rng.randint(1, n_skus), "refund_amount": money(rng.randint(100, 9999)),
                "create_time": ts_str(ts + 30)})))
    for i in range(n_orders):
        xid += 1
        ts = T0 + rng.randint(0, span)
        facts.append((ts, env("cart_info", {
            "id": xid, "user_id": rng.randint(1, n_users), "sku_id": rng.randint(1, n_skus),
            "sku_num": rng.randint(1, 5), "create_time": ts_str(ts)})))
        if i % 2 == 1:
            facts.append((ts, env("favor_info", {
                "id": xid, "user_id": rng.randint(1, n_users),
                "sku_id": rng.randint(1, n_skus), "create_time": ts_str(ts)})))
        if i % 8 == 0:  # routing drops deletes
            facts.append((ts + 1, env("cart_info", {
                "id": xid, "user_id": 1, "sku_id": 1, "sku_num": 1,
                "create_time": ts_str(ts + 1)}, "delete")))
    # the fault users' orders: fixed contents and times
    for k, u in enumerate(fault_ids):
        order(u, T0 + 600 + (k * (span - 900)) // FAULT_USERS, fr, True)
    # sentinel order (user 1) past the last window
    order(1, SENTINEL_S, random.Random(11), True)
    facts.sort(key=lambda f: f[0])

    # one micro-batch holds the whole backlog, in CDC order: the snapshot
    # opens the first file, facts spread over every file, and the dim
    # updates close the last one
    files = split_even([l for _, l in facts], n_files)
    files[0][0:0] = snapshot
    # seed-independent updates: three per fault user, after its insert
    for step in range(1, FAULT_UPDATES + 1):
        for u in fault_ids:
            files[-1].append(env("user_info", {
                "id": u, "name": f"user {u} v{step}",
                "birthday": f"{1960 + (u + step * 7) % 40}-0{1 + step}-1{step}",
                "gender": "MF"[(u + step) % 2]}, "update"))
    return files, fault_ids


# ------------------------------------------------ registry-gate tables

GATE_WORDS = ["the", "a", "data", "join", "merge", "sort", "scan", "hash", "key", "row",
              "column", "table", "query", "filter", "window", "stream", "batch", "spark",
              "vector", "order", "line", "customer", "part", "value", "group", "agg",
              "small", "big", "fast", "slow"]


def gen_gate_tables(out, seed, n_orders=1500, n_docs=500, n_vecs=500, dim=64):
    """The star-schema tables the benchmark's registry gates read (the
    program's ``Tables`` layout, one parquet file each): orders, lineitem,
    documents and embeddings, about the size of the smallest scale."""
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed * 7919 + 17)
    d0 = datetime.datetime(1992, 1, 1)
    odate = [d0 + datetime.timedelta(days=rng.randint(0, 2400)) for _ in range(n_orders)]
    orders = {
        "o_orderkey": list(range(n_orders)),
        "o_custkey": [rng.randint(1, 150) for _ in range(n_orders)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [rng.randint(100000, 40000000) / 100 for _ in range(n_orders)],
        "o_orderdate": odate,
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                        "5-LOW"]) for _ in range(n_orders)],
    }
    n_li = 4 * n_orders
    lkeys = [rng.randrange(n_orders) for _ in range(n_li)]
    lineitem = {
        "l_orderkey": lkeys,
        "l_partkey": [rng.randint(1, 200) for _ in range(n_li)],
        "l_suppkey": [rng.randint(1, 10) for _ in range(n_li)],
        "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(n_li)], pa.int32()),
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(n_li)],
        "l_extendedprice": [rng.randint(90000, 10000000) / 100 for _ in range(n_li)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(n_li)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(n_li)],
        "l_returnflag": [rng.choice("RAN") for _ in range(n_li)],
        "l_linestatus": [rng.choice("OF") for _ in range(n_li)],
        "l_shipdate": [odate[k] + datetime.timedelta(days=rng.randint(-10, 60)) for k in lkeys],
    }
    texts = [" ".join(rng.choice(GATE_WORDS) for _ in range(rng.randint(10, 80)))
             for _ in range(n_docs)]
    documents = {
        "doc_id": list(range(n_docs)), "text": texts,
        "lang": [rng.choice(["en", "de", "zh", "es"]) for _ in range(n_docs)],
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }
    vecs = []
    for _ in range(n_vecs):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    embeddings = {
        "vec_id": list(range(n_vecs)),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randint(0, 9) for _ in range(n_vecs)], pa.int32()),
    }
    os.makedirs(out, exist_ok=True)
    for name, cols in (("orders", orders), ("lineitem", lineitem),
                       ("documents", documents), ("embeddings", embeddings)):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, seed, ods_sessions, ods_orders, log_files=4, db_files=4):
    rng = random.Random(seed)
    n_users = max(100, ods_orders // 4)
    n_skus = max(40, ods_orders // 20)
    n_mids = max(50, ods_sessions // 4)
    ods = os.path.join(out, "ods")
    log_files_l = gen_logs(rng, ods_sessions, n_mids, n_skus, log_files)
    db_files_l, fault_ids = gen_db(rng, ods_orders, n_users, n_skus, db_files)
    base = 1_600_000_000
    write_files(os.path.join(ods, "log"), "log", log_files_l, base)
    write_files(os.path.join(ods, "db"), "db", db_files_l, base)
    with open(os.path.join(ods, "table_process.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in table_process()) + "\n")
    meta = {"seed": seed, "day": DAY, "day_int": DAY_INT,
            "log_files": log_files, "db_files": db_files,
            "log_files_per_trigger": LOG_FILES_PER_TRIGGER,
            "db_files_per_trigger": DB_FILES_PER_TRIGGER,
            "records": sum(len(f) for f in log_files_l) + sum(len(f) for f in db_files_l),
            "fault_user_ids": [fault_ids[0], fault_ids[-1]],
            "fault_updates": FAULT_UPDATES, "sentinel_mid": "mid_0"}
    gen_gate_tables(os.path.join(out, "sf"), seed)
    with open(os.path.join(ods, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ods-sessions", type=int, default=20000)
    ap.add_argument("--ods-orders", type=int, default=4000)
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.seed, a.ods_sessions, a.ods_orders)))


if __name__ == "__main__":
    main()
