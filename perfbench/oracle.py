#!/usr/bin/env python3
"""Independent oracle for the benchmark: recomputes every expected output
of the gmall chain with DuckDB straight from the generated ODS files, and
compares the chain's outputs against it.

What it recomputes:
  * DWD: start / page / display / dirty row counts (clean + dirty = raw);
  * the dim store: the latest insert/update per key, in CDC order;
  * DWM: OrderWide (interval join + dim enrichment) and PaymentWide rows,
    UV rows and bounce rows;
  * DWS: visitor, product, keyword and province stats, and the day's GMV.

Usage:
  python3 perfbench/oracle.py --work DIR
where DIR holds ``ods/`` and, to check, the chain outputs ``round/``
(``python3 perfbench/run.py ... --keep`` leaves them in ``.bench_work``).
"""
import argparse
import decimal
import glob
import json
import math
import os

import duckdb

STATS_DAY_FMT = "%Y-%m-%d %H:%M:%S"
DIMS = {
    "user_info": ["id", "name", "birthday", "gender"],
    "base_province": ["id", "name", "area_code", "iso_code", "iso_3166_2"],
    "sku_info": ["id", "spu_id", "tm_id", "category3_id", "sku_name"],
    "spu_info": ["id", "spu_name"],
    "base_trademark": ["id", "tm_name"],
    "base_category3": ["id", "name"],
}
OW_COLS = ["order_id", "user_id", "province_id", "sku_id", "split_total_amount",
           "user_age", "user_gender", "province_name", "spu_name", "tm_name",
           "category3_name"]
PW_COLS = ["payment_amount", "split_total_amount", "user_age", "user_gender",
           "province_name"]


def _lines(pattern):
    rows = []
    for fi, p in enumerate(sorted(glob.glob(pattern))):
        with open(p) as f:
            for li, line in enumerate(f.read().splitlines()):
                rows.append((fi, li, line))
    return rows


def _stt(ts_ms):
    return f"strftime(to_timestamp((floor({ts_ms} / 1000 / 10) * 10)::BIGINT), '{STATS_DAY_FMT}')"


def _edt(ts_ms):
    return f"strftime(to_timestamp((floor({ts_ms} / 1000 / 10) * 10 + 10)::BIGINT), '{STATS_DAY_FMT}')"


class Expected:
    """All expected outputs for one ODS directory, held in a DuckDB
    connection (tables named exp_*)."""

    def __init__(self, ods):
        self.ods = ods
        self.meta = json.load(open(os.path.join(ods, "meta.json")))
        day = self.meta["day"]
        con = self.con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        import pandas as pd
        x = con.execute
        # ---------------- DWD log: parse, dirty split, three-way split
        raw, clean, disp = 0, [], []
        for _, _, line in _lines(os.path.join(ods, "log", "*.json")):
            raw += 1
            try:
                r = json.loads(line)
            except ValueError:
                continue
            if not isinstance(r, dict) or type(r.get("ts")) is not int:
                continue
            c, pg, st = r.get("common") or {}, r.get("page") or {}, r.get("start") or {}
            clean.append((r["ts"], c.get("mid"), c.get("vc"), c.get("ch"), c.get("ar"),
                          c.get("is_new"), st.get("entry"), pg.get("page_id"),
                          pg.get("last_page_id"), pg.get("item"), pg.get("item_type"),
                          pg.get("during_time")))
            if st.get("entry") is None:
                for d in r.get("displays") or []:
                    disp.append((d.get("item"), d.get("item_type"), pg.get("page_id"), r["ts"]))
        clean_df = pd.DataFrame(clean, columns=[
            "ts", "mid", "vc", "ch", "ar", "is_new", "entry", "page_id", "last_page_id",
            "item", "item_type", "during_time"]).astype({"during_time": "Int64"})
        disp_df = pd.DataFrame(disp, columns=["item", "item_type", "page_id", "ts"])
        con.register("clean_df", clean_df)
        con.register("disp_df", disp_df)
        x("CREATE TABLE clean AS SELECT * FROM clean_df")
        x("CREATE TABLE displays AS SELECT * FROM disp_df")
        # ---------------- CDC: decode (create -> insert), keep CDC order
        cdc = {}
        for fi, li, line in _lines(os.path.join(ods, "db", "*.json")):
            env = json.loads(line)
            typ = "insert" if env["type"] == "create" else env["type"]
            row = json.loads(env["after"])
            cdc.setdefault(env["tableName"], []).append(dict(row, fi=fi, li=li, typ=typ))
        for t, rows in cdc.items():
            con.register(f"src_{t}_df", pd.DataFrame(rows))
            x(f"CREATE TABLE src_{t} AS SELECT * FROM src_{t}_df")
        x("CREATE TABLE pages AS SELECT * FROM clean WHERE entry IS NULL")
        self.counts = {
            "raw": raw,
            "start": x("SELECT count(*) FROM clean WHERE entry IS NOT NULL").fetchone()[0],
            "page": x("SELECT count(*) FROM pages").fetchone()[0],
            "display": len(disp),
        }
        self.counts["dirty"] = raw - len(clean)
        # ---------------- DWM UV and bounces (device = mid_<n>)
        x("""CREATE TABLE page_ev AS SELECT CAST(substr(mid, 5) AS BIGINT) AS user_id,
               ts, vc, ch, ar, is_new,
               row_number() OVER (PARTITION BY mid, CAST(to_timestamp(ts / 1000) AS DATE)
                                  ORDER BY ts) AS day_rank,
               lead(ts) OVER (PARTITION BY mid ORDER BY ts) AS next_ts
             FROM pages""")
        x("CREATE TABLE exp_uv AS SELECT user_id, ts FROM page_ev WHERE day_rank = 1")
        sentinel = int(self.meta["sentinel_mid"][4:])
        x(f"""CREATE TABLE exp_bounce AS SELECT user_id, ts FROM page_ev
              WHERE (next_ts IS NOT NULL AND next_ts - ts > 10000)
                 OR (next_ts IS NULL AND user_id <> {sentinel})""")
        # every version a dim key took, newest first: the latest is the
        # expected store row, the earlier ones are what a stale store holds
        for t, cols in DIMS.items():
            x(f"""CREATE TABLE ver_dim_{t} AS SELECT {", ".join(cols)},
                    row_number() OVER (PARTITION BY id ORDER BY fi DESC, li DESC) AS rn
                  FROM src_{t} WHERE typ IN ('insert', 'update')""")
            x(f"CREATE TABLE exp_dim_{t} AS SELECT {', '.join(cols)} FROM ver_dim_{t} WHERE rn = 1")
        self.dim_upserts = sum(x(f"SELECT count(*) FROM src_{t} WHERE typ IN ('insert','update')")
                               .fetchone()[0] for t in DIMS)

        def fact(t, cols):
            return x(f"CREATE TABLE f_{t} AS SELECT {cols} FROM src_{t} WHERE typ = 'insert'")
        ts = "strptime(create_time, '%Y-%m-%d %H:%M:%S')"
        fact("order_info", f"id AS order_id, user_id, province_id, {ts} AS oi_ts")
        fact("order_detail", f"""id AS detail_id, order_id, sku_id,
             CAST(split_total_amount AS DECIMAL(16,2)) AS split_total_amount, {ts} AS od_ts""")
        fact("payment_info", f"""id AS payment_id, order_id,
             CAST(total_amount AS DECIMAL(16,2)) AS payment_amount, {ts} AS pay_ts""")
        simple = f"sku_id, epoch_ms({ts}) AS ts"
        fact("cart_info", simple)
        fact("favor_info", simple)
        fact("comment_info", simple + ", appraise")
        fact("order_refund_info", simple + """, order_id,
             CAST(refund_amount AS DECIMAL(16,2)) AS refund_amount""")
        self.detail_rows = x("SELECT count(*) FROM f_order_detail").fetchone()[0]
        # ---------------- OrderWide: +-5 s interval join, then enrichment
        x(f"""CREATE TABLE exp_ow AS SELECT d.detail_id, o.order_id, o.user_id,
                o.province_id, d.sku_id, d.split_total_amount, o.oi_ts,
                floor(date_diff('day', CAST(u.birthday AS DATE), DATE '{day}') / 365)::BIGINT AS user_age,
                u.gender AS user_gender, p.name AS province_name,
                p.area_code AS province_area_code, p.iso_code AS province_iso_code,
                sp.spu_name, tm.tm_name, c3.name AS category3_name
              FROM f_order_info o JOIN f_order_detail d ON o.order_id = d.order_id
                AND d.od_ts >= o.oi_ts - INTERVAL 5 SECOND
                AND d.od_ts <= o.oi_ts + INTERVAL 5 SECOND
              LEFT JOIN exp_dim_user_info u ON u.id = o.user_id
              LEFT JOIN exp_dim_base_province p ON p.id = o.province_id
              LEFT JOIN exp_dim_sku_info s ON s.id = d.sku_id
              LEFT JOIN exp_dim_spu_info sp ON sp.id = s.spu_id
              LEFT JOIN exp_dim_base_trademark tm ON tm.id = s.tm_id
              LEFT JOIN exp_dim_base_category3 c3 ON c3.id = s.category3_id""")
        # the user-derived enrichment columns each earlier user_info version gives
        x(f"""CREATE TABLE stale_user AS SELECT id AS user_id,
                floor(date_diff('day', CAST(birthday AS DATE), DATE '{day}') / 365)::BIGINT AS user_age,
                gender AS user_gender
              FROM ver_dim_user_info WHERE rn > 1""")
        x("""CREATE TABLE exp_pw AS SELECT p.payment_id, w.*, p.payment_amount, p.pay_ts
             FROM f_payment_info p JOIN exp_ow w ON p.order_id = w.order_id
               AND w.oi_ts >= p.pay_ts - INTERVAL 15 SECOND AND w.oi_ts <= p.pay_ts""")
        # ---------------- DWS
        x(f"""CREATE TABLE exp_visitor AS SELECT {_stt('ts')} AS stt, {_edt('ts')} AS edt,
                vc, ch, ar, is_new, sum(pv) AS pv_ct, sum(uv) AS uv_ct, sum(sv) AS sv_ct,
                sum(uj) AS uj_ct, sum(dur_sum) AS dur_sum FROM (
                  SELECT ts, vc, ch, ar, is_new, 1 AS pv, 0 AS uv,
                         CASE WHEN last_page_id IS NULL THEN 1 ELSE 0 END AS sv, 0 AS uj,
                         during_time AS dur_sum FROM pages
                  UNION ALL SELECT e.ts, vc, ch, ar, is_new, 0, 1, 0, 0, 0
                    FROM page_ev e JOIN exp_uv u USING (user_id, ts)
                  UNION ALL SELECT e.ts, vc, ch, ar, is_new, 0, 0, 0, 1, 0
                    FROM page_ev e JOIN exp_bounce b USING (user_id, ts))
              GROUP BY ALL""")
        z = "CAST(0 AS DECIMAL(16,2))"
        x(f"""CREATE TABLE exp_product AS SELECT {_stt('ts')} AS stt, {_edt('ts')} AS edt,
                sku_id, sum(click) AS click_ct, sum(display) AS display_ct,
                sum(favor) AS favor_ct, sum(cart) AS cart_ct, sum(comment) AS comment_ct,
                sum(good) AS good_comment_ct, sum(oa) AS order_amount,
                sum(pa) AS payment_amount, sum(ra) AS refund_amount,
                count(DISTINCT oid) AS order_ct, count(DISTINCT pid) AS paid_order_ct,
                count(DISTINCT rid) AS refund_order_ct FROM (
                  SELECT CAST(item AS BIGINT) AS sku_id, ts, 1 AS click, 0 AS display,
                    0 AS favor, 0 AS cart, 0 AS comment, 0 AS good, {z} AS oa, {z} AS pa,
                    {z} AS ra, NULL::BIGINT AS oid, NULL::BIGINT AS pid, NULL::BIGINT AS rid
                    FROM pages WHERE page_id = 'good_detail' AND item_type = 'sku_id'
                  UNION ALL SELECT CAST(item AS BIGINT), ts, 0, 1, 0, 0, 0, 0, {z}, {z}, {z},
                    NULL, NULL, NULL FROM displays WHERE item_type = 'sku_id'
                  UNION ALL SELECT sku_id, ts, 0, 0, 1, 0, 0, 0, {z}, {z}, {z}, NULL, NULL, NULL
                    FROM f_favor_info
                  UNION ALL SELECT sku_id, ts, 0, 0, 0, 1, 0, 0, {z}, {z}, {z}, NULL, NULL, NULL
                    FROM f_cart_info
                  UNION ALL SELECT sku_id, ts, 0, 0, 0, 0, 1,
                    CASE WHEN appraise = '1201' THEN 1 ELSE 0 END, {z}, {z}, {z},
                    NULL, NULL, NULL FROM f_comment_info
                  UNION ALL SELECT sku_id, epoch_ms(oi_ts), 0, 0, 0, 0, 0, 0,
                    split_total_amount, {z}, {z}, order_id, NULL, NULL FROM exp_ow
                  UNION ALL SELECT sku_id, epoch_ms(pay_ts), 0, 0, 0, 0, 0, 0, {z},
                    split_total_amount, {z}, NULL, order_id, NULL FROM exp_pw
                  UNION ALL SELECT sku_id, ts, 0, 0, 0, 0, 0, 0, {z}, {z}, refund_amount,
                    NULL, NULL, order_id FROM f_order_refund_info)
              GROUP BY ALL""")
        x(f"""CREATE TABLE exp_keyword AS SELECT {_stt('ts')} AS stt, keyword,
                count(*) AS ct, 'SEARCH' AS source FROM (
                  SELECT ts, unnest(string_split_regex(trim(lower(item)), '\\s+')) AS keyword
                  FROM pages WHERE last_page_id = 'search' AND item IS NOT NULL)
              WHERE keyword <> '' GROUP BY ALL""")
        x(f"""CREATE TABLE exp_province AS SELECT {_stt('epoch_ms(oi_ts)')} AS stt,
                {_edt('epoch_ms(oi_ts)')} AS edt, province_id, province_name,
                province_area_code, province_iso_code,
                count(DISTINCT order_id) AS order_count, sum(split_total_amount) AS order_amount
              FROM exp_ow GROUP BY ALL""")
        self.gmv = x(f"""SELECT coalesce(sum(order_amount), 0) FROM exp_product
                         WHERE replace(substr(stt, 1, 10), '-', '') = '{self.meta['day_int']}'""") \
            .fetchone()[0]
        self.n_ow = x("SELECT count(*) FROM exp_ow").fetchone()[0]
        self.n_pw = x("SELECT count(*) FROM exp_pw").fetchone()[0]
        self.n_dim_keys = sum(x(f"SELECT count(*) FROM exp_dim_{t}").fetchone()[0] for t in DIMS)


def _parquet(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, union_by_name = true)"


def _num(v):
    """Normalize a cell for comparison: decimals and floats to a rounded
    float, everything else to str."""
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, int):
        return v
    return str(v)


def _rows(con, sql):
    return [tuple(_num(c) for c in r) for r in con.execute(sql).fetchall()]


def _compare_set(con, name, exp_sql, got_sql):
    exp, got = sorted(_rows(con, exp_sql), key=str), sorted(_rows(con, got_sql), key=str)
    if exp == got:
        return None
    missing = len(set(exp) - set(got))
    extra = len(set(got) - set(exp))
    return f"{name}: {len(got)} rows vs {len(exp)} expected ({missing} missing, {extra} unexpected)"


def output_rows(con, out):
    """Row counts of one round's chain outputs, per hop."""
    def n(*dirs):
        return sum(con.execute(f"SELECT count(*) FROM {_parquet(os.path.join(out, d))}")
                   .fetchone()[0] for d in dirs)
    return {"dwd": n("dwd_start", "dwd_page", "dwd_display"), "dwd_dirty": n("dwd_dirty"),
            "dwd_facts": n("dwd_facts"), "dwm_uv": n("dwm_uv"), "dwm_bounce": n("dwm_bounce"),
            "dwm_order_wide": n("dwm_order_wide"), "dwm_payment_wide": n("dwm_payment_wide"),
            "ads": n(*(os.path.join("ads", t) for t in ("visitor_stats", "product_stats",
                                                         "keyword_stats", "province_stats")))}


def check_round(e, out, gmv_values):
    """Compare one round's chain outputs with the expected tables.

    Returns (attempted, failed, stale_failed, problems). Row-level checks
    (dim keys, OrderWide and PaymentWide rows) count one operation per
    expected row; every other table counts as one operation; each GMV
    query is one operation. `stale_failed` counts the failures the known
    stale-dim fault explains, judged by what is wrong with the row: a dim
    key that holds one of its own earlier CDC versions, or an OrderWide /
    PaymentWide row that differs from the expected one only in its
    user-derived columns, and there takes the values an earlier version
    of its user gives. Any other mismatch, and any missing key or row,
    lands in `problems`."""
    con = e.con
    problems = []
    attempted = failed = stale_failed = 0

    def table_check(msg):
        nonlocal attempted, failed
        attempted += 1
        if msg:
            failed += 1
            problems.append(msg)

    # DWD counts
    for split, d in (("start", "dwd_start"), ("page", "dwd_page"),
                     ("display", "dwd_display"), ("dirty", "dwd_dirty")):
        n = con.execute(f"SELECT count(*) FROM {_parquet(os.path.join(out, d))}").fetchone()[0]
        table_check(None if n == e.counts[split] else
                    f"dwd_{split}: {n} rows vs {e.counts[split]} expected")
    # dim store: one operation per key
    for t, cols in DIMS.items():
        got = os.path.join(out, "dim", f"dim_{t}")
        # the dim store holds what DbRouter's pruning leaves: every value
        # as text, so keys and values compare as text
        as_text = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        exp = {r[0]: r for r in _rows(con, f"SELECT {as_text} FROM exp_dim_{t}")}
        have = {r[0]: r for r in _rows(con, f"SELECT {as_text} FROM {_parquet(got)}")}
        earlier = {}
        for r in _rows(con, f"SELECT {as_text} FROM ver_dim_{t} WHERE rn > 1"):
            earlier.setdefault(r[0], set()).add(r)
        for k, row in exp.items():
            attempted += 1
            if have.get(k) != row:
                failed += 1
                if have.get(k) in earlier.get(k, ()):
                    stale_failed += 1
                else:
                    problems.append(f"dim_{t} key {k}: {have.get(k)} vs {row}")
        if set(have) - set(exp):
            failed += 1
            problems.append(f"dim_{t}: {len(set(have) - set(exp))} unexpected keys")

    stale_user = {}
    for u, user_age, user_gender in _rows(con, "SELECT * FROM stale_user"):
        stale_user.setdefault(u, set()).add((user_age, user_gender))

    def row_check(name, key_cols, cols, exp_table, path):
        nonlocal attempted, failed, stale_failed
        names = key_cols + cols
        sel = ", ".join(names)
        exp = {r[:len(key_cols)]: r for r in _rows(con, f"SELECT {sel} FROM {exp_table}")}
        have = {r[:len(key_cols)]: r for r in _rows(con, f"SELECT {sel} FROM {_parquet(path)}")}
        uid, age, gender = (names.index(c) for c in ("user_id", "user_age", "user_gender"))

        def stale(got, want):
            if got is None:
                return False
            diff = {i for i, (a, b) in enumerate(zip(got, want)) if a != b}
            return (diff <= {age, gender}
                    and (got[age], got[gender]) in stale_user.get(want[uid], ()))

        for k, row in exp.items():
            attempted += 1
            if have.get(k) != row:
                failed += 1
                if stale(have.get(k), row):
                    stale_failed += 1
                else:
                    problems.append(f"{name} {k}: {have.get(k)} vs {row}")
        extra = set(have) - set(exp)
        if extra:
            failed += len(extra)
            problems.append(f"{name}: {len(extra)} unexpected rows")

    row_check("order_wide", ["detail_id"], OW_COLS, "exp_ow",
              os.path.join(out, "dwm_order_wide"))
    row_check("payment_wide", ["payment_id", "detail_id"], ["user_id"] + PW_COLS,
              "exp_pw", os.path.join(out, "dwm_payment_wide"))
    table_check(_compare_set(con, "uv", "SELECT user_id, ts FROM exp_uv",
                             f"SELECT user_id, epoch_ms(ts) FROM {_parquet(os.path.join(out, 'dwm_uv'))}"))
    table_check(_compare_set(con, "bounce", "SELECT user_id, ts FROM exp_bounce",
                             f"SELECT user_id, epoch_ms(ts) FROM {_parquet(os.path.join(out, 'dwm_bounce'))}"))
    ads = os.path.join(out, "ads")
    for name, table, cols in (
            ("visitor_stats", "exp_visitor",
             "stt, edt, vc, ch, ar, is_new, pv_ct, uv_ct, sv_ct, uj_ct, dur_sum"),
            ("product_stats", "exp_product",
             "stt, edt, sku_id, click_ct, display_ct, favor_ct, cart_ct, comment_ct, "
             "good_comment_ct, order_amount, payment_amount, refund_amount, order_ct, "
             "paid_order_ct, refund_order_ct"),
            ("keyword_stats", "exp_keyword", "stt, keyword, ct, source"),
            ("province_stats", "exp_province",
             "stt, edt, province_id, province_name, province_area_code, province_iso_code, "
             "order_count, order_amount")):
        table_check(_compare_set(con, name, f"SELECT {cols} FROM {table}",
                                 f"SELECT {cols} FROM {_parquet(os.path.join(ads, name))}"))
    want = round(float(e.gmv), 2)
    for v in gmv_values:
        table_check(None if round(float(v), 2) == want else f"gmv: {v} vs {want}")
    return attempted, failed, stale_failed, problems


GATE_TABLES = ["orders", "lineitem", "documents", "embeddings"]


def _cell(v):
    """A gate result cell as a float (numbers) or its text."""
    v = _num(v)
    return float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else v


def _gate_rows(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(_cell(r[i]) for i in order) for r in cur.fetchall()]
    return sorted(names), sorted(rows, key=lambda r: tuple(
        (0, round(c, 6), "") if isinstance(c, float) else (1, 0.0, str(c)) for c in r))


def _same_cell(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def check_gates(sf, out, gates):
    """Check each registry gate's rows (written under `out/<gate>`) against
    the gate's own oracle SQL run in DuckDB over the tables in `sf`, as
    the program's correctness check does: columns by name, rows in sorted
    order, floats equal to 1e-9. Returns the problems found."""
    con = duckdb.connect()
    for t in GATE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    problems = []
    for g in gates:
        name = g["gate"]
        exp_cols, exp = _gate_rows(con, g["oracle_sql"])
        got_cols, got = _gate_rows(con, f"SELECT * FROM {_parquet(os.path.join(out, name))}")
        if exp_cols != got_cols:
            problems.append(f"gate {name}: columns {got_cols} vs {exp_cols}")
        elif len(exp) != len(got) or not all(
                _same_cell(a, b) for x, y in zip(got, exp) for a, b in zip(x, y)):
            problems.append(f"gate {name}: {len(got)} rows differ from the oracle's {len(exp)}")
    con.close()
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    a = ap.parse_args()
    e = Expected(os.path.join(a.work, "ods"))
    print(f"expected: counts={e.counts} order_wide={e.n_ow} payment_wide={e.n_pw} "
          f"dim_keys={e.n_dim_keys} gmv={e.gmv}")
    out = os.path.join(a.work, "round")
    if os.path.isdir(out):
        att, fail, fault, problems = check_round(e, out, [])
        print(f"outputs: attempted={att} failed={fail} stale_dim={fault}")
        for p in problems[:20]:
            print("  " + p)


if __name__ == "__main__":
    main()
