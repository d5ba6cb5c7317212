"""Independent checkers: DuckDB recomputes every expected answer from the
same generated inputs the engine saw, and each engine answer is compared
with it as a multiset of rows (exact values, NULLs equal).

Each check_* function returns {key: (ok, detail)}. `self_test()` plants a
perturbed row and a stale answer and asserts both are reported as failed.
"""
import json
import os

import duckdb


def _q(name):
    return '"' + name.replace('"', '""') + '"'


def diff(con, actual_sql, expected_sql):
    """(ok, detail): the two queries return the same multiset of rows over
    the same column names."""
    try:
        a_cols = [d[0] for d in con.sql(f"SELECT * FROM ({actual_sql}) LIMIT 0").description]
        e_cols = [d[0] for d in con.sql(f"SELECT * FROM ({expected_sql}) LIMIT 0").description]
        if sorted(a_cols) != sorted(e_cols):
            return False, f"columns {sorted(a_cols)} != {sorted(e_cols)}"
        cols = ", ".join(_q(c) for c in sorted(a_cols))
        a = f"SELECT {cols} FROM ({actual_sql})"
        e = f"SELECT {cols} FROM ({expected_sql})"
        extra, missing = con.sql(
            f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {e})), "
            f"(SELECT count(*) FROM ({e} EXCEPT ALL {a}))").fetchone()
        if extra or missing:
            return False, f"{extra} unexpected rows, {missing} missing rows"
        return True, ""
    except Exception as ex:  # a type clash or missing output is a failure
        return False, f"{type(ex).__name__}: {str(ex).splitlines()[0][:200]}"


def rows_equal(actual, expected):
    """(ok, detail) for small answers held as lists of dicts."""
    def canon(rows):
        return sorted((tuple(sorted(r.items())) for r in rows), key=repr)
    if actual and expected and sorted(actual[0]) != sorted(expected[0]):
        return False, f"columns {sorted(actual[0])} != {sorted(expected[0])}"
    a, e = canon(actual), canon(expected)
    if a != e:
        return False, f"{len(a)} rows vs {len(e)} expected, first difference " \
            f"{next((x for x in a if x not in e), None)}"[:300]
    return True, ""


# ------------------------------------------------------------ stream_jobs
def check_stream(work, facts):
    con = duckdb.connect()
    d = facts["rounds_delivered"]
    sinks = f"{work}/sinks"
    con.execute(f"CREATE VIEW ev AS SELECT * FROM '{work}/events_in.parquet' WHERE deliver < {d}")
    con.execute(f"CREATE VIEW cdc AS SELECT * FROM '{work}/cdc_in.parquet' WHERE deliver < {d}")
    con.execute(f"""CREATE VIEW orders AS SELECT
        data->>'id' AS id, data->>'user_id' AS user_id, data->>'province_id' AS province_id,
        data->>'order_status' AS order_status, CAST(data->>'total_amount' AS DOUBLE) AS total_amount,
        data->>'create_time' AS create_time
        FROM cdc WHERE tbl = 'order_info' AND op = 'INSERT'""")

    def sink(job, hive=False):
        return f"SELECT * FROM read_parquet('{sinks}/{job}/**/*.parquet', hive_partitioning = {str(hive).lower()})"

    out = {}
    out["dau.keys"] = diff(con,
        f"SELECT user_id, log_date FROM ({sink('dau')})",
        "SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS log_date FROM ev")
    bad = con.sql(f"""
        WITH s AS ({sink('dau')}),
        first AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS log_date, min(deliver) AS r
                  FROM ev GROUP BY ALL)
        SELECT count(*) FROM s LEFT JOIN ev e USING (event_id)
        LEFT JOIN first f ON f.user_id = s.user_id AND f.log_date = s.log_date
        WHERE e.event_id IS NULL OR e.user_id <> s.user_id OR e.ts <> s.ts
           OR e.deliver <> f.r OR s.log_hour <> strftime(e.ts, '%H')""").fetchone()[0]
    out["dau.rows"] = (bad == 0, f"{bad} rows not the first-arriving event of their key")

    # alert: 5 min windows sliding every 3 s, >= 3 coupon uids, no click,
    # closed under the last batch's watermark. The per-minute throttle keeps
    # an arbitrary window of each (user, minute) within a batch, so the check
    # is a property: every stored row is a qualifying closed window, and the
    # stored (user, minute) keys are exactly those of the qualifying windows.
    wm, slide, win = facts["alert_watermark_ms"], 3_000_000, 300_000_000
    con.execute(f"""CREATE VIEW alert_expected AS
        WITH b AS (SELECT *, (epoch_us(ts) // {slide}) * {slide} AS b FROM ev),
        w AS (SELECT b - i * {slide} AS ws, * FROM b CROSS JOIN range(0, {win // slide}) AS t(i)),
        g AS (SELECT ws, user_id,
                list_sort(list_distinct(list(CAST(k AS VARCHAR)) FILTER (WHERE event_type = 'purchase'))) AS u,
                max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
                list_sort(list_distinct(list(event_type))) AS e
              FROM w GROUP BY ws, user_id)
        SELECT make_timestamp(ws) AS window_start, user_id,
               array_to_string(u, ',') AS uids, array_to_string(e, ',') AS events,
               ws // 60000000 AS minute_bucket
        FROM g WHERE len(u) >= 3 AND clicked = 0 AND (ws + {win}) // 1000 <= {wm}""")
    con.execute(f"CREATE VIEW alert_stored AS {sink('alert', True)}")
    stray = con.sql("""SELECT count(*) FROM (
        SELECT window_start, user_id, uids, events FROM alert_stored EXCEPT ALL
        SELECT window_start, user_id, uids, events FROM alert_expected)""").fetchone()[0]
    keys = diff(con, "SELECT DISTINCT user_id, minute_bucket FROM alert_stored",
                "SELECT DISTINCT user_id, minute_bucket FROM alert_expected")
    n_rows, n_keys = con.sql("SELECT count(*), count(DISTINCT (user_id, minute_bucket)) "
                             "FROM alert_stored").fetchone()
    out["alert"] = (stray == 0 and keys[0] and n_keys > 0,
                    f"{stray} rows not a qualifying closed window; (user, minute) keys: "
                    f"{keys[1] or 'match'}; {n_rows} rows over {n_keys} keys")

    out["gmv"] = diff(con, f"SELECT * FROM ({sink('gmv')})",
        """SELECT *, substr(create_time, 1, 10) AS create_date,
                  substr(create_time, 12, 2) AS create_hour FROM orders""")

    out["sale_detail"] = diff(con,
        f"""SELECT d_id, d_order_id, d_ts, sku_id, sku_name, sku_price, sku_num,
                   o_order_id, o_ts, user_id, order_status, total_amount, CAST(dt AS VARCHAR) AS dt
            FROM ({sink('sale_detail', True)})""",
        """WITH d AS (SELECT data->>'id' AS d_id, data->>'order_id' AS d_order_id,
                        CAST(data->>'create_time' AS TIMESTAMP) AS d_ts, data->>'sku_id' AS sku_id,
                        data->>'sku_name' AS sku_name, CAST(data->>'order_price' AS DOUBLE) AS sku_price,
                        data->>'sku_num' AS sku_num
                 FROM cdc WHERE tbl = 'order_detail' AND op = 'INSERT'),
        o AS (SELECT id AS o_order_id, CAST(create_time AS TIMESTAMP) AS o_ts, user_id,
                     order_status, total_amount FROM orders)
        SELECT d.*, o.*, strftime(o_ts, '%Y-%m-%d') AS dt FROM d JOIN o
          ON d_order_id = o_order_id
         AND d_ts BETWEEN o_ts - INTERVAL 10 SECONDS AND o_ts + INTERVAL 10 SECONDS""")

    out["user_info"] = diff(con, f"SELECT * FROM ({sink('user_info')})",
        """SELECT data->>'id' AS id, data->>'login_name' AS login_name,
                  data->>'user_level' AS user_level, data->>'birthday' AS birthday,
                  data->>'gender' AS gender, data->>'operate_time' AS operate_time
           FROM cdc WHERE tbl = 'user_info' AND op IN ('INSERT', 'UPDATE')
           QUALIFY row_number() OVER (PARTITION BY data->>'id' ORDER BY data->>'operate_time' DESC) = 1""")
    return out


# --------------------------------------------------------- dashboard_serve
def check_dashboard(work):
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{work}/tables/{t}.parquet'")
    ans = f"{work}/answers"
    out = {}
    oracle = json.load(open(f"{ans}/oracle.json"))
    for name in sorted(os.listdir(ans)):
        if not os.path.isdir(f"{ans}/{name}"):
            continue
        actual = f"SELECT * FROM read_parquet('{ans}/{name}/*.parquet')"
        if name in oracle:
            out[name] = diff(con, actual, oracle[name])
        elif name == "q18_uv_approx":
            # HLL++ at its default 5% relative error: every day present,
            # each estimate within 15% of the exact distinct count
            out[name] = diff(con, f"SELECT log_date FROM ({actual})",
                             "SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS log_date FROM events")
            if out[name][0]:
                far = con.sql(f"""SELECT count(*) FROM ({actual}) a JOIN (
                    SELECT strftime(ts, '%Y-%m-%d') AS log_date, count(DISTINCT user_id) AS n
                    FROM events GROUP BY 1) e USING (log_date)
                    WHERE abs(a.uv_approx - e.n) > 0.15 * e.n""").fetchone()[0]
                out[name] = (far == 0, f"{far} days outside the sketch's error bound")
        else:
            out[name] = (False, "no checker")

    def one(sql):
        return con.sql(sql).fetchone()[0]
    gmv_day = one("""SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM orders
                     WHERE strftime(o_orderdate, '%Y-%m-%d') = '1998-03-15'""") or 0.0
    for a in json.load(open(f"{ans}/endpoints.json")):
        f = a["request"].split("\t")
        try:
            if f[0] == "realtime_total":
                day = f[1]
                dau = one(f"SELECT count(DISTINCT user_id) FROM events WHERE strftime(ts, '%Y-%m-%d') = '{day}'")
                new = one(f"""SELECT count(*) FROM (SELECT DISTINCT user_id FROM events
                    WHERE strftime(ts, '%Y-%m-%d') = '{day}' EXCEPT
                    SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '{day}')""")
                got = {c["id"]: c["value"] for c in a["cards"]}
                ok = int(got["dau"]) == dau and int(got["new_mid"]) == new and \
                    float(got["order_amount"]) == gmv_day
                out[a["request"]] = (ok, f"got {got}, expected dau {dau} new {new} gmv {gmv_day}")
            elif f[0] == "realtime_hours":
                exp = con.sql(f"""SELECT strftime(ts, '%H') AS h,
                    CAST(sum(CASE WHEN strftime(ts, '%Y-%m-%d') = '{f[1]}' THEN 1 ELSE 0 END) AS BIGINT),
                    CAST(sum(CASE WHEN strftime(ts, '%Y-%m-%d') = '{f[2]}' THEN 1 ELSE 0 END) AS BIGINT)
                    FROM events WHERE strftime(ts, '%Y-%m-%d') IN ('{f[1]}', '{f[2]}')
                    GROUP BY 1 ORDER BY 1""").fetchall()
                got = sorted(tuple(h) for h in a["hours"])
                out[a["request"]] = (got == [tuple(x) for x in exp], f"got {got[:3]}..., expected {exp[:3]}...")
            elif f[0] == "sale_detail":
                toks = [t for t in "".join(c if c.isalnum() else " " for c in f[3].lower()).split()]
                pred = " AND ".join(
                    f"regexp_matches(lower(p_name), '(^|[^a-z0-9]){t}([^a-z0-9]|$)')" for t in toks)
                page = int(f[4])
                total = one(f"SELECT count(*) FROM part WHERE {pred}")
                detail = [r[0] for r in con.sql(
                    f"SELECT p_name FROM part WHERE {pred} ORDER BY p_partkey "
                    f"LIMIT 10 OFFSET {(page - 1) * 10}").fetchall()]
                band = con.sql("""SELECT floor(sum(CASE WHEN c_acctbal < 3000 THEN 1 ELSE 0 END) * 1000.0 / count(*) + 0.5) / 10.0,
                    floor(sum(CASE WHEN c_acctbal >= 3000 AND c_acctbal < 7000 THEN 1 ELSE 0 END) * 1000.0 / count(*) + 0.5) / 10.0
                    FROM customer""").fetchone()
                seg = one("""SELECT floor(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) * 1000.0 / count(*) + 0.5) / 10.0
                    FROM customer""")
                stat = a["stat"]
                ok = a["total"] == total and a["detail"] == detail and \
                    stat[0][:2] == [band[0], band[1]] and stat[1] == [seg, 100.0 - seg]
                out[a["request"]] = (ok, f"got total {a['total']} stat {stat}, expected {total} {band} {seg}")
            else:
                out[a["request"]] = (False, "no checker")
        except Exception as ex:
            out[a["request"]] = (False, f"{type(ex).__name__}: {ex}")
    return out


# ---------------------------------------------------------- corpus_refresh
def check_corpus(work, rounds):
    """Each query's answer after each round's ingest, against the oracle SQL
    over exactly the tables as they stood in that round."""
    con = duckdb.connect()
    oracle = json.load(open(f"{work}/answers/oracle.json"))
    out = {}
    for r in range(rounds + 1):
        for t in ("documents", "embeddings"):
            files = [f"{work}/base/{t}.parquet"] + \
                [f"{work}/batches/batch_{i:04d}/{t}.parquet" for i in range(r + 1)]
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet({files!r})")
        for name, sql in oracle.items():
            path = f"{work}/answers/r{r:04d}/{name}.jsonl"
            if not os.path.exists(path):
                out[(r, name)] = (False, "no answer")
                continue
            actual = [json.loads(x) for x in open(path) if x.strip()]
            rel = con.sql(sql)
            cols = [d[0] for d in rel.description]
            expected = [dict(zip(cols, row)) for row in rel.fetchall()]
            out[(r, name)] = rows_equal(actual, expected)
    return out


def check_chunks(work, rounds):
    """The chunks table holds every landed document cut into 100-token
    chunks at stride 50, under its source partition, once."""
    con = duckdb.connect()
    files = [f"{work}/batches/batch_{i:04d}/documents.parquet" for i in range(rounds + 1)]
    return diff(con,
        f"""SELECT doc_id, CAST(source AS VARCHAR) AS source, chunk_idx, chunk_text, chunk_tokens
            FROM read_parquet('{work}/corpus/chunks/**/*.parquet', hive_partitioning = true)""",
        f"""WITH t AS (SELECT doc_id, source,
                string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tok
              FROM read_parquet({files!r})),
        c AS (SELECT doc_id, source, tok, unnest(range(0, (len(tok) - 1) // 50 + 1)) AS i FROM t)
        SELECT doc_id, source, CAST(i AS BIGINT) AS chunk_idx,
               array_to_string(tok[i * 50 + 1 : i * 50 + 100], ' ') AS chunk_text,
               CAST(len(tok[i * 50 + 1 : i * 50 + 100]) AS BIGINT) AS chunk_tokens FROM c""")


# ---------------------------------------------------------------- self-test
def self_test():
    """The comparators must report a planted wrong answer: one perturbed row,
    and an answer computed from an earlier table state."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS id, range * 0.5 AS v FROM range(100)")
    ok_same = diff(con, "SELECT id, v FROM t", "SELECT v, id FROM t")[0]
    perturbed = diff(con, "SELECT id, CASE WHEN id = 7 THEN v + 1e-9 ELSE v END AS v FROM t",
                     "SELECT id, v FROM t")[0]
    dup = diff(con, "SELECT id, v FROM t UNION ALL SELECT 1, 0.5", "SELECT id, v FROM t")[0]
    con.execute("INSERT INTO t VALUES (100, 50.0)")  # the table grows
    stale = diff(con, "SELECT id, v FROM t WHERE id < 100", "SELECT id, v FROM t")[0]
    exp = [{"doc_a": 1, "doc_b": 2, "jaccard": 0.9}, {"doc_a": 3, "doc_b": 4, "jaccard": 0.95}]
    rows_ok = rows_equal(list(reversed(exp)), exp)[0]
    rows_perturbed = rows_equal([exp[0], dict(exp[1], jaccard=0.9500000001)], exp)[0]
    rows_stale = rows_equal(exp[:1], exp)[0]
    return ok_same and not perturbed and not dup and not stale and \
        rows_ok and not rows_perturbed and not rows_stale


if __name__ == "__main__":
    import sys
    ok = self_test()
    print("checker self-test:", "ok" if ok else "FAILED")
    sys.exit(0 if ok else 1)
