"""Expected answers from DuckDB, computed outside the timed region.

`search` requests are answered by hand-written DuckDB twins of
Search.keywordSearch and graft.Main's reports (SQL templates run as-is);
`pipeline` paths by the DuckDB twin graft ships for each registry path
(SparkEntry.oracleSql), cached per corpus and SQL text. Results compare
the way tools/check.py does: columns sorted by name, then rows in order,
values exactly (NaN equals NaN).
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REPORTS = {
    "top-talkers": """
        SELECT user_id, count(*) AS n_events, count(DISTINCT event_type) AS n_types,
               CAST(sum(CAST(value AS DECIMAL(30, 6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY user_id ORDER BY n_events DESC, user_id LIMIT 20""",
    "error-bursts": """
        SELECT date_trunc('minute', ts) AS minute, count(*) AS n_errors,
               count(DISTINCT user_id) AS n_users
        FROM events WHERE event_type = 'error'
        GROUP BY 1 ORDER BY n_errors DESC, minute LIMIT 20""",
    "slo": """
        SELECT event_type, n,
               CAST(trunc(CAST(n_err * 1000000 AS DOUBLE) / n) AS BIGINT) AS err_ppm,
               CAST(trunc(CAST(n_sat * 1000000 + n_tol * 500000 AS DOUBLE) / n) AS BIGINT)
                 AS apdex_ppm
        FROM (SELECT event_type, count(*) AS n,
                     sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err,
                     sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS n_sat,
                     sum(CASE WHEN value > 100 AND value <= 400 THEN 1 ELSE 0 END) AS n_tol
              FROM events WHERE value IS NOT NULL GROUP BY event_type)
        ORDER BY event_type""",
}


def _lit(s):
    return "'" + s.replace("'", "''") + "'"


def search_sql(r):
    cls = r["cls"]
    if cls in ("kw", "kw_range"):
        kw = _lit(r["keyword"].lower())
        where = f"(contains(lower(event_type), {kw}) OR contains(lower(props), {kw}))"
        if "from" in r:
            where += f" AND ts >= TIMESTAMP {_lit(r['from'])}"
        if "to" in r:
            where += f" AND ts < TIMESTAMP {_lit(r['to'])}"
        return f"SELECT * FROM events WHERE {where} ORDER BY ts, event_id LIMIT 20"
    if cls == "docs":
        kw = _lit(r["keyword"].lower())
        return ("SELECT doc_id, lang, source, substring(text, 1, 120) AS snippet "
                f"FROM documents WHERE contains(lower(text), {kw}) ORDER BY doc_id LIMIT 20")
    if cls == "report":
        return REPORTS[r["report"]]
    return r["sql"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return [canon(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return v


def answer(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [[canon(row[i]) for i in order] for row in cur.fetchall()]
    return {"cols": [names[i] for i in order], "rows": rows}


def same(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b
    return a == b and type(a) is type(b)


def compare(got, want):
    """None when equal, else why not (schema, rows, then values)."""
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} vs oracle {want['cols']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"rows {len(got['rows'])} vs oracle {len(want['rows'])}"
    for i, (g, w) in enumerate(zip(got["rows"], want["rows"])):
        if not same(g, w):
            return f"row {i}: {str(g)[:160]} vs oracle {str(w)[:160]}"
    return None


def connect(corpus):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    return con


def _cached(cache_dir, key, compute):
    path = os.path.join(cache_dir, hashlib.sha1(key.encode()).hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    val = compute()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(val, f)
    os.replace(path + ".tmp", path)
    return val


def check(workload, cfg, out, data_dir):
    """Map op index -> reason, for every op whose result is wrong."""
    con = connect(cfg["corpus"])
    cache = os.path.join(data_dir, "oracle-cache")
    tag = os.path.basename(cfg["corpus"])
    if workload == "pipeline":
        with open(os.path.join(cfg["work"], "oracle_sql.json")) as f:
            sqls = json.load(f)
    verdict, problems = {}, {}
    for i, o in enumerate(out["ops"]):
        if o.get("err") or "result" not in o:
            continue
        if workload == "search":
            sql = search_sql(cfg["requests"][int(o["key"])])
        else:
            sql = sqls.get(o["cls"])
            if sql is None:
                problems[i] = "no DuckDB twin for this path"
                continue
        vk = (sql, o["result"])
        if vk not in verdict:
            want = _cached(cache, f"{tag}\n{sql}", lambda: answer(con, sql))
            verdict[vk] = compare(json.loads(out["results"][o["result"]]), want)
        if verdict[vk]:
            problems[i] = verdict[vk]
    con.close()
    return problems
