"""DuckDB oracles. analyst_serve: recompute every distinct request of the
session in SQL over the same parquet tables. etl_backfill: run each
registered query's `SparkEntry.oracleSql` over the documents table it
read. Answers are compared the way the program's own verifier does
(columns by name, floats rounded to 4 places, rows in result order; a
preview has no order, so it is compared as a set and checked against the
filter)."""
import json

import duckdb

THRESHOLDS = [("email_present", 0.75), ("phone_present", 0.75),
              ("address_present", 0.5), ("known_brand", 0.95), ("days_in_range", 1.0)]

FLAT = """SELECT txid AS TXID, rfid AS RFID, car_model AS CAR_MODEL, brand AS BRAND,
  engine AS ENGINE, horsepower AS HORSEPOWER, sell_price AS SELL_PRICE,
  purchase_time AS PURCHASE_TIME, days AS DAYS, name AS NAME,
  address.street_address AS STREET_ADDRESS, address.city AS CITY,
  address.state AS STATE, address.postalcode AS POSTALCODE, phone AS PHONE,
  email AS EMAIL, emergency_contact.name AS EMERGENCY_NAME,
  emergency_contact.phone AS EMERGENCY_PHONE FROM orders"""


def lit(v):
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def where(r):
    c = []
    if r["brands"]:
        c.append(f"BRAND IN ({', '.join(map(lit, r['brands']))})")
    if r["engines"]:
        c.append(f"ENGINE IN ({', '.join(map(lit, r['engines']))})")
    if r["hp"]:
        c.append(f"HORSEPOWER BETWEEN {r['hp'][0]} AND {r['hp'][1]}")
    if r["dates"]:
        s, e = r["dates"]
        c.append(f"PURCHASE_TIME >= TIMESTAMP '{s}' AND "
                 f"PURCHASE_TIME < TIMESTAMP '{e}' + INTERVAL 1 DAY")
    if r["search"]:
        q = lit(r["search"].lower())
        c.append("(" + " OR ".join(f"contains(lower({k}), {q})"
                                   for k in ("NAME", "EMAIL", "PHONE", "RFID")) + ")")
    if r["states"]:
        c.append(f"STATE IS NOT NULL AND STATE IN ({', '.join(map(lit, r['states']))})")
    return " AND ".join(c) or "TRUE"


def mask(col, role):
    if role == "admin":
        return col
    if role == "auditor":
        return f"substring(sha256({col}), 1, 12) || '...' || substring({col}, -4, 4)"
    if role == "analyst":
        return f"regexp_replace({col}, '^([0-9]{{0,15}})([0-9]{{4}})$', '***************\\2')"
    return "'MASKED'"


def sql(r):
    k, c, w = r["kind"], r["column"], where(r)
    if k == "tiles":
        return (f"SELECT count(*) AS TOTAL_ORDERS, round(avg(HORSEPOWER), 4) AS AVG_HORSEPOWER, "
                f"round(avg(DAYS), 4) AS AVG_DAYS, count(DISTINCT EMAIL) AS UNIQUE_CUSTOMERS "
                f"FROM flat WHERE {w}")
    if k == "segment":
        return (f"SELECT {c}, count(*) AS ORDERS, round(avg(HORSEPOWER), 4) AS AVG_HP, "
                f"round(avg(DAYS), 4) AS AVG_DAYS FROM flat WHERE {w} GROUP BY {c} "
                f"ORDER BY ORDERS DESC, {c} ASC NULLS FIRST LIMIT {r['k']}")
    if k == "distinct":
        return (f"SELECT DISTINCT {c} FROM flat WHERE {c} IS NOT NULL "
                f"ORDER BY {c} LIMIT {r['k']}")
    if k == "bounds":
        return f"SELECT min({c}) AS MIN, max({c}) AS MAX FROM flat"
    if k == "filtered":
        return (f"SELECT TXID, BRAND, HORSEPOWER, NAME, EMAIL FROM flat WHERE {w} "
                f"ORDER BY TXID LIMIT {r['k']}")
    if k == "masked":
        src = (f"WHERE brand IN ({', '.join(map(lit, r['brands']))})" if r["brands"] else "")
        return (f"SELECT txid, brand, {mask('name', r['role'])} AS name, "
                f"{mask('phone', r['role'])} AS phone, {mask('email', r['role'])} AS email "
                f"FROM orders {src} ORDER BY txid LIMIT {r['k']}")
    if k == "dq_dashboard":
        latest = ("SELECT metric_group, metric_name, metric_value FROM dq QUALIFY "
                  "row_number() OVER (PARTITION BY metric_group, metric_name "
                  "ORDER BY computed_at DESC) = 1")
        if c == "latest":
            return latest + " ORDER BY metric_name"
        t = ", ".join(f"({lit(n)}, {v})" for n, v in THRESHOLDS)
        return (f"SELECT l.metric_group, l.metric_name, l.metric_value FROM ({latest}) l "
                f"JOIN (VALUES {t}) AS t(metric_name, threshold) USING (metric_name) "
                f"WHERE l.metric_value < t.threshold ORDER BY l.metric_name")
    raise ValueError(k)


def canon(rows, cols):
    """Rows as strings, columns in name order, floats rounded to 4 places."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return ["|".join(str(round(r[i], 4) if isinstance(r[i], float) else r[i]) for i in order)
            for r in rows]


def check(path):
    """Returns (wrong answers served, one note per mismatching request)."""
    with open(path) as f:
        log = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{log['orders']}/*.parquet')")
    con.execute(f"CREATE VIEW flat AS {FLAT}")
    con.execute(f"CREATE VIEW dq AS SELECT * FROM read_parquet('{log['dq_metrics']}/*.parquet')")
    bad, notes = 0, []
    for e in log["responses"]:
        r, cols, rows = e["request"], e["cols"], e["rows"]
        got = canon(rows, cols)
        if r["kind"] == "preview":
            total = con.execute(f"SELECT count(*) FROM flat WHERE {where(r)}").fetchone()[0]
            ids = ", ".join(lit(x[cols.index("TXID")]) for x in rows) or "NULL"
            rel = con.sql(f"SELECT {', '.join(r['cols'])} FROM flat "
                          f"WHERE {where(r)} AND TXID IN ({ids})")
            want = canon(rel.fetchall(), rel.columns)
            ok = (len(rows) == min(r["k"], total) and sorted(got) == sorted(want)
                  and sorted(c.lower() for c in cols) == sorted(c.lower() for c in rel.columns))
        else:
            rel = con.sql(sql(r))
            ok = (sorted(c.lower() for c in cols) == sorted(c.lower() for c in rel.columns)
                  and got == canon(rel.fetchall(), rel.columns))
        if not ok:
            bad += e["served"]
            notes.append(f"request {r['id']} ({r['kind']}) differs from DuckDB")
    notes.insert(0, f"first answers equal DuckDB: {len(log['responses']) - len(notes)}/"
                    f"{len(log['responses'])} requests")
    return bad, notes


def check_queries(path):
    """Returns (wrong results, one note per query) for the registered
    queries an etl_backfill pass ran."""
    with open(path) as f:
        log = json.load(f)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{log['documents']}/*.parquet')")
    bad, notes = 0, []
    for q in log["queries"]:
        got = con.sql(f"SELECT * FROM read_parquet('{q['result']}/*.parquet')")
        want = con.sql(q["sql"])
        rows = got.fetchall()
        ok = (sorted(c.lower() for c in got.columns) == sorted(c.lower() for c in want.columns)
              and canon(rows, got.columns) == canon(want.fetchall(), want.columns))
        bad += not ok
        notes.append(f"{q['name']}: {len(rows)} rows, {'equal to' if ok else 'DIFFER from'} "
                     f"its oracleSql in DuckDB")
    return bad, notes
