"""Output checks. Each returns a list of failure strings (empty = correct).

The checks read only the program's outputs and expectations made from the
seed (gen.py) or from DuckDB over the generated files, so they cannot agree
with a wrong program by sharing its code.
"""
import glob
import hashlib
import json
import math
import os

import duckdb


def pct(xs, p):
    """Nearest-rank percentile, the same definition the harness uses."""
    s = sorted(xs)
    if not s:
        return float("nan")
    return s[min(len(s) - 1, max(0, math.ceil(p * len(s)) - 1))]


def _con():
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    return con


# ---------------------------------------------------------------- deliver --

def deliver_log(con, log_dir):
    files = glob.glob(os.path.join(log_dir, "**", "*.parquet"), recursive=True)
    if not files:
        return None
    return con.read_parquet(files, hive_partitioning=False)


def check_deliver(exp, log_dir, alerts_path):
    """Exact per-destination/status counts, distinct attempt ids, and alerts
    only for the failing destination. Returns (failures, timed-cycle
    latencies: send time -> logged_at per attempt, in ms)."""
    con = _con()
    log = deliver_log(con, log_dir)
    if log is None:
        return [f"deliver: no log files under {log_dir}"], []
    fails = []
    got = {f"{d}|{s}": n for d, s, n in con.sql(
        "SELECT destination_id, status, count(*) FROM log GROUP BY ALL").fetchall()}
    for k in sorted(set(got) | set(exp["counts"])):
        if got.get(k, 0) != exp["counts"].get(k, 0):
            fails.append(f"deliver: attempts {k}: got {got.get(k, 0)}, "
                         f"expected {exp['counts'].get(k, 0)}")
    rows, distinct = con.sql(
        "SELECT count(*), count(DISTINCT attempt_id) FROM log").fetchone()
    if rows != exp["attempts"] or distinct != exp["attempts"]:
        fails.append(f"deliver: {rows} rows / {distinct} distinct attempt ids, "
                     f"expected {exp['attempts']}")
    alerts = []
    if os.path.exists(alerts_path):
        with open(alerts_path) as f:
            alerts = [json.loads(x) for x in f if x.strip()]
    got_alerts = sorted([a["tenant_id"], a["destination_id"], a["kind"], a["threshold_pct"]]
                        for a in alerts)
    if got_alerts != sorted(exp["alerts"]):
        fails.append(f"deliver: alerts {got_alerts} != expected {sorted(exp['alerts'])}")
    for a in alerts:
        if a["failure_count"] != a["threshold_pct"]:
            fails.append(f"deliver: alert fired at count {a['failure_count']} "
                         f"for threshold {a['threshold_pct']}")
    lat = [r[0] for r in con.sql(
        "SELECT epoch_ms(logged_at) - epoch_ms(event_time) FROM log "
        f"WHERE starts_with(event_id, '{exp['timed_prefix']}')").fetchall()]
    return fails, lat


# ------------------------------------------------------------------ serve --

def _seeded_attempts(con, serve_dir):
    # only the generated files: the writer's files are named by Spark
    path = os.path.join(serve_dir, "attempts", "month=2000-01", "part-?????.parquet")
    return con.read_parquet(path)


def check_serve(serve_dir, responses):
    """Lookups return the seeded row (misses 404), walked list pages equal
    the expected id sequence, metrics buckets equal DuckDB's grouping of the
    generated attempts."""
    from gen import MISS_ID_BASE
    con = _con()
    fails = []
    ev = con.read_parquet(os.path.join(serve_dir, "events.parquet"))
    lookups = [r for r in responses if r["route"] == "lookup"]
    want = {}
    ids = sorted({r["id"] for r in lookups if r["id"] < MISS_ID_BASE})
    if ids:
        con.sql("CREATE TEMP TABLE probe(id BIGINT)")
        con.executemany("INSERT INTO probe VALUES (?)", [[i] for i in ids])
        for eid, ts_us, user, etype, value in con.sql(
                "SELECT event_id, epoch_us(ts), user_id, event_type, value FROM ev "
                "JOIN probe ON event_id = id").fetchall():
            want[eid] = (ts_us, user, etype, value)
    for r in lookups:
        if r["id"] >= MISS_ID_BASE:
            if r["status"] != 404:
                fails.append(f"serve: lookup of absent id {r['id']} returned {r['status']}")
            continue
        if r["status"] != 200:
            fails.append(f"serve: lookup {r['id']} returned {r['status']}")
            continue
        row = json.loads(r["row"])
        got = (_iso_us(row.get("ts")), row.get("user_id"), row.get("event_type"),
               row.get("value"))
        if row.get("event_id") != r["id"] or got != want.get(r["id"]):
            fails.append(f"serve: lookup {r['id']} returned {row}, expected {want.get(r['id'])}")

    att = _seeded_attempts(con, serve_dir)
    pages = [r for r in responses if r["route"] == "list"]
    walks = {}
    for r in pages:
        walks.setdefault(r["walk"], []).append(r)
    expected_ids = {}
    for walk in walks.values():
        walk.sort(key=lambda r: r["page"])
        end = walk[0]["end"]
        if end not in expected_ids:
            expected_ids[end] = [x[0] for x in con.sql(
                "SELECT attempt_id FROM att WHERE tenant_id = 'tenant_0' "
                f"AND status = 'failed' AND attempt_time <= TIMESTAMPTZ '{end}' "
                "ORDER BY attempt_time DESC, attempt_id DESC LIMIT 300").fetchall()]
        exp = expected_ids[end]
        for r in walk:
            want_ids = exp[r["page"] * 100:(r["page"] + 1) * 100]
            if r["status"] != 200 or r["ids"] != want_ids:
                fails.append(f"serve: list end={end} page {r['page']}: status {r['status']}, "
                             f"{len(r['ids'])} ids, first {r['ids'][:2]} vs {want_ids[:2]}")
        if len(walk) != (len(exp) + 99) // 100:
            fails.append(f"serve: list end={end} walked {len(walk)} pages")

    metrics = [r for r in responses if r["route"] == "metrics"]
    expected_buckets = {}
    for r in metrics:
        key = (r["start"], r["end"])
        if key not in expected_buckets:
            expected_buckets[key] = {
                b: (n, nf) for b, n, nf in con.sql(
                    "SELECT epoch_ms(date_trunc('hour', attempt_time)), "
                    "count(*), count(*) FILTER (WHERE status = 'failed') FROM att "
                    f"WHERE tenant_id = 'tenant_0' AND attempt_time >= TIMESTAMPTZ '{key[0]}' "
                    f"AND attempt_time < TIMESTAMPTZ '{key[1]}' GROUP BY ALL").fetchall()}
        if r["status"] != 200:
            fails.append(f"serve: metrics {key} returned {r['status']}")
            continue
        got = {}
        body = json.loads(r["buckets"])
        if body.get("truncated"):
            fails.append(f"serve: metrics {key} truncated")
        for b in body["buckets"]:
            if b.get("count", 0) or b.get("failed_count", 0):
                got[_iso_us(b["bucket"]) // 1000] = (b["count"], b["failed_count"])
        if got != expected_buckets[key]:
            diff = sorted(set(got.items()) ^ set(expected_buckets[key].items()))[:3]
            fails.append(f"serve: metrics {key}: {len(got)} non-empty buckets vs "
                         f"{len(expected_buckets[key])}; differing {diff}")
    return fails


def _iso_us(s):
    """ISO-8601 UTC instant -> epoch microseconds (None passes through)."""
    if s is None:
        return None
    import datetime as dt
    body = s.rstrip("Z")
    date, _, frac = body.partition(".")
    t = dt.datetime.strptime(date, "%Y-%m-%dT%H:%M:%S").replace(tzinfo=dt.timezone.utc)
    us = int(round(t.timestamp())) * 1_000_000
    return us + (int((frac + "000000")[:6]) if frac else 0)


# ----------------------------------------------------------------- curate --

def _norm(rows, cols):
    """scripts/check.py's rules: columns sorted by name, row multiset, floats
    rounded to 9 places."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(str(v))
        out.append("\x01".join(vals))
    return sorted(out), [cols[i] for i in order]


def digest(rows, cols):
    got_rows, got_cols = _norm(rows, cols)
    h = hashlib.sha256("\x02".join(got_cols).encode())
    for r in got_rows:
        h.update(b"\x03" + r.encode())
    return h.hexdigest(), len(got_rows)


def curate_expected(table_dir, oracles):
    """Oracle digests over the generated documents table (DuckDB)."""
    con = _con()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{table_dir}/documents.parquet'")
    out = {}
    for name, sql in oracles.items():
        res = con.sql(sql)
        hostile = [(c, str(t)) for c, t in zip(res.columns, res.types)
                   if str(t) in ("HUGEINT", "UHUGEINT") or str(t).startswith("DECIMAL")]
        if hostile:
            raise ValueError(f"{name}: oracle column types {hostile} are not comparable")
        d, n = digest(res.fetchall(), res.columns)
        out[name] = {"digest": d, "rows": n}
    return out


def check_curate(result_dir, expected, queries):
    con = _con()
    fails = []
    for q in queries:
        files = glob.glob(os.path.join(result_dir, q, "*.parquet"))
        if not files:
            fails.append(f"curate: {q}: no result files")
            continue
        res = con.read_parquet(files)
        d, n = digest(res.fetchall(), res.columns)
        if d != expected[q]["digest"]:
            fails.append(f"curate: {q}: {n} rows, digest differs from the oracle "
                         f"({expected[q]['rows']} rows)")
    return fails
