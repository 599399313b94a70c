"""Checker self-tests: for each workload, a correct answer passes and an
injected wrong answer is reported.

Run from the repository root: python3 -m unittest discover -s e2ebench -p 'test_*.py'
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


class Tmp(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="e2ebench-test-", dir=os.path.dirname(__file__))

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)


class DeliverCheck(Tmp):
    """A log built from the generator's own model passes; one dropped
    attempt row fails."""

    def model_log(self, drop=0, cycles=2):
        exp = gen.deliver_expected(gen.deliver_inputs(7, os.path.join(self.dir, "in")), cycles)
        rows = []
        for phase, n in [("warm", gen.DELIVER_WARM), ("cycles", cycles * gen.DELIVER_BATCH)]:
            with open(os.path.join(self.dir, "in", f"{phase}.jsonl")) as f:
                for line in f.readlines()[:n]:
                    e = json.loads(line)
                    for did, tenant, _t, pats, flt, off in gen.DESTINATIONS:
                        if off or tenant != e["tenant_id"] \
                                or not gen._topic_match(pats, e["topic"]) \
                                or not gen._filter_match(flt, e["data"]["amount"]):
                            continue
                        rows.append((f"att_{e['event_id']}:{did}:1", e["event_id"], did,
                                     "failed" if did in gen.FAILING else "success"))
        rows = rows[drop:]
        log = os.path.join(self.dir, "log", "month=2026-01")
        os.makedirs(log)
        ts = pa.array([0] * len(rows), pa.timestamp("us", tz="UTC"))
        pq.write_table(pa.table({
            "attempt_id": [r[0] for r in rows], "event_id": [r[1] for r in rows],
            "destination_id": [r[2] for r in rows], "status": [r[3] for r in rows],
            "event_time": ts, "logged_at": ts}), os.path.join(log, "part-0.parquet"))
        alerts = os.path.join(self.dir, "alerts.jsonl")
        with open(alerts, "w") as f:
            for tenant, dest, kind, p in exp["alerts"]:
                f.write(json.dumps({"tenant_id": tenant, "destination_id": dest, "kind": kind,
                                    "threshold_pct": p, "failure_count": p}) + "\n")
        return exp, os.path.join(self.dir, "log"), alerts

    def test_model_passes(self):
        fails, lat = checks.check_deliver(*self.model_log())
        self.assertEqual(fails, [])
        self.assertTrue(lat)

    def test_dropped_attempt_fails(self):
        fails, _ = checks.check_deliver(*self.model_log(drop=1))
        self.assertTrue(any("attempts" in f for f in fails), fails)

    def test_extra_alert_fails(self):
        exp, log, alerts = self.model_log()
        with open(alerts, "a") as f:
            f.write(json.dumps({"tenant_id": "tenant_b", "destination_id": "d_b_all",
                                "kind": "consecutive_failure", "threshold_pct": 50,
                                "failure_count": 50}) + "\n")
        fails, _ = checks.check_deliver(exp, log, alerts)
        self.assertTrue(any("alerts" in f for f in fails), fails)


class ServeCheck(Tmp):
    """Responses rebuilt from the generated files pass; one wrong lookup row
    fails, as does a list page with a skipped id."""

    def responses(self):
        gen.serve_inputs(3, self.dir)
        with open(os.path.join(self.dir, "plan.json")) as f:
            readers = json.load(f)["readers"]
        ops = readers[0][:12] + readers[1][:4] + readers[2][:4]
        con = duckdb.connect()
        con.sql("SET TimeZone='UTC'")
        ev = con.read_parquet(os.path.join(self.dir, "events.parquet"))
        att = con.read_parquet(os.path.join(self.dir, "attempts", "month=2000-01", "*.parquet"))
        out = []
        for k, op in enumerate(ops):
            if op["route"] == "lookup":
                r = con.sql("SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ'), user_id, "
                            f"event_type, value FROM ev WHERE event_id = {op['id']}").fetchall()
                if not r:
                    out.append({"route": "lookup", "id": op["id"], "status": 404, "row": ""})
                    continue
                eid, ts, user, et, val = r[0]
                out.append({"route": "lookup", "id": op["id"], "status": 200,
                            "row": json.dumps({"event_id": eid, "ts": ts, "user_id": user,
                                               "event_type": et, "value": val})})
            elif op["route"] == "list":
                ids = [x[0] for x in con.sql(
                    "SELECT attempt_id FROM att WHERE tenant_id = 'tenant_0' AND status = "
                    f"'failed' AND attempt_time <= TIMESTAMPTZ '{op['end']}' ORDER BY "
                    "attempt_time DESC, attempt_id DESC LIMIT 300").fetchall()]
                for p in range(3):
                    out.append({"route": "list", "walk": str(k), "end": op["end"], "page": p,
                                "status": 200, "ids": ids[p * 100:(p + 1) * 100]})
            else:
                b = con.sql(
                    "SELECT strftime(date_trunc('hour', attempt_time), '%Y-%m-%dT%H:%M:%SZ') "
                    "AS bucket, count(*) AS count, count(*) FILTER "
                    "(WHERE status = 'failed') AS failed_count FROM att WHERE tenant_id = "
                    f"'tenant_0' AND attempt_time >= TIMESTAMPTZ '{op['start']}' AND "
                    f"attempt_time < TIMESTAMPTZ '{op['end']}' GROUP BY ALL").fetchall()
                out.append({"route": "metrics", "start": op["start"], "end": op["end"],
                            "status": 200, "buckets": json.dumps({"truncated": False, "buckets": [
                                {"bucket": t, "count": n, "failed_count": nf}
                                for t, n, nf in b]})})
        return out

    def test_model_passes(self):
        self.assertEqual(checks.check_serve(self.dir, self.responses()), [])

    def test_wrong_lookup_row_fails(self):
        rs = self.responses()
        hit = next(r for r in rs if r["route"] == "lookup" and r["status"] == 200)
        row = json.loads(hit["row"])
        row["user_id"] += 1
        hit["row"] = json.dumps(row)
        fails = checks.check_serve(self.dir, rs)
        self.assertTrue(any("lookup" in f for f in fails), fails)

    def test_skipped_list_id_fails(self):
        rs = self.responses()
        page = next(r for r in rs if r["route"] == "list")
        page["ids"] = page["ids"][1:]
        fails = checks.check_serve(self.dir, rs)
        self.assertTrue(any("list" in f for f in fails), fails)

    def test_found_miss_fails(self):
        rs = self.responses()
        rs.append({"route": "lookup", "id": gen.MISS_ID_BASE + 1, "status": 200, "row": "{}"})
        fails = checks.check_serve(self.dir, rs)
        self.assertTrue(any("absent" in f for f in fails), fails)


class CurateCheck(Tmp):
    """Results equal to the oracle pass; a flipped digest or one changed
    value fails."""

    def setUp(self):
        super().setUp()
        pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64()),
                                 "component": pa.array([1, 1, 3], pa.int64())}),
                       os.path.join(self.dir, "documents.parquet"))
        self.oracles = {"toy": "SELECT id, component FROM 'DIR/documents.parquet'"
                        .replace("DIR", self.dir)}
        os.makedirs(os.path.join(self.dir, "out", "toy"))

    def result(self, comps):
        pq.write_table(pa.table({"component": pa.array(comps, pa.int64()),
                                 "id": pa.array([3, 1, 2], pa.int64())}),
                       os.path.join(self.dir, "out", "toy", "part-0.parquet"))

    def expected(self):
        con = duckdb.connect()
        res = con.sql(self.oracles["toy"])
        d, n = checks.digest(res.fetchall(), res.columns)
        return {"toy": {"digest": d, "rows": n}}

    def test_equal_result_passes(self):
        self.result([3, 1, 1])
        self.assertEqual(checks.check_curate(os.path.join(self.dir, "out"),
                                             self.expected(), ["toy"]), [])

    def test_flipped_digest_fails(self):
        self.result([3, 1, 1])
        exp = self.expected()
        d = exp["toy"]["digest"]
        exp["toy"]["digest"] = ("0" if d[0] != "0" else "1") + d[1:]
        self.assertTrue(checks.check_curate(os.path.join(self.dir, "out"), exp, ["toy"]))

    def test_changed_value_fails(self):
        self.result([3, 1, 2])
        self.assertTrue(checks.check_curate(os.path.join(self.dir, "out"),
                                            self.expected(), ["toy"]))

    def test_frozen_oracles_cover_the_queries(self):
        with open(os.path.join(os.path.dirname(__file__), "oracles.json")) as f:
            self.assertEqual(sorted(json.load(f)), sorted(gen.CURATE_QUERIES))


if __name__ == "__main__":
    unittest.main()
