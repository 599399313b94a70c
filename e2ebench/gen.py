"""Seeded input generators and the expectations the checks compare against.

Everything here is computed from the seed alone, with no call into the
program under test: the expected attempt counts come from this file's own
topic-glob and filter evaluation, the serve expectations from the generated
rows, and the curate input is a fixed table that only the query order
depends on.
"""
import datetime as dt
import fnmatch
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- deliver --

TOPICS = ["order.created", "order.updated", "user.signup", "payment.received"]
TOPIC_WEIGHTS = [0.35, 0.25, 0.2, 0.2]
WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
         "lima mike november oscar papa quebec romeo sierra tango").split()

# (id, tenant, type, topics, filter, disabled); d_a_fail fails every attempt
DESTINATIONS = [
    ("d_a_all", "tenant_a", "mock", ["*"], None, False),
    ("d_a_orders", "tenant_a", "mock2", ["order.*"], None, False),
    ("d_a_signup", "tenant_a", "mock", ["user.signup"], None, False),
    ("d_a_big", "tenant_a", "mock2", ["*"], '{"data":{"amount":{"$gte":500}}}', False),
    ("d_a_off", "tenant_a", "mock", ["*"], None, True),
    ("d_a_fail", "tenant_a", "mock", ["order.*"], None, False),
    ("d_b_all", "tenant_b", "mock2", ["*"], None, False),
    ("d_b_pay", "tenant_b", "mock", ["payment.*"], None, False),
]
FAILING = ["d_a_fail"]
# Alerts.Config defaults: autoDisableCount 100, thresholds 50/70/90/100
ALERT_THRESHOLDS = [(50, "consecutive_failure"), (70, "consecutive_failure"),
                    (90, "consecutive_failure"), (100, "destination_disabled")]

DELIVER_BATCH = 1500         # events per timed cycle
DELIVER_WARM = 3 * DELIVER_BATCH   # three cycle-sized warm-up batches, drained during set-up
DELIVER_CYCLES = 12          # cycles generated; a run sends as many as fit its window


def _topic_match(patterns, topic):
    return any(fnmatch.fnmatchcase(topic, p) for p in patterns)


def _filter_match(flt, amount):
    if flt is None:
        return True
    spec = json.loads(flt)["data"]["amount"]
    return amount >= spec["$gte"]


def deliver_inputs(seed, outdir):
    """Writes the warm-up and cycle JSON templates (event_time is the `%T%`
    placeholder, stamped when sent) and returns the expected attempt counts
    per destination and status, for the warm-up and for each cycle."""
    rng = random.Random(seed)
    os.makedirs(outdir, exist_ok=True)
    notes = [" ".join(rng.choice(WORDS) for _ in range(60)) for _ in range(256)]
    parts = []   # expected counts: warm-up, then one dict per cycle
    for phase, prefix, groups in [("warm", "w", [DELIVER_WARM]),
                                  ("cycles", "c", [DELIVER_BATCH] * DELIVER_CYCLES)]:
        i = 0
        with open(os.path.join(outdir, f"{phase}.jsonl"), "w") as f:
            for n in groups:
                counts = {}
                for _ in range(n):
                    eid = f"{prefix}{seed}_{i}"
                    i += 1
                    tenant = "tenant_a" if rng.random() < 0.7 else "tenant_b"
                    topic = rng.choices(TOPICS, TOPIC_WEIGHTS)[0]
                    amount = rng.randrange(1000)
                    f.write(json.dumps({
                        "event_id": eid, "tenant_id": tenant, "topic": topic,
                        "event_time": "%T%",
                        "data": {"amount": amount, "sku": f"sku-{rng.randrange(10**6)}",
                                 "note": notes[rng.randrange(len(notes))]}},
                        separators=(",", ":")) + "\n")
                    for did, dt_, _typ, pats, flt, off in DESTINATIONS:
                        if off or dt_ != tenant or not _topic_match(pats, topic) \
                                or not _filter_match(flt, amount):
                            continue
                        k = f"{did}|{'failed' if did in FAILING else 'success'}"
                        counts[k] = counts.get(k, 0) + 1
                parts.append(counts)
    with open(os.path.join(outdir, "destinations.jsonl"), "w") as f:
        for did, tenant, typ, pats, flt, off in DESTINATIONS:
            f.write(json.dumps({"destination_id": did, "tenant_id": tenant,
                                "dest_type": typ, "topics": pats,
                                "filter_json": flt, "disabled": off}) + "\n")
    cfg = {"batch": DELIVER_BATCH, "failing": FAILING, "types": ["mock", "mock2"]}
    with open(os.path.join(outdir, "config.json"), "w") as f:
        json.dump(cfg, f)
    return parts


def deliver_expected(parts, cycles):
    """Expectation for a run that sent the warm-up and `cycles` cycles."""
    counts = {}
    for p in parts[:1 + cycles]:
        for k, v in p.items():
            counts[k] = counts.get(k, 0) + v
    n_fail = sum(v for k, v in counts.items() if k.endswith("|failed"))
    alerts = [["tenant_a", FAILING[0], kind, pct]
              for pct, kind in ALERT_THRESHOLDS if n_fail >= pct]
    return {"counts": counts, "attempts": sum(counts.values()), "timed_prefix": "c",
            "alerts": alerts}


# ------------------------------------------------------------------ serve --

SERVE_EVENTS = 50_000              # bloomed commit-log table rows
SERVE_LOG_EVENTS = 100_000         # MetricsBench-shaped events -> ~126k attempts
SERVE_DESTINATIONS = 50
MONTH_MS = 2678400000              # January 2000, as the MetricsBench seed
T0_MS = 946684800000               # 2000-01-01T00:00:00Z
WRITER_ID_BASE = 10_000_000        # writer's event ids: never looked up
MISS_ID_BASE = 50_000_000          # probed ids that must 404
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _attempts_per_event():
    """Expected attempts per generated deliver event, from the destination
    model above (tenant_a 70%, topic weights, amounts uniform in 0..999)."""
    n = 0.0
    for tenant, share in [("tenant_a", 0.7), ("tenant_b", 0.3)]:
        for topic, w in zip(TOPICS, TOPIC_WEIGHTS):
            for _did, dt_, _typ, pats, flt, off in DESTINATIONS:
                if off or dt_ != tenant or not _topic_match(pats, topic):
                    continue
                keep = 1.0 if flt is None else \
                    (1000 - json.loads(flt)["data"]["amount"]["$gte"]) / 1000
                n += share * w * keep
    return n


# The writer lands the deliver workload's measured output beside the API:
# one commit per delivery trigger, each the trigger's DELIVER_BATCH events
# and their attempts. deliver measured 955 events/s in DELIVER_BATCH-event
# triggers (median over seeds 201-210, 4 vCPUs), one trigger per 1,571 ms.
DELIVER_MEASURED_EVENTS_PER_S = 955
WRITER_PERIOD_MS = round(1000 * DELIVER_BATCH / DELIVER_MEASURED_EVENTS_PER_S)
WRITER_ATTEMPTS = round(DELIVER_BATCH * _attempts_per_event())


def _events_table(seed):
    rng = np.random.default_rng(seed)
    n = SERVE_EVENTS
    ids = np.arange(n, dtype=np.int64)
    base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 182 * 86400 * 10**6
    ts = base + rng.integers(0, span, n)
    return pa.table({
        "event_id": pa.array(ids),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, 5000, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.random(n) * 500.0, 2)),
    })


def _attempts_table(seed):
    """MetricsBench's closed-form seed (attempt k over the events whose
    previous attempt failed; per-level failure modulus) scaled down, with a
    seed-dependent destination shift."""
    n = SERVE_LOG_EVENTS
    shift = seed % 97
    cols = {k: [] for k in ["attempt_id", "event_id", "tenant_id", "destination_id",
                            "destination_type", "attempt_number", "manual", "status",
                            "attempt_time", "code", "event_time", "topic", "data",
                            "eligible_for_retry", "logged_at"]}
    topics = np.array(["order.created", "order.updated", "payment.received"])
    for k, sub, fmod in [(1, 1, 5), (2, 5, 20), (3, 20, 100), (4, 100, 200)]:
        ids = np.arange(0, n, sub, dtype=np.int64)
        failed = ids % fmod == 0
        ev_ms = T0_MS + ids * MONTH_MS // n
        cols["attempt_id"].append(np.char.add(np.char.add("att_", ids.astype(str)), f"_{k - 1}"))
        cols["event_id"].append(np.char.add("evt_", ids.astype(str)))
        cols["tenant_id"].append(np.where(ids % 10 == 0, "tenant_1", "tenant_0"))
        cols["destination_id"].append(np.char.add("dest_", ((ids + shift) % SERVE_DESTINATIONS).astype(str)))
        cols["destination_type"].append(np.full(len(ids), "webhook"))
        cols["attempt_number"].append(np.full(len(ids), k, dtype=np.int32))
        cols["manual"].append((k >= 3) & (ids % 10 == 9))
        cols["status"].append(np.where(failed, "failed", "success"))
        cols["attempt_time"].append(ev_ms + k * 1000)
        cols["code"].append(np.where(~failed, np.where(ids % 2 == 0, "200", "201"),
                                     np.where(ids % 2 == 0, "500", "422")))
        cols["event_time"].append(ev_ms)
        cols["topic"].append(topics[ids % 3])
        cols["data"].append(np.full(len(ids), '{"ok":true}'))
        cols["eligible_for_retry"].append(ids % 3 != 2)
        cols["logged_at"].append(ev_ms + k * 1000 + 5)
    c = {k: np.concatenate(v) for k, v in cols.items()}
    order = np.lexsort((c["attempt_id"], c["attempt_time"]))
    c = {k: v[order] for k, v in c.items()}
    ms = lambda a: pa.array(a * 1000, pa.timestamp("us", tz="UTC"))
    return pa.table({
        "attempt_id": pa.array(c["attempt_id"]), "event_id": pa.array(c["event_id"]),
        "tenant_id": pa.array(c["tenant_id"]), "destination_id": pa.array(c["destination_id"]),
        "destination_type": pa.array(c["destination_type"]),
        "attempt_number": pa.array(c["attempt_number"]), "manual": pa.array(c["manual"]),
        "status": pa.array(c["status"]), "attempt_time": ms(c["attempt_time"]),
        "code": pa.array(c["code"]), "event_time": ms(c["event_time"]),
        "topic": pa.array(c["topic"]), "data": pa.array(c["data"]),
        "metadata": pa.array([[]] * len(c["topic"]), pa.map_(pa.string(), pa.string())),
        "eligible_for_retry": pa.array(c["eligible_for_retry"]),
        "logged_at": ms(c["logged_at"]),
    })


def serve_inputs(seed, outdir):
    """Writes the events table, the month-partitioned attempts log and one
    request plan per reader thread."""
    rng = random.Random(seed)
    os.makedirs(outdir, exist_ok=True)
    pq.write_table(_events_table(seed), os.path.join(outdir, "events.parquet"))
    att = _attempts_table(seed)
    adir = os.path.join(outdir, "attempts", "month=2000-01")
    os.makedirs(adir, exist_ok=True)
    per = (att.num_rows + 15) // 16
    for i in range(16):   # (time, id)-sorted runs, the Logstore layout
        pq.write_table(att.slice(i * per, per), os.path.join(adir, f"part-{i:05d}.parquet"))
    # one closed-loop reader per route (0 lookups, 1 list walks, 2 metrics),
    # so every route keeps its own samples whatever the others cost
    plans = []
    for route in ["lookup", "list", "metrics"]:
        ops = []
        for _ in range(400):
            if route == "lookup":
                if rng.random() < 0.1:
                    ops.append({"route": "lookup", "id": MISS_ID_BASE + rng.randrange(10**6)})
                else:
                    ops.append({"route": "lookup", "id": rng.randrange(SERVE_EVENTS)})
            elif route == "list":
                end_ms = T0_MS + MONTH_MS // 4 + rng.randrange(MONTH_MS * 3 // 4)
                ops.append({"route": "list", "end": _iso(end_ms), "pages": 3})
            else:
                day = 1 + rng.randrange(31)
                ops.append({"route": "metrics", "start": f"2000-01-{day:02d}T00:00:00Z",
                            "end": _iso(T0_MS + day * 86400000)})
        plans.append(ops)
    with open(os.path.join(outdir, "plan.json"), "w") as f:
        json.dump({"readers": plans, "writer_id_base": WRITER_ID_BASE,
                   "writer_tenant": "tenant_9", "writer_period_ms": WRITER_PERIOD_MS,
                   "writer_events": DELIVER_BATCH, "writer_attempts": WRITER_ATTEMPTS}, f)


def _iso(ms):
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


# ----------------------------------------------------------------- curate --

# the near-duplicate clustering query: what fits one run of the seven
# curation queries (README.md lists the measured cost of all seven)
CURATE_QUERIES = ["dedup_clusters"]
CURATE_TABLE_SEED = 20240101       # the table is fixed; --seed only orders the queries
CURATE_DOCS = 1000
CURATE_SOURCES = 8
DOC_VOCAB = ("a agg batch big column customer data fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream "
             "table the value vector window").split()


def curate_inputs(outdir):
    os.makedirs(outdir, exist_ok=True)
    rng = random.Random(CURATE_TABLE_SEED)
    docs = []
    for i in range(CURATE_DOCS):
        src = f"src{rng.randrange(CURATE_SOURCES)}"
        same = [d for d in docs[-40:] if d[2] == src]
        if same and rng.random() < 0.25:   # near-duplicate of a recent doc
            toks = same[-1][1].split(" ")
            toks[rng.randrange(len(toks))] = "dup"
        else:
            toks = [rng.choice(DOC_VOCAB) for _ in range(rng.randint(10, 100))]
        text = " ".join(toks)
        docs.append((i, text, src, rng.choice(["en", "en", "de", "fr", "es", "zh"])))
    pq.write_table(pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": [d[1] for d in docs], "lang": [d[3] for d in docs],
        "source": [d[2] for d in docs],
        "n_chars": pa.array([len(d[1]) for d in docs], pa.int64())}),
        os.path.join(outdir, "documents.parquet"))


def curate_order(seed):
    order = CURATE_QUERIES[:]
    random.Random(seed).shuffle(order)
    return order
