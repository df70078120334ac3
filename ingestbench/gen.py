"""Seeded, single-process, pure-Python input generators.

Each generator is a function of ``(workload, seed)`` only and writes into a
cache directory keyed by both, so a repeated run with the same seed reuses
the bytes. Nothing here touches Spark: the inputs are made before the Spark
session under test starts, so generation neither warms nor loads it.

The change-log workload writes one file per micro-batch in the
``"<seq>\\t<message>"`` format that ``StreamingDriver(offsets_in_log=True)``
reads; ``seq`` is a global, strictly increasing source offset. The
operator suite writes the parquet tables that ``__spark_entry__.queries()``
read.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil

# ----------------------------------------------------------------- tap_nested

TICKETS = "tickets"
USERS = "users"

TICKETS_SCHEMA = {
    "type": "SCHEMA",
    "stream": TICKETS,
    "key_properties": ["id"],
    "schema": {
        "type": "object",
        "properties": {
            "id": {"type": "integer"},
            "subject": {"type": ["null", "string"]},
            "status": {"type": ["null", "string"]},
            "priority": {"type": ["null", "string"]},
            "is_public": {"type": ["null", "boolean"]},
            "score": {"type": ["null", "number"]},
            "updated_at": {"type": ["null", "string"]},
            # 1..1 objects: flattened into the root row as via__channel, ...
            "via": {
                "type": ["null", "object"],
                "properties": {
                    "channel": {"type": ["null", "string"]},
                    "source": {
                        "type": ["null", "object"],
                        "properties": {
                            "rel": {"type": ["null", "string"]},
                            "from_id": {"type": ["null", "integer"]},
                        },
                    },
                },
            },
            # scalar-array child: tickets__tags
            "tags": {"type": ["null", "array"], "items": {"type": ["null", "string"]}},
            # array-of-object child with its own array grandchild:
            # tickets__comments, tickets__comments__attachments
            "comments": {
                "type": ["null", "array"],
                "items": {
                    "type": ["null", "object"],
                    "properties": {
                        "id": {"type": ["null", "integer"]},
                        "body": {"type": ["null", "string"]},
                        "author_id": {"type": ["null", "integer"]},
                        "attachments": {
                            "type": ["null", "array"],
                            "items": {
                                "type": ["null", "object"],
                                "properties": {
                                    "file_name": {"type": ["null", "string"]},
                                    "size": {"type": ["null", "integer"]},
                                },
                            },
                        },
                    },
                },
            },
        },
    },
}

USERS_SCHEMA = {
    "type": "SCHEMA",
    "stream": USERS,
    "key_properties": ["id"],
    "schema": {
        "type": "object",
        "properties": {
            "id": {"type": "integer"},
            "name": {"type": ["null", "string"]},
            "email": {"type": ["null", "string"]},
            "role": {"type": ["null", "string"]},
            "active": {"type": ["null", "boolean"]},
            "org_id": {"type": ["null", "integer"]},
        },
    },
}

_WORDS = (
    "login fails after reset password billing invoice refund export report "
    "slow page error timeout mobile app crash sync calendar email alert "
    "webhook api token quota upgrade plan seat admin role access denied"
).split()

TAP_TICKET_KEYS = 4000
TAP_USER_KEYS = 1500
TAP_BATCH_MESSAGES = 2000
TAP_DELETE_SHARE = 0.02
TAP_TICKET_SHARE = 0.7


def _rng(workload: str, seed: int) -> random.Random:
    # str seeds hash through sha512: identical across processes and hosts
    return random.Random(f"{workload}:{seed}")


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _ticket(rng: random.Random, key: int, batch: int) -> dict:
    comments = []
    for c in range(rng.randint(0, 3)):
        comments.append({
            "id": key * 10 + c,
            "body": _words(rng, 4, 12),
            "author_id": rng.randrange(TAP_USER_KEYS),
            "attachments": [
                {"file_name": f"f{rng.randrange(10_000)}.{rng.choice(['png', 'log', 'pdf'])}",
                 "size": rng.randrange(1, 5_000_000)}
                for _ in range(rng.randint(0, 2))
            ],
        })
    return {
        "id": key,
        "subject": _words(rng, 2, 6),
        "status": rng.choice(["new", "open", "pending", "solved", "closed"]),
        "priority": rng.choice(["low", "normal", "high", "urgent", None]),
        "is_public": rng.random() < 0.8,
        "score": round(rng.random() * 100, 2),
        "updated_at": f"2024-03-{1 + batch % 28:02d}T{rng.randrange(24):02d}:"
                      f"{rng.randrange(60):02d}:00Z",
        "via": {
            "channel": rng.choice(["web", "email", "api", "chat"]),
            "source": {"rel": rng.choice(["follow_up", None]), "from_id": rng.randrange(1000)},
        },
        "tags": [rng.choice(_WORDS) for _ in range(rng.randint(0, 4))],
        "comments": comments,
    }


def _user(rng: random.Random, key: int) -> dict:
    return {
        "id": key,
        "name": f"user {rng.randrange(100_000)}",
        "email": f"u{key}.{rng.randrange(1000)}@example.com",
        "role": rng.choice(["end-user", "agent", "admin"]),
        "active": rng.random() < 0.9,
        "org_id": rng.randrange(200),
    }


def _tap_batch(rng: random.Random, batch: int) -> list[dict]:
    out = []
    for _ in range(TAP_BATCH_MESSAGES - 1):
        tickets = rng.random() < TAP_TICKET_SHARE
        stream = TICKETS if tickets else USERS
        key = rng.randrange(TAP_TICKET_KEYS if tickets else TAP_USER_KEYS)
        if rng.random() < TAP_DELETE_SHARE:
            out.append({"type": "DELETED_RECORD", "stream": stream, "record": {"id": key}})
        else:
            rec = _ticket(rng, key, batch) if tickets else _user(rng, key)
            out.append({"type": "RECORD", "stream": stream, "record": rec})
    out.append({"type": "STATE", "value": {"bookmarks": {TICKETS: {"batch": batch}}}})
    return out


def tap_log(cache_root: str, seed: int, n_batches: int) -> list[str]:
    """Paths of ``n_batches`` offset-prefixed micro-batch files of the
    ``tap_nested`` change log; batch 0 starts with both SCHEMA messages, as
    a tap's first batch does. The files are a function of (seed, n_batches)
    alone."""
    d = os.path.join(cache_root, f"tap_nested-s{seed}-b{n_batches}")
    paths = [os.path.join(d, f"batch-{i:05d}.log") for i in range(n_batches)]
    if os.path.exists(os.path.join(d, "_SUCCESS")):
        return paths
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rng = _rng("tap_nested", seed)
    seq = 0
    for i, path in enumerate(paths):
        msgs = ([TICKETS_SCHEMA, USERS_SCHEMA] if i == 0 else []) + _tap_batch(rng, i)
        with open(path, "w") as fh:
            for m in msgs:
                fh.write(f"{seq}\t{json.dumps(m)}\n")
                seq += 1
    open(os.path.join(d, "_SUCCESS"), "w").close()
    return paths


# ------------------------------------------------------------- operator_suite

# Row counts of the 0.001 scale, one of the scales the suite's DuckDB oracles
# are swept at, with 200 instead of 500 documents and embeddings: a warm
# pass then takes about 14 s on 4 cores, dominated by per-query fixed cost
# (planning, codegen, job scheduling), and fits the run's time budget.
SUITE_ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
              "lineitem": 6000, "events": 1000, "documents": 200, "embeddings": 200}
SUITE_USERS = 15
_DOC_VOCAB = (
    "a the row column table key value part hash merge batch spark data query "
    "scan filter join agg group order sort window line stream vector small big "
    "fast slow customer"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_DOC_LANGS = ["en"] * 5 + ["de", "fr", "es", "zh"]


def _day(rng: random.Random, start: dt.datetime, span_days: int) -> dt.datetime:
    return start + dt.timedelta(days=rng.randrange(span_days))


def suite_tables(cache_root: str, seed: int) -> str:
    """Directory of seeded TPC-H-ish + events + documents + embeddings
    parquet tables with the columns and types ``__spark_entry__`` reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(cache_root, f"operator_suite-s{seed}")
    done = os.path.join(d, "_SUCCESS")
    if os.path.exists(done):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rng = _rng("operator_suite", seed)
    n = SUITE_ROWS
    t0 = dt.datetime(1995, 1, 1)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    def write(name, cols):
        table = pa.table({k: pa.array(v, type=t) for k, (t, v) in cols.items()})
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))

    write("region", {"r_regionkey": (i32, list(range(5))),
                     "r_name": (s, ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    write("nation", {"n_nationkey": (i32, list(range(25))),
                     "n_name": (s, [f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": (i32, [i % 5 for i in range(25)])})
    write("customer", {
        "c_custkey": (i64, list(range(n["customer"]))),
        "c_name": (s, [f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": (i32, [rng.randrange(25) for _ in range(n["customer"])]),
        "c_acctbal": (f64, [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n["customer"])]),
        "c_mktsegment": (s, [rng.choice(_SEGMENTS) for _ in range(n["customer"])]),
    })
    write("supplier", {
        "s_suppkey": (i64, list(range(n["supplier"]))),
        "s_name": (s, [f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": (i32, [rng.randrange(25) for _ in range(n["supplier"])]),
        "s_acctbal": (f64, [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n["supplier"])]),
    })
    write("part", {
        "p_partkey": (i64, list(range(n["part"]))),
        "p_name": (s, [f"{rng.choice(['red', 'blue', 'small'])} {rng.choice(['bolt', 'ring', 'widget'])}"
                       for _ in range(n["part"])]),
        "p_brand": (s, [f"Brand#{rng.randrange(1, 26)}" for _ in range(n["part"])]),
        "p_type": (s, [rng.choice(["ECONOMY", "SMALL", "LARGE", "STANDARD"]) for _ in range(n["part"])]),
        "p_size": (i32, [rng.randrange(1, 51) for _ in range(n["part"])]),
        "p_retailprice": (f64, [round(900 + i * 0.1, 2) for i in range(n["part"])]),
    })
    write("orders", {
        "o_orderkey": (i64, list(range(n["orders"]))),
        "o_custkey": (i64, [rng.randrange(n["customer"]) for _ in range(n["orders"])]),
        "o_orderstatus": (s, [rng.choice("FOP") for _ in range(n["orders"])]),
        "o_totalprice": (f64, [round(rng.uniform(1000, 500000), 2) for _ in range(n["orders"])]),
        "o_orderdate": (ts, [_day(rng, t0, 2400) for _ in range(n["orders"])]),
        "o_orderpriority": (s, [rng.choice(_PRIORITIES) for _ in range(n["orders"])]),
    })
    li = n["lineitem"]
    write("lineitem", {
        "l_orderkey": (i64, [rng.randrange(n["orders"]) for _ in range(li)]),
        "l_partkey": (i64, [rng.randrange(n["part"]) for _ in range(li)]),
        "l_suppkey": (i64, [rng.randrange(n["supplier"]) for _ in range(li)]),
        "l_linenumber": (i32, [rng.randrange(1, 8) for _ in range(li)]),
        "l_quantity": (f64, [float(rng.randrange(1, 51)) for _ in range(li)]),
        "l_extendedprice": (f64, [round(rng.uniform(900, 105000), 2) for _ in range(li)]),
        "l_discount": (f64, [rng.randrange(11) / 100 for _ in range(li)]),
        "l_tax": (f64, [rng.randrange(9) / 100 for _ in range(li)]),
        "l_returnflag": (s, [rng.choice("ANR") for _ in range(li)]),
        "l_linestatus": (s, [rng.choice("FO") for _ in range(li)]),
        "l_shipdate": (ts, [_day(rng, t0, 2500) for _ in range(li)]),
    })
    ev = n["events"]
    e0 = dt.datetime(2024, 1, 1)
    write("events", {
        "event_id": (i64, list(range(ev))),
        "ts": (ts, [e0 + dt.timedelta(seconds=(i + rng.random()) * 30 * 86400 / ev)
                    for i in range(ev)]),
        "user_id": (i64, [rng.randrange(SUITE_USERS) for _ in range(ev)]),
        "event_type": (s, [rng.choice(_EVENT_TYPES) for _ in range(ev)]),
        "value": (f64, [round(rng.uniform(0, 20), 2) for _ in range(ev)]),
        "props": (s, [json.dumps({"k": rng.randrange(100)}) for _ in range(ev)]),
    })
    # A dedup corpus: groups of four near-duplicates (a base text with up to
    # two words replaced) over a 300-word vocabulary, so unrelated texts are
    # far apart and the near-duplicate pair count barely moves with the seed.
    vocab = [a + b for a in _DOC_VOCAB[:20] for b in _DOC_VOCAB[:15]]
    docs = []
    for i in range(n["documents"]):
        if i % 4 == 0:
            base = [rng.choice(vocab) for _ in range(rng.randint(20, 60))]
        words = list(base)
        for _ in range(rng.randint(0, 2)):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        docs.append(" ".join(words))
    write("documents", {
        "doc_id": (i64, list(range(n["documents"]))),
        "text": (s, docs),
        "lang": (s, [rng.choice(_DOC_LANGS) for _ in docs]),
        "source": (s, [f"src{rng.randrange(20)}" for _ in docs]),
        "n_chars": (i64, [len(t) for t in docs]),
    })
    embs = []
    for _ in range(n["embeddings"]):
        v = [rng.gauss(0.0, 1.0) for _ in range(64)]
        norm = sum(x * x for x in v) ** 0.5
        embs.append([x / norm for x in v])
    write("embeddings", {
        "vec_id": (i64, list(range(n["embeddings"]))),
        "embedding": (pa.list_(pa.float32()), embs),
        "label": (i32, [rng.randrange(10) for _ in embs]),
    })
    open(done, "w").close()
    return d
