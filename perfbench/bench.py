"""Pure helpers shared by the benchmark's entry point, its generator and its
tests: seeded inputs, MQTT packet encoding, the percentile rule, the
position -> due-time latency mapping and the output checks.
"""
import json
import os
import random
import struct
import sys

# MqttQueries.ExcludeTopics: dropped by the client, exact membership
EXCLUDE = frozenset(["tele/error/13", "tele/error/7", "tele/error"])
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


# ---- seeded inputs -----------------------------------------------------------

def steady_messages(seed, n):
    """The sf0.1 message frame (Tables.messages): 500 topics
    tele/<event_type>/<user_id % 100>, ~9-byte JSON payloads."""
    rng = random.Random(seed * 7919 + 1)
    out = []
    for _ in range(n):
        et = EVENT_TYPES[rng.randrange(5)]
        user = rng.randrange(1500)
        out.append((f"tele/{et}/{user % 100}", b'{"k": %d}' % rng.randrange(100)))
    return out


def burst_messages(seed, n, topics=5000, change_p=0.2, zipf_s=1.0):
    """5,000 topics (10x the sf0.1 keyspace), Zipf-skewed picks; each message
    changes its topic's payload with probability `change_p`."""
    rng = random.Random(seed * 104729 + 2)
    names = [f"tele/{EVENT_TYPES[i % 5]}/{i // 5}" for i in range(topics)]
    rng.shuffle(names)  # rank -> topic
    cum, acc = [], 0.0
    for r in range(topics):
        acc += 1.0 / (r + 1) ** zipf_s
        cum.append(acc)
    picks = rng.choices(range(topics), cum_weights=cum, k=n)
    current = {}
    out = []
    for r in picks:
        v = current.get(r)
        if v is None or rng.random() < change_p:
            nv = v
            while nv == v:
                nv = b'{"v": %d}' % rng.randrange(10000)
            current[r] = v = nv
        out.append((names[r], v))
    return out


def events_table(seed, n):
    """Columns of an events.parquet with the sf0.1 shape (FIXTURES §2)."""
    rng = random.Random(seed * 15485863 + 3)
    start_us = 1704067200 * 1000000  # 2024-01-01, 30 days of events
    span_us = 30 * 86400 * 1000000
    ts = sorted(start_us + rng.randrange(span_us) for _ in range(n))
    return {
        "event_id": list(range(n)),
        "ts_ns": [t * 1000 for t in ts],
        "user_id": [rng.randrange(1500) for _ in range(n)],
        "event_type": [EVENT_TYPES[rng.randrange(5)] for _ in range(n)],
        "value": [round(rng.random() * 200, 2) for _ in range(n)],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n)],
    }


def delivered(msgs):
    """What the client hands on, in order: everything not excluded."""
    return [m for m in msgs if m[0] not in EXCLUDE]


# ---- wire ----------------------------------------------------------------------

def varint(n):
    out = bytearray()
    while True:
        b, n = n % 128, n // 128
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def publish_packet(topic, payload):
    t = topic.encode()
    body = struct.pack(">H", len(t)) + t + payload
    return b"\x30" + varint(len(body)) + body


# ---- statistics ---------------------------------------------------------------

PERCENTILES = (99.9, 99.0, 90.0, 75.0, 50.0)


def pctl(values, p):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))
    return s[int(k)]


def tail_percentile(n):
    """The highest percentile with at least ten samples beyond it, or None."""
    for p in PERCENTILES:
        if n - -(-n * p // 100) >= 10:
            return p
    return None


def median(values):
    s = sorted(values)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


# ---- latency mapping ----------------------------------------------------------

def commit_latencies_ms(batches, due_ns, first, last):
    """Latency of each delivered position in [first, last): from its due time
    to the commit of the batch whose [start, end) range holds it.

    `batches` are (start, end, commit_ns); `due_ns[p]` is position p's due
    time. Positions never committed are returned as misses (None).
    """
    commit = [None] * (last - first)
    for start, end, ns in batches:
        for p in range(max(start, first), min(end, last)):
            commit[p - first] = ns
    return [None if c is None else (c - due_ns[first + i]) / 1e6 for i, c in enumerate(commit)]


# ---- output checks -----------------------------------------------------------

def last_values(msgs):
    """topic -> hex payload of the last delivered message per topic."""
    last = {}
    for t, v in msgs:
        last[t] = v.hex().upper()
    return last


def cdc_kept(msgs):
    """Positions the diff-only gate keeps: a topic's first message and every
    payload change, in arrival order."""
    prev, kept = {}, []
    for i, (t, v) in enumerate(msgs):
        if prev.get(t) != v:
            kept.append(i)
        prev[t] = v
    return kept


def read_tsv(path):
    with open(path) as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


def check_state(expected, rows):
    """Final upsert state (topic, hex value) rows against the expected map."""
    got = {r[0]: r[1] for r in rows}
    if len(got) != len(rows):
        return "duplicate topics in state"
    if got != expected:
        bad = sorted(set(got.items()) ^ set(expected.items()))[:3]
        return f"state differs from last delivered value per topic: {bad}"
    return None


def check_rows(expected, actual, what):
    if expected != actual:
        n = len(expected)
        i = next((k for k in range(min(n, len(actual))) if expected[k] != actual[k]), min(n, len(actual)))
        return f"{what}: {len(actual)} rows vs {n} expected; first difference at row {i}"
    return None


def frames_differ(spark_df, oracle_df):
    """Compare a Spark result with its DuckDB oracle by the rules of
    tools/check.py, whose `norm` and `_dtype_benign` it reuses: columns sorted
    by name, row count, exact values in row order. Returns a reason or None."""
    check = _oracle_check()
    s, o = check.norm(spark_df), check.norm(oracle_df)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} vs oracle {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} vs oracle {len(o)}"
    for c in o.columns:
        a, b = s[c], o[c]
        if not check._dtype_benign(a.dtype, b.dtype):
            return f"col {c} dtype {a.dtype} vs oracle {b.dtype}"
        try:
            eq = (a == b) | (a.isna() & b.isna())
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = int(eq.idxmin())
            return f"col {c} row {i}: {a[i]!r} vs oracle {b[i]!r}"
    return None


def _oracle_check():
    """The repository's oracle gate, tools/check.py, imported as a module."""
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check
    return check


def dumps(obj):
    return json.dumps(obj, separators=(",", ":"))
