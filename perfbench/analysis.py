"""Pure functions behind the benchmark's metrics and output checks.

Kept free of I/O so tests/test_analysis.py can drive them with
synthetic inputs.
"""
import bisect
import decimal
import hashlib
import json
import math
import statistics

INF = float("inf")


def percentile(values, q, min_beyond=10):
    """Nearest-rank q-quantile of `values`.

    A quantile is only reported when at least `min_beyond` samples lie
    beyond it (n * (1 - q) >= min_beyond), so p90 needs 100 samples and
    p50 needs 20. Raises ValueError otherwise.
    """
    n = len(values)
    need = math.ceil(min_beyond / (1.0 - q) - 1e-9)
    if n < need:
        raise ValueError(f"p{q * 100:g} needs {need} samples, got {n}")
    s = sorted(values)
    return s[max(0, math.ceil(q * n) - 1)]


def geomean(values):
    if any(v <= 0 for v in values):
        raise ValueError("geomean of a non-positive value")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values):
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def due_times(event_ts, speedup, entry_ms):
    """When the paced producer is due to publish each event.

    The producer publishes event i once (ts_i - ts_0) / speedup ms have
    passed since it started, and never before the event ahead of it
    in the file, so out-of-order events are due with their predecessor.
    """
    out = []
    due = -INF
    t0 = event_ts[0]
    for ts in event_ts:
        due = max(due, entry_ms + (ts - t0) / speedup)
        out.append(due)
    return out


def window_latencies(event_ts, movers, speedup, entry_ms, delay_ms, docs,
                     arrivals):
    """Closed-window-to-indexed-document latency per (doc type, window).

    event_ts: dropoff ms of every event, in file order.
    movers: {doc type: indices into event_ts of the events that move the
        watermark of the query writing that type}.
    docs: expected documents [{"id", "type", "timestamp"}], where the
        window ends at timestamp + 1.
    arrivals: {doc id: first arrival ms at the bulk stub}.

    A window closes once one of its type's movers with event time
    >= end + delay has been published. Its latency runs from that
    event's due time to the arrival of the window's last document; a
    window with a missing document has infinite latency.
    """
    due = due_times(event_ts, speedup, entry_ms)
    # per type, the running maximum of mover event times and the event
    # index reaching it
    closing = {}
    for dtype, idxs in movers.items():
        prefix, at = [], []
        best = -INF
        for i in sorted(idxs):
            if event_ts[i] > best:
                best = event_ts[i]
                prefix.append(best)
                at.append(i)
        closing[dtype] = (prefix, at)
    windows = {}
    for d in docs:
        key = (d["type"], d["timestamp"] + 1)
        arrived = arrivals.get(d["id"], INF)
        windows[key] = max(windows.get(key, -INF), arrived)
    out = {}
    for (dtype, end), last in windows.items():
        prefix, at = closing[dtype]
        k = bisect.bisect_left(prefix, end + delay_ms)
        if k == len(prefix):
            raise ValueError(f"window {dtype}@{end} is never closed")
        out[(dtype, end)] = last - due[at[k]]
    return out


def compare_docs(expected, received):
    """Documents by id: (attempted, failed, details).

    An operation is one expected document; a missing document, one with
    another type or source, and an unexpected document each fail once.
    """
    exp = {d["id"]: (d["type"], d["source"]) for d in expected}
    got = {d["id"]: (d["type"], d["source"]) for d in received}
    missing = [i for i in exp if i not in got]
    wrong = [i for i in exp if i in got and got[i] != exp[i]]
    unexpected = [i for i in got if i not in exp]
    failed = len(missing) + len(wrong) + len(unexpected)
    return len(exp) + len(unexpected), failed, {
        "missing": len(missing), "wrong": len(wrong),
        "unexpected": len(unexpected),
        "examples": [exp.get(i) or got.get(i)
                     for i in (missing + wrong + unexpected)[:3]]}


def canon(val):
    """Value canonicalisation of tools/check_oracle.py: floats to 9
    significant digits, NaN and NULL by name, bytes as hex."""
    if val is None:
        return "NULL"
    if isinstance(val, decimal.Decimal):
        return f"dec:{val}"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return f"{val:.9g}"
    if isinstance(val, bytes):
        return val.hex()
    return str(val)


def rows_digest(columns, rows):
    """Order-insensitive digest of a result: columns sorted by name,
    values canonicalised, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon_rows = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    payload = json.dumps([[columns[i] for i in order], canon_rows])
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


def table_digest(tbl):
    """rows_digest of a pyarrow Table."""
    cols = list(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return rows_digest(cols, list(zip(*data)))


def timed_spans(spans, untimed=("setup",)):
    """The spans outside the root spans named in `untimed` and their
    descendants."""
    by_id = {s["id"]: s for s in spans}

    def inside(s):
        while True:
            if s["name"] in untimed:
                return True
            s = by_id.get(s["parent"])
            if s is None:
                return False

    return [s for s in spans if not inside(s)]


def self_times(spans):
    """Per-layer self time in seconds: each span's duration minus the
    part of it that its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start"], s["end"]
        covered = 0.0
        cur_a = cur_b = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            x, y = max(a, c["start"]), min(b, c["end"])
            if y <= x:
                continue
            if cur_b is None or x > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = x, y
            else:
                cur_b = max(cur_b, y)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, (b - a) - covered)
    return {k: v / 1000.0 for k, v in out.items()}


def spread(values):
    """Interquartile range as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
