"""Seeded input generator for the benchmark.

Everything is derived from the SBS-1 fixtures bundled with the program
(`src/main/resources/adsb`) and from a seeded RNG; nothing is downloaded.

SBS captures: the reference capture (2,069 lines, 84 aircraft, 1.65 s)
is tiled in time and copied with every 24-bit hexident remapped to a
fresh one, so `copies` copies give about 84 x `copies` aircraft. Golden
landing/takeoff sequences (one aircraft each) are injected with fresh
hexidents, and malformed lines modelled on `adsb_messages_faulty.txt`
(a missing field, a non-hex hexident, a non-numeric altitude, an
impossible date) are added, each at a fixed share of the good lines. Lines are
written in event-time order.

Analytics tables: `events` and `customer` parquet files with the layout
of the warehouse test tables (`graft.Tables`) and the shape measured on
their sf0.001, sf0.01 and sf0.1 copies (see WAREHOUSE_SHAPE), scaled to
the requested scale factor.
"""
import math
import os
import random

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                           "src", "main", "resources", "adsb")
BASE_DAY = "2019/10/20"
# Reference capture tile period: its 1.654 s span plus a short gap.
TILE_MS = 1700
# Landing/takeoff events each golden sequence must produce
# (ReplaySpec's golden fixture replay).
GOLDEN_EVENTS = {"AAA111": (1, 0), "BBB222": (1, 0), "CCC333": (0, 1),
                 "DDD444": (2, 0)}
MALFORMED_KINDS = ("field_count", "bad_hexident", "bad_altitude",
                   "bad_date")


def _parse_time_ms(t):
    h, m, s = t.split(":")
    sec, _, ms = s.partition(".")
    return ((int(h) * 60 + int(m)) * 60 + int(sec)) * 1000 + int(ms or 0)


def _fmt_time(ms):
    s, ms = divmod(ms, 1000)
    m, s = divmod(s, 60)
    h, m = divmod(m, 60)
    return "%02d:%02d:%02d.%03d" % (h, m, s, ms)


def _load(name):
    """Fixture lines as (t_ms, type, hexident, tail) with tail = fields 10..21."""
    out = []
    with open(os.path.join(FIXTURE_DIR, name), encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\r\n")
            if not line:
                continue
            p = line.split(",")
            out.append((_parse_time_ms(p[7]), p[1], p[4], ",".join(p[10:])))
    return out


def _line(tp, hexident, t_ms, tail):
    t = _fmt_time(t_ms)
    return "MSG,%s,1,1,%s,1,%s,%s,%s,%s,%s" % (
        tp, hexident, BASE_DAY, t, BASE_DAY, t, tail)


def _malform(kind, tp, hexident, t_ms, tail):
    if kind == "field_count":
        return _line(tp, hexident, t_ms, tail).rsplit(",", 1)[0]
    if kind == "bad_hexident":
        return _line(tp, hexident[:-1] + "G", t_ms, tail)
    if kind == "bad_altitude":
        p = tail.split(",")
        p[1] = "12a00"
        return _line(tp, hexident, t_ms, ",".join(p))
    t = _fmt_time(t_ms)
    return "MSG,%s,1,1,%s,1,2019/13/20,%s,2019/13/20,%s,%s" % (
        tp, hexident, t, t, tail)


def sbs_capture(seed, copies, span_ms, golden_share, malformed_share):
    """Event-time ordered capture covering `span_ms` of event time.

    Returns ([(t_ms, line)], params). Golden sequences and malformed
    lines are added at their shares of the tiled reference lines."""
    rng = random.Random(seed)
    base = _load("adsb_message_stream.txt")
    golden = _load("adsb_golden_landings.txt")
    t0 = min(t for t, _, _, _ in base)
    base_hex = sorted({h for _, _, h, _ in base})
    reps = math.ceil(span_ms / TILE_MS) + 1
    seqs = {}
    for t, tp, h, tail in golden:
        seqs.setdefault(h, []).append((t, tp, tail))
    names = sorted(seqs)
    approx_good = copies * len(base) * span_ms / TILE_MS
    n_golden_seq = max(len(names), round(
        golden_share * approx_good / (len(golden) / len(names))))
    ids = iter(rng.sample(range(1 << 24),
                          copies * len(base_hex) + n_golden_seq))
    rows = []
    for c in range(copies):
        remap = {h: "%06X" % next(ids) for h in base_hex}
        offset = rng.randrange(TILE_MS)
        for r in range(-1, reps):
            shift = offset + r * TILE_MS
            for t, tp, h, tail in base:
                if t0 <= t + shift < t0 + span_ms:
                    rows.append((t + shift, tp, remap[h], tail))
    n_tiled = len(rows)
    # Golden sequences: one aircraft each, relative timing preserved,
    # placed uniformly inside the span with a fresh hexident.
    injected = {h: 0 for h in names}
    for i in range(n_golden_seq):
        h = names[i % len(names)]
        seq = seqs[h]
        seq_span = seq[-1][0] - seq[0][0]
        if span_ms <= seq_span:
            continue
        start = t0 + rng.randrange(span_ms - seq_span)
        new_hex = "%06X" % next(ids)
        for t, tp, tail in seq:
            rows.append((start + t - seq[0][0], tp, new_hex, tail))
        injected[h] += 1
    rows.sort(key=lambda r: r[0])
    n_good = len(rows)
    n_bad = round(malformed_share * n_good)
    bad_at = sorted(rng.sample(range(n_good), n_bad))
    bad_counts = {k: 0 for k in MALFORMED_KINDS}
    lines = []
    j = 0
    for i, (t, tp, h, tail) in enumerate(rows):
        lines.append((t, _line(tp, h, t, tail)))
        while j < n_bad and bad_at[j] == i:
            kind = MALFORMED_KINDS[rng.randrange(len(MALFORMED_KINDS))]
            lines.append((t, _malform(kind, tp, h, t, tail)))
            bad_counts[kind] += 1
            j += 1
    params = {
        "seed": seed, "copies": copies, "tile_ms": TILE_MS,
        "event_time_span_ms": span_ms,
        "aircraft": copies * len(base_hex) + n_golden_seq,
        "golden_share": golden_share, "malformed_share": malformed_share,
        "lines": len(lines), "good_lines": n_good, "tiled_lines": n_tiled,
        "malformed_lines": n_bad, "malformed_by_kind": bad_counts,
        "golden_sequences": injected,
        "golden_landings": sum(GOLDEN_EVENTS[h][0] * n
                               for h, n in injected.items()),
        "golden_takeoffs": sum(GOLDEN_EVENTS[h][1] * n
                               for h, n in injected.items()),
    }
    return lines, params


def write_batch(out_dir, seed, copies=6, good_lines=130_000,
                golden_share=0.002, malformed_share=0.005, files=8):
    """Capture split into `files` contiguous text files under out_dir/lines."""
    span_ms = round(good_lines / (copies * 2069) * TILE_MS)
    lines, params = sbs_capture(seed, copies, span_ms, golden_share,
                                malformed_share)
    d = os.path.join(out_dir, "lines")
    os.makedirs(d, exist_ok=True)
    per = math.ceil(len(lines) / files)
    for i in range(files):
        with open(os.path.join(d, "part-%02d.txt" % i), "w",
                  encoding="utf-8", newline="\n") as f:
            f.writelines(l + "\n" for _, l in lines[i * per:(i + 1) * per])
    params["files"] = files
    return params


def write_stream(out_dir, seed, live_chunks, backlog_chunks, copies=2,
                 chunk_ms=250, golden_share=0.002, malformed_share=0.005):
    """Chunk files of `chunk_ms` event time each under out_dir/pool.

    The first `live_chunks` feed the open loop, the next
    `backlog_chunks` the restart backlog."""
    n = live_chunks + backlog_chunks
    lines, params = sbs_capture(seed, copies, n * chunk_ms, golden_share,
                                malformed_share)
    d = os.path.join(out_dir, "pool")
    os.makedirs(d, exist_ok=True)
    t0 = lines[0][0]
    chunks = [[] for _ in range(n)]
    for t, l in lines:
        chunks[(t - t0) // chunk_ms].append(l)
    for k, ch in enumerate(chunks):
        with open(os.path.join(d, "chunk-%05d.txt" % k), "w",
                  encoding="utf-8", newline="\n") as f:
            f.writelines(l + "\n" for l in ch)
    params.update({
        "chunk_ms": chunk_ms, "live_chunks": live_chunks,
        "backlog_chunks": backlog_chunks,
        "chunk_lines": [len(ch) for ch in chunks],
    })
    return params


# Shape of the warehouse test tables, identical at sf0.001, sf0.01 and
# sf0.1 (measured with DuckDB; figures in README.md): per unit of scale
# factor 1,000,000 events, 15,000 users (so 66.7 events per user) and
# 150,000 customers; event_id = 0..n-1; ts uniform over 2024-01-01 to
# 2024-01-31 at microsecond precision; the five event types equally
# likely; value exponential with mean 50 (median 34.7, p99 228) at two
# decimals; props = {"k": 0..99} uniform; customer c_nationkey 0..24,
# c_acctbal uniform in [-1000, 10000], five market segments.
WAREHOUSE_SHAPE = {"events_per_sf": 1_000_000, "users_per_sf": 15_000,
                   "customers_per_sf": 150_000, "days": 30,
                   "value_mean": 50.0, "props_keys": 100}
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def write_tables(out_dir, seed, sf=0.03):
    """events.parquet + customer.parquet with the warehouse tables' shape
    at scale factor `sf`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    w = WAREHOUSE_SHAPE
    n_events = round(w["events_per_sf"] * sf)
    n_users = round(w["users_per_sf"] * sf)
    n_customers = round(w["customers_per_sf"] * sf)
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    start_us = 1704067200 * 1_000_000          # 2024-01-01 00:00:00
    span_us = w["days"] * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events)) + start_us
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": pa.array([EVENT_TYPES[i] for i in
                                rng.integers(0, len(EVENT_TYPES), n_events)]),
        "value": pa.array(np.round(rng.exponential(w["value_mean"],
                                                   n_events), 2)),
        "props": pa.array(['{"k": %d}' % k for k in
                           rng.integers(0, w["props_keys"], n_events)]),
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_customers, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers),
                                type=pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000,
                                                   n_customers), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in
                                  rng.integers(0, len(SEGMENTS),
                                               n_customers)]),
    })
    pq.write_table(customer, os.path.join(out_dir, "customer.parquet"))
    return {"seed": seed, "sf": sf, "events": n_events, "users": n_users,
            "customers": n_customers, "days": w["days"],
            "value_mean": w["value_mean"]}
