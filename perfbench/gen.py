"""Seeded input generators for the benchmark, with their expected results.

Two generators:

* ``trip_feed`` — a wire-format trip event feed (the JSON shapes of
  ``TripSchemas.tripStartEvent`` / ``tripEndEvent``) in delivery order,
  spread over several event-time days, with controlled shares of
  duplicate re-deliveries, invalid events, ends delivered before their
  starts, and starts that never complete.  ``expected_trips`` computes
  the completed-trip set and per-day KPIs from the emitted events alone,
  without Spark.
* ``write_tables`` — the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` that ``SparkEntry.queries`` reads,
  written as one parquet file per table.

Everything is a pure function of the seed (and the sizes), so the same
seed always yields byte-identical inputs.
"""
import hashlib
import json
import random
from datetime import datetime, timedelta

FEED_EPOCH = datetime(2024, 5, 25)
# the warm-up feed ends before the measured feed's first event time
WARM_EPOCH = datetime(2024, 5, 21)
TS_FMT = "%Y-%m-%d %H:%M:%S"
# shares of the feed: duplicate re-deliveries and invalid events (of all
# original events), ends delivered before their starts (of completed
# trips) and starts that never complete (of all trips)
DUP_SHARE = 0.05
INVALID_SHARE = 0.03
EARLY_END_SHARE = 0.05
INCOMPLETE_SHARE = 0.08


def _ts(dt):
    return dt.strftime(TS_FMT)


def _start_event(t):
    return {"trip_id": t["trip_id"], "pickup_datetime": _ts(t["pickup"]),
            "data_type": "trip_start",
            "pickup_location_id": t["pu_loc"], "dropoff_location_id": t["do_loc"],
            "vendor_id": t["vendor"],
            "estimated_dropoff_datetime": _ts(t["est_dropoff"]),
            "estimated_fare_amount": t["est_fare"], "record_id": t["start_rec"]}


def _end_event(t):
    return {"trip_id": t["trip_id"], "dropoff_datetime": _ts(t["dropoff"]),
            "data_type": "trip_end", "rate_code": t["rate_code"],
            "payment_type": t["payment_type"], "fare_amount": t["fare"],
            "trip_distance": t["distance"], "tip_amount": t["tip"],
            "trip_type": t["trip_type"], "passenger_count": t["passengers"],
            "record_id": t["end_rec"]}


def trip_feed(seed, n_trips, days=4, id_prefix="", epoch=FEED_EPOCH):
    """Returns (lines, trips): the feed as wire-JSON strings in delivery
    order and the generated trips (with ``complete`` set for trips that
    have an end event).

    Delivery order is event-time order, except that
    * an early end is delivered just before its own start;
    * a duplicate re-delivery follows its original by up to 10 minutes;
    * invalid events land at random positions.
    All displacements are far inside the pipeline's 24 h watermark.
    """
    rng = random.Random(seed)
    span_s = days * 86400
    trips = []
    seen = set()
    for _ in range(n_trips):
        while True:
            tid = id_prefix + "%010x" % rng.getrandbits(40)
            if tid not in seen:
                seen.add(tid)
                break
        pickup = epoch + timedelta(seconds=rng.randrange(span_s))
        dur = timedelta(seconds=rng.randrange(300, 5400))
        fare = rng.uniform(10.0, 100.0)
        trips.append({
            "trip_id": tid, "pickup": pickup, "dropoff": pickup + dur,
            "est_dropoff": pickup + timedelta(seconds=rng.randrange(300, 5400)),
            "pu_loc": rng.randrange(1, 266), "do_loc": rng.randrange(1, 266),
            "vendor": rng.choice((1, 2)), "est_fare": round(rng.uniform(8.0, 110.0), 2),
            "fare": fare, "tip": round(rng.uniform(0.0, 20.0), 2),
            "distance": round(rng.uniform(0.3, 30.0), 2),
            "rate_code": float(rng.randrange(1, 6)),
            "payment_type": float(rng.randrange(1, 5)),
            "trip_type": float(rng.choice((1, 2))),
            "passengers": float(rng.randrange(1, 7)),
            "start_rec": "%032x" % rng.getrandbits(128),
            "end_rec": "%032x" % rng.getrandbits(128),
            "complete": rng.random() >= INCOMPLETE_SHARE,
            "early_end": False,
        })
    # (delivery key seconds, tie-break, json line)
    deliveries = []
    for i, t in enumerate(trips):
        start_key = (t["pickup"] - epoch).total_seconds()
        deliveries.append((start_key, 2 * i, json.dumps(_start_event(t))))
        if t["complete"]:
            if rng.random() < EARLY_END_SHARE:
                t["early_end"] = True
                end_key = start_key - 1e-3
            else:
                end_key = (t["dropoff"] - epoch).total_seconds()
            deliveries.append((end_key, 2 * i + 1, json.dumps(_end_event(t))))
    originals = list(deliveries)
    n_dup = int(round(DUP_SHARE * len(originals)))
    for k, (key, tb, line) in enumerate(rng.sample(originals, n_dup)):
        deliveries.append((key + rng.uniform(1.0, 600.0), 10 ** 9 + k, line))
    n_bad = int(round(INVALID_SHARE * len(originals)))
    for k in range(n_bad):
        key = rng.uniform(0, span_s)
        kind = k % 4
        t = trips[rng.randrange(len(trips))]
        if kind == 0:  # malformed JSON
            line = json.dumps(_start_event(t))[: rng.randrange(5, 40)]
        elif kind == 1:  # missing trip_id
            ev = _start_event(t)
            del ev["trip_id"]
            line = json.dumps(ev)
        elif kind == 2:  # start without its timestamp, same trip id
            ev = _start_event(t)
            del ev["pickup_datetime"]
            line = json.dumps(ev)
        else:  # end without its timestamp, same trip id
            ev = _end_event(t)
            del ev["dropoff_datetime"]
            line = json.dumps(ev)
        deliveries.append((key, 2 * 10 ** 9 + k, line))
    deliveries.sort(key=lambda d: (d[0], d[1]))
    return [d[2] for d in deliveries], trips


def valid_event(line):
    """The pipeline's parse + validation rule, restated without Spark."""
    try:
        ev = json.loads(line)
    except ValueError:
        return None
    if not isinstance(ev, dict) or ev.get("trip_id") is None:
        return None
    kind = ev.get("data_type")
    if kind == "trip_start" and ev.get("pickup_datetime") is not None:
        return ev
    if kind == "trip_end" and ev.get("dropoff_datetime") is not None:
        return ev
    return None


def expected_trips(lines, max_trip_s=86400):
    """Completed trips implied by a feed: the first valid start and the
    first valid end of each trip id, joined when the dropoff lies in
    [pickup, pickup + max_trip_s].  Returns {trip_id: (pickup string,
    fare_amount, dependency index)}, where the dependency index is the
    delivery position of the later of the two events."""
    starts, ends = {}, {}
    for i, line in enumerate(lines):
        ev = valid_event(line)
        if ev is None:
            continue
        side = starts if ev["data_type"] == "trip_start" else ends
        side.setdefault(ev["trip_id"], (i, ev))
    out = {}
    for tid, (i, s) in starts.items():
        if tid not in ends:
            continue
        j, e = ends[tid]
        pu = datetime.strptime(s["pickup_datetime"], TS_FMT)
        do = datetime.strptime(e["dropoff_datetime"], TS_FMT)
        if pu <= do <= pu + timedelta(seconds=max_trip_s):
            out[tid] = (s["pickup_datetime"], e.get("fare_amount"), max(i, j))
    return out


def trip_summary(trips):
    """Canonical comparable summary of a completed-trip map
    {trip_id: (pickup string, fare, ...)}: count, set hash and per-day
    (trip_count, total_fare)."""
    ids = sorted(trips)
    days = {}
    for tid in ids:
        day = trips[tid][0][:10]
        n, fare = days.get(day, (0, 0.0))
        days[day] = (n + 1, fare + (trips[tid][1] or 0.0))
    return {"count": len(ids),
            "set_hash": hashlib.sha256("\n".join(ids).encode()).hexdigest(),
            "days": {d: {"trip_count": n, "total_fare": f}
                     for d, (n, f) in sorted(days.items())}}


# ---------------------------------------------------------------------------
# Query tables

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD")
PART_ADJ = ("cold", "small", "large", "blue", "old", "new", "hot")
PART_NOUN = ("widget", "bolt", "rod", "anvil", "ring", "plate", "gear")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def write_tables(out_dir, sf, seed):
    """Writes the ten query tables at scale factor ``sf`` into
    ``out_dir`` (one ``<table>.parquet`` each)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def dates(n, start="1995-01-01", days=2404):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")

    def put(name, cols):
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": list(REGIONS)})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist())})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2)})
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(("O", "F", "P"), n_ord).tolist(),
        "o_totalprice": money(850.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(dates(n_ord), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()})
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("N", "R", "A"), n_line).tolist(),
        "l_linestatus": rng.choice(("O", "F"), n_line).tolist(),
        "l_shipdate": pa.array(dates(n_line, days=2500), pa.timestamp("us"))})
    ev_ts = np.sort(np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86400 * 10 ** 6, n_ev).astype("timedelta64[us]"))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, n).tolist()))
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))})
