"""Output checks, run after the timed region.

* ``check_queries`` runs the repository's oracle compare,
  ``tools/check_oracle.py``, over the query results the measuring
  process wrote (``<results>/<query>/*.parquet`` plus
  ``<results>/oracle_sql.json``) and the generated tables, and reads its
  per-query ``--json`` records.
* ``check_trips`` compares the completed trips a workload produced with
  the generator's expectation: count, set hash, per-day trip counts
  exactly and per-day fare totals up to summation order.
"""
import json
import math
import os
import subprocess
import sys

from gen import trip_summary

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FARE_REL_TOL = 1e-9


def check_queries(data_dir, results_dir, names):
    """Returns {query name: None if it matches its oracle, else the
    reason}."""
    records = os.path.join(results_dir, "oracle_check.json")
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                    data_dir, results_dir, "--json", records],
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    try:
        with open(records) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        rec = {}
    verdict = {}
    for name in names:
        r = rec.get(name)
        if r is None:
            verdict[name] = "no oracle record"
        elif r["err"]:
            verdict[name] = f"error: {r['err']}"
        elif not r["schema_match"]:
            verdict[name] = "columns differ"
        elif not r["rows_match"]:
            verdict[name] = f"rows {r['spark_rows']} != {r['oracle_rows']}"
        elif not r["hash_match"]:
            verdict[name] = "values differ"
        else:
            verdict[name] = None
    return verdict


def read_trips(path):
    """The measuring process's trips.tsv: trip_id, pickup, fare, seen ms."""
    rows = []
    with open(path) as f:
        for line in f:
            tid, pickup, fare, seen = line.rstrip("\n").split("\t")
            rows.append((tid, pickup, float(fare), float(seen)))
    return rows


def check_trips(rows, expected):
    """Compares produced trip rows with the expected {trip_id: (pickup,
    fare, dep index)} map.  Returns (number of wrong trips, problems)."""
    got = {}
    dups = 0
    for tid, pickup, fare, _ in rows:
        if tid in got:
            dups += 1
        got[tid] = (pickup, None if math.isnan(fare) else fare)
    missing = set(expected) - set(got)
    extra = set(got) - set(expected)
    problems = []
    if dups:
        problems.append(f"{dups} trips emitted more than once")
    if missing:
        problems.append(f"{len(missing)} expected trips missing")
    if extra:
        problems.append(f"{len(extra)} unexpected trips")
    wrong = dups + len(missing) + len(extra)
    want, have = trip_summary(expected), trip_summary(got)
    if want["set_hash"] != have["set_hash"] and not (missing or extra):
        problems.append("trip set hash differs")
    for day, w in want["days"].items():
        h = have["days"].get(day, {"trip_count": 0, "total_fare": 0.0})
        if h["trip_count"] != w["trip_count"] or not math.isclose(
                h["total_fare"], w["total_fare"], rel_tol=FARE_REL_TOL):
            problems.append(f"day {day}: {h} != {w}")
            if not (missing or extra or dups):
                wrong += w["trip_count"]
    return wrong, problems
