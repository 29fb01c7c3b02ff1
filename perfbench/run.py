#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  It builds the library and the
measuring process (``perfbench/build.py``), generates the workload's
inputs from the seed, runs the measuring process (``graft.perfbench.Main``)
in one JVM, checks every output outside the timed region, and prints one
JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics from a run
with Spark's listeners attached (``perfbench/README.md`` defines both).

Work files go to ``.bench_build/runs/``; the raw observations of the last
run of each workload stay there as ``result.json`` (and ``trace.json``).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

CORES = os.cpu_count() or 4
SETUPS = 3  # session set-up cycles per run; setup_s takes their median
DEADLINE_S = 170

# Sizes are calibrated so that each workload's measured phases take about
# BASE_SECONDS on a 4-core box; --seconds scales them linearly.
BASE_SECONDS = 10.0
# queries_small measures every QUERY_STRIDE-th contract query in name
# order, skipping the warm-up queries (their code is compiled in set-up)
QUERY_STRIDE = 8
WARM_QUERIES = ["dedup_ngram_jaccard", "ann_lsh_topk", "doc_winnow_fingerprints"]

WORKLOADS = {
    "trip_stream": {"trips": 11500, "warm_trips": 500, "chunk": 4000,
                    "drain_chunks": 4, "rate": 1000.0, "paced_seconds": 5.0,
                    "tick_ms": 100},
    "trip_topology": {"trips": 3500, "warm_trips": 200, "chunk": 1200, "chunks": 5},
    "queries_small": {"sf": 0.001},
}

# the paced phase fails when its tail latency exceeds this
PACED_TAIL_LIMIT_MS = 10000.0

END_TO_END = ["setup_s", "total_s", "latency_p50_ms", "latency_tail_ms"]
UNITS = {"setup_s": "s", "total_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms"}


def cpu_probe_ms():
    """Milliseconds a fixed single-thread loop takes: the host's CPU speed
    at this moment, which steal and external-CPU readings do not show."""
    t = time.perf_counter()
    x = 0
    for i in range(300_000):
        x += i * i
    return (time.perf_counter() - t) * 1000.0


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def all_query_names():
    """Contract query names, read from the library source (the map keys of
    ``SparkEntry.queries``)."""
    import re
    src = open(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")).read()
    body = src[src.index("def queries:"):src.index("def oracleSql:")]
    return sorted(set(re.findall(r'^\s{4}"([a-z0-9_]+)" ->', body, re.M)))


def small_queries(scale):
    names = [q for q in all_query_names() if q not in WARM_QUERIES]
    return names[::max(1, round(QUERY_STRIDE / scale))]


def write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def prepare(workload, seed, scale, cfg, inp):
    """Generates the inputs into ``inp``; returns the JVM arguments and
    the expectation the outputs are checked against."""
    if workload in ("trip_stream", "trip_topology"):
        lines, _ = gen.trip_feed(seed, cfg["trips"])
        warm, _ = gen.trip_feed(seed + 7919, cfg["warm_trips"], days=1,
                                id_prefix="w", epoch=gen.WARM_EPOCH)
        args = {"chunk": cfg["chunk"], "warm_events": len(warm)}
        if workload == "trip_stream":
            drain = cfg["chunk"] * max(1, round(cfg["drain_chunks"] * scale))
            paced = int(cfg["rate"] * cfg["paced_seconds"] * scale)
            n = drain + paced
            args.update(drain_events=drain, rate=cfg["rate"], paced_events=paced,
                        tick_ms=cfg["tick_ms"])
        else:
            n = cfg["chunk"] * max(1, round(cfg["chunks"] * scale))
        if n > len(lines):
            raise SystemExit("perfbench: generated feed is shorter than the workload")
        lines = warm + lines[:n]
        write_lines(os.path.join(inp, "feed.jsonl"), lines)
        return args, {"lines": lines, "warm_events": len(warm),
                      "trips": gen.expected_trips(lines)}
    gen.write_tables(inp, cfg["sf"], seed)
    names = small_queries(scale)
    return ({"queries": ",".join(names), "warm_queries": ",".join(WARM_QUERIES),
             "warm_dir": inp}, {"names": names})


def run_jvm(workload, trace, inp, out, work, args, deadline):
    jvm = ["java", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        jvm += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    kv = {"workload": workload, "in": inp, "out": out, "work": work,
          "cores": CORES, "trace": trace, "setups": SETUPS, **args}
    cmd = jvm + ["-cp", build.classpath(), "graft.perfbench.Main"] + \
        [f"{k}={v}" for k, v in kv.items()]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as lf:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: measuring process timed out")
    if rc != 0:
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise SystemExit(f"perfbench: measuring process exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def source_scans(progress, lines):
    """The pipelines read their source once per branch (starts, ends), so
    progress rows count each event once per scan; every event has been
    read when the run ends, which gives the factor."""
    return round(sum(pr["rows"] for pr in progress) / len(lines))


def stream_metrics(res, exp, wrong):
    """End-to-end figures of trip_stream: drain throughput and the paced
    phase's event-to-result latency."""
    d, p = res["drain"], res["paced"]
    first, rate = p["first_index"], p["rate"]
    lat = []
    for tid, _, _, seen in exp["rows"]:
        dep = exp["trips"].get(tid, (None, None, -1))[2]
        if dep >= first:  # due with its producer tick
            lat.append(seen - (dep - first) // p["per_tick"] * p["tick_ms"])
    # backlog = events sent but not yet through a finished trigger, at
    # each trigger end; it must not grow from the first to the second
    # half of the paced phase
    scans = source_scans(p["progress"], exp["lines"])
    sends, done = p["sends"], 0
    half = p["sent_done_ms"] / 2
    backlog = {0: 0, 1: 0}
    for pr in p["progress"]:
        done += pr["rows"] / scans
        if 0 <= pr["end_ms"] <= p["sent_done_ms"]:
            sent = max([n for t, n in sends if t <= pr["end_ms"]] or [0])
            h = 0 if pr["end_ms"] < half else 1
            backlog[h] = max(backlog[h], sent + first - done)
    tail_ms = stats.tail(lat)[1] if lat else float("inf")
    if backlog[1] > 1.5 * backlog[0] + rate or tail_ms > PACED_TAIL_LIMIT_MS:
        log(f"paced phase failed: backlog {backlog[0]} -> {backlog[1]} events, "
            f"tail latency {tail_ms:.0f} ms (limit {PACED_TAIL_LIMIT_MS:.0f})")
        wrong += len(lat)
    return {"total_s": d["seconds"], "latencies": lat, "late_ms_max": p["late_ms_max"],
            "backlog_max": max(backlog.values())}, wrong


def topology_metrics(res, exp):
    """trip_topology: wall time until the matcher drained, and one latency
    per chunk, from the chunk's send to the end of the matcher trigger
    that consumed the chunk's change-log rows (every trip of a chunk
    shares it, so chunks are the independent observations)."""
    t = res["topology"]
    lines, chunk, warm = exp["lines"], exp["chunk"], exp["warm_events"]
    scans = source_scans(t["matcher_progress"], [ln for ln in lines if gen.valid_event(ln)])
    total = scans * sum(1 for ln in lines[:warm] if gen.valid_event(ln))
    need = []
    for i in range(warm, len(lines), chunk):
        total += scans * sum(1 for ln in lines[i:i + chunk] if gen.valid_event(ln))
        need.append(total)
    visible, done, k = [], 0, 0
    for pr in t["matcher_progress"]:
        done += pr["rows"]
        while k < len(need) and done >= need[k]:
            visible.append(pr["end_ms"])
            k += 1
    lat = [v - sent for v, (sent, _) in zip(visible, t["chunks"])]
    return {"total_s": t["seconds"], "latencies": lat}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    build.build()

    cfg = dict(WORKLOADS[a.workload])
    base = os.path.join(ROOT, ".bench_build", "runs", a.workload)
    shutil.rmtree(base, ignore_errors=True)
    inp, out, work = (os.path.join(base, d) for d in ("in", "out", "work"))
    for d in (inp, out, work):
        os.makedirs(d)
    probe0 = cpu_probe_ms()
    g0 = time.monotonic()
    args, exp = prepare(a.workload, a.seed, a.seconds / BASE_SECONDS, cfg, inp)
    gen_s = time.monotonic() - g0
    j0 = time.monotonic()
    res = run_jvm(a.workload, a.trace, inp, out, work, args, deadline)
    jvm_s = time.monotonic() - j0
    probe1 = cpu_probe_ms()

    extra = {}
    if a.workload in ("trip_stream", "trip_topology"):
        rows = check.read_trips(os.path.join(out, "trips.tsv"))
        wrong, problems = check.check_trips(rows, exp["trips"])
        attempted = len(exp["trips"])
        exp.update(rows=rows, chunk=cfg["chunk"])
        if a.workload == "trip_stream":
            m, wrong = stream_metrics(res, exp, wrong)
            extra = {"gen.late_ms_max": m["late_ms_max"],
                     "stream.backlog_events_max": m["backlog_max"]}
        else:
            m = topology_metrics(res, exp)
    else:
        names = exp["names"]
        verdict = check.check_queries(inp, os.path.join(out, "results"), names)
        verdict.update({q["name"]: q["error"] for q in res["queries"] if q["error"]})
        problems = [f"{q}: {v}" for q, v in sorted(verdict.items()) if v]
        wrong, attempted = len(problems), len(names)
        secs = [q["seconds"] for q in res["queries"] if not q["error"]]
        m = {"total_s": sum(secs), "latencies": [s * 1000.0 for s in secs]}
    for pb in problems:
        log(f"CHECK FAILED {pb}")

    lat = m["latencies"]
    if not lat:
        raise SystemExit("perfbench: no latency samples")
    tail_label, tail_v = stats.tail(lat)
    e2e = {"setup_s": res["jvm_boot_s"] + stats.median(res["setup_cycles_s"]) +
           res["warm_s"] + gen_s,
           "total_s": m["total_s"], "latency_p50_ms": stats.percentile(lat, 50), "latency_tail_ms": tail_v}
    box = res["box"]
    log(f"{a.workload} seed={a.seed} trace={a.trace} " +
        " ".join(f"{k}={v:.4g}" for k, v in e2e.items()) +
        f" peak_rss_mb={res['peak_rss_mb']:.0f} tail={tail_label} n_lat={len(lat)}"
        f" gen_s={gen_s:.3g} jvm_s={jvm_s:.3g} "
        f"check_s={time.monotonic() - j0 - jvm_s:.3g} "
        f"setups={[round(x, 3) for x in res['setup_cycles_s']]} warm_s={res['warm_s']:.3g} "
        f"box: nproc={box['nproc']} load={box['loadavg_start']:.2f}->{box['loadavg_end']:.2f} "
        f"steal={box['steal_cores']:.2f} ext_cpu={box['ext_cpu_cores']:.2f} "
        f"cpu_probe_ms={probe0:.0f}->{probe1:.0f}")

    if a.trace:
        layers = dict(res.get("layers", {}))
        layers.update(res.get("layers_extra", {}))
        layers.update(extra)
        layers["blocks.retained_mb"] = res["blocks_retained_mb"]
        layers["mem.peak_rss_mb"] = res["peak_rss_mb"]
        layers["trace.callback_ms"] = res.get("trace_callback_ms", 0.0)
        layers["setup.cold_s"] = res["jvm_boot_s"] + res["setup_cycles_s"][0]
        layers["setup.warm_s"] = res["warm_s"]
        layers["trace.total_s"] = m["total_s"]
        layers["box.steal_cores"] = box["steal_cores"]
        layers["box.ext_cpu_cores"] = box["ext_cpu_cores"]
        layers["box.cpu_probe_ms"] = (probe0 + probe1) / 2
        names = per_layer_names()
        absent = [k for k, _ in names if k not in layers]
        log(f"layers this workload does not exercise (reported as 0): {' '.join(absent)}")
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in names}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"correct": wrong == 0, "attempted": attempted,
                      "failed": wrong, "metrics": metrics}))


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


if __name__ == "__main__":
    main()
