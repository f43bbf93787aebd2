#!/usr/bin/env python3
"""Benchmark command for insightspark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the program
and the harness (perfbench/build.sbt) with sbt; later runs reuse the build
while the sources are unchanged. The JVM side (perfbench/src) runs one
workload and writes raw samples; this script checks them, aggregates them and
prints the metrics. The last line of standard output is one JSON object with
the keys correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Everything the run writes
stays under .bench_build/ in the checkout.

    python3 perfbench/run.py --profile

records perfbench/profile/seed_profile.tsv and perfbench/digests.tsv: every
registry key, one cold and one warm traced pass.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "data", "sf0.1")
CONFIG = os.path.join(BENCH, "workloads.json")
DIGESTS = os.path.join(BENCH, "digests.tsv")
PROFILE = os.path.join(BENCH, "profile", "seed_profile.tsv")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 172  # the whole command must end within 180 s

# Spark on JDK 17 outside spark-submit needs these opens (the same list the
# program's own build passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

PIPELINES = ["events", "suggest", "curate"]

# Per-layer metrics printed by --trace 1, with their units (the order of
# BENCHMARK.json's per_layer list). Layer = module of the program.
LAYERS = [
    ("operators.build_ms", "ms"), ("operators.build_jobs", "count"),
    ("plans.analysis_ms", "ms"), ("plans.optimizer_ms", "ms"),
    ("plans.planning_ms", "ms"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.idle_ms", "ms"),
    ("executor.run_ms", "ms"), ("executor.cpu_ms", "ms"),
    ("executor.gc_ms", "ms"), ("executor.util", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.spill_bytes", "bytes"), ("shuffle.fetch_wait_ms", "ms"),
    ("tables.bytes_read", "bytes"), ("tables.rows_read", "count"),
    ("driver.result_bytes", "bytes"),
    ("caches.entries", "count"), ("caches.timed_builds", "count"),
    ("caches.warm_s", "s"),
] + [(f"streaming.{pl}.{m}", u) for pl in PIPELINES for m, u in [
    ("batch_ms", "ms"), ("plan_ms", "ms"), ("commit_ms", "ms"),
    ("batches", "count"), ("state_rows", "count"), ("state_bytes", "bytes"),
    ("late_rows", "count"), ("backlog_max", "count")]] + [
    ("sinks.write_ms", "ms"), ("sinks.lines", "count"), ("sinks.bytes", "bytes")]

# Spark task totals (Trace.Totals field -> layer metric)
TASK_TOTALS = [("executor.run_ms", "run_ms"), ("executor.cpu_ms", "cpu_ms"),
               ("executor.gc_ms", "gc_ms"),
               ("shuffle.write_bytes", "shuffle_write_bytes"),
               ("shuffle.read_bytes", "shuffle_read_bytes"),
               ("shuffle.spill_bytes", "spill_bytes"),
               ("shuffle.fetch_wait_ms", "fetch_wait_ms"),
               ("tables.bytes_read", "bytes_read"),
               ("tables.rows_read", "rows_read"),
               ("driver.result_bytes", "result_bytes"),
               ("scheduler.jobs", "jobs"), ("scheduler.stages", "stages"),
               ("scheduler.tasks", "tasks")]


def log(msg):
    print(f"# {msg}", flush=True)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


# ---- build ------------------------------------------------------------------

def source_files():
    tops = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    files = [f for f in tops if os.path.isfile(f)]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp = os.path.join(OUT, "build.json")
    src = source_hash()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            b = json.load(fh)
        if b.get("source_sha256") == src and all(
                os.path.exists(p) for p in b["classpath"].split(os.pathsep)):
            return b["classpath"], src
    os.makedirs(OUT, exist_ok=True)
    log_path = os.path.join(OUT, "build.log")
    t0 = time.time()
    with open(log_path, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
                cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log_path}")
    lines = open(log_path).read().splitlines()
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed, see {log_path}")
    with open(stamp, "w") as fh:
        json.dump({"source_sha256": src, "classpath": cp,
                   "build_s": time.time() - t0}, fh)
    log(f"built in {time.time() - t0:.1f} s")
    return cp, src


# ---- running the JVM --------------------------------------------------------

def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()


def run_jvm(cp, settings, heap, timeout_s, name):
    work = os.path.join(OUT, "run", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw = os.path.join(work, "raw.json")
    args = dict(settings, work=work, out=raw, data=DATA)
    cmd = ["java", f"-Xmx{heap}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-cp", cp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd.append("perfbench.Main")
    args["launch-ms"] = repr(time.time() * 1000)
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    err_path = os.path.join(OUT, f"{name}.jvm.log")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=err, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload run exceeded {timeout_s} s, see {err_path}")
    if p.returncode != 0 or not os.path.isfile(raw):
        sys.stderr.write("".join(open(err_path).readlines()[-40:]))
        fail(f"workload run failed (exit {p.returncode}), see {err_path}")
    with open(raw) as fh:
        out = json.load(fh)
    shutil.move(raw, os.path.join(OUT, f"{name}.raw.json"))
    shutil.rmtree(work, ignore_errors=True)
    return out


# ---- statistics -------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """q-th percentile, linear between closest ranks (inclusive method)."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def self_times(spans):
    """Per span name: duration minus the part its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault((s["trace"], s["parent"]), []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        iv = sorted((max(a, c["start_ms"]), min(b, c["end_ms"]))
                    for c in kids.get((s["trace"], s["id"]), []))
        covered, cur = 0.0, None
        for x, y in iv:
            if y <= x:
                continue
            if cur is None or x > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [x, y]
            else:
                cur[1] = max(cur[1], y)
        if cur:
            covered += cur[1] - cur[0]
        out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, b - a - covered)
    return {k: round(v, 3) for k, v in sorted(out.items())}


# ---- query workloads --------------------------------------------------------

def load_digests():
    d = {}
    if os.path.isfile(DIGESTS):
        for line in open(DIGESTS):
            if line.startswith("key\t") or not line.strip():
                continue
            key, rows, digest = line.rstrip("\n").split("\t")[:3]
            d[key] = (int(rows), digest)
    return d


def query_result(raw, cores, trace):
    digests = load_digests()
    execs = raw["execs"]
    failures = []
    for e in execs:
        want = digests.get(e["key"])
        if e["error"]:
            failures.append(f"{e['key']}: {e['error']}")
        elif want is None:
            failures.append(f"{e['key']}: no recorded digest")
        elif (e["rows"], e["digest"]) != want:
            failures.append(f"{e['key']}: digest {e['digest']} rows {e['rows']}"
                            f" != recorded {want[1]} rows {want[0]}")
    timed = [e for e in execs if e["timed"]]
    lat = [e["ms"] for e in timed]
    passes = raw["pass_ms"]
    c = raw["caches"]
    timed_builds = c["end"] - c["after_setup"]
    e2e = {
        "setup_s": (raw["setup_ms"] / 1000, "s"),
        "pass_s": (median(passes) / 1000, "s"),
        "op_p50_ms": (pct(lat, 50), "ms"),
        "op_p90_ms": (pct(lat, 90), "ms"),
        "ops_per_s": (len(timed) / (sum(passes) / 1000), "1/s"),
        "retained_heap_mb": (raw["retained_heap_mb"], "MB"),
    }
    log(f"{len(timed)} timed key executions in {len(passes)} passes of "
        f"{raw['keys']} keys; op percentiles over n={len(lat)}")
    layer = None
    if trace:
        per_pass = {}
        for r in raw["layers"]:
            if not r["timed"]:
                continue
            p = per_pass.setdefault(r["pass"], {})
            for k, v in [("operators.build_ms", r["build_ms"]),
                         ("operators.build_jobs", r["build_jobs"]),
                         ("plans.analysis_ms", r["analysis_ms"]),
                         ("plans.optimizer_ms", r["optimizer_ms"]),
                         ("plans.planning_ms", r["planning_ms"]),
                         ("scheduler.idle_ms", r["idle_ms"])] + [
                    (k, r["build"][src] + r["action"][src]) for k, src in TASK_TOTALS]:
                p[k] = p.get(k, 0) + v
        layer = dict.fromkeys((k for k, _ in LAYERS), 0)
        # per pass, median over the timed passes
        layer.update({k: median([p[k] for p in per_pass.values()]) for k in per_pass[min(per_pass)]})
        cpu = sum(p["executor.cpu_ms"] for p in per_pass.values())
        layer["executor.util"] = cpu / (sum(passes) * cores)
        layer["caches.entries"] = c["after_setup"]
        layer["caches.timed_builds"] = timed_builds
        layer["caches.warm_s"] = c["warm_ms"] / 1000
    return {"e2e": e2e, "layer": layer, "attempted": len(execs),
            "failures": failures, "timed_builds": timed_builds}


# ---- pipeline workload ------------------------------------------------------

def etl_result(raw, cores, trace):
    failures = []
    ck = raw["checks"]
    want = ck["publish_expected"]
    pubs = raw["publish"]
    for i, p in enumerate(pubs):
        if p["error"]:
            failures.append(f"publish {i}: {p['error']}")
        elif (p["suggest_lines"], p["curate_lines"]) != \
                (want["suggest_lines"], want["curate_lines"]):
            failures.append(f"publish {i}: wrote {p['suggest_lines']}/"
                            f"{p['curate_lines']} lines, expected "
                            f"{want['suggest_lines']}/{want['curate_lines']}")
    for e in raw["stream_errors"]:
        failures.append(f"stream error: {e}")
    slices = raw["slices"]
    progress = raw["progress"]
    by_pl = {pl: sorted((p for p in progress if p["pipeline"] == pl),
                        key=lambda p: p["recv_ms"]) for pl in PIPELINES}

    def delivered(pl, offset):
        for p in by_pl[pl]:
            if p["end_offset"] >= offset:
                return p["recv_ms"]
        return None

    lat = []
    n_failed = len(failures)
    for pl in PIPELINES:
        res = ck[pl]
        if not res["ok"]:
            # a wrong final state fails every delivery into the pipeline
            failures.append(f"{pl} final state: got {res['got']}, "
                            f"expected {res['expected']}")
            n_failed += len(slices)
        for s in slices:
            r = delivered(pl, s["offset"])
            if r is None:
                failures.append(f"{pl} slice {s['index']} not delivered")
                n_failed += res["ok"]
            elif s["phase"] == "open":
                lat.append(r - s["due_ms"])
    timed_pub = [p["ms"] for p in pubs if p["timed"]]
    rounds = raw["catchup"]
    cu_ms = sum(r["ms"] for r in rounds)
    late = raw["generator_late_ms"]
    e2e = {
        "setup_s": (raw["setup_ms"] / 1000, "s"),
        "pass_s": (median(timed_pub) / 1000, "s"),
        "op_p50_ms": (pct(lat, 50), "ms"),
        "op_p90_ms": (pct(lat, 90), "ms"),
        "ops_per_s": (3 * len(rounds) / (cu_ms / 1000) if cu_ms else 0.0, "1/s"),
        "retained_heap_mb": (raw["retained_heap_mb"], "MB"),
    }
    rows_per_s = sum(r["rows"] for r in rounds) / (cu_ms / 1000) if cu_ms else 0
    log(f"publish: {len(timed_pub)} timed calls, median "
        f"{median(timed_pub):.1f} ms")
    log(f"open loop: {sum(s['phase'] == 'open' for s in slices)} slices, "
        f"ingest percentiles over n={len(lat)} deliveries; generator late "
        f"median {median(late):.2f} ms, max {max(late or [0]):.2f} ms")
    log(f"catch-up: {len(rounds)} rounds, {rows_per_s:.0f} source rows/s")
    c = raw["caches"]
    timed_builds = c["end"] - c["after_setup"]
    layer = None
    if trace:
        t0 = min(s["due_ms"] for s in slices if s["phase"] != "warm")
        # totals over the timed window: timed publish calls and the streams
        parts = [p[part] for p in raw["layers"]["publish"] if p["timed"]
                 for part in ("suggest", "curate")]
        parts += raw["layers"]["streams"].values()
        layer = dict.fromkeys((k for k, _ in LAYERS), 0)
        layer.update({k: sum(p[src] for p in parts) for k, src in TASK_TOTALS})
        layer["executor.util"] = layer["executor.cpu_ms"] / (raw["measure_ms"] * cores)
        layer["caches.entries"] = c["after_setup"]
        layer["caches.timed_builds"] = timed_builds
        layer["caches.warm_s"] = c["warm_ms"] / 1000
        for pl in PIPELINES:
            ps = [p for p in by_pl[pl] if p["rows"] > 0 and p["recv_ms"] >= t0]
            d = [p["durations"] for p in ps]
            deliveries = sorted(r for r in (delivered(pl, s["offset"])
                                            for s in slices) if r is not None)
            backlog = max([sum(1 for x in slices if x["added_ms"] <= s["added_ms"])
                           - sum(1 for r in deliveries if r <= s["added_ms"])
                           for s in slices if s["phase"] == "open"] or [0])
            layer.update({
                f"streaming.{pl}.batch_ms": median([x.get("triggerExecution", 0) for x in d]),
                f"streaming.{pl}.plan_ms": median([x.get("queryPlanning", 0) for x in d]),
                f"streaming.{pl}.commit_ms": median([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]),
                f"streaming.{pl}.batches": len(ps),
                f"streaming.{pl}.state_rows": max([p["state_rows"] for p in ps] or [0]),
                f"streaming.{pl}.state_bytes": max([p["state_bytes"] for p in ps] or [0]),
                f"streaming.{pl}.late_rows": sum(p["late_rows"] for p in ps),
                f"streaming.{pl}.backlog_max": backlog,
            })
        s0, s1 = raw["sinks"]["start"], raw["sinks"]["end"]
        layer["sinks.write_ms"] = (s1.get("write_ns", 0) - s0.get("write_ns", 0)) / 1e6
        layer["sinks.lines"] = s1.get("lines", 0) - s0.get("lines", 0)
        layer["sinks.bytes"] = s1.get("bytes", 0) - s0.get("bytes", 0)
    return {"e2e": e2e, "layer": layer,
            "attempted": len(pubs) + 3 * len(slices),
            "failures": failures, "failed": n_failed,
            "timed_builds": timed_builds,
            "extra": {"ingest_rows_per_s": rows_per_s,
                      "generator_late_ms_max": max(late or [0]),
                      "publish_n": len(timed_pub), "ingest_n": len(lat)}}


# ---- main -------------------------------------------------------------------

def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def previous_untraced(stamp):
    """The newest untraced result of the same workload, sources and settings
    in this checkout."""
    d = os.path.join(OUT, "results")
    best = None
    for f in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if f.startswith(stamp["workload"] + "-") and f.endswith("-trace0.json"):
            with open(os.path.join(d, f)) as fh:
                r = json.load(fh)
            if all(r["stamp"].get(k) == stamp[k]
                   for k in ("source_sha256", "settings_sha256", "seconds")):
                best = r
    return best


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--profile", action="store_true",
                    help="record the key profile and the digest file")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isfile(
            os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("program sources not found: run from the repository root of a "
             "full checkout")
    if not os.path.isdir(DATA):
        fail(f"benchmark tables missing under {DATA}")
    with open(CONFIG) as fh:
        config = json.load(fh)
    if a.profile:
        return profile(config)
    wl = config["workloads"].get(a.workload)
    if wl is None:
        fail(f"unknown workload {a.workload!r}; one of {sorted(config['workloads'])}")
    cp, src = build()
    cores = nproc()
    settings = {"mode": wl["mode"], "cores": cores, "seed": a.seed,
                "seconds": a.seconds, "trace": a.trace,
                "max-seconds": config["max_seconds"]}
    settings.update({k.replace("_", "-"): (",".join(v) if isinstance(v, list) else v)
                     for k, v in wl.items() if k not in ("mode", "why")})
    settings["min-ops"] = config["min_ops"]
    raw = run_jvm(cp, settings, config["heap"], RUN_TIMEOUT_S, a.workload)
    res = (query_result if wl["mode"] == "query" else etl_result)(raw, cores, a.trace)
    if res["timed_builds"] > 0:
        fail(f"benchmark error: timed work built {res['timed_builds']} session "
             f"cache entries; raise the warm-up of {a.workload}", 3)
    failed = res.get("failed", len(res["failures"]))
    attempted = res["attempted"]
    for f in res["failures"][:20]:
        log(f"FAIL {f}")
    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
             "trace": a.trace, "commit": git_commit(), "source_sha256": src,
             "settings_sha256": hashlib.sha256(
                 json.dumps(wl, sort_keys=True).encode()).hexdigest(),
             "nproc": cores, "master": raw["master"], "jvm": raw["jvm"],
             "spark": raw["spark_version"],
             "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    log("stamp " + json.dumps(stamp, sort_keys=True))
    if a.trace:
        metrics = {k: {"value": res["layer"][k], "unit": u} for k, u in LAYERS}
        spans = raw["spans"]
        selfs = self_times(spans)
        log("self_ms " + json.dumps(selfs))
        prev = previous_untraced(stamp)
        overhead = None
        if prev:
            m = prev["metrics"]
            overhead = {"pass_s": res["e2e"]["pass_s"][0] - m["pass_s"]["value"],
                        "op_p50_ms": res["e2e"]["op_p50_ms"][0] - m["op_p50_ms"]["value"]}
            log("tracing overhead (traced - untraced) " + json.dumps(overhead))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["e2e"].items()}
        for k, m in metrics.items():
            log(f"{k} = {m['value']:.4f} {m['unit']}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    base = os.path.join(OUT, "results", f"{a.workload}-{time.strftime('%Y%m%dT%H%M%S')}"
                        f"-seed{a.seed}-trace{a.trace}")
    record = dict(result, stamp=stamp, e2e={k: v for k, (v, _) in res["e2e"].items()},
                  extra=res.get("extra"), failures=res["failures"])
    if a.trace:
        record.update(self_ms=selfs, tracing_overhead=overhead)
        with open(base + "-spans.jsonl", "w") as fh:
            fh.writelines(json.dumps(s) + "\n" for s in spans)
    with open(base + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(result), flush=True)
    if failed:
        sys.exit(1)


def profile(config):
    """One cold and one warm traced pass over every registry key."""
    cp, src = build()
    cores = nproc()
    settings = {"mode": "query", "cores": cores, "seed": 0, "seconds": 0,
                "trace": 1, "max-seconds": 100000, "keys": "*",
                "warm-passes": 1, "passes": 1, "min-ops": 0}
    raw = run_jvm(cp, settings, config["profile_heap"], 7200, "profile")
    layers = {r["op"]: r for r in raw["layers"]}
    by_key = {}
    for e in raw["execs"]:
        by_key.setdefault(e["key"], []).append(e)
    os.makedirs(os.path.dirname(PROFILE), exist_ok=True)
    with open(PROFILE, "w") as fh, open(DIGESTS, "w") as dg:
        fh.write("key\twall_ms\tbuild_ms\tplan_ms\texec_ms\tbuild_jobs\tjobs\t"
                 "executor_cpu_ms\tcold_ms\n")
        dg.write("key\trows\tdigest\tstable\n")
        for key in sorted(by_key):
            cold, warm = sorted(by_key[key], key=lambda e: e["pass"])
            r = layers[warm["op"]]
            b, x = r["build"], r["action"]
            plan = r["analysis_ms"] + r["optimizer_ms"] + r["planning_ms"]
            fh.write(f"{key}\t{warm['ms']:.1f}\t{r['build_ms']:.1f}\t{plan:.1f}\t"
                     f"{r['action_ms'] - plan:.1f}\t{r['build_jobs']}\t"
                     f"{b['jobs'] + x['jobs']}\t{b['cpu_ms'] + x['cpu_ms']:.1f}\t"
                     f"{cold['ms']:.1f}\n")
            stable = (cold["digest"], cold["rows"]) == (warm["digest"], warm["rows"]) \
                and not warm["error"]
            dg.write(f"{key}\t{warm['rows']}\t{warm['digest']}\t"
                     f"{'yes' if stable else 'no'}\n")
    log(f"profiled {len(by_key)} keys: {PROFILE}, {DIGESTS}; "
        f"warm pass {sum(raw['pass_ms']) / 1000:.1f} s")


if __name__ == "__main__":
    main()
