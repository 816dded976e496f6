#!/usr/bin/env python3
"""The log lakehouse benchmark: one workload, one seed, one cold JVM.

    python3 perfbench/run.py --workload ingest|serve|lake \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt depends on the root
build); later runs reuse the build while the sources are unchanged.
Inputs are generated from the seed under .bench_build/, the harness
(perfbench.Main) runs the workload in a fresh JVM, and this script checks
every output, then prints a detail line with the workload's own metrics
and, last, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 they are the per-layer ones of a traced run (its tracing overhead
is taken against an untraced run of the same build and seed, from an
earlier --trace 0 run or run first). Exits non-zero when any operation
failed.
See perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import loggen  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CORES = min(4, os.cpu_count() or 1)
HEAP = "2g"
JVM_TIMEOUT_S = 170
LAYERS = ("logs", "serve", "sources", "exec")

# The per-layer metric names, in the order BENCHMARK.json lists them.
PER_LAYER = (
    ["logs.parse.task_s", "logs.parse.lines_in", "logs.parse.kept_ratio",
     "logs.lake.write_s", "logs.lake.files", "logs.lake.bytes_written",
     "logs.models.s", "logs.models.shuffle_bytes", "logs.quality.s", "logs.quality.jobs",
     "logs.driver_s",
     "serve.errors_by_endpoint.p50_ms", "serve.top_endpoints.p50_ms",
     "serve.dashboard.p50_ms", "serve.queue_ms", "serve.queries_per_request",
     "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
     "catalyst.queries",
     "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.shuffle_read_bytes",
     "exec.shuffle_write_bytes", "exec.spill_bytes",
     "sources.commit.append.p50_ms", "sources.commit.delete.p50_ms",
     "sources.commit.merge.p50_ms", "sources.commit.update.p50_ms",
     "sources.commit.fs_ops", "sources.write_amp",
     "sources.meta.resolve_ms", "sources.meta.files_read_ratio", "sources.meta.segments",
     "sources.maint.checkpoint_s", "sources.maint.compact_s", "sources.maint.vacuum_s",
     "sources.maint.bytes_rewritten", "sources.maint.files_deleted",
     "plans.aligned.fired", "plans.aligned.exchanges",
     "jvm.gc_s", "jvm.jit_s", "jvm.codegen_compiles"]
    + [f"trace.self.{layer}_s" for layer in LAYERS]
    + ["trace.uncovered_s", "trace.overhead_s"])

END_TO_END_UNITS = {"setup_s": "s", "memory_mb": "MB", "throughput_per_s": "1/s",
                    "p50_ms": "ms", "bytes_per_row": "B"}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """The harness classpath, building first when the sources changed."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of a checkout of the program: {need} is missing")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_opts = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += f" -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = sbt_opts
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=os.path.join(ROOT, "perfbench"), env=env, stdout=subprocess.PIPE,
                           stderr=log, stdin=subprocess.DEVNULL, text=True, timeout=840)
        log.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- inputs

BACKFILL_START = dt.date(2025, 3, 1)
LINES_PER_DAY = 12500


def write_text(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def ingest_inputs(work, seed, seconds):
    """A 4-day backfill, then two nightly days per five run seconds;
    every day has LINES_PER_DAY lines, so only their content varies."""
    backfill_days, nightlies = 4, max(3, seconds * 2 // 5)
    days = loggen.days_from(BACKFILL_START, backfill_days + nightlies)
    text, tally = loggen.render(seed, [(d, LINES_PER_DAY) for d in days[:backfill_days]])
    write_text(f"{work}/raw/backfill.log", text)
    tallies = [("backfill", tally, backfill_days * LINES_PER_DAY)]
    for i, day in enumerate(days[backfill_days:]):
        text, t = loggen.render(seed, [(day, LINES_PER_DAY)])
        write_text(f"{work}/raw/nightly-{i:02d}.log", text)
        tallies.append((f"nightly-{i:02d}.log", t, LINES_PER_DAY))
    return {}, tallies


SERVE_HISTORY_DAYS = 21
INVALID_DATES = ("2025-02-30", "2025-13-01", "20250301", "2025-3-1")
SERVE_RATE = 2.0  # requests/s in the open loop: below the closed-loop capacity
# One cycle of request kinds, repeated: the mix is the same for every seed.
# Only the query is sourced: /errors_by_endpoint for one date is the
# reference's benchmark query (BASELINE.md). Its share, and the shares of
# the other kinds, are this benchmark's assumptions.
SERVE_CYCLE = ("errors", "top", "errors", "errors", "dashboard", "errors", "top", "errors",
               "invalid", "errors")


def serve_inputs(work, seed, seconds):
    """History with volume growing toward recent days, and the request
    streams: kinds in a fixed rotation, dates skewed to recent, limits
    1..100, one request in ten on an invalid date."""
    days = loggen.days_from(BACKFILL_START, SERVE_HISTORY_DAYS)
    sizes = [300 + 60 * i for i in range(len(days))]
    text, tally = loggen.render(seed, list(zip(days, sizes)))
    write_text(f"{work}/raw/history.log", text)
    rng = random.Random(f"serve:{seed}")
    weights = [(i + 1) ** 2 for i in range(len(days))]

    def url(i):
        kind = SERVE_CYCLE[i % len(SERVE_CYCLE)]
        if kind == "invalid":
            return f"/errors_by_endpoint?date={rng.choice(INVALID_DATES)}"
        date = rng.choices(days, weights=weights)[0].isoformat()
        if kind == "errors":
            return f"/errors_by_endpoint?date={date}"
        if kind == "top":
            return f"/top_endpoints?date={date}&limit={rng.randint(1, 100)}"
        return f"/dashboard?date={date}"

    # most of the run is the closed loop: its medians are the bounded ones
    open_s = seconds * 0.35
    write_text(f"{work}/closed.txt", "\n".join(url(i) for i in range(2000)) + "\n")
    write_text(f"{work}/open.txt",
               "\n".join(url(i) for i in range(int(SERVE_RATE * open_s))) + "\n")
    # one closed-loop caller: the server handles one request at a time, so
    # one caller already keeps it busy and each latency is a service time
    return {"closed_clients": 1, "clients": CORES, "rate": SERVE_RATE,
            "closed_s": seconds - open_s,
            "warmup": 20}, tally


def lake_inputs(work, seed, seconds):
    return {"tables": 9, "clients": 400, "rows_per_day": 1200, "initial_days": 3,
            "warmup_ops": 8, "ops": max(20, round(seconds * 1.7)), "maint_every": 10}, None


INPUTS = {"ingest": ingest_inputs, "serve": serve_inputs, "lake": lake_inputs}


# ---------------------------------------------------------------- run

def run_jvm(cp, work, workload, seed, seconds, trace, params):
    java = shutil.which("java") or fail("java not found")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed, pre-touched heap is resident from the start, so VmHWM minus
    # the committed heap is the memory outside the heap (see memory_mb).
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", f"workload={workload}", f"seed={seed}",
            f"seconds={seconds}", f"trace={int(trace)}", f"work={work}", f"cores={CORES}"]
    cmd += [f"{k}={v}" for k, v in params.items()]
    result = os.path.join(work, "result.json")
    if os.path.exists(result):
        os.remove(result)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{workload} did not finish in {JVM_TIMEOUT_S}s, see {log_path}")
    if r.returncode != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{workload} run failed (exit {r.returncode}), see {log_path}")
    with open(result) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check_ingest(res, tallies):
    """Each pipeline run's lake and fact must equal the generator's
    cumulative per-date tallies; returns failures."""
    failures = []
    cum = loggen.Tally()
    states = {s["after"]: s for s in res["states"]}
    for name, tally, _ in tallies:
        cum.merge(tally)
        st = states.get(name)
        if st is None:
            continue  # the run itself failed and is already counted
        want = cum.per_date()
        lake = {d: n for d, n in st["lake"].items()}
        fct = {d: v for d, v in st["fct"].items()}
        if lake != {d: v[0] for d, v in want.items()}:
            failures.append(f"{name}: lake per-date rows differ from the generator's valid lines")
        elif fct != {d: list(v) for d, v in want.items()}:
            failures.append(f"{name}: fact per-date requests/errors differ from the tallies")
    return failures


def _dashboard_failures(url, body, want):
    import re
    dates = re.findall(r'<option value="([0-9-]+)"', body)
    kpi = re.search(r'Requests: (\d+)</span>.*?Errors: (\d+)</span>.*?Error rate: ([0-9.]+)%',
                    body, re.S)
    rows = re.findall(r"<tr><td>([^<]*)</td><td>([^<]*)</td><td>(\d+)</td><td>(\d+)</td>"
                      r"<td>([^<]*)</td></tr>", body)
    if dates != want["dates"] or not kpi:
        return [f"{url}: dashboard date picker or KPI tiles missing"]
    if (int(kpi.group(1)), int(kpi.group(2)), kpi.group(3)) != \
            (want["requests"], want["errors"], want["rate"]):
        return [f"{url}: KPI tiles {kpi.groups()} differ from the tallies"]
    if len(rows) != len(want["rows"]):
        return [f"{url}: {len(rows)} breakdown rows, expected {len(want['rows'])}"]
    for (h, ep, r, e, p95), (wh, wep, wr, we, wp95) in zip(rows, want["rows"]):
        if (h, ep, int(r), int(e)) != (wh, wep, wr, we) or \
                abs(float(p95) - wp95) > 1e-9 * max(1.0, abs(wp95)):
            return [f"{url}: breakdown row {h} {ep} differs from the tallies"]
    return []


def check_serve(res, tally):
    """Every answer against the tallies: a 200 body must equal the
    precomputed one, and a 400 is right only for the invalid dates.
    Returns (failed request count, failure messages)."""
    from urllib.parse import parse_qs, urlparse
    failed, msgs = 0, []
    for url, r in res["urls"].items():
        u = urlparse(url)
        q = {k: v[0] for k, v in parse_qs(u.query).items()}
        date = q.get("date")
        why = []
        if date in INVALID_DATES:
            if r["status"] != 400:
                why = [f"{url}: status {r['status']}, expected 400"]
        elif r["status"] != 200:
            why = [f"{url}: status {r['status']}, expected 200"]
        elif u.path == "/errors_by_endpoint":
            if r["body"] != loggen.errors_by_endpoint_body(tally, date):
                why = [f"{url}: body differs from the tallies"]
        elif u.path == "/top_endpoints":
            if r["body"] != loggen.top_endpoints_body(tally, date, int(q["limit"])):
                why = [f"{url}: body differs from the tallies"]
        else:
            why = _dashboard_failures(url, r["body"], loggen.dashboard_expected(tally, date))
        if why:
            failed += r["count"] - r["mismatched"]
            msgs += why
    return failed, msgs


# ---------------------------------------------------------------- metrics

# the samples that make up each workload's operations, for op_time
OP_SAMPLES = {"ingest": ("backfill_ms", "nightly_ms"),
              "serve": ("closed_ms",),
              "lake": ("write_ms", "read_ms", "checkpoint_ms", "compact_ms", "vacuum_ms")}


def op_time(workload, res):
    """(operations, their summed latency in ms) in the timed region: the
    time the operations themselves took, without the output checks and
    the benchmark's bookkeeping between them. Serve counts its closed
    loop, whose requests are service times."""
    xs = [x for k in OP_SAMPLES[workload] for x in res["samples"].get(k, [])]
    return len(xs), sum(xs)


def memory_mb(res):
    """The memory the program holds, in MB: the heap still live after a
    full collection at the end of the run, plus the peak resident memory
    outside the heap (VmHWM minus the committed heap; the fixed,
    pre-touched heap is resident throughout). Peaks of heap use are left
    out: they follow the collector's timing, not the program's data."""
    return res["heap_live_mb"] + res["rss_peak_mb"] - res["heap_committed_mb"]


def end_to_end(workload, res, tallies):
    """(the bounded end-to-end metrics, the workload's own named metrics).

    Every workload reports the same five bounded metrics; what each one
    measures on each workload is listed in perfbench/README.md. The named
    metrics add the tails, each at the highest percentile that has at
    least ten samples beyond it, with its sample count."""
    s, v = res["samples"], res["values"]
    named = {}

    def latency(prefix, xs, unit_scale=1.0, unit="ms"):
        q, tail = stats.tail(xs)
        named[f"{prefix}_p50_{unit}"] = (stats.median(xs) * unit_scale, unit)
        named[f"{prefix}_p{q:g}_{unit}"] = (tail * unit_scale, unit)
        named[f"{prefix}_samples"] = (len(xs), "count")

    n_ops, ms = op_time(workload, res)
    if workload == "ingest":
        named["ingest_backfill_lines_per_s"] = (tallies[0][2] / (s["backfill_ms"][0] / 1e3), "1/s")
        latency("ingest_nightly", s["nightly_ms"], 1e-3, "s")
        # raw lines over every LogPipeline.run, backfill and nightlies
        e2e = {"throughput_per_s": sum(t[2] for t in tallies) / (ms / 1e3),
               "p50_ms": stats.median(s["nightly_ms"])}
    elif workload == "serve":
        rps = len(s["closed_ms"]) / v["closed_wall_s"]
        named["serve_rps"] = (rps, "1/s")
        latency("serve", s["open_ms"])
        latency("serve_closed", s["closed_ms"])
        named["serve_open_rate_per_s"] = (SERVE_RATE, "1/s")
        named["serve_lateness_p50_ms"] = (stats.median(s["lateness_ms"]), "ms")
        named["serve_lateness_max_ms"] = (max(s["lateness_ms"]), "ms")
        # the bounded median is the service time of the reference's own
        # benchmark query, /errors_by_endpoint on a valid date: the
        # closed-loop median of one kind. The open-loop median from due
        # time is serve_p50_ms above.
        latency("serve_closed_errors_by_endpoint", s["closed_ms.errors_by_endpoint"])
        e2e = {"throughput_per_s": rps, "p50_ms": stats.median(s["closed_ms.errors_by_endpoint"])}
    else:
        latency("lake_write", s["write_ms"])
        latency("lake_read", s["read_ms"])
        named["lake_maint_s"] = (sum(sum(s.get(k, [])) for k in
                                     ("checkpoint_ms", "compact_ms", "vacuum_ms")) / 1e3, "s")
        # operations, maintenance included, per second of operation time
        e2e = {"throughput_per_s": n_ops / (ms / 1e3), "p50_ms": stats.median(s["write_ms"])}
    bytes_per_row = v.get("stored_bytes", 0) / max(1, v.get("stored_rows", 0))
    named[f"{workload}_bytes_per_row"] = (bytes_per_row, "B")
    named["rss_peak_mb"] = (res["rss_peak_mb"], "MB")
    named["heap_live_mb"] = (res["heap_live_mb"], "MB")
    e2e.update({"setup_s": (res["timed_start_ms"] - res["process_start_ms"]) / 1e3,
                "memory_mb": memory_mb(res), "bytes_per_row": bytes_per_row})
    named.update({k: (x, "s") for k, x in v.items() if k.startswith("setup.")})
    return e2e, named


def per_layer(workload, res, untraced, tallies):
    """Every per-layer metric; 0 where the workload does not run the layer."""
    s, v = res["samples"], res["values"]
    out = {k: 0.0 for k in PER_LAYER}
    site = v.get("exec.by_site", {})

    def site_v(f, k):
        return float(site.get(f, {}).get(k, 0.0))

    def p50(name):
        return stats.median(s[name]) if s.get(name) else 0.0

    for k in ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
              "catalyst.queries", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
              "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
              "jvm.gc_s", "jvm.jit_s", "jvm.codegen_compiles", "trace.uncovered_s"):
        out[k] = float(v.get(k, 0.0))
    for layer, t in v.get("trace.self_s", {}).items():
        if layer in LAYERS:
            out[f"trace.self.{layer}_s"] = float(t)
    # the time tracing added to the traced run's operations: its summed
    # operation time minus the same number of operations at the untraced
    # run's mean (for serve's fixed-length phases the counts differ)
    n, ms = op_time(workload, res)
    out["trace.overhead_s"] = (ms - n * untraced["op_ms"] / max(1, untraced["ops"])) / 1e3
    spans = res["spans"]
    resolve = [(e - b) for _, _, name, b, e, _ in spans if name == "sources.meta.resolve"]
    out["sources.meta.resolve_ms"] = stats.median(resolve) if resolve else 0.0
    if workload == "ingest":
        lines = sum(t[2] for t in tallies)
        kept = sum(t[1].valid for t in tallies)
        out.update({
            "logs.parse.task_s": float(v.get("exec.text_scan_task_s", 0.0)),
            "logs.parse.lines_in": float(lines), "logs.parse.kept_ratio": kept / lines,
            "logs.lake.write_s": site_v("LogLake.scala", "wall_s"),
            "logs.lake.files": float(v["logs.lake.files"]),
            "logs.lake.bytes_written": site_v("LogLake.scala", "output_bytes"),
            "logs.models.s": site_v("LogPipeline.scala", "wall_s"),
            "logs.models.shuffle_bytes": site_v("LogPipeline.scala", "shuffle_write_bytes"),
            "logs.quality.s": site_v("LogQuality.scala", "wall_s"),
            "logs.quality.jobs": site_v("LogQuality.scala", "jobs"),
            "logs.driver_s": out["trace.self.logs_s"]})
    elif workload == "serve":
        requests = len(s["closed_ms"]) + len(s["open_ms"])
        out.update({
            # service times from the closed loop, which has most of the requests
            "serve.errors_by_endpoint.p50_ms": p50("closed_ms.errors_by_endpoint"),
            "serve.top_endpoints.p50_ms": p50("closed_ms.top_endpoints"),
            "serve.dashboard.p50_ms": p50("closed_ms.dashboard"),
            "serve.queries_per_request": v.get("catalyst.queries", 0) / requests,
            # client latency minus the Spark query time spent on its behalf
            "serve.queue_ms": (sum(s["closed_ms"]) + sum(s["open_ms"])
                               - v.get("catalyst.exec_ms", 0.0)) / requests})
    elif workload == "lake":
        out.update({
            "sources.commit.append.p50_ms": p50("sources.commit.append"),
            "sources.commit.delete.p50_ms": p50("sources.commit.delete"),
            "sources.commit.merge.p50_ms": p50("sources.commit.merge"),
            "sources.commit.update.p50_ms": p50("sources.commit.update"),
            "sources.commit.fs_ops": float(v.get("fs.namespace_ops", 0.0)),
            "sources.write_amp": v.get("fs.bytes_written", 0.0) / max(1, v["appended_user_bytes"]),
            "sources.meta.files_read_ratio": float(v["sources.meta.files_read_ratio"]),
            "sources.meta.segments": float(v["segments"]),
            "sources.maint.checkpoint_s": sum(s.get("checkpoint_ms", [])) / 1e3,
            "sources.maint.compact_s": sum(s.get("compact_ms", [])) / 1e3,
            "sources.maint.vacuum_s": sum(s.get("vacuum_ms", [])) / 1e3,
            "sources.maint.bytes_rewritten": float(v["sources.maint.bytes_rewritten"]),
            "sources.maint.files_deleted": float(v["sources.maint.files_deleted"]),
            "plans.aligned.fired": float(v["plans.aligned.fired"]),
            "plans.aligned.exchanges": float(v["plans.aligned.exchanges"])})
    return out


def execute(cp, workload, seed, seconds, trace):
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    start_ms = time.time() * 1000.0
    params, tallies = INPUTS[workload](work, seed, seconds)
    res = run_jvm(cp, work, workload, seed, seconds, trace, params)
    res["process_start_ms"] = start_ms
    failures = list(res["failures"])
    failed = res["failed"]
    if workload == "ingest":
        extra = check_ingest(res, tallies)
        failed += len(extra)
    elif workload == "serve":
        n, extra = check_serve(res, tallies)
        failed += n
    else:
        extra = []
    failures += extra
    if trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{workload}-seed{seed}.json"), "w") as f:
            json.dump({"spans": res["spans"], "values": res["values"]}, f)
    shutil.rmtree(work, ignore_errors=True)
    return res, tallies, failed, failures


def untraced_record(workload, seed, seconds):
    """Where an untraced run keeps its timed region for a later traced run
    of the same build, workload, seed and length."""
    d = os.path.join(BUILD, "untraced")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{workload}-{seed}-{seconds}-{source_stamp()[:16]}.json")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    cp = build()
    if a.trace:
        # the tracing overhead needs this seed's untraced timed wall: taken
        # from an earlier untraced run of the same build, or run now
        record = untraced_record(a.workload, a.seed, a.seconds)
        if os.path.exists(record):
            with open(record) as f:
                untraced, failed, failures, attempted = json.load(f), 0, [], 0
        else:
            res, _, failed, failures = execute(cp, a.workload, a.seed, a.seconds, False)
            n, ms = op_time(a.workload, res)
            untraced, attempted = {"ops": n, "op_ms": ms}, res["attempted"]
        traced, tallies, t_failed, t_failures = execute(cp, a.workload, a.seed, a.seconds, True)
        failed += t_failed
        failures += t_failures
        attempted += traced["attempted"]
        metrics = {k: {"value": val, "unit": unit_of(k)}
                   for k, val in per_layer(a.workload, traced, untraced, tallies).items()}
        detail = {"self_s": traced["values"].get("trace.self_s", {}),
                  "by_site": traced["values"].get("exec.by_site", {})}
    else:
        res, tallies, failed, failures = execute(cp, a.workload, a.seed, a.seconds, False)
        attempted = res["attempted"]
        if failed == 0:
            with open(untraced_record(a.workload, a.seed, a.seconds), "w") as f:
                n, ms = op_time(a.workload, res)
                json.dump({"ops": n, "op_ms": ms}, f)
        e2e, named = end_to_end(a.workload, res, tallies)
        metrics = {k: {"value": val, "unit": END_TO_END_UNITS[k]} for k, val in e2e.items()}
        detail = {k: {"value": val, "unit": unit} for k, (val, unit) in named.items()}
    for f in failures[:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written") or name.endswith("bytes_rewritten"):
        return "B"
    if name.endswith("_ratio") or name.endswith("write_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
