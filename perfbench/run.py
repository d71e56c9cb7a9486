#!/usr/bin/env python3
"""Repo benchmark: closed-loop, single-client timing of the declared queries.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

The first call in a checkout compiles the engine (src/main/scala) together
with the harness (perfbench/src) into .bench_build/; later calls reuse that
build while the sources are unchanged.  One call starts one JVM running one
workload (see perfbench/README.md): set-up, an untimed warm-up at the small
scale, the first pass at the target scale, then steady passes until the
measuring window is spent.  Every query run's output fingerprint is checked
against the run's first pass and against perfbench/expected.json.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}.  With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones.  The line before it is the full run record,
and the trace of a traced run (raw spans plus a row per query run) is
written to .bench_build/perfbench/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
OUT = os.path.join(BUILD, "perfbench")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Every workload warms up on the small fixture and times the larger one.
WARM, TARGET = "sf0.001", "sf0.01"
# A run in which the hypervisor stole more than this share of the CPU is
# measured once more when the time limit allows (see main_run).
STEAL_LIMIT = 0.08
RUN_BUDGET_S = 170
# Steady passes per run: the median then always covers the second and
# third, after the steepest JIT settling; the smallest workload (4
# queries) gives query_tail_ms 16 samples, ten of them beyond p37.5.
STEADY_PASSES = 4

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = [
    ("setup_s", "s"), ("first_pass_s", "s"), ("steady_pass_s", "s"),
    ("query_p50_ms", "ms"), ("peak_rss_mb", "MB"),
]

PER_LAYER = [
    ("queries.construct_ms", "ms"), ("queries.construct_jobs", "count"),
    ("queries.construct_job_ms", "ms"), ("queries.construct_self_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimize_ms", "ms"),
    ("catalyst.plan_ms", "ms"),
    ("exec.force_ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.skipped_stages", "count"), ("exec.tasks", "count"),
    ("exec.failed_tasks", "count"), ("exec.task_run_ms", "ms"),
    ("exec.task_cpu_ms", "ms"), ("exec.sched_delay_ms", "ms"),
    ("exec.gc_ms", "ms"), ("exec.parallelism", "ratio"),
    ("exec.scan_stage_tasks", "count"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.output_bytes", "bytes"),
    ("sources.input_bytes", "bytes"), ("sources.input_rows", "rows"),
    ("streaming.batches", "count"), ("streaming.batch_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.lifecycle_ms", "ms"),
    ("streaming.input_rows", "rows"), ("streaming.state_rows", "rows"),
    ("streaming.state_bytes", "bytes"), ("streaming.rows_per_s", "1/s"),
    ("scratch.builds", "count"), ("scratch.rebuilds", "count"),
    ("scratch.bytes_written", "bytes"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_after_gc_mb", "MB"),
    ("trace.overhead_frac", "frac"),
]


class BenchError(Exception):
    pass


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def jars_dir():
    """The Spark jars directory the project builds against (build.sbt)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BenchError("build.sbt not found: run from the root of a checkout")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "scala-compiler-*.jar")):
        raise BenchError(f"no Spark/Scala jars in {d}")
    return d


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise BenchError("no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build():
    """Compile engine + harness with scalac; reuse while sources match."""
    jars = jars_dir()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log = os.path.join(BUILD, "build.log")
    cmd = [java(), "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    with open(log, "w") as lf:
        rc = run_child(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"build failed (exit {rc}), see {log}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"{os.path.basename(cmd[0])} timed out after {timeout}s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- plan

def plan(workload, fixture_scale=None):
    """Queries, scales and dataset of one run.  The dataset names the
    expected fingerprints: the target fixture, or etl_scale for the
    replicated copy."""
    spec = load_json("workloads.json")["workloads"].get(workload)
    if spec is None:
        raise BenchError(f"unknown workload {workload}")
    replicate = spec.get("replicate")
    p = {"queries": list(spec["queries"]), "warm": WARM, "target": TARGET,
         "replicate": replicate, "dataset": "etl_scale" if replicate else TARGET}
    if fixture_scale:
        p.update(warm=fixture_scale, target=fixture_scale, replicate=None, dataset=fixture_scale)
    return p


# ---------------------------------------------------------------- run

def jvm(work, main, args, timeout):
    """Run one harness-classpath JVM with its scratch, temp dir and working
    directory inside `work`; its output goes to work/jvm.log.  Returns the
    launch time in epoch ms, taken after any build."""
    classes, jars = build()
    for d in ("scratch", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # A fixed, pre-touched heap: no resizing or first-touch faults inside
    # the timed passes.  peak_rss_mb therefore counts the heap in use, not
    # the resident heap (see peak_rss_mb).
    # No hsperfdata file, which the JVM would write outside the checkout.
    cmd = [java(), "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), main] + args
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"))
    log = os.path.join(work, "jvm.log")
    launched_ms = time.time() * 1000
    with open(log, "w") as lf:
        rc = run_child(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=timeout,
                       cwd=work, env=env)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"{main} failed (exit {rc}), see {log}")
    return launched_ms


def harness_args(p, seed, seconds, trace, work, min_steady):
    fixtures = os.path.join(HERE, "fixtures")
    target = os.path.join(fixtures, p["target"])
    args = ["--queries", ",".join(p["queries"]),
            "--warm-dir", os.path.join(fixtures, p["warm"]),
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0",
            "--cpus", str(len(os.sched_getaffinity(0))),
            "--min-steady", str(min_steady),
            "--out", os.path.join(work, "record.json")]
    if p["replicate"]:
        r = p["replicate"]
        args += ["--replicate-from", target, "--replicate-mult", str(r["mult"]),
                 "--replicate-files", str(r["files"]),
                 "--replicate-tables", ",".join(r["tables"])]
        target = os.path.join(work, "inputs")
    return args + ["--target-dir", target]


def run_jvm(workload, seed, seconds, trace, p, min_steady=STEADY_PASSES, timeout=JVM_TIMEOUT_S):
    tag = f"{workload}-seed{seed}-trace{int(trace)}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    launched_ms = jvm(work, "perfbench.Harness",
                      harness_args(p, seed, seconds, trace, work, min_steady), timeout)
    with open(os.path.join(work, "record.json")) as f:
        rec = json.load(f)
    rec["launched_ms"] = launched_ms
    shutil.move(os.path.join(work, "record.json"), os.path.join(OUT, f"record-{tag}.json"))
    shutil.rmtree(work, ignore_errors=True)
    return rec


# ---------------------------------------------------------------- check

def check(rec, expected):
    """Mark each query run ok only if it ran, matches the first pass, and
    matches the expected fingerprint kept with the benchmark."""
    first = {}
    for r in rec["runs"]:
        if r["pass"] == 0 and r["ok"]:
            first[r["query"]] = (r["hash"], r["rows"])
    failures = []
    for r in rec["runs"]:
        why = None
        got = (r["hash"], r["rows"])
        want = expected.get(r["query"])
        if not r["ok"]:
            why = r["error"]
        elif got != first.get(r["query"]):
            why = f"pass {r['pass']} output {got} differs from first pass {first.get(r['query'])}"
        elif want is None:
            why = "no expected fingerprint"
        elif got != (want["hash"], want["rows"]):
            why = f"output {got} differs from expected ({want['hash']}, {want['rows']})"
        r["checked"] = why is None
        if why:
            failures.append({"id": r["id"], "why": why})
    return failures


# ---------------------------------------------------------------- reduce

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec, failures):
    passes = rec["passes"]
    steady = [p for p in passes if p["pass"] > 0]
    untraced = [p for p in steady if not p["traced"]] or steady
    steady_ids = {p["pass"] for p in untraced}
    steady_runs = [r for r in rec["runs"] if r["pass"] in steady_ids and r["checked"]]
    lat = sorted(r["wall_ms"] for r in steady_runs)
    by_query = {}
    for r in steady_runs:
        by_query.setdefault(r["query"], []).append(r["wall_ms"])
    n = len(lat)
    tail_idx = max(0, n - 11)
    m = {
        "setup_s": (rec["setup_end_ms"] - rec["launched_ms"]) / 1000,
        "first_pass_s": passes[0]["wall_ms"] / 1000,
        "steady_pass_s": median([p["wall_ms"] for p in untraced]) / 1000,
        # The median over the queries of each one's median: a median over
        # all samples would fall between two queries of different cost
        # and follow whichever of them drifted.
        "query_p50_ms": median([median(v) for v in by_query.values()]),
        "peak_rss_mb": peak_rss_mb(rec["memory"]),
    }
    attempted = len(rec["runs"])
    info = {
        "query_fail_frac": len(failures) / attempted if attempted else 1.0,
        "samples": {"setup_s": 1, "first_pass_s": 1, "steady_pass_s": len(untraced),
                    "query_p50_ms": n, "query_tail_ms": n},
        # With 16-32 steady samples a run, the highest percentile with ten
        # samples beyond it is p37.5-p69: reported here, not as a metric.
        "query_tail_ms": {"value": lat[tail_idx] if lat else 0.0, "unit": "ms",
                          "pct": round(100.0 * (tail_idx + 1) / n, 2) if n else None, "n": n},
    }
    return m, info


def peak_rss_mb(mem):
    """The driver's peak resident memory less the pre-touched heap, plus
    the largest heap in use after a collection: what the program needs,
    rather than the 2 GiB the harness reserves and touches whatever the
    program uses."""
    return mem["vm_hwm_mb"] - mem["heap_committed_mb"] + mem["heap_live_peak_mb"]


def scratch_per_pass(rec):
    """New `_SUCCESS` markers and tree growth under Scratch.runRoot in each
    pass, from the walks the harness makes at every pass boundary."""
    prev = rec["scratch_start"]
    out = []
    for p in rec["passes"]:
        out.append((p["scratch_markers"] - prev["scratch_markers"],
                    p["scratch_bytes"] - prev["scratch_bytes"]))
        prev = p
    return out


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def per_query_rows(rec):
    """Reduce the raw spans of a traced run to one row per query run."""
    t = rec["trace"]
    runs = {r["id"]: r for r in rec["runs"]}
    spans = sorted(t["queries"], key=lambda q: q["start_ms"])
    stage_by_id = {}
    for s in t["stages"]:
        stage_by_id.setdefault(s["stage"], []).append(s)

    def owner(ms):
        for q in spans:
            if q["start_ms"] <= ms <= q["end_ms"]:
                return q["id"]
        return None

    def phase_of(q, ms):
        if ms <= (q["construct_end_ms"] or q["end_ms"]):
            return "construct"
        if ms <= (q["catalyst_end_ms"] or q["end_ms"]):
            return "catalyst"
        return "exec"

    rows = {q["id"]: new_row(q, runs.get(q["id"], {})) for q in spans}
    qby = {q["id"]: q for q in spans}
    for j in t["jobs"]:
        end = j["end_ms"] if j["end_ms"] is not None else j["start_ms"]
        if j["label"]:
            qid, phase = j["label"].rsplit("|", 1)
        else:
            qid = owner(j["start_ms"])
            phase = phase_of(qby[qid], j["start_ms"]) if qid else None
        if qid not in rows:
            continue
        row = rows[qid]
        row["_jobs"].append((phase, j["start_ms"], end))
        ran = []
        for sid in j["stage_ids"]:
            attempts = [s for s in stage_by_id.get(sid, [])
                        if s["submit_ms"] is not None and j["start_ms"] <= s["submit_ms"] <= end + 1]
            if not attempts:
                if phase == "exec":
                    row["exec.skipped_stages"] += 1
                continue
            ran.extend(attempts)
        for s in ran:
            row["sources.input_bytes"] += s.get("input_bytes", 0)
            row["sources.input_rows"] += s.get("input_rows", 0)
            # Sinks write while the DataFrame is built, so output counts
            # every phase.
            row["exec.output_bytes"] += s.get("output_bytes", 0)
            if phase != "exec":
                continue
            row["exec.stages"] += 1
            row["exec.tasks"] += s.get("tasks", 0)
            row["exec.failed_tasks"] += s.get("failed", 0)
            row["exec.task_run_ms"] += s.get("run_ms", 0)
            row["exec.task_cpu_ms"] += s.get("cpu_ms", 0)
            row["exec.sched_delay_ms"] += s.get("sched_delay_ms", 0)
            row["exec.gc_ms"] += s.get("gc_ms", 0)
            row["exec.shuffle_write_bytes"] += s.get("shuffle_write_bytes", 0)
            row["exec.shuffle_read_bytes"] += s.get("shuffle_read_bytes", 0)
            row["exec.spill_bytes"] += s.get("spill_bytes", 0)
            if s.get("input_bytes", 0) > 0:
                row["_scan_tasks"].append(s.get("tasks", 0))
    starts = {s["run_id"]: s for s in t["stream_starts"]}
    ends = {e["run_id"]: e["end_ms"] for e in t["stream_ends"]}
    by_stream = {}
    for b in t["batches"]:
        by_stream.setdefault(b["run_id"], []).append(b)
    for run_id, st in starts.items():
        qid = owner(st["start_ms"])
        if qid not in rows:
            continue
        row = rows[qid]
        bs = by_stream.get(run_id, [])
        batch_ms = sum(b["batch_ms"] for b in bs)
        row["streaming.batches"] += len(bs)
        row["streaming.batch_ms"] += batch_ms
        for k in ("add_batch_ms", "planning_ms", "wal_commit_ms", "input_rows"):
            row["streaming." + k] += sum(b[k] for b in bs)
        if bs:
            last = max(bs, key=lambda b: b["batch"])
            row["streaming.state_rows"] += last["state_rows"]
            row["streaming.state_bytes"] += last["state_bytes"]
        end = ends.get(run_id, bs[-1]["start_ms"] + bs[-1]["batch_ms"] if bs else st["start_ms"])
        row["streaming.lifecycle_ms"] += max(0.0, end - st["start_ms"] - batch_ms)
        row["_batches"].extend((b["start_ms"], b["start_ms"] + b["batch_ms"]) for b in bs)
    for qid, row in rows.items():
        q = qby[qid]
        c_end = q["construct_end_ms"] if q["construct_end_ms"] is not None else q["end_ms"]
        cjobs = [(a, b) for ph, a, b in row["_jobs"] if ph == "construct"]
        row["queries.construct_jobs"] = len(cjobs)
        row["queries.construct_job_ms"] = union_ms(cjobs, q["start_ms"], c_end)
        row["queries.construct_self_ms"] = row["queries.construct_ms"] - union_ms(
            cjobs + row["_batches"], q["start_ms"], c_end)
        row["exec.jobs"] = sum(1 for ph, _, _ in row["_jobs"] if ph == "exec")
        row["exec.scan_stage_tasks"] = (statistics.mean(row["_scan_tasks"])
                                        if row["_scan_tasks"] else 0.0)
        for k in ("_jobs", "_batches", "_scan_tasks"):
            del row[k]
    return list(rows.values())


def new_row(q, run):
    def span(a, b):
        return (b - a) if a is not None and b is not None else 0.0
    ph = q.get("phases") or {}
    row = {"id": q["id"], "query": run.get("query"), "pass": run.get("pass"),
           "ok": run.get("checked", False),
           "queries.construct_ms": span(q["start_ms"], q["construct_end_ms"]),
           "catalyst.analysis_ms": ph.get("analysis", 0.0),
           "catalyst.optimize_ms": ph.get("optimization", 0.0),
           "catalyst.plan_ms": ph.get("planning", 0.0),
           "exec.force_ms": span(q["catalyst_end_ms"], q["exec_end_ms"]),
           "scratch.new_markers": max(0, q["scratch_markers_after"] - q["scratch_markers_before"]),
           "scratch.bytes_written": max(0, q["scratch_bytes_after"] - q["scratch_bytes_before"]),
           "_jobs": [], "_batches": [], "_scan_tasks": []}
    for name, _ in PER_LAYER:
        row.setdefault(name, 0)
    return row


SUMMED = [n for n, _ in PER_LAYER if n not in (
    "exec.parallelism", "exec.scan_stage_tasks", "streaming.rows_per_s",
    "scratch.builds", "scratch.rebuilds", "scratch.bytes_written",
    "jvm.gc_ms", "jvm.heap_after_gc_mb", "trace.overhead_frac")]


def per_layer(rec, rows):
    passes = {p["pass"]: p for p in rec["passes"]}
    traced_steady = sorted(p for p, v in passes.items() if p > 0 and v["traced"])
    untraced = [v["wall_ms"] for p, v in passes.items() if p > 0 and not v["traced"]]
    by_pass = {}
    for r in rows:
        by_pass.setdefault(r["pass"], []).append(r)
    sums = []
    for p in traced_steady:
        rs = by_pass.get(p, [])
        s = {k: sum(r[k] for r in rs) for k in SUMMED}
        s["exec.parallelism"] = (s["exec.task_run_ms"] / s["exec.force_ms"]
                                 if s["exec.force_ms"] else 0.0)
        scans = [r["exec.scan_stage_tasks"] for r in rs if r["exec.scan_stage_tasks"]]
        s["exec.scan_stage_tasks"] = statistics.median(scans) if scans else 0.0
        s["streaming.rows_per_s"] = (s["streaming.input_rows"] / (s["streaming.batch_ms"] / 1000)
                                     if s["streaming.batch_ms"] else 0.0)
        s["jvm.gc_ms"] = passes[p]["gc_ms"]
        s["jvm.heap_after_gc_mb"] = passes[p]["heap_after_gc_mb"]
        sums.append(s)
    m = {k: median([s[k] for s in sums]) for k in sums[0]} if sums else {}
    scratch = scratch_per_pass(rec)
    m["scratch.builds"], m["scratch.bytes_written"] = (max(0, x) for x in scratch[0])
    m["scratch.rebuilds"] = sum(max(0, n) for n, _ in scratch[1:])
    traced_walls = [passes[p]["wall_ms"] for p in traced_steady]
    m["trace.overhead_frac"] = (median(traced_walls) / median(untraced) - 1
                                if traced_walls and untraced else 0.0)
    return {k: m.get(k, 0.0) for k, _ in PER_LAYER}


def metrics_json(values, units):
    return {k: {"value": values[k], "unit": u} for k, u in units}


def steal_frac(rec):
    """Share of CPU time the host gave to other guests during the run."""
    a, b = rec["telemetry_start"], rec["telemetry_end"]
    total = b["cpu_total_jiffies"] - a["cpu_total_jiffies"]
    return (b["cpu_steal_jiffies"] - a["cpu_steal_jiffies"]) / total if total > 0 else 0.0


def evaluate(workload, seed, rec, expected, trace):
    failures = check(rec, expected)
    e2e, info = end_to_end(rec, failures)
    record = {"workload": workload, "seed": seed, "trace": int(trace),
              "metrics": metrics_json(e2e, END_TO_END),
              "query_fail_frac": info["query_fail_frac"],
              "query_tail_ms": info["query_tail_ms"], "samples": info["samples"],
              "passes": len(rec["passes"]), "warm_failures": rec["warm_failures"],
              "cpus": rec["cpus"], "telemetry_start": rec["telemetry_start"],
              "telemetry_end": rec["telemetry_end"], "cpu_steal_frac": steal_frac(rec),
              "failures": failures[:20]}
    layer, rows = None, None
    if trace:
        rows = per_query_rows(rec)
        layer = per_layer(rec, rows)
        record["per_layer"] = metrics_json(layer, PER_LAYER)
    result = {"correct": not failures and rec["warm_failures"] == 0,
              "attempted": len(rec["runs"]), "failed": len(failures),
              "metrics": metrics_json(layer, PER_LAYER) if trace else metrics_json(e2e, END_TO_END)}
    return record, result, rows


def expected_for(dataset):
    return load_json("expected.json").get(dataset, {})


def main_run(a):
    """One measured run.  A run during which the hypervisor stole more than
    STEAL_LIMIT of the CPU measured the host, not the program: it is
    discarded and measured once more if the time limit allows another run
    as long as it took.  The second run is reported whatever its steal,
    and the run record lists the discarded one."""
    p = plan(a.workload)
    began = time.time()
    discarded = []
    timeout = JVM_TIMEOUT_S
    while True:
        t = time.time()
        rec = run_jvm(a.workload, a.seed, a.seconds, a.trace, p, timeout=timeout)
        took, steal = time.time() - t, steal_frac(rec)
        timeout = RUN_BUDGET_S - (time.time() - began)
        if steal <= STEAL_LIMIT or discarded or timeout < 1.25 * took:
            break
        discarded.append({"cpu_steal_frac": steal, "wall_s": round(took, 1)})
        print(f"perfbench: {steal:.1%} CPU steal, measuring again", file=sys.stderr)
    record, result, rows = evaluate(a.workload, a.seed, rec, expected_for(p["dataset"]), a.trace)
    record["discarded_for_steal"] = discarded
    if a.trace:
        path = os.path.join(OUT, f"trace-{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump({"record": record, "rows": rows, "raw": rec}, f)
        record["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps({"run_record": record}))
    print(json.dumps(result))


def self_test():
    """A tiny seeded traced pass per workload at the smallest fixture:
    every metric is printed with its unit, the outputs check clean, and a
    deliberately wrong expected fingerprint is counted as a failure."""
    problems = []
    units = dict(END_TO_END + PER_LAYER)
    workloads = load_json("workloads.json")["workloads"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for key, listed in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        if [(m["name"], m["unit"]) for m in bench[key]] != listed:
            problems.append(f"BENCHMARK.json {key} differs from run.py")
    if [w["name"] for w in bench["workloads"]] != list(workloads):
        problems.append("BENCHMARK.json workloads differ from workloads.json")
    # A fingerprint whose count of rows is not 0 must depend on the rows.
    for dataset, fps in load_json("expected.json").items():
        for q, fp in fps.items():
            if fp["rows"] > 0 and fp["hash"].split("/")[-1] == "0":
                problems.append(f"expected.json {dataset} {q}: hash {fp['hash']} "
                                f"ignores its {fp['rows']} rows")
    for w in workloads:
        p = plan(w, fixture_scale="sf0.001")
        rec = run_jvm(w, 1, 0, True, p)
        expected = expected_for("sf0.001")
        record, result, _ = evaluate(w, 1, json.loads(json.dumps(rec)), expected, True)
        e2e = record["metrics"]
        for name, unit in END_TO_END:
            if e2e.get(name, {}).get("unit") != unit:
                problems.append(f"{w}: end-to-end {name} missing")
        for name, metric in result["metrics"].items():
            if metric["unit"] != units[name]:
                problems.append(f"{w}: {name} unit {metric['unit']}")
        if set(result["metrics"]) != {n for n, _ in PER_LAYER}:
            problems.append(f"{w}: per-layer metric set differs")
        if result["failed"] or not result["correct"]:
            problems.append(f"{w}: clean run reported failures {record['failures'][:3]}")
        victim = p["queries"][0]
        wrong = dict(expected, **{victim: {"hash": "0/1", "rows": expected[victim]["rows"]}})
        _, bad, _ = evaluate(w, 1, json.loads(json.dumps(rec)), wrong, True)
        n_victim = sum(1 for r in rec["runs"] if r["query"] == victim)
        if bad["failed"] != n_victim or bad["correct"]:
            problems.append(f"{w}: wrong fingerprint for {victim} gave {bad['failed']} "
                            f"failures, want {n_victim}")
        print(json.dumps({"workload": w, "attempted": result["attempted"],
                          "failed": result["failed"], "wrong_fingerprint_failed": bad["failed"]}))
    for pr in problems:
        print("SELF-TEST FAIL: " + pr, file=sys.stderr)
    print(json.dumps({"self_test": "fail" if problems else "pass", "problems": len(problems)}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    try:
        os.makedirs(OUT, exist_ok=True)
        if a.self_test:
            return self_test()
        if not a.workload:
            ap.error("--workload is required")
        main_run(a)
        return 0
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
