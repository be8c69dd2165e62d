#!/usr/bin/env python3
"""Benchmark of the minibatch streaming path (append → buffer → emitter →
emit fn → sink/commit → retention).

    python3 perfbench/run.py --workload stream-live --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
benchmark's JVM side (StreamBench) from source with sbt; later runs reuse
the build while the sources are unchanged. StreamBench writes raw records;
this script computes the metrics, checks the outputs, and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 they are
the per-layer ones, taken from a traced phase that follows an untraced one,
and the spans and counters go to perfbench/out/trace-<workload>-<seed>.json.
The exit code is non-zero when a correctness gate fails.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

OUT = os.path.join(HERE, "out")
BUILD = os.path.join(HERE, ".build")
DEADLINE_S = 170  # a run that has to build gets BUILD_DEADLINE_S more
BUILD_DEADLINE_S = 720
WORKLOADS = ("stream-live", "stream-drain")
LIVE_SIZE = 40    # StreamBench.Live.Size
DRAIN_SIZE = 300  # StreamBench.Drain.Size
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
TRIGGER_KEYS = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                "commitOffsets", "triggerExecution")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ── build ─────────────────────────────────────────────────────────────────

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile the program and StreamBench; returns the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(OUT, "build.log"), "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=BUILD_DEADLINE_S)
        log.write(p.stdout)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or os.path.join(HERE, "target") not in lines[-1]:
        fail(f"build failed (exit {p.returncode}); see {os.path.join(OUT, 'build.log')}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1]


def run_jvm(cp, args, deadline):
    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    records = os.path.join(work, "records.jsonl")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xms1g", "-Xmx1g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
              "perfbench.StreamBench", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), work, records])
    log_path = os.path.join(OUT, f"{args.workload}-jvm.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=log)
            try:
                rc = p.wait(timeout=max(10, deadline - time.time()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"StreamBench exceeded its time; see {log_path}")
        if rc != 0:
            fail(f"StreamBench exited {rc}; see {log_path}")
        with open(records) as fh:
            return [json.loads(x) for x in fh if x.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ── records → metrics ─────────────────────────────────────────────────────

class Run:
    """Indexes the records of one StreamBench run."""

    def __init__(self, recs):
        self.by = defaultdict(list)
        for r in recs:
            self.by[r["kind"]].append(r)
        self.env = self.by["env"][0] if self.by["env"] else {}
        self.appends = defaultdict(dict)  # stream -> seq -> append record
        for a in self.by["a"]:
            self.appends[a["stream"]][a["seq"]] = a
        self.windows = defaultdict(list)  # stream -> windows
        for w in self.by["w"]:
            self.windows[w["stream"]].append(w)

    def phase_span(self, name, phase):
        return [s for s in self.by["span"] if s["name"] == name and s["phase"] == phase]

    def window_phase(self, w):
        return self.appends[w["stream"]][max(w["seqs"])]["phase"]


def ms(us):
    return us / 1000.0


def live_e2e(run, phase):
    """End-to-end figures of one stream-live phase ("plain" or "traced")."""
    stream = run.by["tail"][0]["stream"]
    apps = run.appends[stream]
    wins = [w for w in run.windows[stream] if run.window_phase(w) == phase]
    lat = [ms(w["end_us"] - max(apps[q]["due_us"] for q in w["seqs"])) for w in wins]
    calls = [a for a in apps.values() if a["phase"] == phase]
    busy_s = sum(a["end_us"] - a["start_us"] for a in calls) / 1e6
    burst = next(b for b in run.by["burst"] if b["phase"] == phase)
    bwins = [w for w in run.windows[stream] if run.window_phase(w) == phase + "-burst"]
    out = {
        "emit_latency_p50_ms": stats.percentile(lat, 0.5),
        "emit_latency_p90_ms": stats.percentile(lat, 0.9),
        "append_msgs_per_s": len(calls) / busy_s,
        "drain_msgs_per_s": burst["msgs"] / ((max(w["end_us"] for w in bwins) - burst["ready_us"]) / 1e6),
        "windows": len(wins),
    }
    ret = [r for r in run.by["retention"] if r["phase"] == phase]
    if ret:
        out["retention_sweep_s"] = sum(r["end_us"] - r["start_us"] for r in ret) / 1e6
    return out


def drain_rate(p):
    """Messages per second of one stream-drain pass's drain step."""
    return p["msgs"] / ((p["drain_end_us"] - p["append_end_us"]) / 1e6)


def drain_e2e(run, phase):
    """End-to-end figures of the stream-drain passes of one phase: the
    median over passes, and window latencies pooled across passes."""
    passes = [p for p in run.by["pass"] if p["phase"] == phase]
    ret = {r["stream"]: r for r in run.by["retention"]}
    lat, append, drain, sweep = [], [], [], []
    for p in passes:
        s = p["stream"]
        lat += [ms(w["end_us"] - p["append_end_us"]) for w in run.windows[s]]
        spans = [x for x in run.by["span"] if x["name"] == "MbStream.appendAll" and x.get("stream") == s]
        append.append(p["msgs"] / (sum(x["end_us"] - x["start_us"] for x in spans) / 1e6))
        drain.append(drain_rate(p))
        sweep.append((ret[s]["end_us"] - ret[s]["start_us"]) / 1e6)
    return {
        "emit_latency_p50_ms": stats.percentile(lat, 0.5),
        "emit_latency_p90_ms": stats.percentile(lat, 0.9),
        "append_msgs_per_s": stats.median(append),
        "drain_msgs_per_s": stats.median(drain),
        "retention_sweep_s": stats.median(sweep),
        "windows": len(lat),
        "passes": len(passes),
    }


def e2e(run, workload, phase):
    return (live_e2e if workload == "stream-live" else drain_e2e)(run, phase)


def generator_lateness(run, phase):
    """Open-loop lateness: how long after its due time each append started."""
    late = [ms(a["start_us"] - a["due_us"]) for s in run.appends.values()
            for a in s.values() if a["phase"] == phase and a["due_us"] > 0]
    if not late:
        return {"gen_late_p50_ms": 0.0, "gen_late_p95_ms": 0.0, "gen_late_max_ms": 0.0}
    return {"gen_late_p50_ms": stats.percentile_or_nearest(late, 0.5)[0],
            "gen_late_p95_ms": stats.percentile_or_nearest(late, 0.95)[0],
            "gen_late_max_ms": max(late)}


# ── correctness gates ─────────────────────────────────────────────────────

def gates(run, workload):
    """Returns (checks attempted, failures)."""
    attempted, failures = 0, []

    def check(ok, msg):
        nonlocal attempted
        attempted += 1
        if not ok:
            failures.append(msg)

    size = LIVE_SIZE if workload == "stream-live" else DRAIN_SIZE
    for stream, apps in sorted(run.appends.items()):
        n, f = stats.check_windows(run.windows[stream], {q: a["v"] for q, a in apps.items()}, size)
        attempted += n
        failures += [f"{stream}: {x}" for x in f]
    for s in run.by["setup"]:
        check(s["drained"], f"set-up {s['rep']} did not drain its warm-up")
    for ph in run.by["phase"]:
        check(ph["drained"], f"{ph['phase']} phase did not drain in time")
    for b in run.by["burst"]:
        check(b["drained"], f"{b['phase']} burst did not drain in time")
    for t in run.by["tail"]:
        check(t["appended"] == t["emitted"], f"{t['stream']}: {t['appended']} appended, {t['emitted']} emitted")
    for r in run.by["retention"]:
        check(r["files_after"] == 0 and r["dropped"] == r["files_before"],
              f"{r['stream']}: retention dropped {r['dropped']} of {r['files_before']} files, "
              f"{r['files_after']} left")
    for p in run.by["pass"]:
        s = p["stream"]
        check(p["kept_keys"] == p["msgs"], f"{s}: {p['msgs']} messages, {p['kept_keys']} in history and sink")
        check(p["kept_mismatched"] == 0,
              f"{s}: {p['kept_mismatched']} messages not exactly once in both history and sink")
    if workload == "stream-drain":
        check(any(p["phase"] == "plain" for p in run.by["pass"]), "no measured pass")
    return attempted, failures


# ── traced run: spans and per-layer metrics ───────────────────────────────

def trigger_spans(run, phase_span):
    """Trigger spans from the progress events that started inside the phase."""
    s0, s1 = phase_span["start_us"], phase_span["end_us"]
    out = []
    for p in run.by["p"]:
        start = p["start_ms"] * 1000
        if s0 <= start <= s1:
            d = p["duration_ms"]
            out.append({"name": "trigger", "query": p["query"], "batch": p["batch"], "start_us": start,
                        "end_us": start + d.get("triggerExecution", 0) * 1000, "progress": p})
    return out


def layer_metrics(run, workload):
    phase = "traced"
    pspans = run.phase_span("measure" if workload == "stream-live" else "pass", phase)
    triggers = [t for ps in pspans for t in trigger_spans(run, ps)]
    if workload == "stream-live":
        stream = run.by["tail"][0]["stream"]
        calls = [a for a in run.appends[stream].values() if a["phase"] == phase]
        flush_ms = [ms(a["end_us"] - a["start_us"]) for a in calls if a["flush"]]
        wins = [w for w in run.windows[stream] if run.window_phase(w) == phase]
        rets = [r for r in run.by["retention"] if r["phase"] == phase]
        buf_files, buf_bytes = run.by["tail"][0]["buffer_files"], run.by["tail"][0]["buffer_bytes"]
        workers1 = 0.0
    else:
        passes = [p for p in run.by["pass"] if p["phase"] == phase]
        streams = {p["stream"] for p in passes}
        flush_ms = [ms(x["end_us"] - x["start_us"]) for x in run.by["span"]
                    if x["name"] == "MbStream.appendAll" and x.get("stream") in streams]
        wins = [w for s in streams for w in run.windows[s]]
        rets = [r for r in run.by["retention"] if r["stream"] in streams]
        buf_files = stats.median([p["files"] for p in passes])
        buf_bytes = stats.median([p["buffer_bytes"] for p in passes])
        workers1 = stats.median([drain_rate(p) for p in run.by["pass"] if p["phase"] == "workers1"])
    win_streams = {w["stream"] for w in wins}
    sinks = [x for x in run.by["span"] if x["name"] == "IdempotentTableSink.put"
             and x.get("stream") in win_streams]
    emit_ms = [ms(w["end_us"] - w["start_us"]) for w in wins]
    children = [(w["start_us"], w["end_us"]) for w in wins] + [(x["start_us"], x["end_us"]) for x in sinks]
    add_self_us = 0.0
    for t in triggers:
        covered = (t["end_us"] - t["start_us"]) - stats.self_time((t["start_us"], t["end_us"]), children)
        add_self_us += t["progress"]["duration_ms"].get("addBatch", 0) * 1000 - covered
    rows = [t["progress"]["rows"] for t in triggers if t["progress"]["rows"] > 0]
    backlog = [b["backlog"] for b in run.by["b"] if b["phase"] == phase]
    spark = [c for c in run.by["spark"] if c["phase"] == phase and c["name"] in ("measure", "pass")]
    tot = defaultdict(float)
    for c in spark:
        for k, v in c.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                tot[k] += v
    wall_ms = sum(c["wall_us"] for c in spark) / 1000
    cores = spark[0]["cores"] if spark else 1
    lat = generator_lateness(run, phase)
    m = {
        "MbStream.flush_calls": len(flush_ms),
        "MbStream.flush_p50_ms": stats.percentile_or_nearest(flush_ms, 0.5)[0],
        "MbStream.flush_p95_ms": stats.percentile_or_nearest(flush_ms, 0.95)[0],
        "MbStream.gen_late_p50_ms": lat["gen_late_p50_ms"],
        "MbStream.gen_late_p95_ms": lat["gen_late_p95_ms"],
        "MbStream.buffer_files": buf_files,
        "MbStream.buffer_bytes": buf_bytes,
        "MbStream.retention_files_dropped": sum(r["dropped"] for r in rets),
        "MbStream.retention_ms_per_file": (sum(ms(r["end_us"] - r["start_us"]) for r in rets)
                                           / max(1, sum(r["files_before"] for r in rets))),
        "EmitterRunner.triggers": len(triggers),
        "EmitterRunner.rows_per_trigger_p50": stats.percentile_or_nearest(rows, 0.5)[0],
    }
    for k in TRIGGER_KEYS:
        m[f"EmitterRunner.{k}_ms"] = sum(t["progress"]["duration_ms"].get(k, 0) for t in triggers)
    m.update({
        "EmitterRunner.addBatch_self_ms": add_self_us / 1000,
        "EmitterRunner.state_rows": max([t["progress"]["state_rows"] for t in triggers], default=0),
        "EmitterRunner.state_memory_bytes": max([t["progress"]["state_memory_bytes"] for t in triggers],
                                                default=0),
        "EmitterRunner.state_commit_ms": sum(t["progress"]["state_commit_ms"] for t in triggers),
        "EmitterRunner.windows": len(wins),
        "EmitterRunner.backlog_p95_msgs": stats.percentile_or_nearest(backlog, 0.95)[0],
        "emit.calls": len(emit_ms),
        "emit.busy_ms": sum(emit_ms),
        "emit.p50_ms": stats.percentile_or_nearest(emit_ms, 0.5)[0],
        "emit.jobs_per_window": tot["jobs_emit"] / max(1, len(emit_ms)),
        "emit.workers1_drain_msgs_per_s": workers1,
        "IdempotentTableSink.put_calls": len(sinks),
        "IdempotentTableSink.put_ms": sum(ms(x["end_us"] - x["start_us"]) for x in sinks),
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.failed_tasks": tot["failed_tasks"],
        "spark.task_busy_share": tot["task_run_ms"] / max(1.0, wall_ms * cores),
        "spark.executor_cpu_s": tot["executor_cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1000,
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
    })
    plain, traced = e2e(run, workload, "plain"), e2e(run, workload, "traced")
    m["tracing.overhead_emit_latency_p50"] = (traced["emit_latency_p50_ms"] / plain["emit_latency_p50_ms"] - 1)
    for k in ("append_msgs_per_s", "drain_msgs_per_s"):
        m[f"tracing.overhead_{k.replace('_msgs_per_s', '')}"] = 1 - traced[k] / plain[k]
    return m, triggers, sinks, wins, {"plain": plain, "traced": traced}


def write_trace(run, workload, seed, per_layer, triggers, sinks, wins, e2e_both, env):
    """Spans with name, start, end, parent and workload, plus the counters."""
    spans = []

    def add(name, start, end, parent=None, **kw):
        spans.append(dict(id=len(spans), name=name, start_us=start, end_us=end, parent=parent,
                          workload=workload, **kw))
        return len(spans) - 1

    phases = {}
    for s in run.by["span"]:
        if s["name"] in ("measure", "burst", "retention", "pass"):
            phases[(s["start_us"], s["end_us"])] = add(f"phase.{s['name']}", s["start_us"], s["end_us"],
                                                       phase=s["phase"])

    def parent_of(start):
        return next((i for (a, b), i in phases.items() if a <= start <= b), None)

    for s in run.by["setup"]:
        add("setup", s["start_us"], s["end_us"], rep=s["rep"])
    trig_ids = {}
    for t in triggers:
        trig_ids[(t["query"], t["batch"])] = add("EmitterRunner.trigger", t["start_us"], t["end_us"],
                                                 parent_of(t["start_us"]), batch=t["batch"],
                                                 duration_ms=t["progress"]["duration_ms"])
    tr = sorted((t["start_us"], t["end_us"], trig_ids[(t["query"], t["batch"])]) for t in triggers)

    def trigger_of(start):
        return next((i for a, b, i in tr if a <= start <= b), parent_of(start))

    for w in wins:
        add("emit", w["start_us"], w["end_us"], trigger_of(w["start_us"]), window=w["window"])
    for x in sinks:
        add("IdempotentTableSink.put", x["start_us"], x["end_us"],
            trig_ids.get((f"graft-emitter-{x['stream']}", x["batch"]), trigger_of(x["start_us"])))
    for a in (a for s in run.appends.values() for a in s.values() if a["flush"] and a["phase"] == "traced"):
        add("MbStream.append(flush)", a["start_us"], a["end_us"], parent_of(a["start_us"]))
    for x in run.by["span"]:
        if x["name"] == "MbStream.appendAll" and x["phase"] == "traced":
            add("MbStream.appendAll", x["start_us"], x["end_us"], parent_of(x["start_us"]))
    for r in run.by["retention"]:
        if r["phase"] == "traced":
            add("MbStream.runRetention", r["start_us"], r["end_us"], parent_of(r["start_us"]),
                files=r["files_before"])
    path = os.path.join(OUT, f"trace-{workload}-{seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": workload, "seed": seed, "env": env, "end_to_end": e2e_both,
                   "tracing_overhead": {k: e2e_both["traced"][k] - e2e_both["plain"][k]
                                        for k in e2e_both["plain"] if k in e2e_both["traced"]},
                   "per_layer": per_layer, "spark": run.by["spark"], "spans": spans}, fh)
    return path


# ── main ──────────────────────────────────────────────────────────────────

def git_commit():
    """HEAD when the checkout is a git repository, else None (the source
    digest identifies the code either way)."""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return p.stdout.strip() if p.returncode == 0 else None


def loadavg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "streaming", "MbStream.scala")):
        fail("program sources (src/main/scala) not found next to perfbench/")
    os.makedirs(OUT, exist_ok=True)
    digest = source_digest()
    t0 = time.time()
    cp = build(digest)
    deadline += time.time() - t0
    load_before = loadavg()
    run = Run(run_jvm(cp, args, deadline))
    attempted, failures = gates(run, args.workload)
    try:
        plain = e2e(run, args.workload, "plain")
    except (ValueError, StopIteration, KeyError) as e:
        plain = None
        failures.append(f"end-to-end figures unavailable: {e!r}")
        attempted += 1
    setups = [(s["end_us"] - s["start_us"]) / 1e6 for s in run.by["setup"]]
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "nproc": run.env.get("nproc"), "loadavg_before": load_before, "loadavg_after": loadavg(),
        "external_cpu": run.env.get("external_cpu"), "jdk": run.env.get("jdk"),
        "spark": run.env.get("spark"), "git_commit": git_commit(), "source_digest": digest, "setup_reps_s": setups,
    }
    env.update(generator_lateness(run, "plain"))
    env["generator_behind"] = env["gen_late_max_ms"] > 1000
    env["error_rate"] = len(failures) / attempted
    env["failures"] = failures[:20]
    if plain:
        env["samples"] = {k: plain[k] for k in ("windows", "passes") if k in plain}
    if plain and args.trace:
        per_layer, triggers, sinks, wins, both = layer_metrics(run, args.workload)
        env["trace_file"] = os.path.relpath(
            write_trace(run, args.workload, args.seed, per_layer, triggers, sinks, wins, both, env), ROOT)
        metrics = {m["name"]: {"value": per_layer[m["name"]], "unit": m["unit"]} for m in spec()["per_layer"]}
    elif plain:
        values = dict(plain, setup_s=stats.median(setups), peak_rss_mb=run.env["vm_hwm_kb"] / 1024)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec()["end_to_end"]}
    else:
        metrics = {}
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))
    sys.exit(1 if failures else 0)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    main()
