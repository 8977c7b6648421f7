#!/usr/bin/env python3
"""Benchmark of the Spark engine: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload dedup_lifecycle --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt (perfbench/build.sbt), generates the input tables and
makes a class-data archive under .bench_build/; later runs reuse all
three. Each run then starts one JVM (local[4]) that sets up, measures,
and checks every output, and this script turns its raw record into
metrics. The last stdout line is the result object; see
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("dedup_lifecycle", "crime_ml")
SCALE = "0.01"  # TPC-H scale factor of the generated tables
CORES = 4
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, files in sorted(os.walk(base)):
            inputs += [os.path.join(dirpath, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile and package program + harness (once per source state); the
    classpath, all jars, which a class-data archive requires."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    if not shutil.which("sbt"):
        die("sbt is not on PATH")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines()
             if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)  # made from the previous classes
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def java(cp, args, log, timeout, flags=()):
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # leftovers of a killed run
    os.makedirs(tmp)
    # heap fixed and touched up front, so resident memory repeats
    cmd = (["java", "-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
              "-Dlog4j2.configurationFile="
              + os.path.join(HERE, "log4j2.properties"),
              "-cp", cp] + list(flags) + ["perfbench.Main"] + args)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"JVM {args[0]} exited with {rc}")


def data(cp):
    d = os.path.join(BUILD, f"data-sf{SCALE}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        java(cp, ["gen", d, SCALE], os.path.join(BUILD, "gen.log"), 300)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def archive(cp, datadir):
    """JVM flags that map a class-data archive of everything the workloads
    load (made once per build): it halves JVM start to a ready session
    and takes ~4 s off the first query pass."""
    if not os.path.exists(ARCHIVE):
        java(cp, ["classes", datadir, os.path.join(HERE, "expected.json")],
             os.path.join(BUILD, "classes.log"), JVM_TIMEOUT_S,
             [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
        if not os.path.exists(ARCHIVE):
            die("no class-data archive was written")
    return [f"-XX:SharedArchiveFile={ARCHIVE}"]


def measure(cp, flags, datadir, workload, seed, seconds, trace):
    """One measuring JVM; its raw record plus setup_s."""
    # one record per workload and mode: each run overwrites the last
    out = os.path.join(BUILD, "runs", f"{workload}-t{trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    launched = time.time()
    java(cp, ["run", workload, str(seed), str(seconds), str(trace), datadir,
              os.path.join(HERE, "expected.json"), out],
         out[:-5] + ".log", JVM_TIMEOUT_S, flags)
    with open(out) as f:
        rec = json.load(f)
    rec["setup_s"] = rec["first_timed_epoch_ms"] / 1000.0 - launched
    return rec


def timed_ops(rec):
    """Timed queries or requests that completed (not the fit, nor the
    queries of the untimed warm-up pass)."""
    return [o for o in rec["ops"] if o["ok"] and o["timed"]
            and o["kind"] in ("query", "request")]


def end_to_end(rec):
    ops = timed_ops(rec)
    if not rec["pass_ms"] or not ops:
        die("no timed work completed")
    return {
        "setup_s": (rec["setup_s"], "s"),
        "pass_s": (stats.median(rec["pass_ms"]) / 1000.0, "s"),
        "op_p50_ms": (stats.median_of_medians(ops), "ms"),
        "peak_rss_mb": (rec["peak_rss_kb"] / 1024.0, "MB"),
    }


def units(spans):
    """Units of traced work, each (unit span, its op spans, its leaf spans):
    every timed query pass, or on crime_ml the fit with the requests."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    passes = [s for s in spans if s["kind"] == "pass"]
    if passes:
        out = []
        for p in passes:
            ops = kids.get(p["id"], [])
            out.append((p, ops, [c for o in ops for c in kids.get(o["id"], [])]))
        return out
    fit = [s for s in spans if s["kind"] == "fit"]
    ops = [s for s in spans if s["kind"] == "request"]
    return [(fit[0], ops, fit + [c for o in ops for c in kids.get(o["id"], [])])]


def unit_metrics(unit):
    whole, ops, leaves = unit
    op_ids = {o["id"] for o in ops}
    own = leaves if whole["kind"] == "pass" else [whole]  # pass, or the fit

    def total(key, kinds=None):
        return sum(s["counts"][key] for s in leaves
                   if kinds is None or s["kind"] in kinds)

    def dur(kinds):
        return sum(s["dur_ms"] for s in leaves if s["kind"] in kinds)

    def per_op(kind, key=None):
        xs = [s for s in leaves if s["parent"] in op_ids
              and (kind is None or s["kind"] == kind)]
        v = sum(s["counts"][key] if key else s["dur_ms"] for s in xs)
        return v / len(ops) if ops else 0.0

    busy_wall = dur(("build", "plan", "exec", "fit"))
    return {
        "registry.build_ms": (dur(("build", "fit")), "ms"),
        "registry.build_jobs": (total("jobs", ("build", "fit")), "count"),
        "catalyst.plan_ms": (dur(("plan",)), "ms"),
        "exec.exec_ms": (dur(("exec",)), "ms"),
        "exec.jobs": (total("jobs"), "count"),
        "exec.stages": (total("stages"), "count"),
        "exec.tasks": (total("tasks"), "count"),
        "exec.task_run_ms": (total("task_run_ms"), "ms"),
        "exec.task_cpu_ms": (total("task_cpu_ms"), "ms"),
        "exec.gc_ms": (total("gc_ms"), "ms"),
        "exec.input_records": (total("input_records"), "count"),
        "exec.core_busy_frac": (
            total("task_run_ms") / (busy_wall * CORES) if busy_wall else 0.0,
            "fraction"),
        "exec.shuffle_write_bytes": (total("shuffle_write_bytes"), "bytes"),
        "exec.shuffle_read_bytes": (total("shuffle_read_bytes"), "bytes"),
        "exec.spill_bytes": (total("spill_bytes"), "bytes"),
        "ext.scratch_bytes_written": (total("output_bytes"), "bytes"),
        # the query pass, or on crime_ml the fit
        "pass.ms": (whole["dur_ms"], "ms"),
        "pass.jobs": (sum(s["counts"]["jobs"] for s in own), "count"),
        "pass.stages": (sum(s["counts"]["stages"] for s in own), "count"),
        "op.build_ms": (per_op("build"), "ms"),
        "op.plan_ms": (per_op("plan"), "ms"),
        "op.exec_ms": (per_op("exec"), "ms"),
        "op.jobs": (per_op(None, "jobs"), "count"),
        "op.input_records": (per_op(None, "input_records"), "count"),
    }


def per_layer(rec, untraced_op_p50):
    """Each metric's median over the units of traced work, plus tracing's
    own cost."""
    per_unit = [unit_metrics(u) for u in units(rec["spans"])]
    m = {k: (stats.median([pu[k][0] for pu in per_unit]), unit)
         for k, (_, unit) in per_unit[0].items()}
    m["trace.drain_ms"] = (rec["drain_ms"] / len(per_unit), "ms")
    m["trace.overhead_frac"] = (
        stats.median_of_medians(timed_ops(rec)) / untraced_op_p50 - 1.0,
        "fraction")
    return m


def op_rows(rec):
    """Per-op rows of a traced run: phase times and counters."""
    spans = rec["spans"]
    selfs = stats.self_times(spans)
    rows = []
    for s in spans:
        if s["kind"] not in ("query", "request", "fit"):
            continue
        kids = [c for c in spans if c["parent"] == s["id"]] or [s]
        row = {"op": s["name"], "kind": s["kind"],
               "in": spans[s["parent"]]["name"] if s["parent"] >= 0 else None,
               "ms": round(s["dur_ms"], 3), "self_ms": round(selfs[s["id"]], 3)}
        for k in kids:
            if k is not s:
                row[f"{k['kind']}_ms"] = round(k["dur_ms"], 3)
                row[f"{k['kind']}_jobs"] = k["counts"]["jobs"]
        for key in ("jobs", "stages", "tasks", "task_run_ms", "input_records",
                    "shuffle_write_bytes", "shuffle_read_bytes",
                    "output_bytes"):
            row[key] = sum(k["counts"].get(key, 0) for k in kids)
        rows.append(row)
    return rows


def self_time_summary(spans):
    selfs = stats.self_times(spans)
    out = {}
    for s in spans:
        agg = out.setdefault(s["kind"], {"spans": 0, "ms": 0.0, "self_ms": 0.0})
        agg["spans"] += 1
        agg["ms"] += s["dur_ms"]
        agg["self_ms"] += selfs[s["id"]]
    return out


def history_file(workload):
    return os.path.join(BUILD, "history", f"{workload}.json")


def untraced_history(workload):
    try:
        with open(history_file(workload)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return []


def remember(workload, value):
    hist = (untraced_history(workload) + [value])[-20:]
    os.makedirs(os.path.dirname(history_file(workload)), exist_ok=True)
    with open(history_file(workload), "w") as f:
        json.dump(hist, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"program sources not found under {ROOT}")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    datadir = data(cp)
    flags = archive(cp, datadir)

    if a.trace:
        hist = untraced_history(a.workload)
        if not hist:
            hist = [stats.median_of_medians(timed_ops(measure(
                cp, flags, datadir, a.workload, a.seed, a.seconds, 0)))]
            remember(a.workload, hist[0])
    rec = measure(cp, flags, datadir, a.workload, a.seed, a.seconds, a.trace)

    for o in rec["ops"]:
        print(f"op {o['name']} kind={o['kind']} ok={o['ok']} "
              f"correct={o['correct']} latency_ms={o['latency_ms']:.3f}")
    for p in rec["problems"]:
        print(f"problem: {p}")
    attempted, failed = stats.accounting(rec["ops"])
    lat = [o["latency_ms"] for o in timed_ops(rec)]
    tail = stats.highest_reportable(len(lat))
    print(f"info: attempted={attempted} failed={failed} "
          f"failed_frac={stats.failed_frac(rec['ops']):.4f} "
          f"op_samples={len(lat)} highest_percentile_with_10_beyond="
          + (f"p{tail} ({stats.percentile(lat, tail):.3f} ms)" if tail
             else "none"))
    print("info: setup = jvm start to session "
          f"{(rec['session_epoch_ms'] - rec['jvm_start_epoch_ms']) / 1e3:.3f} s"
          " + untimed warm-up "
          f"{(rec['first_timed_epoch_ms'] - rec['session_epoch_ms']) / 1e3:.3f}"
          " s (the rest of setup_s is process launch)")

    if a.trace:
        metrics = per_layer(rec, stats.median(hist))
        detail = {"workload": a.workload, "seed": a.seed,
                  "ops": op_rows(rec),
                  "self_time_by_kind": self_time_summary(rec["spans"]),
                  "spans": rec["spans"]}
        os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
        path = os.path.join(BUILD, "trace", f"{a.workload}-{a.seed}.json")
        with open(path, "w") as f:
            json.dump(detail, f, indent=1)
        for row in detail["ops"]:
            print("trace-op " + json.dumps(row, sort_keys=True))
        for kind, agg in sorted(detail["self_time_by_kind"].items()):
            print(f"trace-self {kind}: spans={agg['spans']} "
                  f"ms={agg['ms']:.3f} self_ms={agg['self_ms']:.3f}")
        print(f"trace-file {os.path.relpath(path, ROOT)}")
    else:
        metrics = end_to_end(rec)
        remember(a.workload, metrics["op_p50_ms"][0])
        if a.workload != "crime_ml":
            print(f"info: warmup_pass_ms={rec['warmup_pass_ms']} "
                  f"pass_ms={rec['pass_ms']} "
                  f"scratch_bytes_on_disk={rec['scratch_bytes_on_disk']}")
        else:
            print(f"info: accuracy={rec['accuracy']:.4f} "
                  f"majority_rate={rec['majority_rate']:.4f}")
    for name, (value, unit) in metrics.items():
        print(f"metric {name} = {value} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
