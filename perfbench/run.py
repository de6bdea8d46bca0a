#!/usr/bin/env python3
"""graft benchmark: builds graft and the benchmark from source, runs one
workload in one JVM, checks its results and prints the metrics.

    python3 perfbench/run.py --workload lake_write --seed 1 --seconds 5 --trace 0

Run from the root of a graft checkout. Build outputs, the run's scratch
tables and the per-run artifacts go under $CARGO_TARGET_DIR (default
.bench_build). The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The full
report (every metric of the workload, box diagnostics, and for a traced
run the spans and the per-layer breakdown) is written to
<build>/runs/<workload>-s<seed>-t<trace>.json.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

WORKLOADS = ("lake_read", "lake_write", "pipeline_batch")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HERE = os.path.dirname(os.path.abspath(__file__))
CHECK_PREFIX = "check:"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if os.path.isabs(d) and not os.path.abspath(d).startswith(os.getcwd() + os.sep):
        d = ".bench_build"
    return d


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files]
    return sorted(out)


def run_checked(cmd, log, timeout, env=None):
    """Runs cmd with its output appended to log; kills its whole process
    group and fails after timeout seconds."""
    with open(log, "ab") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"timed out after {timeout} s: {' '.join(cmd[:6])} ... (log: {log})")


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_all(root, bdir):
    """Compiles graft's main sources, then the benchmark against them, and
    returns the runtime classpath. Each output is keyed by a hash of its
    sources (the benchmark's key includes graft's), so a rerun on the same
    tree reuses it."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no src/main/scala here: run from the root of a graft checkout")
    jars_dir = spark_jars(root)
    if not os.path.isdir(jars_dir):
        fail(f"Spark jars not found at {jars_dir}")
    files = sources(root)
    graft_files = [f for f in files if not f.startswith(HERE)]
    bench_files = [f for f in files if f.startswith(HERE)]
    graft_key = digest(root, graft_files)
    bench_key = graft_key + "-" + digest(root, bench_files)
    log = os.path.join(bdir, "build.log")
    jars = os.path.join(jars_dir, "*")
    scalac = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
              "-nowarn"]
    outs = []
    for key, cp, srcs in ((graft_key, jars, graft_files), (bench_key, None, bench_files)):
        out = os.path.join(bdir, "classes", key)
        if cp is None:
            cp = jars + os.pathsep + outs[0]
        outs.append(out)
        if os.path.exists(out + ".ok"):
            continue
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        scala = [f for f in srcs if f.endswith(".scala")]
        if run_checked(scalac + ["-classpath", cp, "-d", out] + scala, log, BUILD_TIMEOUT_S) != 0:
            fail(f"compiling {os.path.relpath(out, root)} failed (log: {log})")
        open(out + ".ok", "w").close()
    keep = {os.path.basename(o) for o in outs}
    for d in glob.glob(os.path.join(bdir, "classes", "*")):
        if os.path.basename(d).split(".")[0] not in keep:
            shutil.rmtree(d, ignore_errors=True) if os.path.isdir(d) else os.remove(d)
    return outs + [os.path.join(root, "src", "main", "resources"), jars]


def corpus_dir(root, bdir):
    """The base tables' directory, keyed by the generator's source, so a
    table generated by one run is reused by the next; stale ones go."""
    key = digest(root, [os.path.join(HERE, "src", "Corpus.scala")])
    for d in glob.glob(os.path.join(bdir, "corpus", "*")):
        if os.path.basename(d) != key:
            shutil.rmtree(d, ignore_errors=True)
    out = os.path.join(bdir, "corpus", key)
    os.makedirs(out, exist_ok=True)
    return os.path.abspath(out)


def run_jvm(classpath, bdir, args, raw, log):
    work = os.path.join(bdir, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # graft's own JIT settings (the default tiered C1 + C2): set-up's warm pass lets C2
    # compile the hot paths before the timer starts
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "graftbench.Main", args.workload,
              str(args.seed), str(args.seconds), str(args.trace), work, corpus_dir(os.getcwd(), bdir),
              raw])
    env = dict(os.environ, GRAFTBENCH_PINS=os.path.join(HERE, "pins.tsv"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_CONF", None)
    open(log, "w").close()
    try:
        rc = run_checked(cmd, log, JVM_TIMEOUT_S, env)
        if rc != 0:
            fail(f"benchmark JVM exited with {rc} (log: {log})")
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------- metrics

def dur(o):
    return o["t1"] - o["t0"]


def p50(xs):
    return stats.median(xs)


def fp_rows(o):
    try:
        return int(o.get("fp", "").split(":")[0])
    except ValueError:
        return None


def end_to_end(raw):
    """The end-to-end metrics (every workload) and the workload's own."""
    timed = [o for o in raw["ops"] if o["timed"]]
    ok = [o for o in timed if o["ok"]]
    w0, w1 = raw["window"]
    window_s = (w1 - w0) / 1000.0
    groups = [g for g in raw["groups"] if g["timed"]]
    rounds = [g["t1"] - g["t0"] for g in groups if g["kind"] in ("round", "cycle", "pass")]
    e2e = {
        "setup_s": (p50(raw["setup_s"]), "s"),
        "ops_per_s": (len(ok) / window_s, "1/s"),
        "round_p50_ms": (p50(rounds), "ms"),
        "heap_retained_mb": (raw["heap_retained_mb"], "MB"),
    }
    detail = {"op_p50_ms": (p50([dur(o) for o in ok]), "ms"),
              "error_rate": (stats.ratio(len(timed) - len(ok), len(timed)), "ratio"),
              "window_s": (window_s, "s"), "rounds": (len(rounds), "count")}

    def lat(name, kinds):
        xs = [dur(o) for o in ok if o["kind"] in kinds]
        detail[f"{name}_p50_ms"] = (p50(xs), "ms")
        for q, v in stats.tail_percentiles(xs).items():
            detail[f"{name}_p{q}_ms"] = (v, "ms")
        detail[f"{name}_n"] = (len(xs), "count")

    wl = raw["workload"]
    if wl == "lake_read":
        lat("read", {"point", "window", "asof"})
        lat("wide_read", {"wide"})
        lat("join", {"join"})
    elif wl == "lake_write":
        lat("read", {"read"})
        lat("commit", {"insert", "merge", "upsert", "delete"})
        lat("refresh", {"refresh"})
        lat("sync", {"sync"})
        detail["cycle_p50_ms"] = (p50(rounds), "ms")
        maint = [g["t1"] - g["t0"] for g in groups if g["kind"] == "maintain"]
        detail["maintain_s"] = (p50(maint) / 1000.0 if maint else None, "s")
        detail["space_amp"] = (stats.ratio(int(raw["table_bytes"]), int(raw["plain_bytes"])), "ratio")
    else:
        detail["pipeline_s"] = (p50(rounds) / 1000.0 if rounds else None, "s")
    for k in sorted({o["kind"] for o in timed}):
        xs = [dur(o) for o in ok if o["kind"] == k]
        detail[f"op.{k}_p50_ms"] = (p50(xs), "ms")
        detail[f"op.{k}_n"] = (len(xs), "count")
    return e2e, detail


# Prefix of each run that the traced per-layer counts are taken over: the
# first groups (rounds, cycles with their maintenance, passes) of the
# seeded sequence, which every run completes whatever its speed.
PREFIX_GROUPS = {"lake_read": 2, "lake_write": 2, "pipeline_batch": 1}


def per_layer(raw):
    tr = raw["trace"]
    pre = PREFIX_GROUPS[raw["workload"]]
    ops = [o for o in raw["ops"] if o["timed"] and o["group"] < pre]
    ids = {o["id"]: o for o in ops}
    # the op's own events; its trace-only probes ran after its window closed
    jobs = [j for j in tr["jobs"] if j["op"] in ids and not j["probe"]]
    plans = [p for p in tr["plans"] if p["op"] in ids and not p["probe"]]
    fs = {f["op"]: f for f in tr["fs"] if f["op"] in ids}
    spans = tr["spans"]
    self_ms = stats.self_times(spans)
    n = len(ops)

    def per_op(total):
        return total / n if n else None

    def jsum(key, kinds=None):
        return sum(j[key] for j in jobs if kinds is None or ids[j["op"]]["kind"] in kinds)

    job_ms = {i: stats.union_length(stats.clip([(j["start"], j["end"]) for j in jobs if j["op"] == i],
                                               o["t0"] - 1, o["t1"] + 1))
              for i, o in ids.items()}
    m = {
        "spark.jobs": (per_op(len(jobs)), "count"),
        "spark.stages": (per_op(jsum("stages")), "count"),
        "spark.tasks": (per_op(jsum("tasks")), "count"),
        "spark.job_ms": (per_op(sum(job_ms.values())), "ms"),
        "spark.driver_ms": (per_op(sum(dur(o) - job_ms[i] for i, o in ids.items())), "ms"),
        "spark.executor_cpu_ms": (per_op(jsum("cpu_ns") / 1e6), "ms"),
        "spark.gc_ms": (per_op(jsum("gc_ms")), "ms"),
        "spark.input_bytes": (per_op(jsum("input_bytes")), "B"),
        "spark.shuffle_read_bytes": (per_op(jsum("shuffle_read_bytes")), "B"),
        "spark.shuffle_write_bytes": (per_op(jsum("shuffle_write_bytes")), "B"),
        "spark.spill_bytes": (per_op(jsum("spill_bytes")), "B"),
        "spark.floor_ms": (p50(raw["floor_ms"]), "ms"),
        "plans.analysis_ms": (per_op(sum(p["analysis_ms"] for p in plans)), "ms"),
        "plans.optimization_ms": (per_op(sum(p["optimization_ms"] for p in plans)), "ms"),
        "plans.planning_ms": (per_op(sum(p["planning_ms"] for p in plans)), "ms"),
        "fs.read_ops": (per_op(sum(f["read_ops"] for f in fs.values())), "count"),
        "fs.bytes_read": (per_op(sum(f["bytes_read"] for f in fs.values())), "B"),
        "fs.write_ops": (per_op(sum(f["write_ops"] for f in fs.values())), "count"),
        "fs.bytes_written": (per_op(sum(f["bytes_written"] for f in fs.values())), "B"),
    }
    # self time by layer (the span name's first component), over the ops' own spans
    layer = {}
    for s in spans:
        if s["op"] in ids and not s["probe"]:
            k = s["name"].split(".")[0]
            layer[k] = layer.get(k, 0.0) + self_ms[s["id"]]
    for k, v in sorted(layer.items()):
        m[f"self.{k}_ms"] = (per_op(v), "ms")

    def span_ms(name, setup=False):
        xs = [s["t1"] - s["t0"] for s in spans
              if s["name"] == name and ((s["op"] == -1) if setup else (s["op"] in ids))]
        return xs

    m["sources.sql_ms"] = (p50(span_ms("sources.sql")), "ms")
    m["sources.load_ms"] = (sum(span_ms("sources.load", setup=True)) / max(1, len(raw["setup_s"])), "ms")
    m["tables.meta_ms"] = (p50(span_ms("tables.meta")), "ms")
    m["tables.plan_files_ms"] = (p50(span_ms("tables.plan_files")), "ms")
    extras = {e["op"]: e for e in raw["extras"] if e["op"] in ids}

    def esum(key, kinds=None):
        vals = [float(e[key]) for i, e in extras.items()
                if key in e and (kinds is None or ids[i]["kind"] in kinds)]
        return sum(vals) if vals else None

    wl = raw["workload"]
    if wl == "lake_read":
        for k in ("files_total", "files_kept", "manifests_total", "manifests_kept"):
            m[f"tables.{k}"] = (esum(k), "count")
        m["tables.files_read"] = (sum(p["num_files"] for p in plans), "count")
        rows_out = sum(fp_rows(o) or 0 for o in ops)
        m["tables.rows_read_per_row_out"] = (stats.ratio(sum(p["scan_rows"] for p in plans), rows_out), "ratio")
        for kind in ("point", "window", "asof", "join", "wide"):
            ks = [i for i, o in ids.items() if o["kind"] == kind]
            m[f"tables.{kind}.files_kept"] = (esum("files_kept", {kind}), "count")
            m[f"tables.{kind}.files_read"] = (sum(p["num_files"] for p in plans if p["op"] in ks), "count")
    if wl == "lake_write":
        cycles = len({o["group"] for o in ops if o["kind"] == "insert"}) or 1
        for kind, name in (("insert", "append"), ("merge", "merge"), ("upsert", "upsert"),
                           ("delete", "delete"), ("refresh", "refresh"), ("sync", "sync"),
                           ("compact", "compact"), ("rewrite_manifests", "rewrite_manifests"),
                           ("expire", "expire")):
            xs = [dur(o) for o in ops if o["kind"] == kind]
            m[f"tables.{name}_ms"] = (p50(xs), "ms")
            m[f"tables.{name}_jobs"] = (sum(1 for j in jobs if ids[j["op"]]["kind"] == kind), "count")
        dml = {"insert", "merge", "upsert", "delete"}
        m["tables.bytes_written"] = (esum("bytes_written", dml) / cycles, "B")
        m["tables.meta_bytes_written"] = (esum("meta_bytes_written", dml) / cycles, "B")
        reads = [e for i, e in sorted(extras.items()) if ids[i]["kind"] == "read"]
        if reads:
            last = reads[-1]
            for k in ("live_files", "child_manifests", "snapshots"):
                m[f"tables.{k}"] = (float(last[k]), "count")
            base = float(raw["cycle_rows"]) * float(last["row_bytes"])
            m["tables.write_amp"] = (stats.ratio(m["tables.bytes_written"][0], base), "ratio")
        m["tables.sync_commits"] = (sum(int(o.get("fp") or 0) for o in ops if o["kind"] == "sync"), "count")
        m["tables.bytes_rewritten"] = (esum("bytes_written", {"compact"}), "B")
        m["tables.files_before"] = (esum("files_before"), "count")
        m["tables.files_after"] = (esum("files_after"), "count")
    if wl == "pipeline_batch":
        for g in sorted({o["kind"] for o in ops}):
            gi = [i for i, o in ids.items() if o["kind"] == g]
            m[f"operators.{g}_ms"] = (p50([dur(ids[i]) for i in gi]), "ms")
            m[f"operators.{g}_jobs"] = (sum(1 for j in jobs if j["op"] in gi), "count")
            m[f"operators.{g}_shuffle_bytes"] = (
                sum(j["shuffle_write_bytes"] for j in jobs if j["op"] in gi), "B")
    m["prefix_ops"] = (n, "count")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    bdir = build_dir()
    os.makedirs(os.path.join(bdir, "runs"), exist_ok=True)
    t0 = time.time()
    classpath = compile_all(root, bdir)
    build_s = time.time() - t0
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    raw_path = os.path.join(bdir, "runs", tag + ".raw.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    t1 = time.time()
    run_jvm(classpath, bdir, args, raw_path, os.path.join(bdir, "runs", tag + ".log"))
    jvm_s = time.time() - t1
    with open(raw_path) as f:
        raw = json.load(f)

    timed = [o for o in raw["ops"] if o["timed"]]
    failed = [o for o in timed if not o["ok"]]
    # a failed correctness check anywhere (timed or set-up op) makes the run incorrect
    correct = not any(o["err"] and o["err"].startswith(CHECK_PREFIX) for o in raw["ops"])
    e2e, detail = end_to_end(raw)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "box": {k: raw.get(k) for k in ("nproc", "master", "heap_max_mb", "calibration_ms",
                                         "floor_ms", "session_s", "corpus_s", "corpus_generated",
                                         "jvm_boot_s", "calibrate_s", "verify_s")},
        "cached_mb": raw.get("cached_mb"),
        "build_s": build_s, "jvm_s": jvm_s, "setup_s_reps": raw["setup_s"],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **detail}.items()},
        "errors": sorted({o["err"] for o in raw["ops"] if o["err"]}),
    }
    if args.trace:
        layers = per_layer(raw)
        report["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        ref = os.path.join(bdir, "runs", f"{args.workload}-s{args.seed}-t0.json")
        refs = [ref] if os.path.exists(ref) else sorted(
            glob.glob(os.path.join(bdir, "runs", f"{args.workload}-s*-t0.json")))
        if refs:
            with open(refs[-1]) as f:
                base = json.load(f)["end_to_end"]
            report["tracing_overhead"] = {
                k: {"value": (e2e[k][0] - base[k]["value"]) if base.get(k, {}).get("value") is not None
                    and e2e[k][0] is not None else None, "unit": e2e[k][1], "base": refs[-1]}
                for k in e2e}
        report["trace"] = raw["trace"]
        report["extras"] = raw["extras"]
        metrics = layers
        wanted = [m["name"] for m in bench["per_layer"]]
    else:
        metrics = e2e
        wanted = [m["name"] for m in bench["end_to_end"]]
    report["ops"] = raw["ops"]
    with open(os.path.join(bdir, "runs", tag + ".json"), "w") as f:
        json.dump(report, f, indent=1)

    print(f"box: {json.dumps(report['box'])}")
    for k, v in report["end_to_end"].items():
        print(f"  {k:28s} {v['value'] if v['value'] is not None else '-':>14} {v['unit']}")
    if args.trace:
        for k, v in report["per_layer"].items():
            print(f"  {k:28s} {v['value'] if v['value'] is not None else '-':>14} {v['unit']}")
    for e in report["errors"]:
        print(f"  error: {e}")
    missing = [k for k in wanted if metrics.get(k, (None,))[0] is None]
    if missing:
        fail(f"metrics not measured: {missing}")
    out = {"correct": correct, "attempted": len(timed), "failed": len(failed),
           "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in wanted}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
