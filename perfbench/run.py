#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Run from the repository root:

    python3 perfbench/run.py --workload geo_join --seed 1 --seconds 10 --trace 0

The first run builds graft and the benchmark with sbt (offline) and
caches the classpath under .bench_build/; later runs reuse it while the
sources are unchanged. The run starts a JVM that sets up the workload
twice, drives it for --seconds as one closed-loop client of a
local[4] Spark session, and writes a raw record. This script then checks
every operation's output against oracle.py, computes the metrics and
prints one line per metric, then the result as one JSON line. With
--trace 0 the result carries the end-to-end metrics, with --trace 1 the
per-layer ones. Side artifacts (stamped result, spans, plan dump) are
written to .bench_build/perfbench/runs/<workload>-seed<seed>-trace<t>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ["geo_join", "geo_table", "corpus_dedup"]
CORES = 4
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850

# End-to-end metrics the result carries, each with a bound in BENCHMARK.json.
END_TO_END = [
    ("setup_s", "s"),
    ("rows_per_s", "rows/s"),
    ("rows_per_cpu_s", "rows/s"),
    ("retained_heap_mb", "MB"),
]

# End-to-end metrics printed and kept in result.json but not in the result
# line. Latency medians of a few operations spread more between runs on a
# shared host than throughput over all of them; append_p50_s applies to
# geo_table only, and error_rate is carried by the result's failed and
# attempted counts.
REPORTED = [
    ("query_p50_s", "s"),
    ("query_tail_s", "s"),
    ("append_p50_s", "s"),
    ("error_rate", "ratio"),
]

PER_LAYER = [
    ("plans.prepare_s", "s/op"),
    ("plans.exchanges", "count/op"),
    ("plans.sorts", "count/op"),
    ("plans.codegen_stages", "count/op"),
    ("plans.non_codegen_nodes", "count/op"),
    ("plans.bbox_pushdown", "frac"),
    ("plans.grid_join", "frac"),
    ("sources.files_read", "count/op"),
    ("sources.files_total", "count/op"),
    ("sources.file_read_frac", "frac"),
    ("sources.bytes_read_mb", "MB/op"),
    ("sources.scan_rows", "rows/op"),
    ("sources.append_s", "s/op"),
    ("sources.files_added_per_append", "count/op"),
    ("functions.predicate_rows", "rows/op"),
    ("functions.predicate_hit_ratio", "frac"),
    ("operators.spatial_join.cells_left", "rows/op"),
    ("operators.spatial_join.cells_right", "rows/op"),
    ("operators.spatial_join.replication", "ratio"),
    ("operators.spatial_join.join_rows", "rows/op"),
    ("operators.dedup.exact_s", "s/op"),
    ("operators.dedup.minhash_s", "s/op"),
    ("operators.packing.pack_s", "s/op"),
    ("operators.dedup.candidates", "count/op"),
    ("operators.dedup.verified", "count/op"),
    ("operators.dedup.verify_ratio", "frac"),
    ("operators.persist_leaked", "count/op"),
    ("exec.jobs", "count/op"),
    ("exec.stages", "count/op"),
    ("exec.tasks", "count/op"),
    ("exec.run_s", "s/op"),
    ("exec.cpu_s", "s/op"),
    ("exec.gc_s", "s/op"),
    ("exec.shuffle_write_mb", "MB/op"),
    ("exec.shuffle_read_mb", "MB/op"),
    ("exec.shuffle_fetch_wait_s", "s/op"),
    ("exec.spill_mb", "MB/op"),
    ("exec.task_skew", "ratio"),
    ("exec.idle_core_frac", "frac"),
    ("exec.driver_only_s", "s/op"),
    ("self.client_s", "s/op"),
    ("self.plans_s", "s/op"),
    ("self.sources_s", "s/op"),
    ("self.operators_s", "s/op"),
    ("self.exec_s", "s/op"),
    ("trace.overhead_frac", "frac"),
]

# Spark on JDK 17 outside spark-submit needs these, as in the root build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

MB = 1024.0 * 1024.0


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    """The files a build reads: graft's main sources, both builds, the benchmark."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, log_path, timeout, env=None):
    """Runs cmd in its own process group, output to log_path; kills the
    whole group on timeout and waits for it. Returns the exit code."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def jvm_command(cp, out, extra, args):
    """The java command line of one benchmark JVM writing under `out`."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + JVM_HEAP]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + extra + [
        "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(out, "warehouse"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.perfbench.Main"] + args + [out]


def jar_dir(src, dest):
    """Packs a directory of classes into a jar (class-data sharing only
    archives classes loaded from jars)."""
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for d, dirs, fs in os.walk(src):
            dirs.sort()
            for f in sorted(fs):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, src))


def build(work, digest):
    """Compiles graft and the benchmark and returns (classpath, JVM flags).

    The classes are packed into jars and a short geo_table run records
    the classes the JVM loads into a class-data sharing archive, which
    every later run maps instead of loading Spark's classes one by one.
    That shortens JVM start-up; a JVM that cannot use the archive warns
    and loads classes normally.
    """
    dest = os.path.join(work, "build-" + digest[:16])
    done = os.path.join(dest, "classpath.txt")
    jsa = os.path.join(dest, "classes.jsa")
    if os.path.isfile(done):
        with open(done) as fh:
            cp = fh.read().strip()
        return cp, (["-XX:SharedArchiveFile=" + jsa] if os.path.isfile(jsa) else [])
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    for old in os.listdir(work):
        if old.startswith("build-"):
            shutil.rmtree(os.path.join(work, old), ignore_errors=True)
    os.makedirs(dest)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(dest, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
                     HERE, log, BUILD_TIMEOUT_S, env)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [ln.strip() for ln in lines if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        die("build failed (exit %s); see %s" % (rc, log))
    entries = []
    for i, p in enumerate(cps[-1].split(os.pathsep)):
        if os.path.isdir(p):
            jar = os.path.join(dest, "classes%d.jar" % i)
            jar_dir(p, jar)
            p = jar
        entries.append(p)
    cp = os.pathsep.join(entries)
    train = os.path.join(dest, "train")
    rc = run_bounded(jvm_command(cp, train, ["-XX:ArchiveClassesAtExit=" + jsa], ["geo_table", "0", "0", "0"]) + ["1"],
                     ROOT, os.path.join(dest, "train.log"), JVM_TIMEOUT_S)
    shutil.rmtree(train, ignore_errors=True)
    if rc != 0 and os.path.exists(jsa):
        os.remove(jsa)  # an archive is only an optimisation; run without one
    with open(done, "w") as fh:
        fh.write(cp)
    return cp, (["-XX:SharedArchiveFile=" + jsa] if os.path.isfile(jsa) else [])


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(raw, ops):
    """End-to-end metrics over the untraced measured operations of a run."""
    untimed = [o for o in ops if not o["traced"]]
    lat = [(o["end"] - o["start"]) / 1000.0 for o in untimed if o["kind"] != "append"]
    wall = sum(o["end"] - o["start"] for o in untimed) / 1000.0
    tail_v, tail_p, n = stats.tail(lat)
    appends = [(o["end"] - o["start"]) / 1000.0 for o in untimed if o["kind"] == "append"]
    values = {
        "setup_s": stats.setup_seconds(raw["setup_session_s"], raw["setup_fixture_s"], raw["warmup_s"]),
        "rows_per_s": stats.ratio(sum(o["rows"] for o in untimed), wall),
        "rows_per_cpu_s": stats.ratio(sum(o["rows"] for o in untimed), sum(o["cpu_ms"] for o in untimed) / 1000.0),
        "query_p50_s": stats.median(lat),
        "query_tail_s": tail_v,
        "retained_heap_mb": raw["retained_heap_mb"],
    }
    extra = {
        "query_tail_percentile": tail_p, "query_samples": n,
        "append_p50_s": stats.median(appends) if appends else None, "append_samples": len(appends),
    }
    return values, extra


def op_spans(o):
    t = o["trace"]
    return stats.attach(t["spans"], t["jobs"], t["stages"])


def per_layer(raw, ops):
    """Per-layer metrics over the traced operations of a run."""
    traced = [o for o in ops if o["traced"] and o["trace"] is not None]
    if not traced:
        die("no traced operation completed; use more --seconds")
    plans = [o["trace"]["plan"] for o in traced if o["trace"]["plan"]]
    stages = {o["i"]: o["trace"]["stages"] for o in traced}

    def span_time(o, name):
        return sum(s["end"] - s["start"] for s in o["trace"]["spans"] if s["name"] == name) / 1000.0

    def stage_sum(o, key):
        return sum(s[key] for s in stages[o["i"]])

    def plan_mean(key):
        return mean(p[key] for p in plans)

    def plan_frac(key):
        xs = [p[key] for p in plans if p[key] is not None]
        return mean(xs)

    joins = [p for p in plans if p["spatial_joins"]]
    appends = [o for o in ops if o["kind"] == "append" and o["check"]]
    minhash = [o for o in ops if o["kind"] == "minhash" and o["result"]]
    m = {
        "plans.prepare_s": mean(span_time(o, "plans.prepare") for o in traced),
        "plans.exchanges": plan_mean("exchanges"),
        "plans.sorts": plan_mean("sorts"),
        "plans.codegen_stages": plan_mean("codegen_stages"),
        "plans.non_codegen_nodes": plan_mean("non_codegen_nodes"),
        "plans.bbox_pushdown": plan_frac("bbox_pushdown"),
        "plans.grid_join": plan_frac("grid_join"),
        "sources.files_read": plan_mean("files_read"),
        "sources.files_total": plan_mean("files_total"),
        "sources.file_read_frac": stats.ratio(sum(p["files_read"] for p in plans),
                                              sum(p["files_total"] for p in plans)),
        "sources.bytes_read_mb": mean(stage_sum(o, "input_bytes") / MB for o in traced),
        "sources.scan_rows": plan_mean("scan_rows"),
        "sources.append_s": mean(span_time(o, "GeoTable.appendClustered")
                                 for o in traced if o["kind"] == "append"),
        "sources.files_added_per_append": mean(o["check"]["files_added"] for o in appends),
        "functions.predicate_rows": plan_mean("predicate_rows"),
        "functions.predicate_hit_ratio": stats.ratio(sum(p["predicate_pass"] for p in plans),
                                                     sum(p["predicate_rows"] for p in plans)),
        "operators.spatial_join.cells_left": mean(p["cells_left"] for p in joins),
        "operators.spatial_join.cells_right": mean(p["cells_right"] for p in joins),
        "operators.spatial_join.replication": stats.ratio(
            sum(p["cells_left"] + p["cells_right"] for p in joins),
            sum(p["rows_left"] + p["rows_right"] for p in joins)),
        "operators.spatial_join.join_rows": mean(p["join_rows"] for p in joins),
        "operators.dedup.exact_s": mean(span_time(o, "Dedup.exact") for o in traced if o["kind"] == "exact"),
        "operators.dedup.minhash_s": mean(span_time(o, "Dedup.minhashCandidates")
                                          for o in traced if o["kind"] == "minhash"),
        "operators.packing.pack_s": mean(span_time(o, "Packing.packSequences")
                                         for o in traced if o["kind"] == "pack"),
        "operators.dedup.candidates": mean(o["result"]["candidates"] for o in minhash),
        "operators.dedup.verified": mean(o["result"]["verified"] for o in minhash),
        "operators.dedup.verify_ratio": stats.ratio(sum(o["result"]["verified"] for o in minhash),
                                                    sum(o["result"]["candidates"] for o in minhash)),
        "operators.persist_leaked": mean(o["trace"]["persist_leaked"] for o in traced),
        "exec.jobs": mean(len(o["trace"]["jobs"]) for o in traced),
        "exec.stages": mean(len(stages[o["i"]]) for o in traced),
        "exec.tasks": mean(stage_sum(o, "tasks") for o in traced),
        "exec.run_s": mean(stage_sum(o, "run_ms") / 1000.0 for o in traced),
        "exec.cpu_s": mean(stage_sum(o, "cpu_ns") / 1e9 for o in traced),
        "exec.gc_s": mean(stage_sum(o, "gc_ms") / 1000.0 for o in traced),
        "exec.shuffle_write_mb": mean(stage_sum(o, "shuffle_write") / MB for o in traced),
        "exec.shuffle_read_mb": mean(stage_sum(o, "shuffle_read") / MB for o in traced),
        "exec.shuffle_fetch_wait_s": mean(stage_sum(o, "fetch_wait_ms") / 1000.0 for o in traced),
        "exec.spill_mb": mean(stage_sum(o, "spill_disk") / MB for o in traced),
    }
    skews = []
    for o in traced:
        if stages[o["i"]]:
            big = max(stages[o["i"]], key=lambda s: s["run_ms"])
            if big["task_median_ms"] > 0:
                skews.append(big["task_max_ms"] / big["task_median_ms"])
    m["exec.task_skew"] = mean(skews)

    walls, driver_only = [], []
    self_by_layer = {k: [] for k in ["client", "plans", "sources", "operators", "exec"]}
    for o in traced:
        spans = op_spans(o)
        root = next(s for s in spans if s["parent"] == -1 and s["layer"] == "client")
        wall = root["end"] - root["start"]
        walls.append(wall)
        jobs = [s for s in spans if s["name"].startswith("job ")]
        driver_only.append(stats.uncovered(root, jobs) / 1000.0)
        layers = stats.layer_self_times(spans)
        for k in self_by_layer:
            self_by_layer[k].append(layers.get(k, 0.0) / 1000.0)
    m["exec.idle_core_frac"] = 1.0 - stats.ratio(sum(stage_sum(o, "run_ms") for o in traced),
                                                 sum(walls) * CORES)
    m["exec.driver_only_s"] = mean(driver_only)
    for k, xs in self_by_layer.items():
        m["self.%s_s" % k] = mean(xs)

    ratios = []
    for label in sorted({o["label"] for o in ops}):
        on = [o["end"] - o["start"] for o in ops if o["label"] == label and o["traced"]]
        off = [o["end"] - o["start"] for o in ops if o["label"] == label and not o["traced"]]
        if on and off:
            ratios.append(stats.median(on) / stats.median(off))
    m["trace.overhead_frac"] = stats.median(ratios) - 1.0 if ratios else 0.0
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("graft's sources are not next to perfbench/ (expected build.sbt and src/main/scala/graft)")
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    digest = source_digest()
    cp, flags = build(work, digest)

    out = os.path.join(work, "runs", "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(out, ignore_errors=True)
    cmd = jvm_command(cp, out, flags, [a.workload, str(a.seed), repr(float(a.seconds)), str(a.trace)])
    log = os.path.join(out, "jvm.log")
    t0 = time.time()
    rc = run_bounded(cmd, ROOT, log, JVM_TIMEOUT_S)
    jvm_s = time.time() - t0
    raw_path = os.path.join(out, "raw.json")
    if rc != 0 or not os.path.isfile(raw_path):
        die("benchmark JVM failed (exit %s); see %s" % (rc, log))
    with open(raw_path) as fh:
        raw = json.load(fh)

    import oracle
    t0 = time.time()
    ok, msgs, answers_digest = oracle.check(raw)
    check_s = time.time() - t0
    ops = [o for o in raw["ops"] if o["phase"] == "measure"]
    attempted = len(raw["ops"])
    failed = sum(1 for x in ok if not x)
    e2e, extra = end_to_end(raw, ops)
    e2e["append_p50_s"] = extra.pop("append_p50_s")
    e2e["error_rate"] = stats.ratio(failed, attempted)
    layer = per_layer(raw, ops) if a.trace else None
    metrics = layer if a.trace else e2e
    units = dict(PER_LAYER if a.trace else END_TO_END)

    stamp = {
        "git_sha": git_sha(), "source_sha256": digest, "nproc": os.cpu_count(),
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "jvm": raw["env"], "sizes": {k: v for k, v in raw["fixture"].items() if not isinstance(v, (list, str))},
    }
    result = {"stamp": stamp, "end_to_end": e2e, "end_to_end_extra": extra, "per_layer": layer,
              "attempted": attempted, "failed": failed,
              "check_messages": msgs[:50], "answers_digest": answers_digest,
              "setup_session_s": raw["setup_session_s"], "setup_fixture_s": raw["setup_fixture_s"],
              "warmup_s": raw["warmup_s"], "measure_s": raw["measure_s"],
              "jvm_wall_s": jvm_s, "check_wall_s": check_s}
    with open(os.path.join(out, "result.json"), "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    if a.trace:
        spans = {o["i"]: {"label": o["label"], "spans": op_spans(o)} for o in ops if o["traced"] and o["trace"]}
        with open(os.path.join(out, "spans.json"), "w") as fh:
            json.dump(spans, fh)
    for fx in os.listdir(out):
        if fx.startswith("fixture") or fx in ("tmp", "warehouse"):
            shutil.rmtree(os.path.join(out, fx), ignore_errors=True)

    print("stamp %s" % json.dumps(stamp, sort_keys=True))
    for m in msgs[:10]:
        print("check: " + m)
    print("failed %d of %d operations; %d query samples, tail percentile p%.1f; %d appends" % (
        failed, attempted, extra["query_samples"], extra["query_tail_percentile"], extra["append_samples"]))
    for name, unit in REPORTED:
        if e2e[name] is not None:
            print("%s = %.6g %s (reported, not in the result line)" % (name, e2e[name], unit))
    for name, unit in (PER_LAYER if a.trace else END_TO_END):
        print("%s = %.6g %s" % (name, metrics[name], unit))
    print("artifacts: %s" % os.path.relpath(out, ROOT))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
