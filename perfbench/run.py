#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

The first run in a checkout builds the library and the benchmark with
sbt and generates the sf0.01 and sf0.1 tables; both are cached under
perfbench/.build and rebuilt when their sources change. Each run gets a
fresh working directory (and Spark scratch directory) under
perfbench/.build/runs, removed when the run ends. A traced run also
writes its spans and per-layer metrics to perfbench/.build/traces.

Other modes:
  --record-digests      print the digests of the two query workloads'
                        results, in the form of perfbench/digests.json
  --digest-dir DIR      print the digests of the results `graft.Verify`
                        dumped under DIR, for the cross-check against
                        tools/check_oracle.py
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ["queries", "pipeline-ingest", "stream-dedup"]
RUN_LIMIT_S = 170  # the benchmark JVM is killed after this, so a built run ends within 180 s
CATALYST = ["analysis", "optimization", "planning"]
MODULES = ["Relational", "Advanced", "Analytics", "Diagnostics", "Evaluation",
           "Ranks", "Sampling", "Sequence", "AsOf", "BloomJoin",
           "Graph", "Dedup", "Similarity"]
JAVA_OPTS = [
    *[x for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                  "java.net", "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar"]
      for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(f[len(ROOT):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_logged(cmd, cwd, log, timeout, env=None):
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -1


def classpath():
    """Compiles the library and the benchmark; returns the run classpath."""
    srcs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    if not all(os.path.exists(p) for p in srcs):
        fail("library sources not found next to the benchmark")
    stamp = tree_hash(srcs)
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        saved = json.load(open(cp_file))
        if saved["stamp"] == stamp:
            return saved["cp"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Xmx2g")
    env["SBT_OPTS"] += " -Dsbt.offline=true -Dsbt.override.build.repos=true -Dsbt.server.autostart=false"
    log = os.path.join(BUILD, "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], HERE, log, 800, env)
    lines = [l.strip() for l in open(log) if ".jar" in l and os.pathsep in l
             and not l.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed, see {log}")
    json.dump({"stamp": stamp, "cp": lines[-1]}, open(cp_file, "w"))
    return lines[-1]


def java(cp, args, cwd, log, timeout, local_dir):
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=local_dir)
    return run_logged(["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                       "perfbench.Main", *args], cwd, log, timeout, env)


def data(cp):
    """Generates the sf0.01 and sf0.1 tables once per generator version."""
    gen = os.path.join(ROOT, "src", "main", "scala", "graft", "GenData.scala")
    stamp = tree_hash([gen])
    d = os.path.join(BUILD, "data")
    sf = os.path.join(d, "stamp")
    if os.path.exists(sf) and open(sf).read() == stamp:
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    work = os.path.join(BUILD, "gen-work")
    os.makedirs(work, exist_ok=True)
    try:
        rc = java(cp, ["--gen", d], work, os.path.join(BUILD, "gen.log"), 600,
                  os.path.join(work, "local"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        fail("data generation failed")
    open(sf, "w").write(stamp)
    return d


def run_jvm(cp, argv):
    d = data(cp)
    run_dir = os.path.join(BUILD, "runs", f"{argv[1]}-{argv[3]}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "raw.json")
    log = os.path.join(BUILD, "last-run.log")
    try:
        rc = java(cp, [*argv, "--data", d, "--out", out], run_dir, log, RUN_LIMIT_S,
                  os.path.join(run_dir, "local"))
        if rc != 0 or not os.path.exists(out):
            fail(f"benchmark JVM failed (exit {rc}), see {log}")
        return json.load(open(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def metric(v, unit):
    return {"value": float(v), "unit": unit}


def ms(x):
    return x if x is not None else 0.0


def intervals(raw, prefix):
    return [(s["start"], s["end"]) for s in raw["spans"] if s["name"].startswith(prefix)]


def query_metrics(raw, stored):
    runs = [r for r in raw["runs"] if r["ok"]]
    untraced = [r for r in runs if not r["traced"]]
    traced = [r for r in runs if r["traced"]]
    bad = stats.check_digests(raw["digests"], stored)
    for q in bad:
        print(f"perfbench: digest mismatch {q}: {raw['digests'].get(q)}", file=sys.stderr)
    for e in raw["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    attempted = len(raw["runs"]) + len(stored)
    failed = (len(raw["runs"]) - len(runs)) + len(bad)

    def suite(rs):
        per = {}
        for r in rs:
            per.setdefault(r["q"], []).append(r["wall_ms"])
        return sum(stats.median(v) for v in per.values()) / 1e3

    walls = [r["wall_ms"] for r in untraced]
    e2e = {"latency_ms_p50": metric(stats.median(walls), "ms"),
           "work_s": metric(suite(untraced), "s")}

    jobs = intervals(raw, "exec.job")
    phases = {p: intervals(raw, "catalyst." + p) for p in CATALYST}
    tot = {}
    build_jobs = 0
    for r in traced:
        part = stats.split_window((r["t0"], r["t1"]), (r["t0"], r["tb"]), jobs, phases)
        for k, v in part.items():
            tot[k] = tot.get(k, 0.0) + v
        build_jobs += sum(1 for a, _ in jobs if r["t0"] <= a < r["tb"])
    wall = sum(r["wall_ms"] for r in traced)
    parts = sum(tot.values())
    job_union = tot.get("job_union", 0.0)
    sums = raw["sums"]
    per_mod = {}
    for r in traced:
        per_mod.setdefault(r["module"], {}).setdefault(r["q"], []).append(r["wall_ms"])
    layer = {
        "ops.build_ms": metric(tot.get("build_self", 0), "ms"),
        "ops.build_jobs": metric(build_jobs, "count"),
        "ops.build_frac": metric(sum(r["build_ms"] for r in traced) / wall if wall else 0, "ratio"),
        **{f"ops.{m}.s": metric(sum(stats.median(v) for v in per_mod.get(m, {}).values()) / 1e3, "s")
           for m in MODULES},
        **{f"catalyst.{p}_ms": metric(tot.get("catalyst." + p, 0), "ms") for p in CATALYST},
        "exec.jobs": metric(len(jobs), "count"),
        "exec.job_union_ms": metric(job_union, "ms"),
        "exec.driver_gap_ms": metric(tot.get("driver_gap", 0), "ms"),
        "exec.driver_gap_frac": metric(tot.get("driver_gap", 0) / wall if wall else 0, "ratio"),
        "trace.residual_ms": metric(wall - parts, "ms"),
        "tasks.slot_util": metric(sums.get("tasks.run_ms", 0) / (raw["cores"] * job_union)
                                  if job_union else 0, "ratio"),
        "latency.samples": metric(len(untraced), "count"),
        "latency.p90_ms": metric(ms(stats.percentile(walls, 90)), "ms"),
        "latency.p99_ms": metric(ms(stats.percentile(walls, 99)), "ms"),
        "trace.overhead_frac": metric(suite(traced) / suite(untraced) - 1
                                      if traced and untraced else 0, "ratio"),
        "jvm.gc_ms": metric(raw["jvm_gc_ms"], "ms"),
        "jvm.heap_peak_mb": metric(raw["jvm_heap_peak_mb"], "MB"),
        "storage.rdd_bytes_peak": metric(raw["rdd_bytes_peak"], "bytes"),
    }
    return attempted, failed, e2e, layer


def ingest_metrics(raw):
    ev = raw["events"]
    lo, hi = ev["open_from"], ev["open_to"]
    due = ev["due"]
    batches = raw["batches"]
    fin = {}
    for b in batches:
        for i in b["ids"]:
            fin[i] = b["fin"]
    lat = [fin[i] - due[i] for i in range(lo, hi) if i in fin]
    if raw["kind"] == "pipeline":
        events = [{"id": i, "flag": ev["flag"][i], "custkey": ev["custkey"][i],
                   "amount": ev["amount"][i]} for i in range(ev["n"])]
        nation_of = {int(k): v for k, v in raw["nation_of"].items()}
        attempted, failed = stats.check_pipeline(events, batches, nation_of)
    else:
        attempted, failed = stats.check_stream(ev["n"], batches, ev["content"])
    attempted += raw["supplier_errors"]
    drains = raw["drain_s"]
    e2e = {"latency_ms_p50": metric(stats.median(lat), "ms"),
           "work_s": metric(drains[0], "s")}
    layer = {
        "latency.samples": metric(len(lat), "count"),
        "latency.p90_ms": metric(ms(stats.percentile(lat, 90)), "ms"),
        "latency.p99_ms": metric(ms(stats.percentile(lat, 99)), "ms"),
        "throughput_eps": metric(raw["backlog"] / drains[0], "1/s"),
        "gen.lag_ms_p99": metric(ms(stats.percentile(ev["lag"][lo:hi], 99)), "ms"),
        "trace.overhead_frac": metric(2 * drains[1] / (drains[0] + drains[2]) - 1
                                      if len(drains) == 3 else 0, "ratio"),
        # batches run concurrently here, so these are unions, not a split of one window
        "exec.jobs": metric(len(intervals(raw, "exec.job")), "count"),
        "exec.job_union_ms": metric(stats.union_length(intervals(raw, "exec.job")), "ms"),
        **{f"catalyst.{p}_ms": metric(stats.union_length(intervals(raw, "catalyst." + p)), "ms")
           for p in CATALYST},
    }
    open_b = [b for b in batches if any(lo <= i < hi for i in b["ids"])]
    calls = raw["supplier_calls"]
    if raw["kind"] == "pipeline":
        pickup = ev["pickup"]
        qwait = [pickup[i] - due[i] for i in range(lo, hi) if pickup[i] > 0]
        disp = [b["proc_in"] - b["supplied"] for b in open_b if b["supplied"] > 0 and b["proc_in"] > 0]
        proc = [b["proc_out"] - b["proc_in"] for b in open_b if b["proc_in"] > 0]
        fins = [b["fin_out"] - b["fin"] for b in open_b]
        layer.update({
            "pipeline.queue_wait_ms_p50": metric(stats.median(qwait), "ms"),
            "pipeline.queue_wait_ms_p99": metric(ms(stats.percentile(qwait, 99)), "ms"),
            "pipeline.dispatch_ms_p50": metric(stats.median(disp), "ms"),
            "pipeline.dispatch_ms_p90": metric(ms(stats.percentile(disp, 90)), "ms"),
            "pipeline.process_ms_p50": metric(stats.median(proc), "ms"),
            "pipeline.process_ms_p90": metric(ms(stats.percentile(proc, 90)), "ms"),
            "pipeline.finalize_ms_p50": metric(stats.median(fins), "ms"),
            "pipeline.slot_util": metric(sum(proc) / (raw["slots"] * raw["open_ms"]), "ratio"),
            "pipeline.supplier_calls": metric(calls, "count"),
            "pipeline.empty_polls": metric(raw["empty_polls"], "count"),
            "pipeline.nonempty_poll_frac": metric(len(open_b) / calls if calls else 0, "ratio"),
            "pipeline.stop_ms": metric(raw["stop_ms"], "ms"),
            "pipeline.backlog_end": metric(raw["backlog_end"], "count"),
        })
    else:
        trig = [s for s in raw["spans"] if s["name"] == "stream.trigger"]
        data_trig = [s for s in trig if int(s["attrs"].get("rows", "0")) > 0]

        def dur(key):  # Spark reports whole ms, so a mean shows sub-ms phases
            xs = [float(s["attrs"].get(key, 0)) for s in data_trig]
            return sum(xs) / len(xs) if xs else 0.0

        tms = [s["end"] - s["start"] for s in data_trig]
        layer.update({
            "stream.trigger_ms_p50": metric(stats.median(tms), "ms"),
            "stream.latest_offset_ms": metric(dur("latestOffset"), "ms"),
            "stream.query_planning_ms": metric(dur("queryPlanning"), "ms"),
            "stream.add_batch_ms": metric(dur("addBatch"), "ms"),
            "stream.wal_commit_ms": metric(dur("walCommit"), "ms"),
            "stream.commit_offsets_ms": metric(dur("commitOffsets"), "ms"),
            "stream.batches": metric(len(open_b), "count"),
            "stream.empty_triggers": metric(raw["empty_polls"], "count"),
            "stream.rows_per_batch": metric(stats.median([len(b["ids"]) for b in open_b]), "count"),
            "state.rows": metric(max([int(s["attrs"].get("state.rows", 0)) for s in trig] or [0]), "count"),
            "state.bytes": metric(max([int(s["attrs"].get("state.bytes", 0)) for s in trig] or [0]), "bytes"),
            "state.commit_ms": metric(dur("state.commit_ms"), "ms"),
            "stream.stop_ms": metric(raw["stop_ms"], "ms"),
        })
    return attempted, failed, e2e, layer


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", action="store_true")
    ap.add_argument("--digest-dir")
    a = ap.parse_args()
    cp = classpath()
    if a.digest_dir:
        out = os.path.join(BUILD, "digests.out.json")
        if java(cp, ["--digest-dir", os.path.abspath(a.digest_dir), "--out", out], BUILD,
                os.path.join(BUILD, "digest.log"), 900, os.path.join(BUILD, "local")) != 0:
            fail("digest run failed")
        print(open(out).read())
        return
    stored = json.load(open(os.path.join(HERE, "digests.json")))
    if a.record_digests:
        raw = run_jvm(cp, ["--workload", "queries", "--seed", "1", "--seconds", "0",
                           "--trace", "0"])
        if raw["errors"]:
            fail(f"query errors: {raw['errors']}")
        print(json.dumps(dict(sorted(raw["digests"].items())), indent=1))
        return
    if not a.workload:
        fail("--workload is required")

    raw = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds",
                       str(a.seconds), "--trace", str(a.trace)])
    if raw["kind"] == "queries":
        attempted, failed, e2e, layer = query_metrics(raw, stored)
    else:
        attempted, failed, e2e, layer = ingest_metrics(raw)
    setup = raw["setup_s"]
    e2e["setup_s"] = metric(stats.median(setup), "s")
    sums = raw["sums"]
    layer.update({
        "setup.first_s": metric(raw["setup_first_s"], "s"),
        "warm.round_s": metric(raw["warm_round_s"], "s"),
        "exec.stages": metric(sums.get("exec.stages", 0), "count"),
        "exec.tasks": metric(sums.get("exec.tasks", 0), "count"),
        "tasks.run_ms": metric(sums.get("tasks.run_ms", 0), "ms"),
        "tasks.cpu_ms": metric(sums.get("tasks.cpu_ns", 0) / 1e6, "ms"),
        "tasks.gc_ms": metric(sums.get("tasks.gc_ms", 0), "ms"),
        "tasks.deser_ms": metric(sums.get("tasks.deser_ms", 0), "ms"),
        "shuffle.write_bytes": metric(sums.get("shuffle.write_bytes", 0), "bytes"),
        "shuffle.write_ms": metric(sums.get("shuffle.write_ns", 0) / 1e6, "ms"),
        "shuffle.read_bytes": metric(sums.get("shuffle.read_bytes", 0), "bytes"),
        "scan.bytes_read": metric(sums.get("scan.bytes_read", 0), "bytes"),
        "scan.records_read": metric(sums.get("scan.records_read", 0), "count"),
        "storage.rdd_blocks": metric(sums.get("storage.rdd_blocks", 0), "count"),
    })
    names = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.trace:
        # A layer the workload does not run reads 0.
        metrics = {m["name"]: layer.get(m["name"], metric(0, m["unit"]))
                   for m in names["per_layer"]}
        spans = stats.link_spans(raw["spans"])
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"metrics": metrics, "self_ms": stats.self_times(spans),
                       "spans": spans}, f)
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in names["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
