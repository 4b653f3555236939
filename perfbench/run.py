#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, in one JVM.

    python3 perfbench/run.py --workload wrp_route --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds graft and the
harness (perfbench/build.sbt, output under .bench_build/). Each run
starts a JVM with a local[nproc] session, renders its inputs from the
seed, warms up, measures, checks the outputs, and prints one JSON line
last: the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1), which also writes the run's spans under .bench_build/traces/.
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

sys.dont_write_bytecode = True
import metrics as m  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench", "scala-2.13", "classes")
HEAP = "3g"
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
# latency percentiles are taken per window of this many ms of offered
# load, and the median over the windows is reported
LATENCY_WINDOW_MS = 4000

WORKLOADS = ("wrp_route", "doc_neardup")
END_TO_END = {"setup_s": "s", "throughput_eps": "1/s", "latency_p50_ms": "ms",
              "latency_p99_ms": "ms", "heap_peak_mb": "MB"}
# the catalog queries a traced wrp_route run times (CatalogQueries.Events)
CATALOG = ("wrp_parse", "wrp_validate", "wrp_fix", "evt_type_counts",
           "evt_route_meta", "evt_sessionize", "evt_session_merge",
           "evt_batch_time", "evt_queue_latency")
PER_LAYER = dict(
    [(n, "ms") for n in ("layer.parse_ms", "layer.validate_ms", "layer.route_ms",
                         "layer.sink_ms", "layer.signature_ms", "layer.bands_ms",
                         "layer.state_ms", "layer.decide_ms")]
    + [("sink.files", "count"), ("sink.bytes", "bytes"),
       ("state.rows", "count"), ("state.mem_bytes", "bytes"),
       ("state.commit_ms", "ms"), ("state.update_ms", "ms"),
       ("state.rows_updated", "count"),
       ("trigger.n", "count"), ("trigger.exec_ms_p50", "ms"),
       ("trigger.plan_ms", "ms"), ("trigger.wal_ms", "ms"),
       ("trigger.commit_ms", "ms"), ("trigger.offsets_ms", "ms"),
       ("trigger.self_ms_p50", "ms"),
       ("gen.late_ms_max", "ms"), ("gen.offered", "count"),
       ("spark.jobs", "count"), ("spark.stages", "count"),
       ("spark.tasks", "count"), ("spark.cpu_ms", "ms"), ("spark.run_ms", "ms"),
       ("spark.gc_ms", "ms"), ("spark.shuffle_read_bytes", "bytes"),
       ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
       ("trace.overhead_pct", "%")]
    + [(f"q.{q}.{k}", u) for q in CATALOG
       for k, u in (("s", "s"), ("plan_ms", "ms"), ("jobs", "count"),
                    ("tasks", "count"), ("cpu_ms", "ms"), ("shuffle_bytes", "bytes"))])
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, log, timeout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def spark_home():
    """The Spark installation: SPARK_HOME, else the one on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found; set SPARK_HOME")
    return home


def build(spark):
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [os.environ.get("SBT_OPTS", ""), "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark,
               SBT_OPTS=" ".join(o for o in opts if o))
    log = os.path.join(BUILD, "build.log")
    rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                     HERE, env, log, BUILD_TIMEOUT_S)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_jvm(args, spark, work, raw, spans):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{os.path.join(spark, 'jars', '*')}", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", raw, "--spans", spans])
    log = os.path.join(BUILD, "logs", f"{args.workload}-{args.seed}-{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    rc = run_bounded(cmd, work, dict(os.environ), log, RUN_TIMEOUT_S)
    if rc != 0:
        print(f"perfbench: run failed (exit {rc}); see {log}", file=sys.stderr)
        sys.exit(1)


def stream_metrics(raw):
    """End-to-end metrics of a stream run, with their sample counts."""
    setup = raw["session_s"] + raw["setup"]["render_s"] + m.median(raw["setup"]["warm_s"])
    drain = raw["drain"]
    # each drain trigger carries exactly one chunk
    rates = [drain["chunk"] * 1000.0 / t["dur"]["triggerExecution"] for t in drain["triggers"]]
    op = raw["open"]
    lat, lost = m.event_latencies(op["chunks"], op["triggers"], op["t0_ms"], op["rate"])
    values = {
        "setup_s": setup,
        "throughput_eps": m.median(rates),
        "latency_p50_ms": m.windowed_percentile(lat, op["rate"], LATENCY_WINDOW_MS, 50),
        "latency_p99_ms": m.windowed_percentile(lat, op["rate"], LATENCY_WINDOW_MS, 99),
        "heap_peak_mb": raw["heap_peak_mb"],
    }
    samples = {"setup_s": len(raw["setup"]["warm_s"]), "throughput_eps": len(rates),
               "latency_p50_ms": len(lat), "latency_p99_ms": len(lat),
               "heap_peak_mb": 3}
    return values, samples, lost


def layer_metrics(raw, spans):
    """Per-layer metrics of a traced run; layers a workload does not
    exercise read 0."""
    out = {k: 0 for k in PER_LAYER}
    tr = raw["trace"]
    layers = tr["layers"]
    for layer, ms in m.prefix_self_ms([(l["layer"], l["seconds"]) for l in layers]).items():
        out[f"layer.{layer}_ms"] = ms
    out["sink.files"] = tr["sink"]["files"]
    out["sink.bytes"] = tr["sink"]["bytes"]
    states = [t["state"][0] for t in layers[-1]["triggers"] if t["state"]]
    if states:
        out["state.rows"] = states[-1]["rows_total"]
        out["state.mem_bytes"] = states[-1]["mem_bytes"]
        for k in ("commit_ms", "update_ms", "rows_updated"):
            out[f"state.{k}"] = sum(s[k] for s in states)
    op = raw["open"]
    trig = op["triggers"]
    out["trigger.n"] = len(trig)
    for name, phase in (("exec_ms_p50", "triggerExecution"), ("plan_ms", "queryPlanning"),
                        ("wal_ms", "walCommit"), ("commit_ms", "commitOffsets"),
                        ("offsets_ms", "latestOffset")):
        out[f"trigger.{name}"] = m.median([t["dur"].get(phase, 0) for t in trig])
    trigger_spans = [s for s in spans if s["name"] == "trigger"]
    open_ids = {s["id"] for s in spans if s["name"] == "open"}
    out["trigger.self_ms_p50"] = m.median(
        [m.self_time(s, spans) for s in trigger_spans if s["parent"] in open_ids])
    out["gen.late_ms_max"] = max(m.generator_late_ms(op["chunks"], op["t0_ms"], op["rate"]))
    out["gen.offered"] = op["offered"]
    for k, v in tr["spark"].items():
        out[f"spark.{k}"] = v
    out["trace.overhead_pct"] = tr["overhead_pct"]
    for q in tr.get("queries", []):
        name = q["name"]
        c = q["counters"]
        out[f"q.{name}.s"] = (q["end_ms"] - q["start_ms"]) / 1000.0
        out[f"q.{name}.plan_ms"] = sum(e - s for s, e in q["phases"].values())
        out[f"q.{name}.jobs"] = c["jobs"]
        out[f"q.{name}.tasks"] = c["tasks"]
        out[f"q.{name}.cpu_ms"] = c["cpu_ms"]
        out[f"q.{name}.shuffle_bytes"] = c["shuffle_read_bytes"] + c["shuffle_write_bytes"]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) not found; run from a checkout")
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    spark = spark_home()
    build(spark)
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(BUILD, "raw", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    spans_path = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.spans.json")
    try:
        t0 = time.time()
        run_jvm(args, spark, work, raw_path, spans_path)
        with open(raw_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    check = raw["check"]
    values, samples, lost = stream_metrics(raw)
    attempted = check["attempted"]
    failed = check["failed"] + lost
    print("header: " + json.dumps(raw["header"], sort_keys=True))
    print("check: " + json.dumps(check, sort_keys=True))
    print("samples: " + json.dumps(samples, sort_keys=True))
    if args.trace:
        with open(spans_path) as f:
            spans = json.load(f)
        values = layer_metrics(raw, spans)
        units = PER_LAYER
    else:
        units = END_TO_END
    print("phase_s: " + json.dumps(raw["wall_s"]) + f" total {time.time() - t0:.1f}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
