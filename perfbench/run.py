#!/usr/bin/env python3
"""perfbench: graft's standing benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload cdc_catchup --seed 1 --seconds 5 --trace 0

Workloads (one closed-loop client each; see WORKLOADS below):
  cdc_catchup      a consumer drains a fixed WAL backlog after an outage
  event_analytics  the events-only SEP analytics registry entries

The run compiles the program (src/main/scala) and the JVM harness
(perfbench/harness) with the Scala compiler that ships in the Spark
jars, into $CARGO_TARGET_DIR (default .bench_build), and reuses the
classes while the sources are unchanged. It generates the inputs from
--seed and launches the harness, which warms up untimed, then times
whole passes of the workload for at least --seconds and at least
MIN_OPS operations. It checks the outputs and prints one JSON object
as its last line: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. The traced run also writes its span file, with
each layer's self time, under perfbench/.work/traces/.
Everything a run writes stays inside the checkout.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys
import time
import uuid

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

# Fixed for steadiness and recorded in every run's output. Two task
# threads leave the rest of a 4-core host to the JIT and GC; two shuffle
# partitions give each thread one state-store partition per stateful
# operator.
THREADS = min(2, os.cpu_count() or 1)
PARTITIONS = 2
HEAP = "2g"
RUN_LIMIT_S = 170
# Every timed region has at least this many operations, so the tail
# (the highest percentile with ten samples beyond it) sits above the
# median in every run.
MIN_OPS = 22

WORKLOADS = {
    "cdc_catchup": {
        "unit": "mutations",
        "generate": lambda seed, d: gen.mutation_log(seed, f"{d}/mutations.parquet"),
        "segments": 10,
        "stage_reps": 3,
    },
    "event_analytics": {
        "unit": "queries",
        "generate": lambda seed, d: gen.events(seed, f"{d}/events.parquet"),
        "entries": ["q12_latest_state", "q13_tumbling_counts", "q42_sliding_counts",
                    "q14_sessionize", "q16_event_funnel", "q17_asof_join",
                    "q18_upsert_merge", "q19_delete_tombstones", "q36_row_materialize",
                    "q70_scd2", "q71_time_travel"],
        "stage_reps": 1,
    },
}

# build.sbt's module opens for Spark on JDK 17.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars: Spark and the Scala compiler the build uses."""
    d = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "scala-compiler-*.jar")):
        raise BenchError(f"no Spark jars with a Scala compiler under {d}; set SPARK_HOME")
    return d


def build():
    """Compile the program and the harness; returns the classpath."""
    jars = spark_jars()
    program = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    resources = sorted(p for p in glob.glob("src/main/resources/**", recursive=True)
                       if os.path.isfile(p))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not program:
        raise BenchError("no program sources under src/main/scala; "
                         "run from the root of a graft checkout")
    h = hashlib.sha256()
    for p in program + resources + harness + sorted(os.listdir(jars)):
        h.update(p.encode())
        if os.path.isfile(p):
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes, hclasses = os.path.join(out, "classes"), os.path.join(out, "harness")
    stamp = os.path.join(out, "stamp")
    cp = [classes, hclasses, os.path.join(jars, "*")]
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(hclasses)
    for r in resources:
        dst = os.path.join(classes, os.path.relpath(r, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)

    def scalac(dest, sources, extra_cp):
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", dest] + extra_cp + sources
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=800)
        if r.returncode != 0:
            raise BenchError(f"scalac failed:\n{r.stdout}{r.stderr}")

    t0 = time.time()
    os.makedirs(classes, exist_ok=True)
    scalac(classes, program, [])
    scalac(hclasses, harness, ["-classpath", classes])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"[perfbench] built program and harness in {time.time() - t0:.1f} s")
    return cp


def oracle_check(input_dir, out_dir):
    """Compare each entry's output with its SparkEntry.oracleSql under
    DuckDB, through tools/check.py's canonicalization. Returns
    {entry: (ok, line)}."""
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    import check
    check.TABLES = [os.path.basename(p)[:-len(".parquet")]
                    for p in glob.glob(os.path.join(input_dir, "*.parquet"))]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(input_dir, out_dir)
    results = {}
    for line in buf.getvalue().splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL", "ERROR"):
            results[rest.split(" ")[0].rstrip(":")] = (word == "PASS", line)
    return results


def run_harness(cp, args, spec, props, run_dir):
    work, tmp = os.path.join(run_dir, "work"), os.path.join(run_dir, "tmp")
    os.makedirs(work)
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    hargs = {
        "workload": args.workload, "input": os.path.join(run_dir, "input"),
        "work": work, "seconds": args.seconds, "trace": args.trace,
        "threads": THREADS, "partitions": PARTITIONS, "out": out,
        "stage_reps": spec["stage_reps"], "min_ops": MIN_OPS,
    }
    if "segments" in spec:
        hargs.update(segments=spec["segments"], expect_rows=props["rows"],
                     subscribed_rows=props["subscribed_rows"],
                     subscribed_dups=props["subscribed_dups"])
    else:
        hargs["entries"] = ",".join(spec["entries"])
        if args.trace:
            # the input of the native-expression microbenchmark
            hargs["docs"] = os.path.join(run_dir, "docs.parquet")
            gen.documents(args.seed, hargs["docs"])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + opens +
           ["-cp", os.pathsep.join(cp), "org.apache.spark.graftbench.Harness"] +
           [x for k, v in hargs.items() for x in (f"--{k}", str(v))])
    log = os.path.join(run_dir, "jvm.log")
    # the JVM prints its per-iteration lines straight to our stdout
    sys.stdout.flush()
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stderr=err)
        try:
            p.wait(timeout=max(1.0, RUN_LIMIT_S - (time.time() - args.started)))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"harness exited with {p.returncode}")
    with open(out) as f:
        return json.load(f)


def end_to_end(rec, iters, spec):
    ops = [o for it in iters for o in it["ops"]]
    lat = [o["latency_ms"] for o in ops]
    wall_s = sum(it["wall_ms"] for it in iters) / 1000.0
    tail, pct, n = stats.tail(lat)
    setup = rec["setup"]
    return {
        "throughput_per_s": sum(o["units"] for o in ops) / wall_s if wall_s else 0.0,
        "latency_ms": stats.median(lat),
        "latency_tail_ms": tail,
        "setup_s": setup["session_s"] + stats.median(setup["stage_s"]) + setup["warmup_s"],
        "live_heap_mb": rec.get("live_heap_mb", 0.0),
    }, {"tail_percentile": pct, "samples": n, "timed_s": wall_s,
        "unit_of_work": spec["unit"]}


def per_layer(rec, spec, untraced_e2e, args):
    t = rec["traced"]
    iters = t["iterations"]
    e2e, _ = end_to_end(rec, iters, spec)
    ops = [o for it in iters for o in it["ops"]]
    n = max(1, len(ops))
    ex, cat, layers = t["exec"], t["catalyst"], t["layers"]
    m = {
        "sources.latest_offset_ms": 0.0, "sources.get_batch_ms": 0.0,
        "sources.rows_per_batch": 0.0, "sources.wal_stage_s": 0.0, "sources.wal_bytes": 0.0,
        "streaming.add_batch_ms": 0.0, "streaming.query_planning_ms": 0.0,
        "streaming.offset_log_ms": 0.0, "streaming.batches": 0.0,
        "state.rows_total": 0.0, "state.rows_updated": 0.0, "state.mem_bytes": 0.0,
        "dedupe.drop_ratio": 0.0, "dedupe.late_rows": 0.0, "materialize.out_per_in": 0.0,
    }
    for op in ("materialize", "dedupe"):
        for k in ("commit_ms", "update_ms", "removal_ms", "instances"):
            m[f"state.{op}.{k}"] = 0.0
    m.update(layers)
    if "wal_bytes" in rec["setup"]:
        m["sources.wal_stage_s"] = stats.median(rec["setup"]["stage_s"])
        m["sources.wal_bytes"] = float(rec["setup"]["wal_bytes"])
    construct = sum(o["construct_ms"] for o in ops)
    action = sum(o["action_ms"] for o in ops)
    reg = "entries" in spec
    m.update({
        "operators.construct_ms": construct / n if reg else 0.0,
        "operators.action_ms": action / n if reg else 0.0,
        "operators.construct_share": construct / (construct + action) if reg and construct + action else 0.0,
        "catalyst.analysis_ms": cat["analysis_ms"] / n,
        "catalyst.optimization_ms": cat["optimization_ms"] / n,
        "catalyst.planning_ms": cat["planning_ms"] / n,
        "catalyst.query_executions": cat["query_executions"] / n,
        "exec.jobs": ex["jobs"] / n, "exec.stages": ex["stages"] / n, "exec.tasks": ex["tasks"] / n,
        "exec.scheduler_delay_ms": ex["scheduler_delay_ms"] / n,
        "exec.task_run_ms": ex["task_run_ms"] / n,
        "exec.task_cpu_ms": ex["task_cpu_ns"] / 1e6 / n,
        "exec.busy_share": ex["task_run_ms"] / (t["region_ms"] * rec["config"]["threads"]),
        "exec.shuffle_write_bytes": ex["shuffle_write_bytes"] / n,
        "exec.shuffle_read_bytes": ex["shuffle_read_bytes"] / n,
        "exec.spill_bytes": ex["spill_bytes"] / n,
        "exec.gc_ms": ex["gc_ms"] / n,
    })
    native = rec.get("native", {})
    for k in ("minhash_md5", "simhash_md5", "word_shingles3", "long_array_dot"):
        m[f"native.{k}_ns_per_row"] = float(native.get(k, 0.0))
    tp0 = untraced_e2e["throughput_per_s"]
    m["trace.overhead_throughput_share"] = (tp0 - e2e["throughput_per_s"]) / tp0 if tp0 else 0.0
    m["trace.overhead_latency_ms"] = e2e["latency_ms"] - untraced_e2e["latency_ms"]
    m["trace.spans"] = float(len(t["spans"]))
    single = rec.get("single_thread")
    if single:
        st = single["rows"] / (single["wall_ms"] / 1000.0)
        m["baseline.single_thread_throughput_per_s"] = st
        m["baseline.thread_speedup"] = tp0 / st if st else 0.0
    else:
        m["baseline.single_thread_throughput_per_s"] = 0.0
        m["baseline.thread_speedup"] = 0.0

    self_us = stats.self_times(t["spans"])
    os.makedirs(os.path.join(HERE, ".work", "traces"), exist_ok=True)
    path = os.path.join(HERE, ".work", "traces", f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "self_time_ms": {k: v / 1000.0 for k, v in sorted(self_us.items())},
                   "traced_end_to_end": e2e, "untraced_end_to_end": untraced_e2e,
                   "single_thread": single, "spans": t["spans"]}, f)
    print(f"[perfbench] span file: {os.path.relpath(path)}")
    print("[perfbench] self time per layer (ms): " + ", ".join(
        f"{k}={v / 1000.0:.1f}" for k, v in sorted(self_us.items())))
    if single:
        print(f"[perfbench] single-thread baseline: {m['baseline.single_thread_throughput_per_s']:.0f} "
              f"{spec['unit']}/s vs {tp0:.0f} at {rec['config']['threads']} threads")
    print(f"[perfbench] tracing overhead: throughput {100 * m['trace.overhead_throughput_share']:.1f}%, "
          f"median latency {m['trace.overhead_latency_ms']:+.1f} ms")
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = WORKLOADS[args.workload]
    with open("BENCHMARK.json") as f:
        units = {k: {m["name"]: m["unit"] for m in v}
                 for k, v in json.load(f).items() if k in ("end_to_end", "per_layer")}

    cp = build()
    # the run's time limit starts after the build, which only the first
    # run in a checkout pays
    args.started = time.time()
    run_dir = os.path.join(HERE, ".work", "runs", f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(run_dir, "input"))
    try:
        t0 = time.time()
        props = spec["generate"](args.seed, os.path.join(run_dir, "input"))
        print(f"[perfbench] input ({time.time() - t0:.1f} s to generate): " + json.dumps(props))
        rec = run_harness(cp, args, spec, props, run_dir)
        print("[perfbench] config: " + json.dumps(dict(rec["config"], heap=HEAP)))
        print("[perfbench] setup: " + json.dumps(rec["setup"]))

        iters = rec["iterations"]
        timed_iters = iters + (rec["traced"]["iterations"] if args.trace else [])
        checks = list(rec["checks"])
        if "segments" in spec:
            bad = [it["note"] for it in timed_iters if it["failed"]]
            checks.append({"name": "every_timed_drain_accounts_for_the_staged_rows",
                           "ok": not bad, "detail": "; ".join(bad) or f"{len(timed_iters)} drains"})
            if rec.get("single_thread"):
                checks.append({"name": "single_thread_drain_accounts_for_the_staged_rows",
                               "ok": rec["single_thread"]["ok"], "detail": ""})
        if "entries" in spec:
            t0 = time.time()
            res = oracle_check(os.path.join(run_dir, "input"),
                               os.path.join(run_dir, "work", "check-out"))
            for e in spec["entries"]:
                ok, line = res.get(e, (False, f"MISSING {e}"))
                checks.append({"name": f"oracle:{e}", "ok": ok, "detail": line})
            print(f"[perfbench] DuckDB oracle comparison took {time.time() - t0:.1f} s")
        for c in checks:
            print(f"[perfbench] check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
        correct = all(c["ok"] for c in checks)

        e2e, info = end_to_end(rec, iters, spec)
        print("[perfbench] timed region: " + json.dumps(info))
        by_name = {}
        for it in iters:
            for o in it["ops"]:
                by_name.setdefault(o["name"].split("-")[0], []).append(o["latency_ms"])
        print("[perfbench] median ms per operation kind: " + ", ".join(
            f"{k}={stats.median(v):.0f}" for k, v in by_name.items()))
        attempted = sum(len(it["ops"]) for it in timed_iters)
        failed = attempted if not correct else sum(it["failed"] for it in timed_iters)
        if args.trace:
            values = per_layer(rec, spec, e2e, args)
            names = units["per_layer"]
        else:
            values = e2e
            names = units["end_to_end"]
        metrics = {k: {"value": values[k], "unit": names[k]} for k in names}
        print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(2)
