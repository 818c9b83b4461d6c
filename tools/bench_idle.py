#!/usr/bin/env python3
"""Aggregate N idle graft.Bench sweeps into BENCH_IDLE_r{N}.json.

Usage:
  # aggregate pre-captured runs
  python3 tools/bench_idle.py <round> <out.json> <run1.json> [run2.json ...]
  # OR drive the sweeps itself (cleans graft tmp dirs between runs,
  # refuses a loaded box), then aggregate
  python3 tools/bench_idle.py <round> <out.json> --sweep N [sf_dir]

A sweep runs Bench at the caller's SPARK_GRAFT_CPUS, or at every core
of the host when it is unset, and records that count as `cpus`.

Each run file is the one-line JSON graft.Bench prints. Per-entry
MINIMUM over the runs (the variance-robust estimator the round
records use); entries missing from some runs (added mid-sequence)
take the min over the runs that have them, and the method note says
so. Dev-only tooling — driver-side python, not shipped library code.

The --sweep mode exists because round 12's idle artifact was
contaminated: ~2,500 accumulated spec/stage tmpdirs degraded the
streaming gates 2x+ and runs 1-3 predated the cleanup. graft.Bench
now cleans stale graft-owned tmp entries itself at startup; this
driver additionally (a) warns when 1-min loadavg > 2 before a run
(the round-12 "idle" box ran at loadavg ~10), and (b) keeps each
sweep's raw json next to the aggregate for drift forensics.
"""
import os, subprocess, sys, json, time


def load(path):
    s = open(path).read()
    return json.loads(s[s.index("{"):])  # strip any sbt [info] prefix


def main(rnd, out, runs, cpus=None):
    """`cpus` is the SPARK_GRAFT_CPUS the sweeps ran with; None (runs
    captured elsewhere) records it as unknown."""
    datas = [load(r) for r in runs]
    totals = [round(sum(v for v in d["queries"].values() if v >= 0), 1)
              for d in datas]
    names = sorted({n for d in datas for n in d["queries"]})
    mins, failed, partial = {}, [], []
    for n in names:
        vals = [d["queries"][n] for d in datas if n in d["queries"]]
        ok = [v for v in vals if v >= 0]
        if not ok:
            failed.append(n)
            continue
        if len(vals) < len(datas):
            partial.append(n)
        mins[n] = round(min(ok), 2)
    doc = {
        "round": rnd,
        "sf": datas[0].get("sf", 0.1),
        "cpus": cpus,
        "runs": len(datas),
        "totals_per_run_sec": totals,
        "method": (f"{len(datas)} full graft.Bench sweeps on an idle "
                   "container, per-entry minimum. "
                   + (f"Entries present in fewer runs (landed "
                      f"mid-sequence): {sorted(partial)}. " if partial
                      else "All entries present in every run. ")
                   + (f"Bench ran at local[{cpus}] with {cpus} shuffle "
                      "partitions. " if cpus else
                      "Core count of the runs not recorded. ")
                   + "Bench keeps the default state-store maintenance "
                     "interval, calls StateStoreHooks.unloadAll() between "
                     "entries and cleans stale graft-owned tmpdirs at "
                     "startup."),
        "failed_entries": sorted(failed),
        "min_total_sec": round(sum(mins.values()), 2),
        "queries_min_sec": {n: mins[n] for n in sorted(mins)},
    }
    json.dump(doc, open(out, "w"), indent=1)
    print(f"wrote {out}: {len(mins)} entries, min_total "
          f"{doc['min_total_sec']}s, failed {failed}")


def sweep(rnd, out, n, sf_dir):
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    runs = []
    for i in range(1, n + 1):
        load1 = os.getloadavg()[0]
        if load1 > 2.0:
            print(f"WARN: loadavg {load1:.1f} > 2 before run {i} — "
                  "box is not idle; timings will drift", file=sys.stderr)
        # Per-run raw json lives NEXT TO the aggregate (same dir as
        # out), so "kept for drift forensics" survives a reboot and
        # ships with the committed artifact.
        out_dir = os.path.dirname(os.path.abspath(out)) or "."
        path = os.path.join(out_dir, f"bench_idle_r{rnd}_run{i}.json")
        env = dict(os.environ,
                   SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS=cpus)
        t0 = time.time()
        p = subprocess.run(
            ["sbt", "-batch", "runMain graft.Bench"],
            env=env, capture_output=True, text=True, cwd=os.path.dirname(
                os.path.dirname(os.path.abspath(__file__))))
        line = next((l for l in p.stdout.splitlines()
                     if '"metric"' in l), None)
        if line is None:
            print(f"run {i} produced no bench line (exit {p.returncode}); "
                  f"stderr tail: {p.stderr[-500:]}", file=sys.stderr)
            sys.exit(1)
        open(path, "w").write(line + "\n")
        runs.append(path)
        print(f"run {i}/{n}: {time.time()-t0:.0f}s wall -> {path}")
    main(rnd, out, runs, int(cpus))


if __name__ == "__main__":
    if len(sys.argv) >= 5 and sys.argv[3] == "--sweep":
        sweep(int(sys.argv[1]), sys.argv[2], int(sys.argv[4]),
              sys.argv[5] if len(sys.argv) > 5 else "/root/testdata/sf0.1")
    else:
        main(int(sys.argv[1]), sys.argv[2], sys.argv[3:])
