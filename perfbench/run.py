#!/usr/bin/env python3
"""FleetLogix benchmark: builds the program from this checkout, runs one
workload in a fresh JVM and prints one JSON result line.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
      One run. The last stdout line is
      {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
      of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.

  python3 perfbench/run.py --all [--seed N] [--passes P] [--pairs K]
                           [--out FILE]
      Every workload in K pairs of runs, one untraced and one traced, each
      run exactly P passes, into one artifact; prints each workload's
      metrics by name and unit, and the tracing overhead as the median
      over the pairs of traced minus untraced.

  python3 perfbench/run.py --smoke
      Tiny-scale self-test: every workload at tiny volume, traced; fails
      unless every metric of BENCHMARK.json and every named metric appears
      with its unit and every output check passes.

Workloads: daily_etl, mixed_queries (the two BENCHMARK.json measures),
kpi_dashboard, stream_alerts, corpus_sweep.
Environment: SPARK_GRAFT_CPUS (default nproc), SPARK_DRIVER_MEM (default 3g).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
WORKLOADS = ["daily_etl", "mixed_queries", "kpi_dashboard", "stream_alerts",
             "corpus_sweep"]
# the workload-level names each workload reports beside the contract metrics
NAMED = {
    "daily_etl": ["etl_day_p50_s", "etl_catchup_s"],
    "kpi_dashboard": ["kpi_refresh_s", "kpi_query_p50_s", "kpi_query_p90_s"],
    "stream_alerts": ["stream_pass_s", "stream_trigger_p50_ms",
                      "stream_trigger_p90_ms"],
    "corpus_sweep": ["corpus_pass_s", "corpus_entry_p50_s",
                     "corpus_entry_p90_s"],
    "mixed_queries": [],
}
COMMON_NAMED = ["setup_s", "fail_ratio", "heap_peak_mb"]
RUN_TIMEOUT = 150  # with the oracle compare, a run stays inside 180 s
ALL_TIMEOUT = 900  # an --all run of several passes has no such limit
BUILD_TIMEOUT = 850
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die(f"no BENCHMARK.json at {ROOT}")
    with open(path) as f:
        return json.load(f)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala")]
    out = [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build():
    """Compile the program and the harness once per source state; return
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"no program sources under {ROOT}/src/main/scala")
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SPARK_HOME"):
        submit = shutil.which("spark-submit")
        if not submit:
            die("set SPARK_HOME: the build compiles against Spark's jars")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    tmp = os.path.join(TARGET, "tmp")  # keeps sbt's temp files in the checkout
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-J-Djava.io.tmpdir={tmp}",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT, stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, workload, seed, seconds, trace, work, tiny=False, passes=None,
            timeout=RUN_TIMEOUT):
    """One workload run in a fresh JVM; returns its artifact."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "artifact.json")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '3g')}", "-XX:-UsePerfData"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            "-cp", cp, "perfbench.PerfBench", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--out", out,
            "--sha", git_sha()]
    if tiny:
        cmd.append("--tiny")
    if passes:
        cmd += ["--passes", str(passes)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"{workload} did not finish within {timeout} s")
    if rc != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"{workload} run failed (exit {rc})")
    with open(out) as f:
        art = json.load(f)
    art["oracle_check"] = oracle_check(art)
    # the run directory is deleted after the run: keep paths readable, not absolute
    for k in ("dump", "tables_dir"):
        if art.get(k) and art[k].startswith(ROOT + os.sep):
            art[k] = os.path.relpath(art[k], ROOT)
    return art


def oracle_check(art):
    """Compare the dumped results to their DuckDB oracles with the repo's
    own comparer (tools/check.py); off the clock."""
    if not art.get("dump"):
        return {"ok": True, "compared": 0, "output": "no entry results to compare"}
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"),
         art["tables_dir"], art["dump"]],
        capture_output=True, text=True, timeout=25, stdin=subprocess.DEVNULL)
    return {"ok": proc.returncode == 0,
            "compared": sum(1 for l in proc.stdout.splitlines() if l.startswith("  ")),
            "seconds": time.monotonic() - t0,
            "output": proc.stdout[-3000:] + proc.stderr[-1000:]}


def correct(art):
    return not art["problems"] and art["oracle_check"]["ok"]


def summary(art):
    h = art["header"]
    w = h["workload"]
    print(f"# {w}: seed {h['seed']}, {h['cpus']} of {h['nproc']} cpus, "
          f"heap {h['heap_max_mb']} MB, spark {h['spark']}, jvm {h['jvm']}, "
          f"sha {h['git_sha']}, trace {int(h['trace'])}, warm-up {h['warm_up']}, "
          f"fixture files {h['fixture_files']}")
    for k in ("datagen", "corpus"):
        if k in h:
            print(f"#   {k}: {json.dumps(h[k], sort_keys=True)}")
    shown = {**art["named"], **art["end_to_end"]}
    for name in dict.fromkeys(list(art["end_to_end"]) + COMMON_NAMED + NAMED[w]):
        m = shown[name]
        print(f"  {w:14s} {name:24s} {m['value']:14.4f} {m['unit']:6s} (n={m['samples']})")
    for f in art["failures"]:
        print(f"  FAILED {f['call']}: {f['class']}: {f['message']}")
    for p in art["problems"]:
        print(f"  CHECK {p}")
    # a day's wall time is its driver (self) time plus its job-busy time
    for s in art["spans"]:
        if s["name"] == "etl_day":
            print(f"  day span {s['id']}: {s['seconds']:.3f} s = driver {s['self_s']:.3f} s"
                  f" + job-busy {s['job_busy_s']:.3f} s over {s['jobs']} jobs")
    oc = art["oracle_check"]
    print(f"  oracle compare: {'ok' if oc['ok'] else 'FAILED'} ({oc['compared']} entries)")
    if not oc["ok"]:
        print(oc["output"])


def pick(art, names, section):
    out = {}
    for m in names:
        v = art[section].get(m["name"])
        if v is None:
            die(f"metric {m['name']} missing from the {art['header']['workload']} run")
        if v["unit"] != m["unit"]:
            die(f"metric {m['name']} has unit {v['unit']}, BENCHMARK.json says {m['unit']}")
        out[m["name"]] = {"value": v["value"], "unit": v["unit"]}
    return out


def one(args, sp):
    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload}")
    cp = build()
    work = os.path.join(WORK, "run")
    art = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace == 1, work)
    with open(os.path.join(WORK, f"{args.workload}.json"), "w") as f:
        json.dump(art, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    summary(art)
    if args.trace == 1:
        metrics = pick(art, sp["per_layer"], "per_layer")
    else:
        metrics = pick(art, sp["end_to_end"], "end_to_end")
    print(json.dumps({"correct": correct(art), "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": metrics}))


def run_all(args, sp):
    cp = build()
    bundle = {"seed": args.seed, "passes": args.passes, "pairs": args.pairs,
              "runs": {}}
    ok = True
    for w in WORKLOADS:
        pairs = []
        for i in range(args.pairs):
            pair = {}
            # alternate which run goes first, so drift of the box cancels
            for trace in ((False, True) if i % 2 == 0 else (True, False)):
                work = os.path.join(WORK, "run")
                art = run_jvm(cp, w, args.seed, 1, trace, work, passes=args.passes,
                              timeout=ALL_TIMEOUT)
                shutil.rmtree(work, ignore_errors=True)
                summary(art)
                ok = ok and correct(art) and art["failed"] == 0
                pair["traced" if trace else "untraced"] = art
            pairs.append(pair)
        over = {}
        for k in dict.fromkeys(list(pairs[0]["untraced"]["end_to_end"]) + NAMED[w]):
            v = {t: [{**p[t]["named"], **p[t]["end_to_end"]}[k]["value"] for p in pairs]
                 for t in ("traced", "untraced")}
            d = [t - u for t, u in zip(v["traced"], v["untraced"])]
            r = [x / u for x, u in zip(d, v["untraced"]) if u]
            over[k] = {"median": statistics.median(d),
                       "median_share": statistics.median(r) if r else None, "pairs": d}
        print(f"  {w}: tracing overhead, median of {len(pairs)} pairs (traced - untraced): "
              + ", ".join(f"{k} {v['median']:+.4f} ({v['median_share']:+.1%})"
                          for k, v in over.items() if v["median_share"] is not None))
        # the first pair in full; the others by their named metrics
        bundle["runs"][w] = {
            "untraced": pairs[0]["untraced"], "traced": pairs[0]["traced"],
            "other_pairs": [{t: {"named": p[t]["named"], "end_to_end": p[t]["end_to_end"]}
                             for t in ("untraced", "traced")} for p in pairs[1:]],
            "tracing_overhead": over}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(bundle, f, indent=1)
    print(json.dumps({"correct": ok, "workloads": list(bundle["runs"])}))


def smoke(args, sp):
    cp = build()
    bad = []
    for w in WORKLOADS:
        work = os.path.join(WORK, "run")
        art = run_jvm(cp, w, args.seed, 1, True, work, tiny=True)
        shutil.rmtree(work, ignore_errors=True)
        summary(art)
        for section, key in (("end_to_end", "end_to_end"), ("per_layer", "per_layer")):
            for m in sp[key]:
                v = art[section].get(m["name"])
                if v is None or v["unit"] != m["unit"]:
                    bad.append(f"{w}: {key} metric {m['name']} missing or not in {m['unit']}")
        for name in COMMON_NAMED + NAMED[w]:
            v = art["named"].get(name)
            if v is None or not v.get("unit") or v.get("samples", 0) < 1:
                bad.append(f"{w}: named metric {name} missing, without unit or samples")
        if not correct(art) or art["failed"] or art["attempted"] < 1:
            bad.append(f"{w}: output check failed or a call failed")
        if not art["spans"]:
            bad.append(f"{w}: traced run wrote no spans")
    for b in bad:
        print(f"SMOKE {b}")
    print(json.dumps({"smoke_ok": not bad, "problems": len(bad)}))
    sys.exit(1 if bad else 0)


def main():
    sp = spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=sp["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--out")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        smoke(args, sp)
    elif args.all:
        run_all(args, sp)
    elif args.workload:
        one(args, sp)
    else:
        die("give --workload NAME, --all or --smoke")


if __name__ == "__main__":
    main()
