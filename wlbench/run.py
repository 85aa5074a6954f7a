#!/usr/bin/env python3
"""Workload benchmark for knightshiftspark.

Run from the repository root:

    python3 wlbench/run.py --workload dag_cycles --seed 1 --seconds 10 --trace 0

Workloads: dag_cycles, read_api, curate, or `all` (the three in turn,
printing the headline figures under their own names). `--trace 1` adds
a traced phase and prints the per-layer metrics instead of the
end-to-end ones. `--selftest` runs every workload with one planted
output fault and succeeds only if each run is refused.

The first run builds the engine and the benchmark from source with sbt
(outputs under target/ and .bench_build/); later runs reuse the build
while the sources are unchanged. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. The full record,
with provenance, goes to .bench_build/results/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["dag_cycles", "read_api", "curate"]
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms"}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    files = []
    for top in ("build.sbt", os.path.join("project", "build.properties"),
                os.path.join("wlbench", "build.sbt"),
                os.path.join("wlbench", "project", "build.properties")):
        if os.path.isfile(os.path.join(ROOT, top)):
            files.append(top)
    for tree in (os.path.join("src", "main"), os.path.join("wlbench", "src")):
        for d, _, names in os.walk(os.path.join(ROOT, tree)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt unless the build of these sources is current;
    returns the runtime classpath."""
    state = os.path.join(BUILD, "build.json")
    if os.path.isfile(state):
        with open(state) as fh:
            prev = json.load(fh)
        if prev.get("fingerprint") == stamp and all(
                os.path.exists(p) for p in prev["classpath"].split(os.pathsep)):
            return prev["classpath"]
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "compile", "export Runtime/fullClasspath"]
    log("building engine and benchmark with sbt ...")
    t0 = time.time()
    with open(os.path.join(BUILD, "logs", "build.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                                stderr=subprocess.STDOUT, text=True,
                                start_new_session=True)
        try:
            text, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        finally:
            stop(proc)
        out.write(text)
    if proc.returncode != 0:
        log(text[-4000:])
        sys.exit(f"sbt build failed (exit {proc.returncode})")
    lines = [l for l in text.splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        sys.exit("sbt build printed no classpath")
    cp = lines[-1].strip()
    with open(state, "w") as fh:
        json.dump({"fingerprint": stamp, "classpath": cp}, fh)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def stop(proc):
    """Kill the process group if still running and wait for it."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def heap_flags():
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        gb = max(2, min(3, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    # a fixed, pre-touched heap: no heap resizing or first-touch page
    # faults inside the measured interval
    return [f"-Xms{gb}g", f"-Xmx{gb}g", "-XX:+AlwaysPreTouch"]


def git_commit():
    """The commit, read from .git when the checkout has one."""
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.isfile(path):
        with open(path) as fh:
            return fh.read().strip()
    packed = os.path.join(ROOT, ".git", "packed-refs")
    if os.path.isfile(packed):
        with open(packed) as fh:
            for line in fh:
                if line.strip().endswith(ref[5:]):
                    return line.split()[0]
    return None


def run_workload(cp, workload, seed, seconds, trace, fault=False):
    """One JVM run of one workload; returns the parsed record or None.
    `fault` (the self-test's) makes the run corrupt one observed output."""
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = shutil.which("java")
    if java is None and os.environ.get("JAVA_HOME"):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    cmd = [java or "java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += heap_flags() + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "wlbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work]
    if fault:
        cmd.append("--fault")
    logfile = os.path.join(BUILD, "logs", f"{workload}-{seed}-t{int(trace)}.log")
    os.makedirs(os.path.dirname(logfile), exist_ok=True)
    with open(logfile, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            out = ""
            log(f"{workload}: timed out after {RUN_TIMEOUT_S} s")
        finally:
            stop(proc)
    spans = os.path.join(work, f"spans-{workload}-{seed}.jsonl")
    if os.path.isfile(spans):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.move(spans, os.path.join(BUILD, "traces", os.path.basename(spans)))
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        log(f"{workload}: exit {proc.returncode}; see {logfile}")
        with open(logfile) as fh:
            log("".join(fh.readlines()[-30:]))
        return None
    return json.loads(lines[-1])


def fmt(v):
    return "null" if v is None else repr(float(v))


def final_line(correct, attempted, failed, metrics):
    return json.dumps({"correct": correct, "attempted": attempted,
                       "failed": failed, "metrics": metrics})


def single(args, cp, stamp):
    rec = run_workload(cp, args.workload, args.seed, args.seconds,
                       args.trace == 1)
    if rec is None:
        sys.exit(3)
    rec["provenance"].update({"source_sha256": stamp, "git_commit": git_commit(),
                              "command": sys.argv, "python": sys.version.split()[0]})
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps({"provenance": rec["provenance"]}))
    for msg in rec["check_failures"]:
        print(f"CHECK FAILED: {msg}")
    if args.trace == 1:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in rec["per_layer"].items()}
    else:
        metrics = {k: {"value": rec["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        print(f"{k} = {fmt(m['value'])} {m['unit']}")
    print(f"failed {rec['failed']} of {rec['attempted']} attempted; "
          f"checks passed {rec['checks_passed']}")
    ok = rec["correct"] and rec["failed"] == 0
    print(final_line(rec["correct"], rec["attempted"], rec["failed"], metrics))
    sys.exit(0 if ok else 1)


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb_per_s"):
        return "MB/s"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "count"


def run_all(args, cp):
    """The three workloads in turn, headline figures under their names."""
    recs = {}
    for w in WORKLOADS:
        # read_api runs long enough for its p95 to have ten samples
        # beyond it (6 requests/s x 35 s)
        secs = max(args.seconds, 35) if w == "read_api" else args.seconds
        rec = run_workload(cp, w, args.seed, secs, False)
        if rec is None:
            sys.exit(3)
        recs[w] = rec
    e = {w: r["end_to_end"] for w, r in recs.items()}
    metrics = {
        "setup_s": {"value": sum(x["setup_s"] for x in e.values()), "unit": "s"},
        "dag_games_per_s": {"value": e["dag_cycles"]["throughput_per_s"], "unit": "1/s"},
        "dag_cycle_p50_s": {"value": e["dag_cycles"]["latency_p50_ms"] / 1000, "unit": "s"},
        "api_p50_ms": {"value": e["read_api"]["latency_p50_ms"], "unit": "ms"},
        "api_p95_ms": {"value": recs["read_api"].get("latency_p95_ms"), "unit": "ms"},
        "curate_docs_per_s": {"value": e["curate"]["throughput_per_s"], "unit": "1/s"},
    }
    for w, r in recs.items():
        print(f"{w}: setup_s = {fmt(r['end_to_end']['setup_s'])} s; "
              f"failed {r['failed']} of {r['attempted']} attempted")
        for msg in r["check_failures"]:
            print(f"CHECK FAILED ({w}): {msg}")
    samples = {"dag_cycle_p50_s": f"{recs['dag_cycles']['attempted']} cycles",
               "api_p50_ms": f"{recs['read_api']['attempted']} requests",
               "api_p95_ms": f"{recs['read_api']['attempted']} requests",
               "curate_docs_per_s": f"{recs['curate']['attempted']} passes"}
    for k, m in metrics.items():
        n = f" ({samples[k]})" if k in samples else ""
        print(f"{k} = {fmt(m['value'])} {m['unit']}{n}")
    correct = all(r["correct"] for r in recs.values())
    attempted = sum(r["attempted"] for r in recs.values())
    failed = sum(r["failed"] for r in recs.values())
    print(final_line(correct, attempted, failed, metrics))
    sys.exit(0 if correct and failed == 0 else 1)


def selftest(args, cp):
    """Each workload with one planted output fault must be refused."""
    caught = {}
    for w in WORKLOADS:
        rec = run_workload(cp, w, args.seed, min(args.seconds, 5), False, True)
        caught[w] = rec is not None and not rec["correct"] and rec["failed"] > 0
        msgs = rec["check_failures"] if rec else ["no result"]
        print(f"{w}: planted fault {'caught' if caught[w] else 'MISSED'}: "
              f"{msgs[:3]}")
    sys.exit(0 if all(caught.values()) else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run every workload with one planted output fault; "
                         "pass if every run fails")
    args = ap.parse_args()
    if args.workload is None and not args.selftest:
        ap.error("--workload is required (or --selftest)")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("the engine sources (build.sbt, src/main/scala) are missing")
    stamp = fingerprint()
    cp = build(stamp)
    if args.selftest:
        selftest(args, cp)
    elif args.workload == "all":
        run_all(args, cp)
    else:
        single(args, cp, stamp)


if __name__ == "__main__":
    main()
