#!/usr/bin/env python3
"""Build and run the benchmark for one workload; print its result.

    python3 perfbench/run.py --workload movielens_enrich --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload movielens_bulk --stats 10

Run from the root of a checkout. The first run builds the program
and the harness from source with sbt (offline) into perfbench/target;
later runs reuse that build while the sources are unchanged. Each run
works in its own directory under .perfbench_work/ and removes it at
the end; traced runs keep their spans under .perfbench_out/.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --stats N the command
instead runs N seeds and prints, for each metric, the median, the
quartiles and IQR / median.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
WORKLOADS = ("movielens_enrich", "movielens_bulk")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    stamp = source_hash()
    cp_file = TARGET / "classpath.txt"
    stamp_file = TARGET / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if "perfbench" not in cp or ":" not in cp:
        fail("could not read the classpath from sbt")
    TARGET.mkdir(exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def clean_env():
    """The run's environment without any SPARK_GRAFT_* override, and
    the overrides that were present (recorded, never applied)."""
    env, present = {}, {}
    for k, v in os.environ.items():
        if k.startswith("SPARK_GRAFT_") or k in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR"):
            present[k] = v
        else:
            env[k] = v
    return env, present


def run_once(args, cp):
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    cores = len(os.sched_getaffinity(0))
    env, overrides = clean_env()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC",
            "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
            "-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), str(work), str(result), str(cores)])
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    # a terminated run.py must not leave the JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        log.close()
    if proc.returncode == -signal.SIGKILL:
        sys.stderr.write((work / "jvm.log").read_text()[-3000:])
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the run did not finish within {JVM_TIMEOUT_S} s")
    if proc.returncode != 0 or not result.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-3000:])
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the benchmark process exited with code {proc.returncode}")
    res = json.loads(result.read_text())
    res["stamp"]["spark_graft_overrides_unset"] = overrides
    res["stamp"]["source_sha256"] = source_hash()
    res["stamp"]["git_sha"] = git_sha()
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if (work / "trace.json").exists():
        shutil.copy(work / "trace.json", out / f"spans-{tag}.json")
    (out / f"result-{tag}.json").write_text(json.dumps(res, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    return res


def git_sha():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "not a git checkout"
    except (OSError, subprocess.SubprocessError):
        return "not a git checkout"


def report(res, trace):
    metrics = res["metrics"]
    peak = res["detail"].get("peak_rss_mb")
    if peak and trace:
        metrics["process.peak_rss_mb"] = {"value": peak, "unit": "MB"}
    finite = all(isinstance(m["value"], (int, float)) and math.isfinite(m["value"])
                 for m in metrics.values())
    for f in res["failures"]:
        print(f"FAILED: {f}")
    if not finite:
        print("FAILED: a metric is not a finite number")
    table = res["detail"].get("phase_table")
    if table:
        print(table)
    s = res["stamp"]
    print(f"host: {s['cores']} cores, heap {s['max_heap_mb']} MB, JDK {s['jdk']}, "
          f"Spark {s['spark']}, git {s['git_sha']}, seed {s['seed']}, "
          f"input {s['input_bytes']} bytes")
    if s["spark_graft_overrides_unset"]:
        print(f"unset for the run: {sorted(s['spark_graft_overrides_unset'])}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    failed = int(res["failed"]) + (0 if finite else 1)
    attempted = max(1, int(res["attempted"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def stats(args):
    """Run --stats seeds and summarise every metric over them."""
    values = {}
    for i in range(args.stats):
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
               "--seed", str(args.seed + i), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr)
            fail(f"seed {args.seed + i} failed")
        last = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {args.seed + i}: correct={last['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    summary = {}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else float("inf")
        summary[k] = {"median": med, "q1": q1, "q3": q3, "iqr_over_median": spread, "n": len(vs)}
        print(f"{k}: median {med:.6g} q1 {q1:.6g} q3 {q3:.6g} IQR/median {spread:.4f}")
    print(json.dumps({"workload": args.workload, "stats": summary}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--stats", type=int, default=0,
                    help="run this many seeds (seed, seed+1, ...) and summarise")
    args = ap.parse_args()
    os.chdir(ROOT)
    if args.stats:
        stats(args)
        return
    cp = build()
    report(run_once(args, cp), args.trace)


if __name__ == "__main__":
    main()
