#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, offline) into .bench_build/; later runs reuse the
build while the sources are unchanged. Workloads, sizes and metric meanings
are in benchmark/spec.json; metric names and units in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import pathlib
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170


def sources_fingerprint():
    """Hash of every file the build reads, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    stamp = BUILD / "build.stamp"
    args_file = BUILD / "java.args"
    fp = sources_fingerprint()
    if stamp.exists() and args_file.exists() and stamp.read_text() == fp:
        return args_file
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launcher"],
                             cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not args_file.exists():
        sys.stderr.write(f"benchmark build failed (exit {rc}); see {log}\n")
        sys.exit(3)
    stamp.write_text(fp)
    return args_file


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    spec = json.loads((BENCH / "spec.json").read_text())
    if a.workload not in spec["workloads"]:
        sys.stderr.write(f"unknown workload {a.workload}; known: {', '.join(spec['workloads'])}\n")
        sys.exit(2)
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.stderr.write("program sources (src/main/scala/graft) not found beside benchmark/; "
                         "run from the root of a full checkout\n")
        sys.exit(2)

    args_file = build()
    work = BUILD / "work"
    tmp = BUILD / "tmp"
    for d in (work, tmp):
        d.mkdir(parents=True, exist_ok=True)
    logs = BUILD / "logs"
    logs.mkdir(exist_ok=True)
    cmd = ["java", f"@{args_file}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work),
           "--spec", str(BENCH / "spec.json"), "--benchmark", str(ROOT / "BENCHMARK.json")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    err_log = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.stderr"
    with open(err_log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.stderr.write(f"workload ran past {RUN_TIMEOUT_S} s; see {err_log}\n")
            sys.exit(4)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write(out)
        sys.stderr.write(f"no result line (exit {p.returncode}); see {err_log}\n")
        sys.exit(p.returncode or 5)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and p.returncode == 0 else 1)


if __name__ == "__main__":
    main()
