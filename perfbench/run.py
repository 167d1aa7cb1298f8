#!/usr/bin/env python3
"""Run one perfbench workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <pub_pipeline|query_mix> \
        --seed <n> --seconds <n> --trace <0|1>

Builds the benchmark, and with it the library sources under src/main, with
sbt when the sources changed since the last build (the classpath is cached
in .bench_build/), then runs the workload in one JVM. Everything the run
writes stays under .bench_build/ in the checkout. Exits non-zero, without a
result line, when the build fails, the checkout has no library sources, the
run times out, or the result line is missing or malformed; exits 1 (after
printing the result) when an output check failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
LIBRARY = ROOT / "src" / "main" / "scala" / "graft"
RUN_TIMEOUT_S = 170

# The JVM compiles with C1 only. Under the default tiered C1+C2, the level
# a JVM's iterations settled at varied by about +-20% between runs, even of
# one seed: ten query_mix runs spread 0.31 (quartile distance over median),
# five under C1 only 0.08. Gains that depend on C2's optimisations do not
# show in this benchmark.
JVM_FLAGS = ["-Xmx3g", "-XX:TieredStopAtLevel=1"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: library and benchmark sources."""
    h = hashlib.sha256()
    inputs = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", HERE / "src" / "main"):
        inputs += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, compiling first if the sources changed."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
           "-Dsbt.offline=true", "compile", "export Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        log("build failed")
        sys.exit(3)
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def check_result(line, trace):
    """The result must name exactly the metrics BENCHMARK.json lists."""
    result = json.loads(line)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(result)}")
    spec_file = ROOT / "BENCHMARK.json"
    if spec_file.exists():
        spec = json.loads(spec_file.read_text())
        want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != want:
            raise ValueError(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
    return result


def check_digest(workload, seed, stdout_lines, stamp):
    """Outputs of one seed must hash the same on every run of one build."""
    digests = [l.split(":", 1)[1].strip() for l in stdout_lines if l.startswith("output digest:")]
    if not digests:
        return True
    f = BUILD / "digests" / f"{workload}-seed{seed}-{stamp[:12]}.txt"
    f.parent.mkdir(parents=True, exist_ok=True)
    if f.exists() and f.read_text() != digests[0]:
        print(f"  check failed: output digest {digests[0]} differs from an earlier run's {f.read_text()}")
        return False
    f.write_text(digests[0])
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["pub_pipeline", "query_mix"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    if not LIBRARY.is_dir():
        log(f"no library sources at {LIBRARY.relative_to(ROOT)}: nothing to benchmark")
        sys.exit(2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java are required")
        sys.exit(2)
    classpath = build()

    work = BUILD / "work" / f"{args.workload}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    logs = BUILD / "logs"
    logs.mkdir(exist_ok=True)
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--root", str(ROOT), "--work", str(work)])
    log_file = logs / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    with open(log_file, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"run exceeded {RUN_TIMEOUT_S} s; log in {log_file.relative_to(ROOT)}")
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(4)
    shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").splitlines()
    body, last = lines[:-1], (lines[-1] if lines else "")
    try:
        result = check_result(last, args.trace == 1)
    except (ValueError, KeyError) as e:
        sys.stdout.write("\n".join(body) + "\n")
        log(f"no valid result line ({e}); exit code {proc.returncode}; log in {log_file.relative_to(ROOT)}")
        sys.exit(5)
    if proc.returncode not in (0, 1):
        log(f"benchmark exited with {proc.returncode}; log in {log_file.relative_to(ROOT)}")
        sys.exit(5)
    if not check_digest(args.workload, args.seed, body, source_stamp()):
        result["correct"] = False
    print("\n".join(body))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
