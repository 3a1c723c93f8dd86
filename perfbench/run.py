"""Run the repository benchmark (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the library and the benchmark on first use (perfbench/build.py),
then runs one JVM with one local Spark session. The last line of stdout
is the result as one JSON object. Everything the run writes stays under
the checkout: .bench_build/, .bench_work/ (deleted at the end) and
.bench_trace/ (span files of traced runs).
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["weekly_fleet", "service_mix"]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java_cmd(cp, main, args):
    tmp = os.path.join(build.ROOT, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # class-data sharing: the first run in a build dumps the classes it
    # loaded, later runs map them instead of loading and verifying the
    # Spark jars again (JVM start-up only; a missing or stale archive is
    # ignored by the JVM)
    jsa = os.path.join(build.default_build_dir(), "classes.jsa")
    cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.isfile(jsa)
           else f"-XX:ArchiveClassesAtExit={jsa}")
    return (["java", cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
             "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
             "-Duser.language=en", "-Duser.country=US", "-Duser.timezone=UTC",
             "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties")]
            + ADD_OPENS + ["-cp", cp, main] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    t0 = time.time()
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[graftbench] cannot build: {e}", file=sys.stderr)
        return 2
    built = time.time() - t0
    # a run ends within 180 s; one that had to build first, within 900 s
    limit = (880 if built > 5 else 175) - built
    if a.selftest:
        cmd = java_cmd(cp, "graftbench.SelfTest", ["--root", build.ROOT])
        return subprocess.run(cmd, timeout=600).returncode
    cmd = java_cmd(cp, "graftbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--root", build.ROOT])
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, timeout=limit)
    except subprocess.TimeoutExpired:
        print("[graftbench] run timed out", file=sys.stderr)
        return 3
    out = r.stdout.decode("utf-8", "replace").rstrip("\n").split("\n")
    if r.returncode != 0:
        sys.stderr.write("\n".join(out) + "\n")
        return r.returncode
    try:
        json.loads(out[-1])
    except (ValueError, IndexError):
        print("[graftbench] no result line", file=sys.stderr)
        return 4
    print("\n".join(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
