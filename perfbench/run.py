#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

  python3 perfbench/run.py --workload crawl-fresh --seed 7 --seconds 20 --trace 0

Builds the engine and the benchmark driver if the sources changed (see
build.py), runs one JVM, and prints its output; the last stdout line is the
result object {correct, attempted, failed, metrics}. Extra flags:
  --smoke   tiny inputs (seconds per workload), all checks still run
  --pin     print the expected outputs for the seed and merge them into
            perfbench/pins.json instead of measuring; for a crawl workload
            with --pin-seeds LO-HI, the sequential oracle's digests of a
            seed range
"""
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("crawl-fresh", "crawl-revisit", "query-battery")
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
TIMEOUT_S = 170


def arg(argv, name, default=None):
    return argv[argv.index(name) + 1] if name in argv and argv.index(name) + 1 < len(argv) else default


def merge_pin(argv, line):
    """Merge one pin line printed by the JVM into perfbench/pins.json."""
    path = "perfbench/pins.json"
    pins = json.load(open(path)) if os.path.exists(path) else {}
    out = json.loads(line)
    workload = arg(argv, "--workload")
    if out["pin"] == "battery":
        pins.setdefault(workload, {})["sf0.01"] = out["queries"]
    else:
        size = "smoke" if "--smoke" in argv else "full"
        pins.setdefault(workload, {}).setdefault(size, {}).update(out["digests"])
    with open(path, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def main(argv):
    workload = arg(argv, "--workload")
    if workload not in WORKLOADS:
        raise SystemExit(f"--workload must be one of {', '.join(WORKLOADS)}")
    cp = build.ensure_built()
    work = os.path.join(build.build_dir(), "run",
                        f"{workload}-{arg(argv, '--seed', '1')}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + argv)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"benchmark JVM exceeded {TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(out)
        raise SystemExit(f"benchmark JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    if "--pin" in argv:
        merge_pin(argv, lines[-1])
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main(sys.argv[1:])
