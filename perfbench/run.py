#!/usr/bin/env python3
"""graft benchmark: one checked workload per call.

    python3 perfbench/run.py --workload censo_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first call builds graft and the
harness (perfbench/build.py) and writes the input tables; later calls reuse
both from ``.bench_build/``. With ``--trace 0`` the last line of standard
output is one JSON object with the end-to-end metrics; with ``--trace 1``
it carries the per-layer metrics, and the per-op spans and counters are
written to ``.bench_build/results/``. ``--plant KEY`` replaces the committed
fingerprint of KEY with a wrong one, to show that a wrong answer is reported
as a failure and gets no time (see perfbench/selfcheck.py).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("censo_query", "curation_dedup", "stream_events")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
# Input tables: fixed scale and generator seed; the fingerprints are for these.
SCALE = 0.02
DATA_SEED = 42
HEAP = "3g"
RUN_TIMEOUT_S = 170


def jvm(classes, args, log, timeout, work):
    """Runs the harness; everything it writes goes under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # native libraries (snappy, RocksDB) unpack into java.io.tmpdir: keep
    # them, and everything else the JVM writes, inside the build directory
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC", "-Dlog4j2.level=warn",
           *build.ADD_OPENS, "-cp", build.classpath(classes), "graftbench.Main", *args]
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             cwd=OUT)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            raise
    return p.returncode, out


def data_dir(classes):
    """Writes the input tables once per (scale, seed, generator source)."""
    with open(os.path.join(HERE, "src", "graftbench", "Gen.scala"), "rb") as fh:
        gen = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(OUT, "data", f"sf{SCALE}-seed{DATA_SEED}-{gen}")
    if os.path.isdir(d):
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    work = tmp + ".work"
    code, out = jvm(classes, ["gen", "--data", tmp, "--work", work, "--sf", str(SCALE),
                              "--data-seed", str(DATA_SEED)],
                    os.path.join(OUT, "logs", "gen.log"), 900, work)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        raise build.BuildError(f"table generation failed ({code}); see .bench_build/logs/gen.log")
    os.rename(tmp, d)
    return d


def prepare():
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    classes = build.build(os.path.join(OUT, "build"))
    return classes, data_dir(classes)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", help="fingerprint key to corrupt (self-check)")
    a = ap.parse_args()
    try:
        classes, data = prepare()
        with open(FINGERPRINTS) as fh:
            fp = json.load(fh)
        if fp.get("scale") != SCALE or fp.get("data_seed") != DATA_SEED:
            raise build.BuildError("fingerprints.json was made for other input tables")
    except (build.BuildError, OSError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--fingerprints", FINGERPRINTS,
            "--results", os.path.join(OUT, "results")]
    if a.plant:
        args += ["--plant", a.plant]
    try:
        code, out = jvm(classes, args, os.path.join(OUT, "logs", tag + ".log"),
                        RUN_TIMEOUT_S, work)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    # the harness prints its result line last; keep it last even if a
    # library wrote to stdout while the JVM shut down
    at = max((i for i, ln in enumerate(lines) if ln.startswith('{"correct"')), default=None)
    if code != 0 or at is None:
        sys.stdout.write(out)
        print(f"perfbench: harness failed ({code}); see .bench_build/logs/{tag}.log",
              file=sys.stderr)
        return code or 4
    sys.stdout.write("\n".join(lines[:at] + lines[at + 1:] + [lines[at]]) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
