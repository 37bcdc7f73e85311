#!/usr/bin/env python3
"""Run one benchmark workload against graft's public API.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 12 --trace 0

Builds the program from source if needed (perfbench/build.py), then runs
one JVM with the options build.sbt gives a forked `run` and prints the
workload's report; the last line of standard output is the JSON result.
Exits non-zero when the build fails, a check fails or an operation fails.
See perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = tuple(inputs.GENERATORS)
# Wall-clock budget of one run, build excluded.
RUN_TIMEOUT_S = 170

def sbt_java_options() -> list:
    """The javaOptions build.sbt gives a forked `run`, read from build.sbt
    itself: the `jdk17AddOpens` list, each as `--add-opens <p>=ALL-UNNAMED`,
    then the options appended to it, with `sys.env.getOrElse` resolved
    (the heap size, SPARK_DRIVER_MEM or 8g)."""
    text = (build.ROOT / "build.sbt").read_text()
    opens = re.search(r'val jdk17AddOpens = Seq\((.*?)\)\.flatMap\(p => '
                      r'Seq\("--add-opens", s"\$p=ALL-UNNAMED"\)\)', text, re.S)
    extra = re.search(r"javaOptions \+\+= jdk17AddOpens \+\+ Seq\((.*?)\n\)", text, re.S)
    if not opens or not extra:
        raise build.BuildError("build.sbt: no `jdk17AddOpens` / `javaOptions ++=` block")

    def literals(block: str) -> list:
        code = "\n".join(ln for ln in block.splitlines() if not ln.strip().startswith("//"))
        code = re.sub(r'\$\{sys\.env\.getOrElse\("(\w+)",\s*"([^"]*)"\)\}',
                      lambda m: os.environ.get(m[1], m[2]), code)
        if "${" in code:
            raise build.BuildError(f"build.sbt: cannot read javaOptions entry in {code!r}")
        return re.findall(r'"([^"]*)"', code)

    opts = []
    for p in literals(opens[1]):
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + literals(extra[1])


def scratch_options(scratch: Path) -> list:
    return [
        # keep every file the run writes inside the checkout (no /tmp/hsperfdata)
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={scratch / 'tmp'}",
        f"-Dspark.local.dir={scratch / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={scratch / 'warehouse'}",
        f"-Dderby.system.home={scratch / 'derby'}",
    ]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-inputs", action="store_true",
                    help="check input determinism and the Scenario equivalence instead of running")
    a = ap.parse_args()
    if not a.check_inputs and not a.workload:
        ap.error("--workload is required")

    try:
        cp = build.classpath()
        java_opts = sbt_java_options()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    if a.check_inputs:
        return check_inputs(cp, java_opts, a)
    scratch = build.BUILD_DIR / "run" / f"{a.workload}-{os.getpid()}"
    try:
        t0 = time.monotonic()
        digests = inputs.generate(a.workload, a.seed, scratch / "inputs")
        print(f"inputs {a.workload} seed={a.seed} digest {inputs.combined(digests)} "
              f"({time.monotonic() - t0:.2f} s): "
              + " ".join(f"{k}={v}" for k, v in digests.items()), flush=True)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
        rc, lines = run_jvm(cp, java_opts, scratch, args, f"{a.workload}-{a.seed}-trace{a.trace}")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    result = None
    if lines and lines[-1].startswith("{"):
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if result is not None:
        print(lines[-1], flush=True)
    if rc == 0 and result is None:
        return 1
    return rc


def check_inputs(cp: str, java_opts: list, a) -> int:
    """Same seed gives the same input digests, another seed other digests,
    and the linking tables equal graft's own testkit.Scenario output."""
    ok = True
    for w in WORKLOADS:
        scratch = build.BUILD_DIR / "run" / f"check-{w}-{os.getpid()}"
        try:
            d1 = inputs.generate(w, a.seed, scratch / "a")
            d2 = inputs.generate(w, a.seed, scratch / "b")
            d3 = inputs.generate(w, a.seed + 1, scratch / "c")
            same = d1 == d2
            differs = inputs.combined(d1) != inputs.combined(d3)
            for seed, d in ((a.seed, d1), (a.seed + 1, d3)):
                print(f"inputs {w} seed={seed} digest {inputs.combined(d)}: "
                      + " ".join(f"{k}={v}" for k, v in d.items()))
            print(f"inputs {w}: same seed same digest={same}, other seed other digest={differs}")
            rc, _ = run_jvm(cp, java_opts, scratch, ["--check-scenario", "--seed", str(a.seed),
                                          "--inputs", str(scratch / "a")], f"check-{w}")
            ok = ok and same and differs and rc == 0
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    print(f"input checks: {'ok' if ok else 'FAILED'}")
    return 0 if ok else 1


def run_jvm(cp: str, java_opts: list, scratch: Path, args: list, tag: str):
    """Run graftbench.Main; forwards its report lines, returns (rc, stdout lines)."""
    for d in ("tmp", "spark-local", "warehouse"):
        (scratch / d).mkdir(parents=True, exist_ok=True)
    log = build.BUILD_DIR / "logs" / f"{tag}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + java_opts + scratch_options(scratch) + ["-cp", cp, "graftbench.Main"] + args
           + ["--work", str(scratch / "work")]
           + ([] if "--inputs" in args else ["--inputs", str(scratch / "inputs")]))
    lines = []
    timed_out = threading.Event()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)

        def stop():
            timed_out.set()
            os.killpg(proc.pid, signal.SIGKILL)

        # the JVM runs in its own process group: take it down with us
        def on_signal(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)

        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, on_signal)
        timer = threading.Timer(RUN_TIMEOUT_S, stop)
        timer.start()
        try:
            for line in proc.stdout:
                lines.append(line.rstrip("\n"))
                if not line.startswith("{"):
                    print(line, end="", flush=True)
            rc = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if timed_out.is_set():
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s; stopped", file=sys.stderr)
        rc = 124
    if rc != 0:
        print("\n".join(log.read_text().splitlines()[-40:]), file=sys.stderr)
        print(f"[perfbench] exit code {rc}; log: {log}", file=sys.stderr)
    return rc, lines


if __name__ == "__main__":
    sys.exit(main())
