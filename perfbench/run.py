#!/usr/bin/env python3
"""One-command runner of the json2hbase benchmark.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --workload serve --seed 1 --seconds 25 --trace 1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --contract SF_DIR --out FILE

Run it from the root of a checkout. The first run builds the program and
the benchmark harness (perfbench/build.sbt) with sbt and caches the class
path under perfbench/.build; later runs rebuild only when a source file
changed. A workload run prints every metric as `name value unit`, then one
JSON line (the last line of stdout), and exits 1 when any output of the
program differed from the model. `--plant 1` appends one wrong cell to
the store to show that the check fails. Everything the run writes stays
under perfbench/.build and perfbench/.work.
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, for the rebuild stamp."""
    out = [os.path.join(ROOT, "build.sbt"),
           os.path.join(ROOT, "project", "build.properties"),
           os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_proc(cmd, cwd, env, limit_s, capture):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end. Returns (code, stdout text or None)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else None,
                         stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate(timeout=limit_s)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} exceeded {limit_s:.0f} s and was stopped", 3)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(deadline):
    """Compiles the program and the harness unless the cached class path
    matches the current sources; returns (class path, whether it compiled)."""
    want = stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read(), False
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (sbt compile)", file=sys.stderr)
    code, out = run_proc(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        HERE, env, max(deadline - time.time(), 1), True)
    cp = [ln for ln in out.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write(out[-4000:])
        die("build failed", 2)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp[-1].strip(), True


def java(classpath, args, heap, work, deadline, code_cache="512m"):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{heap}", f"-Xmx{heap}", f"-XX:ReservedCodeCacheSize={code_cache}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main"] + args + ["--work", work]
    return cmd, max(deadline - time.time(), 1)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["ingest", "serve"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--contract", metavar="SF_DIR")
    ap.add_argument("--out")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.contract):
        ap.error("give --workload, --selftest or --contract")

    t0 = time.time()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"the program's sources are missing ({need}); run from a full checkout")
    if shutil.which("java") is None:
        die("java is not on PATH")
    classpath, compiled = build(t0 + 700)
    if compiled:
        print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)

    if a.selftest:
        cmd, lim = java(classpath, ["selftest", "--seed", str(a.seed)], "3g",
                        os.path.join(WORK, "selftest"), time.time() + 600)
        code, _ = run_proc(cmd, ROOT, dict(os.environ), lim, False)
        sys.exit(code)
    if a.contract:
        if not a.out:
            ap.error("--contract needs --out")
        cmd, lim = java(classpath, ["contract", "--sf-dir", os.path.abspath(a.contract),
                                    "--out", os.path.abspath(a.out)],
                        "6g", os.path.join(WORK, "contract"), time.time() + 6 * 3600, "1g")
        code, _ = run_proc(cmd, ROOT, dict(os.environ), lim, False)
        sys.exit(code)

    work = os.path.join(WORK, a.workload)
    # the run's own 175 s start when the build is done, so that a rebuild
    # after a source change does not shorten them
    cmd, lim = java(classpath, [a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                                "--trace", str(a.trace), "--plant", str(a.plant)],
                    "3g", work, time.time() + 175)
    code, out = run_proc(cmd, ROOT, dict(os.environ), lim, True)
    lines = out.splitlines()
    result = None
    for ln in reversed(lines):
        if ln.startswith("{"):
            result = json.loads(ln)
            break
    for ln in lines:
        if not ln.startswith("{"):
            print(ln)
    for d in os.listdir(work):
        if d not in ("spans.jsonl", "result.json"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    if result is None:
        die(f"the benchmark JVM printed no result (exit {code})", code or 4)
    want = expected_metrics(a.trace)
    missing = [m for m in want if m not in result["metrics"]]
    if missing:
        die(f"metrics missing from the result: {missing}", 4)
    result["metrics"] = {m: result["metrics"][m] for m in want}
    print(json.dumps(result), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
