#!/usr/bin/env python3
"""Build graft from source and run one lakebench workload.

    python3 lakebench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 lakebench/run.py --selftest

Run from the root of a checkout. The first call builds the program and the
benchmark with sbt (offline) and caches the classpath under lakebench/.work;
later calls rebuild only when a source or build file changed. The last line
of stdout is the JSON result; everything else goes to stderr. Any build or
run failure exits non-zero with a one-line reason and prints no result.
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
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "1536m"
# Environment knobs of the program that would change what gets measured;
# the benchmark measures the program's own defaults.
CLEARED_ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_EXTRA_CONFS")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class Fail(Exception):
    pass


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file whose change requires a rebuild, relative to ROOT."""
    out = []
    for base in ("build.sbt", "project/build.properties",
                 "lakebench/build.sbt", "lakebench/project/build.properties"):
        out.append(base)
    for tree in ("src/main", "lakebench/src/main"):
        for d, _, files in os.walk(os.path.join(ROOT, tree)):
            for f in files:
                out.append(os.path.relpath(os.path.join(d, f), ROOT))
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout or error."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
        return p.returncode, out, err
    except subprocess.TimeoutExpired:
        raise Fail(f"{os.path.basename(cmd[0])} did not finish within {timeout} s")
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def child_env():
    env = {k: v for k, v in os.environ.items() if k not in CLEARED_ENV}
    env["SPARK_LOCAL_DIRS"] = TMP
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = " ".join(filter(None, [
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        f"-Djava.io.tmpdir={TMP}"]))
    return env


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise Fail(f"no program sources here ({need} missing); run from a graft checkout")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            raise Fail(f"'{tool}' not found on PATH")
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == fp and all(os.path.exists(e) for e in cp.split(os.pathsep)):
                return cp
    log("building graft and the benchmark with sbt (first run in this checkout)")
    t0 = time.time()
    code, out, err = run_bounded(
        ["sbt", "-batch", "-no-colors", "export lakebench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=child_env(),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or os.pathsep not in lines[-1]:
        errs = [l for l in (out + err).splitlines() if "[error]" in l]
        raise Fail("build failed: " + (errs[0] if errs else f"sbt exit {code}"))
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp


def java_cmd(cp, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.language=en", "-Duser.country=US",
             f"-Djava.io.tmpdir={TMP}", "-Dspark.ui.enabled=false"] + opens +
            ["-cp", cp, "lakebench.Main"] + args)


def run_java(cp, args):
    """Run the driver; return its stdout lines. stderr passes through."""
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP, exist_ok=True)
    try:
        code, out, _ = run_bounded(java_cmd(cp, args), RUN_TIMEOUT_S, cwd=ROOT, env=child_env(),
                                   stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(TMP, ignore_errors=True)
    if code != 0:
        raise Fail(f"benchmark process exited with code {code}")
    return [l for l in out.splitlines() if l.strip()]


def result_of(lines):
    if not lines:
        raise Fail("benchmark printed no result")
    try:
        res = json.loads(lines[-1])
    except ValueError:
        raise Fail("last output line is not JSON")
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise Fail("result line has unexpected keys")
    return res


def selftest(cp):
    """Same seed → same bytes; a planted wrong expectation must be caught."""
    ok = True
    try:
        run_java(cp, ["determinism", os.path.join(WORK, "selftest")])
        log("selftest determinism: ok")
    except Fail as e:
        log(f"selftest determinism: FAILED ({e})")
        ok = False
    for w in ("refresh_mixed", "corpus_curation"):
        res = result_of(run_java(cp, ["--workload", w, "--seed", "1", "--seconds", "2",
                                      "--trace", "0", "--work", WORK, "--plant-wrong", "1"]))
        fired = res["correct"] is False and res["failed"] >= 1
        log(f"selftest planted-wrong oracle on {w}: "
            f"{'caught' if fired else 'NOT caught'} (failed {res['failed']} of {res['attempted']})")
        ok = ok and fired
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    try:
        cp = build()
        if a.selftest:
            sys.exit(0 if selftest(cp) else 1)
        if a.workload is None or a.seed is None or a.seconds is None:
            raise Fail("need --workload, --seed and --seconds")
        res = result_of(run_java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                                      "--work", WORK]))
        print(json.dumps(res), flush=True)
    except Fail as e:
        print(f"lakebench: {e}", file=sys.stderr, flush=True)
        sys.exit(1)


if __name__ == "__main__":
    main()
