#!/usr/bin/env python3
"""Pipeline benchmark for the graft library: one command, one record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script

1. builds the library from the checkout's sources together with the
   benchmark's own sbt project (`perfbench/build.sbt`), once per source
   fingerprint, and stages the class directories as jar copies under
   `perfbench/.work/stage/` so a later recompile cannot change a running
   JVM's classes;
2. writes the workload's input for the seed with `gen.py` (cached per
   workload and seed under `perfbench/.work/data/`);
3. launches the measured JVM directly from the staged jars (no sbt in the
   measured process), in local mode with min(4, nproc) cores;
4. prints the record as the last line of stdout: bare JSON with the keys
   `correct`, `attempted`, `failed` and `metrics` (every end-to-end metric
   with `--trace 0`, every per-layer metric with `--trace 1`).

Workloads: graph_load, curate, graph_algos, stream_dedup (see
`BENCHMARK.json` and `perfbench/LAYERS.md`). Everything the script writes
stays under `perfbench/.work/`. It exits non-zero without a record when
the checkout holds no library sources to build.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
STAGE = WORK / "stage"
WORKLOADS = ("graph_load", "curate", "graph_algos", "stream_dedup")
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Files whose content decides the build."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes() if f.exists() else b"<absent>")
    return h.hexdigest()


def jar_of(classes_dir, dest):
    tmp = dest.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(classes_dir.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes_dir).as_posix())
    os.replace(tmp, dest)


def build():
    """Compile and stage once per source fingerprint; return the classpath."""
    STAGE.mkdir(parents=True, exist_ok=True)
    with open(STAGE / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = fingerprint()
        cp_file = STAGE / "classpath.txt"
        if (STAGE / "fingerprint").exists() and (STAGE / "fingerprint").read_text() == fp \
                and cp_file.exists():
            return cp_file.read_text()
        log("building library and benchmark with sbt")
        tmp = WORK / "sbt-tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        # no build server, and sbt's scratch files inside the checkout. sbt
        # binds a boot socket under the temp dir; a unix socket path holds
        # at most 108 bytes, so under a deep checkout the bind fails, and
        # forcestart lets sbt go on without that socket instead of exiting.
        proc = subprocess.run(
            ["sbt", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=true", "-batch",
             "package", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout[-4000:])
            raise SystemExit("perfbench: build failed")
        exported = [ln for ln in proc.stdout.splitlines()
                    if not ln.startswith("[") and ".jar" in ln and os.pathsep in ln]
        if not exported:
            raise SystemExit("perfbench: sbt printed no classpath")
        staged = []
        for i, entry in enumerate(exported[-1].strip().split(os.pathsep)):
            p = Path(entry)
            if p.is_dir():
                dest = STAGE / f"classes-{i}.jar"
                jar_of(p, dest)
                staged.append(str(dest))
            else:
                staged.append(entry)
        cp = os.pathsep.join(staged)
        cp_file.write_text(cp)
        (STAGE / "fingerprint").write_text(fp)
        return cp


def generate(workload, seed):
    """Write (or reuse) the seeded input; the cache key includes gen.py."""
    gen_id = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:12]
    out = WORK / "data" / gen_id / workload / f"seed{seed}"
    if not (out / "truth.json").exists():
        if out.exists():
            shutil.rmtree(out)
        subprocess.run([sys.executable, str(HERE / "gen.py"), workload, str(seed), str(out)],
                       check=True, timeout=120)
    return out


def run_jvm(cp, args, run_dir):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a long call site deep enough to hold every library frame of a job,
    # so tracing can credit each module on the stack
    cmd += ["-XX:-UsePerfData", "-Xms1536m", "-Xmx1536m", "-Dspark.callstack.depth=200",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"] + args
    log_path = run_dir / "jvm.log"
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # also when this script is interrupted: leave no JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        sys.stderr.write(log_path.read_text(errors="replace")[-6000:])
        log(f"measured JVM exited with {code}")
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run unwinds like an exception, so the JVM gets stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"no graft library sources under {ROOT}; nothing to build")
        return 2

    cp = build()
    data = generate(a.workload, a.seed)
    run_dir = WORK / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    result = run_dir / "result.json"
    try:
        code = run_jvm(cp, [
            "--workload", a.workload, "--data", str(data), "--work", str(run_dir),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(min(4, os.cpu_count() or 1)), "--out", str(result)], run_dir)
        if code != 0 or not result.exists():
            return 1
        rec = json.loads(result.read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    detail = rec.get("detail", {})
    for f in detail.get("failures", []):
        log(f"FAILED: {f}")
    unmeasured = [k for k, m in rec["metrics"].items() if not math.isfinite(m["value"])]
    if unmeasured:
        log(f"no measurement for {unmeasured}")
        return 1
    log(f"timed units (ms): {[round(x) for x in detail.get('unit_ms', [])]}; set-up {detail.get('setup_s')} s; "
        f"VmHWM {detail.get('rss_hwm_mb')} MB")
    if detail.get("traced_jobs_by_module"):
        log(f"traced jobs by call-site module: {detail['traced_jobs_by_module']}")
    print(json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
