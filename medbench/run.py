#!/usr/bin/env python3
"""Benchmark of the medallion DAG and the TxLog table format.

Run from the root of a checkout:

    python3 medbench/run.py --workload txlog_upserts --seed 1 --seconds 30 --trace 0

Builds the harness (medbench/build.sbt compiles it together with the
engine's sources) when a source changed since the last build, then runs
one workload in a fresh JVM and prints, as its last stdout line, one JSON
object with the keys correct, attempted, failed and metrics: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. The line before it carries the details: every
metric's sample count, host steal and load average over the run, and the
first failures if any.

It writes only inside the checkout: sbt's outputs under medbench/target
and medbench/project/target, everything else under .bench_build/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "medbench")
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit: the engine's build.sbt passes the
# same module opens to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"medbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_fingerprint():
    """Hash of every input of the build: paths, sizes and mtimes."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        if os.path.isfile(r):
            files = [r]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    os.makedirs(OUT, exist_ok=True)
    stamp, cp_file = os.path.join(OUT, "stamp"), os.path.join(OUT, "classpath")
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = sources_fingerprint()
        if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
            return open(cp_file).read().strip()
        sbt = shutil.which("sbt")
        if sbt is None:
            fail("sbt not found on PATH")
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.server.forcestart=false"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env.setdefault("SBT_OPTS", " ".join(opts))
        log_path = os.path.join(OUT, "build.log")
        with open(log_path, "w") as log:
            rc = subprocess.call(
                [sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        lines = open(log_path).read().splitlines()
        if rc != 0:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail(f"build failed (sbt exit {rc}); log in {log_path}", 1)
        cp = next((l for l in reversed(lines) if "scala-2.13" in l and ":" in l and not l.startswith("[")), None)
        if cp is None:
            fail(f"no classpath in sbt output; log in {log_path}", 1)
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp, "w") as f:
            f.write(fp)
        return cp


class HostSampler(threading.Thread):
    """Steal share of CPU time and load average, sampled every second."""

    def __init__(self):
        super().__init__(daemon=True)
        self.stop_evt = threading.Event()
        self.loads = []
        self.first = self.last = self.cpu()

    @staticmethod
    def cpu():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        steal = v[7] if len(v) > 7 else 0
        return steal, sum(v[:8])

    def run(self):
        while not self.stop_evt.wait(1.0):
            with open("/proc/loadavg") as f:
                self.loads.append(float(f.read().split()[0]))
        self.last = self.cpu()

    def stop(self):
        self.stop_evt.set()
        self.join()
        ds, dt = self.last[0] - self.first[0], self.last[1] - self.first[1]
        return {
            "steal_pct": round(100.0 * ds / dt, 3) if dt > 0 else 0.0,
            "load1_mean": round(sum(self.loads) / len(self.loads), 2) if self.loads else None,
            "load1_max": max(self.loads) if self.loads else None,
            "cpus": os.cpu_count(),
        }


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(spec_path):
        fail("not at the root of an engine checkout (build.sbt, src/main/scala/graft, BENCHMARK.json)")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    cp = build()

    work_root = os.path.join(OUT, "work")
    os.makedirs(work_root, exist_ok=True)
    for d in os.listdir(work_root):  # left behind by a killed run
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not pid_alive(int(pid)):
            shutil.rmtree(os.path.join(work_root, d), ignore_errors=True)
    work = os.path.join(work_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else shutil.which("java")
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "medbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    # The engine's own scratch directories, should it make any, stay here too.
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=tmp)

    host = HostSampler()
    host.start()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        host.stop()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    hoststats = host.stop()
    shutil.rmtree(work, ignore_errors=True)

    res = next((l[len("MEDBENCH_RESULT "):] for l in reversed(out.splitlines())
                if l.startswith("MEDBENCH_RESULT ")), None)
    if proc.returncode != 0 or res is None:
        sys.stderr.write(out[-4000:])
        fail(f"harness exited {proc.returncode} without a result", 1)
    r = json.loads(res)
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": hoststats,
              "samples": {k: v["samples"] for k, v in r["metrics"].items()},
              "info": r.get("info", {}), "failures": r.get("failures", [])}
    print("medbench detail " + json.dumps(detail, sort_keys=True))
    got = set(r["metrics"])
    if got != set(want) and r["correct"]:
        fail(f"metric set differs from BENCHMARK.json: missing {sorted(set(want) - got)}, "
             f"extra {sorted(got - set(want))}", 1)
    final = {"correct": bool(r["correct"]), "attempted": int(r["attempted"]), "failed": int(r["failed"]),
             "metrics": {k: {"value": r["metrics"][k]["value"], "unit": r["metrics"][k]["unit"]}
                         for k in want if k in r["metrics"]}}
    print(json.dumps(final))


if __name__ == "__main__":
    main()
