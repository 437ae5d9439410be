#!/usr/bin/env python3
"""Run one benchmark workload against the engine in the current checkout.

    python3 perfbench/run.py --workload serve|analytics --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine (root
`sbt compile`) and the harness (`perfbench/harness`, its own sbt build)
into ignored directories; later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, starts one JVM with
its own artifact root, temp dir and warehouse under `.perfbench/`, and
prints:

* a `{"detail": ...}` line: host context, the workload's own figures and
  any failed output check;
* last, the result line `{"correct", "attempted", "failed", "metrics"}` —
  end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUNS = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
HEAP = "3g"
RUN_TIMEOUT_S = 160


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        files = ([r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine and harness once per source state; return the
    classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no engine sources here: run from the root of a checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cpf = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "cp.txt")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = source_hash()
        if (os.path.exists(stamp) and os.path.exists(cpf)
                and open(stamp).read() == want):
            return open(cpf).read().strip()
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"], cwd=ROOT, env=sbt_env(),
                stdout=subprocess.PIPE, stderr=out, text=True, timeout=700)
            out.write(r.stdout)
        lines = [ln for ln in r.stdout.splitlines()
                 if ln.startswith("/") and "classes" in ln]
        if r.returncode != 0 or not lines:
            die(f"engine build failed, see {log}")
        engine_cp = lines[-1].strip()
        # per checkout, so two checkouts can share one harness source tree
        target = os.path.join(BUILD, "harness-target")
        with open(log, "a") as out:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                cwd=HARNESS, env=dict(sbt_env(),
                                      PERFBENCH_ENGINE_CP=engine_cp,
                                      PERFBENCH_HARNESS_TARGET=target),
                stdout=out, stderr=out, timeout=400)
        if r.returncode != 0:
            die(f"harness build failed, see {log}")
        cp = os.path.join(target, "scala-2.13", "classes") + ":" + engine_cp
        with open(cpf, "w") as f:
            f.write(cp)
        with open(stamp, "w") as f:
            f.write(want)
        return cp


# ---- host context ---------------------------------------------------------

def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


def nproc():
    return len(os.sched_getaffinity(0))


# ---- run isolation --------------------------------------------------------

def tree_state():
    """What a run must not change in the checkout: the top-level entries
    (no spark-warehouse/, metastore_db/, bench_detail.json may appear),
    bench_detail.json's content if one is committed, and `git status` when
    the checkout is a git work tree."""
    ignore = {".perfbench", ".bench_build", "target", "project", ".bsp"}
    top = sorted(n for n in os.listdir(ROOT) if n not in ignore)
    bd = os.path.join(ROOT, "bench_detail.json")
    digest = (hashlib.sha256(open(bd, "rb").read()).hexdigest()
              if os.path.exists(bd) else None)
    git = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        git = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                             capture_output=True, text=True).stdout
    return {"top": top, "bench_detail": digest, "git": git}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["serve", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    os.makedirs(RUNS, exist_ok=True)
    work = os.path.join(RUNS, f"run-{os.getpid()}-{time.time_ns()}")
    inputs = os.path.join(work, "inputs")
    t0 = time.monotonic()
    try:
        gen.generate(inputs, a.seed, a.workload)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    gen_s = time.monotonic() - t0
    for d in ("cwd", "tmp", "idx", "local"):
        os.makedirs(os.path.join(work, d))
    before = tree_state()
    load0, (steal0, tot0) = loadavg(), cpu_ticks()
    n = nproc()
    env = dict(os.environ,
               SPARK_GRAFT_INDEX_ROOT=os.path.join(work, "idx"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = (["java"] + [x for p in JAVA_OPENS
                       for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--inputs", inputs, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(n)])
    log = os.path.join(work, "harness.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=os.path.join(work, "cwd"), env=env,
                             stdout=out, stderr=subprocess.STDOUT)
        # reap with wait4 ourselves: its rusage carries the JVM's peak RSS
        deadline = time.monotonic() + RUN_TIMEOUT_S
        pid = 0
        while pid == 0 and time.monotonic() < deadline:
            time.sleep(0.1)
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
        if pid == 0:
            p.kill()
            _, status, ru = os.wait4(p.pid, 0)
        p.returncode = status = os.waitstatus_to_exitcode(status)
    load1, (steal1, tot1) = loadavg(), cpu_ticks()
    keep = os.path.join(RUNS, f"last-{a.workload}-trace{a.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for f in ("result.json", "trace.json", "harness.log",
              "analytics_manifest.json"):
        if os.path.exists(os.path.join(work, f)):
            shutil.copy(os.path.join(work, f), keep)
    res_path = os.path.join(work, "result.json")
    if status != 0 or not os.path.exists(res_path):
        shutil.rmtree(work, ignore_errors=True)
        die(f"harness exited with status {status}; log kept in {keep}")
    with open(res_path) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    after = tree_state()
    isolated = before == after
    if not isolated:
        print(f"perfbench: CHECK FAILED run isolation: checkout changed "
              f"({before} -> {after})", file=sys.stderr)
    steal_share = (steal1 - steal0) / max(1, tot1 - tot0)
    host = {
        "nproc": n, "session_parallelism": res["cpus"],
        "profile": res["profile"], "heap": HEAP,
        "loadavg_before": load0, "loadavg_after": load1,
        "steal_ticks": steal1 - steal0, "steal_share": round(steal_share, 5),
        "cpu_cal_ms": res["detail"]["cpu_cal_ms"]["value"],
        "gen_s": round(gen_s, 3),
        # CPU stolen by the hypervisor during the run makes its timings
        # unrepresentative; loadavg and the yardstick show other load
        "contaminated": steal_share > 0.05,
    }
    failed_checks = [c for c in res["checks"] if not c["ok"]]
    if not isolated:
        failed_checks.append({"name": "run_isolation", "ok": False,
                              "msg": "the checkout changed during the run"})
    for c in failed_checks:
        print(f"perfbench: CHECK FAILED {c['name']}: {c['msg']}",
              file=sys.stderr)
    res["detail"]["peak_rss_mb"] = {"value": ru.ru_maxrss / 1024.0,
                                    "unit": "MB"}
    if a.trace:
        # every per-layer metric, in BENCHMARK.json's order; a layer the
        # workload does not exercise reads 0
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            names = json.load(f)["per_layer"]
        metrics = {m["name"]: res["layer"].get(
            m["name"], {"value": 0.0, "unit": m["unit"]}) for m in names}
    else:
        metrics = res["e2e"]
    print(json.dumps({"detail": {
        "workload": a.workload, "seed": a.seed, "host": host,
        "metrics": res["detail"],
        "failed_checks": failed_checks}}))
    print(json.dumps({
        "correct": bool(res["correct"]) and isolated,
        "attempted": int(res["attempted"]) + 1,
        "failed": int(res["failed"]) + (0 if isolated else 1),
        "metrics": metrics}))


if __name__ == "__main__":
    main()
