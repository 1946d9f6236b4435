#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload gem_workbooks --seed 1 --seconds 20 --trace 0

Run from the repository root.  The first run builds the program and the
harness from source with sbt (offline) and caches the classpath under
``.bench_build/``; inputs are generated from the seed and cached there
too.  Each sample is a fresh JVM launched with plain ``java -cp``, the
way a user starts the job: it sets up the session, warms up on a small
instance of the workload, then runs measured passes while another
should end within ``--seconds`` (at least one), checking each pass's
outputs.  With ``--trace 0`` a run sets up at least twice (a
set-up-only JVM makes up the count) and reports medians of the
end-to-end metrics.  With ``--trace 1`` it runs one untraced and one
traced sample, one measured pass each, and reports the per-layer
metrics.
The last line of output is one JSON object.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_crawl  # noqa: E402
import gen_gem  # noqa: E402

WORKLOADS = {
    # name: (generator, measured size, warm-up size)
    "gem_workbooks": ("gem", dict(units=300, drops=2), dict(units=40, drops=2)),
    "crawl_to_index": ("crawl", dict(pages=300, batches=2, batch_pages=30),
                       dict(pages=80, batches=2, batch_pages=8)),
}
MIN_SETUPS = 2
DEADLINE_S = 170          # every run ends within 180 s
HEAP = "-Xmx4g"
ADD_OPENS = [  # what spark-submit passes on JDK 17 (see the root build)
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


RUNNING = []  # the JVM being waited for, so a signal can stop it first


def stop(signum, _frame):
    for proc in RUNNING:
        proc.kill()
        proc.wait()
    fail("stopped by signal %d" % signum)


def sources_digest(root):
    h = hashlib.sha256()
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties",
                 "perfbench/src"):
        path = os.path.join(root, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile the program and the harness; return the runtime classpath."""
    stamp = os.path.join(state, "build.stamp")
    cp_file = os.path.join(state, "classpath.txt")
    digest = sources_digest(root)
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g"]))
    log = os.path.join(state, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=os.path.join(root, "perfbench"), env=env,
                            stdout=out, stderr=subprocess.STDOUT).returncode
    lines = [l.strip() for l in open(log) if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        fail("build failed, see " + log)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def inputs(state, workload, seed):
    """Generated inputs for (workload, seed, size), cached: the measured
    instance, and a small one in `warmup/` that runs the same code."""
    kind, size, warmup = WORKLOADS[workload]
    key = "-".join([workload, str(seed)] + ["%s%s" % kv for kv in sorted(size.items())])
    path = os.path.join(state, "inputs", key)
    if os.path.exists(os.path.join(path, "expected.json")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "warmup"))
    generate = gen_gem.generate if kind == "gem" else gen_crawl.generate
    generate(os.path.join(tmp, "warmup"), seed, **warmup)
    generate(tmp, seed, **size)
    os.rename(tmp, path)
    return path


def sample(state, classpath, workload, inp, trace, seconds, deadline):
    """One JVM: set up, warm up, run measured passes, check, report."""
    work = os.path.join(state, "work", "%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "out", "warehouse"):
        os.makedirs(os.path.join(work, d))
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
           + [HEAP, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-cp", classpath, "perfbench.Main", workload, inp, work])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    log = os.path.join(state, "last-%s.log" % workload)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd + [str(time.time_ns()), str(trace), str(seconds)],
                                cwd=work, env=env,
                                stdout=subprocess.PIPE, stderr=err, text=True)
        RUNNING[:] = [proc]
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("a %s sample ran past the deadline, see %s" % (workload, log))
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            RUNNING.clear()
    if trace:
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(state, "spans-%s.json" % workload))
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        fail("a %s sample exited with %d, see %s" % (workload, proc.returncode, log))
    return json.loads(lines[-1][len("PERFBENCH "):])


def cpu_ticks():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    v = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return sum(v[:3]) + sum(v[5:7]), v[7]


def quantile(values, q):
    """Linear-interpolated quantile of a non-empty list."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail("run from the repository root: %s is missing" % need)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    classpath = build(root, state)
    inp = inputs(state, args.workload, args.seed)

    deadline = time.monotonic() + DEADLINE_S
    ticks0, child0 = cpu_ticks(), os.times()
    if args.trace:  # one measured pass each
        runs = [sample(state, classpath, args.workload, inp, t, 0, deadline) for t in (0, 1)]
    else:
        runs = [sample(state, classpath, args.workload, inp, 0, args.seconds, deadline)]
        setups = [r["setup_s"] for r in runs]
        while len(setups) < MIN_SETUPS:  # set up again, without the workload
            setups.append(sample(state, classpath, "setup", "-", 0, 0, deadline)["setup_s"])
    ticks1, child1 = cpu_ticks(), os.times()
    busy, steal = ticks1[0] - ticks0[0], ticks1[1] - ticks0[1]
    print("JVM cpu %.1f s; machine steal %.1f%% of busy time"
          % (child1.children_user + child1.children_system
             - child0.children_user - child0.children_system,
             100.0 * steal / max(1, busy + steal)))

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    for i, r in enumerate(runs):
        print("sample %d: setup_s %.3f warmup_s %.3f" % (i, r["setup_s"], r["warmup_s"]))
        for k, p in enumerate(r["passes"]):
            print("sample %d pass %d: wall_s %.3f out_bytes %d refresh_s %s"
                  % (i, k + 1, p["wall_s"], p["out_bytes"],
                     " ".join("%.3f" % x for x in p["refresh_s"])))
        for m in r["messages"]:
            print("check: " + m)
    passes = [p for r in runs for p in r["passes"]]
    if args.trace:
        untraced, traced = runs
        values = dict(traced["layers"])
        values["trace.wall_s"] = traced["passes"][-1]["wall_s"]
        values["trace.overhead_s"] = values["trace.wall_s"] - untraced["passes"][-1]["wall_s"]
        values["trace.warmup_s"] = traced["warmup_s"]
        wanted = spec["per_layer"]
    else:
        print("set-up samples: " + " ".join("%.3f" % x for x in setups))
        refresh = [x for p in passes for x in p["refresh_s"]]
        values = {
            "setup_s": statistics.median(setups),
            "wall_s": statistics.median(p["wall_s"] for p in passes),
            "refresh_p50_s": quantile(refresh, 0.5),
            "refresh_p90_s": quantile(refresh, 0.9),
            "out_bytes": statistics.median(p["out_bytes"] for p in passes),
        }
        wanted = spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail("the harness did not report " + ", ".join(missing))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print("%s seed %d: %d samples, %d of %d operations failed (failed_frac %.4f)"
          % (args.workload, args.seed, len(runs), failed, attempted, failed / attempted))
    for k in sorted(metrics):
        print("  %-26s %16.6f %s" % (k, metrics[k]["value"], metrics[k]["unit"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
