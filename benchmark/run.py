"""graft benchmark: one command for every workload.

    python3 benchmark/run.py --workload star_etl|spool_follow|entry_mix \
        --seed N --seconds S --trace 0|1 [--slots K]
    python3 benchmark/run.py --selftest [--workload W]

Run from the root of a graft checkout. The first run builds graft and
the benchmark from source (sbt, offline) into .bench_build/; inputs are
generated once per (workload, seed) into .bench_data/; each run works in
.bench_work/<workload>/, which it empties first. The last line of
standard output is the JSON result of the run.
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
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("star_etl", "spool_follow", "entry_mix")
HEAP = "2g"
BUILD_TIMEOUT_S = 700  # + one run stays under the 900 s a first run may take
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print("graftbench: " + msg, file=sys.stderr)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


def spark_home():
    """The Spark installation graft is built and run against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail(2, "no Spark jars under $SPARK_HOME (%r)" % home)
    return home


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    out = [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build():
    """Compile graft + the benchmark unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(2, "no graft sources under %s/src/main/scala" % ROOT)
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() \
            and os.path.isdir(classes):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       HERE, env, out, out, BUILD_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(tail(log))
        fail(3, "build failed (rc=%s), log in %s" % (rc, log))
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def run_child(cmd, cwd, env, stdout, stderr, timeout):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timeout"
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def cpu_ticks():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return sum(f[:3]) + sum(f[5:7]), f[7]


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def inputs(workload, seed):
    """The per-seed input cache, generated on first use."""
    d = os.path.join(DATA, "%s-seed%d" % (workload, seed))
    if os.path.isdir(d):
        return d
    tmp = d + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), workload,
                    str(seed), tmp], check=True, stdin=subprocess.DEVNULL)
    os.rename(tmp, d)
    return d


def jvm(classes, workload, seed, seconds, trace, slots, selftest=False):
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spark_jars = os.path.join(spark_home(), "jars", "*")
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dderby.system.home=" + work]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + spark_jars, "graftbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--inputs", inputs(workload, seed), "--work", work,
            "--slots", str(slots), "--selftest", "1" if selftest else "0"]
    out_path = os.path.join(work, "stdout.txt")
    log = os.path.join(work, "jvm.log")
    with open(out_path, "w") as out, open(log, "w") as err:
        rc = run_child(cmd, work, dict(os.environ), out, err, RUN_TIMEOUT_S)
    lines = [l for l in open(out_path).read().splitlines() if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write(tail(log))
        fail(1, "%s run failed (rc=%s), log in %s" % (workload, rc, log))
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--slots", type=int, default=0,
                    help="Spark task slots (default: all cores; spool_follow "
                         "keeps one core for its append generator)")
    ap.add_argument("--selftest", action="store_true",
                    help="check that every workload's check catches planted errors")
    a = ap.parse_args()
    # a terminated run must take its JVM down with it (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    classes = build()
    if a.selftest:
        bad = 0
        for w in ([a.workload] if a.workload else WORKLOADS):
            r = jvm(classes, w, a.seed, a.seconds, False, max(cores() - 1, 1), True)
            print(json.dumps(r))
            bad += r["failures"]
        sys.exit(1 if bad else 0)
    slots = a.slots or max(cores() - (1 if a.workload == "spool_follow" else 0), 1)
    t0, (busy0, steal0) = time.time(), cpu_ticks()
    result = jvm(classes, a.workload, a.seed, a.seconds, a.trace == 1, slots)
    busy, steal = cpu_ticks()
    # steal: CPU time the hypervisor gave to other guests while this run
    # wanted it; a high share explains slow outliers
    print("graftbench: %s seed %d done in %.1f s, steal %.1f%% of busy CPU"
          % (a.workload, a.seed, time.time() - t0,
             100.0 * (steal - steal0) / max(busy - busy0 + steal - steal0, 1)),
          file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
