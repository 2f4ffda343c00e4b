"""The benchmark command.

    python3 perfbench/run.py --workload <oltp_mix|mv_maintain>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the
workload's tables from the seed (perfbench/gen.py), runs the workload in
its own JVM (perfbench/src), checks every output, and prints one JSON
summary as the last line of stdout: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. Exits 1 when any
op failed or returned a wrong result, 2 on a usage or build error.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import summary  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 165
# what SparkSession needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap():
    """Half of physical memory, clamped to 2..8 GiB: the rule the
    repository's test command uses."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def rounded(v, unit):
    """Drops float noise below what was measured: times to the
    nanosecond, ratios and rates to six decimals, per-op mean counts and
    bytes to two."""
    return round(v, {"ms": 6, "s": 9, "MB": 3, "count": 2,
                     "bytes": 2}.get(unit, 6))


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "spark-warehouse")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.PerfBench"] + args
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                         cwd=work, start_new_session=True)
    try:
        return p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("[perfbench] workload JVM timed out", file=sys.stderr)
        return -1
    finally:
        # on a timeout, or when this process is told to stop
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    bench = summary.load_benchmark(ROOT)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        raise SystemExit(2)
    try:
        cp = build.build()
    except SystemExit as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    work = os.path.join(build.BUILD, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen.main(a.workload, a.seed, data)
    result = os.path.join(work, "result.json")
    code = run_jvm(cp, [a.workload, data, work, str(a.seconds), str(a.seed),
                        str(a.trace), result], work)
    if code != 0 or not os.path.exists(result):
        print(f"[perfbench] workload JVM exited {code}", file=sys.stderr)
        sys.exit(1)
    m = json.load(open(result))
    attempted = int(m["attempted"]["value"])
    failed = int(m["failed"]["value"])
    oracle_ok = True
    results = os.path.join(work, "results")
    if os.path.isdir(results):
        import oracle
        bad = oracle.check(results, data)
        for line in bad:
            print(f"[perfbench] oracle: {line}", file=sys.stderr)
        oracle_ok = not bad
    keys = "per_layer" if a.trace else "end_to_end"
    out = {
        "correct": failed == 0 and oracle_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {x["name"]: {"value": rounded(m[x["name"]]["value"],
                                                 x["unit"]),
                                "unit": x["unit"]} for x in bench[keys]},
    }
    line = json.dumps(out, separators=(",", ":"))
    summary.check(line, bench, a.trace)
    print(line)
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
