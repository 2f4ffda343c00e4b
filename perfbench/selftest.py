"""Self-test of the benchmark's summary line.

    python3 perfbench/selftest.py          # the worst-case line only
    python3 perfbench/selftest.py --run    # also runs every workload

Checks that the summary parses, names every BENCHMARK.json metric of its
kind with its unit, and fits in 4 KB. The length check builds the
longest line the rounding in run.py allows, so it holds for any run;
`--run` checks real output of each workload with and without tracing
(four short runs, a few minutes in all).
"""
import json
import subprocess
import sys

import run
import summary


def worst_case_line(bench, trace):
    # the longest value each unit can print after rounding
    longest = {"ms": 123456.123456, "s": 123.123456789, "MB": 12345.123,
               "ratio": 123.123456, "1/s": 123.123456, "count": 1234567.12,
               "bytes": 123456789.12}
    metrics = {m["name"]: {"value": run.rounded(longest[m["unit"]],
                                                m["unit"]),
                           "unit": m["unit"]}
               for m in bench["per_layer" if trace else "end_to_end"]}
    return json.dumps({"correct": True, "attempted": 1000000,
                       "failed": 1000000, "metrics": metrics},
                      separators=(",", ":"))


def main():
    bench = summary.load_benchmark(run.ROOT)
    for trace in (0, 1):
        line = worst_case_line(bench, trace)
        summary.check(line, bench, trace)
        print(f"worst-case trace={trace}: {len(line)} bytes, ok")
    if "--run" not in sys.argv:
        return
    for w in bench["workloads"]:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w["name"],
                 "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                cwd=run.ROOT, capture_output=True, text=True)
            line = p.stdout.strip().splitlines()[-1]
            summary.check(line, bench, trace)
            assert p.returncode == 0 and json.loads(line)["correct"], \
                (w["name"], trace, p.returncode, p.stderr[-2000:])
            print(f"{w['name']} trace={trace}: {len(line)} bytes, ok")


if __name__ == "__main__":
    main()
