"""The summary line's contract, shared by run.py (checked before it
prints) and selftest.py."""
import json
import os

MAX_LINE_BYTES = 4096


def load_benchmark(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def check(line, bench, trace):
    """Raises ValueError unless `line` parses, names every metric of its
    kind with the unit BENCHMARK.json gives, and fits in 4 KB."""
    if len(line.encode()) > MAX_LINE_BYTES:
        raise ValueError(f"summary is {len(line.encode())} bytes, "
                         f"over {MAX_LINE_BYTES}")
    out = json.loads(line)
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"summary keys {sorted(out)}")
    if not (isinstance(out["attempted"], int) and out["attempted"] >= 1
            and isinstance(out["failed"], int)):
        raise ValueError("attempted/failed must be whole numbers, "
                         "attempted at least 1")
    want = bench["per_layer" if trace else "end_to_end"]
    if set(out["metrics"]) != {m["name"] for m in want}:
        raise ValueError("metric names differ from BENCHMARK.json")
    for m in want:
        got = out["metrics"][m["name"]]
        if got.get("unit") != m["unit"] or \
                not isinstance(got.get("value"), (int, float)):
            raise ValueError(f"{m['name']}: {got} (want unit {m['unit']})")
