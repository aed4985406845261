"""Self-test of the benchmark's output contract; needs no Spark.

    python3 perfbench/selftest.py [captured_stdout ...]

Checks that the metric names and units in ``BENCHMARK.json`` are the
ones ``run.py`` prints, and that a worst-case summary line (every
metric, every value at full width) parses back and stays under the
length limit.  Each file given is a captured stdout of ``run.py``
whose last line must parse the same way.
"""

from __future__ import annotations

import json
import os
import sys

sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from perfbench import run  # noqa: E402

KEYS = {"correct", "attempted", "failed", "metrics"}


class ContractError(AssertionError):
    pass


def require(ok: bool, what) -> None:
    if not ok:
        raise ContractError(what)


def spec() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_line(line: str, units: dict[str, str]) -> None:
    require(len(line) < run.LINE_LIMIT, f"line is {len(line)} chars")
    out = json.loads(line)
    require(set(out) == KEYS, sorted(out))
    require(isinstance(out["correct"], bool), "correct")
    require(isinstance(out["attempted"], int) and out["attempted"] >= 1,
            "attempted")
    require(isinstance(out["failed"], int) and out["failed"] >= 0,
            "failed")
    require(set(out["metrics"]) == set(units), sorted(
        set(out["metrics"]) ^ set(units)
    ))
    for name, m in out["metrics"].items():
        require(set(m) == {"value", "unit"}, name)
        require(isinstance(m["value"], (int, float)), name)
        require(m["unit"] == units[name], name)


def main(paths: list[str]) -> int:
    bench = spec()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    require(e2e == run.E2E_UNITS, "end_to_end differs from run.E2E_UNITS")
    require(layers == run.layer_units(), "per_layer differs from run.py")
    require(bench["command"] == ["python3", "perfbench/run.py"], "command")

    widest = -123456.789012  # full-width value after rounding
    for units in (e2e, layers):
        line = run.summary_line(
            False, 10**6, 10**6, {k: widest for k in units}, units
        )
        check_line(line, units)
        print(f"ok   worst-case line, {len(line)} chars")
    for path in paths:
        with open(path) as f:
            last = f.read().rstrip("\n").rsplit("\n", 1)[-1]
        units = layers if set(json.loads(last)["metrics"]) == set(
            layers
        ) else e2e
        check_line(last, units)
        print(f"ok   {path}, {len(last)} chars")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
