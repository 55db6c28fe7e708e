"""Self-test of the benchmark at tiny sizes, for every workload.

    python3 perfbench/selftest.py

For each workload in BENCHMARK.json it runs ``run.py --scale tiny``
untraced and traced, and checks that the last stdout line parses, has
exactly the result keys, reports ``correct: true``, and carries every
metric BENCHMARK.json names for that mode with its unit. It then runs
the workload once more with the DuckDB reference deliberately wrong (a
flipped tombstone in the expected state; a wrong expected digest for
one query) and checks that the run reports ``correct: false`` with
every op failed. Exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: child-process prelude that makes the reference wrong, per workload
_CORRUPT = {
    "cdc-steady": (
        "import oracle\n"
        "_init = oracle.StateCheck.__init__\n"
        "def init(self, *a, **k):\n"
        "    _init(self, *a, **k)\n"
        "    self.corrupt()\n"
        "oracle.StateCheck.__init__ = init\n"),
    "analytics": (
        "import oracle\n"
        "_digest = oracle.oracle_digest\n"
        "calls = []\n"
        "def digest(con, sql):\n"
        "    calls.append(sql)\n"
        "    return 'wrong' if len(calls) == 1 else _digest(con, sql)\n"
        "oracle.oracle_digest = digest\n"),
}


def _run(workload: str, trace: int, prelude: str = "") -> dict:
    args = ["--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--scale", "tiny"]
    code = (f"import sys; sys.path.insert(0, {HERE!r})\n{prelude}"
            f"import run\nsys.exit(run.main({args!r}))\n")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError(f"{workload} trace={trace}: exit "
                             f"{p.returncode}\n{p.stderr[-3000:]}")
    if len(lines) != 1:
        raise AssertionError(f"stdout has {len(lines)} lines, want 1")
    return json.loads(lines[-1])


def _check_shape(res: dict, want: list[dict], tag: str) -> None:
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{tag}: keys {sorted(res)}")
    if not (isinstance(res["attempted"], int) and res["attempted"] >= 1
            and isinstance(res["failed"], int)):
        raise AssertionError(f"{tag}: attempted/failed {res}")
    got = res["metrics"]
    for m in want:
        e = got.get(m["name"])
        if e is None or e.get("unit") != m["unit"] \
                or not isinstance(e.get("value"), (int, float)):
            raise AssertionError(f"{tag}: metric {m['name']} -> {e}")
    extra = set(got) - {m["name"] for m in want}
    if extra:
        raise AssertionError(f"{tag}: unexpected metrics {sorted(extra)}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (x["name"] for x in spec["workloads"]):
        for trace, want in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res = _run(w, trace)
            _check_shape(res, want, f"{w} trace={trace}")
            if not res["correct"] or res["failed"]:
                raise AssertionError(f"{w} trace={trace}: {res}")
            print(f"ok   {w} trace={trace}: {res['attempted']} ops")
        res = _run(w, 0, _CORRUPT[w])
        _check_shape(res, spec["end_to_end"], f"{w} corrupt")
        if res["correct"] or res["failed"] != res["attempted"]:
            raise AssertionError(f"{w}: a wrong reference was accepted: "
                                 f"{res}")
        print(f"ok   {w}: wrong reference rejected")
    return 0


if __name__ == "__main__":
    sys.exit(main())
