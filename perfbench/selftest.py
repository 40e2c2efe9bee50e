"""Self-test of the benchmark: contract of BENCHMARK.json, short runs.

    python3 perfbench/selftest.py

Checks that ``BENCHMARK.json`` has the agreed shape, then runs every
workload briefly untraced and traced and asserts that the last stdout
line is the result object, that every output check ran and passed, and
that every metric named in ``BENCHMARK.json`` is printed with its unit.
Last, it runs the command in a directory holding only ``BENCHMARK.json``
and the benchmark's own files, where it must fail without a result.
Takes a few minutes; exits 0 when everything holds.
"""

from __future__ import annotations

import json
import math
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spec(spec: dict) -> None:
    from perfbench.workloads import WORKLOADS
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}, sorted(spec)
    assert 1 <= spec["run_seconds"] <= 60
    assert isinstance(spec["run_seconds"], int)
    names: set[str] = set()
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200, w
        assert w["name"] in WORKLOADS, w["name"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25, m
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    for m in spec["workloads"] + spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and m["name"] not in names, m
        names.add(m["name"])
        if "unit" in m:
            assert UNIT.match(m["unit"]), m
            assert m["better"] in ("lower", "higher"), m
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and \
        setup[0]["better"] == "lower", "setup_s must be reported"


def run(spec: dict, cwd: Path, workload: str, traced: int,
        seconds: int = 1) -> subprocess.CompletedProcess:
    cmd = spec["command"] + ["--workload", workload, "--seed", "7",
                             "--seconds", str(seconds),
                             "--trace", str(traced)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def check_result(spec: dict, proc: subprocess.CompletedProcess,
                 traced: int) -> None:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["correct"] is True and res["failed"] == 0, proc.stderr[-3000:]
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert any("ops_failed_ratio 0.000" in ln for ln in lines[:-1])
    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in wanted}, \
        sorted(set(res["metrics"]) ^ {m["name"] for m in wanted})
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert math.isfinite(got["value"]), (m, got)
        if not traced:
            assert got["value"] > 0, (m, got)


def check_bare_directory(spec: dict) -> None:
    bare = ROOT / ".perfbench_cache" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in spec["paths"]:
        shutil.copytree(ROOT / p, bare / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(spec, bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare)
    assert proc.returncode != 0, "ran without the package under test"
    assert "metrics" not in proc.stdout, proc.stdout


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_spec(spec)
    print("BENCHMARK.json: ok", flush=True)
    for w in spec["workloads"]:
        for traced in (0, 1):
            check_result(spec, run(spec, ROOT, w["name"], traced), traced)
            print(f"{w['name']} trace={traced}: ok", flush=True)
    check_bare_directory(spec)
    print("bare directory: fails without a result, ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
