"""The benchmark's own tests: run with ``python3 -m pytest perfbench -q``.

Each run goes in its own interpreter (one Spark JVM each) on a tiny
``bulk`` corpus, so the tests check the benchmark's contract -- every
metric named in BENCHMARK.json is printed with its unit, a wrong output
fails the run, no process outlives a run -- not its numbers."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

TINY = """
import sys
sys.path.insert(0, {here!r})
import run
from corpus import CorpusSize
run.WORKLOADS["bulk"] = run.replace(run.WORKLOADS["bulk"], size=CorpusSize(
    docs=120, pdf_share=0.2, giant_share=0.0, megas=0, mega_pages=0, files=2),
    solver_queries=("web_redirect_chains",))
{plant}
sys.exit(run.main(sys.argv[1:]))
"""

# the reference disagrees with the program on exactly one document
PLANT_ONE_MISMATCH = """
exact = run.reference
planted = []
def reference(payload, mode):
    want = exact(payload, mode)
    if not planted:
        planted.append(payload)
        want["markdown"] += "\\n"
    return want
run.reference = reference
"""


def _spark_processes() -> set[int]:
    """Running JVMs and PySpark worker processes."""
    found = set()
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
            with open(f"/proc/{name}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except (OSError, ValueError):
            continue
        if state != "Z" and (os.path.basename(argv[0]) == b"java"
                             or any(a.startswith(b"pyspark.") for a in argv)):
            found.add(int(name))
    return found


def _run_tiny(trace: int, plant: str = "") -> subprocess.CompletedProcess:
    """One run on the tiny corpus; no process it started may outlive it."""
    code = TINY.format(here=HERE, plant=plant)
    before = _spark_processes()
    # output to files, not pipes: reading a pipe to its end would wait for
    # every process that inherited it, and hide one that outlives the run
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        proc = subprocess.run(
            [sys.executable, "-c", code, "--workload", "bulk", "--seed", "3",
             "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, stdout=out, stderr=err, text=True, timeout=600,
        )
        assert _spark_processes() <= before, "the run left processes running"
        out.seek(0)
        err.seek(0)
        proc.stdout, proc.stderr = out.read(), err.read()
    return proc


def _printed_units(stdout: str) -> dict[str, str]:
    units = {}
    for line in stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[1].startswith("median=") and parts[-1].startswith("unit="):
            units[parts[0]] = parts[-1][len("unit="):]
    return units


def _check_metrics(trace: int, key: str) -> None:
    proc = _run_tiny(trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    printed = _printed_units(proc.stdout)
    want = {m["name"]: m["unit"] for m in SPEC[key]}
    assert set(result["metrics"]) == set(want)
    for name, unit in want.items():
        assert result["metrics"][name]["unit"] == unit, name
        assert printed.get(name) == unit, name


def test_every_end_to_end_metric_prints_with_its_unit():
    _check_metrics(0, "end_to_end")


def test_every_per_layer_metric_prints_with_its_unit():
    _check_metrics(1, "per_layer")


def test_planted_mismatch_fails_the_run():
    proc = _run_tiny(0, PLANT_ONE_MISMATCH)
    assert proc.returncode == 1, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] == 1
    assert 0 < result["metrics"]["match_rate"]["value"] < 1
    assert "check mismatch:" in proc.stdout


def test_fails_without_the_program(tmp_path):
    """Only BENCHMARK.json and perfbench/: no result, non-zero exit."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
