"""End-to-end runs of the benchmark command (each starts a Spark JVM)."""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import run

REPO = Path(run.REPO)


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_traced_etl_loads_no_tables_and_is_correct():
    p = _run(REPO, "--workload", "etl_zori", "--seed", "5", "--seconds", "1",
             "--trace", "1")
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == set(run.PER_LAYER)
    assert m["sources.tables.calls"] == 0  # the ETL reads a CSV, no tables
    assert m["sources.csv.jobs"] >= 1  # the header probe
    assert m["sources.sink.files"] > 0 and m["operators.quality.jobs"] > 0
    assert not (REPO / ".perfbench_tmp").exists()


def test_fails_without_the_engine(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(REPO / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "catalog_sql", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
