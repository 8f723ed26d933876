"""`pdfplumber_rs_spark.session` is the one place local scripts and the
tests start Spark, and its defaults fit the host it runs on. The
settings are checked without starting a JVM."""

from __future__ import annotations

import os
import re
import subprocess
from pathlib import Path

import pytest

from pdfplumber_rs_spark.session import session_conf

ROOT = Path(__file__).resolve().parents[1]
# spark-submit jobs take their master from the command line, and the
# benchmark harness pins its own configuration
BUILDER_ALLOWED = {"pdfplumber_rs_spark/session.py", "perfbench/run.py",
                   "scripts/submit_job.py"}
PHYS = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
CPUS = len(os.sched_getaffinity(0))


def _tracked_py() -> list[str]:
    try:
        out = subprocess.run(["git", "ls-files", "*.py"], cwd=ROOT,
                             capture_output=True, text=True, check=True)
        return out.stdout.split()
    except (OSError, subprocess.CalledProcessError):  # not a git checkout
        return [str(p.relative_to(ROOT)) for p in ROOT.rglob("*.py")]


def test_spark_sessions_are_built_in_one_place():
    builds = [f for f in _tracked_py() if f not in BUILDER_ALLOWED
              and re.search(r"SparkSession\s*\.\s*builder",
                            (ROOT / f).read_text(errors="replace"))]
    assert builds == []


def _bytes(mem: str) -> int:
    num, unit = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.lower()).groups()
    return int(num) * 1024 ** " kmgt".index(unit or " ")


@pytest.fixture
def no_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_MEM", raising=False)
    return monkeypatch


def test_defaults_come_from_the_host(no_env):
    conf = session_conf()
    assert conf["spark.master"] == f"local[{CPUS}]"
    assert conf["spark.sql.shuffle.partitions"] == str(CPUS)
    assert 0 < _bytes(conf["spark.driver.memory"]) <= PHYS // 2
    assert _bytes(conf["spark.driver.memory"]) <= 24 * 1024 ** 3
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.ui.enabled"] == "false"


def test_environment_overrides_the_host(no_env):
    no_env.setenv("SPARK_GRAFT_CPUS", "3")
    no_env.setenv("SPARK_GRAFT_MEM", "2g")
    conf = session_conf()
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.driver.memory"] == "2g"


def test_arguments_and_conf_override_everything(no_env):
    no_env.setenv("SPARK_GRAFT_CPUS", "3")
    no_env.setenv("SPARK_GRAFT_MEM", "2g")
    conf = session_conf(cpus=2, mem="1g", **{
        "spark.sql.shuffle.partitions": "8", "spark.ui.enabled": "true"})
    assert conf["spark.master"] == "local[2]"
    assert conf["spark.driver.memory"] == "1g"
    assert conf["spark.sql.shuffle.partitions"] == "8"
    assert conf["spark.ui.enabled"] == "true"
    cluster = "local-cluster[1,2,1024]"
    assert session_conf(cpus=2, master=cluster)["spark.master"] == cluster


def test_test_session_keeps_its_settings(spark):
    conf = spark.sparkContext.getConf()
    assert spark.sparkContext.master == "local[4]"
    assert conf.get("spark.driver.memory") == "4g"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert conf.get("spark.ui.enabled") == "false"
