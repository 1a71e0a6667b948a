"""The default driver heap and parallelism fit the host, and the
environment reaches the program only through ``session``: no JVM is
started here."""

from __future__ import annotations

import ast
import os

from cpg_spark import session
from cpg_spark.session import default_cpus, default_driver_memory, env_conf

GIB = 1 << 30


def _fake_host(monkeypatch, tmp_path, phys_bytes, limits):
    """Physical memory ``phys_bytes``; ``limits`` are the cgroup files'
    contents (``None`` for a file that does not exist)."""
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    paths = []
    for i, text in enumerate(limits):
        path = tmp_path / f"limit{i}"
        if text is not None:
            path.write_text(text + "\n")
        paths.append(str(path))
    monkeypatch.setattr(session, "_CGROUP_LIMITS", tuple(paths))
    monkeypatch.delenv("CPG_SPARK_DRIVER_MEM", raising=False)


def test_default_heap_is_a_share_of_host_memory(monkeypatch, tmp_path):
    _fake_host(monkeypatch, tmp_path, 10 * GIB, ["max", None])
    assert default_driver_memory() == "4096m"


def test_lower_cgroup_limit_wins(monkeypatch, tmp_path):
    _fake_host(monkeypatch, tmp_path, 16 * GIB, ["max", str(5 * GIB)])
    assert default_driver_memory() == "2048m"


def test_unlimited_cgroup_keeps_physical_memory(monkeypatch, tmp_path):
    # cgroup v1 reads an unlimited limit as a number near 2**63
    _fake_host(monkeypatch, tmp_path, 10 * GIB,
               [None, "9223372036854771712"])
    assert default_driver_memory() == "4096m"


def test_env_overrides_default_heap(monkeypatch):
    monkeypatch.setenv("CPG_SPARK_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


def test_default_cpus_are_the_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity",
                        lambda pid: {0, 1, 2, 5})
    assert default_cpus() == 4


def test_env_overrides_default_cpus(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setattr(session.os, "sched_getaffinity",
                        lambda pid: {0, 1, 2, 5})
    assert default_cpus() == 3


def test_env_maps_into_conf(monkeypatch):
    for var in ("CPG_SPARK_LOCAL_DIR", "CPG_SPARK_SCRATCH_DIR",
                "CPG_SPARK_CATALOG"):
        monkeypatch.delenv(var, raising=False)
    assert env_conf() == {}
    monkeypatch.setenv("CPG_SPARK_LOCAL_DIR", "/l")
    # the scratch dir falls back to the local dir
    assert env_conf() == {"spark.local.dir": "/l",
                          "spark.cpg.scratchDir": "/l"}
    monkeypatch.setenv("CPG_SPARK_SCRATCH_DIR", "/s")
    monkeypatch.setenv("CPG_SPARK_CATALOG", "ice")
    assert env_conf() == {"spark.local.dir": "/l",
                          "spark.cpg.scratchDir": "/s",
                          "spark.cpg.catalog": "ice"}


def _env_reads(tree: ast.AST) -> list[int]:
    """Lines that touch ``os.environ`` or ``os.getenv``, or import them
    from ``os``."""
    lines = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute)
                and node.attr in ("environ", "getenv")
                and isinstance(node.value, ast.Name) and node.value.id == "os"):
            lines.append(node.lineno)
        elif (isinstance(node, ast.ImportFrom) and node.module == "os"
              and {a.name for a in node.names} & {"environ", "getenv"}):
            lines.append(node.lineno)
    return lines


def test_only_session_reads_the_environment():
    pkg = os.path.dirname(session.__file__)
    found = {}
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == session.__file__:
                continue
            with open(path) as fh:
                lines = _env_reads(ast.parse(fh.read(), path))
            if lines:
                found[os.path.relpath(path, pkg)] = lines
    assert found == {}
    # the scan sees a read where there is one
    assert sorted(_env_reads(ast.parse(
        "import os\nx = os.environ.get('A')\ny = os.getenv('B')\n"
        "from os import environ\n"))) == [2, 3, 4]
