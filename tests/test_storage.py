"""The storage module: Hadoop-FileSystem path probes and the
process-scoped query scratch root."""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

from aws_data_engineering_spark.storage import (
    HadoopPath,
    partitions_for_bytes,
    partitions_for_paths,
)

PKG = Path(__file__).resolve().parent.parent / "aws_data_engineering_spark"


def test_hadoop_path_probes(spark, tmp_path):
    """Every probe answers the same for a plain path and its file:// URI."""
    table = tmp_path / "t"
    (table / "_temporary").mkdir(parents=True)
    (table / "_SUCCESS").write_bytes(b"")
    for form in (str(table), table.as_uri()):
        t = HadoopPath(spark, form)
        assert t.exists() and not t.is_file()
        assert not t.holds_visible_entry()  # only hidden entries
        assert not HadoopPath(spark, f"{form}/missing").holds_visible_entry()
    (table / "dt=d1").mkdir()
    (table / "dt=d1" / "part-0.parquet").write_bytes(b"x" * 10)
    for form in (str(table), table.as_uri()):
        t = HadoopPath(spark, form)
        assert t.holds_visible_entry()
        assert t.total_bytes() == 10
        staging = t.sibling("_staging")
        assert str(staging).endswith(f"{tmp_path}/_staging")
        assert str(staging).startswith("file:") == form.startswith("file:")
    HadoopPath(spark, table.as_uri()).delete()
    assert not table.exists()


def test_partitions_for_bytes_derivation(spark):
    """Data-sized shuffle partitions: ceil(bytes/advisory) clamped to
    [1, session shuffle partitions] — tiny inputs get 1, huge inputs keep
    the session value (the at-scale no-op that makes this not a local[]
    tune), and a path the filesystem cannot size gets no count."""
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert partitions_for_bytes(spark, 0) == 1
    assert partitions_for_bytes(spark, 1) == 1
    # far beyond advisory x session partitions -> clamped to session value
    assert partitions_for_bytes(spark, 10**15) == session_parts
    assert partitions_for_paths(spark, "nosuchscheme://bucket/x.csv") is None


def test_scratch_root_removed_at_exit(tmp_path):
    """A process that used scratch_dir leaves no scratch root behind."""
    child = (
        "import os, sys\n"
        "from aws_data_engineering_spark.storage import scratch_dir\n"
        "d = scratch_dir('probe')\n"
        "assert not os.path.exists(d)\n"
        "os.makedirs(d)\n"
        "open(os.path.join(d, 'f'), 'w').write('x')\n"
        "print(os.path.dirname(d))\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", child],
        cwd=PKG.parent,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    root = out.stdout.strip()
    assert root.startswith(str(tmp_path)), root
    assert not os.path.exists(root)


def test_storage_decisions_live_in_storage_module():
    """Temp-dir lookups, hard-coded /tmp paths, Hadoop FileSystem
    resolution and Hadoop renames appear only in storage.py (a Python
    ``os.rename`` on a local scratch file is not a Hadoop rename)."""
    needles = ("gettempdir", '"/tmp', "'/tmp", "getFileSystem")
    hadoop_rename = re.compile(r"(?<!os)\.rename\(")
    offenders = [
        f"{path.relative_to(PKG)}: {needle}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "storage.py"
        for needle in needles
        if needle in path.read_text()
    ] + [
        f"{path.relative_to(PKG)}: rename("
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "storage.py" and hadoop_rename.search(path.read_text())
    ]
    assert not offenders, offenders
    assert hadoop_rename.search((PKG / "storage.py").read_text())


def test_replace_with_swaps_partitions_or_whole_table(spark, tmp_path):
    """A partitioned swap replaces only the staged partitions; a whole-table
    swap replaces everything; either way the staging directory is consumed."""
    table = tmp_path / "t"
    for part, name in (("dt=a", "old-a"), ("dt=b", "old-b")):
        (table / part).mkdir(parents=True)
        (table / part / name).write_bytes(b"x")
    staged = tmp_path / "_staging"
    (staged / "dt=a").mkdir(parents=True)
    (staged / "dt=a" / "new-a").write_bytes(b"y")
    (staged / "_SUCCESS").write_bytes(b"")
    t = HadoopPath(spark, str(table))
    t.replace_with(t.sibling("_staging"), partitioned=True)
    assert sorted(p.name for p in table.rglob("*") if p.is_file()) == ["new-a", "old-b"]
    assert not (staged / "dt=a").exists()
    (staged / "dt=a").mkdir()
    (staged / "dt=a" / "new-a").write_bytes(b"y")
    t = HadoopPath(spark, table.as_uri())
    t.replace_with(t.sibling("_staging"), partitioned=False)
    assert sorted(p.name for p in table.rglob("*") if p.is_file()) == ["_SUCCESS", "new-a"]
    assert not staged.exists()
