"""Storage: how the engine reaches a path it is given, how many partitions
a shuffle over a path's bytes gets, and where a query keeps its scratch.
Each decision is made here and nowhere else.

- A caller-supplied table or feed path (plain, ``file://``, ``hdfs://``,
  ``s3a://``) is reached through the Hadoop FileSystem Spark itself uses for
  it (``HadoopPath``), so a probe, size, delete or commit-by-rename sees
  what the job sees. A local probe misreads a URI, and a try/except around
  a read mistakes an unreadable table for a missing one.
- A shuffle whose count must be fixed before it runs gets one partition
  per AQE advisory partition size of its input's bytes
  (``partitions_for_paths``), so a small input pays for one partition.
- Query scratch lives under one directory per process, made on first use
  and removed when that process exits (``scratch_dir``): returned DataFrames
  read their scratch lazily. Plans that materialize eagerly still free
  theirs early, to bound disk inside a long-lived process.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


class HadoopPath:
    """One path on the Hadoop FileSystem its scheme resolves to. ``fs`` and
    ``path`` are the JVM objects, for calls the methods below don't cover."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self._spark = spark
        self.path = spark._jvm.org.apache.hadoop.fs.Path(path)
        self.fs = self.path.getFileSystem(spark._jsc.hadoopConfiguration())

    def __str__(self) -> str:
        return self.path.toString()

    def exists(self) -> bool:
        return bool(self.fs.exists(self.path))

    def is_file(self) -> bool:
        return bool(self.fs.isFile(self.path))

    def holds_visible_entry(self) -> bool:
        """True when the path is a file or lists an entry Spark would read:
        a name not starting with ``_`` or ``.`` (Spark's hidden-file rule).
        A missing path, or a directory holding only ``_temporary``,
        ``_SUCCESS`` or ``.crc`` files, holds none."""
        return self.exists() and any(
            not st.getPath().getName().startswith(("_", "."))
            for st in self.fs.listStatus(self.path)
        )

    def total_bytes(self) -> int:
        """Bytes under the path (a file's length, or a directory's recursive
        total). Raises when the filesystem cannot size it."""
        return int(self.fs.getContentSummary(self.path).getLength())

    def delete(self) -> None:
        """Recursive delete; a missing path is not an error."""
        self.fs.delete(self.path, True)

    def replace_with(self, staged: HadoopPath, partitioned: bool) -> None:
        """Commit ``staged`` (a sibling on the same filesystem) over this
        path by rename. With ``partitioned``, each visible child directory of
        ``staged`` (one ``col=value`` partition) replaces the same-named child
        here and every other child stays; otherwise the whole path is
        replaced. Like Spark's dynamic-overwrite commit, a replaced target is
        deleted just before its rename, and a rename that fails raises. On
        an object store (s3a) a rename is a copy."""
        jvm = self._spark._jvm
        if partitioned:
            moves = [
                (st.getPath(), jvm.org.apache.hadoop.fs.Path(self.path, st.getPath().getName()))
                for st in self.fs.listStatus(staged.path)
                if st.isDirectory()
                and not st.getPath().getName().startswith(("_", "."))
            ]
        else:
            moves = [(staged.path, self.path)]
        for src, dst in moves:
            self.fs.delete(dst, True)
            if not self.fs.rename(src, dst):
                raise OSError(f"rename {src.toString()} -> {dst.toString()} failed")

    def sibling(self, name: str) -> HadoopPath:
        """``name`` in this path's parent directory, keeping its scheme and
        authority."""
        jvm = self._spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.path.getParent(), name)
        return HadoopPath(self._spark, path.toString())


def partitions_for_bytes(spark: SparkSession, nbytes: int) -> int:
    """Shuffle partitions for ``nbytes`` of input: ceil(bytes / AQE advisory
    partition size), clamped to [1, session ``spark.sql.shuffle.partitions``].

    The advisory size is the partition size AQE coalesces towards, for
    shuffles whose count is fixed before they run (micro-batches, a range
    sort that should skip its sample). Input big enough to fill the
    session's partitions keeps all of them; a small input gets only what
    it fills.
    """
    jvm = spark.sparkContext._jvm
    advisory = int(
        jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"
            )
        )
    )
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(session_parts, -(-nbytes // max(1, advisory))))


def partitions_for_paths(spark: SparkSession, *paths: str) -> int | None:
    """:func:`partitions_for_bytes` of the bytes under ``paths``, or None
    when the filesystem cannot size one of them (a glob, a missing path, an
    unregistered scheme): the caller then keeps the session count rather
    than guess small."""
    try:
        nbytes = sum(HadoopPath(spark, p).total_bytes() for p in paths)
    except Py4JJavaError:
        return None
    return partitions_for_bytes(spark, nbytes)


_scratch_root: str | None = None
_scratch_lock = threading.Lock()


def _remove_root(root: str, pid: int) -> None:
    if os.getpid() == pid:  # never from a forked child
        shutil.rmtree(root, ignore_errors=True)


def scratch_root() -> str:
    """This process's scratch directory, created on first use under
    ``tempfile.gettempdir()`` and removed at exit by the process that
    created it."""
    global _scratch_root
    with _scratch_lock:
        if _scratch_root is None:
            _scratch_root = tempfile.mkdtemp(prefix="spark_graft_scratch_")
            atexit.register(_remove_root, _scratch_root, os.getpid())
        return _scratch_root


def scratch_dir(tag: str) -> str:
    """A fresh, not-yet-existing local path ``<scratch root>/<tag>_<uuid>``
    for one query run's scratch."""
    return os.path.join(scratch_root(), f"{tag}_{uuid.uuid4().hex[:12]}")
