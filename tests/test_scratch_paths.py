"""Every row that stages files does so under `session.scratch_dir`
(the application's own SparkFiles root), never at a fixed temp path or
one keyed by the process id: those collide between concurrent
sessions and outlive the process.  Nor does a session leave a
warehouse directory in its caller's working directory."""
from __future__ import annotations

import os
import pathlib
import re
from urllib.parse import urlparse

PKG = pathlib.Path(__file__).resolve().parent.parent / "etl_addresses_spark"

BANNED = [
    re.compile(r"""["']/tmp\b"""),
    re.compile(r"\bgetpid\("),
]


def test_no_fixed_tmp_or_pid_scratch_paths():
    offenders = [
        f"{path.relative_to(PKG)}: {pat.pattern}"
        for path in PKG.rglob("*.py")
        for pat in BANNED
        if pat.search(path.read_text())
    ]
    assert not offenders, (
        f"scratch paths built by hand in {offenders}; use session.scratch_dir"
    )


def test_warehouse_dir_is_not_under_the_working_directory(spark):
    """Spark's default, `./spark-warehouse`, appears in the caller's
    directory on the session's first catalog access."""
    path = os.path.realpath(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    cwd = os.path.realpath(os.getcwd())
    assert os.path.commonpath([path, cwd]) != cwd, path
