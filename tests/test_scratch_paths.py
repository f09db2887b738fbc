"""Every row that stages files does so under `session.scratch_dir`
(the application's own SparkFiles root), never at a fixed temp path or
one keyed by the process id: those collide between concurrent
sessions and outlive the process."""
from __future__ import annotations

import pathlib
import re

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
