"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The last test runs the benchmark end to end in both modes (about a
minute on 4 cores); the others need no Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import generate  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import probe  # noqa: E402
import run  # noqa: E402
from workloads import NEAR_DUP, WORKLOADS, oracle_digests  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generator_is_deterministic_per_seed(tmp_path, name):
    tables = WORKLOADS[name].tables
    generate.write_tables(str(tmp_path / "a"), 7, tables)
    generate.write_tables(str(tmp_path / "b"), 7, tables)
    generate.write_tables(str(tmp_path / "c"), 8, tables)
    a, b, c = (_files(str(tmp_path / k)) for k in "abc")
    assert sorted(a) == sorted(f"{t}.parquet" for t in tables)
    assert a == b
    assert all(a[f] != c[f] for f in a)


def test_generated_tables_keep_the_testdata_schemas(tmp_path):
    """Registry rows and oracles read these tables unchanged, so the
    columns and types must be those of the repository's testdata."""
    import pyarrow.parquet as pq

    want = {
        "supplier": "s_suppkey:int64 s_name:string s_nationkey:int32 s_acctbal:double",
        "customer": "c_custkey:int64 c_name:string c_nationkey:int32 "
        "c_acctbal:double c_mktsegment:string",
        "documents": "doc_id:int64 text:string lang:string source:string n_chars:int64",
        "lineitem": "l_orderkey:int64 l_partkey:int64 l_suppkey:int64 "
        "l_linenumber:int32 l_quantity:double l_extendedprice:double "
        "l_discount:double l_tax:double l_returnflag:string l_linestatus:string "
        "l_shipdate:timestamp[us]",
    }
    for w in WORKLOADS.values():
        generate.write_tables(str(tmp_path / w.name), 1, w.tables)
        for t in w.tables:
            schema = pq.read_schema(str(tmp_path / w.name / f"{t}.parquet"))
            assert " ".join(f"{f.name}:{f.type}" for f in schema) == want[t]


def test_benchmark_json_lists_every_emitted_metric():
    bench = _bench()
    e2e = run.end_to_end([1.0, 2.0, 3.0], 9.0, 4, 0)
    assert {(m["name"], m["unit"]) for m in bench["end_to_end"]} == {
        (k, u) for k, (_, u) in e2e.items()
    }
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(
        layers.metric_units().items()
    )
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in bench["workloads"]] == [w.why for w in WORKLOADS.values()]


def test_corrupted_output_digest_lowers_ok_op_share(tmp_path):
    tables = str(tmp_path / "tables")
    generate.write_tables(tables, 3, NEAR_DUP.tables)
    con = oracle.connect(tables)
    expected = oracle_digests(NEAR_DUP, con)
    from etl_addresses_spark import registry

    op = NEAR_DUP.ops[0]
    sql = registry.oracle_sql()[op]
    good, corrupt = tmp_path / "pass-0", tmp_path / "pass-1"
    for d in (good, corrupt):
        (d / op).mkdir(parents=True)
    con.execute(f"COPY ({sql}) TO '{good / op / 'part-0.parquet'}' (FORMAT PARQUET)")
    # the same rows with one value changed
    con.execute(
        f"COPY (SELECT * REPLACE (CASE WHEN row_number() OVER () = 1 "
        f"THEN jaccard + 0.01 ELSE jaccard END AS jaccard) FROM ({sql})) "
        f"TO '{corrupt / op / 'part-0.parquet'}' (FORMAT PARQUET)"
    )
    passes = [
        {"index": 0, "ops": {op: {}}, "failed": []},
        {"index": 1, "ops": {op: {}}, "failed": []},
    ]
    bad = run.check_outputs(NEAR_DUP, con, expected, [(0, str(good)), (1, str(corrupt))])
    assert list(bad) == [(1, op)]
    attempted, failed = run.tally(passes, bad)
    share = run.end_to_end([1.0], 1.0, attempted, len(failed))["ok_op_share"][0]
    assert share == 0.5


def test_digest_ignores_row_order_and_canonicalizes_doubles():
    import duckdb

    con = duckdb.connect()
    a = oracle.digest(con, "SELECT * FROM (VALUES (1, 0.1 + 0.2), (2, 3.0)) t(k, v)")
    b = oracle.digest(con, "SELECT * FROM (VALUES (2, 3), (1, 0.3)) t(k, v)")
    c = oracle.digest(con, "SELECT * FROM (VALUES (2, 3), (1, 0.4)) t(k, v)")
    assert a == b != c


def dangling_parents(spans: list[dict]) -> list[dict]:
    """Spans whose parent link does not resolve to an enclosing span
    of the same run."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        p = s["parent"]
        if p is None:
            continue
        parent = by_id.get(p)
        if (
            parent is None
            or parent["run"] != s["run"]
            or not parent["start"] <= s["start"] <= s["end"] <= parent["end"]
        ):
            bad.append(s)
    return bad


def test_span_parents_resolve():
    tracer = probe.Tracer("r1")
    with tracer.span("pass"):
        with tracer.span("op"):
            with tracer.span("op.call"):
                pass
        with tracer.span("op2"):
            pass
    assert dangling_parents(tracer.spans) == []
    orphan = dict(tracer.spans[2], parent=99)
    assert dangling_parents(tracer.spans + [orphan]) == [orphan]


@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric_and_resolvable_spans(trace):
    """One real run of the quickest workload, through the command in
    BENCHMARK.json."""
    bench = _bench()
    cmd = bench["command"] + [
        "--workload", NEAR_DUP.name, "--seed", "11",
        "--seconds", "1", "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in bench[kind]
    }
    if trace:
        assert result["metrics"]["ngram_jaccard_pairs.join_rows"]["value"] > 0
        detail = json.loads(lines[-2])["detail"]
        spans_file = os.path.join(
            run.WORK_ROOT, "reports", f"{detail['run_id']}.spans.json"
        )
        with open(spans_file) as f:
            spans = json.load(f)
        assert spans and dangling_parents(spans) == []
    else:
        assert result["metrics"]["ok_op_share"]["value"] == 1.0
