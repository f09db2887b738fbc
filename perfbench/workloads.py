"""The benchmark's workloads: inputs, one pass, and the oracle checks.

Each workload times complete user-visible passes through the package's
public functions: a pass starts from the generated input files and ends
when every result is written.  Every op writes into a fresh directory
per pass, and the inputs are read again on every pass, so no timed pass
is served from an earlier pass's work.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass(frozen=True)
class DocSpec:
    """Shape of a generated ``documents`` table.  ``shared_rate`` is
    the share of documents that splice in one of ``n_phrases`` shared
    phrases: the near-duplicate signal the shingle join finds."""

    n_docs: int
    vocab: int
    words: tuple[int, int]
    n_phrases: int
    phrase_words: int
    shared_rate: float


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    tables: dict
    # untimed JIT warm-up passes before the timed ones (NOTES.md)
    warmup: int
    # steady pass time on 4 cores; sizes the timed pass count so that
    # every run of a workload times the same number of passes
    pass_estimate_s: float
    # registry rows run in order; empty for the CLI-step pipeline
    ops: tuple[str, ...] = ()


ADDRESSES = Workload(
    name="addresses",
    why=(
        "The paper's job through the CLI steps: infer (spatio-temporal "
        "join) then transform, NDJSON in and out; spatial-join compute and "
        "NDJSON writes dominate, with few jobs and no loops."
    ),
    tables={"supplier": 1000, "customer": 40000},
    warmup=2,
    pass_estimate_s=3.3,
)

NEAR_DUP = Workload(
    name="near_dup",
    why=(
        "LLM-data dedup (ngram_jaccard_pairs) over seeded documents: the "
        "shingle self-join's shuffle and candidate pairs do most of the work, "
        "which the other workloads lack."
    ),
    tables={
        "documents": DocSpec(
            n_docs=600, vocab=3000, words=(30, 90), n_phrases=60,
            phrase_words=12, shared_rate=0.3,
        )
    },
    warmup=6,
    pass_estimate_s=1.15,
    ops=("ngram_jaccard_pairs",),
)

ITERATIVE = Workload(
    name="iterative",
    why=(
        "Label propagation (graph_communities_labelprop): 25 jobs of eager "
        "localCheckpoint rounds per pass, so per-job fixed cost and checkpoint "
        "traffic dominate; the others run few jobs."
    ),
    tables={"lineitem": (1500, 300)},
    warmup=4,
    pass_estimate_s=1.9,
    ops=("graph_communities_labelprop",),
)

WORKLOADS = {w.name: w for w in (ADDRESSES, NEAR_DUP, ITERATIVE)}


def prepare_addresses(spark, tables_dir: str, base_dir: str) -> None:
    """Derive streets and house numbers from the seeded supplier and
    customer keys (sources.fixtures) and write them once, untimed, as
    NDJSON in the reference layout <base>/<dataset>/transform/."""
    from etl_addresses_spark.config import DATASET_HOUSE_NUMBERS, DATASET_STREETS
    from etl_addresses_spark.sources import ndjson
    from etl_addresses_spark.sources.fixtures import house_numbers_df, streets_df

    for dataset, make in (
        (DATASET_STREETS, streets_df),
        (DATASET_HOUSE_NUMBERS, house_numbers_df),
    ):
        ndjson.write_ndjson(
            make(spark, tables_dir), ndjson.objects_path(base_dir, dataset, "transform")
        )


def address_steps(spark, base_dir: str, pass_dir: str):
    """The CLI's infer -> transform pipeline (engine.run_pipeline), one
    step per op so each can be timed: yields (op name, thunk)."""
    from etl_addresses_spark import engine

    infer_dir = os.path.join(pass_dir, "infer")
    transform_dir = os.path.join(pass_dir, "transform")
    yield "engine.infer", lambda: engine.infer(
        spark, {"base": base_dir, "current": infer_dir, "previous": None}
    )
    yield "engine.transform", lambda: engine.transform(
        spark, {"base": base_dir, "current": transform_dir, "previous": infer_dir}
    )


def oracle_digests(workload: Workload, con) -> dict[str, dict[str, str]]:
    """Expected digest per op and per output of that op."""
    import oracle

    if workload is ADDRESSES:
        from etl_addresses_spark.plans import flagship, transform

        # The transform oracles are the flagship's inferred CTEs plus a
        # projection; evaluate the spatial join once and project thrice.
        con.execute(f"CREATE TEMP TABLE inferred AS {flagship.ORACLE_SQL}")
        prefix = flagship.INFERRED_CTES

        def over_inferred(sql: str) -> str:
            if not sql.startswith(prefix):
                raise ValueError("transform oracle no longer starts with INFERRED_CTES")
            return oracle.digest(con, sql[len(prefix):])

        return {
            "engine.infer": {"inferred": oracle.digest(con, "SELECT * FROM inferred")},
            "engine.transform": {
                "objects": over_inferred(transform.OBJECTS_ORACLE),
                "relations": over_inferred(transform.RELATIONS_ORACLE),
                "logs": over_inferred(transform.LOGS_ORACLE),
            },
        }
    from etl_addresses_spark import registry

    sql = registry.oracle_sql()
    return {op: {op: oracle.digest(con, sql[op])} for op in workload.ops}


def output_sql(workload: Workload, pass_dir: str, op: str, output: str) -> str:
    """SQL that reads back what ``op`` wrote in ``pass_dir``."""
    import oracle

    if workload is ADDRESSES:
        step = "infer" if op == "engine.infer" else "transform"
        reader = {
            "inferred": oracle.inferred_sql,
            "objects": oracle.objects_sql,
            "relations": oracle.relations_sql,
            "logs": oracle.logs_sql,
        }[output]
        return reader(os.path.join(pass_dir, step, output))
    return oracle.parquet_sql(os.path.join(pass_dir, op))
