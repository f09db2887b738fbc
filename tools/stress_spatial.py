"""Scale-stress the flagship spatial join beyond the driver testdata.

Generates N house-number points and M streets directly from
spark.range (same derivation family as sources/fixtures.py, denser
grid), then times the grid-cell strategy vs the broadcast cross-join
baseline.  This is the experiment behind SCALE.md's claim that the
grid join is the 100 TB path: the broadcast tier degrades with
points x segments while the grid tier stays ~linear in points.

    python tools/stress_spatial.py [n_points [n_streets]]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import timed_noop
from etl_addresses_spark.operators.spatial_join import infer_addresses
from etl_addresses_spark.session import get_spark


def synth_streets(spark, m: int):
    i = F.col("id")
    # 500-row grid, ~1.1 km row spacing (denser than the fixture grid)
    lat = F.lit(40.0) + (i % 500) * F.lit(0.01)
    lon0 = F.lit(-75.0) + F.floor(i / F.lit(500.0)) * F.lit(0.01)
    midlat = lat + (i % 3) * F.lit(0.0001)
    year = (F.lit(1800) + (i % 100)).cast("string")
    return spark.range(m).select(
        F.concat(F.lit("st"), i.cast("string")).alias("id"),
        F.lit("st:Street").alias("type"),
        F.concat(F.lit("Street "), i.cast("string")).alias("name"),
        year.alias("validSince"),
        (F.lit(1840) + (i % 100)).cast("string").alias("validUntil"),
        F.struct(
            F.lit("LineString").alias("type"),
            F.array(
                F.array(lon0, lat),
                F.array(lon0 + F.lit(0.002), midlat),
                F.array(lon0 + F.lit(0.004), lat),
            ).alias("coordinates"),
        ).alias("geometry"),
    )


def synth_points(spark, n: int, m: int):
    j = F.col("id")
    istar = j % m
    lat = (
        F.lit(40.0)
        + (istar % 500) * F.lit(0.01)
        + ((j % 31) - 15) * F.lit(0.00002)
    )
    lon = (
        F.lit(-75.0)
        + F.floor(istar / F.lit(500.0)) * F.lit(0.01)
        + F.lit(0.001)
        + (j % 5) * F.lit(0.0005)
    )
    ya = (F.lit(1800) + (istar % 100) + ((j % 60) - 20)).cast("string")
    return spark.range(n).select(
        F.concat(F.lit("hn"), j.cast("string")).alias("id"),
        F.lit("st:Address").alias("type"),
        ya.alias("validSince"),
        ya.alias("validUntil"),
        F.struct(
            (j % 100).cast("int").alias("sheetId"),
            (j % 10).cast("int").alias("layerId"),
            (j % 1000).cast("int").alias("mapId"),
            j.cast("string").alias("number"),
            F.lit("B").alias("borough"),
        ).alias("data"),
        F.struct(
            F.lit("Point").alias("type"), F.array(lon, lat).alias("coordinates")
        ).alias("geometry"),
    )


def run(strategy: str, n: int, m: int) -> float:
    spark = get_spark("stress-spatial")
    spark.sparkContext.setLogLevel("ERROR")
    hn = synth_points(spark, n, m)
    st = synth_streets(spark, m)
    # full materialization through the noop sink: a bare count() lets
    # Catalyst eliminate the entire match computation (every house
    # number yields one row whatever it matches)
    return timed_noop(lambda: infer_addresses(hn, st, strategy=strategy))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    m = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    run("grid", 10_000, 1_000)  # JVM/codegen warmup
    for strategy in ("grid", "broadcast"):
        best = min(run(strategy, n, m) for _ in range(2))
        print(
            f"strategy={strategy} points={n} streets={m} "
            f"sec={best:.1f} pts/sec={n / best:,.0f}"
        )


def flip_main() -> None:
    """r7 evidence: observe the grid join's broadcast -> shuffle plan
    flip actually FIRE as the segment side grows past the broadcast
    threshold, and show the query survives (and how it times) on both
    sides of the flip — the declarative-payoff claim in PLANS.md made
    measurable.  The cell equi-join is planned by Catalyst from the
    estimated size of the exploded segment-cell table, so the flip
    needs no code: only data scale.

        python tools/stress_spatial.py --flip [n_points]
    """
    import json
    import re

    n = int(sys.argv[2]) if len(sys.argv) > 2 else 16_000_000
    spark = get_spark("stress-spatial-flip")
    spark.sparkContext.setLogLevel("ERROR")
    run("grid", 10_000, 1_000)  # warmup

    def join_node(m: int) -> str:
        # AQE decides broadcast-vs-shuffle at RUNTIME from the build
        # side's actual bytes, so the plan must be read AFTER an
        # execution (the pre-execution AdaptiveSparkPlan still shows
        # the static SortMergeJoin regardless of size).  The probe's
        # POINT side must itself exceed the broadcast threshold, else
        # AQE just broadcasts the points and the segment tier never
        # decides anything (first probe version measured exactly that).
        hn = synth_points(spark, 4_000_000, m)
        st = synth_streets(spark, m)
        df = infer_addresses(hn, st, strategy="grid")
        # execute through df's OWN QueryExecution (a noop write would
        # plan a fresh one), so its adaptive plan below is the final one
        df._jdf.queryExecution().toRdd().count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        # the tier under test is the house-number -> cell-index join,
        # the only join keyed on the cell id
        for line in plan.splitlines():
            if "[cell#" in line:
                m_ = re.search(
                    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
                    line,
                )
                if m_:
                    return m_.group(1)
        return "?"

    out = {"n_points": n, "ladder": []}
    for m in (5_000, 15_000, 50_000, 200_000, 1_600_000):
        node = join_node(m)
        t0 = time.perf_counter()
        sec = round(min(run("grid", n, m) for _ in range(2)), 1)
        out["ladder"].append({"n_streets": m, "cell_join": node, "sec": sec})
        print(
            f"streets={m}: cell_join={node} sec={sec} "
            f"({time.perf_counter() - t0:.0f}s incl repeats)"
        )
    evidence = os.path.join(os.path.dirname(__file__), "evidence")
    with open(os.path.join(evidence, "r7_spatial_flip.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--flip":
        flip_main()
    else:
        main()
