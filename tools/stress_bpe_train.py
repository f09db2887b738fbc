"""BPE TRAINING cost ladder (r9 verdict item 6).

The apply side got its scale tier in round 9 (segmented codegen,
r9_bpe_apply_ladder.json); training remained measured only at the
registered k=16.  This tool measures `bpe_train_for` wall time at
k = 16 / 32 / 64 on sf0.1 (plus k=16 on the 10x replica when present,
for the corpus axis), records the per-round cost curve, and writes
tools/evidence/r10_bpe_train_ladder.json.  Training is O(k) rounds of
(pair-count aggregation + 1-row collect + checkpointed merge), so the
curve should be ~linear in k with a constant per-round cost — a
superlinear curve would flag lineage or checkpoint leakage across
rounds.

Usage: python tools/stress_bpe_train.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import calibrate, hygiene  # noqa: E402
from etl_addresses_spark.operators.bpe import bpe_train_for  # noqa: E402
from etl_addresses_spark.session import get_spark  # noqa: E402
from etl_addresses_spark.sources.tables import load_table  # noqa: E402

OUT = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "evidence", "r10_bpe_train_ladder.json"
)
SCALED = "/tmp/spark_graft_scaled_10x_sf0.1"


def main() -> None:
    spark = get_spark("stress-bpe-train")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    cal = {"start": calibrate(spark)}
    runs = [("sf0.1", "/root/testdata/sf0.1", k) for k in (16, 32, 64)]
    if os.path.exists(os.path.join(SCALED, "_BUILT_v5")):
        runs.append(("sf0.1x10", SCALED, 16))
    for tag, sf_dir, k in runs:
        docs = load_table(spark, sf_dir, "documents")
        docs.count()  # warm the scan
        # instrument per-round cost by training at 1..k? O(k^2) —
        # instead time the full run twice and derive sec/round; the
        # k sweep itself exposes the curve shape.
        walls = []
        merges = None
        for _ in range(2):
            hygiene(spark)
            t0 = time.perf_counter()
            merges = bpe_train_for(docs, k)
            walls.append(round(time.perf_counter() - t0, 2))
        results[f"{tag}_k{k}"] = {
            "k": k,
            "sf": tag,
            "sec": min(walls),
            "repeats": walls,
            "sec_per_round": round(min(walls) / k, 3),
            "n_merges_learned": len(merges),
        }
        print(f"{tag} k={k}: {walls} ({len(merges)} merges)", file=sys.stderr)
    cal["end"] = calibrate(spark)
    out = {"calibration": cal, "runs": results}
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
