"""Physical-design patterns that only matter once the data is big:
Z-order layout, Bloom-filter join pruning, count-min-sketch heavy
hitters, and integer-exact anomaly flagging.

These are the knobs a 100 TB deployment turns that a 60k-row demo never
needs — so each one is written to *demonstrate its scale property in
its result* (span shrinkage, false-positive rate, overcount bound)
rather than just run.  All four are pure JVM column expressions with
bit-level DuckDB oracles; the hash/bit arithmetic is md5-derived and
rendered identically in both engines (Spark `instr`/`shiftleft` ==
DuckDB `strpos`/`<<`).

Scale designs:
- Z-order: quantize on a broadcast 1-row min/max frame, interleave bits
  map-side, bucket by z-prefix (NO global window/ntile — a total-order
  rank would serialize on one task).  The write path is
  `repartitionByRange(z).sortWithinPartitions(z)` (see
  tests/test_scalepatterns.py::test_zorder_write_files_are_disjoint);
  the query here reports per-bucket extents so the clustering is
  visible in the result.
- Bloom pruning: the filter is built as a <=1024-row (word, bits) table
  via bit_or aggregation and broadcast into the probe — the relational
  rendering of what Spark's AQE runtime bloom filter
  (spark.sql.optimizer.runtime.bloomFilter.enabled) injects as a scalar
  subquery.  No false negatives by construction; the measured false
  positives are in the output.
- Count-min sketch: constant-size (d=4, w=4096) mergeable state; the
  only viable frequency shape when the key space doesn't fit anywhere.
  Estimate >= truth always; the result carries the overcount so the
  epsilon*N bound is checkable.
- Anomaly z-score: the 3-sigma test ((n*v - S)^2 > 9*(n*SS - S^2)) is
  evaluated in exact int64 cents — no float variance, no engine
  drift, no division anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_addresses_spark.sources.tables import load_table

_HEX = "0123456789abcdef"


def _hx_duck(h: str, pos: int) -> str:
    """0..15 value of 1-based hex char `pos` of column-expr `h`."""
    return f"(strpos('{_HEX}', substr({h}, {pos}, 1)) - 1)"


def _hexconv_spark(h: str, start: int, nchars: int) -> str:
    """BIGINT from `nchars` hex chars via the built-in conv()
    (base-16 -> base-10 string -> bigint): one call per slice instead
    of nchars substring+instr terms (the per-char form also needed a
    cast-per-term past 7 chars — ANSI int32 overflows at 15 * 16^7).
    Measured on bloom_prune_join at sf0.1: the 24-term per-char form
    cost ~0.5 s/run more than conv on the ~150k distinct probe keys
    x 3 positions.  conv is unsigned-64 semantics, so 8 lowercase hex
    chars (<= 0xffffffff) are exact.  DuckDB has no conv(); its oracle
    keeps the per-char sum (_hexint_duck) — only the VALUES must match
    across engines, not the expression shape."""
    return f"cast(conv(substring({h}, {start}, {nchars}), 16, 10) as bigint)"


def _hexint_duck(h: str, start: int, nchars: int) -> str:
    return (
        "("
        + " + ".join(
            f"{_hx_duck(h, start + i)} * {16 ** (nchars - 1 - i)}"
            for i in range(nchars)
        )
        + ")"
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout: interleave quantized (custkey, order-day).
# ---------------------------------------------------------------------------

_ZBITS = 16          # bits per dimension -> 32-bit z-value
_ZBUCKET_SHIFT = 26  # keep top 6 z bits -> 64 buckets


def _interleave_spark(qx: str, qy: str) -> str:
    terms = []
    for i in range(_ZBITS):
        terms.append(f"shiftleft(shiftright({qx}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({qy}, {i}) & 1, {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _interleave_duck(qx: str, qy: str) -> str:
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({qx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({qy} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def zorder_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket (custkey, day) extents under a Z-order layout vs a
    naive date-only layout, side by side.

    The z-ordered buckets stay narrow in BOTH dimensions while the
    date-sorted buckets span the full custkey range — the property that
    lets a (custkey range, date range) scan skip most files.  Quantize
    bounds come from one broadcast 1-row min/max aggregate; everything
    after is map-side bit math plus one rollup, so the plan is two
    narrow passes at any scale.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.selectExpr(
        "o_custkey AS ck",
        "datediff(cast(o_orderdate as date), date'1970-01-01') AS dy",
    )
    stats = base.agg(
        F.min("ck").alias("ck_min"),
        F.max("ck").alias("ck_max"),
        F.min("dy").alias("dy_min"),
        F.max("dy").alias("dy_max"),
    )
    scale = 2**_ZBITS - 1
    q = base.crossJoin(F.broadcast(stats)).selectExpr(
        f"((ck - ck_min) * {scale}) div greatest(ck_max - ck_min, 1) AS qx",
        f"((dy - dy_min) * {scale}) div greatest(dy_max - dy_min, 1) AS qy",
    )
    z = q.selectExpr(
        "qx", "qy", _interleave_spark("qx", "qy") + " AS z"
    )
    zorder = z.selectExpr(
        "'zorder' AS layout",
        f"z div {2 ** _ZBUCKET_SHIFT} AS bucket",
        "qx",
        "qy",
    )
    bydate = z.selectExpr(
        "'by_date' AS layout",
        f"qy div {2 ** (_ZBITS - 6)} AS bucket",
        "qx",
        "qy",
    )
    return (
        zorder.unionByName(bydate)
        .groupBy("layout", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.max("qx") - F.min("qx")).alias("span_ck"),
            (F.max("qy") - F.min("qy")).alias("span_day"),
        )
    )


ZORDER_EXTENTS_SQL = f"""
WITH base AS (
  SELECT o_custkey AS ck,
    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dy
  FROM orders
),
stats AS (
  SELECT min(ck) AS ck_min, max(ck) AS ck_max,
         min(dy) AS dy_min, max(dy) AS dy_max
  FROM base
),
q AS (
  SELECT ((ck - ck_min) * {2 ** _ZBITS - 1}) // greatest(ck_max - ck_min, 1) AS qx,
         ((dy - dy_min) * {2 ** _ZBITS - 1}) // greatest(dy_max - dy_min, 1) AS qy
  FROM base CROSS JOIN stats
),
z AS (
  SELECT qx, qy, {_interleave_duck("qx", "qy")} AS z FROM q
),
both_layouts AS (
  SELECT 'zorder' AS layout, z // {2 ** _ZBUCKET_SHIFT} AS bucket, qx, qy FROM z
  UNION ALL
  SELECT 'by_date' AS layout, qy // {2 ** (_ZBITS - 6)} AS bucket, qx, qy FROM z
)
SELECT layout, bucket, count(*) AS n_rows,
  max(qx) - min(qx) AS span_ck,
  max(qy) - min(qy) AS span_day
FROM both_layouts
GROUP BY layout, bucket
"""

# ---------------------------------------------------------------------------
# Bloom-filter join pruning: m=32768 bits (512 words), k=3.
# ---------------------------------------------------------------------------

_BLOOM_M = 32768  # bits (the FLOOR; see bloom_bits_for)
_BLOOM_K = 3
# Auto-sizing rule (r10 ladder fix, r10_scale_sf1_batch8a.json): a
# FIXED m saturates as the build side grows — at 10x the ~300k urgent
# keys drove the 32768-bit filter's fill ratio to ~1, every probe key
# passed, and the downstream join shuffled 34-55x the bytes on 10x
# data.  Real engines size the filter from the build cardinality
# (Spark's runtime.bloomFilter uses expectedNumItems); this rule keeps
# >= {_BLOOM_BITS_PER_KEY} bits/key (k=3 -> fpp ~3%), rounded up to a
# power of two so `% m` stays cheap.  One model-sized count() job
# picks m (the fuzzy-gate/SRP precedent).  The sf0.001/sf0.01
# fixtures (~300/~3000 urgent keys) stay at the 32768-bit floor;
# sf0.1 (~30k keys) sizes to 262144 and the 10x replica to 4M bits
# (~1 MB of words — still trivially broadcastable).  The DuckDB
# oracle computes the SAME m via the _bloom_bits_sql CASE ladder
# inside the query, so parity holds at every scale, not just the
# floor regime (r10 review fix).
_BLOOM_BITS_PER_KEY = 8


def bloom_bits_for(n_build: int) -> int:
    """Smallest power-of-two m >= max(_BLOOM_M, bits_per_key * n)."""
    m = _BLOOM_M
    while m < _BLOOM_BITS_PER_KEY * n_build:
        m *= 2
    return m


def _bloom_bits_sql(cnt: str) -> str:
    """Integer-exact DuckDB mirror of bloom_bits_for as a CASE
    doubling ladder (r10 review fix: a static m in the oracle broke
    Spark/DuckDB parity the moment auto-sizing widened the filter —
    at the sf0.1 fixture's ~30k urgent keys the Spark side already
    uses 262144 bits).  No float log2 anywhere, so both engines pick
    the IDENTICAL m at any count; the ladder tops out at 2^45 bits
    (~4.4e12 build keys — far past anything a single filter should
    hold)."""
    branches = "\n    ".join(
        f"WHEN {cnt} * {_BLOOM_BITS_PER_KEY} <= {1 << p} THEN {1 << p}"
        for p in range(15, 46)
    )
    return f"CASE {branches} ELSE {1 << 46} END"


_MD5_SPARK = "md5(cast(cast({k} as string) as binary))"
_MD5_DUCK = "md5(CAST({k} AS VARCHAR))"


def bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prune a lineitem probe against a Bloom filter of URGENT-order
    keys, then measure the pruning against the exact semi-join.

    Build side: 3 md5-derived bit positions per key, bit_or-folded into
    a (word, bits) table sized from the build-side COUNT (see
    bloom_bits_for — m/32 words, model-sized at any scale), which is
    why a bloom broadcast survives scales where a key-set broadcast
    cannot.  Probe side: distinct keys explode to
    their 3 (word, mask) probes, hash-join the broadcast bloom, and a
    key passes iff all 3 bits are set (no false negatives by
    construction).  Output: per returnflag, probe rows vs bloom-passing
    rows vs true matches — the false-positive column IS the measured
    pruning quality.  Spark's AQE injects this same filter automatically
    (runtime.bloomFilter); this operator is the explicit, testable form.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").selectExpr(
        "o_orderkey AS k"
    )
    return bloom_prune_join_for(urgent, li, bloom_bits_for(urgent.count()))


def bloom_prune_join_for(
    urgent: DataFrame, li: DataFrame, m_bits: int = _BLOOM_M
) -> DataFrame:
    h = _MD5_SPARK.format(k="k")

    def probes(keys: DataFrame) -> DataFrame:
        ps = ", ".join(
            # 8 hex chars = 32 bits per position (r10 fix: 4 chars =
            # 16 bits silently capped the EFFECTIVE filter at 65536
            # bits — probes never touched the upper bits of a larger
            # m, so auto-sizing had no effect; measured fp_frac 1.0 at
            # the 10x replica pre-fix).  3 positions x 8 chars fit the
            # 32-char md5; the DuckDB oracle moves in lockstep.
            f"{_hexconv_spark(h, 1 + 8 * j, 8)} % {m_bits}"
            for j in range(_BLOOM_K)
        )
        # 32 bits per word (not 64): DuckDB range-checks signed left
        # shifts, so 1 << 63 errors there; bit <= 31 is portable.
        return keys.selectExpr("k", f"explode(array({ps})) AS p").selectExpr(
            "k", "p div 32 AS word", "shiftleft(cast(1 as bigint), p % 32) AS mask"
        )

    bloom = (
        probes(urgent)
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    probe_keys = li.selectExpr("l_orderkey AS k").distinct()
    passing = (
        probes(probe_keys)
        .join(F.broadcast(bloom), "word")
        .filter(F.expr("(bits & mask) = mask"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == _BLOOM_K)
        .select("k", F.lit(1).alias("bloom_pass"))
    )
    flags = (
        probe_keys.join(passing, "k", "left")
        .join(urgent.distinct().withColumn("true_match", F.lit(1)), "k", "left")
    )
    return (
        li.join(flags, li.l_orderkey == flags.k)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("bloom_pass").alias("n_bloom_pass"),
            F.count("true_match").alias("n_true_match"),
            F.count(
                F.when(
                    F.col("bloom_pass").isNotNull()
                    & F.col("true_match").isNull(),
                    1,
                )
            ).alias("n_false_pos"),
        )
    )


def _bloom_probes_duck(src: str) -> str:
    h = _MD5_DUCK.format(k="k")
    # 8 hex chars per position, in lockstep with the Spark side; m is
    # the msize CTE's auto-sized value (the same CASE ladder as
    # bloom_bits_for), so the oracle tracks the Spark filter at ANY
    # scale — not just the fixture floor.
    ps = ", ".join(
        f"{_hexint_duck(h, 1 + 8 * j, 8)} % (SELECT m FROM msize)"
        for j in range(_BLOOM_K)
    )
    return f"""
  SELECT k, p // 32 AS word, (CAST(1 AS BIGINT) << (p % 32)) AS mask
  FROM (SELECT k, unnest([{ps}]) AS p FROM {src})
"""


BLOOM_PRUNE_SQL = f"""
WITH urgent AS (
  SELECT o_orderkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
),
msize AS (
  SELECT {_bloom_bits_sql("cnt")} AS m
  FROM (SELECT count(*) AS cnt FROM urgent)
),
bloom AS (
  SELECT word, bit_or(mask) AS bits
  FROM ({_bloom_probes_duck("urgent")})
  GROUP BY word
),
probe_keys AS (
  SELECT DISTINCT l_orderkey AS k FROM lineitem
),
passing AS (
  SELECT k, 1 AS bloom_pass
  FROM ({_bloom_probes_duck("probe_keys")}) pr
  JOIN bloom USING (word)
  WHERE (bits & mask) = mask
  GROUP BY k
  HAVING count(*) = {_BLOOM_K}
),
flags AS (
  SELECT pk.k, p.bloom_pass, CASE WHEN u.k IS NOT NULL THEN 1 END AS true_match
  FROM probe_keys pk
  LEFT JOIN passing p ON pk.k = p.k
  LEFT JOIN (SELECT DISTINCT k FROM urgent) u ON pk.k = u.k
)
SELECT l_returnflag, count(*) AS n_rows,
  count(bloom_pass) AS n_bloom_pass,
  count(true_match) AS n_true_match,
  count(CASE WHEN bloom_pass IS NOT NULL AND true_match IS NULL THEN 1 END)
    AS n_false_pos
FROM lineitem JOIN flags ON l_orderkey = flags.k
GROUP BY l_returnflag
"""

# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters: d=4 rows, w=4096 buckets.
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_TOPK = 20


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True top-20 parts by lineitem frequency, with their count-min
    estimates alongside the exact counts.

    The sketch is d=4 x w=4096 counters built with ONE groupBy over an
    explode — constant-size mergeable state (the property that lets a
    100 TB stream keep frequencies in 128 KB/executor and merge
    partials associatively).  Estimates are min over the 4 rows and
    never undercount; `overcount` in the output makes the eps*N bound
    auditable (eps = e/w ~ 0.07 % of stream length).  Top-k truth here
    is the verify stage; at scale the sketch IS the answer and truth is
    sampled.
    """
    li = load_table(spark, sf_dir, "lineitem")
    h = _MD5_SPARK.format(k="l_partkey")
    # conv() slice extraction, not the per-char instr sum: this explode
    # renders 4 buckets per lineitem row, so expression cost here is
    # the operator's hot loop (same fix as the bloom probes — values
    # identical, DuckDB oracle keeps its per-char form).
    buckets = ", ".join(
        f"named_struct('j', {j}, 'bucket', {_hexconv_spark(h, 1 + 3 * j, 3)})"
        for j in range(_CMS_D)
    )
    cms = (
        li.selectExpr(f"explode(array({buckets})) AS rb")
        .groupBy("rb.j", "rb.bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("l_partkey"))
        .limit(_CMS_TOPK)
    )
    th = _MD5_SPARK.format(k="l_partkey")
    top_probes = top.selectExpr(
        "l_partkey",
        "true_cnt",
        "explode(array("
        + ", ".join(
            f"named_struct('j', {j}, 'bucket', {_hexconv_spark(th, 1 + 3 * j, 3)})"
            for j in range(_CMS_D)
        )
        + ")) AS rb",
    )
    return (
        top_probes.join(
            F.broadcast(cms),
            (top_probes["rb.j"] == cms["j"])
            & (top_probes["rb.bucket"] == cms["bucket"]),
        )
        .groupBy("l_partkey", "true_cnt")
        .agg(F.min("n").alias("cms_est"))
        .withColumn("overcount", F.col("cms_est") - F.col("true_cnt"))
    )


def _cms_probes_duck(h: str) -> str:
    return ", ".join(
        f"{{'j': {j}, 'bucket': {_hexint_duck(h, 1 + 3 * j, 3)}}}"
        for j in range(_CMS_D)
    )


_CMS_H = _MD5_DUCK.format(k="l_partkey")

CMS_HEAVY_HITTERS_SQL = f"""
WITH exploded AS (
  SELECT unnest([{_cms_probes_duck(_CMS_H)}]) AS rb FROM lineitem
),
cms AS (
  SELECT rb.j AS j, rb.bucket AS bucket, count(*) AS n
  FROM exploded GROUP BY rb.j, rb.bucket
),
top AS (
  SELECT l_partkey, count(*) AS true_cnt
  FROM lineitem GROUP BY l_partkey
  ORDER BY true_cnt DESC, l_partkey ASC
  LIMIT {_CMS_TOPK}
),
top_probes AS (
  SELECT l_partkey, true_cnt, unnest([{_cms_probes_duck(_CMS_H)}]) AS rb
  FROM top
)
SELECT l_partkey, true_cnt, min(n) AS cms_est, min(n) - true_cnt AS overcount
FROM top_probes JOIN cms ON rb.j = cms.j AND rb.bucket = cms.bucket
GROUP BY l_partkey, true_cnt
"""

# ---------------------------------------------------------------------------
# Integer-exact 3-sigma anomaly flags over event values.
# ---------------------------------------------------------------------------

_Z_MIN_EVENTS = 10


def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value is >3 population-sigma above/below their
    user's mean, computed WITHOUT any floating-point variance:
    values quantize to int64 cents and the test
        (n*v - S)^2 > 9 * (n*SS - S^2)
    multiplies the classic |v - mu| > 3*sigma through by n^2, so both
    engines evaluate exact integers and parity is bit-trivial.  One
    window shuffle on user_id; flags are map-side arithmetic.  At
    100 TB the same shape runs per (user, day) partitions and the
    quantization bound (half a cent) is the documented contract.
    """
    e = load_table(spark, sf_dir, "events")
    w = "(PARTITION BY user_id)"
    return (
        e.selectExpr(
            "user_id",
            "event_id",
            "cast(floor(value * 100.0e0) as bigint) AS v_cents",
        )
        .selectExpr(
            "user_id",
            "event_id",
            "v_cents",
            f"count(*) OVER {w} AS n",
            f"sum(v_cents) OVER {w} AS s",
            f"sum(v_cents * v_cents) OVER {w} AS ss",
        )
        .filter(
            F.expr(
                f"n >= {_Z_MIN_EVENTS} AND "
                "(n * v_cents - s) * (n * v_cents - s) > 9 * (n * ss - s * s)"
            )
        )
        .selectExpr(
            "user_id",
            "event_id",
            "v_cents",
            "n AS n_user_events",
            "(n * v_cents - s) AS n_dev",
        )
    )


ANOMALY_ZSCORE_SQL = f"""
WITH cents AS (
  SELECT user_id, event_id,
    CAST(floor(value * 100.0e0) AS BIGINT) AS v_cents
  FROM events
),
stats AS (
  SELECT user_id, event_id, v_cents,
    count(*) OVER w AS n,
    sum(v_cents) OVER w AS s,
    sum(v_cents * v_cents) OVER w AS ss
  FROM cents
  WINDOW w AS (PARTITION BY user_id)
)
SELECT user_id, event_id, v_cents, n AS n_user_events,
  -- CAST back to BIGINT: DuckDB sum(BIGINT) is HUGEINT, so the bare
  -- expression would be HUGEINT-typed, and HUGEINT reprs differently
  -- than Spark's bigint on pandas/Arrow fetch paths (the round-3
  -- driver hash-mismatch root cause; tools/type_audit.py guards this).
  CAST(n * v_cents - s AS BIGINT) AS n_dev
FROM stats
WHERE n >= {_Z_MIN_EVENTS}
  AND (n * v_cents - s) * (n * v_cents - s) > 9 * (n * ss - s * s)
"""


# --- distribution drift (PSI) --------------------------------------------

PSI_BINS = 10


def drift_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event stream's time range, per event type — the standard
    training-data drift monitor (PSI > 0.2 conventionally = action).

    Everything rides ONE scan + one tiny broadcast: the global
    (min ts, max ts, min value, max value) come from a 1-row
    aggregate; each event maps to (type, period, equal-width bin);
    one hash aggregation counts (type, period, bin); the per-type PSI
    folds the {PSI_BINS}-bin histogram with Laplace smoothing
    ((cnt+1)/(n+bins)) so empty bins stay finite.  The histogram is
    DENSIFIED to all {PSI_BINS} bins per type (distinct-types x
    generate-range cross, a bins-sized frame) before smoothing, so a
    bin empty in BOTH halves still contributes its
    (1/(na+bins) - 1/(nb+bins))*ln(...) term when na != nb — the
    standard smoothed-PSI definition (r5 advice: the observed-only
    aggregation silently dropped those terms).  Bin assignment is
    pure IEEE arithmetic on scalars (no aggregation-order float
    dependence), so both engines bin identically; the final ln()
    drifts at ulp level only, absorbed by the driver contract —
    and no DECISION is taken post-ln (the PSI value itself is the
    output, per the float-parity rule)."""
    e = load_table(spark, sf_dir, "events")
    g = e.agg(
        F.min(F.unix_micros("ts")).alias("us_lo"),
        F.max(F.unix_micros("ts")).alias("us_hi"),
        F.min("value").alias("v_lo"),
        F.max("value").alias("v_hi"),
    )
    binned = (
        e.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            # integer-micros midpoint: both engines split identically,
            # no interval-rounding boundary hazard
            F.when(
                F.unix_micros("ts") <= F.expr("(us_lo + us_hi) div 2"),
                F.lit("a"),
            )
            .otherwise(F.lit("b"))
            .alias("period"),
            F.least(
                F.lit(PSI_BINS - 1),
                F.floor(
                    (F.col("value") - F.col("v_lo"))
                    / (F.col("v_hi") - F.col("v_lo"))
                    * PSI_BINS
                ),
            )
            .cast("long")
            .alias("bin"),
        )
        .groupBy("event_type", "period", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_type = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("period") == "a", F.col("c")).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("period") == "b", F.col("c")).otherwise(0)).alias("cb"),
    )
    dense = (
        per_type.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), F.lit(PSI_BINS - 1).cast("long")
                )
            ).alias("bin"),
        )
        .join(F.broadcast(per_type), ["event_type", "bin"], "left")
        .select(
            "event_type",
            "bin",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    totals = dense.groupBy("event_type").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    # explicit broadcasts: per_type and totals are (types x bins)- and
    # types-sized, but both sit above aggregations whose size estimates
    # Catalyst inflates past the auto threshold, so the r6 dense-bin
    # fix was paying THREE SortMergeJoin stages on <=100-row frames —
    # the measured 0.44 -> 0.71 s regression (r6 verdict item 5,
    # re-measured 1.0 s alone; tools/evidence/r7_psi_note.md)
    sm = dense.join(F.broadcast(totals), "event_type").select(
        "event_type",
        ((F.col("ca") + 1) / (F.col("na") + PSI_BINS)).alias("pa"),
        ((F.col("cb") + 1) / (F.col("nb") + PSI_BINS)).alias("pb"),
    )
    return sm.groupBy("event_type").agg(
        F.sum(
            (F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))
        ).alias("psi")
    )


DRIFT_PSI_SQL = f"""
WITH g AS (
  SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS us_lo,
         max(epoch_us(CAST(ts AS TIMESTAMP))) AS us_hi,
         min(value) AS v_lo, max(value) AS v_hi
  FROM events
),
binned AS (
  SELECT event_type,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <= (us_lo + us_hi) // 2
              THEN 'a' ELSE 'b' END AS period,
         least({PSI_BINS - 1},
               CAST(floor((value - v_lo) / (v_hi - v_lo) * {PSI_BINS}) AS BIGINT))
           AS bin,
         count(*) AS c
  FROM events, g
  GROUP BY 1, 2, 3
),
per_type AS (
  SELECT event_type, bin,
         sum(CASE WHEN period = 'a' THEN c ELSE 0 END) AS ca,
         sum(CASE WHEN period = 'b' THEN c ELSE 0 END) AS cb
  FROM binned GROUP BY 1, 2
),
dense AS (
  SELECT ty.event_type, b.bin,
         coalesce(p.ca, 0) AS ca, coalesce(p.cb, 0) AS cb
  FROM (SELECT DISTINCT event_type FROM per_type) ty
  CROSS JOIN (SELECT CAST(gs.b AS BIGINT) AS bin
              FROM generate_series(0, {PSI_BINS - 1}) AS gs(b)) b
  LEFT JOIN per_type p
    ON p.event_type = ty.event_type AND p.bin = b.bin
),
totals AS (
  SELECT event_type, sum(ca) AS na, sum(cb) AS nb FROM dense GROUP BY 1
)
SELECT p.event_type,
       sum(((p.ca + 1.0) / (t.na + {PSI_BINS})
            - (p.cb + 1.0) / (t.nb + {PSI_BINS}))
           * ln(((p.ca + 1.0) / (t.na + {PSI_BINS}))
                / ((p.cb + 1.0) / (t.nb + {PSI_BINS})))) AS psi
FROM dense p JOIN totals t ON p.event_type = t.event_type
GROUP BY p.event_type
"""


def drift_ks_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the first
    and second half of the event stream's time range, per event type —
    the distribution-free companion to `drift_psi_events` (PSI needs a
    bin width; KS is the sup-norm gap between the two empirical CDFs
    and catches shifts PSI's 10 bins smooth away).

    Exact-integer formulation (zero float residue by construction):
    KS = max_v |F_a(v) - F_b(v)| = max_v |ca_cum(v)*nb - cb_cum(v)*na|
    / (na*nb), and only the NUMERATOR is returned (with na, nb), so
    every emitted column is a BIGINT — the float-parity rule of
    SCALE.md taken to its limit: don't just avoid post-transcendental
    booleans, avoid the division entirely.  (ca_cum <= |events| and
    nb <= |events|, so the product stays far under int64 at any
    per-type cardinality this side of 3e9 x 3e9.)

    Plan: one scan -> (type, value, period) counts (hash agg, map-side
    partials over distinct values, not rows); one window cumsum per
    type ordered by value (the per-type sort is over DISTINCT values
    only; at 100 TB quantize values to a fixed grid first — same
    remedy as the PSI bins — or split the cumsum with the range-
    partitioned two-pass trick); totals broadcast back.  Values come
    straight off parquet with no arithmetic, so both engines group and
    order identical doubles."""
    e = load_table(spark, sf_dir, "events")
    g = e.agg(
        F.min(F.unix_micros("ts")).alias("us_lo"),
        F.max(F.unix_micros("ts")).alias("us_hi"),
    )
    counts = (
        e.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "value",
            F.when(
                F.unix_micros("ts") <= F.expr("(us_lo + us_hi) div 2"),
                F.lit("a"),
            )
            .otherwise(F.lit("b"))
            .alias("period"),
        )
        .groupBy("event_type", "value")
        .agg(
            F.sum(F.when(F.col("period") == "a", 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col("period") == "b", 1).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = counts.select(
        "event_type",
        F.sum("ca").over(w).alias("ca_cum"),
        F.sum("cb").over(w).alias("cb_cum"),
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    return (
        cum.join(F.broadcast(totals), "event_type")
        .groupBy("event_type")
        .agg(
            F.max(
                F.abs(
                    F.col("ca_cum") * F.col("nb")
                    - F.col("cb_cum") * F.col("na")
                )
            ).alias("ks_num"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )


DRIFT_KS_SQL = """
WITH g AS (
  SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS us_lo,
         max(epoch_us(CAST(ts AS TIMESTAMP))) AS us_hi
  FROM events
),
counts AS (
  SELECT event_type, value,
         CAST(sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                            <= (us_lo + us_hi) // 2
                       THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                            <= (us_lo + us_hi) // 2
                       THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM events, g
  GROUP BY 1, 2
),
cum AS (
  SELECT event_type,
         sum(ca) OVER (PARTITION BY event_type ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS ca_cum,
         sum(cb) OVER (PARTITION BY event_type ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS cb_cum
  FROM counts
),
totals AS (
  SELECT event_type, CAST(sum(ca) AS BIGINT) AS na,
         CAST(sum(cb) AS BIGINT) AS nb
  FROM counts GROUP BY 1
)
SELECT c.event_type,
       CAST(max(abs(c.ca_cum * t.nb - c.cb_cum * t.na)) AS BIGINT) AS ks_num,
       CAST(max(t.na) AS BIGINT) AS na,
       CAST(max(t.nb) AS BIGINT) AS nb
FROM cum c JOIN totals t ON c.event_type = t.event_type
GROUP BY c.event_type
"""


# --- token-budget curation selection -------------------------------------

BUDGET_FRACTION_PPM = 250_000  # select top docs until 25% of corpus tokens
_STOPWORDS = (
    "the,a,an,and,or,of,to,in,is,it,that,for,on,as,with,was,at,by,be,this"
)


def quality_budget_select_plan(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """LAZY builder for `quality_budget_select`: returns (out, scored)
    where `out` is the un-checkpointed selection plan and `scored` the
    cached corpus projection the caller must unpersist after
    consuming `out`.  Exposed separately (r7 advice) so plan-shape
    tests inspect the REAL physical plan — the public entry's eager
    localCheckpoint replaces it with a LogicalRDD scan, which made the
    no-global-sort assertion vacuously true."""
    return _quality_budget_select_impl(spark, sf_dir)


def quality_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select the highest-quality documents until a corpus-level token
    budget is exhausted — the canonical pretraining-mix curation shape
    ("keep the best N tokens", not "the best N documents").  Output:
    (doc_id, score, toks) for every selected document.

    The 100 TB point is doing this WITHOUT a global sort: quality here
    is an integer score in [0, 1000] (1000 * stopword_hits // tokens —
    integer arithmetic end-to-end, so both engines order identically
    with zero float hazards; the score definition is pluggable, the
    selection machinery is the operator).  Plan:

    1. one corpus scan -> (doc_id, score, toks);
    2. groupBy(score) -> at most 1001 rows; a window cumsum over THIS
       TINY table (score desc) finds the threshold score t*: every doc
       scoring > t* is selected outright, and the budget remainder for
       the boundary score class is carried alongside;
    3. docs at exactly t* are rank-cumsum'd by doc_id (deterministic
       tie-break) and admitted while they fit.  Only the boundary
       CLASS ever sees a wide window; at 100 TB one recurses the same
       histogram trick inside the class (or salts by doc_id range) —
       documented, not needed at test scale.

    The DuckDB oracle is a DIFFERENT algorithm — the naive global
    window cumsum over (score DESC, doc_id) — so the hash check
    certifies the histogram+boundary decomposition against the
    textbook definition (the BFS/Bellman-Ford two-algorithm pattern).
    Budget arithmetic is pure BIGINT (ppm fraction, floor), so the
    admit/reject decision at every margin is exact on both engines.

    NOTE (registry behavior): the returned frame is eagerly
    localCheckpoint'ed (its plan is a LogicalRDD scan of the already-
    computed selection), so constructing it RUNS the query — an
    EXPLAIN-only consumer should use `quality_budget_select_plan`.
    """
    out, scored = _quality_budget_select_impl(spark, sf_dir)
    # Materialize the (tiny: 3 longs/row) selection eagerly, then free
    # the cached corpus projection — in a long-lived shared session
    # (driver correctness sweep, pytest) an un-released cache per query
    # accumulates exactly the block-manager pressure ckpt.py exists to
    # prevent (r6 advice).  The checkpoint IS the returned result, so
    # nothing re-reads `scored` after the unpersist.
    out = out.localCheckpoint(eager=True)
    scored.unpersist()
    return out


def _quality_budget_select_impl(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    stop_arr = "array(" + ",".join(f"'{w}'" for w in _STOPWORDS.split(",")) + ")"
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("size(split(lower(text), ' '))").cast("long").alias("toks"),
        F.expr(
            f"size(filter(split(lower(text), ' '), w -> array_contains({stop_arr}, w)))"
        )
        .cast("long")
        .alias("hits"),
    )
    # cache the 3-long-column projection: classes, the full-class
    # branch and the boundary branch all read it, and without the
    # cache each union branch would re-scan AND re-tokenize the text
    # corpus (3 passes over the expensive part).  At 100 TB `scored`
    # is ~24 B/doc — orders smaller than the text it summarizes — the
    # classic score-once materialization.
    scored = (
        d.filter(F.col("toks") > 0)
        .select(
            "doc_id",
            F.expr("1000 * hits div toks").alias("score"),
            "toks",
        )
        .cache()
    )
    budget = scored.agg(
        F.expr(
            f"cast(sum(toks) * {BUDGET_FRACTION_PPM} div 1000000 as bigint)"
        ).alias("budget")
    )
    # score-class histogram: <= 1001 rows, so the single-partition
    # window here is free; cum_before = tokens in strictly-better
    # classes, the per-class admission budget is budget - cum_before.
    classes = (
        scored.groupBy("score")
        .agg(F.sum("toks").alias("class_toks"))
        .crossJoin(F.broadcast(budget))
        .withColumn(
            "cum_before",
            F.coalesce(
                F.sum("class_toks").over(
                    Window.orderBy(F.desc("score")).rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn("class_budget", F.col("budget") - F.col("cum_before"))
        .filter(F.col("class_budget") > 0)
        .select("score", "class_toks", "class_budget")
    )
    with_cls = scored.join(F.broadcast(classes), "score")
    # full classes admit without any per-doc ordering work; only the
    # boundary class (class_toks > class_budget) pays a cumsum, and
    # only over its own members.
    full = with_cls.filter(F.col("class_toks") <= F.col("class_budget"))
    boundary = (
        with_cls.filter(F.col("class_toks") > F.col("class_budget"))
        .withColumn(
            "cum",
            F.sum("toks").over(
                Window.partitionBy("score").orderBy("doc_id").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
        .filter(F.col("cum") <= F.col("class_budget"))
    )
    out = full.unionByName(boundary.drop("cum")).select(
        "doc_id", "score", "toks"
    )
    return out, scored


_STOP_DUCK = "[" + ",".join(f"'{w}'" for w in _STOPWORDS.split(",")) + "]"

QUALITY_BUDGET_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         1000 * len(list_filter(string_split(lower(text), ' '),
                                w -> list_contains({_STOP_DUCK}, w)))
             // len(string_split(lower(text), ' ')) AS score,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS toks
  FROM documents
  WHERE len(string_split(lower(text), ' ')) > 0
),
b AS (
  SELECT CAST(sum(toks) * {BUDGET_FRACTION_PPM} // 1000000 AS BIGINT) AS budget
  FROM scored
),
ranked AS (
  SELECT doc_id, score, toks,
         sum(toks) OVER (ORDER BY score DESC, doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum
  FROM scored
)
SELECT doc_id, CAST(score AS BIGINT) AS score, toks
FROM ranked, b WHERE cum <= budget
"""


QUERIES = {
    "zorder_extents": (zorder_extents, ZORDER_EXTENTS_SQL),
    "bloom_prune_join": (bloom_prune_join, BLOOM_PRUNE_SQL),
    "cms_heavy_hitters": (cms_heavy_hitters, CMS_HEAVY_HITTERS_SQL),
    "anomaly_zscore_events": (anomaly_zscore_events, ANOMALY_ZSCORE_SQL),
    "drift_psi_events": (drift_psi_events, DRIFT_PSI_SQL),
    "drift_ks_events": (drift_ks_events, DRIFT_KS_SQL),
    "quality_budget_select": (quality_budget_select, QUALITY_BUDGET_SQL),
}
