"""Query inventory — every operator from SURVEY.md §2 as a (Spark builder,
DuckDB oracle SQL) pair, exercised on the driver's testdata tables.

Each entry demonstrates one (or a cluster of) operator IDs from the
survey; the oracle SQL is the ANSI-SQL twin the driver runs in DuckDB at
sf0.01 and hash-compares. Cross-engine determinism rules used throughout:

- money/maths aggregates go through DECIMAL (exact, order-independent)
  and are cast to DOUBLE at the end, or are ROUND()ed after a double agg
  whose accumulation error is orders of magnitude below the rounding
  step;
- raw event timestamps have shipped as nanosecond INT64 and as µs
  TIMESTAMP (the loader branches on the stored dtype) — so timestamps
  are always truncated to seconds/hours (epoch BIGINT) or dates before
  being returned or used as ordering keys (ties broken by unique ids);
- hashes use md5 (present and identical in both engines); DuckDB lacks
  xxhash64/width_bucket, so fingerprints are md5-prefix 60-bit ints and
  histograms use floor();
- DuckDB sum(BIGINT) returns HUGEINT → always CAST ... AS BIGINT.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from .functions.geo import haversine_arg, haversine_km
from .operators.spatial import kernel_weighted_mean
from .sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


_PYFILES_SHIPPED: set[str] = set()


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the argostats_spark package to executor Python workers.

    The driver may import __spark_entry__ from an arbitrary cwd; the
    driver *process* gets sys.path patched, but executor Python workers
    spawn fresh and unpickle UDF closures by module reference — without
    this, every applyInPandas/mapInPandas query dies with
    ModuleNotFoundError. addPyFile of a package zip is the standard,
    cluster-safe fix (works identically on a real cluster)."""
    app_id = spark.sparkContext.applicationId
    if app_id in _PYFILES_SHIPPED:
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = tempfile.mkdtemp(prefix="argostats_pyfiles_")
    zip_base = os.path.join(staging, "argostats_spark_pkg")
    shutil.make_archive(zip_base, "zip", root_dir=os.path.dirname(pkg_dir),
                        base_dir="argostats_spark")
    spark.sparkContext.addPyFile(zip_base + ".zip")
    _PYFILES_SHIPPED.add(app_id)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``sf_dir/<name>.parquet`` via ``load_table`` (schema inferred once)."""
    ensure_workers_can_import(spark)
    # set for every table, not only events: the conf is in load_table's
    # cache key, and only TIMESTAMP(NANOS) columns read differently
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if name == "events":
        return _events(spark, sf_dir)
    return load_table(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table, tolerant of how `ts` is physically encoded.

    The testdata generator has shipped two encodings: TIMESTAMP(NANOS)
    (which Spark's reader only accepts as raw INT64 via the legacy
    nanosAsLong conf) and plain TIMESTAMP(MICROS) without a timezone
    (read as TIMESTAMP_NTZ). Branch on the dtype actually stored so a
    testdata regeneration can't break every events query at once; either
    way downstream sees one canonical µs TimestampType column."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # pin UTC: ts becomes a zoned TimestampType, and the session TZ must
    # not shift year()/hour() vs the oracle's TZ-naive reading of the
    # same instants
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = load_table(spark, os.path.join(sf_dir, "events.parquet"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # exact integer division: long/long with `/` promotes to double,
        # and epoch nanoseconds (~1.7e18) exceed double's 2^53 exact
        # range — events within ~128 ns of a second boundary could land
        # in the wrong second vs the oracle's exact ns arithmetic
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        # naive µs values are the same UTC instants; the cast reads them
        # through the UTC-pinned session, so the resulting TimestampType
        # is value-identical to the legacy path
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def query(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn
    return deco


# =========================================================================
# Flagship: gridded kernel-weighted climatology (SURVEY §2.3 J2, §2.4
# A1-A3, §2.8 F2/F3) — the reference's atlas core (atlas.py:93-142)
# demonstrated on the customer table with deterministic synthetic
# coordinates, so DuckDB can brute-force the same θ-join.
# =========================================================================

# lm_ap exact-anchor slice cap (VERDICT r9 item 5): the exact-ntile
# anchor the lm_ap guarantee compares against runs on the deterministic
# slice doc_id < CAP, so queries() never reaches a corpus-sized global
# sort through any path — the guarantee booleans ("approx bucketing is
# within one decile of exact for unique values; approx populations are
# n/10 ± 5%+3") keep their meaning on the slice, and the sort is
# bounded at any corpus size. 8192 covers the whole sf0.01 driver
# corpus (ids are dense from 0), so the driver row loses nothing.
_LM_AP_SLICE_CAP = 8192

_RESO = 10.0          # grid resolution, degrees
_SF = 1.0             # smoothing factor → kernel radius = 10° of arc
_THETA = math.sin(math.radians(_SF * _RESO) / 2.0) ** 2

_PTS_SQL = """
    SELECT CAST(((c_custkey * 37) % 360) - 180 + 0.5 AS DOUBLE) AS lon,
           CAST(((c_custkey * 53) % 160) - 80 + 0.5 AS DOUBLE) AS lat,
           c_acctbal AS val
    FROM customer
"""


def _synth_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        (F.pmod(F.col("c_custkey") * 37, F.lit(360)) - 180 + 0.5).cast("double").alias("lon"),
        (F.pmod(F.col("c_custkey") * 53, F.lit(160)) - 80 + 0.5).cast("double").alias("lat"),
        F.col("c_acctbal").alias("val"),
    )


def _grid(spark: SparkSession) -> DataFrame:
    lons = spark.range(36).select((F.col("id") * 10 - 175).cast("double").alias("glon"))
    lats = spark.range(16).select((F.col("id") * 10 - 75).cast("double").alias("glat"))
    return lons.crossJoin(lats)


@query(
    "clim_kernel_grid",
    f"""
    WITH pts AS ({_PTS_SQL}),
    grid AS (
      SELECT CAST(i * 10 - 175 AS DOUBLE) AS glon, CAST(j * 10 - 75 AS DOUBLE) AS glat
      FROM range(0, 36) t(i) CROSS JOIN range(0, 16) s(j)
    ),
    pairs AS (
      SELECT glon, glat, val,
             pow(sin(radians(lat - glat) / 2), 2)
             + cos(radians(glat)) * cos(radians(lat)) * pow(sin(radians(lon - glon) / 2), 2)
               AS hav
      FROM grid JOIN pts ON
             pow(sin(radians(lat - glat) / 2), 2)
             + cos(radians(glat)) * cos(radians(lat)) * pow(sin(radians(lon - glon) / 2), 2)
             <= {_THETA!r}
    )
    SELECT glon, glat,
           round(CAST(sum(exp(-hav / {_THETA!r}) * val) / sum(exp(-hav / {_THETA!r})) AS DOUBLE), 4)
             AS mean_val,
           count(*) AS n_points
    FROM pairs GROUP BY glon, glat
    """,
)
def q_clim_kernel_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 binned neighborhood join + A1-A3 kernel-weighted mean.

    Spark side uses the engine's adaptive-halo binned join
    (operators/spatial.py); the oracle brute-forces the θ-join — their
    equality is the correctness proof for the binning (SURVEY §7.4.1).
    """
    out = kernel_weighted_mean(
        _grid(spark), _synth_points(spark, sf_dir),
        value_cols=["val"], reso_deg=_RESO, smoothing_factor=_SF,
    )
    return out.select(
        "glon", "glat",
        F.round(F.col("mean_val").cast("double"), 4).alias("mean_val"),
        F.col("n_points").cast("long").alias("n_points"),
    )


# =========================================================================
# Relational core on the TPC-H-ish tables
# =========================================================================

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — groupBy + 8 aggregates (SURVEY §2.4 A1/A12;
    partial+final agg comes free from Spark, §2.4 'absent' note)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
             .cast("double").alias("sum_disc_price"),
            (F.sum(dec("l_quantity")).cast("double") / cnt).alias("avg_qty"),
            (F.sum(dec("l_extendedprice")).cast("double") / cnt).alias("avg_price"),
            (F.sum(dec("l_discount")).cast("double") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@query(
    "filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem
    WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
    """,
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/P3 projection + compound predicate; X2/X3: both the filter
    and the 5-column projection reach the parquet scan (pushdown)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1995-01-01").cast("date"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")


@query(
    "compound_predicate",
    """
    SELECT user_id, count(*) AS n_errors,
           round(CAST(sum(value) AS DOUBLE), 3) AS sum_value
    FROM events
    WHERE event_type = 'error' AND value > 50
    GROUP BY user_id
    """,
)
def q_compound_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P5 quality-style compound predicate + A12 per-group counts."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 50))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_errors"),
            F.round(F.sum("value").cast("double"), 3).alias("sum_value"),
        )
    )


@query(
    "scalar_suite",
    """
    SELECT 'dateparts' AS which,
           printf('%04d-%02d-%02d', year(ts), month(ts), dayofmonth(ts)) AS k1,
           printf('%03d-%02d', dayofyear(ts), hour(ts)) AS k2,
           count(*) AS n
    FROM events GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'strings' AS which,
           upper(substr(c_name, 1, 8)) AS k1,
           concat(CAST(length(c_name) AS VARCHAR), '#', c_mktsegment, '#',
                  CAST(c_nationkey AS VARCHAR)) AS k2,
           count(*) AS n
    FROM customer
    WHERE c_name LIKE '%er#%' OR c_mktsegment IN ('BUILDING', 'MACHINERY')
    GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'nulls' AS which, status AS k1,
           concat(CAST(n_big AS VARCHAR), '#', CAST(n_not_urgent AS VARCHAR)) AS k2,
           n
    FROM (
      SELECT coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status,
             CAST(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
             count(nullif(o_orderpriority, '1-URGENT')) AS n_not_urgent,
             count(*) AS n
      FROM orders GROUP BY 1
    )
    UNION ALL
    SELECT 'haversine' AS which,
           CAST(lon AS VARCHAR) AS k1, CAST(lat AS VARCHAR) AS k2,
           CAST(round(2 * 6371.0 * asin(sqrt(
             pow(sin(radians(0 - lat) / 2), 2)
             + cos(radians(lat)) * cos(radians(0))
               * pow(sin(radians(0 - lon) / 2), 2)
           )) * 1000) AS BIGINT) AS n
    FROM (SELECT CAST(((c_custkey * 37) % 360) - 180 + 0.5 AS DOUBLE) AS lon,
                 CAST(((c_custkey * 53) % 160) - 80 + 0.5 AS DOUBLE) AS lat
          FROM customer)
    UNION ALL
    SELECT 'zorder' AS which,
           CAST(gx AS VARCHAR) AS k1, CAST(gy AS VARCHAR) AS k2,
           CAST(x4 | (y4 << 1) AS BIGINT) AS n
    FROM (
      SELECT gx, gy,
             (x3 | (x3 << 1)) & 1431655765 AS x4,
             (y3 | (y3 << 1)) & 1431655765 AS y4
      FROM (
        SELECT gx, gy,
               (x2 | (x2 << 2)) & 858993459 AS x3,
               (y2 | (y2 << 2)) & 858993459 AS y3
        FROM (
          SELECT gx, gy,
                 (x1 | (x1 << 4)) & 252645135 AS x2,
                 (y1 | (y1 << 4)) & 252645135 AS y2
          FROM (
            SELECT gx, gy,
                   (gx | (gx << 8)) & 16711935 AS x1,
                   (gy | (gy << 8)) & 16711935 AS y1
            FROM (SELECT (c_custkey * 2654435761) % 65536 AS gx,
                         (c_custkey * 40503) % 65536 AS gy
                  FROM customer)))))
    """,
)
def q_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function suite, one tagged union over three demos (merged
    from the former ``dateparts`` / ``string_functions`` /
    ``null_handling`` queries so every registry entry fits in the
    driver's 50-query correctness window):

    - ``dateparts`` — F1 date-part extraction (reference's hand-rolled
      tools/datetools.py:7-62 as built-ins), parts formatted with
      printf-style format strings (identical in both engines);
    - ``strings`` — LIKE / IN predicates, upper/substr/length/concat
      (the reference encodes strings away at ingest; Spark keeps the
      full string library);
    - ``nulls`` — nullif/coalesce/conditional counting: real NULL
      semantics replacing the reference's sentinel encodings
      (SURVEY §1.2);
    - ``haversine`` — F2 great-circle distance as a pure column
      expression (reference atlas.py:48-63), whole-stage-codegen'd, no
      UDF; hashed as integer meters at the former row's 3-dp-km
      precision (merged from the standalone ``haversine`` entry in
      round 6 to keep the registry inside the driver's 50-row window;
      the NumPy differential tests live in test_functions.py);
    - ``zorder`` (round 8) — the Morton key behind the Z-order layout
      writer (operators/layout.py): two hash-derived 16-bit grid
      coordinates bit-interleaved with the 4-step spread-bits magic
      numbers, pure long shift/and/or inside codegen. The oracle runs
      the IDENTICAL integer arithmetic; the data-skipping claim itself
      (a y-only box predicate prunes Z-ordered files that an x-sorted
      layout must all read) is pinned by tests/test_layout.py.
    """
    ev = _t(spark, sf_dir, "events")
    dateparts = (
        ev.groupBy(
            F.format_string(
                "%04d-%02d-%02d", F.year("ts"), F.month("ts"), F.dayofmonth("ts")
            ).alias("k1"),
            F.format_string("%03d-%02d", F.dayofyear("ts"), F.hour("ts")).alias("k2"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("dateparts").alias("which"), "k1", "k2", "n")
    )

    c = _t(spark, sf_dir, "customer")
    strings = (
        c.filter(
            F.col("c_name").like("%er#%")
            | F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
        )
        .groupBy(
            F.upper(F.substring("c_name", 1, 8)).alias("k1"),
            F.concat(
                F.length("c_name").cast("string"), F.lit("#"),
                F.col("c_mktsegment"), F.lit("#"),
                F.col("c_nationkey").cast("string"),
            ).alias("k2"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("strings").alias("which"), "k1", "k2", "n")
    )

    o = _t(spark, sf_dir, "orders")
    nulls = (
        o.groupBy(
            F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias("k1")
        )
        .agg(
            F.sum(F.when(F.col("o_totalprice") > 150000, 1).otherwise(0))
            .cast("long").alias("n_big"),
            F.count(F.nullif("o_orderpriority", F.lit("1-URGENT"))).alias("n_not_urgent"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.lit("nulls").alias("which"), "k1",
            F.concat(
                F.col("n_big").cast("string"), F.lit("#"),
                F.col("n_not_urgent").cast("string"),
            ).alias("k2"),
            "n",
        )
    )

    # lon/lat are exact .5 halves by construction, so double→string
    # renders identically in both engines.
    # ACCEPTED RISK (round-6 advice, documented per the 6-dp policy):
    # the mm-grain hash CAST(round(dist*1000)) has no tolerance — a
    # 1-ulp sin/asin divergence between Spark and DuckDB landing
    # EXACTLY on a .5-mm boundary would flip the integer and fail the
    # suite hash. Accepted because (a) the inputs are exact .5-degree
    # halves, so the distances are fixed irrational-ish values that sit
    # measurably far from every boundary on both engines today (driver-
    # hashed green since round 4), and (b) any coarser deterministic
    # grain merely moves the boundary rather than removing it. If this
    # limb ever mismatches alone, re-grain BOTH sides to whole meters
    # before suspecting the operator.
    hav = _synth_points(spark, sf_dir).select(
        F.lit("haversine").alias("which"),
        F.col("lon").cast("string").alias("k1"),
        F.col("lat").cast("string").alias("k2"),
        F.round(haversine_km("lon", "lat", F.lit(0.0), F.lit(0.0)) * 1000, 0)
        .cast("long").alias("n"),
    )
    from .operators.layout import morton_key

    gx = (F.col("c_custkey").cast("long") * F.lit(2654435761)) % F.lit(65536)
    gy = (F.col("c_custkey").cast("long") * F.lit(40503)) % F.lit(65536)
    zord = c.select(
        F.lit("zorder").alias("which"),
        gx.cast("string").alias("k1"),
        gy.cast("string").alias("k2"),
        morton_key(gx, gy).alias("n"),
    )
    return (
        dateparts.unionByName(strings)
        .unionByName(nulls)
        .unionByName(hav)
        .unionByName(zord)
    )


@query(
    "join_multiway",
    """
    SELECT r_name, n_name,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 equi-join chain with broadcast dimension tables (J4 pattern):
    nation/region are tiny → broadcast, no shuffle on the fact side
    beyond the final aggregation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


@query(
    "join_variants",
    """
    SELECT 'semi' AS variant, CAST(c_custkey AS BIGINT) AS custkey, c_name AS str_val,
           CAST(NULL AS BIGINT) AS num_a, CAST(NULL AS DOUBLE) AS num_b
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    UNION ALL
    SELECT 'anti', CAST(c_custkey AS BIGINT), c_mktsegment,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'left_outer', CAST(c_custkey AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(count(o_orderkey) AS BIGINT),
           CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    UNION ALL
    SELECT 'full_outer', CAST(coalesce(b.ck, e.ck) AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(coalesce(n_orders, 0) AS BIGINT),
           CAST(coalesce(n_events, 0) AS DOUBLE)
    FROM (SELECT o_custkey AS ck, count(*) AS n_orders FROM orders GROUP BY o_custkey) b
    FULL OUTER JOIN
         (SELECT user_id % 1500 AS ck, count(*) AS n_events FROM events GROUP BY 1) e
    ON b.ck = e.ck
    UNION ALL
    SELECT 'advisor', CAST(NULL AS BIGINT), s.str_val,
           CASE WHEN s.str_val = 'true_size'
                THEN (SELECT CAST(count(*) AS BIGINT)
                      FROM orders JOIN customer ON o_custkey = c_custkey)
                ELSE CAST(NULL AS BIGINT) END,
           CASE WHEN s.str_val = 'true_size' THEN CAST(NULL AS DOUBLE)
                ELSE 1.0 END
    FROM (VALUES ('true_size'), ('bracket'),
                 ('strategy_broadcast_b')) s(str_val)
    UNION ALL
    SELECT 'salted_left', CAST(c_custkey AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(count(o_orderkey) AS BIGINT),
           CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def q_join_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-variant suite, one tagged union over the four join types the
    reference lacks entirely (SURVEY §2.3 'absent'; merged from the
    former ``join_semi`` / ``join_anti`` / ``join_outer`` /
    ``join_full_outer`` queries to fit the driver's 50-query window):

    - ``semi`` — customers with a >200k order (left-semi);
    - ``anti`` — customers with no orders (left-anti);
    - ``left_outer`` — per-customer order counts keeping zero-order
      customers;
    - ``full_outer`` — buyers ⟗ event users on a synthetic shared key;
    - ``advisor`` (round 12) — the CMS join-size pre-flight anchored
      against the exact join size;
    - ``salted_left`` (round 13) — the same per-customer left-join
      aggregate as ``left_outer`` but executed through
      apply_join_strategy's b-side-salted LEFT path (a-side
      reframing), hashed against the plain SQL LEFT JOIN.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events")
    ck = F.col("c_custkey").cast("long")
    null_a = F.lit(None).cast("long")
    null_b = F.lit(None).cast("double")

    semi = (
        c.join(o.filter(F.col("o_totalprice") > 200000),
               c.c_custkey == o.o_custkey, "left_semi")
        .select(F.lit("semi").alias("variant"), ck.alias("custkey"),
                F.col("c_name").alias("str_val"),
                null_a.alias("num_a"), null_b.alias("num_b"))
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(F.lit("anti").alias("variant"), ck.alias("custkey"),
                F.col("c_mktsegment").alias("str_val"),
                null_a.alias("num_a"), null_b.alias("num_b"))
    )
    left_outer = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                F.lit(0).cast("decimal(18,2)"),
            ).cast("double").alias("total"),
        )
        .select(F.lit("left_outer").alias("variant"), ck.alias("custkey"),
                F.lit(None).cast("string").alias("str_val"),
                F.col("n_orders").alias("num_a"), F.col("total").alias("num_b"))
    )
    buyers = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    eventers = ev.groupBy((F.col("user_id") % 1500).alias("ck")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    full_outer = (
        buyers.join(eventers, buyers.ck == eventers.ck, "full_outer")
        .select(
            F.lit("full_outer").alias("variant"),
            F.coalesce(buyers.ck, eventers.ck).cast("long").alias("custkey"),
            F.lit(None).cast("string").alias("str_val"),
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("num_a"),
            F.coalesce("n_events", F.lit(0)).cast("double").alias("num_b"),
        )
    )
    # advisor limb (round 12): the CMS join-size pre-flight + strategy
    # advisor (operators/joinsize.py::choose_join_strategy) on the
    # orders ⋈ customer dimension join. EAGER by nature — the two
    # sketch scans run at query construction (KB driver payloads).
    # Hashed rows: the exact join size as a cross-engine anchor, the
    # one-sided CMS bracket true <= est <= true + upper_slack as a
    # guarantee boolean (deterministic at the fixed seed; the oracle
    # asserts 1.0, the dok pattern), and the chosen strategy. The
    # broadcast threshold is pinned ABOVE any sf (customer < orders at
    # every TPC-H scale, so the smaller side always broadcasts and
    # the oracle's 'strategy_broadcast_b' literal is scale-invariant —
    # review finding r12: the 4M-row default would flip the decision
    # to 'plain' past sf~27 and hash-mismatch a correct advisor).
    from .operators.joinsize import choose_join_strategy

    dec = choose_join_strategy(
        o, "o_custkey", c, "c_custkey", broadcast_rows=2**62
    )
    tj = (
        o.select(F.col("o_custkey").alias("k"))
        .join(c.select(F.col("c_custkey").alias("k")), "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    advisor = tj.select(
        F.lit("advisor").alias("variant"),
        F.lit(None).cast("long").alias("custkey"),
        F.expr(
            "stack(3,"
            " 'true_size', CAST(n AS BIGINT), CAST(NULL AS DOUBLE),"
            f" 'bracket', CAST(NULL AS BIGINT),"
            f"   CAST(CASE WHEN {dec['est']}L >= n"
            f"         AND {dec['est']}L <= n + {dec['upper_slack']!r}D"
            "        THEN 1.0 ELSE 0.0 END AS DOUBLE),"
            f" 'strategy_{dec['strategy']}', CAST(NULL AS BIGINT),"
            "    CAST(1.0 AS DOUBLE)"
            ") AS (str_val, num_a, num_b)"
        ),
    )
    # salted_left limb (round 13): the b-side-salted LEFT join via
    # a-side reframing (operators/joinsize.py::apply_join_strategy,
    # VERDICT r12 item 6) must be row-identical to the plain left
    # join — the oracle replays it as plain SQL LEFT JOIN, so the
    # driver hash cross-checks the reframing (match-flag split from
    # b's distinct keys + salted inner + null-extended unmatched)
    # every round. Forced decision: the point is the machinery, not
    # the advisor's choice on this fixture.
    from .operators.joinsize import apply_join_strategy

    sl_joined = apply_join_strategy(
        c.select(F.col("c_custkey").alias("k")),
        o.select(F.col("o_custkey").alias("k"), "o_orderkey",
                 "o_totalprice"),
        ["k"],
        {"strategy": "salted", "salt_side": "b", "n_salts": 8},
        how="left",
    )
    salted_left = (
        sl_joined.groupBy("k")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                F.lit(0).cast("decimal(18,2)"),
            ).cast("double").alias("total"),
        )
        .select(F.lit("salted_left").alias("variant"),
                F.col("k").cast("long").alias("custkey"),
                F.lit(None).cast("string").alias("str_val"),
                F.col("n_orders").alias("num_a"),
                F.col("total").alias("num_b"))
    )
    return (
        semi.unionByName(anti).unionByName(left_outer)
        .unionByName(full_outer).unionByName(advisor)
        .unionByName(salted_left)
    )


@query(
    "join_range_bands",
    """
    WITH bands(band, lo, hi) AS (
      VALUES ('small', 0.0, 50000.0), ('medium', 50000.0, 150000.0),
             ('large', 150000.0, 1000000000.0)
    )
    SELECT band, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def q_join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) θ-join against a broadcast band table — the
    non-spatial cousin of J2."""
    o = _t(spark, sf_dir, "orders")
    bands = F.broadcast(
        spark.createDataFrame(
            [("small", 0.0, 50000.0), ("medium", 50000.0, 150000.0),
             ("large", 150000.0, 1e9)],
            "band string, lo double, hi double",
        )
    )
    return (
        o.join(bands, (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


@query(
    "join_asof",
    """
    SELECT e.event_id,
           e.user_id,
           CAST(epoch(date_trunc('second', max(c.ts))) AS BIGINT) AS last_click_s
    FROM events e JOIN events c
      ON c.user_id = e.user_id AND c.event_type = 'click' AND c.ts <= e.ts
    WHERE e.event_type = 'error'
    GROUP BY e.event_id, e.user_id
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (absent from the reference): for each error event the
    most recent click by the same user. Expressed as a range join +
    max-aggregate; the streaming module has the stateful variant."""
    ev = _t(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("e_ts")
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    return (
        err.join(clk, (err.user_id == clk.c_user) & (clk.c_ts <= err.e_ts))
        .groupBy("event_id", "user_id")
        .agg(F.unix_timestamp(F.max("c_ts")).alias("last_click_s"))
    )


@query(
    "dict_encode",
    """
    SELECT event_type,
           CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1 WHEN 'purchase' THEN 2
                           WHEN 'signup' THEN 3 WHEN 'error' THEN 4 ELSE -1 END AS type_code,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q_dict_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/F11 dictionary encoding — the reference's string→int8 encoders
    (toctools.py:195-196) as a broadcast-joined dimension table."""
    ev = _t(spark, sf_dir, "events")
    dim = F.broadcast(
        spark.createDataFrame(
            [("click", 0), ("view", 1), ("purchase", 2), ("signup", 3), ("error", 4)],
            "event_type string, type_code int",
        )
    )
    return (
        ev.join(dim, "event_type", "left")
        .withColumn("type_code", F.coalesce("type_code", F.lit(-1)))
        .groupBy("event_type", "type_code")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# =========================================================================
# Window functions (SURVEY §2.5 W1-W4)
# =========================================================================

@query(
    "window_suite",
    """
    SELECT 'first_order' AS which, CAST(c_custkey AS BIGINT) AS k1,
           CAST(o_orderkey AS BIGINT) AS k2,
           strftime(o_orderdate, '%Y-%m-%d') AS sval, CAST(NULL AS DOUBLE) AS nval
    FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    UNION ALL
    SELECT 'lag_gap', CAST(user_id AS BIGINT), CAST(event_id AS BIGINT),
           CAST(NULL AS VARCHAR),
           CAST(ts_s - lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
                AS DOUBLE)
    FROM (
      SELECT user_id, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
      FROM events
    )
    UNION ALL
    SELECT 'cumsum', CAST(o_custkey AS BIGINT), CAST(o_orderkey AS BIGINT),
           CAST(NULL AS VARCHAR),
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
    FROM orders
    """,
)
def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function suite, one tagged union over three demos (merged
    from the former ``window_row_number`` / ``window_lag_gap`` /
    ``window_cumsum`` queries to fit the driver's 50-query window):

    - ``first_order`` — W1/W2/A6 per-group row numbering + group-wise
      first (the reference's IPROF assignment, toctools.py:175);
    - ``lag_gap`` — W3 lag over an event-time window, seconds between
      consecutive events per user (ordering key is second-truncated
      ts + unique id so both engines sort identically despite the
      ns/µs precision gap);
    - ``cumsum`` — W4 running total (the reference's np.cumsum over
      depth, atlas.py:323-324) as a running-window aggregate.
    """
    o = _t(spark, sf_dir, "orders")
    null_s = F.lit(None).cast("string")
    null_n = F.lit(None).cast("double")

    w1 = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    first_order = (
        o.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            F.lit("first_order").alias("which"),
            F.col("o_custkey").cast("long").alias("k1"),
            F.col("o_orderkey").cast("long").alias("k2"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("sval"),
            null_n.alias("nval"),
        )
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("ts_s")
    )
    w2 = W.partitionBy("user_id").orderBy("ts_s", "event_id")
    lag_gap = ev.select(
        F.lit("lag_gap").alias("which"),
        F.col("user_id").cast("long").alias("k1"),
        F.col("event_id").cast("long").alias("k2"),
        null_s.alias("sval"),
        (F.col("ts_s") - F.lag("ts_s").over(w2)).cast("double").alias("nval"),
    )

    w3 = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cumsum = o.select(
        F.lit("cumsum").alias("which"),
        F.col("o_custkey").cast("long").alias("k1"),
        F.col("o_orderkey").cast("long").alias("k2"),
        null_s.alias("sval"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w3).cast("double"), 2)
         .alias("nval"),
    )
    return first_order.unionByName(lag_gap).unionByName(cumsum)


@query(
    "sessionize",
    """
    WITH e AS (
      SELECT user_id, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts_s,
             CASE WHEN ts_s - lag(ts_s) OVER w > 3600 OR lag(ts_s) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
    ),
    sessions AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_s
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (lag + cumulative sum over gaps > 1h) — the batch
    twin of the streaming session window; a pattern the reference lacks
    entirely (SURVEY §2.9)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("ts_s")
    )
    w = W.partitionBy("user_id").orderBy("ts_s", "event_id")
    run = W.partitionBy("user_id").orderBy("ts_s").rowsBetween(W.unboundedPreceding, W.currentRow)
    flagged = ev.withColumn(
        "new_session",
        F.when(
            (F.col("ts_s") - F.lag("ts_s").over(w) > 3600) | F.lag("ts_s").over(w).isNull(),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn("session_id", F.sum("new_session").over(run).cast("long"))
    return sess.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n_events"))


# =========================================================================
# Sorts / limits / top-k (SURVEY §2.6) and set ops (§2.7)
# =========================================================================

@query(
    "topk_suite",
    """
    SELECT 'global' AS which, CAST(o_custkey AS BIGINT) AS o_custkey,
           CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM (SELECT o_custkey, o_orderkey, o_totalprice
          FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20)
    UNION ALL
    SELECT 'per_group', CAST(o_custkey AS BIGINT), CAST(o_orderkey AS BIGINT),
           CAST(o_totalprice AS DOUBLE)
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q_topk_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k suite (merged ``topk_orders`` + ``topk_per_group``):

    - ``global`` — ORDER BY + LIMIT 20, planned as TakeOrderedAndProject
      (no full sort materialization at scale; unique tie-break key keeps
      both engines deterministic);
    - ``per_group`` — per-customer top-3 via ranking window.
    """
    o = _t(spark, sf_dir, "orders")
    top_global = (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            F.lit("global").alias("which"),
            F.col("o_custkey").cast("long"),
            F.col("o_orderkey").cast("long"),
            F.col("o_totalprice").cast("double"),
        )
    )
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    per_group = (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.lit("per_group").alias("which"),
            F.col("o_custkey").cast("long"),
            F.col("o_orderkey").cast("long"),
            F.col("o_totalprice").cast("double"),
        )
    )
    return top_global.unionByName(per_group)


@query(
    "set_ops",
    """
    SELECT 'union_all' AS op, CAST(event_id AS BIGINT) AS k1,
           CAST(user_id AS BIGINT) AS k2, tag
    FROM (
      SELECT event_id, user_id, 'err' AS tag FROM events WHERE event_type = 'error'
      UNION ALL
      SELECT event_id, user_id, 'buy' AS tag FROM events WHERE event_type = 'purchase'
    )
    UNION ALL
    SELECT 'intersect', CAST(custkey AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
    FROM (
      SELECT o_custkey AS custkey FROM orders JOIN customer ON c_custkey = o_custkey
      WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    )
    UNION ALL
    SELECT 'except', CAST(custkey AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
    FROM (
      SELECT c_custkey AS custkey FROM customer
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation suite (merged ``union_all`` / ``set_intersect`` /
    ``set_except``):

    - ``union_all`` — U1: the reference's pd.concat of per-WMO frames
      (toctools.py:145) as a proper distributed union;
    - ``intersect`` — BUILDING-segment buyers ∩ big-ticket buyers
      (absent from the reference, free in Spark);
    - ``except`` — customers minus those with finished orders
      (distinct semantics, Spark ``subtract``).
    """
    ev = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    null_k = F.lit(None).cast("long")
    null_s = F.lit(None).cast("string")

    errs = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.lit("err").alias("tag")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.lit("buy").alias("tag")
    )
    union_all = errs.unionByName(buys).select(
        F.lit("union_all").alias("op"),
        F.col("event_id").cast("long").alias("k1"),
        F.col("user_id").cast("long").alias("k2"),
        "tag",
    )

    ia = o.join(c, o.o_custkey == c.c_custkey).filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select(F.col("o_custkey").alias("custkey"))
    ib = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("custkey")
    )
    intersect = ia.intersect(ib).select(
        F.lit("intersect").alias("op"),
        F.col("custkey").cast("long").alias("k1"),
        null_k.alias("k2"), null_s.alias("tag"),
    )

    ea = c.select(F.col("c_custkey").alias("custkey"))
    eb = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    # subtract == EXCEPT (distinct semantics)
    excpt = ea.subtract(eb).select(
        F.lit("except").alias("op"),
        F.col("custkey").cast("long").alias("k1"),
        null_k.alias("k2"), null_s.alias("tag"),
    )
    return union_all.unionByName(intersect).unionByName(excpt)


# =========================================================================
# Aggregations (SURVEY §2.4) beyond Q1
# =========================================================================

@query(
    "distinct_pairs",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 distinct."""
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@query(
    "histograms",
    """
    SELECT 'year' AS which, CAST(NULL AS VARCHAR) AS grp,
           CAST(year(o_orderdate) AS BIGINT) AS bucket, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'value', CAST(NULL AS VARCHAR),
           CAST(floor(l_quantity / 5) AS BIGINT), count(*),
           CAST(NULL AS DOUBLE)
    FROM lineitem GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'depth', l_returnflag, CAST(bucket AS BIGINT), count(*),
           CAST(max(l_quantity) AS DOUBLE)
    FROM (
      SELECT l_returnflag, l_quantity,
             floor((row_number() OVER (
                      PARTITION BY l_returnflag
                      ORDER BY l_quantity,
                               l_orderkey * 10 + l_linenumber) - 1) * 8
                   / (count(*) OVER (PARTITION BY l_returnflag))) AS bucket
      FROM lineitem)
    GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'depth_ap', l_returnflag, CAST(i AS BIGINT), 1,
           CAST(NULL AS DOUBLE)
    FROM (SELECT DISTINCT l_returnflag FROM lineitem),
         (SELECT unnest(range(1, 8)) AS i)
    UNION ALL
    SELECT 'skew', CAST(l_suppkey AS VARCHAR), CAST(rank AS BIGINT),
           n_rows, round(cum, 6)
    FROM (
      SELECT l_suppkey, n_rows,
             row_number() OVER (ORDER BY n_rows DESC, l_suppkey) AS rank,
             CAST(sum(n_rows) OVER (ORDER BY n_rows DESC, l_suppkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE)
               / (SELECT count(*) FROM lineitem) AS cum
      FROM (SELECT l_suppkey, count(*) AS n_rows
            FROM lineitem GROUP BY l_suppkey)
      ORDER BY n_rows DESC, l_suppkey LIMIT 20)
    """,
)
def q_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 histogram suite (merged ``year_histogram`` + ``value_histogram``):

    - ``year`` — count-per-year histogram, the reference's np.histogram
      over profile years (README.md:60-65), plus per-year revenue;
    - ``value`` — fixed-bin histogram via floor(x/w) (DuckDB lacks
      width_bucket, so the bin rule is the shared floor form);
    - ``depth`` (round 8) — exact equi-depth histogram
      (operators/profile.py::equi_depth_histogram): 8 equal-count
      buckets of l_quantity per returnflag via pure rank arithmetic
      (deterministic composite-key tie-break — l_quantity is nearly
      all duplicates, the hard case); per-group windows spread the
      exchange, the global-sort variant is documented as
      bounded-slice-only;
    - ``skew`` (round 8) — key_skew_report: the top-20 hottest
      l_suppkey values with share/cum_share — the shuffle-skew
      diagnosis run before committing a plan to a key.
    """
    nullg = F.lit(None).cast("string").alias("grp")
    o = _t(spark, sf_dir, "orders")
    year = o.groupBy(F.year("o_orderdate").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    ).select(F.lit("year").alias("which"), nullg, "bucket", "n", "total")
    li = _t(spark, sf_dir, "lineitem")
    value = li.groupBy(
        F.floor(F.col("l_quantity") / 5).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("value").alias("which"), nullg, "bucket", "n",
        F.lit(None).cast("double").alias("total"),
    )

    from .operators.profile import equi_depth_histogram, key_skew_report

    depth = equi_depth_histogram(
        li.withColumn(
            "__ukey", F.col("l_orderkey") * 10 + F.col("l_linenumber")
        ),
        "l_quantity", 8, "__ukey", by=["l_returnflag"],
    ).select(
        F.lit("depth").alias("which"),
        F.col("l_returnflag").alias("grp"),
        F.col("bucket"), "n",
        F.col("hi").cast("double").alias("total"),
    )
    skew = key_skew_report(li, "l_suppkey", top=20).select(
        F.lit("skew").alias("which"),
        F.col("l_suppkey").cast("string").alias("grp"),
        F.col("rank").cast("long").alias("bucket"),
        F.col("n_rows").alias("n"),
        F.round("cum_share", 6).alias("total"),
    )

    # depth_ap limb (VERDICT r8 item 5): the equi-depth approx boundary
    # path (equi_depth_histogram exact=False) gets its Greenwald-Khanna
    # guarantee oracle-pinned. Edge VALUES are sketch outputs (not
    # replayable), so the hashed value per (group, edge i of k=8) is
    # the GK rank-error boolean: #{v < e_i} <= (i/8 + eps)·n + 1 and
    # #{v <= e_i} >= (i/8 − eps)·n − 1, eps = 1/accuracy (the ±1 floor
    # absorbs the floor/ceil rank convention). The oracle emits 1s;
    # the exact anchors live in the 'depth' limb of the same union.
    acc = 10_000
    eps = 1.0 / acc
    qv = F.col("l_quantity").cast("double")
    ap_edges = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            qv, F.lit([i / 8 for i in range(1, 8)]), F.lit(acc)
        ).alias("__edges"),
        F.count("l_quantity").alias("__nv"),
    )
    ap_src = li.join(F.broadcast(ap_edges), "l_returnflag")
    ap_aggs = []
    for i in range(7):
        ap_aggs.append(
            F.sum((qv < F.col("__edges")[i]).cast("long")).alias(f"lt{i}")
        )
        ap_aggs.append(
            F.sum((qv <= F.col("__edges")[i]).cast("long")).alias(f"le{i}")
        )
    chk = ap_src.groupBy("l_returnflag", "__nv").agg(*ap_aggs)
    for i in range(7):
        q_i = (i + 1) / 8
        ok = (
            F.col(f"lt{i}") <= (F.lit(q_i) + F.lit(eps)) * F.col("__nv") + 1
        ) & (
            F.col(f"le{i}") >= (F.lit(q_i) - F.lit(eps)) * F.col("__nv") - 1
        )
        chk = chk.withColumn(f"ok{i}", ok.cast("long"))
    depth_ap = chk.select(
        "l_returnflag",
        F.expr(
            "stack(7, "
            + ", ".join(f"CAST({i + 1} AS BIGINT), ok{i}" for i in range(7))
            + ") AS (bucket, okn)"
        ),
    ).select(
        F.lit("depth_ap").alias("which"),
        F.col("l_returnflag").alias("grp"),
        "bucket", F.col("okn").alias("n"),
        F.lit(None).cast("double").alias("total"),
    )
    return (
        year.unionByName(value).unionByName(depth).unionByName(skew)
        .unionByName(depth_ap)
    )


def _profile_oracle_sql(
    table: str = "documents",
    numcols: tuple = ("doc_id", "n_chars"),
    strcols: tuple = ("lang", "source"),
) -> str:
    """Generated DuckDB twin for the stats_suite 'profile' limb —
    one UNION ALL branch per (column, stat) of
    operators/profile.py::profile_columns. Integer-valued means stay
    exact in doubles (sums far below 2^53), so round(...,6) compares
    equal, not merely close."""
    parts = []
    for c in numcols + strcols:
        parts += [
            f"SELECT 'profile' AS which, '{c}' AS grp, 'n' AS stat,"
            f" CAST(NULL AS VARCHAR) AS sval,"
            f" CAST(count({c}) AS DOUBLE) AS nval FROM {table}",
            f"SELECT 'profile', '{c}', 'n_null', CAST(NULL AS VARCHAR),"
            f" CAST(count(*) - count({c}) AS DOUBLE) FROM {table}",
            f"SELECT 'profile', '{c}', 'n_distinct', CAST(NULL AS VARCHAR),"
            f" CAST(count(DISTINCT {c}) AS DOUBLE) FROM {table}",
        ]
    for c in numcols:
        parts += [
            f"SELECT 'profile', '{c}', 'min', CAST(NULL AS VARCHAR),"
            f" CAST(min({c}) AS DOUBLE) FROM {table}",
            f"SELECT 'profile', '{c}', 'max', CAST(NULL AS VARCHAR),"
            f" CAST(max({c}) AS DOUBLE) FROM {table}",
            f"SELECT 'profile', '{c}', 'mean', CAST(NULL AS VARCHAR),"
            f" round(CAST(avg({c}) AS DOUBLE), 6) FROM {table}",
        ]
    for c in strcols:
        parts += [
            f"SELECT 'profile', '{c}', 'min', CAST(min({c}) AS VARCHAR),"
            f" CAST(NULL AS DOUBLE) FROM {table}",
            f"SELECT 'profile', '{c}', 'max', CAST(max({c}) AS VARCHAR),"
            f" CAST(NULL AS DOUBLE) FROM {table}",
        ]
    return "\n    UNION ALL ".join(parts)


def _blend_oracle_sql(k: int = 4) -> str:
    """Generated DuckDB twin for the stats_suite 'blend' limb
    (operators/textstats.py::blend_scores over two exact integer
    signals, n_chars and the whitespace token count): the oracle
    recomputes the quantile edges with quantile_cont (the identical
    interpolation the quantile limb pins), the strict-> bucket counts
    under the same round-9-before-compare, and the rounded average."""
    tok = ("len(list_filter(string_split_regex(trim(text), '\\s+'),"
           " x -> x <> ''))")
    qs = ", ".join(str(i / k) for i in range(1, k))

    def qn(val: str, edge: str) -> str:
        # NULL signal -> NULL qn (matching blend_scores), never bucket 0
        hits = " + ".join(
            f"(CASE WHEN round(CAST({val} AS DOUBLE), 9)"
            f" > round({edge}[{i}], 9) THEN 1 ELSE 0 END)"
            for i in range(1, k)
        )
        return (f"CASE WHEN {val} IS NULL THEN NULL"
                f" ELSE round(({hits}) / {float(k - 1)}, 9) END")

    a, b = qn("n_chars", "e.ce"), qn("d.tok", "e.te")
    return f"""SELECT 'blend' AS which, CAST(doc_id AS VARCHAR) AS grp,
           'q' AS stat, CAST(NULL AS VARCHAR) AS sval,
           round((coalesce(({a}), 0) + coalesce(({b}), 0))
                 / nullif((CASE WHEN ({a}) IS NULL THEN 0 ELSE 1 END)
                          + (CASE WHEN ({b}) IS NULL THEN 0 ELSE 1 END), 0),
                 9) AS nval
    FROM (SELECT doc_id, n_chars, {tok} AS tok FROM documents) d,
         (SELECT quantile_cont(CAST(n_chars AS DOUBLE), [{qs}]) AS ce,
                 quantile_cont(CAST({tok} AS DOUBLE), [{qs}]) AS te
          FROM documents) e"""


def _manifest_oracle_sql() -> str:
    """Generated DuckDB twin for the stats_suite 'manifest' limb: the
    per-language dataset manifest (operators/profile.py::
    dataset_manifest) - counts, characters, and the order-free mod-2^48
    md5-prefix checksum, all exact integers (< 2^53, so the DOUBLE
    carry compares exactly)."""
    chk = ("CAST(sum(('0x' || substr(md5("
           "CAST(len(CAST(doc_id AS VARCHAR)) AS VARCHAR) || '|'"
           " || CAST(doc_id AS VARCHAR) || '|'"
           " || coalesce(text, '') || '|'"
           " || CAST(text IS NULL AS VARCHAR)),"
           " 1, 12))::BIGINT) % 281474976710656 AS DOUBLE)")
    return (
        "SELECT 'manifest' AS which, lang AS grp, 'n' AS stat,"
        " CAST(NULL AS VARCHAR) AS sval, CAST(count(*) AS DOUBLE) AS nval"
        " FROM documents GROUP BY lang"
        "\n    UNION ALL SELECT 'manifest', lang, 'chars', CAST(NULL AS VARCHAR),"
        " CAST(sum(len(text)) AS DOUBLE) FROM documents GROUP BY lang"
        f"\n    UNION ALL SELECT 'manifest', lang, 'checksum', CAST(NULL AS VARCHAR),"
        f" {chk} FROM documents GROUP BY lang"
    )


def _aggstate_oracle_sql() -> str:
    """Generated DuckDB twin for the stats_suite 'aggstate' limb: the
    oracle aggregates the UNSPLIT table directly, while the Spark side
    merges two half-corpus states — equality proves the merge law
    state(A) ⊎ state(B) == state(A ∪ B) holds exactly cross-engine
    (decimal sums; operators/aggstate.py)."""
    sub = """
      SELECT l_returnflag,
             CAST(count(l_quantity) AS DOUBLE) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,14))) AS DOUBLE) AS sm,
             CAST(min(l_quantity) AS DOUBLE) AS mn,
             CAST(max(l_quantity) AS DOUBLE) AS mx,
             round(CAST(sum(CAST(l_quantity AS DECIMAL(28,14))) AS DOUBLE)
                   / count(l_quantity), 6) AS mean,
             round(greatest(
               CAST(sum(CAST(CAST(l_quantity AS DECIMAL(28,14))
                             * CAST(l_quantity AS DECIMAL(28,14))
                             AS DECIMAL(38,6))) AS DOUBLE)
                 / count(l_quantity)
               - (CAST(sum(CAST(l_quantity AS DECIMAL(28,14))) AS DOUBLE)
                  / count(l_quantity))
               * (CAST(sum(CAST(l_quantity AS DECIMAL(28,14))) AS DOUBLE)
                  / count(l_quantity)),
               0), 6) AS var
      FROM lineitem GROUP BY l_returnflag
    """
    stats = [("n", "n"), ("sum", "sm"), ("min", "mn"), ("max", "mx"),
             ("mean", "mean"), ("var", "var")]
    core = "\n    UNION ALL ".join(
        f"SELECT 'aggstate' AS which, l_returnflag AS grp, '{name}' AS stat,"
        f" CAST(NULL AS VARCHAR) AS sval, {col} AS nval FROM ({sub})"
        for name, col in stats
    )
    # distinct-state rows (round 9): 'dexact' is the exact per-key
    # distinct (the anchor, replayed here); 'dok' is the HLL-merge
    # guarantee boolean (|est(merge of halves) − exact| ≤ 5%·exact+1)
    # — the sketch estimate itself is engine-internal, the approx-
    # family policy hashes the bound, not the sketch
    return core + """
    UNION ALL SELECT 'aggstate', l_returnflag, 'dexact',
           CAST(NULL AS VARCHAR),
           CAST(count(DISTINCT l_quantity) AS DOUBLE)
    FROM lineitem GROUP BY l_returnflag
    UNION ALL SELECT 'aggstate', l_returnflag, 'dok',
           CAST(NULL AS VARCHAR), 1.0
    FROM (SELECT DISTINCT l_returnflag FROM lineitem)"""


def _qmerge_bksample_oracle_sql() -> str:
    """Twins for the round-11 mergeable-summary limbs.

    qmerge: exact percentile anchors (quantile_cont == Spark
    percentile, both linear interpolation, round 6) hashed verbatim;
    the KLL rank-error guarantee booleans assert 1.0 — the sketch
    estimate is engine-internal, the bound is the contract (the dok
    pattern).

    bksample: a FULL replay — the bottom-4-by-md5-priority rows per
    return flag over the unsplit table, length-prefixed preimage and
    48-bit priority recomputed in DuckDB. Spark merges two half-corpus
    bottom-k states; row equality is the merge law, bit-for-bit."""
    qm = """
    SELECT 'qmerge' AS which, l_returnflag AS grp, s.stat AS stat,
           CAST(NULL AS VARCHAR) AS sval,
           CASE s.stat
             WHEN 'q25ex' THEN round(q25, 6)
             WHEN 'q50ex' THEN round(q50, 6)
             WHEN 'q75ex' THEN round(q75, 6)
             ELSE 1.0 END AS nval
    FROM (
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.25) AS q25,
             quantile_cont(l_quantity, 0.50) AS q50,
             quantile_cont(l_quantity, 0.75) AS q75
      FROM lineitem GROUP BY l_returnflag
    ) q
    CROSS JOIN (VALUES ('q25ex'), ('qok25'), ('q50ex'), ('qok50'),
                       ('q75ex'), ('qok75')) s(stat)
    """
    bk = """
    SELECT 'bksample' AS which, l_returnflag AS grp,
           'bk' || CAST(rnk AS VARCHAR) AS stat, tb AS sval,
           CAST(pri AS DOUBLE) AS nval
    FROM (
      SELECT l_returnflag, tb,
             CAST(('0x' || substr(md5(tb), 1, 12)) AS BIGINT) AS pri,
             ROW_NUMBER() OVER (
               PARTITION BY l_returnflag
               ORDER BY CAST(('0x' || substr(md5(tb), 1, 12)) AS BIGINT),
                        tb
             ) AS rnk
      FROM (
        SELECT l_returnflag,
               CAST(length(CAST(l_orderkey AS VARCHAR)) AS VARCHAR)
                 || '|' || CAST(l_orderkey AS VARCHAR) || '|'
                 || CASE WHEN l_orderkey IS NULL THEN '1|' ELSE '0|' END
                 || CAST(length(CAST(l_linenumber AS VARCHAR)) AS VARCHAR)
                 || '|' || CAST(l_linenumber AS VARCHAR) || '|'
                 || CASE WHEN l_linenumber IS NULL THEN '1|' ELSE '0|' END
                 || CAST(length(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR))
                         AS VARCHAR)
                 || '|' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
                 || '|0|' AS tb
        FROM lineitem WHERE l_quantity IS NOT NULL
      )
    ) WHERE rnk <= 4
    """
    ov = """
    SELECT 'overlap' AS which, grp, s.stat AS stat,
           CAST(NULL AS VARCHAR) AS sval,
           CASE s.stat
             WHEN 'exa' THEN exa
             WHEN 'exb' THEN exb
             WHEN 'exint' THEN exint
             WHEN 'exunion' THEN exa + exb - exint
             ELSE 1.0 END AS nval
    FROM (
      SELECT CASE p WHEN 1 THEN 'src0|src1' WHEN 2 THEN 'src0|src2'
                    ELSE 'src1|src2' END AS grp,
             CASE p WHEN 3 THEN n1 ELSE n0 END AS exa,
             CASE p WHEN 1 THEN n1 ELSE n2 END AS exb,
             CASE p WHEN 1 THEN i01 WHEN 2 THEN i02 ELSE i12 END AS exint
      FROM (
        SELECT CAST(sum(f0) AS DOUBLE) AS n0, CAST(sum(f1) AS DOUBLE) AS n1,
               CAST(sum(f2) AS DOUBLE) AS n2,
               CAST(sum(f0 * f1) AS DOUBLE) AS i01,
               CAST(sum(f0 * f2) AS DOUBLE) AS i02,
               CAST(sum(f1 * f2) AS DOUBLE) AS i12
        FROM (
          SELECT w,
                 max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS f0,
                 max(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS f1,
                 max(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS f2
          FROM (
            SELECT DISTINCT source, w FROM (
              SELECT source,
                     unnest(list_filter(
                       string_split_regex(trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS w
              FROM documents
              WHERE source IN ('src0', 'src1', 'src2')
            )
          ) GROUP BY w
        )
      ) CROSS JOIN (VALUES (1), (2), (3)) pp(p)
    )
    CROSS JOIN (VALUES ('exa'), ('exb'), ('exint'), ('exunion'), ('ok'))
      s(stat)
    """
    # topkfold (round 12): FULL replay of the untruncated fold of two
    # half-corpus Misra-Gries leaf states (k_state=5, bound = the
    # 6th-ranked count per half) — folded top-3 values and the summed
    # group bound are deterministic integer arithmetic; the interval
    # law boolean asserts 1.0 (the fold makes it unconditionally
    # true — the dok pattern).
    tf = """
    SELECT 'topkfold' AS which, l_returnflag AS grp,
           'tf' || CAST(r AS VARCHAR) AS stat, CAST(v AS VARCHAR) AS sval,
           CAST(c AS DOUBLE) AS nval
    FROM (
      SELECT l_returnflag, v, sum(c) AS c,
             ROW_NUMBER() OVER (
               PARTITION BY l_returnflag ORDER BY sum(c) DESC, v ASC
             ) AS r
      FROM (
        SELECT half, l_returnflag, v, c,
               ROW_NUMBER() OVER (
                 PARTITION BY half, l_returnflag ORDER BY c DESC, v ASC
               ) AS rr
        FROM (
          SELECT l_orderkey % 2 AS half, l_returnflag,
                 CAST(l_quantity AS BIGINT) AS v, count(*) AS c
          FROM lineitem WHERE l_quantity IS NOT NULL
          GROUP BY 1, 2, 3
        )
      ) WHERE rr <= 5
      GROUP BY l_returnflag, v
    ) WHERE r <= 3
    UNION ALL
    SELECT 'topkfold', l_returnflag, s.stat, CAST(NULL AS VARCHAR),
           CASE s.stat WHEN 'tfb' THEN CAST(bound AS DOUBLE)
                       ELSE 1.0 END
    FROM (
      SELECT l_returnflag, sum(bound) AS bound FROM (
        SELECT half, l_returnflag,
               coalesce(max(CASE WHEN rr = 6 THEN c END), 0) AS bound
        FROM (
          SELECT half, l_returnflag, v, c,
                 ROW_NUMBER() OVER (
                   PARTITION BY half, l_returnflag ORDER BY c DESC, v ASC
                 ) AS rr
          FROM (
            SELECT l_orderkey % 2 AS half, l_returnflag,
                   CAST(l_quantity AS BIGINT) AS v, count(*) AS c
            FROM lineitem WHERE l_quantity IS NOT NULL
            GROUP BY 1, 2, 3
          )
        ) GROUP BY half, l_returnflag
      ) GROUP BY l_returnflag
    )
    CROSS JOIN (VALUES ('tfb'), ('tfok')) s(stat)
    """
    # topkmerge (round 13): FULL replay of the TRUNCATED hierarchy —
    # four quarter-corpus leaf states (k_state=5) fold pairwise into
    # two truncated regions (bound bumped by the first dropped count,
    # the fold's truncation rule), then merge_topk_states(leaf=False)
    # finalizes: est = sum of kept region counts per value, err = the
    # FULL group bound (sum of both regions' bounds — the folded-input
    # law, VERDICT r12 item 5). Hashed rows: merged top-3 (est desc,
    # v asc) per flag, the group err, and the two-sided interval law
    # est <= true <= est + err as a guarantee boolean (1.0 literal —
    # the dok pattern; leaf=False makes it unconditional on folded
    # inputs, which is exactly the property the limb exists to pin).
    tm = """
    SELECT 'topkmerge' AS which, l_returnflag AS grp,
           'tm' || CAST(r AS VARCHAR) AS stat, CAST(v AS VARCHAR) AS sval,
           CAST(est AS DOUBLE) AS nval
    FROM (
      SELECT l_returnflag, v, est,
             ROW_NUMBER() OVER (
               PARTITION BY l_returnflag ORDER BY est DESC, v ASC
             ) AS r
      FROM (
        SELECT l_returnflag, v, sum(c) AS est FROM (
          SELECT rg, l_returnflag, v, c,
                 ROW_NUMBER() OVER (
                   PARTITION BY rg, l_returnflag ORDER BY c DESC, v ASC
                 ) AS rr
          FROM (
            SELECT q // 2 AS rg, l_returnflag, v, sum(c) AS c FROM (
              SELECT q, l_returnflag, v, c,
                     ROW_NUMBER() OVER (
                       PARTITION BY q, l_returnflag ORDER BY c DESC, v ASC
                     ) AS rr
              FROM (
                SELECT l_orderkey % 4 AS q, l_returnflag,
                       CAST(l_quantity AS BIGINT) AS v, count(*) AS c
                FROM lineitem WHERE l_quantity IS NOT NULL
                GROUP BY 1, 2, 3
              )
            ) WHERE rr <= 5 GROUP BY 1, 2, 3
          )
        ) WHERE rr <= 5 GROUP BY l_returnflag, v
      )
    ) WHERE r <= 3
    UNION ALL
    SELECT 'topkmerge', l_returnflag, s.stat, CAST(NULL AS VARCHAR),
           CASE s.stat WHEN 'tmerr' THEN CAST(err AS DOUBLE) ELSE 1.0 END
    FROM (
      SELECT l_returnflag, sum(B) AS err FROM (
        SELECT fb.rg, fb.l_returnflag,
               fb.B0 + coalesce(max(CASE WHEN fr.rr = 6 THEN fr.c END), 0)
               AS B
        FROM (
          SELECT q // 2 AS rg, l_returnflag, sum(b) AS B0 FROM (
            SELECT q, l_returnflag,
                   coalesce(max(CASE WHEN rr = 6 THEN c END), 0) AS b
            FROM (
              SELECT q, l_returnflag, v, c,
                     ROW_NUMBER() OVER (
                       PARTITION BY q, l_returnflag ORDER BY c DESC, v ASC
                     ) AS rr
              FROM (
                SELECT l_orderkey % 4 AS q, l_returnflag,
                       CAST(l_quantity AS BIGINT) AS v, count(*) AS c
                FROM lineitem WHERE l_quantity IS NOT NULL
                GROUP BY 1, 2, 3
              )
            ) GROUP BY q, l_returnflag
          ) GROUP BY 1, 2
        ) fb LEFT JOIN (
          SELECT rg, l_returnflag, v, c,
                 ROW_NUMBER() OVER (
                   PARTITION BY rg, l_returnflag ORDER BY c DESC, v ASC
                 ) AS rr
          FROM (
            SELECT q // 2 AS rg, l_returnflag, v, sum(c) AS c FROM (
              SELECT q, l_returnflag, v, c,
                     ROW_NUMBER() OVER (
                       PARTITION BY q, l_returnflag ORDER BY c DESC, v ASC
                     ) AS rr
              FROM (
                SELECT l_orderkey % 4 AS q, l_returnflag,
                       CAST(l_quantity AS BIGINT) AS v, count(*) AS c
                FROM lineitem WHERE l_quantity IS NOT NULL
                GROUP BY 1, 2, 3
              )
            ) WHERE rr <= 5 GROUP BY 1, 2, 3
          )
        ) fr ON fr.rg = fb.rg AND fr.l_returnflag = fb.l_returnflag
        GROUP BY fb.rg, fb.l_returnflag, fb.B0
      ) GROUP BY l_returnflag
    )
    CROSS JOIN (VALUES ('tmerr'), ('tmok')) s(stat)
    """
    return (
        qm + "\n    UNION ALL " + bk + "\n    UNION ALL " + ov
        + "\n    UNION ALL " + tf + "\n    UNION ALL " + tm
    )


# bm25 limb query terms (round 10): drawn from the synthetic corpus
# vocabulary with a real idf spread — 'dup' is rare (~6% of docs),
# 'scan'/'vector' are near-ubiquitous — plus one absent term pinning
# the no-phantom-idf contract (absent terms generate no match rows,
# never a smoothed ghost contribution). The DuckDB twin embeds the
# same list.
_BM25_TERMS = ("dup", "scan", "vector", "nosuchterm")


@query(
    "stats_suite",
    f"""
    WITH btk AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    btot AS (
      SELECT count(*) AS n, avg(len(tk)) AS avgdl FROM btk
    ),
    btf AS (
      SELECT doc_id, dl, w, count(*) AS tf FROM (
        SELECT doc_id, len(tk) AS dl, unnest(tk) AS w FROM btk
      ) WHERE w IN ({", ".join("'" + t + "'" for t in _BM25_TERMS)})
      GROUP BY doc_id, dl, w
    ),
    bdf AS (SELECT w, count(*) AS df FROM btf GROUP BY w),
    bsc AS (
      SELECT btf.doc_id, CAST(count(*) AS INT) AS nt,
             round(sum(
               ln(1 + (btot.n - bdf.df + 0.5) / (bdf.df + 0.5))
               * (btf.tf * 2.2)
               / (btf.tf + 1.2 * (0.25 + 0.75 * btf.dl / btot.avgdl))
             ), 6) AS score
      FROM btf JOIN bdf USING (w), btot
      GROUP BY btf.doc_id
    ),
    mm AS (
      SELECT strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
             strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship,
             min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
             count(*) AS n, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM lineitem
    ),
    st AS (
      SELECT l_returnflag,
             round(CAST(stddev_samp(l_quantity) AS DOUBLE), 4) AS sd_qty,
             round(CAST(var_samp(l_discount) AS DOUBLE), 6) AS var_disc,
             round(CAST(corr(l_quantity, l_extendedprice) AS DOUBLE), 5) AS corr_qty_price,
             round(CAST(covar_samp(l_quantity, l_discount) AS DOUBLE), 5) AS cov_qty_disc
      FROM lineitem GROUP BY l_returnflag
    ),
    qt AS (
      SELECT event_type,
             round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS median_value,
             round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS p90_value
      FROM events GROUP BY event_type
    ),
    dsx AS (
      SELECT CASE WHEN len(b.tk) >= 2 THEN 2 * len(b.tk) - 1
                  ELSE len(b.tk) END AS n_grams
      FROM btk b JOIN documents d USING (doc_id)
      WHERE d.source <> 'src0' AND len(b.tk) >= 1
    )
    SELECT 'minmax' AS which, 'all' AS grp, 'min_ship' AS stat,
           min_ship AS sval, CAST(NULL AS DOUBLE) AS nval FROM mm
    UNION ALL SELECT 'minmax', 'all', 'max_ship', max_ship, CAST(NULL AS DOUBLE) FROM mm
    UNION ALL SELECT 'minmax', 'all', 'min_price', CAST(NULL AS VARCHAR),
                     CAST(min_price AS DOUBLE) FROM mm
    UNION ALL SELECT 'minmax', 'all', 'max_price', CAST(NULL AS VARCHAR),
                     CAST(max_price AS DOUBLE) FROM mm
    UNION ALL SELECT 'minmax', 'all', 'n', CAST(NULL AS VARCHAR),
                     CAST(n AS DOUBLE) FROM mm
    UNION ALL SELECT 'minmax', 'all', 'n_orders', CAST(NULL AS VARCHAR),
                     CAST(n_orders AS DOUBLE) FROM mm
    UNION ALL SELECT 'stats', l_returnflag, 'sd_qty', CAST(NULL AS VARCHAR), sd_qty FROM st
    UNION ALL SELECT 'stats', l_returnflag, 'var_disc', CAST(NULL AS VARCHAR), var_disc FROM st
    UNION ALL SELECT 'stats', l_returnflag, 'corr_qty_price', CAST(NULL AS VARCHAR),
                     corr_qty_price FROM st
    UNION ALL SELECT 'stats', l_returnflag, 'cov_qty_disc', CAST(NULL AS VARCHAR),
                     cov_qty_disc FROM st
    UNION ALL SELECT 'quantile', event_type, 'median_value', CAST(NULL AS VARCHAR),
                     median_value FROM qt
    UNION ALL SELECT 'quantile', event_type, 'p90_value', CAST(NULL AS VARCHAR),
                     p90_value FROM qt
    UNION ALL SELECT 'hll', c, 'distinct_ok', CAST(NULL AS VARCHAR), 1.0
    FROM (VALUES ('doc_id'), ('n_chars'), ('lang'), ('source')) t(c)
    UNION ALL SELECT 'lm_ap', CAST(d AS VARCHAR), 'pop_ok',
                     CAST(NULL AS VARCHAR), 1.0
    FROM (SELECT unnest(range(1, 11)) AS d)
    UNION ALL SELECT 'lm_ap', 'all', 'viol', CAST(NULL AS VARCHAR), 0.0
    UNION ALL SELECT 'lm_ap', 'all', 'n_docs', CAST(NULL AS VARCHAR),
           (SELECT CAST(count(*) AS DOUBLE) FROM documents
            WHERE doc_id < """ + str(_LM_AP_SLICE_CAP) + """
              AND len(list_filter(string_split_regex(trim(lower(text)),
                  '\\s+'), x -> x <> '')) > 0)
    UNION ALL SELECT 'bm25', CAST(doc_id AS VARCHAR), 'score',
                     CAST(nt AS VARCHAR), score
    FROM bsc
    UNION ALL SELECT 'dsir_xxh', 'all', 'agreement_ok',
                     CAST(NULL AS VARCHAR), 1.0
    UNION ALL SELECT 'dsir_xxh', 'all', 'gram_mass',
                     CAST(NULL AS VARCHAR), CAST(sum(n_grams) AS DOUBLE)
    FROM dsx
    UNION ALL SELECT 'dsir_xxh', 'all', 'lam_ok',
                     CAST(NULL AS VARCHAR), 1.0
    UNION ALL SELECT 'dsir_xxh', 'all', 'n_scored',
                     CAST(NULL AS VARCHAR), CAST(count(*) AS DOUBLE)
    FROM dsx
    UNION ALL SELECT 'dsir_xxh', 'all', 'n_selected', CAST(NULL AS VARCHAR),
                     CAST(least(100, count(*)) AS DOUBLE)
    FROM dsx
    UNION ALL """
    + _profile_oracle_sql()
    + """
    UNION ALL """
    + _aggstate_oracle_sql()
    + """
    UNION ALL """
    + _qmerge_bksample_oracle_sql()
    + """
    UNION ALL """
    + _manifest_oracle_sql()
    + """
    UNION ALL """
    + _blend_oracle_sql(),
)
def q_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics suite, melted to (which, grp, stat, sval, nval) rows
    (merged ``minmax_stats`` / ``stats_aggregates`` / ``exact_median``):

    - ``minmax`` — A10 min/max + A7 distinct count in one global
      aggregate over lineitem;
    - ``stats`` — stddev/variance/correlation/covariance per return
      flag (absent from the reference, free in Spark; both engines use
      the same sample definitions);
    - ``quantile`` — exact interpolated median/p90 per event type:
      Spark ``percentile`` == DuckDB ``quantile_cont`` (both linear
      interpolation); the approx variant exists in the API but has no
      cross-engine oracle, so the exact form is the one verified.

    Each sub-result melts via ``stack`` (one generator per select) —
    the aggregates themselves run once, not once per melted row.

    - ``profile`` (round 8) — the one-pass column profiler
      (operators/profile.py::profile_columns) over four documents
      columns: n / n_null / n_distinct / min / max (+ mean for
      numerics) in ONE aggregate, melted from the single aggregated
      row. Exact distincts here (oracle-able); the 100 TB wide-profile
      path flips ``exact_distinct=False`` for HLL++ sketches with no
      Expand (pinned in test_profile.py).
    - ``aggstate`` (round 8) — mergeable aggregate state
      (operators/aggstate.py): the Spark side builds per-returnflag
      states over the two l_orderkey-parity HALVES of lineitem and
      MERGES them; the oracle aggregates the unsplit table directly.
      Hash equality is the cross-engine proof of the merge law
      state(A) ⊎ state(B) == state(A ∪ B) — exact decimal sums make
      it hold bit-for-bit, the mechanism that lets a monthly corpus
      refresh update statistics without rescanning 100 TB.
    - ``manifest`` (round 8) - the per-language dataset manifest
      (operators/profile.py::dataset_manifest): counts, characters,
      and the order-free additive mod-2^48 md5-prefix checksum that
      pins a release's contents as a multiset on any engine or
      partitioning; additivity across shards pinned in test_profile.
    - ``blend`` (round 8) - quantile-normalize-and-blend
      (operators/textstats.py::blend_scores): heterogeneous quality
      signals calibrated onto one [0,1] quantile scale and averaged
      (the FineWeb-style multi-signal blend). One exact percentile
      agg -> broadcast literal edges -> row-local strict-> bucket
      fold; here over two exact integer signals so the oracle
      replays edges, buckets, and the rounded average bit-for-bit.
    - ``qmerge`` (round 11) - mergeable QUANTILE state
      (operators/aggstate.py::quantile_state): per-half KLL sketches
      sharing one (__half, key) grouped sketch pass with the HLL
      family (sketch_state), merged across halves; hashed rows are the
      exact percentile anchors (Spark percentile == DuckDB
      quantile_cont) and the merged sketch's rank-error guarantee
      booleans (±0.05 normalized rank, two-sided under ties).
    - ``bksample`` (round 11) - mergeable UNIFORM-SAMPLE state
      (operators/aggstate.py::sample_state): bottom-4-by-md5-priority
      per return flag, built per half and merged. Deterministic by
      construction, so the oracle replays the merged sample verbatim
      over the unsplit table - row equality IS the merge law
      bottomk(A) ⊎ bottomk(B) == bottomk(A ∪ B), cross-engine.
    - ``overlap`` (round 11) - theta-sketch corpus-overlap audit
      (operators/overlap.py): pairwise distinct-token overlap between
      three document sources from per-source sketches, NO cross-
      source corpus join. Hashed: exact anchors (per-source distinct
      tokens, pairwise intersections, unions - both engines derive
      them from the same distinct (source, token) table) plus a
      per-pair guarantee boolean (all four estimates within
      5%·|union|+3; theta error is union-relative by its published
      model). The set-operable sketch is what HLL cannot be - the
      audit HLL distinct counting can't answer.
    - ``dsir_xxh`` (round 14; VERDICT r13 item 3) - the DSIR
      production fast path (hasher="xxhash64") run end-to-end and
      pinned by hash-family-agnostic invariants (selection size,
      scored-doc count, total gram mass recomputed from text, λ-table
      structure, ≥k/2 overlap with the md5-space selection) — see
      queries_documents.dsir_xxh_limb for why each is
      DuckDB-checkable without replaying xxhash64.
    """
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")

    mm = li.agg(
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_ship"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )
    mm_melt = mm.select(
        F.lit("minmax").alias("which"), F.lit("all").alias("grp"),
        F.expr(
            "stack(6,"
            " 'min_ship', min_ship, CAST(NULL AS DOUBLE),"
            " 'max_ship', max_ship, CAST(NULL AS DOUBLE),"
            " 'min_price', CAST(NULL AS STRING), CAST(min_price AS DOUBLE),"
            " 'max_price', CAST(NULL AS STRING), CAST(max_price AS DOUBLE),"
            " 'n', CAST(NULL AS STRING), CAST(n AS DOUBLE),"
            " 'n_orders', CAST(NULL AS STRING), CAST(n_orders AS DOUBLE)"
            ") AS (stat, sval, nval)"
        ),
    )

    st = li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 5).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 5).alias("cov_qty_disc"),
    )
    st_melt = st.select(
        F.lit("stats").alias("which"), F.col("l_returnflag").alias("grp"),
        F.expr(
            "stack(4,"
            " 'sd_qty', CAST(NULL AS STRING), sd_qty,"
            " 'var_disc', CAST(NULL AS STRING), var_disc,"
            " 'corr_qty_price', CAST(NULL AS STRING), corr_qty_price,"
            " 'cov_qty_disc', CAST(NULL AS STRING), cov_qty_disc"
            ") AS (stat, sval, nval)"
        ),
    )

    qt = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90_value"),
    )
    qt_melt = qt.select(
        F.lit("quantile").alias("which"), F.col("event_type").alias("grp"),
        F.expr(
            "stack(2,"
            " 'median_value', CAST(NULL AS STRING), median_value,"
            " 'p90_value', CAST(NULL AS STRING), p90_value"
            ") AS (stat, sval, nval)"
        ),
    )
    from .operators.profile import profile_columns

    _pcols = ["doc_id", "n_chars", "lang", "source"]
    prof = profile_columns(_t(spark, sf_dir, "documents"), _pcols).select(
        F.lit("profile").alias("which"),
        F.col("column").alias("grp"),
        "stat", "sval", "nval",
    )
    # hll limb (VERDICT r8 item 5, the CMS anchor+guarantee policy):
    # the profiler's corpus-scale HLL path (exact_distinct=False) gets
    # an oracle pin — per column, the HLL++ estimate must sit within
    # 3x its rsd (3 * 0.05) of the exact distinct count, a >=3-sigma
    # bound. Sketch values differ per engine, so the hashed value is
    # the GUARANTEE boolean (oracle emits 1.0); the exact anchors are
    # the 'profile' limb's own n_distinct rows in the same union.
    # exact anchors come from the prof frame already built above — a
    # second profile_columns call would duplicate the full-corpus
    # profiling aggregate in the plan (review finding, round 9)
    pe = prof.filter(F.col("stat") == "n_distinct").select(
        "grp", F.col("nval").alias("ex")
    )
    pa = (
        profile_columns(
            _t(spark, sf_dir, "documents"), _pcols, exact_distinct=False
        )
        .filter(F.col("stat") == "n_distinct")
        .select(F.col("column").alias("grp"), F.col("nval").alias("ap"))
    )
    hll = pe.join(pa, "grp").select(
        F.lit("hll").alias("which"), "grp",
        F.lit("distinct_ok").alias("stat"),
        F.lit(None).cast("string").alias("sval"),
        F.when(
            F.abs(F.col("ap") - F.col("ex")) / F.col("ex") <= 0.15, 1.0
        ).otherwise(0.0).alias("nval"),
    )
    # lm_ap limb (VERDICT r8 item 5): the approx_percentile decile
    # assignment path (nll_deciles exact=False) oracle-pinned by
    # GUARANTEES, not sketch values — per decile 1..10 the approx
    # population sits within 5%·n+3 of n/10 (FULL corpus, zero
    # windows), and zero documents with a UNIQUE d_nll move more than
    # one decile vs exact (tie runs are excluded: ntile splits them by
    # doc_id across a boundary, which value-bucketing cannot replay —
    # the pytest pins the same rule). The exact-ntile anchor for that
    # second guarantee runs on the capped deterministic slice
    # doc_id < _LM_AP_SLICE_CAP (VERDICT r9 item 5): queries() no
    # longer reaches a corpus-sized global sort through any path — the
    # one remaining exact ntile sorts at most CAP rows at any corpus
    # size, and the guarantee keeps its meaning on the slice (exact
    # vs approx over the SAME slice population).
    # Lives HERE beside the hll/dok/depth_ap guarantee limbs rather
    # than in tfidf_lm_suite: stats_suite is not a bench headline row,
    # so the guarantee work doesn't change what the tfidf headline has
    # measured since round 6 (the limb briefly lived there and moved
    # the sf1 row 1.8→3.6 s — real added work, wrong place to charge
    # it). The lazy localCheckpoint computes the NLL lineage once per
    # job across the full-corpus and slice consumers.
    from .operators.textstats import nll_deciles, unigram_lm_nll

    nll_s = unigram_lm_nll(
        _t(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False)
    ap_s = nll_deciles(
        nll_s, exact=False, materialize_edges=False
    ).withColumnsRenamed({"decile": "d_ap"})
    sl = nll_s.filter(F.col("doc_id") < _LM_AP_SLICE_CAP)
    dec_sl = nll_deciles(sl, exact=True).withColumnRenamed(
        "decile", "d_ex"
    )
    both_sl = nll_deciles(
        dec_sl, exact=False, materialize_edges=False
    ).withColumnsRenamed({"decile": "d_ap"}).withColumn(
        "__vc", F.count(F.lit(1)).over(W.partitionBy("d_nll"))
    )
    lm_pop = (
        ap_s.groupBy("d_ap").agg(F.count(F.lit(1)).alias("pop"))
        .withColumn("__n", F.sum("pop").over(W.partitionBy()))
        .select(
            F.lit("lm_ap").alias("which"),
            F.col("d_ap").cast("string").alias("grp"),
            F.lit("pop_ok").alias("stat"),
            F.lit(None).cast("string").alias("sval"),
            (
                F.abs(F.col("pop") - F.col("__n") / 10.0)
                <= F.col("__n") * 0.05 + 3
            ).cast("double").alias("nval"),
        )
    )
    lm_agg = both_sl.agg(
        F.sum(
            (
                (F.col("__vc") == 1)
                & (F.abs(F.col("d_ex") - F.col("d_ap")) > 1)
            ).cast("long")
        ).alias("n_viol"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    lm_rows2 = lm_agg.select(
        F.lit("lm_ap").alias("which"), F.lit("all").alias("grp"),
        F.expr(
            "stack(2,"
            " 'viol', CAST(NULL AS STRING), CAST(n_viol AS DOUBLE),"
            " 'n_docs', CAST(NULL AS STRING), CAST(n_docs AS DOUBLE)"
            ") AS (stat, sval, nval)"
        ),
    )
    from .operators.aggstate import (
        agg_state,
        finalize_distinct,
        finalize_quantiles,
        finalize_state,
        merge_agg_states,
        merge_sample_states,
        sample_state,
    )

    # The half-corpus states build in ONE grouped pass per aggregate
    # path, keyed by (__half, l_returnflag) — the production
    # state-table shape (snapshots as a key column of one table) —
    # and the merge then groups by l_returnflag alone. The shipped
    # split is the MEASURED winner of the four-variant A/B
    # (scripts/bench_aggstate_ab.py, identical output md5-checked;
    # SCALE.md "aggstate limb A/B"): the exact family keeps its
    # whole-stage-codegen HashAggregate, and the HLL+KLL sketches
    # share ONE ObjectHashAggregate pass (they were never codegen, so
    # their fusion is free). Folding the exact sums into the sketch
    # aggregate too (full_state) drags them onto the interpreted
    # object path — measured SLOWER than the scans it saves in every
    # regime tried. The sketch state is lazily pinned: the distinct
    # and quantile limb families both read it.
    tagged = li.withColumn("__half", F.col("l_orderkey") % 2)
    from .operators.aggstate import merge_sketch_states, sketch_state

    fin = finalize_state(
        merge_agg_states(
            ["l_returnflag"],
            agg_state(tagged, ["__half", "l_returnflag"], "l_quantity"),
        )
    )
    sk = merge_sketch_states(
        ["l_returnflag"],
        sketch_state(tagged, ["__half", "l_returnflag"], "l_quantity"),
    ).localCheckpoint(eager=False)
    agl = fin.select(
        F.lit("aggstate").alias("which"),
        F.col("l_returnflag").alias("grp"),
        F.expr(
            "stack(6,"
            " 'n', CAST(NULL AS STRING), CAST(n AS DOUBLE),"
            " 'sum', CAST(NULL AS STRING), CAST(s AS DOUBLE),"
            " 'min', CAST(NULL AS STRING), CAST(mn AS DOUBLE),"
            " 'max', CAST(NULL AS STRING), CAST(mx AS DOUBLE),"
            " 'mean', CAST(NULL AS STRING), round(mean, 6),"
            " 'var', CAST(NULL AS STRING), round(var, 6)"
            ") AS (stat, sval, nval)"
        ),
    )
    # distinct-state rows (round 9): Spark merges two half-corpus HLL
    # sketches (operators/aggstate.py::distinct_state — the mergeable
    # n_distinct that exact countDistinct can't be), the exact anchor
    # is one direct countDistinct on the unsplit frame, and the hashed
    # value is the 5% guarantee boolean — so the limb proves the HLL
    # merge law cross-engine without hashing sketch internals.
    dfin = finalize_distinct(sk)
    dex = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_quantity").alias("dex")
    )
    dagl = dfin.join(F.broadcast(dex), "l_returnflag").select(
        F.lit("aggstate").alias("which"),
        F.col("l_returnflag").alias("grp"),
        F.expr(
            "stack(2,"
            " 'dexact', CAST(NULL AS STRING), CAST(dex AS DOUBLE),"
            " 'dok', CAST(NULL AS STRING),"
            "  CAST(CASE WHEN abs(CAST(n_distinct_est AS DOUBLE) - dex)"
            "            <= 0.05 * dex + 1 THEN 1.0 ELSE 0.0 END AS DOUBLE)"
            ") AS (stat, sval, nval)"
        ),
    )
    agl = agl.unionByName(dagl)
    # qmerge limb (round 11): MERGEABLE QUANTILE state — KLL sketches
    # per (__half, l_returnflag) merged across the halves (the fourth
    # mergeable-summary leg, sharing the fused sketch_state pass
    # above). The approx-family policy: the hashed rows are the
    # EXACT percentile anchors (Spark percentile == DuckDB
    # quantile_cont, both linear-interpolated, round 6) plus per-
    # quantile rank-error GUARANTEE booleans — the merged sketch's
    # estimate must sit within ±0.05 normalized rank of the target
    # (3x the published ~1.65% bound at k=200), checked two-sided
    # under ties: P(x < est) ≤ q+ε and P(x ≤ est) ≥ q−ε. The sketch
    # bits themselves are engine-internal and never hashed.
    _QS = (0.25, 0.5, 0.75)
    qfin = finalize_quantiles(sk, list(_QS))
    qex = li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile(l_quantity, array(0.25d, 0.5d, 0.75d))"
        ).alias("qe"),
        F.count("l_quantity").alias("nq"),
    )
    est = F.broadcast(
        qfin.select("l_returnflag", "q25", "q50", "q75")
    )
    rank_aggs = []
    for q in _QS:
        c = f"q{int(q * 100)}"
        rank_aggs += [
            (
                F.sum((F.col("l_quantity") < F.col(c)).cast("long"))
                / F.count("l_quantity")
            ).alias(f"rlt{int(q * 100)}"),
            (
                F.sum((F.col("l_quantity") <= F.col(c)).cast("long"))
                / F.count("l_quantity")
            ).alias(f"rle{int(q * 100)}"),
        ]
    ranks = li.join(est, "l_returnflag").groupBy("l_returnflag").agg(*rank_aggs)
    qok_exprs = []
    for q in _QS:
        p = int(q * 100)
        qok_exprs.append(
            f" 'q{p}ex', CAST(NULL AS STRING), round(qe[{_QS.index(q)}], 6),"
        )
        qok_exprs.append(
            f" 'qok{p}', CAST(NULL AS STRING),"
            f" CAST(CASE WHEN rlt{p} <= {q} + 0.05"
            f"        AND rle{p} >= {q} - 0.05"
            f"       THEN 1.0 ELSE 0.0 END AS DOUBLE),"
        )
    qml = qex.join(ranks, "l_returnflag").select(
        F.lit("qmerge").alias("which"),
        F.col("l_returnflag").alias("grp"),
        F.expr(
            "stack(6," + "".join(qok_exprs).rstrip(",")
            + ") AS (stat, sval, nval)"
        ),
    )
    agl = agl.unionByName(qml)
    # bksample limb (round 11): MERGEABLE UNIFORM-SAMPLE state — the
    # bottom-k sketch (operators/aggstate.py::sample_state, fifth
    # mergeable-summary leg). Unlike the sketch families this one is
    # DETERMINISTIC (priorities are content md5s), so the driver hash
    # covers the merged sample VERBATIM: the oracle replays the whole
    # priority ranking over the unsplit table — equality IS the merge
    # law bottomk(A) ⊎ bottomk(B) == bottomk(A ∪ B), cross-engine.
    # The value rides as a bigint (l_quantity is integral by TPC-H
    # construction) so the hash preimage renders identically in both
    # engines.
    bks = merge_sample_states(
        ["l_returnflag"],
        sample_state(
            tagged.withColumn("lqi", F.col("l_quantity").cast("long")),
            ["__half", "l_returnflag"],
            "lqi",
            ["l_orderkey", "l_linenumber"],
            k=4,
            hash_family="md5",  # the cross-engine-replayable family
        ),
        k=4,
    ).select(
        F.lit("bksample").alias("which"),
        F.col("l_returnflag").alias("grp"),
        F.concat(F.lit("bk"), F.col("rnk").cast("string")).alias("stat"),
        F.col("tb").alias("sval"),
        F.col("pri").cast("double").alias("nval"),
    )
    agl = agl.unionByName(bks)
    # topkfold limb (round 12): the RE-MERGEABLE heavy-hitter state
    # (operators/aggstate.py::fold_topk_states — the fold that closed
    # the family's last leg). Two half-corpus leaf states (k_state=5)
    # fold WITHOUT truncation, so the whole fold is deterministic
    # integer arithmetic both engines replay verbatim: hashed rows are
    # the folded top-3 values per flag (sum of leaf counts, ties to
    # the smaller value), the folded group bound (sum of the leaves'
    # first-dropped counts), and the Misra-Gries interval law as a
    # guarantee boolean — every kept v: c <= true <= c + bound, every
    # absent v: true <= bound — which the fold makes unconditionally
    # true (tfok == 1.0 is the oracle's literal, the dok pattern).
    from .operators.aggstate import fold_topk_states, topk_state

    lqi = tagged.withColumn("lqi", F.col("l_quantity").cast("long"))
    tkl = [
        topk_state(
            lqi.filter(F.col("__half") == h),
            ["l_returnflag"], "lqi", k_state=5,
        )
        for h in (0, 1)
    ]
    tkf = fold_topk_states(["l_returnflag"], *tkl).localCheckpoint(
        eager=False  # three consumers: top-3, bound row, law check
    )
    tglob = (
        li.filter(F.col("l_quantity").isNotNull())
        .groupBy(
            "l_returnflag", F.col("l_quantity").cast("long").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    fb = tkf.select("l_returnflag", "bound").distinct()
    chk = (
        tglob.join(
            tkf.select("l_returnflag", "v", F.col("c").alias("fc")),
            ["l_returnflag", "v"], "left",
        )
        .join(F.broadcast(fb), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.min(
                F.when(
                    F.col("fc").isNotNull(),
                    (
                        (F.col("fc") <= F.col("t"))
                        & (F.col("t") <= F.col("fc") + F.col("bound"))
                    ).cast("int"),
                ).otherwise((F.col("t") <= F.col("bound")).cast("int"))
            ).alias("okv")
        )
    )
    wtk = W.partitionBy("l_returnflag").orderBy(
        F.col("c").desc(), F.col("v").asc()
    )
    tf_top = (
        tkf.withColumn("r", F.row_number().over(wtk))
        .filter(F.col("r") <= 3)
        .select(
            F.lit("topkfold").alias("which"),
            F.col("l_returnflag").alias("grp"),
            F.concat(F.lit("tf"), F.col("r").cast("string")).alias("stat"),
            F.col("v").cast("string").alias("sval"),
            F.col("c").cast("double").alias("nval"),
        )
    )
    tf_meta = fb.join(chk, "l_returnflag").select(
        F.lit("topkfold").alias("which"),
        F.col("l_returnflag").alias("grp"),
        F.expr(
            "stack(2,"
            " 'tfb', CAST(NULL AS STRING), CAST(bound AS DOUBLE),"
            " 'tfok', CAST(NULL AS STRING), CAST(okv AS DOUBLE)"
            ") AS (stat, sval, nval)"
        ),
    )
    agl = agl.unionByName(tf_top).unionByName(tf_meta)
    # topkmerge limb (round 13; VERDICT r12 item 5): the TRUNCATED
    # hierarchy — four quarter leaves (k_state=5) fold pairwise into
    # two truncated regions, merge_topk_states(leaf=False) finalizes.
    # Deterministic integer arithmetic end-to-end, replayed verbatim
    # by the oracle; hashed rows are the merged top-3 per flag, the
    # group err (= Σ both regions' bounds — the full bound leaf=False
    # keeps), and the two-sided law est <= true <= est + err as a
    # guarantee boolean against the exact counts (leaf=False makes it
    # unconditional on folded inputs — the property this limb pins
    # cross-engine every round).
    from .operators.aggstate import merge_topk_states

    lqq = lqi.withColumn("__q", F.col("l_orderkey") % 4)
    qleaves = [
        topk_state(
            lqq.filter(F.col("__q") == qq),
            ["l_returnflag"], "lqi", k_state=5,
        )
        for qq in range(4)
    ]
    reg1 = fold_topk_states(["l_returnflag"], qleaves[0], qleaves[1],
                            k_state=5)
    reg2 = fold_topk_states(["l_returnflag"], qleaves[2], qleaves[3],
                            k_state=5)
    tkm = merge_topk_states(
        ["l_returnflag"], reg1, reg2, leaf=False, k=3
    ).localCheckpoint(eager=False)  # two consumers: top rows, law check
    tm_top = tkm.select(
        F.lit("topkmerge").alias("which"),
        F.col("l_returnflag").alias("grp"),
        F.concat(
            F.lit("tm"),
            F.row_number().over(
                W.partitionBy("l_returnflag")
                .orderBy(F.col("est").desc(), F.col("v").asc())
            ).cast("string"),
        ).alias("stat"),
        F.col("v").cast("string").alias("sval"),
        F.col("est").cast("double").alias("nval"),
    )
    merr = tkm.select("l_returnflag", "err").distinct()
    mchk = (
        tkm.join(
            tglob.withColumnRenamed("t", "__t"), ["l_returnflag", "v"]
        )
        .groupBy("l_returnflag")
        .agg(
            F.min(
                (
                    (F.col("est") <= F.col("__t"))
                    & (F.col("__t") <= F.col("est") + F.col("err"))
                ).cast("int")
            ).alias("okm")
        )
    )
    tm_meta = merr.join(mchk, "l_returnflag").select(
        F.lit("topkmerge").alias("which"),
        F.col("l_returnflag").alias("grp"),
        F.expr(
            "stack(2,"
            " 'tmerr', CAST(NULL AS STRING), CAST(err AS DOUBLE),"
            " 'tmok', CAST(NULL AS STRING), CAST(okm AS DOUBLE)"
            ") AS (stat, sval, nval)"
        ),
    )
    agl = agl.unionByName(tm_top).unionByName(tm_meta)
    # overlap limb (round 11): the theta-sketch corpus-overlap AUDIT
    # (operators/overlap.py) — pairwise distinct-token overlap between
    # three document sources, estimated from per-source sketches with
    # NO cross-source join of the corpora. Hashed rows: the exact
    # anchors (per-source distinct tokens, pairwise intersection,
    # union — both engines compute them from the same distinct
    # (source, token) table) plus one guarantee boolean per pair: all
    # four theta estimates within 5%·|union|+3 of their exacts (the
    # published error model is union-relative). Sketch bits never
    # hashed (approx-family policy).
    from .functions.text import tokens
    from .operators.overlap import overlap_matrix, theta_state

    _OV_SRC = ("src0", "src1", "src2")
    otoks = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("source").isin(*_OV_SRC))
        .select(
            "source",
            F.explode(tokens(F.lower(F.col("text")))).alias("w"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # two consumers: exacts + sketches
    )
    oflags = otoks.groupBy("w").agg(
        *[
            F.max((F.col("source") == s).cast("int")).alias(f"f{i}")
            for i, s in enumerate(_OV_SRC)
        ]
    )
    oex = oflags.agg(
        F.sum("f0").alias("n0"),
        F.sum("f1").alias("n1"),
        F.sum("f2").alias("n2"),
        F.sum(F.col("f0") * F.col("f1")).alias("i01"),
        F.sum(F.col("f0") * F.col("f2")).alias("i02"),
        F.sum(F.col("f1") * F.col("f2")).alias("i12"),
    )
    opairs = oex.select(
        F.expr(
            "stack(3,"
            " 'src0', 'src1', CAST(n0 AS DOUBLE), CAST(n1 AS DOUBLE),"
            "   CAST(i01 AS DOUBLE),"
            " 'src0', 'src2', CAST(n0 AS DOUBLE), CAST(n2 AS DOUBLE),"
            "   CAST(i02 AS DOUBLE),"
            " 'src1', 'src2', CAST(n1 AS DOUBLE), CAST(n2 AS DOUBLE),"
            "   CAST(i12 AS DOUBLE)"
            ") AS (a, b, exa, exb, exint)"
        )
    ).withColumn("exunion", F.col("exa") + F.col("exb") - F.col("exint"))
    omat = overlap_matrix(theta_state(otoks, ["source"], "w"), "source")
    otol = F.col("exunion") * 0.05 + 3
    ook = (
        (F.abs(F.col("est_a") - F.col("exa")) <= otol)
        & (F.abs(F.col("est_b") - F.col("exb")) <= otol)
        & (F.abs(F.col("est_union") - F.col("exunion")) <= otol)
        & (F.abs(F.col("est_inter") - F.col("exint")) <= otol)
    )
    ovl = (
        omat.join(F.broadcast(opairs), ["a", "b"])
        .withColumn("okv", ook.cast("double"))
        .select(
            F.lit("overlap").alias("which"),
            F.concat_ws("|", "a", "b").alias("grp"),
            F.expr(
                "stack(5,"
                " 'exa', CAST(NULL AS STRING), exa,"
                " 'exb', CAST(NULL AS STRING), exb,"
                " 'exint', CAST(NULL AS STRING), exint,"
                " 'exunion', CAST(NULL AS STRING), exunion,"
                " 'ok', CAST(NULL AS STRING), okv"
                ") AS (stat, sval, nval)"
            ),
        )
    )
    agl = agl.unionByName(ovl)
    from .operators.profile import dataset_manifest

    man = dataset_manifest(
        _t(spark, sf_dir, "documents"), "lang"
    ).select(
        F.lit("manifest").alias("which"),
        F.col("lang").alias("grp"),
        F.expr(
            "stack(3,"
            " 'n', CAST(NULL AS STRING), CAST(n_rows AS DOUBLE),"
            " 'chars', CAST(NULL AS STRING), CAST(n_chars AS DOUBLE),"
            " 'checksum', CAST(NULL AS STRING), CAST(checksum AS DOUBLE)"
            ") AS (stat, sval, nval)"
        ),
    )
    from .functions.text import token_count
    from .operators.textstats import blend_scores

    docs = _t(spark, sf_dir, "documents").withColumn(
        "__tok", token_count(F.col("text"))
    )
    bl = blend_scores(docs, ["n_chars", "__tok"], k=4).select(
        F.lit("blend").alias("which"),
        F.col("doc_id").cast("string").alias("grp"),
        F.lit("q").alias("stat"),
        F.lit(None).cast("string").alias("sval"),
        F.col("blend").alias("nval"),
    )
    # bm25 limb (round 10): Okapi BM25 of every document against a
    # fixed bag-of-terms query (operators/textstats.py::bm25_scores) —
    # the lexical retrieval scorer for fuzzy eval-decontamination
    # ranking and query-targeted selection. The twin recomputes the
    # whole thing (tf / df / dl / N / avgdl and the saturation
    # formula) from the same term list; n_terms_matched rides in sval
    # so matched-term count and score pin on one row per doc.
    from .operators.textstats import bm25_scores

    bm = bm25_scores(
        _t(spark, sf_dir, "documents"), list(_BM25_TERMS)
    ).select(
        F.lit("bm25").alias("which"),
        F.col("doc_id").cast("string").alias("grp"),
        F.lit("score").alias("stat"),
        F.col("n_terms_matched").cast("string").alias("sval"),
        F.col("score").alias("nval"),
    )
    # dsir_xxh limb (round 14; VERDICT r13 item 3): the DSIR
    # production fast path (hasher="xxhash64") exercised
    # driver-visibly via hash-family-agnostic invariants — see
    # queries_documents.dsir_xxh_limb. Function-level import:
    # queries_documents imports this module at load time.
    from .queries_documents import dsir_xxh_limb

    dsx = dsir_xxh_limb(spark, sf_dir)
    return (
        mm_melt.unionByName(st_melt).unionByName(qt_melt).unionByName(prof)
        .unionByName(hll).unionByName(lm_pop).unionByName(lm_rows2)
        .unionByName(agl).unionByName(man).unionByName(bl)
        .unionByName(bm).unionByName(dsx)
    )


@query(
    "rollup_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (absent from the reference; SURVEY §2.4)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "cube_counts",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


@query(
    "json_extract",
    """
    SELECT event_type,
           CAST(sum(TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS vsum_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (F15 modernized), two engine paths
    pinned against each other AND cross-engine:

    - ``sum_k``: the shared-regex extraction (engine-neutral string
      scan — the portable fallback).
    - ``vsum_k``: Spark 4's VARIANT path — ``try_parse_json`` into the
      binary variant encoding, typed access via ``try_variant_get`` (the plain
      ``variant_get`` THROWS on a type-mismatched value — not a usable
      dirty-data contract; caught by the miss-behavior test). This
      is the 100 TB shape for semi-structured columns: parse once into
      a binary-tree encoding, then O(field) typed access — not a regex
      rescan of the string per field. Malformed JSON yields NULL
      (try_parse_json), matching the regex path's miss behavior. The
      DuckDB twin extracts with its native JSON function, so the hash
      pins Spark's variant decoder against an independent JSON parser.
    """
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", '"k": ([0-9]+)', 1).try_cast("long")
    vk = F.try_variant_get(F.try_parse_json("props"), "$.k", "long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.sum(vk).alias("vsum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "pivot_status_by_year",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS year,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
    FROM orders GROUP BY 1
    """,
)
def q_pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) — Spark's pivot() vs conditional-sum SQL."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy(F.year("o_orderdate").alias("year"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return p.select(
        "year",
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_finished"),
        F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_pending"),
    )


@query(
    "events_hourly_window",
    """
    SELECT 'hourly' AS part,
           CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_s, event_type,
           count(*) AS n, round(CAST(sum(value) AS DOUBLE), 3) AS sum_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY hour_s, event_type
    UNION ALL
    SELECT 'by_type', CAST(NULL AS BIGINT), event_type,
           count(*), round(CAST(sum(value) AS DOUBLE), 3),
           CAST(count(DISTINCT user_id) AS BIGINT)
    FROM events GROUP BY event_type
    """,
)
def q_events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time window (batch twin of the streaming ingest,
    SURVEY §2.9) plus the per-type rollup (A12 counts per group,
    toctools.py:93-94 — merged here in round 6 to free one driver
    registry slot; tagged by `part`). One GROUPING SETS pass over one
    pruned scan (ts/event_type/value/user_id — props never read):
    measured 0.51 s vs 0.75 s for the two-aggregate union at sf0.1 —
    the single scan beats the Expand's wider shuffle, refuting this
    docstring's own earlier claim, which was written unmeasured.
    Epoch-aligned 1h tumbles equal date_trunc('hour'); the by_type
    limb is identified with grouping(h)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "h", F.date_trunc("hour", "ts")
    )
    return (
        ev.groupingSets([["h", "event_type"], ["event_type"]], "h", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value").cast("double"), 3).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
            # grouping() is only legal inside the aggregate list
            F.grouping("h").cast("int").alias("__g_h"),
        )
        .select(
            F.when(F.col("__g_h") == 1, F.lit("by_type"))
            .otherwise(F.lit("hourly")).alias("part"),
            F.unix_timestamp("h").alias("hour_s"),
            "event_type", "n", "sum_value", "n_users",
        )
    )


# -------------------------------------------------------------------------
# argo_atlas_pipeline oracle: the full interpolate→θ-join→weighted-mean→
# EAPE pipeline, brute-forced in DuckDB over a MATERIALIZED intermediate —
# split into its own module (atlas_oracle.py) once the generated SQL
# outgrew this registry.
# -------------------------------------------------------------------------

from . import atlas_oracle as _AO
from .atlas_oracle import (  # noqa: F401  (re-exported: __spark_entry__, tests)
    _atlas_pipeline_oracle_sql,
    _np_interp_sql,
    _specvol_poly_sql,
    ensure_atlas_oracle_parquet,
)


@query("argo_atlas_pipeline", _atlas_pipeline_oracle_sql())
def q_argo_atlas_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity pipeline end-to-end (SURVEY §3.1-3.3): synthetic
    raw profiles → summary gates → applyInArrow interpolation onto 64
    levels → materialized parquet intermediate → binned neighborhood
    join → kernel-weighted TS climatology (A1-A3) → one-pass R14 EAPE
    (A4: per cell, mean profile → isopycnal displacement → weighted
    mean in one cell-run kernel; reference atlas.py:152-191, 281-298).

    The interpolated profiles are written to a parquet temp-path and
    read back, so the DuckDB oracle (atlas_oracle.py) brute-forces the
    ENTIRE downstream pipeline over literally the same bytes — the
    spline kernel upstream of the materialization stays pinned by the
    golden/property tests in tests/test_argo_pipeline.py. Both EAPE
    algorithm variants are hashed: R14 (eape_l10, displacement against
    the local cell-mean curve) and T25 (eape_t25_l10, displacement
    against the global Lorenz profile via the gammat bisection —
    reference atlas.py:194-231)."""
    from .operators.atlas import clim_eape, clim_ts, make_grid, match_pairs
    from .operators.interpolation import interpolate_profiles
    from .sources.synthetic import make_raw

    # The materialization path must be visible to BOTH executors (Spark
    # write) and the driver-side DuckDB oracle. Under a non-local master
    # a tempdir default would scatter part-files across executor-local
    # disks and the readback would be silently wrong — fail loudly
    # instead unless the operator pointed ARGOSTATS_ATLAS_TMP at a
    # shared filesystem (round-5 verdict).
    if not spark.sparkContext.master.startswith("local") and not os.environ.get(
        "ARGOSTATS_ATLAS_TMP"
    ):
        raise RuntimeError(
            "argo_atlas_pipeline materializes its oracle intermediate at "
            f"{_AO._ATLAS_ORACLE_PARQUET!r}, a driver-local tempdir default; "
            f"on master {spark.sparkContext.master!r} executors would write "
            "to their own local disks and the readback would be wrong. Set "
            "ARGOSTATS_ATLAS_TMP to a shared filesystem path."
        )
    ensure_workers_can_import(spark)
    raw = make_raw(spark, n_wmos=6, profiles_per_wmo=8, seed=42)
    interpolate_profiles(raw).write.mode("overwrite").parquet(_AO._ATLAS_ORACLE_PARQUET)
    profiles = load_table(spark, _AO._ATLAS_ORACLE_PARQUET)
    # grid over the FULL bounding box of eligible profiles: WMOs scatter
    # globally, so a fixed-size box at (min lon, min lat) — one corner
    # from one WMO, the other from another — can contain zero profiles.
    # Cell count via ceil (not round) so the SQL twin is exact: Python's
    # round() is banker's at .5 and DuckDB's is half-away-from-zero.
    bounds = profiles.filter((F.col("FLAG") == 1) & (F.col("DATA_MODE") == 1)).agg(
        F.floor(F.min("LONGITUDE")).alias("lo_w"),
        F.ceil(F.max("LONGITUDE")).alias("lo_e"),
        F.floor(F.min("LATITUDE")).alias("la_s"),
        F.ceil(F.max("LATITUDE")).alias("la_n"),
    ).first()
    nlon = int(math.ceil((bounds.lo_e + 2 - bounds.lo_w) / 2.0))
    nlat = int(math.ceil((bounds.la_n + 2 - bounds.la_s) / 2.0))
    grid = make_grid(
        spark,
        (float(bounds.lo_w), float(bounds.lo_w) + 2.0 * nlon,
         float(bounds.la_s), float(bounds.la_s) + 2.0 * nlat),
        reso_deg=2.0,
    )
    # the pair set feeds the TS call and both EAPE calls (SURVEY
    # §7.4.2) — materialize it so each reuses, not recomputes, the
    # neighborhood join. localCheckpoint (not persist): a query builder
    # cannot unpersist after its caller collects, and CacheManager pins
    # persisted relations for the session — checkpointed RDDs are freed
    # by the ContextCleaner once unreferenced (round-5 review). Each
    # EAPE call derives its cell means in its own one-pass kernel.
    pairs = match_pairs(grid, profiles, reso_deg=2.0, smoothing_factor=4.0
                        ).localCheckpoint(eager=True)
    ts = clim_ts(grid, profiles, reso_deg=2.0, smoothing_factor=4.0, pairs=pairs)
    eape = clim_eape(
        grid, profiles, reso_deg=2.0, smoothing_factor=4.0, pairs=pairs
    )
    eape_t25 = clim_eape(
        grid, profiles, reso_deg=2.0, smoothing_factor=4.0, pairs=pairs,
        algo="T25",
    )
    out = (
        ts.join(eape.select("glon", "glat", "EAPE"), on=["glon", "glat"])
        .join(
            eape_t25.select("glon", "glat", F.col("EAPE").alias("EAPE_T25")),
            on=["glon", "glat"],
        )
    )
    return out.select(
        "glon", "glat",
        F.col("n_points").cast("long").alias("n_points"),
        F.round(F.element_at("CT", 10).cast("double"), 4).alias("ct_l10"),
        F.round(F.element_at("SR", 10).cast("double"), 4).alias("sr_l10"),
        F.round(F.element_at("EAPE", 10).cast("double"), 4).alias("eape_l10"),
        F.round(F.element_at("EAPE_T25", 10).cast("double"), 4).alias("eape_t25_l10"),
    )




# Document / embedding family (text, dedup, similarity, sampling):
# registered on import, same QUERIES/ORACLES registry.
from . import queries_documents  # noqa: E402,F401
