"""Declared queries for the temporal join operators (operators/temporal.py).

The as-of oracle uses DuckDB's native ``ASOF JOIN`` — an independent
implementation of the same semantics, which is exactly what makes it a good
differential test for our union+last_value formulation.

All times go through integer epoch seconds (see events_queries timestamp
parity note).

- **gap fill + linear interpolation** (``events_gap_fill_interpolate``):
  per-user daily calendar densification (``sequence`` explode bounded by
  each user's observed span) with IGNORE NULLS window walls and a frozen
  IEEE interpolation formula over integer-micros inputs — the
  time-series resample every metrics pipeline needs. Shuffle is one
  (user, day) aggregate plus one window over the densified frame.

- **band join via time-grid blocking** (``events_band_join_grid``):
  pairs of same-user events within a ±5-minute band (errors near
  purchases — the incident-correlation shape). The naive spelling joins
  on user and filters |Δt| ≤ band, fanning out per-user errors x
  purchases; the scale spelling BLOCKS on the 5-minute time grid — each
  error row fans to its bucket and both neighbors (a bounded x3
  projection), the join keys on (user, bucket) so a pair is probed only
  if it can possibly be in band, and each in-band pair matches EXACTLY
  once (the purchase's bucket is always in the error's 3-bucket set).
  Same blocking discipline as the LSH band join and the fuzzy-match
  blocking key (SCALING §2); the DuckDB oracle is the naive inequality
  join, so the gate proves the blocked form loses nothing.

- **seasonal decomposition** (``events_seasonal_decompose``): the classic
  additive trend/seasonal/remainder split of a daily metric — centered
  7-row moving-average trend, day-of-week seasonal means of the detrended
  series, remainder as what's left. The monitoring shape behind "is this
  drop a weekend or an incident".

  Cross-engine determinism is engineered, not hoped for: daily values
  become integer ten-thousandths (one frozen floor(x·1e4+0.5) per row,
  then BIGINT sums — order-independent), the trend is carried as the
  integer 7-day SUM, and the detrended series is the exact integer
  ``7·v − trend_sum`` (scaling by 7 instead of dividing keeps every
  aggregate integer). The only float ops are one fixed division chain per
  OUTPUT cell — identical expressions in Spark and DuckDB, so the gate
  hashes exactly. Day-of-week is ``epoch_days mod 7`` (calendar-function
  conventions differ between engines; arithmetic doesn't).

  Scale: the windows run over the DAILY AGGREGATE, whose row count is
  bounded by the calendar (~36.5k rows per century) however large the
  event table is — the unpartitioned ordered window is a deliberate,
  bounded single-task step on sketch-sized data, same discipline as the
  ranking operators' bounded driver stages. The trend frame is the 7
  neighboring OBSERVED days (rows, not calendar positions); compose with
  ``orders_daily_gapfill`` first when the series has holes.

- **revenue drawdown** (``orders_revenue_drawdown``): running peak of the
  cumulative daily revenue and the gap below it — the composition of two
  window extrema (cumsum, then running max) that finance calls drawdown
  and SRE calls "how far below high-water mark". Integer micros
  throughout; the windows run over the calendar-bounded daily aggregate.

- **CUSUM changepoint** (``events_changepoint_cusum``): cumulative-sum
  deviation statistic over the daily value series. Scaling by the day
  count n keeps it EXACT: S'_t = n·cumsum_t − t·total is a BIGINT
  (= n·Σ_{i<=t}(v_i − mean)), so the classic max-|CUSUM| changepoint
  estimator hash-gates with zero float ops.

- **daily autocorrelation** (``events_acf_daily``): lag-1..7
  autocorrelation of the daily value series — the seasonality detector
  (a weekly cycle shows as an ACF spike at lag 7). Centered cross
  products are kept EXACT by n-scaling (dev_t = n·v_t − total, a
  BIGINT; products/sums carried in DECIMAL(38,0) on Spark and HUGEINT
  on DuckDB — both exact integer arithmetic), so each ACF cell is one
  frozen double division over two exactly-computed integers.

- **median/MAD robust anomaly** (``events_mad_anomaly``): the robust
  twin of the EWMA control chart — flag days where |v − median| exceeds
  3·1.4826·MAD. Median and MAD are LOWER medians picked by integer rank
  (row_number at ceil(n/2) with a deterministic (value, day) tie-break),
  and the threshold compare is pure integer algebra (10000·dev >
  44478·mad), so the whole query has ZERO float ops.

- **time-weighted average** (``events_twap_daily``): per-day TWAP of the
  value series — each observation weighted by the microseconds until
  the next observation (last one runs to midnight). The
  irregular-sampling average (a sensor that reports rarely when idle
  must not be averaged per-sample). Products v_4dp·dur_µs stay within
  BIGINT by construction (per-day durations sum to ≤86.4e9 µs), one
  frozen division per day cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.temporal import asof_join, range_join_banded
from ..sources.readers import load_table


def _events_sec(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("ts").cast("long").alias("sec"),
    )


def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click event: the user's most recent purchase value at or
    before the click. Right side pre-aggregated to one row per (user, sec)
    so the as-of match is well-defined."""
    ev = _events_sec(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "sec", "event_id"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "sec")
        .agg(F.round(F.max("value"), 4).alias("purchase_value"))
    )
    out = asof_join(
        clicks, purchases, on="user_id", time_col="sec",
        right_cols=["purchase_value"],
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("sec").alias("click_sec"),
        F.col("purchase_value_asof").alias("last_purchase_value"),
    )


ASOF_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
clicks AS (SELECT user_id, sec, event_id FROM e WHERE event_type = 'click'),
purch AS (
  SELECT user_id, sec, round(MAX(value), 4) AS purchase_value
  FROM e WHERE event_type = 'purchase' GROUP BY user_id, sec)
SELECT c.user_id, c.event_id, c.sec AS click_sec,
       p.purchase_value AS last_purchase_value
FROM clicks c
ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.sec >= p.sec
"""


def asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: for every click, the time of the user's NEXT purchase
    at or after the click (NULL when none follows). Same one-shuffle
    carry-forward plan as the backward variant, scanned over descending
    time. Oracle via DuckDB ASOF JOIN with a <= condition."""
    ev = _events_sec(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "sec", "event_id"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "sec")
        .distinct()
        .withColumn("purchase_sec", F.col("sec"))
    )
    out = asof_join(
        clicks, purchases, on="user_id", time_col="sec",
        right_cols=["purchase_sec"], direction="forward",
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("sec").alias("click_sec"),
        F.col("purchase_sec_asof").alias("next_purchase_sec"),
    )


ASOF_FORWARD_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
clicks AS (SELECT user_id, sec, event_id FROM e WHERE event_type = 'click'),
purch AS (
  SELECT DISTINCT user_id, sec, sec AS purchase_sec
  FROM e WHERE event_type = 'purchase')
SELECT c.user_id, c.event_id, c.sec AS click_sec,
       p.purchase_sec AS next_purchase_sec
FROM clicks c
ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.sec <= p.sec
"""


def range_join_error_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(error, click) pairs for the same user with the click 0-600 s after
    the error — the banded equi-join form of an interval theta-join."""
    ev = _events_sec(spark, sf_dir)
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "sec", F.col("event_id").alias("error_id")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "sec", F.col("event_id").alias("click_id")
    )
    out = range_join_banded(
        errors, clicks, on="user_id", time_col="sec", lower=0, upper=600, band=600
    )
    return out.select(
        "user_id",
        F.col("error_id_l").alias("error_id"),
        F.col("click_id_r").alias("click_id"),
        (F.col("r_time") - F.col("l_time")).alias("gap_sec"),
    )


RANGE_JOIN_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events)
SELECT a.user_id, a.event_id AS error_id, b.event_id AS click_id,
       b.sec - a.sec AS gap_sec
FROM e a JOIN e b
  ON a.user_id = b.user_id
 AND a.event_type = 'error' AND b.event_type = 'click'
 AND b.sec - a.sec BETWEEN 0 AND 600
"""


# ---------------------------------------------------------------------------
# Linear interpolation between anchors
# ---------------------------------------------------------------------------


def events_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted linear interpolation: for every non-purchase event
    bracketed by two purchases of the same user, interpolate the purchase
    value at the event's timestamp — the standard sensor/price imputation
    between known anchor points (cf. events_forward_fill, which is the
    0th-order version).

    Determinism: anchors and timestamps are integer cents/µs; the
    interpolation ``pc + (nc − pc) · (Δt / T)`` is a fixed IEEE-double
    expression tree evaluated identically by both engines, rounded to 6
    decimals on both sides. Two ignore-nulls windows over one user_id
    shuffle."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    wp = w.rowsBetween(W.unboundedPreceding, -1)
    wn = w.rowsBetween(1, W.unboundedFollowing)
    anchor_c = F.when(F.col("event_type") == "purchase", F.col("cents"))
    anchor_t = F.when(F.col("event_type") == "purchase", F.col("us"))
    x = (
        e.withColumn("pc", F.last(anchor_c, ignorenulls=True).over(wp))
        .withColumn("pt", F.last(anchor_t, ignorenulls=True).over(wp))
        .withColumn("nc", F.first(anchor_c, ignorenulls=True).over(wn))
        .withColumn("nt", F.first(anchor_t, ignorenulls=True).over(wn))
    )
    return x.where(
        (F.col("event_type") != "purchase")
        & F.col("pc").isNotNull()
        & F.col("nc").isNotNull()
        & (F.col("nt") > F.col("pt"))
    ).select(
        "user_id",
        "event_id",
        "cents",
        F.round(
            F.col("pc")
            + (F.col("nc") - F.col("pc"))
            * ((F.col("us") - F.col("pt")) / (F.col("nt") - F.col("pt"))),
            6,
        ).alias("interp_cents"),
    )


INTERPOLATE_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
x AS (
  SELECT user_id, event_id, us, event_type, cents,
    last_value(CASE WHEN event_type = 'purchase' THEN cents END IGNORE NULLS)
      OVER wp AS pc,
    last_value(CASE WHEN event_type = 'purchase' THEN us END IGNORE NULLS)
      OVER wp AS pt,
    first_value(CASE WHEN event_type = 'purchase' THEN cents END IGNORE NULLS)
      OVER wn AS nc,
    first_value(CASE WHEN event_type = 'purchase' THEN us END IGNORE NULLS)
      OVER wn AS nt
  FROM e
  WINDOW wp AS (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         wn AS (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT user_id, event_id, cents,
       round(pc + (nc - pc) * ((us - pt) / (nt - pt)), 6) AS interp_cents
FROM x
WHERE event_type <> 'purchase' AND pc IS NOT NULL AND nc IS NOT NULL
  AND nt > pt
"""


# ---------------------------------------------------------------------------
# Calendar gap-fill
# ---------------------------------------------------------------------------


def orders_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order counts over 1995-Q1 with zero-filled silent days: a
    generated calendar dimension (sequence + explode — rows from thin air,
    no source table) left-joined to the per-day aggregate. The generated
    side is bounded by the date span, so at 100 TB it is still 90 rows and
    broadcasts; gap-filling never touches the fact table twice."""
    orders = load_table(spark, sf_dir, "orders")
    cal = spark.sql(
        "SELECT explode(sequence(to_date('1995-01-01'), to_date('1995-03-31'),"
        " interval 1 day)) AS day"
    )
    daily = (
        orders.where(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1995-04-01")
        )
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    return (
        cal.join(daily, "day", "left")
        .select("day", F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"))
        .orderBy("day")
    )


GAPFILL_SQL = """
WITH cal AS (
  SELECT CAST(d AS DATE) AS day
  FROM generate_series(DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY)
       gs(d)),
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1995-04-01'
  GROUP BY 1)
SELECT c.day, CAST(COALESCE(d.n, 0) AS BIGINT) AS n_orders
FROM cal c LEFT JOIN daily d ON d.day = c.day
ORDER BY c.day
"""


# --------------------------------------------------------------------------
# Gap fill + linear interpolation
# --------------------------------------------------------------------------

def events_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify each user's daily mean ``value`` to a full calendar and
    linearly interpolate the missing days.

    Scale shape: one (user, day) aggregate over the facts (integer-micros
    sums — exact), a per-user span aggregate, a bounded ``sequence``
    explode (fan-out = span days, never events), and ONE window pass that
    computes both interpolation walls via IGNORE NULLS ``last``/``first``
    — no self-join against the calendar, no driver loop. The
    interpolation itself is a frozen IEEE expression over exact integer
    inputs (micros, day offsets), so both engines reproduce it bit for
    bit before the final 6-dp round.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value").cast("double") * 1e6).cast("long")).alias(
            "v_micros"
        ),
        F.count("*").alias("n"),
    )
    cal = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
        )
    )
    dense = cal.join(daily, ["user_id", "day"], "left").withColumn(
        "m",
        F.col("v_micros").cast("double") / F.col("n").cast("double"),
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("m").isNotNull(), F.col("day"))
    walls = (
        dense.withColumn("prev_m", F.last("m", ignorenulls=True).over(w_back))
        .withColumn("prev_day", F.last(obs_day, ignorenulls=True).over(w_back))
        .withColumn("next_m", F.first("m", ignorenulls=True).over(w_fwd))
        .withColumn("next_day", F.first(obs_day, ignorenulls=True).over(w_fwd))
    )
    # Endpoints are observed by construction (the span is min..max observed
    # day), so prev/next walls are both non-null on every gap row.
    frac = F.datediff(F.col("day"), F.col("prev_day")).cast(
        "double"
    ) / F.datediff(F.col("next_day"), F.col("prev_day")).cast("double")
    filled_micros = F.when(F.col("m").isNotNull(), F.col("m")).otherwise(
        F.col("prev_m") + (F.col("next_m") - F.col("prev_m")) * frac
    )
    return walls.select(
        "user_id",
        "day",
        F.round(filled_micros / F.lit(1e6), 6).alias("value_filled"),
        F.col("m").isNull().alias("was_gap"),
    ).orderBy("user_id", "day")


GAP_FILL_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         sum(CAST(round(CAST(value AS DOUBLE) * 1e6) AS BIGINT)) AS v_micros,
         count(*) AS n
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
cal AS (
  SELECT user_id, unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
  FROM daily GROUP BY user_id
),
dense AS (
  SELECT c.user_id, c.day,
         CAST(d.v_micros AS DOUBLE) / CAST(d.n AS DOUBLE) AS m
  FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
),
walls AS (
  SELECT user_id, day, m,
         last_value(m IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_m,
         last_value(CASE WHEN m IS NOT NULL THEN day END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
         first_value(m IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_m,
         first_value(CASE WHEN m IS NOT NULL THEN day END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
  FROM dense
)
SELECT user_id, day,
       round(
         CASE WHEN m IS NOT NULL THEN m
              ELSE prev_m + (next_m - prev_m)
                   * (CAST(date_diff('day', prev_day, day) AS DOUBLE)
                      / CAST(date_diff('day', prev_day, next_day) AS DOUBLE))
         END / 1e6, 6) AS value_filled,
       m IS NULL AS was_gap
FROM walls
ORDER BY user_id, day
"""


# --------------------------------------------------------------------------
# Band join via time-grid blocking
# --------------------------------------------------------------------------

#: band half-width: pairs within ±5 minutes
_BAND_US = 300 * 1_000_000


def events_band_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day count of (error, purchase) same-user pairs within ±5
    minutes, joined on the 5-minute time grid.

    Each error projects to its grid bucket and both neighbors (x3
    bounded fan-out, a projection — no shuffle); the equi-join keys on
    (user_id, bucket) so only temporally-plausible pairs are probed; the
    exact |Δt| ≤ band predicate then filters the survivors. A purchase's
    bucket is always within ±1 of an in-band error's bucket, and appears
    exactly once in the error's 3-bucket set — so every in-band pair
    matches exactly once and the blocked join EQUALS the naive
    inequality join (the DuckDB oracle) while probing only adjacent
    buckets instead of every same-user pair."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    err = (
        ev.where(F.col("event_type") == "error")
        .select(
            "user_id",
            F.col("event_id").alias("err_id"),
            F.unix_micros("ts").alias("err_us"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.expr(f"CAST(err_us DIV {_BAND_US} AS BIGINT) - 1"),
                    F.expr(f"CAST(err_us DIV {_BAND_US} AS BIGINT)"),
                    F.expr(f"CAST(err_us DIV {_BAND_US} AS BIGINT) + 1"),
                )
            ),
        )
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pur_id"),
        F.unix_micros("ts").alias("pur_us"),
        F.expr(f"CAST(unix_micros(ts) DIV {_BAND_US} AS BIGINT)").alias(
            "bucket"
        ),
    )
    pairs = err.join(pur, ["user_id", "bucket"]).where(
        F.abs(F.col("err_us") - F.col("pur_us")) <= _BAND_US
    )
    return (
        pairs.groupBy(
            F.to_date(F.timestamp_micros(F.col("err_us"))).alias("day")
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.countDistinct("err_id").cast("long").alias("n_errors"),
            F.countDistinct("pur_id").cast("long").alias("n_purchases"),
        )
        .orderBy("day")
    )


BAND_JOIN_SQL = f"""
WITH e AS (
  SELECT user_id, event_id AS err_id, epoch_us(ts) AS err_us
  FROM events WHERE user_id IS NOT NULL AND event_type = 'error'
),
p AS (
  SELECT user_id, event_id AS pur_id, epoch_us(ts) AS pur_us
  FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'
),
pairs AS (
  SELECT e.err_id, p.pur_id, e.err_us
  FROM e JOIN p ON e.user_id = p.user_id
  WHERE abs(e.err_us - p.pur_us) <= {_BAND_US}
)
SELECT CAST(make_timestamp(err_us) AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT err_id) AS BIGINT) AS n_errors,
       CAST(count(DISTINCT pur_id) AS BIGINT) AS n_purchases
FROM pairs
GROUP BY 1
ORDER BY day
"""


#: integer scale for value ten-thousandths (4 decimals)
_SCALE = 10_000


def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-value series split into trend (centered 7-row moving
    average), day-of-week seasonal, and remainder; only days with a full
    7-row trend window are emitted."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.expr(f"CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)")
        ).alias("v_us")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    t = (
        daily.withColumn("n7", F.count("*").over(w7))
        .withColumn("t_us", F.sum("v_us").over(w7))
        .where(F.col("n7") == 7)
        .withColumn("d7", F.lit(7).cast("long") * F.col("v_us") - F.col("t_us"))
        .withColumn(
            "dow", F.pmod(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")), F.lit(7))
        )
    )
    seas = t.groupBy("dow").agg(
        F.sum("d7").alias("s_num"), F.count("*").alias("s_cnt")
    )
    den = float(7 * _SCALE)
    return (
        t.join(F.broadcast(seas), "dow")
        .select(
            "day",
            F.round(F.col("v_us") / float(_SCALE), 6).alias("value"),
            F.round(F.col("t_us") / den, 6).alias("trend"),
            F.round((F.col("s_num") / F.col("s_cnt")) / den, 6).alias("seasonal"),
            F.round(
                (F.col("d7") - F.col("s_num") / F.col("s_cnt")) / den, 6
            ).alias("remainder"),
        )
        .orderBy("day")
    )


SEASONAL_DECOMPOSE_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)) AS v_us
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
t AS (
  SELECT day, v_us,
         COUNT(*) OVER w AS n7,
         SUM(v_us) OVER w AS t_us
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
d AS (
  SELECT day, v_us, t_us,
         7 * v_us - t_us AS d7,
         ((day - DATE '1970-01-01') % 7 + 7) % 7 AS dow
  FROM t WHERE n7 = 7
),
seas AS (
  SELECT dow, SUM(d7) AS s_num, COUNT(*) AS s_cnt FROM d GROUP BY dow
)
SELECT d.day,
       round(d.v_us / {float(_SCALE)}, 6) AS value,
       round(d.t_us / {float(7 * _SCALE)}, 6) AS trend,
       round((seas.s_num / seas.s_cnt) / {float(7 * _SCALE)}, 6) AS seasonal,
       round((d.d7 - seas.s_num / seas.s_cnt) / {float(7 * _SCALE)}, 6) AS remainder
FROM d JOIN seas USING (dow)
ORDER BY d.day
"""


# --------------------------------------------------------------------------
# EWMA control chart (trailing exponentially-weighted baseline)
# --------------------------------------------------------------------------

#: trailing lags in the EWMA baseline; weight of lag k is 2^(_EWMA_LAGS-k)
_EWMA_LAGS = 7


#: relative deviation from baseline that flags a day
_EWMA_FLAG = 0.2


def events_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-value control chart: each day compared against a
    trailing 7-day exponentially-weighted baseline (half-life 1 day),
    flagged when it deviates more than ±20%.

    The EWMA is exact integers until one final division: the 7 trailing
    days enter as ``lag(v_us, k)`` columns with INTEGER weights
    ``2^(7-k)`` (halving per day of age), so numerator and the constant
    denominator (127) are BIGINTs — no float accumulation order to
    disagree on. Only days with a full 7-day history are emitted. The
    window again runs over the calendar-bounded daily aggregate; this is
    the streaming-adjacent monitoring readout a batch pipeline recomputes
    incrementally per day at any fact-table scale."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.expr(f"CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)")
        ).alias("v_us")
    )
    return ewma_score_daily(daily)


def ewma_score_daily(daily: DataFrame) -> DataFrame:
    """The EWMA control-chart scoring over a (day, v_us) daily frame —
    shared verbatim by the batch query above and the streaming twin
    (streaming/stream.py run_streaming_ewma_anomaly), so the two paths
    cannot diverge: same integer lag weights, same single float division,
    same rounding."""
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "v_us",
        *[
            F.lag("v_us", k).over(w).alias(f"l{k}")
            for k in range(1, _EWMA_LAGS + 1)
        ],
    ).where(F.col(f"l{_EWMA_LAGS}").isNotNull())
    num = None
    for k in range(1, _EWMA_LAGS + 1):
        term = F.col(f"l{k}") * F.lit(2 ** (_EWMA_LAGS - k)).cast("long")
        num = term if num is None else num + term
    den = float(2**_EWMA_LAGS - 1)
    baseline = num / F.lit(den)  # ONE float op on integer inputs
    dev = (F.col("v_us") - baseline) / baseline
    return (
        lagged.select(
            "day",
            F.round(F.col("v_us") / float(_SCALE), 6).alias("value"),
            F.round(baseline / float(_SCALE), 6).alias("ewma"),
            F.round(dev, 6).alias("dev_ratio"),
            F.when(F.abs(dev) > _EWMA_FLAG, 1).otherwise(0).cast("int").alias("is_anomaly"),
        )
        .orderBy("day")
    )


_EWMA_NUM_SQL = " + ".join(
    f"l{k} * {2 ** (_EWMA_LAGS - k)}" for k in range(1, _EWMA_LAGS + 1)
)


EWMA_ANOMALY_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)) AS v_us
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
lagged AS (
  SELECT day, v_us,
         {", ".join(f"LAG(v_us, {k}) OVER (ORDER BY day) AS l{k}" for k in range(1, _EWMA_LAGS + 1))}
  FROM daily
),
scored AS (
  SELECT day, v_us,
         ({_EWMA_NUM_SQL}) / {float(2**_EWMA_LAGS - 1)} AS baseline
  FROM lagged WHERE l{_EWMA_LAGS} IS NOT NULL
)
SELECT day,
       round(v_us / {float(_SCALE)}, 6) AS value,
       round(baseline / {float(_SCALE)}, 6) AS ewma,
       round((v_us - baseline) / baseline, 6) AS dev_ratio,
       CAST(CASE WHEN abs((v_us - baseline) / baseline) > {_EWMA_FLAG}
                 THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
FROM scored
ORDER BY day
"""


# --------------------------------------------------------------------------
# Revenue drawdown
# --------------------------------------------------------------------------


def orders_revenue_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cumulative revenue, its running peak, and the drawdown gap
    (peak − cumulative), in exact integer micros."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 1e6) AS BIGINT)")
        ).alias("rev_micros")
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.withColumn("cum_micros", F.sum("rev_micros").over(w_cum))
    peak = cum.withColumn("peak_micros", F.max("cum_micros").over(w_cum))
    return (
        peak.select(
            "day",
            "rev_micros",
            "cum_micros",
            "peak_micros",
            (F.col("peak_micros") - F.col("cum_micros")).alias("drawdown_micros"),
        )
        .orderBy("day")
    )


REVENUE_DRAWDOWN_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(round(CAST(o_totalprice AS DOUBLE) * 1e6) AS BIGINT))
              AS BIGINT) AS rev_micros
  FROM orders GROUP BY 1
),
cum AS (
  SELECT day, rev_micros,
         CAST(SUM(rev_micros) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_micros
  FROM daily
)
SELECT day, rev_micros, cum_micros,
       CAST(MAX(cum_micros) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS peak_micros,
       CAST(MAX(cum_micros) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            - cum_micros AS BIGINT) AS drawdown_micros
FROM cum
ORDER BY day
"""


# --------------------------------------------------------------------------
# Rolling 7-day trend slope
# --------------------------------------------------------------------------

#: window length for the rolling least-squares trend
_SLOPE_N = 7


def events_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day least-squares trend slope of daily event value —
    "is this metric trending up or down, and how fast", per day.

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with x = 0..6 the position
    inside the window and y the integer-micro daily values entering as 7
    explicit lag columns — so numerator and the CONSTANT denominator
    (n·Σx²−(Σx)² = 7·91−441 = 196) are exact BIGINTs and the only float
    op is one final division, micro-rounded. Same calendar-bounded daily
    frame discipline as the EWMA chart; rows need a full 7-day history."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.expr("CAST(floor(round(value, 4) * 10000 + 0.5) AS BIGINT)")
        ).alias("v_us")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "v_us",
        *[
            F.lag("v_us", k).over(w).alias(f"l{k}")
            for k in range(1, _SLOPE_N)
        ],
    ).where(F.col(f"l{_SLOPE_N - 1}").isNotNull())
    # y_i at window position x_i: l6 is oldest (x=0) ... v_us newest (x=6)
    ys = [F.col(f"l{_SLOPE_N - 1 - i}") if i < _SLOPE_N - 1 else F.col("v_us") for i in range(_SLOPE_N)]
    sum_y = None
    sum_xy = None
    for x, y in enumerate(ys):
        sum_y = y if sum_y is None else sum_y + y
        term = y * F.lit(x).cast("long")
        sum_xy = term if sum_xy is None else sum_xy + term
    n = _SLOPE_N
    sum_x = n * (n - 1) // 2            # 21
    den = n * sum(x * x for x in range(n)) - sum_x * sum_x  # 196
    slope = (F.lit(n).cast("long") * sum_xy - F.lit(sum_x).cast("long") * sum_y) / F.lit(
        float(den)
    )
    return (
        lagged.select(
            "day",
            F.round(F.col("v_us") / 10000.0, 6).alias("value"),
            F.round(slope / 10000.0, 6).alias("slope_per_day"),
        )
        .orderBy("day")
    )


_SLOPE_YS = ", ".join(
    f"LAG(v_us, {k}) OVER (ORDER BY day) AS l{k}" for k in range(1, _SLOPE_N)
)


_SLOPE_SUM_Y = " + ".join(
    [f"l{_SLOPE_N - 1 - i}" for i in range(_SLOPE_N - 1)] + ["v_us"]
)


_SLOPE_SUM_XY = " + ".join(
    [f"l{_SLOPE_N - 1 - i} * {i}" for i in range(_SLOPE_N - 1)]
    + [f"v_us * {_SLOPE_N - 1}"]
)


ROLLING_SLOPE_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(floor(round(value, 4) * 10000 + 0.5) AS BIGINT)) AS v_us
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
lagged AS (
  SELECT day, v_us, {_SLOPE_YS}
  FROM daily
)
SELECT day,
       round(v_us / 10000.0, 6) AS value,
       round((({_SLOPE_N} * ({_SLOPE_SUM_XY}) - 21 * ({_SLOPE_SUM_Y})) / 196.0)
             / 10000.0, 6) AS slope_per_day
FROM lagged
WHERE l{_SLOPE_N - 1} IS NOT NULL
ORDER BY day
"""


# --------------------------------------------------------------------------
# CUSUM changepoint
# --------------------------------------------------------------------------


def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-value CUSUM: S'_t = n·cumsum_t − t·total (the mean-centered
    cumulative sum scaled by the day count, exact BIGINT), with the
    max-|S'| day flagged as the single-changepoint estimate (earliest day
    wins ties). The windows run over the calendar-bounded daily
    aggregate — the bounded-single-task trade every time-series query in
    this repo makes."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.expr(f"CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)")
        ).alias("v_us")
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scored = daily.select(
        "day",
        "v_us",
        F.sum("v_us").over(w_cum).alias("cum"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t_idx"),
        F.sum("v_us").over(w_all).alias("total"),
        F.count("*").over(w_all).alias("n_days"),
    )
    cusum = scored.select(
        "day",
        "v_us",
        (F.col("n_days") * F.col("cum") - F.col("t_idx") * F.col("total"))
        .cast("long")
        .alias("cusum_scaled"),
    )
    w_peak = Window.orderBy(F.abs(F.col("cusum_scaled")).desc(), F.col("day").asc())
    return (
        cusum.withColumn(
            "is_changepoint",
            F.when(F.row_number().over(w_peak) == 1, 1).otherwise(0).cast("int"),
        )
        .orderBy("day")
    )


CUSUM_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)) AS v_us
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
scored AS (
  SELECT day, v_us,
         SUM(v_us) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
         CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t_idx,
         SUM(v_us) OVER () AS total,
         COUNT(*) OVER () AS n_days
  FROM daily
),
cusum AS (
  SELECT day, v_us,
         CAST(n_days * cum - t_idx * total AS BIGINT) AS cusum_scaled
  FROM scored
)
SELECT day, CAST(v_us AS BIGINT) AS v_us, cusum_scaled,
       CAST(CASE WHEN ROW_NUMBER() OVER (ORDER BY abs(cusum_scaled) DESC, day ASC) = 1
                 THEN 1 ELSE 0 END AS INTEGER) AS is_changepoint
FROM cusum
ORDER BY day
"""


# --------------------------------------------------------------------------
# Daily autocorrelation (lags 1..7)
# --------------------------------------------------------------------------

#: maximum autocorrelation lag
_ACF_MAX_LAG = 7


def _acf_daily_sql(int128_cast: str) -> str:
    """The whole ACF query as one SQL text, parameterized ONLY by the
    exact-int128 cast type (``DECIMAL(38,0)`` on Spark, ``HUGEINT`` on
    DuckDB — both exact integer arithmetic for the centered cross
    products, which exceed int64). dev_t = n·v_t − total is itself
    BIGINT-safe; the final per-lag cell is one frozen double division."""
    lead_cols = ",\n         ".join(
        f"LEAD(dev, {k}) OVER (ORDER BY day) AS dev{k}"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    num_cols = ",\n         ".join(
        f"SUM(dev * dev{k}) AS num{k}" for k in range(1, _ACF_MAX_LAG + 1)
    )
    cells = "\n  UNION ALL\n".join(
        f"  SELECT {k} AS lag_k, num{k} AS num, den, n FROM agg"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)) AS v_us
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
devs AS (
  SELECT day,
         CAST(COUNT(*) OVER () * v_us - SUM(v_us) OVER ()
              AS {int128_cast}) AS dev,
         COUNT(*) OVER () AS n
  FROM daily
),
led AS (
  SELECT dev, n,
         {lead_cols}
  FROM devs
),
agg AS (
  SELECT {num_cols},
         SUM(dev * dev) AS den,
         MAX(n) AS n
  FROM led
),
cells AS (
{cells}
)
SELECT CAST(lag_k AS INTEGER) AS lag_k,
       CAST(n - lag_k AS BIGINT) AS n_pairs,
       CASE WHEN den = 0 OR num IS NULL THEN NULL
            ELSE CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                            * 1000000 + 0.5) AS BIGINT)
       END AS acf_micros
FROM cells
ORDER BY lag_k
"""


def events_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily value series; one SQL text
    (exec'd through ``spark.sql``) shared with the DuckDB oracle modulo
    the int128 cast spelling. The windows run on the calendar-bounded
    daily aggregate — the deliberate bounded-single-task tail every
    time-series query here shares."""
    for t in ("events",):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_acf_daily_sql("DECIMAL(38,0)"))


# --------------------------------------------------------------------------
# Median/MAD robust anomaly
# --------------------------------------------------------------------------

#: 10000·3·1.4826 — the integerized 3-sigma-equivalent MAD multiplier
_MAD_K10K = 44_478


def events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier days: |v − median| > 3·1.4826·MAD, with median and
    MAD as LOWER medians picked by integer rank (deterministic
    (value, day) tie-break) and the threshold compare in pure integer
    algebra — the query has zero float ops anywhere."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.expr(f"CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)")
        ).alias("v_us")
    )
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = daily.select(
        "day",
        "v_us",
        F.row_number().over(Window.orderBy("v_us", "day")).alias("rn"),
        F.count("*").over(w_all).alias("n"),
    )
    with_med = ranked.select(
        "day",
        "v_us",
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("v_us"))
        )
        .over(w_all)
        .alias("med_us"),
    )
    devs = with_med.select(
        "day", "v_us", "med_us", F.abs(F.col("v_us") - F.col("med_us")).alias("dev_us")
    )
    dev_ranked = devs.select(
        "*",
        F.row_number().over(Window.orderBy("dev_us", "day")).alias("drn"),
        F.count("*").over(w_all).alias("n"),
    )
    with_mad = dev_ranked.select(
        "day",
        "v_us",
        "med_us",
        "dev_us",
        F.max(
            F.when(F.col("drn") == F.expr("(n + 1) div 2"), F.col("dev_us"))
        )
        .over(w_all)
        .alias("mad_us"),
    )
    return (
        with_mad.select(
            "day",
            "v_us",
            "med_us",
            "mad_us",
            F.when(
                F.col("dev_us") * F.lit(10_000).cast("long")
                > F.lit(_MAD_K10K).cast("long") * F.col("mad_us"),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("is_anomaly"),
        )
        .orderBy("day")
    )


MAD_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT)) AS v_us
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
ranked AS (
  SELECT day, v_us,
         ROW_NUMBER() OVER (ORDER BY v_us, day) AS rn,
         COUNT(*) OVER () AS n
  FROM daily
),
with_med AS (
  SELECT day, v_us,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN v_us END) OVER () AS med_us
  FROM ranked
),
devs AS (
  SELECT day, v_us, med_us, abs(v_us - med_us) AS dev_us FROM with_med
),
dev_ranked AS (
  SELECT day, v_us, med_us, dev_us,
         ROW_NUMBER() OVER (ORDER BY dev_us, day) AS drn,
         COUNT(*) OVER () AS n
  FROM devs
),
with_mad AS (
  SELECT day, v_us, med_us, dev_us,
         MAX(CASE WHEN drn = (n + 1) // 2 THEN dev_us END) OVER () AS mad_us
  FROM dev_ranked
)
SELECT day, CAST(v_us AS BIGINT) AS v_us, CAST(med_us AS BIGINT) AS med_us,
       CAST(mad_us AS BIGINT) AS mad_us,
       CAST(CASE WHEN dev_us * 10000 > {_MAD_K10K} * mad_us
                 THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
FROM with_mad
ORDER BY day
"""


# --------------------------------------------------------------------------
# Time-weighted average (TWAP) per day
# --------------------------------------------------------------------------


def _twap_sql(epoch_us: str, next_midnight: str) -> str:
    """Parameterized only by the engines' epoch-µs and next-midnight
    spellings. Weight = µs until the next same-day observation (the last
    observation runs to midnight); per-day Σdur is ≤86.4e9 µs by
    construction, so Σ(v_4dp·dur) ≤ 5.6e17 stays in BIGINT."""
    return f"""
WITH obs AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(floor(round(value, 4) * {_SCALE} + 0.5) AS BIGINT) AS v4,
         {epoch_us.format(col="ts")} AS t_us,
         COALESCE(
           {epoch_us.format(
               col=("LEAD(ts) OVER (PARTITION BY CAST(ts AS DATE)"
                    " ORDER BY ts, event_id)"))},
           {epoch_us.format(col=next_midnight)}
         ) AS next_us
  FROM events WHERE value IS NOT NULL
)
SELECT day,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(SUM(next_us - t_us) AS BIGINT) AS span_us,
       CAST(floor(CAST(SUM(v4 * (next_us - t_us)) AS DOUBLE)
                  / CAST(SUM(next_us - t_us) AS DOUBLE) * 100 + 0.5)
            AS BIGINT) AS twap_micros
FROM obs
GROUP BY day
ORDER BY day
"""


def events_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day time-weighted average value (irregular-sampling mean).
    One SQL text shared with the oracle modulo the epoch-µs spelling;
    the window is day+user-free but DAY-partitioned, so it parallelizes
    over the calendar at any volume."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _twap_sql(
            "unix_micros({col})",
            "CAST(date_add(CAST(ts AS DATE), 1) AS TIMESTAMP)",
        )
    )


TWAP_ORACLE_SQL = _twap_sql(
    "epoch_us({col})",
    "CAST(CAST(ts AS DATE) + INTERVAL 1 DAY AS TIMESTAMP)",
)


QUERIES = {
    "asof_last_purchase": asof_last_purchase,
    "asof_next_purchase": asof_next_purchase,
    "range_join_error_clicks": range_join_error_clicks,
    "events_linear_interpolate": events_linear_interpolate,
    "orders_daily_gapfill": orders_daily_gapfill,
    "events_gap_fill_interpolate": events_gap_fill_interpolate,
    "events_band_join_grid": events_band_join_grid,
    "events_seasonal_decompose": events_seasonal_decompose,
    "events_ewma_anomaly": events_ewma_anomaly,
    "orders_revenue_drawdown": orders_revenue_drawdown,
    "events_rolling_slope": events_rolling_slope,
    "events_changepoint_cusum": events_changepoint_cusum,
    "events_acf_daily": events_acf_daily,
    "events_mad_anomaly": events_mad_anomaly,
    "events_twap_daily": events_twap_daily,
}

ORACLES = {
    "asof_last_purchase": ASOF_SQL,
    "asof_next_purchase": ASOF_FORWARD_SQL,
    "range_join_error_clicks": RANGE_JOIN_SQL,
    "events_linear_interpolate": INTERPOLATE_SQL,
    "orders_daily_gapfill": GAPFILL_SQL,
    "events_gap_fill_interpolate": GAP_FILL_SQL,
    "events_band_join_grid": BAND_JOIN_SQL,
    "events_seasonal_decompose": SEASONAL_DECOMPOSE_SQL,
    "events_ewma_anomaly": EWMA_ANOMALY_SQL,
    "orders_revenue_drawdown": REVENUE_DRAWDOWN_SQL,
    "events_rolling_slope": ROLLING_SLOPE_SQL,
    "events_changepoint_cusum": CUSUM_SQL,
    "events_acf_daily": _acf_daily_sql("HUGEINT"),
    "events_mad_anomaly": MAD_SQL,
    "events_twap_daily": TWAP_ORACLE_SQL,
}
