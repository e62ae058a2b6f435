"""Event-stream analytics (batch form of the streaming extension tier).

The reference has **no** streaming operators (SURVEY §2C) — the
``events`` fixture exists for the Phase-5 extension tier. These
operators are the *batch-equivalent* forms: ``F.window`` tumbling
aggregation and gaps-and-islands sessionization run identically over a
bounded DataFrame and a stream (see gizmosql_spark/streaming/ for the
readStream wiring); JSON extraction covers the §2E JSON family.

Scale notes: sessionization is a window function partitioned by
user_id — at 100 TB this shuffles once on user_id and never collects;
skewed users are handled by AQE. The tumbling window agg is a plain
hash aggregate on (bucket, type).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gizmosql_spark.operators import loader


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return loader.table(spark, sf_dir, name)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events scan with the ns→µs timestamp conversion.

    The fixture stores TIMESTAMP(NANOS); Spark reads it as long ns
    (spark.sql.legacy.parquet.nanosAsLong) and we convert with integer
    division — same truncation the reference applies on ingest
    (duckdb_server.cpp:516-518). The fixture's sub-µs digits are zero,
    so this is lossless here.
    """
    e = _t(spark, sf_dir, "events")
    if dict(e.dtypes).get("ts") == "bigint":
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return e


def events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + aggregation (§2E JSON family:
    get_json_object ≈ DuckDB json_extract)."""
    e = load_events(spark, sf_dir)
    return (
        e.select(
            "event_type",
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_bucket"),
            "value",
        )
        .groupBy("event_type", "k_bucket")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("total"))
        .orderBy("event_type", "k_bucket")
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation — identical code path works
    under readStream + watermark (streaming/windows.py)."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
        .orderBy("window_start", "event_type")
    )


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window (15-minute slide) aggregation in batch —
    Spark's window(slide) fans each event into window/slide = 4 buckets
    before the hash aggregate; the oracle materializes the same fan-out
    with an explicit k = 0..3 cross join."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .orderBy("window_start", "event_type")
    )


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap: gaps-and-islands
    (lag + cumulative sum), the batch equivalent of
    ``session_window(ts, '30 minutes')``."""
    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull() | (F.col("ts") > prev_ts + F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    sessions = e.withColumn("session_idx", F.sum(is_new).over(w_run))
    return (
        sessions.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
                "duration_sec"
            ),
        )
        .orderBy("user_id", "session_idx")
    )


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark lacks a native one): for each click, the most
    recent purchase timestamp of the same user at or before it.

    Implemented as the scalable union-and-carry pattern: tag both
    streams, sort within the user partition, carry the last purchase
    ts with a running max window — ONE shuffle on user_id, no
    per-group Python, no merge_asof. Equivalent to DuckDB's
    ASOF JOIN (oracle uses the correlated-max formulation to pin tie
    semantics)."""
    e = load_events(spark, sf_dir)
    tagged = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("purchase_ts"),
        # purchases sort before clicks at identical ts so `<=` holds
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("side"),
    ).filter(F.col("event_type").isin("purchase", "click"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("last_purchase_ts", F.max("purchase_ts").over(w))
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts", "last_purchase_ts")
        .orderBy("event_id")
    )


def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2E JSON family end-to-end: from_json (typed parse), json_tuple
    (string extraction), to_json (serialize) with a parse-back
    round-trip — the Spark analogs of DuckDB's JSON extension
    (autoloaded at gizmosql_library.cpp:817)."""
    e = load_events(spark, sf_dir).filter(F.col("event_id") < 2000)
    parsed = F.from_json("props", "k INT")
    roundtrip = F.get_json_object(
        F.to_json(F.struct("user_id", "event_type")), "$.event_type"
    )
    return (
        e.select(
            "event_id",
            parsed.getField("k").alias("k_parsed"),
            F.get_json_object("props", "$.k").alias("k_str"),
            roundtrip.alias("type_roundtrip"),
        )
        .orderBy("event_id")
    )


def variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.2 VARIANT coverage (Spark 4 VariantType = the engine-side
    answer to DuckDB's VARIANT, which the reference exports as opaque
    binary — duckdb_statement.cpp:698-706): parse_json into a variant,
    typed variant_get extraction, try_variant_get on a missing path."""
    e = load_events(spark, sf_dir).filter(F.col("event_id") < 2000)
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.missing", "int").alias("missing_int"),
        F.is_variant_null(F.parse_json(F.lit("null"))).alias("null_probe"),
    ).orderBy("event_id")


def time_interval_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.2 TIME/INTERVAL hazard coverage: Spark has no TIME type, so
    time-of-day travels as micros-since-midnight (the documented
    widening); INTERVAL arithmetic, week truncation, epoch extraction
    and day names over the ns→µs-truncated event timestamps."""
    e = load_events(spark, sf_dir).filter(F.col("event_id") < 2000)
    return e.select(
        "event_id",
        # cast handles the TIMESTAMP_NTZ fixture encoding: unix_micros
        # requires TIMESTAMP, and the session TZ is pinned UTC
        # (loader.ensure_session_confs) so the value is unchanged.
        (F.unix_micros(F.col("ts").cast("timestamp")) % 86_400_000_000).alias(
            "time_micros"
        ),
        (F.col("ts") + F.expr("INTERVAL 90 MINUTES")).alias("ts_plus_90m"),
        F.datediff(F.col("ts").cast("date"), F.lit("2025-01-01").cast("date"))
        .cast("int")
        .alias("days_since"),
        F.date_trunc("week", "ts").alias("week_start"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.date_format("ts", "EEEE").alias("day_name"),
        F.last_day(F.col("ts").cast("date")).alias("last_dom"),
    ).orderBy("event_id")


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, distinct
    active users counted per (cohort day, day offset) — the standard
    retention triangle. Two hash aggregations and one broadcast-able
    join on user_id; no windows, no collects."""
    e = load_events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    cohort = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        e.join(cohort, "user_id")
        .withColumn("day_offset", F.datediff("d", "cohort_day"))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


def events_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth: weekly event totals with percentage
    change against the previous week (lag over the aggregated series
    — the window runs on the weeks-sized frame, never the stream)."""
    e = load_events(spark, sf_dir)
    weekly = e.groupBy(F.date_trunc("week", "ts").alias("week_start")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    w = Window.orderBy("week_start")
    prev = F.lag("total_value").over(w)
    return (
        weekly.withColumn(
            "wow_growth_pct",
            F.round((F.col("total_value") - prev) / prev * 100.0, 4))
        .orderBy("week_start")
    )


def _ntile_from_rank(rn, n, k: int):
    """Closed-form ``ntile(k)`` from a global row_number: the first
    ``n mod k`` tiles take ``ceil(n/k)`` rows, the rest ``floor(n/k)``
    — exactly SQL ntile's positional definition, so the rewrite is
    integer-identical to the window function it replaces. CASE WHEN
    short-circuits, so the ``q = 0`` (n < k) guard divisor is never
    evaluated when it would be zero."""
    q = F.floor(n / k)
    r = n % k
    head = r * (q + 1)
    return (
        F.when(rn <= head, F.floor((rn - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rn - head - 1) / F.greatest(q, F.lit(1))) + 1)
        .cast("int")
    )


def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency / frequency / monetary
    quartiles rolled up to segment sizes — the classic
    behavioral-cohort operator.

    Scale shape: the naive form is three ``ntile(4)`` windows over the
    per-user frame — "user-sized, never the event stream", but at
    100 TB the user frame is itself billions of rows through one task
    (VERDICT r10 'What's wrong' #1). Rewritten as three two-pass
    global ranks (scale.global_row_number: equi-depth range buckets →
    per-bucket parallel row_number → broadcast offsets) + the
    closed-form positional ntile — integer-identical to the window
    ntile, no unpartitioned window anywhere in the plan (pinned by
    tests/test_plans.py). One approxQuantile pass samples all three
    order columns together."""
    from gizmosql_spark.operators import scale

    e = load_events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("freq"),
        F.round(F.sum("value"), 4).alias("monetary"),
    ).withColumn(
        # numeric, monotone-in-last_ts bucket key (epoch seconds fit a
        # double exactly; the fixture column is TIMESTAMP_NTZ, which
        # unix_micros rejects — the NTZ→LTZ→long chain is the NTZ-safe
        # equivalent, and the session zone is fixed for the query so
        # the mapping stays monotone; second-granularity ties merely
        # share a bucket, which global_row_number permits)
        "last_ts_s",
        F.col("last_ts").cast("timestamp").cast("long").cast("double"))
    bnds = scale.range_boundaries(
        per_user, ["last_ts_s", "freq", "monetary"],
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        cache_key=(sf_dir, "rfm_per_user"))
    # one materialization + ONE bounded bucket-stats job for all three
    # ranks (r11 optimization: the stacked per-rank form paid a
    # localCheckpoint + broadcast-offsets build PER rank — 5x the r10
    # wall-clock at sf0.1; see scale.global_row_numbers)
    g = scale.global_row_numbers(
        per_user,
        [(["last_ts", "user_id"], "rn_r", "last_ts_s", bnds[0]),
         (["freq", "user_id"], "rn_f", "freq", bnds[1]),
         (["monetary", "user_id"], "rn_m", "monetary", bnds[2])],
        total_col="n_total",
        # r12: the per-user frame is deterministic per fixture dir, so
        # the bucketed materialization + its counts share one entry of
        # the session's data map — warm invocations run one job
        # (VERDICT r11 item 6; see scale._persisted_with)
        cache_key=(sf_dir, "rfm_per_user"))
    n = F.col("n_total")
    scored = g.select(
        "user_id", "monetary",
        _ntile_from_rank(F.col("rn_r"), n, 4).alias("r"),
        _ntile_from_rank(F.col("rn_f"), n, 4).alias("f"),
        _ntile_from_rank(F.col("rn_m"), n, 4).alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.sum("monetary"), 2).alias("seg_monetary"),
        )
        .orderBy("r", "f", "m")
    )


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation: per
    event type, median(value) and MAD = median(|value - median|);
    flag |value - med| / MAD > 3 — the heavy-tail-safe sibling of the
    z-score pass (events_anomaly). Two grouped exact-percentile
    aggregations (per-group sort at this scale; the histogram sketch
    in operators/sketch.py is the 100 TB replacement) and a broadcast
    rejoin of the per-type statistics."""
    e = load_events(spark, sf_dir)
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med"))
    dev = (
        e.join(F.broadcast(med), "event_type")
        .select("event_type", "event_id", "value", "med",
                F.abs(F.col("value") - F.col("med")).alias("adev"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .withColumn("score", F.round(
            F.abs(F.col("value") - F.col("med")) / F.col("mad"), 6))
        .filter(F.col("score") > 3.0)
        .select("event_id", "event_type", "value",
                F.round("med", 4).alias("med"),
                F.round("mad", 4).alias("mad"), "score")
        .orderBy("event_id")
    )


def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per event type: per-type mean/stddev
    broadcast back onto the stream of rows, flagging |z| > 2.5 — the
    scan-aggregate-rejoin shape of large-scale data validation."""
    e = load_events(spark, sf_dir)
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        e.join(F.broadcast(stats), "event_type")
        .withColumn("z", F.round(z, 6))
        .filter(F.abs(F.col("z")) > 2.5)
        .select("event_id", "event_type", "value", "z")
        .orderBy("event_id")
    )


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users reaching view → click → purchase
    strictly in time order. ONE events scan + ONE user-keyed shuffle:
    the stage timestamps chain through three whole-partition window
    minimums over the same partitioning (t2 = min click AFTER t1,
    t3 = min purchase AFTER t2 — each references the previous window's
    result, so they chain as selects but share the single Exchange),
    then a per-user collapse and a 3-row conditional count. r5: was 5
    scans + 3 join shuffles."""
    e = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    staged = (
        e.withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view",
                         F.col("ts"))).over(w))
        .withColumn(
            "t2",
            F.min(F.when((F.col("event_type") == "click")
                         & (F.col("ts") > F.col("t1")),
                         F.col("ts"))).over(w))
        .withColumn(
            "t3",
            F.min(F.when((F.col("event_type") == "purchase")
                         & (F.col("ts") > F.col("t2")),
                         F.col("ts"))).over(w))
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"),
        F.max("t3").alias("t3"))
    return (
        per_user.agg(
            F.count("t1").alias("n1"),
            F.count("t2").alias("n2"),
            F.count("t3").alias("n3"),
        )
        .select(F.expr(
            "stack(3, 1, 'view', n1, 2, 'click', n2,"
            " 3, 'purchase', n3) AS (step, step_name, n_users)"))
        .orderBy("step")
    )


def _error_sliver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filtered error stream events_error_burst windows over —
    split out so the plan test can assert the error filter reaches
    the parquet scan (the operator localCheckpoints the bucketed
    sliver, which hides the scan from the final plan)."""
    return (
        load_events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            "user_id", "ts", "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
    )


def events_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequential pattern detection: error
    storms — runs of >= 3 consecutive ``error`` events (across all
    users), each within 5 minutes of the previous — the alerting
    pattern SQL:2016 writes as ``PATTERN (E{3,})`` with a time
    predicate, expressed as gaps-and-islands (lag + cumulative sum)
    over the filtered stream.

    Scale shape: the error filter pushes into the scan first (errors
    are a sliver of the stream), then the islands run DISTRIBUTED
    over the filtered frame — time-range buckets (equi-depth, from
    one approxQuantile pass over the sliver; equal timestamps never
    span buckets) with literal-map boundary stitching: the lag at
    each bucket's first row is the previous buckets' max timestamp,
    and the global island id is the local flag cumsum + a prefix sum
    of per-bucket flag counts — both ≤B-entry driver-side literal
    maps from ONE bounded per-bucket stats job (B is conf-bound, the
    centroid-pull scalar class). No
    unpartitioned window anywhere (the pre-r11 form ran both windows
    globally ordered — a single-task sort of the error stream at
    100 TB)."""
    from gizmosql_spark.operators import scale

    e = _error_sliver(spark, sf_dir)
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    bnds = scale.range_boundaries(
        e, ["ts_us"], n_buckets, cache_key=(sf_dir, "error_ts"))[0]
    bexpr = F.lit(0)
    for b in sorted({v for v in bnds if v is not None}):
        bexpr = bexpr + (F.col("ts_us") > F.lit(b)).cast("int")
    # materialize the bucketed sliver once: the islands window, the
    # boundary-max fold and the flag-count fold are three separate
    # subplans, and each would otherwise recompute the full corpus
    # scan behind the error filter (measured at sf10: 8.2 s
    # unmaterialized vs 3.2 s in r10; at 100 TB each recompute is a
    # complete stream scan). The filter still pushes into that one
    # scan — tests/test_plans.py pins it on _error_sliver's plan.
    w_loc = Window.partitionBy("__bkt").orderBy("ts", "event_id")
    w_run = w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    # ONE bounded stats job over the checkpointed sliver: per bucket,
    # (min ts, max ts, count of INTRA-bucket gap flags — rows whose
    # in-bucket lag exists and exceeds 5 min). ≤B rows collect to the
    # driver (B is conf-bound — the centroid-pull scalar class); the
    # boundary stitch folds in Python. r11 optimization: this replaces
    # the r11-build's two sequential broadcast collect_list-fold
    # subplans (each a broadcast-build job, the second re-executing
    # the window+join lineage) with one job and two ≤B-entry literal
    # maps — no joins left in the plan.
    intra = F.when(
        F.col("__prev").isNotNull()
        & (F.col("ts_us") - F.col("__prev") > 300_000_000), 1
    ).otherwise(0)
    # r12: the bucketed sliver and its boundary stats are
    # deterministic per fixture dir — keyed-persist + scalar cache
    # (scale.keyed_frame_scalars) replaces the per-call
    # localCheckpoint + collect, so warm invocations run one job
    be, stats = scale.keyed_frame_scalars(
        spark, sf_dir,
        f"{sf_dir}:error_burst_sliver:{scale._boundary_sig([bnds])}",
        e.withColumn("__bkt", bexpr),
        lambda bdf: sorted(
            (r["__bkt"], r["__mn"], r["__mx"], r["__f"])
            for r in (
                bdf.withColumn("__prev", F.lag("ts_us").over(w_loc))
                .groupBy("__bkt")
                .agg(F.min("ts_us").alias("__mn"),
                     F.max("ts_us").alias("__mx"),
                     F.sum(intra).alias("__f"))
                .collect())))
    pmax: dict[int, int] = {}      # bucket -> max ts of earlier buckets
    pflags: dict[int, int] = {}    # bucket -> flag count in earlier buckets
    run_max = None
    cum = 0
    for b, mn, mx, f in stats:
        if run_max is not None:
            pmax[b] = run_max
        first_flag = 1 if (run_max is None
                           or mn - run_max > 300_000_000) else 0
        pflags[b] = cum
        cum += int(f) + first_flag
        run_max = mx if run_max is None or mx > run_max else run_max

    def _lmap(pairs: dict[int, int]):
        if not pairs:
            return F.lit(None).cast("long")
        return F.element_at(
            F.create_map(*[
                x for k, v in pairs.items()
                for x in (F.lit(int(k)), F.lit(int(v)).cast("long"))]),
            F.col("__bkt"))

    prev_us = F.coalesce(F.lag("ts_us").over(w_loc), _lmap(pmax))
    is_new = F.when(
        prev_us.isNull() | (F.col("ts_us") - prev_us > 300_000_000), 1
    ).otherwise(0)
    islands = (
        be.withColumn("__new", is_new)
        .withColumn("__cum_loc", F.sum("__new").over(w_run))
        .withColumn(
            "island",
            F.col("__cum_loc") + F.coalesce(_lmap(pflags),
                                            F.lit(0).cast("long")))
        .select("user_id", "ts", "event_id", "island")
    )
    return (
        islands.groupBy("island")
        .agg(
            F.count(F.lit(1)).alias("burst_len"),
            F.min("ts").alias("burst_start"),
            F.max("ts").alias("burst_end"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .filter(F.col("burst_len") >= 3)
        .select("burst_start", "burst_end", "burst_len", "n_users")
        .orderBy("burst_start")
    )


_PATH_TOP = 10


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-path analysis: the most common 3-event sequences
    (consecutive per user in time order) — the product-analytics
    question "what do users do right before purchasing?".

    Scale shape: one shuffle on user_id carries the two lead windows,
    then a (path) partial agg and TakeOrderedAndProject top-k. No
    joins, no collects."""
    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        e.select(
            "user_id",
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(_PATH_TOP)
        .select(
            F.row_number().over(
                Window.orderBy(F.desc("n"), "path")).alias("rank"),
            "path", "n",
        )
    )


def pyds_synthetic_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the custom Python DataSource (sources/pydatasource.py):
    partition-parallel deterministic generator read through the planner
    (``spark.read.format("synthetic_events")``), aggregated per type.
    The oracle regenerates the same LCG rows with DuckDB ``range()``."""
    from gizmosql_spark.sources import pydatasource

    pydatasource.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 10000)
        # 4 partitions: still exercises the multi-partition planner
        # path, but each extra partition costs a Python read-worker
        # round trip (~0.1-0.5 s under load at this row count); at
        # real scale the option mirrors the upstream shard count
        .option("numPartitions", 4)
        .load()
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill (gap filling): per user,
    an hourly spine from the user's first to last active hour, hourly
    mean value where the user was active, last-observation-carried-
    forward where not — the feature-store densification step
    (reference: timeseries gapfill/locf surface, docs/sql_features.md).

    Scale shape: ONE shuffle on user_id carries the hourly partial
    agg, the spine generation (sequence+explode — rows scale with the
    covered time span, not the corpus), the spine⋈hourly co-located
    join, and the LOCF window. Nothing global; no collects."""
    e = load_events(spark, sf_dir).filter(F.col("user_id") < 40)
    hourly = (
        e.select("user_id", F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"), "value")
        .groupBy("user_id", "hour")
        .agg(F.round(F.avg("value"), 6).alias("hour_avg"))
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.last("hour_avg", ignorenulls=True).over(w).alias("filled"),
            F.col("hour_avg").isNull().alias("is_gap"),
        )
        .orderBy("user_id", "hour")
    )


#: EWMA smoothing factor and trailing-window length (rows)
_EWMA_ALPHA = 0.2
_EWMA_SPAN = 20


def ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user over the last
    20 observations: ewma_i = Σ_{j=0..19} α·(1-α)^j · x_{i-j} — the
    trailing-window form (zero-init, not mean-init), so the weights
    are closed-form and engine-portable.

    Spark-first shape: ONE user_id shuffle carries the ordered
    window; the trailing values ride as a collect_list over a
    20-row frame and the weighted sum folds JVM-side with
    ``F.aggregate`` (higher-order function — no Python, no join).
    The oracle computes the identical weighted sum as a bounded
    self-join. 100 TB: identical plan; frame arrays are 20 doubles
    regardless of scale."""
    e = load_events(spark, sf_dir).filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-(_EWMA_SPAN - 1), Window.currentRow)
    rn = F.row_number().over(w).cast("bigint")
    vals = F.collect_list(F.struct("rn", "value")).over(frame)
    a = float(_EWMA_ALPHA)
    ewma = F.aggregate(
        vals,
        F.lit(0.0),
        lambda acc, s: acc
        + F.lit(a)
        * F.pow(F.lit(1.0 - a), (F.col("rn") - s["rn"]).cast("double"))
        * s["value"],
    )
    return (
        e.select("user_id", "event_id", "ts", "value")
        .withColumn("rn", rn)
        .select(
            "user_id",
            "rn",
            "value",
            F.round(ewma, 6).alias("ewma"),
        )
        .orderBy("user_id", "rn")
    )


def interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval consolidation: each event opens a usage interval
    [ts, ts + (value%30 + 1) minutes]; merge overlapping intervals
    per user and report how many merged spans remain and the total
    covered seconds — the classic coverage/billing consolidation
    (gaps-and-islands over explicit intervals, beyond sessionize's
    fixed-gap form).

    Scale shape: one user_id shuffle; islands come from a running
    max(end) window (new island when start exceeds every prior end),
    then two partial aggs (island extents → user rollup)."""
    e = load_events(spark, sf_dir)
    iv = e.select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("start"),
        (
            F.col("ts").cast("timestamp")
            + F.make_dt_interval(
                F.lit(0), F.lit(0),
                # floor, not cast: DuckDB CAST(double AS INT) rounds
                # half-away where Spark truncates — floor agrees
                F.floor("value").cast("int") % 30 + 1,
            )
        ).alias("end"),
    )
    w = Window.partitionBy("user_id").orderBy("start", "end", "event_id")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    is_new = F.when(
        prev_max_end.isNull() | (F.col("start") > prev_max_end), 1
    ).otherwise(0)
    islands = iv.withColumn(
        "island",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    spans = islands.groupBy("user_id", "island").agg(
        F.min("start").alias("s"), F.max("end").alias("e")
    )
    return (
        spans.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.unix_micros("e") - F.unix_micros("s")
            ).alias("covered_us"),
        )
        .orderBy("user_id")
    )


def rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Pearson correlation between each user's value series
    and its own lag-1 (autocorrelation proxy) over a trailing 20-row
    frame, sampled every 25th row — the drift/seasonality probe of a
    monitoring pipeline.

    Scale shape: one user_id shuffle carries the lag and the framed
    corr; the rn%25 sample bounds output, not compute. corr is a
    single-pass co-moment aggregate in both engines."""
    e = load_events(spark, sf_dir).filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-(_EWMA_SPAN - 1), Window.currentRow)
    lagged = (
        e.select("user_id", "ts", "event_id", "value")
        .withColumn("prev", F.lag("value").over(w))
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
    )
    return (
        lagged.withColumn("c", F.corr("value", "prev").over(frame))
        .filter((F.col("rn") % 25 == 0) & (F.col("rn") >= _EWMA_SPAN))
        .select("user_id", "rn",
                # corr straddles zero → + 0.0 (signed-zero normalizer)
                (F.round("c", 6) + F.lit(0.0)).alias("auto_corr"))
        .orderBy("user_id", "rn")
    )


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection per event type: the cumulative sum
    of deviations of daily mean value from the type's overall mean;
    the day where |S| peaks is the most likely changepoint, and the
    peak magnitude (normalized by σ·√n) is the drift signal — the
    monitoring primitive behind data-drift alarms.

    Scale shape: one (type, day) partial agg; mean/σ and the cumsum
    ride windows over the types×days frame; the argmax is one more
    window. All tie-breaks on date."""
    e = load_events(spark, sf_dir)
    daily = (
        e.groupBy(
            "event_type",
            F.to_date(F.col("ts").cast("timestamp")).alias("d"),
        )
        .agg(F.avg("value").alias("m"))
    )
    w_type = Window.partitionBy("event_type")
    w_cum = w_type.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    scored = daily.select(
        "event_type",
        "d",
        F.sum(F.col("m") - F.avg("m").over(w_type)).over(w_cum).alias("s"),
        F.stddev_pop("m").over(w_type).alias("sd"),
        F.count(F.lit(1)).over(w_type).alias("n"),
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("s"))), "d")
    return (
        scored.withColumn("rk", F.row_number().over(w_pick))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("d").alias("changepoint_day"),
            F.round(F.abs("s") / (F.col("sd") * F.sqrt("n")), 6)
            .alias("drift_stat"),
            F.col("n").alias("n_days"),
        )
        .orderBy("event_type")
    )


def runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type: are values above/
    below the type median randomly ordered in time, or do they
    cluster (trend/regime behavior)? Reports observed runs, expected
    runs, and the z-statistic — the sequence-randomness QA check.

    Scale shape: the median is a per-type exact percentile; the
    above/below flags and run boundaries ride one time-ordered window
    per type; the closing agg is types-sized."""
    e = load_events(spark, sf_dir)
    w_type = Window.partitionBy("event_type")
    w_seq = Window.partitionBy("event_type").orderBy("ts", "event_id")
    flagged = (
        e.select("event_type", "ts", "event_id", "value")
        .withColumn("med", F.percentile("value", F.lit(0.5)).over(w_type))
        .filter(F.col("value") != F.col("med"))
        .withColumn("above", (F.col("value") > F.col("med")).cast("int"))
    )
    runs = flagged.withColumn(
        "new_run",
        F.when(
            F.lag("above").over(w_seq).isNull()
            | (F.lag("above").over(w_seq) != F.col("above")),
            1,
        ).otherwise(0),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum("new_run").alias("n_runs"),
        F.sum("above").cast("double").alias("n_pos"),
        F.sum(1 - F.col("above")).cast("double").alias("n_neg"),
    )
    n = F.col("n_pos") + F.col("n_neg")
    exp_runs = 2 * F.col("n_pos") * F.col("n_neg") / n + 1
    var_runs = (
        (exp_runs - 1) * (exp_runs - 2) / (n - 1)
    )
    return agg.select(
        "event_type",
        "n_runs",
        F.round(exp_runs, 4).alias("expected_runs"),
        # z straddles zero -> + 0.0 (signed-zero normalizer)
        (F.round((F.col("n_runs") - exp_runs) / F.sqrt(var_runs), 4)
         + F.lit(0.0)).alias("z_stat"),
    ).orderBy("event_type")


def sax_symbolization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic aggregation (Lin et al. 2003): z-normalize each
    event type's hourly count series and map each hour to a 4-symbol
    alphabet (breakpoints −0.6745/0/0.6745 — the standard-normal
    quartiles), emitting one 24-char word per (type, day) — the
    discretization that turns time-series motif/anomaly mining into
    string algorithms (the dedup/winnowing machinery then applies
    as-is).

    Scale shape: one (type, day, hour) partial agg; μ/σ ride windows
    over the per-type frame; the word assembly is a days-sized
    collect. Z-scores round to 6 in-engine before symbol compare so a
    breakpoint can't flip between engines."""
    e = load_events(spark, sf_dir)
    hourly = (
        e.groupBy(
            "event_type",
            F.to_date(F.col("ts").cast("timestamp")).alias("d"),
            F.hour(F.col("ts").cast("timestamp")).alias("hr"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    w_type = Window.partitionBy("event_type")
    z = F.round(
        (F.col("n") - F.avg("n").over(w_type))
        / F.stddev_pop("n").over(w_type),
        6,
    )
    sym = (
        F.when(z < -0.6745, "a")
        .when(z < 0.0, "b")
        .when(z < 0.6745, "c")
        .otherwise("d")
    )
    return (
        hourly.select("event_type", "d", "hr", sym.alias("s"))
        .groupBy("event_type", "d")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("hr", "s"))),
                    lambda x: x["s"],
                ),
            ).alias("sax_word"),
            F.count(F.lit(1)).alias("n_hours"),
        )
        .orderBy("event_type", "d")
    )


def gini_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user value concentration within each
    event type — the inequality screen (is 1% of users generating 90%
    of the value?) that decides whether aggregates need heavy-hitter
    treatment. Computed with the sorted-cumulative formula
    G = (2·Σ i·x_i)/(n·Σ x_i) − (n+1)/n over per-user totals ranked
    within each type.

    Scale shape: one (type, user) partial agg, one rank window over
    the users-sized frame, one closing agg. Ties rank by user_id so
    the index is total-ordered and engine-portable."""
    e = load_events(spark, sf_dir)
    per_user = e.groupBy("event_type", "user_id").agg(
        F.sum("value").alias("x"))
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    ranked = per_user.withColumn(
        "i", F.row_number().over(w).cast("double"))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(
                2 * F.sum(F.col("i") * F.col("x"))
                / (F.count(F.lit(1)) * F.sum("x"))
                - (F.count(F.lit(1)) + 1) / F.count(F.lit(1)),
                6,
            ).alias("gini"),
        )
        .orderBy("event_type")
    )


def churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard: for each age-week k (weeks since a
    user's first event), the probability a user's LAST activity falls
    at age k given they survived to k — the survival-analysis curve
    behind retention forecasting (events_retention counts cohorts;
    this estimates the hazard function).

    Scale shape: one user agg (first/last timestamps), one age
    partial agg, then windows over the ≤max-age frame for the
    at-risk denominator."""
    e = load_events(spark, sf_dir)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    spans = e.groupBy("user_id").agg(
        F.min(ts_us).alias("first_us"), F.max(ts_us).alias("last_us"))
    week_us = 7 * 24 * 3600 * 1_000_000
    last_age = spans.select(
        F.floor((F.col("last_us") - F.col("first_us")) / week_us)
        .cast("int").alias("age"))
    ended = last_age.groupBy("age").agg(
        F.count(F.lit(1)).alias("n_ended"))
    w_desc = Window.orderBy(F.desc("age")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (
        ended.withColumn("at_risk", F.sum("n_ended").over(w_desc))
        .select(
            "age",
            "n_ended",
            "at_risk",
            F.round(F.col("n_ended") / F.col("at_risk"), 6)
            .alias("hazard"),
        )
        .orderBy("age")
    )


def funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: per user, the time from first view → first
    click and first click → first purchase (only when ordered
    correctly); report conversions, median and p90 hours per
    transition — the timing companion to events_funnel's counts.

    Scale shape: one user agg computes all three first-touch
    timestamps (conditional min — no joins at all), then a 2-row
    rollup with exact percentiles over the per-user deltas."""
    e = load_events(spark, sf_dir)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", ts_us)).alias("v"),
        F.min(F.when(F.col("event_type") == "click", ts_us)).alias("c"),
        F.min(F.when(F.col("event_type") == "purchase", ts_us)).alias("p"),
    )
    deltas = firsts.select(
        F.when(
            F.col("c").isNotNull() & F.col("v").isNotNull()
            & (F.col("c") >= F.col("v")),
            (F.col("c") - F.col("v")) / 3.6e9,
        ).alias("view_to_click_h"),
        F.when(
            F.col("p").isNotNull() & F.col("c").isNotNull()
            & (F.col("p") >= F.col("c")),
            (F.col("p") - F.col("c")) / 3.6e9,
        ).alias("click_to_purchase_h"),
    )
    stages = deltas.select(
        F.lit("1_view_to_click").alias("stage"),
        F.col("view_to_click_h").alias("h"),
    ).union(
        deltas.select(
            F.lit("2_click_to_purchase").alias("stage"),
            F.col("click_to_purchase_h").alias("h"),
        )
    )
    return (
        stages.filter(F.col("h").isNotNull())
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.round(F.percentile("h", F.lit(0.5)), 4).alias("median_h"),
            F.round(F.percentile("h", F.lit(0.9)), 4).alias("p90_h"),
        )
        .orderBy("stage")
    )


def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users cohorted by first-activity
    week; per (cohort, weeks-since-start) report active users and the
    cohort's cumulative value per original member — the
    revenue-retention sibling of events_retention's user counts.

    Scale shape: the first-event frame is one user agg joined back
    co-partitioned on user_id; the curve is a (cohort, age) partial
    agg plus windows over the cohorts×ages frame."""
    e = load_events(spark, sf_dir)
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min(F.col("ts").cast("timestamp")))
        .alias("cohort_week"))
    cohort_size = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users"))
    aged = (
        e.join(first, "user_id")
        .select(
            "user_id", "value", "cohort_week",
            F.floor(
                (F.unix_micros(F.col("ts").cast("timestamp"))
                 - F.unix_micros("cohort_week"))
                / (7 * 24 * 3600 * 1_000_000)
            ).cast("int").alias("age_weeks"),
        )
    )
    curve = aged.groupBy("cohort_week", "age_weeks").agg(
        F.count_distinct("user_id").alias("active_users"),
        F.sum("value").alias("week_value"),
    )
    w_cum = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        curve.join(F.broadcast(cohort_size), "cohort_week")
        .select(
            "cohort_week",
            "age_weeks",
            "active_users",
            F.round(
                F.sum("week_value").over(w_cum) / F.col("n_users"), 4
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort_week", "age_weeks")
    )


def seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative hour-of-day seasonality per event type: each
    hour-slot's average event count divided by the type's all-hours
    average — the load-shaping profile that capacity planning and
    anomaly baselines consume (the seasonal component Holt's trend
    fold deliberately leaves out).

    Scale shape: one (type, date, hour) partial agg builds the daily
    grid, a second collapses to (type, hour); the normalizer rides a
    window over the 24·|types| frame. Output pivots compactly to one
    row per type with a 24-slot index array."""
    e = load_events(spark, sf_dir)
    per_day = (
        e.select(
            "event_type",
            F.to_date(F.col("ts").cast("timestamp")).alias("d"),
            F.hour(F.col("ts").cast("timestamp")).alias("hr"),
        )
        .groupBy("event_type", "d", "hr")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    per_slot = per_day.groupBy("event_type", "hr").agg(
        F.avg("n").alias("slot_avg"))
    w_type = Window.partitionBy("event_type")
    idx = per_slot.select(
        "event_type",
        "hr",
        F.round(
            F.col("slot_avg") / F.avg("slot_avg").over(w_type), 6
        ).alias("season_idx"),
    )
    return (
        idx.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("hr", "season_idx"))),
                lambda s: s["season_idx"],
            ).alias("hourly_index"),
            F.round(F.max("season_idx"), 6).alias("peak"),
            F.round(F.min("season_idx"), 6).alias("trough"),
        )
        .orderBy("event_type")
    )


def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-calibration reliability bins: treat value/100 as a
    predicted purchase probability, event_type='purchase' as the
    outcome, and report per-decile mean prediction vs observed rate
    plus each bin's expected-calibration-error contribution — the
    eval-harness primitive behind every classifier scorecard.

    Scale shape: one scan, one 10-group partial agg; the ECE
    normalizer rides a window over the 10-row frame."""
    e = load_events(spark, sf_dir)
    score = F.least(F.col("value") / 100.0, F.lit(0.9999))
    hit = (F.col("event_type") == "purchase").cast("double")
    binned = e.select(
        F.floor(score * 10).cast("int").alias("bin"),
        score.alias("score"),
        hit.alias("hit"),
    )
    w_all = Window.partitionBy()
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("score"), 6).alias("mean_pred"),
            F.round(F.avg("hit"), 6).alias("obs_rate"),
        )
        .select(
            "bin",
            "n",
            "mean_pred",
            "obs_rate",
            F.round(
                F.abs(F.col("mean_pred") - F.col("obs_rate"))
                * F.col("n") / F.sum("n").over(w_all),
                6,
            ).alias("ece_term"),
        )
        .orderBy("bin")
    )


#: attribution lookback window (microseconds): 7 days
_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: credit each purchase to the
    user's most recent preceding non-purchase event within a 7-day
    lookback ('direct' when none qualifies), and report conversions,
    revenue, and mean minutes-to-convert per channel.

    Scale shape: ONE user_id shuffle carries the masked last-ignore-
    nulls windows; the rollup is a channels-sized partial agg. The
    masked-window device (CASE inside last IGNORE NULLS) is the
    standard way to express 'most recent row of another kind' without
    a self-join."""
    e = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    touch_ts = F.last(
        F.when(not_purchase, F.unix_micros(F.col("ts").cast("timestamp"))),
        ignorenulls=True,
    ).over(w)
    touch_type = F.last(
        F.when(not_purchase, F.col("event_type")), ignorenulls=True
    ).over(w)
    purchases = (
        e.select("user_id", "ts", "event_id", "event_type", "value")
        .withColumn("t_ts", touch_ts)
        .withColumn("t_type", touch_type)
        .filter(F.col("event_type") == "purchase")
        .withColumn(
            "delta_us",
            F.unix_micros(F.col("ts").cast("timestamp")) - F.col("t_ts"),
        )
    )
    qualified = F.col("t_ts").isNotNull() & (
        F.col("delta_us") <= _ATTR_WINDOW_US)
    return (
        purchases.select(
            F.when(qualified, F.col("t_type"))
            .otherwise(F.lit("direct"))
            .alias("channel"),
            "value",
            F.when(qualified, F.col("delta_us") / 60e6).alias("mins"),
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum("value"), 4).alias("revenue"),
            F.round(F.avg("mins"), 4).alias("avg_mins_to_convert"),
        )
        .orderBy("channel")
    )


#: association-rule thresholds: a (type_a → type_b) rule must have
#: this many distinct-user co-occurrences to surface
_ASSOC_MIN_SUPPORT = 5


def assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over per-user event-type
    baskets: support / confidence / lift for every ordered pair of
    distinct event types the same user performed — the co-occurrence
    mining step (the 2-itemset tier of FP-growth-style pipelines).

    Scale shape: baskets dedup with one (user,type) shuffle; the
    pair join is user-keyed and co-partitioned with it; item counts
    are a vocabulary-sized frame broadcast into the rule scoring.
    Domain-bounded output (|types|² rows)."""
    e = load_events(spark, sf_dir)
    basket = e.select("user_id", "event_type").distinct()
    # 1-row user-count frame cross-joined in (no separate .count()
    # action — the whole rule table is one plan, one basket build)
    n_users_df = basket.agg(
        F.count_distinct("user_id").cast("double").alias("n_users"))
    a = basket.select("user_id", F.col("event_type").alias("ante"))
    b = basket.select("user_id", F.col("event_type").alias("cons"))
    pair_n = (
        a.join(b, "user_id")
        .filter(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("both_n"))
    )
    item_n = basket.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("item_n"))
    ante_n = item_n.select(F.col("event_type").alias("ante"),
                           F.col("item_n").alias("ante_n"))
    cons_n = item_n.select(F.col("event_type").alias("cons"),
                           F.col("item_n").alias("cons_n"))
    return (
        pair_n.join(F.broadcast(ante_n), "ante")
        .join(F.broadcast(cons_n), "cons")
        .crossJoin(F.broadcast(n_users_df))
        .filter(F.col("both_n") >= _ASSOC_MIN_SUPPORT)
        .select(
            "ante",
            "cons",
            "both_n",
            F.round(F.col("both_n") / F.col("n_users"), 6)
             .alias("support"),
            F.round(F.col("both_n") / F.col("ante_n"), 6)
             .alias("confidence"),
            F.round(
                (F.col("both_n") / F.col("n_users"))
                / ((F.col("ante_n") / F.col("n_users"))
                   * (F.col("cons_n") / F.col("n_users"))),
                6,
            ).alias("lift"),
        )
        .orderBy("ante", "cons")
    )


def auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC-ROC of "value predicts purchase" via the Mann-Whitney rank
    identity — the ranking-model evaluation head (CTR/quality-score
    models are judged exactly this way). Ties get the standard 0.5
    credit; the all-integer numerator (2·cumNeg + negEq per score)
    divides once at the end, so both engines produce the identical
    double.

    Scale shape: scores discretize to 4 decimals IN the engine, so
    the (score → pos/neg counts) partial agg is bounded by the score
    grid, not the row count; the cumulative window rides that scores
    frame. At 100 TB this is the standard binned-AUC single pass."""
    e = load_events(spark, sf_dir)
    scored = e.select(
        F.round(F.col("value"), 4).alias("s"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0).alias("is_pos"),
    )
    counts = scored.groupBy("s").agg(
        F.sum("is_pos").alias("pos_c"),
        F.sum(1 - F.col("is_pos")).alias("neg_c"),
    )
    w_cum = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    terms = counts.select(
        "pos_c",
        "neg_c",
        (F.sum("neg_c").over(w_cum) - F.col("neg_c")).alias("neg_below"),
    )
    return terms.agg(
        F.sum("pos_c").alias("n_pos"),
        F.sum("neg_c").alias("n_neg"),
        F.round(
            F.sum(F.col("pos_c") * (2 * F.col("neg_below") + F.col("neg_c")))
            / (2.0 * F.sum("pos_c") * F.sum("neg_c")),
            6,
        ).alias("auc"),
    ).select(
        "n_pos",
        "n_neg",
        "auc",
        F.round(2 * F.col("auc") - 1, 6).alias("gini_rank"),
    )


_ACF_MAX_LAG = 12


def acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly event-count series per
    type, lags 1..12 — the periodicity probe (a daily rhythm shows as
    high ACF at lag 24, burstiness as fast decay) that drives
    seasonality-aware forecasting and anomaly baselines.

    Scale shape: the corpus collapses to a (type, hour) count frame
    in one partial agg; the lag self-join and the Pearson sums run on
    that bounded series frame (hours × types rows, never row-scale) —
    materialized under bounded shuffle widths, since corpus-width
    task scheduling dwarfs the compute on the series frame. All sums
    are exact integers; one division + sqrt at the end."""
    spark = loader.bounded_session(spark)
    e = load_events(spark, sf_dir)
    s = (
        e.groupBy(
            "event_type",
            F.expr("unix_timestamp(cast(ts as timestamp)) div 3600")
            .alias("h"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = s.select(
        F.col("event_type").alias("et"),
        F.col("h").alias("h1"),
        F.col("c").alias("x"),
    ).withColumn(
        "lag", F.explode(F.sequence(F.lit(1), F.lit(_ACF_MAX_LAG))))
    b = s.select(
        F.col("event_type").alias("et2"),
        F.col("h").alias("h2"),
        F.col("c").alias("y"),
    )
    pairs = a.join(
        b,
        (F.col("et") == F.col("et2"))
        & (F.col("h2") == F.col("h1") + F.col("lag")),
    )
    agg = pairs.groupBy(F.col("et").alias("event_type"), "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    r = (
        (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.sqrt(
            (F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("double")
            * (F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    )
    # acf straddles zero -> + 0.0 (signed-zero normalizer)
    res = agg.select(
        "event_type", "lag", "n_pairs",
        (F.round(r, 6) + F.lit(0.0)).alias("acf"))
    out = loader.keyed_persist(
        spark, sf_dir, f"events.acf:{sf_dir}", lambda: res)
    out.count()
    return out.orderBy("event_type", "lag")


def theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the median of all
    pairwise day-to-day slopes of the daily mean value — the
    outlier-proof drift estimator (one crazy day moves OLS, not the
    pairwise median), reported next to the OLS slope for contrast.

    Scale shape: the corpus collapses to a (type, day) mean frame in
    one partial agg (means rounded IN the engine so pair slopes are
    engine-portable); the day×day pair join and the median run on
    that bounded frame (days² per type, not rows). The OLS slope is
    a second partial agg on the same frame."""
    e = load_events(spark, sf_dir)
    daily = e.groupBy(
        "event_type",
        F.to_date(F.col("ts").cast("timestamp")).alias("d"),
    ).agg(F.round(F.avg("value"), 6).alias("m"))
    a = daily.select(
        F.col("event_type").alias("et"),
        F.col("d").alias("d1"),
        F.col("m").alias("m1"),
    )
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"),
        F.col("m").alias("m2"),
    )
    pairs = a.join(
        b, (F.col("et") == F.col("et2")) & (F.col("d1") < F.col("d2")))
    slopes = pairs.select(
        "et",
        (
            (F.col("m2") - F.col("m1"))
            / F.datediff(F.col("d2"), F.col("d1"))
        ).alias("slope"),
    )
    # slopes straddle zero → + 0.0 normalizes DuckDB's signed-zero
    # round() output (see relational.stats_agg)
    ts_agg = slopes.groupBy(F.col("et").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.round(F.median("slope"), 6) + F.lit(0.0)).alias("ts_slope"),
    )
    ols = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.round(
            F.regr_slope(
                "m", F.datediff(F.col("d"), F.lit("2024-01-01")).cast("double")
            ),
            6,
        ) + F.lit(0.0)).alias("ols_slope"),
    )
    return (
        ts_agg.join(ols, "event_type")
        .select("event_type", "n_days", "n_pairs", "ts_slope", "ols_slope")
        .orderBy("event_type")
    )


def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over engineered event
    features (value, hour-of-day, day-of-week, props-JSON length) —
    the feature-screening pass before any model fit, computed as ONE
    wide partial aggregate (all 6 pair moments in a single scan).

    Scale shape: no joins, no per-pair passes — the moment sums
    partial-agg map-side and the matrix assembles from one 1-row
    frame via stack/unpivot. Row count never touches the shuffle."""
    e = load_events(spark, sf_dir)
    feats = e.select(
        F.col("value").alias("f_value"),
        F.hour(F.col("ts").cast("timestamp")).cast("double")
        .alias("f_hod"),
        F.dayofweek(F.col("ts").cast("timestamp")).cast("double")
        .alias("f_dow"),
        F.length("props").cast("double").alias("f_plen"),
    )
    names = ["f_value", "f_hod", "f_dow", "f_plen"]
    aggs = []
    pair_cols = []
    for i, x in enumerate(names):
        for y in names[i + 1:]:
            c = f"c_{x}_{y}"
            # corr straddles zero → + 0.0 kills the -0.0/+0.0 split
            aggs.append((F.round(F.corr(x, y), 6) + F.lit(0.0)).alias(c))
            pair_cols.append((x, y, c))
    aggs.append(F.count(F.lit(1)).alias("n"))
    one = feats.agg(*aggs)
    stack = ", ".join(
        f"'{x}', '{y}', {c}" for x, y, c in pair_cols)
    return (
        one.selectExpr(
            "n",
            f"stack({len(pair_cols)}, {stack}) AS (feat_x, feat_y, corr)",
        )
        .select("feat_x", "feat_y", "corr", "n")
        .orderBy("feat_x", "feat_y")
    )


def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between value and hour-of-day per
    event type — the monotonic-association screen that survives
    outliers and nonlinearity where Pearson doesn't. Standard
    average-rank tie handling; ranks are exact halves, so every sum
    is exactly representable and the statistic is engine-portable
    without rounding tricks.

    Scale shape: two rank windows on the same type-partitioned
    shuffle; the Pearson-on-ranks sums are one per-type partial
    agg."""
    e = load_events(spark, sf_dir)
    base = e.select(
        "event_type",
        F.col("value").alias("v"),
        F.hour(F.col("ts").cast("timestamp")).cast("double").alias("hd"),
    )
    w_v = Window.partitionBy("event_type").orderBy("v")
    w_vt = Window.partitionBy("event_type", "v")
    w_h = Window.partitionBy("event_type").orderBy("hd")
    w_ht = Window.partitionBy("event_type", "hd")
    ranked = base.select(
        "event_type",
        (F.rank().over(w_v)
         + (F.count(F.lit(1)).over(w_vt) - 1) / 2.0).alias("rx"),
        (F.rank().over(w_h)
         + (F.count(F.lit(1)).over(w_ht) - 1) / 2.0).alias("ry"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    rho = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    )
    return (
        agg.select("event_type", "n",
                   # rho straddles zero → + 0.0 (signed-zero normalizer)
                   (F.round(rho, 6) + F.lit(0.0)).alias("spearman_rho"))
        .orderBy("event_type")
    )


def mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type over the daily mean
    series: S = Σ sign(m_j − m_i) for i<j, tie-corrected variance,
    and the continuity-corrected z statistic — the nonparametric
    companion to theil_sen's slope (is the trend significant, not
    just how steep). Integer-exact until the final sqrt.

    Scale shape: everything after the one (type, day) partial agg
    runs on the bounded daily frame (pairs, tie groups, variance)."""
    e = load_events(spark, sf_dir)
    daily = e.groupBy(
        "event_type",
        F.to_date(F.col("ts").cast("timestamp")).alias("d"),
    ).agg(F.round(F.avg("value"), 6).alias("m"))
    a = daily.select(
        F.col("event_type").alias("et"),
        F.col("d").alias("d1"), F.col("m").alias("m1"))
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"), F.col("m").alias("m2"))
    s_agg = (
        a.join(b, (F.col("et") == F.col("et2")) & (F.col("d1") < F.col("d2")))
        .groupBy(F.col("et").alias("event_type"))
        .agg(
            F.sum(F.signum(F.col("m2") - F.col("m1")).cast("long"))
            .alias("s_stat"))
    )
    nd = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    ties = (
        daily.groupBy("event_type", "m")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(F.sum(
            F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
        ).alias("tie_corr"))
    )
    var_s = (
        (F.col("n_days") * (F.col("n_days") - 1)
         * (2 * F.col("n_days") + 5) - F.col("tie_corr")) / 18.0
    )
    z = (
        F.when(F.col("s_stat") > 0,
               (F.col("s_stat") - 1) / F.sqrt(F.col("var_s")))
        .when(F.col("s_stat") < 0,
              (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    return (
        s_agg.join(nd, "event_type")
        .join(ties, "event_type")
        .withColumn("var_s", F.round(var_s, 4))
        .select(
            "event_type", "n_days", "s_stat", "var_s",
            # z straddles zero → + 0.0 (signed-zero normalizer)
            (F.round(z, 6) + F.lit(0.0)).alias("z_stat"),
            F.when(F.abs(F.round(z, 6)) > 1.96,
                   F.when(F.col("s_stat") > 0, "increasing")
                   .otherwise("decreasing"))
            .otherwise(F.lit("no-trend")).alias("trend"),
        )
        .orderBy("event_type")
    )


def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interarrival-time statistics per event type: mean gap, the
    coefficient of variation, and the Goh-Barabási burstiness
    B = (σ−μ)/(σ+μ) (−1 periodic, 0 Poisson, →1 bursty) — the
    arrival-process fingerprint behind capacity planning and anomaly
    baselines.

    Scale shape: one time-ordered lag window per type (the same
    type-keyed shuffle carries the closing partial agg); gaps are
    exact µs integers before the double statistics."""
    e = load_events(spark, sf_dir)
    # µs epoch is order-isomorphic to ts, so the lag window sorts on it
    w_seq = Window.partitionBy("event_type").orderBy("us", "event_id")
    gaps = (
        e.select(
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
        )
        .withColumn("gap_s", (F.col("us") - F.lag("us").over(w_seq)) / 1e6)
        .filter(F.col("gap_s").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.avg("gap_s"), 6).alias("mean_gap_s"),
            F.round(F.stddev_pop("gap_s") / F.avg("gap_s"), 6).alias("cv"),
            F.round(
                (F.stddev_pop("gap_s") - F.avg("gap_s"))
                / (F.stddev_pop("gap_s") + F.avg("gap_s")),
                6,
            ).alias("burstiness"),
        )
        .orderBy("event_type")
    )


def markov_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov analysis of per-user event-type sequences:
    transition counts (prev → next) and the per-state transition
    entropy H(next | prev) in bits — how predictable each state's
    continuation is (the sequence-compressibility signal next to
    events_top_paths' raw trigrams).

    Scale shape: one user-keyed lag window builds transitions, one
    (prev, next) partial agg counts them; entropy terms are rounded
    per-contribution IN the engine before the ≤states-sized sum so
    group-sum order can't drift."""
    e = load_events(spark, sf_dir)
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            "user_id", "event_type", "ts", "event_id",
            F.lag("event_type").over(w_seq).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_prev = Window.partitionBy("prev_type")
    scored = trans.select(
        "prev_type",
        "c",
        # + 0.0: a state with a single outgoing transition has p = 1 →
        # -1.0 * log2(1.0) = -0.0 — IEEE signed-zero normalizer,
        # symmetric with the oracle (lint_float_aggs rule)
        (F.round(
            -(F.col("c") / F.sum("c").over(w_prev))
            * F.log2(F.col("c") / F.sum("c").over(w_prev)),
            9,
        ) + F.lit(0.0)).alias("h_term"),
    )
    return (
        scored.groupBy("prev_type")
        .agg(
            F.sum("c").alias("n_trans"),
            F.round(F.sum("h_term"), 6).alias("entropy_bits"),
        )
        .orderBy("prev_type")
    )


#: 24-hour half-life decay rate (ln 2 / 24h); identical literal in
#: the oracle so both engines evaluate the same exponent
_DECAY_LAMBDA = __import__("math").log(2) / 24.0


def decayed_user_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed user engagement score: Σ value · exp(−λ·Δhours)
    with a 24-hour half-life, anchored at the corpus max event time —
    the recency-weighted feature that powers "current activity"
    rankings without any windowing state.

    Scale shape: the anchor is a 1-row broadcast; scoring is one scan
    + one user partial agg (map-side combine); top-k presentation.
    A 1-ulp libm exp() difference moves a term by ~1e-14, absorbed by
    the 6-decimal rounding of the per-user sum."""
    e = load_events(spark, sf_dir)
    anchor = e.agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("max_us"))
    scored = e.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        (
            F.col("value")
            * F.exp(
                -F.lit(_DECAY_LAMBDA)
                * (
                    F.col("max_us")
                    - F.unix_micros(F.col("ts").cast("timestamp"))
                )
                / 3.6e9
            )
        ).alias("contrib"),
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("contrib"), 6).alias("decayed_score"),
        )
        .orderBy(F.desc("decayed_score"), "user_id")
        .limit(20)
    )


QUERIES = {
    "decayed_user_score": decayed_user_score,
    "auc_roc": auc_roc,
    "acf_lags": acf_lags,
    "theil_sen": theil_sen,
    "corr_matrix": corr_matrix,
    "spearman_corr": spearman_corr,
    "mann_kendall": mann_kendall,
    "interarrival_stats": interarrival_stats,
    "markov_transition_entropy": markov_transition_entropy,
    "events_json": events_json,
    "events_gap_fill": events_gap_fill,
    "ewma_value": ewma_value,
    "interval_union": interval_union,
    "rolling_corr": rolling_corr,
    "assoc_rules": assoc_rules,
    "events_attribution": events_attribution,
    "calibration_bins": calibration_bins,
    "seasonality_index": seasonality_index,
    "cohort_ltv": cohort_ltv,
    "funnel_timing": funnel_timing,
    "gini_value_concentration": gini_value_concentration,
    "sax_symbolization": sax_symbolization,
    "cusum_changepoint": cusum_changepoint,
    "runs_test": runs_test,
    "churn_hazard": churn_hazard,
    "pyds_synthetic_agg": pyds_synthetic_agg,
    "events_funnel": events_funnel,
    "events_error_burst": events_error_burst,
    "events_top_paths": events_top_paths,
    "events_retention": events_retention,
    "events_anomaly": events_anomaly,
    "events_mad_outliers": events_mad_outliers,
    "events_rfm": events_rfm,
    "events_wow_growth": events_wow_growth,
    "variant_funcs": variant_funcs,
    "time_interval_funcs": time_interval_funcs,
    "json_funcs": json_funcs,
    "events_hourly": events_hourly,
    "events_sliding": events_sliding,
    "events_sessionize": events_sessionize,
    "events_asof_join": events_asof_join,
}

ORACLE: dict[str, str] = {
    "decayed_user_score": f"""
        WITH anchor AS (
            SELECT max(epoch_us(ts)) AS max_us FROM events
        ), scored AS (
            SELECT user_id,
                   value * exp(-{_DECAY_LAMBDA!r}
                               * (a.max_us - epoch_us(ts)) / 3.6e9)
                       AS contrib
            FROM events CROSS JOIN anchor a
        )
        SELECT user_id, count(*) AS n_events,
               round(sum(contrib), 6) AS decayed_score
        FROM scored GROUP BY user_id
        ORDER BY decayed_score DESC, user_id LIMIT 20
    """,
    "corr_matrix": """
        WITH feats AS (
            SELECT value AS f_value,
                   CAST(hour(ts) AS DOUBLE) AS f_hod,
                   CAST(dayofweek(ts) + 1 AS DOUBLE) AS f_dow,
                   CAST(length(props) AS DOUBLE) AS f_plen
            FROM events
        ), one AS (
            SELECT count(*) AS n,
                   round(corr(f_value, f_hod), 6) + 0.0 AS c1,
                   round(corr(f_value, f_dow), 6) + 0.0 AS c2,
                   round(corr(f_value, f_plen), 6) + 0.0 AS c3,
                   round(corr(f_hod, f_dow), 6) + 0.0 AS c4,
                   round(corr(f_hod, f_plen), 6) + 0.0 AS c5,
                   round(corr(f_dow, f_plen), 6) + 0.0 AS c6
            FROM feats
        )
        SELECT 'f_value' AS feat_x, 'f_hod' AS feat_y, c1 AS corr, n
        FROM one
        UNION ALL SELECT 'f_value', 'f_dow', c2, n FROM one
        UNION ALL SELECT 'f_value', 'f_plen', c3, n FROM one
        UNION ALL SELECT 'f_hod', 'f_dow', c4, n FROM one
        UNION ALL SELECT 'f_hod', 'f_plen', c5, n FROM one
        UNION ALL SELECT 'f_dow', 'f_plen', c6, n FROM one
        ORDER BY feat_x, feat_y
    """,
    "spearman_corr": """
        WITH base AS (
            SELECT event_type, value AS v,
                   CAST(hour(ts) AS DOUBLE) AS hd
            FROM events
        ), ranked AS (
            SELECT event_type,
                   rank() OVER (PARTITION BY event_type ORDER BY v)
                   + (count(*) OVER (PARTITION BY event_type, v) - 1)
                     / 2e0 AS rx,
                   rank() OVER (PARTITION BY event_type ORDER BY hd)
                   + (count(*) OVER (PARTITION BY event_type, hd) - 1)
                     / 2e0 AS ry
            FROM base
        ), agg AS (
            SELECT event_type, count(*) AS n,
                   sum(rx) AS sx, sum(ry) AS sy,
                   sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
                   sum(rx * ry) AS sxy
            FROM ranked GROUP BY event_type
        )
        SELECT event_type, n,
               round((n * sxy - sx * sy)
                     / sqrt((n * sxx - sx * sx)
                            * (n * syy - sy * sy)), 6) + 0.0
                   AS spearman_rho
        FROM agg ORDER BY event_type
    """,
    "mann_kendall": """
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   round(avg(value), 6) AS m
            FROM events GROUP BY 1, 2
        ), s AS (
            SELECT a.event_type,
                   CAST(sum(sign(b.m - a.m)) AS BIGINT) AS s_stat
            FROM daily a
            JOIN daily b ON b.event_type = a.event_type AND a.d < b.d
            GROUP BY 1
        ), nd AS (
            SELECT event_type, count(*) AS n_days
            FROM daily GROUP BY 1
        ), ties AS (
            SELECT event_type,
                   CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                       AS tie_corr
            FROM (SELECT event_type, m, count(*) AS t
                  FROM daily GROUP BY 1, 2)
            GROUP BY 1
        ), v AS (
            SELECT s.event_type, nd.n_days, s.s_stat,
                   round((nd.n_days * (nd.n_days - 1)
                          * (2 * nd.n_days + 5) - ties.tie_corr)
                         / 18e0, 4) AS var_s
            FROM s JOIN nd USING (event_type)
            JOIN ties USING (event_type)
        ), z AS (
            SELECT event_type, n_days, s_stat, var_s,
                   round(CASE WHEN s_stat > 0
                              THEN (s_stat - 1) / sqrt(var_s)
                              WHEN s_stat < 0
                              THEN (s_stat + 1) / sqrt(var_s)
                              ELSE 0e0 END, 6) + 0.0 AS z_stat
            FROM v
        )
        SELECT event_type, n_days, s_stat, var_s, z_stat,
               CASE WHEN abs(z_stat) > 1.96
                    THEN CASE WHEN s_stat > 0 THEN 'increasing'
                              ELSE 'decreasing' END
                    ELSE 'no-trend' END AS trend
        FROM z ORDER BY event_type
    """,
    "interarrival_stats": """
        WITH gaps AS (
            SELECT event_type,
                   (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id))
                   / 1e6 AS gap_s
            FROM events
        )
        SELECT event_type,
               count(*) AS n_gaps,
               round(avg(gap_s), 6) AS mean_gap_s,
               round(stddev_pop(gap_s) / avg(gap_s), 6) AS cv,
               round((stddev_pop(gap_s) - avg(gap_s))
                     / (stddev_pop(gap_s) + avg(gap_s)), 6) AS burstiness
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY event_type ORDER BY event_type
    """,
    "markov_transition_entropy": """
        WITH trans AS (
            SELECT prev_type, event_type, count(*) AS c
            FROM (
                SELECT event_type,
                       lag(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_type
                FROM events
            )
            WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        ), scored AS (
            SELECT prev_type, c,
                   round(-(c / sum(c) OVER (PARTITION BY prev_type))
                         * log2(c / sum(c) OVER (PARTITION BY prev_type)),
                         9) + 0.0 AS h_term
            FROM trans
        )
        SELECT prev_type, CAST(sum(c) AS BIGINT) AS n_trans,
               round(sum(h_term), 6) AS entropy_bits
        FROM scored GROUP BY prev_type ORDER BY prev_type
    """,
    "auc_roc": """
        WITH scored AS (
            SELECT round(value, 4) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS is_pos
            FROM events
        ), counts AS (
            SELECT s, sum(is_pos) AS pos_c, sum(1 - is_pos) AS neg_c
            FROM scored GROUP BY s
        ), terms AS (
            SELECT pos_c, neg_c,
                   sum(neg_c) OVER (ORDER BY s) - neg_c AS neg_below
            FROM counts
        ), agg AS (
            SELECT CAST(sum(pos_c) AS BIGINT) AS n_pos,
                   CAST(sum(neg_c) AS BIGINT) AS n_neg,
                   round(sum(pos_c * (2 * neg_below + neg_c))
                         / (2e0 * sum(pos_c) * sum(neg_c)), 6) AS auc
            FROM terms
        )
        SELECT n_pos, n_neg, auc, round(2 * auc - 1, 6) AS gini_rank
        FROM agg
    """,
    "acf_lags": """
        WITH s AS (
            SELECT event_type,
                   date_diff('hour', TIMESTAMP '1970-01-01 00:00:00', ts)
                       AS h,
                   count(*) AS c
            FROM events GROUP BY 1, 2
        ), pairs AS (
            SELECT a.event_type, l.lag, a.c AS x, b.c AS y
            FROM s a
            CROSS JOIN range(1, 13) l(lag)
            JOIN s b ON b.event_type = a.event_type
                    AND b.h = a.h + l.lag
        ), agg AS (
            SELECT event_type, lag,
                   count(*) AS n_pairs,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * x) AS sxx, sum(y * y) AS syy,
                   sum(x * y) AS sxy
            FROM pairs GROUP BY 1, 2
        )
        SELECT event_type, CAST(lag AS INTEGER) AS lag,
               n_pairs,
               round((n_pairs * sxy - sx * sy)
                     / sqrt(CAST((n_pairs * sxx - sx * sx) AS DOUBLE)
                            * (n_pairs * syy - sy * sy)), 6) + 0.0 AS acf
        FROM agg
        ORDER BY event_type, lag
    """,
    "theil_sen": """
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   round(avg(value), 6) AS m
            FROM events GROUP BY 1, 2
        ), slopes AS (
            SELECT a.event_type,
                   (b.m - a.m) / date_diff('day', a.d, b.d) AS slope
            FROM daily a
            JOIN daily b ON b.event_type = a.event_type AND a.d < b.d
        ), ts_agg AS (
            SELECT event_type, count(*) AS n_pairs,
                   round(quantile_cont(slope, 0.5), 6) + 0.0 AS ts_slope
            FROM slopes GROUP BY 1
        ), ols AS (
            SELECT event_type, count(*) AS n_days,
                   round(regr_slope(
                       m, CAST(date_diff('day', DATE '2024-01-01', d)
                               AS DOUBLE)), 6) + 0.0 AS ols_slope
            FROM daily GROUP BY 1
        )
        SELECT t.event_type, o.n_days, t.n_pairs, t.ts_slope, o.ols_slope
        FROM ts_agg t JOIN ols o USING (event_type)
        ORDER BY t.event_type
    """,
    "events_gap_fill": """
        WITH hourly AS (
            SELECT user_id,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
                   round(avg(value), 6) AS hour_avg
            FROM events WHERE user_id < 40
            GROUP BY 1, 2
        ), spine AS (
            SELECT user_id,
                   unnest(generate_series(min(hour), max(hour),
                                          INTERVAL 1 HOUR)) AS hour
            FROM hourly GROUP BY user_id
        )
        SELECT s.user_id, s.hour,
               last_value(h.hour_avg IGNORE NULLS) OVER (
                   PARTITION BY s.user_id ORDER BY s.hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled,
               h.hour_avg IS NULL AS is_gap
        FROM spine s LEFT JOIN hourly h
          ON s.user_id = h.user_id AND s.hour = h.hour
        ORDER BY s.user_id, s.hour
    """,
    "ewma_value": """
        WITH src AS (
            SELECT user_id, event_id, value,
                   CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS BIGINT) AS rn
            FROM events WHERE user_id < 20
        )
        SELECT a.user_id, a.rn, a.value,
               round(sum(0.2 * power(0.8, a.rn - b.rn) * b.value), 6)
                   AS ewma
        FROM src a JOIN src b
          ON a.user_id = b.user_id
         AND b.rn BETWEEN a.rn - 19 AND a.rn
        GROUP BY a.user_id, a.rn, a.value
        ORDER BY a.user_id, a.rn
    """,
    "interval_union": """
        WITH iv AS (
            SELECT user_id, event_id,
                   CAST(ts AS TIMESTAMP) AS s,
                   CAST(ts AS TIMESTAMP)
                       + (CAST(floor(value) AS INTEGER) % 30 + 1)
                         * INTERVAL 1 MINUTE AS e
            FROM events
        ), flagged AS (
            SELECT user_id, s, e,
                   CASE WHEN max(e) OVER (
                            PARTITION BY user_id ORDER BY s, e, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING
                        ) IS NULL
                         OR s > max(e) OVER (
                            PARTITION BY user_id ORDER BY s, e, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING
                        ) THEN 1 ELSE 0 END AS is_new
            FROM iv
        ), islands AS (
            SELECT user_id, s, e,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM flagged
        ), spans AS (
            SELECT user_id, island, min(s) AS s, max(e) AS e
            FROM islands GROUP BY user_id, island
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(epoch_us(e) - epoch_us(s)) AS BIGINT)
                   AS covered_us
        FROM spans GROUP BY user_id
        ORDER BY user_id
    """,
    "rolling_corr": """
        WITH lagged AS (
            SELECT user_id, value,
                   lag(value) OVER w AS prev,
                   CAST(row_number() OVER w AS BIGINT) AS rn
            FROM events WHERE user_id < 100
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, rn, auto_corr FROM (
            SELECT user_id, rn,
                   round(corr(value, prev) OVER (
                       PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
                   ), 6) + 0.0 AS auto_corr
            FROM lagged
        ) WHERE rn % 25 = 0 AND rn >= 20
        ORDER BY user_id, rn
    """,
    "cusum_changepoint": """
        WITH daily AS (
            SELECT event_type,
                   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
                   avg(value) AS m
            FROM events GROUP BY 1, 2
        ), stats AS (
            SELECT event_type, avg(m) AS mu,
                   stddev_pop(m) AS sd, count(*) AS n
            FROM daily GROUP BY event_type
        ), scored AS (
            SELECT dd.event_type, dd.d,
                   sum(dd.m - st.mu)
                       OVER (PARTITION BY dd.event_type ORDER BY dd.d
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS s,
                   st.sd, st.n
            FROM daily dd JOIN stats st USING (event_type)
        ), picked AS (
            SELECT *, row_number() OVER (PARTITION BY event_type
                          ORDER BY abs(s) DESC, d) AS rk
            FROM scored
        )
        SELECT event_type, d AS changepoint_day,
               round(abs(s) / (sd * sqrt(n)), 6) AS drift_stat,
               CAST(n AS BIGINT) AS n_days
        FROM picked WHERE rk = 1
        ORDER BY event_type
    """,
    "runs_test": """
        WITH med AS (
            SELECT event_type,
                   quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ), flagged AS (
            SELECT e.event_type, e.ts, e.event_id,
                   CASE WHEN e.value > m.med THEN 1 ELSE 0 END AS above
            FROM events e JOIN med m USING (event_type)
            WHERE e.value <> m.med
        ), runs AS (
            SELECT event_type, above,
                   CASE WHEN lag(above) OVER w IS NULL
                         OR lag(above) OVER w <> above
                        THEN 1 ELSE 0 END AS new_run
            FROM flagged
            WINDOW w AS (PARTITION BY event_type
                         ORDER BY ts, event_id)
        ), agg AS (
            SELECT event_type,
                   CAST(sum(new_run) AS BIGINT) AS n_runs,
                   CAST(sum(above) AS DOUBLE) AS n_pos,
                   CAST(sum(1 - above) AS DOUBLE) AS n_neg
            FROM runs GROUP BY event_type
        )
        SELECT event_type, n_runs,
               round(2 * n_pos * n_neg / (n_pos + n_neg) + 1, 4)
                   AS expected_runs,
               round((n_runs - (2 * n_pos * n_neg / (n_pos + n_neg) + 1))
                     / sqrt((2 * n_pos * n_neg / (n_pos + n_neg))
                            * (2 * n_pos * n_neg / (n_pos + n_neg) - 1)
                            / (n_pos + n_neg - 1)), 4) + 0.0 AS z_stat
        FROM agg
        ORDER BY event_type
    """,
    "sax_symbolization": """
        WITH hourly AS (
            SELECT event_type,
                   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
                   extract(hour FROM CAST(ts AS TIMESTAMP)) AS hr,
                   CAST(count(*) AS DOUBLE) AS n
            FROM events GROUP BY 1, 2, 3
        ), scored AS (
            SELECT event_type, d, hr,
                   round((n - avg(n) OVER (PARTITION BY event_type))
                         / stddev_pop(n) OVER (PARTITION BY event_type),
                         6) AS z
            FROM hourly
        ), syms AS (
            SELECT event_type, d, hr,
                   CASE WHEN z < -0.6745 THEN 'a'
                        WHEN z < 0.0 THEN 'b'
                        WHEN z < 0.6745 THEN 'c'
                        ELSE 'd' END AS s
            FROM scored
        )
        SELECT event_type, d,
               string_agg(s, '' ORDER BY hr) AS sax_word,
               CAST(count(*) AS BIGINT) AS n_hours
        FROM syms GROUP BY event_type, d
        ORDER BY event_type, d
    """,
    "gini_value_concentration": """
        WITH per_user AS (
            SELECT event_type, user_id, sum(value) AS x
            FROM events GROUP BY 1, 2
        ), ranked AS (
            SELECT event_type, x,
                   CAST(row_number() OVER (PARTITION BY event_type
                        ORDER BY x, user_id) AS DOUBLE) AS i
            FROM per_user
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_users,
               round(2 * sum(i * x) / (count(*) * sum(x))
                     - (count(*) + 1.0) / count(*), 6) AS gini
        FROM ranked GROUP BY event_type
        ORDER BY event_type
    """,
    "churn_hazard": """
        WITH spans AS (
            SELECT user_id,
                   min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
                   max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
            FROM events GROUP BY user_id
        ), last_age AS (
            SELECT CAST(floor((last_us - first_us) / 604800000000.0)
                        AS INTEGER) AS age
            FROM spans
        ), ended AS (
            SELECT age, CAST(count(*) AS BIGINT) AS n_ended
            FROM last_age GROUP BY age
        )
        SELECT age, n_ended,
               CAST(sum(n_ended) OVER (ORDER BY age DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS at_risk,
               round(CAST(n_ended AS DOUBLE)
                     / sum(n_ended) OVER (ORDER BY age DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW), 6) AS hazard
        FROM ended
        ORDER BY age
    """,
    "funnel_timing": """
        WITH firsts AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view'
                       THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS v,
                   min(CASE WHEN event_type = 'click'
                       THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS c,
                   min(CASE WHEN event_type = 'purchase'
                       THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS p
            FROM events GROUP BY user_id
        ), stages AS (
            SELECT '1_view_to_click' AS stage,
                   CASE WHEN c IS NOT NULL AND v IS NOT NULL
                         AND c >= v THEN (c - v) / 3.6e9 END AS h
            FROM firsts
            UNION ALL
            SELECT '2_click_to_purchase' AS stage,
                   CASE WHEN p IS NOT NULL AND c IS NOT NULL
                         AND p >= c THEN (p - c) / 3.6e9 END AS h
            FROM firsts
        )
        SELECT stage,
               CAST(count(*) AS BIGINT) AS n_converted,
               round(quantile_cont(h, 0.5), 4) AS median_h,
               round(quantile_cont(h, 0.9), 4) AS p90_h
        FROM stages WHERE h IS NOT NULL
        GROUP BY stage
        ORDER BY stage
    """,
    "cohort_ltv": """
        WITH first AS (
            SELECT user_id,
                   CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP)))
                        AS TIMESTAMP) AS cohort_week
            FROM events GROUP BY user_id
        ), cohort_size AS (
            SELECT cohort_week, count(*) AS n_users
            FROM first GROUP BY cohort_week
        ), aged AS (
            SELECT e.user_id, e.value, f.cohort_week,
                   CAST(floor((epoch_us(CAST(e.ts AS TIMESTAMP))
                               - epoch_us(f.cohort_week))
                              / 604800000000.0) AS INTEGER) AS age_weeks
            FROM events e JOIN first f USING (user_id)
        ), curve AS (
            SELECT cohort_week, age_weeks,
                   CAST(count(DISTINCT user_id) AS BIGINT)
                       AS active_users,
                   sum(value) AS week_value
            FROM aged GROUP BY 1, 2
        )
        SELECT c.cohort_week, c.age_weeks, c.active_users,
               round(sum(c.week_value) OVER (
                   PARTITION BY c.cohort_week ORDER BY c.age_weeks
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   / s.n_users, 4) AS cum_ltv_per_user
        FROM curve c JOIN cohort_size s USING (cohort_week)
        ORDER BY c.cohort_week, c.age_weeks
    """,
    "seasonality_index": """
        WITH per_day AS (
            SELECT event_type,
                   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
                   extract(hour FROM CAST(ts AS TIMESTAMP)) AS hr,
                   CAST(count(*) AS DOUBLE) AS n
            FROM events GROUP BY 1, 2, 3
        ), per_slot AS (
            SELECT event_type, hr, avg(n) AS slot_avg
            FROM per_day GROUP BY 1, 2
        ), idx AS (
            SELECT event_type, hr,
                   round(slot_avg / avg(slot_avg) OVER (
                       PARTITION BY event_type), 6) AS season_idx
            FROM per_slot
        )
        SELECT event_type,
               list(season_idx ORDER BY hr) AS hourly_index,
               round(max(season_idx), 6) AS peak,
               round(min(season_idx), 6) AS trough
        FROM idx GROUP BY event_type
        ORDER BY event_type
    """,
    "calibration_bins": """
        WITH binned AS (
            SELECT CAST(floor(least(value / 100.0, 0.9999) * 10) AS
                        INTEGER) AS bin,
                   least(value / 100.0, 0.9999) AS score,
                   CASE WHEN event_type = 'purchase'
                        THEN 1.0 ELSE 0.0 END AS hit
            FROM events
        ), agg AS (
            SELECT bin, CAST(count(*) AS BIGINT) AS n,
                   round(avg(score), 6) AS mean_pred,
                   round(avg(hit), 6) AS obs_rate
            FROM binned GROUP BY bin
        )
        SELECT bin, n, mean_pred, obs_rate,
               round(abs(mean_pred - obs_rate) * n
                     / sum(n) OVER (), 6) AS ece_term
        FROM agg
        ORDER BY bin
    """,
    "events_attribution": """
        WITH touched AS (
            SELECT user_id, event_id, event_type, value,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                   last_value(CASE WHEN event_type <> 'purchase'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END
                        IGNORE NULLS) OVER w AS t_ts,
                   last_value(CASE WHEN event_type <> 'purchase'
                        THEN event_type END IGNORE NULLS) OVER w AS t_type
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING)
        ), purchases AS (
            SELECT CASE WHEN t_ts IS NOT NULL
                         AND ts_us - t_ts <= 604800000000
                        THEN t_type ELSE 'direct' END AS channel,
                   value,
                   CASE WHEN t_ts IS NOT NULL
                         AND ts_us - t_ts <= 604800000000
                        THEN (ts_us - t_ts) / 60000000.0 END AS mins
            FROM touched WHERE event_type = 'purchase'
        )
        SELECT channel,
               CAST(count(*) AS BIGINT) AS n_conversions,
               round(sum(value), 4) AS revenue,
               round(avg(mins), 4) AS avg_mins_to_convert
        FROM purchases GROUP BY channel
        ORDER BY channel
    """,
    "assoc_rules": """
        WITH basket AS (
            SELECT DISTINCT user_id, event_type FROM events
        ), n AS (
            SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users
            FROM basket
        ), pair_n AS (
            SELECT a.event_type AS ante, b.event_type AS cons,
                   CAST(count(*) AS BIGINT) AS both_n
            FROM basket a JOIN basket b ON a.user_id = b.user_id
            WHERE a.event_type <> b.event_type
            GROUP BY 1, 2
        ), item_n AS (
            SELECT event_type, count(*) AS item_n
            FROM basket GROUP BY event_type
        )
        SELECT p.ante, p.cons, p.both_n,
               round(p.both_n / n.n_users, 6) AS support,
               round(CAST(p.both_n AS DOUBLE) / a.item_n, 6)
                   AS confidence,
               round((p.both_n / n.n_users)
                     / ((a.item_n / n.n_users)
                        * (c.item_n / n.n_users)), 6) AS lift
        FROM pair_n p
        JOIN item_n a ON p.ante = a.event_type
        JOIN item_n c ON p.cons = c.event_type
        CROSS JOIN n
        WHERE p.both_n >= 5
        ORDER BY p.ante, p.cons
    """,
    "pyds_synthetic_agg": """
        WITH gen AS (
            SELECT i AS event_id,
                   (1103515245 * i + 12345) % 2147483648 AS h
            FROM range(0, 10000) t(i)
        ), ev AS (
            SELECT event_id,
                   h % 97 AS user_id,
                   CASE h % 4 WHEN 0 THEN 'view' WHEN 1 THEN 'click'
                              WHEN 2 THEN 'purchase' ELSE 'refund' END AS event_type,
                   (h % 10000) / 100.0 AS value
            FROM gen
        )
        SELECT event_type, count(*) AS n,
               round(sum(value), 4) AS total,
               count(DISTINCT user_id) AS n_users
        FROM ev
        GROUP BY event_type
        ORDER BY event_type
    """,
    "events_wow_growth": """
        WITH weekly AS (
            SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 4) AS total_value
            FROM events GROUP BY week_start
        )
        SELECT week_start, n_events, total_value,
               round((total_value - lag(total_value) OVER w)
                     / lag(total_value) OVER w * 100.0, 4)
                   AS wow_growth_pct
        FROM weekly
        WINDOW w AS (ORDER BY week_start)
        ORDER BY week_start
    """,
    "events_rfm": """
        WITH per_user AS (
            SELECT user_id, max(ts) AS last_ts,
                   count(*) AS freq,
                   round(sum(value), 4) AS monetary
            FROM events GROUP BY user_id
        ),
        scored AS (
            SELECT user_id, monetary,
                   CAST(ntile(4) OVER (ORDER BY last_ts, user_id) AS INT) AS r,
                   CAST(ntile(4) OVER (ORDER BY freq, user_id) AS INT) AS f,
                   CAST(ntile(4) OVER (ORDER BY monetary, user_id) AS INT) AS m
            FROM per_user
        )
        SELECT r, f, m,
               CAST(count(*) AS BIGINT) AS n_users,
               round(sum(monetary), 2) AS seg_monetary
        FROM scored
        GROUP BY r, f, m
        ORDER BY r, f, m
    """,
    "events_mad_outliers": """
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_type, e.event_id, e.value, m.med,
                   abs(e.value - m.med) AS adev
            FROM events e JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT d.event_id, d.event_type, d.value,
               round(d.med, 4) AS med,
               round(m.mad, 4) AS mad,
               round(abs(d.value - d.med) / m.mad, 6) AS score
        FROM dev d JOIN mad m USING (event_type)
        WHERE abs(d.value - d.med) / m.mad > 3.0
        ORDER BY d.event_id
    """,
    "events_anomaly": """
        WITH stats AS (
            SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type, e.value,
               round((e.value - s.mu) / s.sd, 6) AS z
        FROM events e JOIN stats s ON s.event_type = e.event_type
        WHERE abs(round((e.value - s.mu) / s.sd, 6)) > 2.5
        ORDER BY e.event_id
    """,
    "events_retention": """
        WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        cohort AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id)
        SELECT c.cohort_day,
               CAST(date_diff('day', c.cohort_day, e.d) AS INTEGER) AS day_offset,
               count(DISTINCT e.user_id) AS n_users
        FROM e JOIN cohort c ON c.user_id = e.user_id
        GROUP BY c.cohort_day, day_offset
        ORDER BY c.cohort_day, day_offset
    """,
    "time_interval_funcs": """
        SELECT event_id,
               epoch_us(ts) % 86400000000 AS time_micros,
               ts + INTERVAL 90 MINUTE AS ts_plus_90m,
               CAST(date_diff('day', DATE '2025-01-01', CAST(ts AS DATE))
                    AS INTEGER) AS days_since,
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
               CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
               dayname(ts) AS day_name,
               last_day(CAST(ts AS DATE)) AS last_dom
        FROM events
        WHERE event_id < 2000
        ORDER BY event_id
    """,
    "variant_funcs": """
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS INTEGER) AS k_int,
               json_extract_string(props, '$.k') AS k_str,
               CAST(json_extract(props, '$.missing') AS INTEGER) AS missing_int,
               TRUE AS null_probe
        FROM events
        WHERE event_id < 2000
        ORDER BY event_id
    """,
    "events_top_paths": """
        WITH seq AS (
            SELECT user_id, event_type AS e1,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        paths AS (
            SELECT e1 || '>' || e2 || '>' || e3 AS path
            FROM seq WHERE e3 IS NOT NULL
        ),
        top AS (
            SELECT path, CAST(count(*) AS BIGINT) AS n
            FROM paths GROUP BY path
            ORDER BY n DESC, path LIMIT 10
        )
        SELECT CAST(row_number() OVER (ORDER BY n DESC, path) AS INT)
                   AS rank,
               path, n
        FROM top
        ORDER BY rank
    """,
    "events_error_burst": """
        WITH err AS (
            SELECT user_id, event_id, ts,
                   lag(ts) OVER (ORDER BY ts, event_id) AS prev_ts
            FROM events WHERE event_type = 'error'
        ),
        flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN prev_ts IS NULL
                             OR epoch_us(ts) - epoch_us(prev_ts)
                                > 300000000
                        THEN 1 ELSE 0 END AS is_new
            FROM err
        ),
        islands AS (
            SELECT user_id, ts,
                   sum(is_new) OVER (ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS island
            FROM flagged
        )
        SELECT min(ts) AS burst_start,
               max(ts) AS burst_end,
               CAST(count(*) AS BIGINT) AS burst_len,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM islands
        GROUP BY island
        HAVING count(*) >= 3
        ORDER BY burst_start
    """,
    "events_funnel": """
        WITH v AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
        c AS (
            SELECT e.user_id, min(e.ts) AS t2 FROM events e
            JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
            WHERE e.event_type = 'click' GROUP BY e.user_id),
        p AS (
            SELECT e.user_id, min(e.ts) AS t3 FROM events e
            JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
            WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        SELECT 1 AS step, 'view' AS step_name, count(*) AS n_users FROM v
        UNION ALL
        SELECT 2 AS step, 'click' AS step_name, count(*) AS n_users FROM c
        UNION ALL
        SELECT 3 AS step, 'purchase' AS step_name, count(*) AS n_users FROM p
        ORDER BY step
    """,
    "json_funcs": """
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS INTEGER) AS k_parsed,
               json_extract_string(props, '$.k') AS k_str,
               json_extract_string(
                   to_json(struct_pack(user_id := user_id,
                                       event_type := event_type)),
                   '$.event_type') AS type_roundtrip
        FROM events
        WHERE event_id < 2000
        ORDER BY event_id
    """,
    "events_json": """
        SELECT event_type,
               CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
               count(*) AS n,
               round(sum(value), 4) AS total
        FROM events
        GROUP BY event_type, k_bucket
        ORDER BY event_type, k_bucket
    """,
    "events_hourly": """
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
               event_type,
               count(*) AS n,
               round(sum(value), 4) AS total
        FROM events
        GROUP BY window_start, event_type
        ORDER BY window_start, event_type
    """,
    "events_sliding": """
        SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE
                   AS window_start,
               event_type,
               count(*) AS n
        FROM events
        CROSS JOIN (SELECT unnest(range(0, 4)) AS k) ks
        GROUP BY window_start, event_type
        ORDER BY window_start, event_type
    """,
    "events_sessionize": """
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
            SELECT user_id, ts, value,
                   CAST(sum(is_new) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS session_idx
            FROM flagged
        )
        SELECT user_id, session_idx,
               count(*) AS n_events,
               round(sum(value), 4) AS total_value,
               CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_sec
        FROM sessions
        GROUP BY user_id, session_idx
        ORDER BY user_id, session_idx
    """,
    "events_asof_join": """
        SELECT c.event_id, c.user_id, c.ts,
               (SELECT max(p.ts) FROM events p
                WHERE p.user_id = c.user_id
                  AND p.event_type = 'purchase'
                  AND p.ts <= c.ts) AS last_purchase_ts
        FROM events c
        WHERE c.event_type = 'click'
        ORDER BY c.event_id
    """,
}
