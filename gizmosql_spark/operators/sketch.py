"""Distributed sketches as DataFrame compositions.

A 100 TB engine needs cardinality estimates without a full distinct
shuffle. Spark's ``approx_count_distinct`` is a native HLL++, but its
estimate is engine-specific — useless for a differential gate. This
module implements a textbook **HyperLogLog** (Flajolet et al. 2007)
from scratch as a composition of built-in DataFrame ops, fully
deterministic and portable: the DuckDB oracle runs the same
arithmetic on the same md5 bits and produces the **identical**
estimate, so the driver hash-check verifies the sketch math itself.

Shape (the whole point at scale): one scan computes (bucket, rho)
per row — all whole-stage-codegen string/arithmetic expressions —
then ONE partial-aggregatable groupBy(bucket).max(rho) over m=1024
buckets, then a 1024-row harmonic fold. Map-side combine reduces
every partition to ≤1024 rows before the shuffle, so network cost is
O(m x partitions), independent of row count — exactly how a real
sketch rollup behaves (and why it beats COUNT(DISTINCT) at 100 TB:
no per-key shuffle at all).

Register extraction from md5(key):
- bucket  = first 3 hex chars mod 1024 (12 bits → uniform over 2^10)
- rho     = position of the first 1-bit in the next 52 bits
            (13 hex chars), computed from the hex string: 4 bits per
            leading '0' char + a CASE on the first non-zero nibble —
            pure string ops, identical on any engine (no float log2).
Estimate = alpha_m * m^2 / sum_j 2^(-M_j) with the standard
small-range correction E <= 2.5m and V empty registers → m*ln(m/V).
All terms 2^(-M_j) are dyadic rationals ≥ 2^-53, so the fold is
EXACT in doubles — summation order cannot change the result.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gizmosql_spark.operators import loader

_M = 1024          # registers (2^10)
_ALPHA = 0.7213 / (1.0 + 1.079 / _M)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return loader.table(spark, sf_dir, name)


def _hex_val(c: Column) -> Column:
    """Value of one lowercase hex substring (conv base16 -> base10;
    md5 output is always [0-9a-f])."""
    return F.conv(c, 16, 10).cast("int")


def _bucket_rho(key: Column) -> tuple[Column, Column]:
    h = F.md5(key.cast("string"))
    bucket = _hex_val(F.substring(h, 1, 3)) % _M
    tail = F.substring(h, 4, 13)            # 52 bits
    zeros = F.length(F.regexp_extract(tail, "^(0*)", 1))
    first = _hex_val(tail.substr(zeros + 1, F.lit(1)))
    bitlen = (
        F.when(first >= 8, 4)
        .when(first >= 4, 3)
        .when(first >= 2, 2)
        .otherwise(1)
    )
    rho = F.when(zeros == 13, F.lit(53)).otherwise(
        zeros * 4 + (4 - bitlen) + 1
    )
    return bucket, rho


def hll_sketch(df: DataFrame, key: Column, name: str) -> DataFrame:
    """One-row frame: (column_name, hll_estimate, exact_distinct,
    rel_error_pct). Exact count included for the differential check
    and the error report; a production rollup would keep only the
    1024 registers (mergeable by max) and skip the exact pass."""
    bucket, rho = _bucket_rho(key)
    regs = (
        df.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    folded = regs.agg(
        F.sum(F.lit(1.0) / F.expr("cast(shiftleft(1L, m_j) as double)"))
        .alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    ).select(
        (F.col("s_present") + (F.lit(_M) - F.col("n_present"))).alias("s"),
        (F.lit(_M) - F.col("n_present")).alias("v"),
    )
    raw = F.lit(_ALPHA) * F.lit(float(_M * _M)) / F.col("s")
    est = F.when(
        (raw <= F.lit(2.5 * _M)) & (F.col("v") > 0),
        F.lit(float(_M)) * F.log(F.lit(float(_M)) / F.col("v")),
    ).otherwise(raw)
    exact = df.select(
        F.count_distinct(key).cast("bigint").alias("exact_distinct"))
    return (
        folded.select(F.round(est, 4).alias("hll_estimate"))
        .crossJoin(exact)
        .select(
            F.lit(name).alias("column_name"),
            "hll_estimate",
            "exact_distinct",
            F.round(
                F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                / F.col("exact_distinct") * 100.0, 4,
            ).alias("rel_error_pct"),
        )
    )


def hll_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HLL: distinct users per event type from one register
    table keyed by (group, bucket) — the per-key mergeable rollup
    that replaces GROUP BY + COUNT(DISTINCT) at 100 TB (shuffle width
    = groups x m, not rows; registers merge by max across shards and
    across time partitions)."""
    e = _t(spark, sf_dir, "events")
    bucket, rho = _bucket_rho(F.col("user_id"))
    regs = (
        e.select(F.col("event_type").alias("g"),
                 bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("g", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    folded = regs.groupBy("g").agg(
        F.sum(F.lit(1.0) / F.expr("cast(shiftleft(1L, m_j) as double)"))
        .alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    ).select(
        "g",
        (F.col("s_present") + (F.lit(_M) - F.col("n_present"))).alias("s"),
        (F.lit(_M) - F.col("n_present")).alias("v"),
    )
    raw = F.lit(_ALPHA) * F.lit(float(_M * _M)) / F.col("s")
    est = F.when(
        (raw <= F.lit(2.5 * _M)) & (F.col("v") > 0),
        F.lit(float(_M)) * F.log(F.lit(float(_M)) / F.col("v")),
    ).otherwise(raw)
    exact = e.groupBy(F.col("event_type").alias("g")).agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_distinct"))
    return (
        folded.select("g", F.round(est, 4).alias("hll_estimate"))
        .join(exact, "g")
        .select(
            F.col("g").alias("event_type"), "hll_estimate", "exact_distinct",
            F.round(
                F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                / F.col("exact_distinct") * 100.0, 4).alias("rel_error_pct"))
        .orderBy("event_type")
    )


def approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality of two key columns spanning both estimate
    branches: o_custkey (small range → bias correction m*ln(m/V))
    and l_orderkey (harmonic-mean path)."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        hll_sketch(o, F.col("o_custkey"), "o_custkey")
        .unionAll(hll_sketch(l, F.col("l_orderkey"), "l_orderkey"))
        .orderBy("column_name")
    )


def _oracle_one(table: str, col: str) -> str:
    hexv = "strpos('0123456789abcdef', {c}) - 1"
    h1 = hexv.format(c=f"substr(h, 1, 1)")
    h2 = hexv.format(c=f"substr(h, 2, 1)")
    h3 = hexv.format(c=f"substr(h, 3, 1)")
    fv = hexv.format(c="substr(tail, zeros + 1, 1)")
    return f"""
        SELECT '{col}' AS column_name, hll_estimate, exact_distinct,
               round(abs(hll_estimate - exact_distinct)
                     / exact_distinct * 100.0, 4) AS rel_error_pct
        FROM (
            SELECT CASE WHEN {_ALPHA!r}::DOUBLE * {float(_M * _M)!r}::DOUBLE / s
                             <= {2.5 * _M!r}::DOUBLE AND v > 0
                        THEN round({float(_M)!r}::DOUBLE * ln({float(_M)!r}::DOUBLE / v), 4)
                        ELSE round({_ALPHA!r}::DOUBLE * {float(_M * _M)!r}::DOUBLE / s, 4)
                   END AS hll_estimate
            FROM (
                SELECT sum(1.0 / CAST(CAST(1 AS BIGINT) << m_j AS DOUBLE))
                       + ({_M} - count(*)) AS s,
                       {_M} - count(*) AS v
                FROM (
                    SELECT bucket, max(rho) AS m_j FROM (
                        SELECT ({h1}) * 256 + ({h2}) * 16 + ({h3})
                                   AS raw12,
                               raw12 % {_M} AS bucket,
                               CASE WHEN zeros = 13 THEN 53
                                    ELSE zeros * 4 + (4 - CASE
                                        WHEN ({fv}) >= 8 THEN 4
                                        WHEN ({fv}) >= 4 THEN 3
                                        WHEN ({fv}) >= 2 THEN 2
                                        ELSE 1 END) + 1
                               END AS rho
                        FROM (
                            SELECT h, substr(h, 4, 13) AS tail,
                                   length(regexp_extract(tail, '^(0*)', 1))
                                       AS zeros
                            FROM (SELECT md5(CAST({col} AS VARCHAR)) AS h
                                  FROM {table})
                        )
                    ) GROUP BY bucket
                )
            )
        ),
        (SELECT CAST(count(DISTINCT {col}) AS BIGINT) AS exact_distinct
         FROM {table})
    """


# ---------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005) — heavy hitters
# ---------------------------------------------------------------------

_CMS_D = 4    # hash rows
_CMS_W = 512  # buckets per row


def _hex_val4(c: Column) -> Column:
    """Value of a 4-hex-char substring (16 bits)."""
    return F.conv(c, 16, 10).cast("int")


def _cms_row_buckets(tok: Column) -> Column:
    """Array of (r, bucket) — the d cells one token occurrence
    increments. Buckets from independent md5 streams (portable; same
    reasoning as the HLL registers above)."""
    return F.array(*[
        F.struct(
            F.lit(r).alias("r"),
            (_hex_val4(F.substring(
                F.md5(F.concat(F.lit(f"cms{r}:"), tok)), 1, 4)) % _CMS_W
             ).alias("bucket"),
        )
        for r in range(_CMS_D)
    ])


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Count-Min: estimate = min over d row-cells;
    always >= exact (one-sided error bounded by 2N/w per row).

    Scale shape: ONE tokenize pass feeds a partial-aggregatable
    wordcount (map-side combine; vocabulary-sized result), and BOTH
    the sketch cells and the probe rows derive from that rollup —
    cell count = sum of token counts hashing into the cell, exactly
    the per-occurrence count, so the 4 md5 bucket hashes run once per
    DISTINCT token instead of once per corpus occurrence (the
    previous shape tokenized and hashed the corpus twice; 6.5 s →
    ~2 s at sf1). Shuffle stays capped at O(d*w x partitions)
    regardless of corpus size, the same rollup property as the HLL
    above. The exact counts exist only for the differential error
    report; a production pipeline keeps the 2048 cells and skips the
    exact column."""
    from gizmosql_spark.operators.text import _norm

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(_norm(F.col("text")), " ")).alias("tok"))
    # vocabulary-sized; localCheckpoint so the corpus tokenize runs
    # once for the two derivations below (checkpoint blocks are freed
    # by the ContextCleaner when the frame is GC'd)
    exact = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("exact_count")).localCheckpoint()
    cells = (
        exact.select(
            F.explode(_cms_row_buckets(F.col("tok"))).alias("rb"),
            "exact_count")
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
        .agg(F.sum("exact_count").alias("c"))
    )
    probes = exact.select(
        "tok", "exact_count",
        F.explode(_cms_row_buckets(F.col("tok"))).alias("rb"))
    est = (
        probes.join(
            F.broadcast(cells),
            (F.col("rb.r") == cells["r"])
            & (F.col("rb.bucket") == cells["bucket"]))
        .groupBy("tok", "exact_count")
        .agg(F.min("c").alias("est_count"))
    )
    return (
        est.select(
            F.col("tok").alias("token"),
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.desc("est_count"), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------
# Bloom filter (Bloom 1970) — set-membership probe
# ---------------------------------------------------------------------

_BF_M = 4096  # bits
_BF_K = 3     # hash functions


def _bloom_bits(tok: Column) -> Column:
    return F.array(*[
        _hex_val4(F.substring(
            F.md5(F.concat(F.lit(f"bf{r}:"), tok)), 1, 4)) % _BF_M
        for r in range(_BF_K)
    ])


def bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership of every corpus token against the src0
    vocabulary, with the false-positive rate measured against exact
    membership — the decontamination/blocklist primitive where the
    probe set is too big to broadcast exactly but its Bloom bits are
    tiny.

    Scale shape: the filter is <= m = 4096 distinct set bits — built
    with one distinct over the probe vocabulary, broadcast to the
    probe join; membership = all k bits present (min over a broadcast
    left join). The corpus side stays a scan."""
    from gizmosql_spark.operators.text import _norm

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(_norm(F.col("text")), " ")).alias("tok"))
    probe_vocab = toks.filter(F.col("source") == "src0") \
        .select("tok").distinct()
    bits = (
        probe_vocab.select(F.explode(_bloom_bits(F.col("tok"))).alias("bit"))
        .distinct()
        .withColumn("present", F.lit(1))
    )
    cand = toks.select("source", "tok").distinct()
    cand_bits = cand.select(
        "source", "tok", F.explode(_bloom_bits(F.col("tok"))).alias("bit"))
    bloom_hit = (
        cand_bits.join(F.broadcast(bits), "bit", "left")
        .groupBy("source", "tok")
        .agg((F.min(F.coalesce("present", F.lit(0))) == 1).alias("bloom_pos"))
    )
    exact = probe_vocab.withColumn("exact_pos", F.lit(True))
    joined = bloom_hit.join(exact, "tok", "left").select(
        "source", "bloom_pos",
        F.coalesce("exact_pos", F.lit(False)).alias("exact_pos"))
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.col("bloom_pos").cast("int")).alias("bloom_positive"),
            F.sum(F.col("exact_pos").cast("int")).alias("exact_positive"),
            F.sum((F.col("bloom_pos") & ~F.col("exact_pos")).cast("int"))
            .alias("false_positives"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------
# Equi-width histogram quantiles — the mergeable approx-percentile
# ---------------------------------------------------------------------

_HIST_BINS = 1000


def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P50/P90/P99 of l_extendedprice from a 1000-bin equi-width
    histogram, with the exact interpolated percentile beside it for
    the error report.

    Scale shape: Spark's exact percentile sorts values per group; the
    histogram needs only one partial-aggregatable groupBy over 1000
    bins (map-side combine caps the shuffle at O(bins x partitions)),
    then a 1000-row cumulative fold — the mergeable-quantile rollup
    every metrics pipeline runs at 100 TB. Bin edges come from a
    min/max pass broadcast as a 1-row frame (at scale: known column
    stats). Estimates interpolate linearly inside the covering bin —
    deterministic closed form, identical in the oracle."""
    from pyspark.sql import Window

    l = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("x"))
    # 1-row min/max feeding both the binning pass and the
    # interpolation edges (r5 audit: each crossJoin use replayed the
    # scan). The edges come from the parquet FOOTER column statistics
    # when they give F.min/F.max's answer (guide §6 — "bin edges come
    # from known column stats" is the docstring's own design point);
    # column_minmax declines floating-point columns, whose stats leave
    # NaN out, so a double column takes the min/max pass.
    mm = loader.column_minmax(sf_dir, "lineitem", "l_extendedprice")
    if mm is not None:
        rng = spark.range(1).select(
            F.lit(float(mm[0])).alias("lo"), F.lit(float(mm[1])).alias("hi"))
    else:
        rng = l.agg(
            F.min("x").alias("lo"),
            F.max("x").alias("hi")).localCheckpoint()
    binned = (
        l.crossJoin(F.broadcast(rng))
        .select(
            F.least(
                F.lit(_HIST_BINS - 1),
                F.floor((F.col("x") - F.col("lo"))
                        / (F.col("hi") - F.col("lo")) * _HIST_BINS)
                .cast("int"),
            ).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    # n derives from the bin counts (no extra corpus pass); the 1000-
    # row cum frame is checkpointed so the three quantile filters
    # below read it instead of replaying the histogram build
    cum = (
        binned.withColumn("cum", F.sum("c").over(w))
        .withColumn("prev", F.col("cum") - F.col("c"))
        .withColumn("n", F.sum("c").over(
            Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)))
        .crossJoin(F.broadcast(rng))
        .localCheckpoint()
    )
    qs = []
    for q in (0.5, 0.9, 0.99):
        target = F.lit(q) * F.col("n")
        width = (F.col("hi") - F.col("lo")) / _HIST_BINS
        est = (
            F.col("lo") + F.col("bin") * width
            + (target - F.col("prev")) / F.col("c") * width
        )
        qs.append(
            cum.filter((F.col("cum") >= target) & (F.col("prev") < target))
            .select(F.lit(q).alias("q"), F.round(est, 4).alias("est"))
            .limit(1)
        )
    hist = qs[0].unionAll(qs[1]).unionAll(qs[2])
    # percentile is an aggregate: compute the three exact values in one
    # agg row, then unpivot
    exact = l.agg(
        *[F.round(F.percentile(F.col("x"), F.lit(q)), 4).alias(f"p{i}")
          for i, q in enumerate((0.5, 0.9, 0.99))])
    exact = exact.select(F.explode(F.array(
        F.struct(F.lit(0.5).alias("q"), F.col("p0").alias("exact")),
        F.struct(F.lit(0.9).alias("q"), F.col("p1").alias("exact")),
        F.struct(F.lit(0.99).alias("q"), F.col("p2").alias("exact")),
    )).alias("e")).select(F.col("e.q").alias("q"), F.col("e.exact").alias("exact"))
    return (
        hist.join(exact, "q")
        .select("q", F.col("est").alias("hist_est"), "exact",
                F.round(F.abs(F.col("est") - F.col("exact"))
                        / F.col("exact") * 100.0, 4).alias("rel_err_pct"))
        .orderBy("q")
    )


#: DP release parameters: Laplace scale b = sensitivity/epsilon
_DP_EPSILON = 0.5
_DP_SCALE = 1.0 / _DP_EPSILON


def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Laplace mechanism,
    ε=0.5, sensitivity 1) over (event_type, user-decile) cells — the
    privacy-preserving aggregate-release pattern, with the noise made
    REPRODUCIBLE for the differential harness: the Laplace draw comes
    from the md5 hash of the cell key via inverse-CDF
    (u ∈ (-0.5, 0.5), noise = -b·sign(u)·ln(1-2|u|)), so any engine
    releases the identical table. A production release swaps the hash
    for a real RNG — one expression; the mechanism, sensitivity
    bookkeeping, and post-processing are what this operator pins.

    Scale shape: one cells partial agg; noise is per-cell closed-form
    arithmetic on the tiny release frame."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            "event_type",
            (F.col("user_id") % 10).cast("int").alias("user_decile"),
        )
        .groupBy("event_type", "user_decile")
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    u = (
        _hex_val(F.substring(
            F.md5(F.concat_ws("|", "event_type", "user_decile")), 1, 1))
        * 16 + _hex_val(F.substring(
            F.md5(F.concat_ws("|", "event_type", "user_decile")), 2, 1))
    ) / 256.0 - 0.5
    noise = (
        -F.lit(_DP_SCALE)
        * F.signum(u)
        * F.log(1 - 2 * F.abs(u) + F.lit(1e-12))
    )
    return (
        cells.select(
            "event_type",
            "user_decile",
            # count + signed Laplace noise straddles zero -> + 0.0
            (F.round(F.col("true_n") + noise, 4)
             + F.lit(0.0)).alias("released_n"),
            F.round(F.abs(noise), 4).alias("abs_noise"),
        )
        .orderBy("event_type", "user_decile")
    )


_ROLL_DAYS = 3


def hll_rolling_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 3-day distinct users via HLL register MERGING: daily
    register tables merge by per-bucket max across the window — the
    property that makes sketches the only viable sliding-window
    COUNT(DISTINCT) at 100 TB (re-counting each window re-scans the
    corpus; merging touches only day × m register rows).

    Scale shape: one (day, bucket) partial agg builds the daily
    registers; the rolling max rides a bucket-partitioned window over
    the days × m grid (bounded); the exact check collapses the stream
    to the distinct day × user grid (partial agg), then explodes each
    pair to its ≤3 window days — shuffle bytes scale with
    users × days, never the event stream."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    day = F.to_date(F.col("ts").cast("timestamp"))
    bucket, rho = _bucket_rho(F.col("user_id"))
    # days × m register frame: days/buckets/grid all derive from it,
    # and without a materialization each derivation replays the corpus
    # scan (r5 scan audit: 5 events scans where 2 suffice — this build
    # + the deliberate exact-check re-scan). r12: the frame is
    # deterministic per fixture dir and days×m-bounded, so it rides
    # the keyed-persist registry (the r11 band-frame pattern) instead
    # of a per-call localCheckpoint — warm invocations skip the
    # register-build scan entirely.
    daily = loader.keyed_persist(
        spark, sf_dir, f"sketch.hll_daily:{sf_dir}",
        lambda: e.select(
            day.alias("d"), bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("d", "bucket")
        .agg(F.max("rho").alias("m_j")),
    )
    # r12: the day list is |days|-bounded (the centroid-pull scalar
    # class) — collect it once per session from the cached registers
    # and build the grid axes as LOCAL relations: the two distinct
    # jobs and the exact-side broadcast-join build disappear from
    # every invocation. Buckets are simply range(_M): a register never
    # observed on any day joins NULL and is filtered before the fold,
    # exactly like a bucket absent from the observed-distinct frame —
    # identical n_present/s by construction.
    from gizmosql_spark.operators import scale as _scale

    daily, day_list = _scale.keyed_frame_scalars(
        spark, sf_dir, f"hll_days:{sf_dir}", daily,
        lambda bdf: sorted(
            r["d"] for r in bdf.select("d").distinct().collect()))
    days_local = spark.createDataFrame([(d,) for d in day_list], "d date")
    buckets_local = spark.range(_M).select(F.col("id").alias("bucket"))
    grid = days_local.crossJoin(buckets_local).join(
        F.broadcast(daily), ["d", "bucket"], "left")
    w_roll = (
        Window.partitionBy("bucket")
        .orderBy(F.datediff(F.col("d"), F.lit("2024-01-01")))
        .rangeBetween(-(_ROLL_DAYS - 1), 0)
    )
    merged = grid.select(
        "d", "bucket", F.max("m_j").over(w_roll).alias("mm"))
    folded = (
        merged.filter(F.col("mm").isNotNull())
        .groupBy("d")
        .agg(
            F.sum(F.lit(1.0) / F.expr("cast(shiftleft(1L, mm) as double)"))
            .alias("s_present"),
            F.count(F.lit(1)).alias("n_present"),
        )
        .select(
            "d",
            (F.col("s_present") + (F.lit(_M) - F.col("n_present")))
            .alias("s"),
            (F.lit(_M) - F.col("n_present")).alias("v"),
        )
    )
    raw = F.lit(_ALPHA) * F.lit(float(_M * _M)) / F.col("s")
    est = F.when(
        (raw <= F.lit(2.5 * _M)) & (F.col("v") > 0),
        F.lit(float(_M)) * F.log(F.lit(float(_M)) / F.col("v")),
    ).otherwise(raw)
    # exact check: distinct (day, user) FIRST (partial-agg collapse of
    # the corpus to the day x user grid), then explode each pair to the
    # <= _ROLL_DAYS window days it contributes to and count-distinct
    # per day. r11 optimization (guide §2.3/§3): the r10 form was a
    # theta-join of the days frame against the raw event stream — a
    # BroadcastNestedLoopJoin evaluating |days| x |events| range
    # predicates and emitting ~_ROLL_DAYS x corpus rows into the
    # distinct agg; this form shuffles only the deduped grid (x3
    # explode), bytes ~ users x days, never the event stream.
    # users×days-bounded and fixture-deterministic — same registry
    # (the exact-check tier is a verification device; at 100 TB the
    # sketch side alone ships, as the docstring says)
    du = loader.keyed_persist(
        spark, sf_dir, f"sketch.hll_day_user:{sf_dir}",
        lambda: e.select(day.alias("ed"), "user_id").distinct())
    cand = du.select(
        F.explode(F.array(*[
            F.date_add("ed", i) for i in range(_ROLL_DAYS)])).alias("d"),
        "user_id")
    # no days pre-join needed (r12): date_add only lands on days the
    # final inner join with `folded` keeps or drops anyway, so the
    # per-day distinct counts for surviving days are identical — the
    # broadcast build job existed only to discard ≤_ROLL_DAYS-1
    # trailing day groups early
    exact = (
        cand
        .groupBy("d")
        .agg(F.count_distinct("user_id").cast("bigint").alias("exact_roll"))
    )
    return (
        folded.select("d", F.round(est, 4).alias("hll_estimate"))
        .join(exact, "d")
        .select(
            F.col("d").alias("day"),
            "hll_estimate",
            "exact_roll",
            F.round(
                F.abs(F.col("hll_estimate") - F.col("exact_roll"))
                / F.col("exact_roll") * 100.0, 4).alias("rel_error_pct"),
        )
        .orderBy("day")
    )


QUERIES = {
    "hll_rolling_merge": hll_rolling_merge,
    "approx_distinct_hll": approx_distinct_hll,
    "dp_noisy_counts": dp_noisy_counts,
    "hll_by_group": hll_by_group,
    "cms_heavy_hitters": cms_heavy_hitters,
    "bloom_probe": bloom_probe,
    "histogram_quantiles": histogram_quantiles,
}


def _hll_group_oracle() -> str:
    hexv = "strpos('0123456789abcdef', {c}) - 1"
    h1 = hexv.format(c="substr(h, 1, 1)")
    h2 = hexv.format(c="substr(h, 2, 1)")
    h3 = hexv.format(c="substr(h, 3, 1)")
    fv = hexv.format(c="substr(tail, zeros + 1, 1)")
    return f"""
        WITH regs AS (
            SELECT g, bucket, max(rho) AS m_j FROM (
                SELECT g,
                       (({h1}) * 256 + ({h2}) * 16 + ({h3})) % {_M} AS bucket,
                       CASE WHEN zeros = 13 THEN 53
                            ELSE zeros * 4 + (4 - CASE
                                WHEN ({fv}) >= 8 THEN 4
                                WHEN ({fv}) >= 4 THEN 3
                                WHEN ({fv}) >= 2 THEN 2
                                ELSE 1 END) + 1
                       END AS rho
                FROM (
                    SELECT g, h, substr(h, 4, 13) AS tail,
                           length(regexp_extract(substr(h, 4, 13),
                                                 '^(0*)', 1)) AS zeros
                    FROM (SELECT event_type AS g,
                                 md5(CAST(user_id AS VARCHAR)) AS h
                          FROM events)
                )
            ) GROUP BY g, bucket
        ),
        folded AS (
            SELECT g,
                   sum(1.0 / CAST(CAST(1 AS BIGINT) << m_j AS DOUBLE))
                       + ({_M} - count(*)) AS s,
                   {_M} - count(*) AS v
            FROM regs GROUP BY g
        ),
        est AS (
            SELECT g,
                   CASE WHEN {_ALPHA!r}::DOUBLE * {float(_M * _M)!r}::DOUBLE / s
                             <= {2.5 * _M!r}::DOUBLE AND v > 0
                        THEN round({float(_M)!r}::DOUBLE
                                   * ln({float(_M)!r}::DOUBLE / v), 4)
                        ELSE round({_ALPHA!r}::DOUBLE
                                   * {float(_M * _M)!r}::DOUBLE / s, 4)
                   END AS hll_estimate
            FROM folded
        ),
        exact AS (
            SELECT event_type AS g,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
            FROM events GROUP BY event_type
        )
        SELECT g AS event_type, hll_estimate, exact_distinct,
               round(abs(hll_estimate - exact_distinct)
                     / exact_distinct * 100.0, 4) AS rel_error_pct
        FROM est JOIN exact USING (g)
        ORDER BY event_type
    """

def _hex4_sql(expr: str) -> str:
    """DuckDB: value of the first 4 hex chars of an md5 string."""
    digit = "(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
    return "(" + " + ".join(
        digit.format(h=expr, i=i + 1) + f" * {16 ** (3 - i)}"
        for i in range(4)
    ) + ")"


_NORM_DUCK = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

_CMS_ORACLE = f"""
    WITH toks AS (
        SELECT unnest(string_split({_NORM_DUCK}, ' ')) AS tok
        FROM documents
    ),
    rb AS (
        SELECT tok, r,
               {_hex4_sql("md5('cms' || r || ':' || tok)")} % {_CMS_W}
                   AS bucket
        FROM toks CROSS JOIN (VALUES (0), (1), (2), (3)) AS rows(r)
    ),
    cells AS (
        SELECT r, bucket, count(*) AS c FROM rb GROUP BY r, bucket
    ),
    exact AS (
        SELECT tok, count(*) AS exact_count FROM toks GROUP BY tok
    ),
    probe AS (SELECT DISTINCT tok, r, bucket FROM rb),
    est AS (
        SELECT p.tok, min(c.c) AS est_count
        FROM probe p JOIN cells c USING (r, bucket)
        GROUP BY p.tok
    )
    SELECT e.tok AS token,
           CAST(est_count AS BIGINT) AS est_count,
           CAST(exact_count AS BIGINT) AS exact_count,
           CAST(est_count - exact_count AS BIGINT) AS overcount
    FROM est e JOIN exact x ON e.tok = x.tok
    ORDER BY est_count DESC, token
    LIMIT 20
"""

_BLOOM_ORACLE = f"""
    WITH toks AS (
        SELECT source, unnest(string_split({_NORM_DUCK}, ' ')) AS tok
        FROM documents
    ),
    probe_vocab AS (
        SELECT DISTINCT tok FROM toks WHERE source = 'src0'
    ),
    bits AS (
        SELECT DISTINCT
               {_hex4_sql("md5('bf' || r || ':' || tok)")} % {_BF_M} AS bit
        FROM probe_vocab CROSS JOIN (VALUES (0), (1), (2)) AS rows(r)
    ),
    cand AS (SELECT DISTINCT source, tok FROM toks),
    cand_bits AS (
        SELECT source, tok, r,
               {_hex4_sql("md5('bf' || r || ':' || tok)")} % {_BF_M} AS bit
        FROM cand CROSS JOIN (VALUES (0), (1), (2)) AS rows(r)
    ),
    bloom_hit AS (
        SELECT source, tok,
               min(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) = 1
                   AS bloom_pos
        FROM cand_bits cb LEFT JOIN bits b ON cb.bit = b.bit
        GROUP BY source, tok
    ),
    joined AS (
        SELECT source, bloom_pos,
               (p.tok IS NOT NULL) AS exact_pos
        FROM bloom_hit h LEFT JOIN probe_vocab p ON h.tok = p.tok
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(sum(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
               AS bloom_positive,
           CAST(sum(CASE WHEN exact_pos THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_positive,
           CAST(sum(CASE WHEN bloom_pos AND NOT exact_pos
                         THEN 1 ELSE 0 END) AS BIGINT) AS false_positives
    FROM joined GROUP BY source ORDER BY source
"""

_DP_U_SQL = (
    "(( (strpos('0123456789abcdef', substr(md5(concat_ws('|',"
    " event_type, user_decile)), 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(concat_ws('|',"
    " event_type, user_decile)), 2, 1)) - 1)) / 256.0 - 0.5)"
)

def _hll_rolling_oracle() -> str:
    hexv = "strpos('0123456789abcdef', {c}) - 1"
    h1 = hexv.format(c="substr(h, 1, 1)")
    h2 = hexv.format(c="substr(h, 2, 1)")
    h3 = hexv.format(c="substr(h, 3, 1)")
    fv = hexv.format(c="substr(tail, zeros + 1, 1)")
    return f"""
        WITH daily AS (
            SELECT d, bucket, max(rho) AS m_j FROM (
                SELECT d,
                       (({h1}) * 256 + ({h2}) * 16 + ({h3})) % {_M}
                           AS bucket,
                       CASE WHEN zeros = 13 THEN 53
                            ELSE zeros * 4 + (4 - CASE
                                WHEN ({fv}) >= 8 THEN 4
                                WHEN ({fv}) >= 4 THEN 3
                                WHEN ({fv}) >= 2 THEN 2
                                ELSE 1 END) + 1
                       END AS rho
                FROM (
                    SELECT d, h, substr(h, 4, 13) AS tail,
                           length(regexp_extract(substr(h, 4, 13),
                                                 '^(0*)', 1)) AS zeros
                    FROM (SELECT CAST(ts AS DATE) AS d,
                                 md5(CAST(user_id AS VARCHAR)) AS h
                          FROM events)
                )
            ) GROUP BY d, bucket
        ), days AS (SELECT DISTINCT d FROM daily),
        buckets AS (SELECT DISTINCT bucket FROM daily),
        grid AS (
            SELECT dy.d, b.bucket, da.m_j
            FROM days dy CROSS JOIN buckets b
            LEFT JOIN daily da
              ON da.d = dy.d AND da.bucket = b.bucket
        ), merged AS (
            SELECT d, bucket,
                   max(m_j) OVER (
                       PARTITION BY bucket
                       ORDER BY date_diff('day', DATE '2024-01-01', d)
                       RANGE BETWEEN {_ROLL_DAYS - 1} PRECEDING
                                 AND CURRENT ROW) AS mm
            FROM grid
        ), folded AS (
            SELECT d,
                   sum(1.0 / CAST(CAST(1 AS BIGINT) << mm AS DOUBLE))
                       + ({_M} - count(*)) AS s,
                   {_M} - count(*) AS v
            FROM merged WHERE mm IS NOT NULL GROUP BY d
        ), est AS (
            SELECT d,
                   CASE WHEN {_ALPHA!r}::DOUBLE * {float(_M * _M)!r}::DOUBLE
                             / s <= {2.5 * _M!r}::DOUBLE AND v > 0
                        THEN round({float(_M)!r}::DOUBLE
                                   * ln({float(_M)!r}::DOUBLE / v), 4)
                        ELSE round({_ALPHA!r}::DOUBLE
                                   * {float(_M * _M)!r}::DOUBLE / s, 4)
                   END AS hll_estimate
            FROM folded
        ), exact AS (
            SELECT w.d,
                   CAST(count(DISTINCT e.user_id) AS BIGINT) AS exact_roll
            FROM days w JOIN events e
              ON CAST(e.ts AS DATE) <= w.d
             AND CAST(e.ts AS DATE) >= w.d - {_ROLL_DAYS - 1}
            GROUP BY w.d
        )
        SELECT est.d AS day, est.hll_estimate, exact.exact_roll,
               round(abs(hll_estimate - exact_roll)
                     / exact_roll * 100.0, 4) AS rel_error_pct
        FROM est JOIN exact USING (d) ORDER BY day
    """


ORACLE = {
    "hll_rolling_merge": _hll_rolling_oracle(),
    "dp_noisy_counts": f"""
        WITH cells AS (
            SELECT event_type,
                   CAST(user_id % 10 AS INTEGER) AS user_decile,
                   count(*) AS true_n
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, user_decile,
               round(true_n + (-{_DP_SCALE} * sign({_DP_U_SQL})
                     * ln(1 - 2 * abs({_DP_U_SQL}) + 1e-12)), 4) + 0.0
                   AS released_n,
               round(abs(-{_DP_SCALE} * sign({_DP_U_SQL})
                     * ln(1 - 2 * abs({_DP_U_SQL}) + 1e-12)), 4)
                   AS abs_noise
        FROM cells
        ORDER BY event_type, user_decile
    """,
    "approx_distinct_hll": (
        _oracle_one("orders", "o_custkey")
        + " UNION ALL "
        + _oracle_one("lineitem", "l_orderkey")
        + " ORDER BY column_name"
    ),
    "hll_by_group": _hll_group_oracle(),
    "cms_heavy_hitters": _CMS_ORACLE,
    "bloom_probe": _BLOOM_ORACLE,
    "histogram_quantiles": f"""
        WITH x AS (
            SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
        ),
        rng AS (SELECT min(x) AS lo, max(x) AS hi FROM x),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM x),
        binned AS (
            SELECT least({_HIST_BINS - 1},
                         CAST(floor((x - lo) / (hi - lo) * {_HIST_BINS})
                              AS INT)) AS bin,
                   count(*) AS c
            FROM x, rng
            GROUP BY 1
        ),
        cum AS (
            SELECT bin, c,
                   sum(c) OVER (ORDER BY bin) AS cum,
                   sum(c) OVER (ORDER BY bin) - c AS prev
            FROM binned
        ),
        qs AS (SELECT unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q),
        est AS (
            SELECT q,
                   round(lo + bin * ((hi - lo) / {_HIST_BINS})
                         + (q * n - prev) / c * ((hi - lo) / {_HIST_BINS}),
                         4) AS hist_est
            FROM qs, cum, rng, nn
            WHERE cum >= q * n AND prev < q * n
        ),
        exact AS (
            SELECT 0.5::DOUBLE AS q,
                   round(quantile_cont(x, 0.5), 4) AS exact FROM x
            UNION ALL
            SELECT 0.9::DOUBLE, round(quantile_cont(x, 0.9), 4) FROM x
            UNION ALL
            SELECT 0.99::DOUBLE, round(quantile_cont(x, 0.99), 4) FROM x
        )
        SELECT e.q, hist_est, exact,
               round(abs(hist_est - exact) / exact * 100.0, 4) AS rel_err_pct
        FROM est e JOIN exact USING (q)
        ORDER BY q
    """,
}
