"""Scale-pattern operators: differential correctness + the plan
properties that make them worth having (no exchange into a bucketed
join; salted aggregation recombines exactly)."""

from __future__ import annotations

import pytest

from gizmosql_spark.operators import scale
from gizmosql_spark.testing import compare_to_oracle


@pytest.mark.parametrize("name", sorted(scale.QUERIES))
def test_scale_matches_oracle(spark, sf_dir, name):
    compare_to_oracle(scale.QUERIES[name](spark, sf_dir), scale.ORACLE[name], sf_dir)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_bucketed_join_has_no_join_exchange(spark, sf_dir):
    df = scale.bucketed_join(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Bucketed: true") == 2
    # no Exchange may feed the join — both inputs are pre-bucketed; the
    # only exchanges allowed are the post-join aggregate/sort ones
    tree = plan.split("\n\n")[0].splitlines()
    smj = next(i for i, l in enumerate(tree) if "SortMergeJoin" in l)
    assert not any("Exchange" in l for l in tree[smj + 1 :])


def test_salted_agg_two_stage(spark, sf_dir):
    plan = _plan(scale.salted_agg(spark, sf_dir))
    # two aggregation layers (salted partial + final combine), and the
    # fact scan still prunes to the aggregated columns only
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_shipdate" not in read_schema
    assert "l_quantity" in read_schema


def test_partition_pruning_in_plan(spark, sf_dir):
    df = scale.partition_pruned_agg(spark, sf_dir)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    # the date predicate must appear as a partition filter, not a data
    # filter over all files
    pf_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "event_date" in pf_line


def test_zorder_layout_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import scale
    from gizmosql_spark.testing import compare_to_oracle

    compare_to_oracle(
        scale.zorder_layout(spark, sf_dir),
        scale.ORACLE["zorder_layout"], sf_dir)


def test_zorder_buckets_are_local(spark, sf_dir):
    """Z-order's point: each z-range bucket covers a small 2-D bbox.
    Every 4096-wide z bucket spans at most a 64x64 tile of the
    256x256 key space (Morton property: 4096 = 2^12 -> 6 bits per
    dimension)."""
    from gizmosql_spark.operators import scale

    rows = scale.zorder_layout(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["bx_max"] - r["bx_min"] <= 63, r
        assert r["by_max"] - r["by_min"] <= 63, r


# --- banded hyperplane LSH scale law (round-4) -----------------------


def test_lsh_planes_grow_with_corpus():
    """r = ceil(log2 n) - c keeps per-band bucket count tracking
    n/2^c, so expected random-collision bucket size is constant —
    the property whose absence (fixed 8 planes) made the round-3
    form quadratic at scale."""
    from gizmosql_spark.operators import similarity as S

    assert S._lsh_planes_per_band(1_000) < S._lsh_planes_per_band(1_000_000)
    for n in (10_000, 10_000_000, 10_000_000_000):
        r = S._lsh_planes_per_band(n)
        assert n / (2 ** r) <= 2 ** S.LSH_BUCKET_LOG2


def test_lsh_buckets_balanced_and_candidates_linear(spark, sf_dir):
    """No hot buckets, and candidate-pair volume is a small constant
    times n (B·2^c-ish) — pins both the hash-family quality (the LCG
    weights collapsed ~n²/8 pairs into hot buckets) and the
    sub-quadratic blocking the operator exists for."""
    from pyspark.sql import functions as F

    from gizmosql_spark import session_cache
    from gizmosql_spark.operators import loader, similarity as S

    n = loader.table(spark, sf_dir, "embeddings").count()
    r = S._lsh_planes_per_band(n)
    # the operator registers the banded frame under this key; build it
    # through the public entry to exercise the real path
    S.embedding_neardup_lsh(spark, sf_dir).count()
    e = session_cache.for_spark(spark).get(
        f"similarity.emb_sigs:{sf_dir}:{S.LSH_BANDS}x{r}")[1]
    sizes = (
        e.groupBy("band", "bucket").count()
        .agg(
            F.max("count").alias("max_bucket"),
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("cand"),
        )
        .collect()[0]
    )
    assert sizes["max_bucket"] <= max(32, n * 0.08)
    assert sizes["cand"] <= 48 * n


def test_no_unrounded_float_aggregates():
    """Corpus-wide hash-stability lint (round-8 verdict item 1): no
    ``oracle_sql()`` entry may emit an unrounded sum/avg/stddev of a
    non-integer DOUBLE column — DuckDB's and Spark's addition orders
    differ in the low-order bits, which the driver's exact value hash
    cannot absorb (the round-8 ``bucketed_join`` red row). Inner
    intermediates that a later SELECT rounds are allowlisted with
    justification in tools/lint_float_aggs.py."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import __spark_entry__ as entry
    from tools.lint_float_aggs import ALLOWLIST, lint_sql

    violations = []
    for name, sql in sorted(entry.oracle_sql().items()):
        for v in lint_sql(name, sql):
            snippet = v.split("`")[1] if "`" in v else ""
            if (name, snippet) in ALLOWLIST:
                continue
            violations.append(v)
    assert not violations, "\n".join(violations)


def test_no_signed_zero_hazards():
    """Signed-zero lint (round-9 verdict item 2): ``round()`` is NOT a
    terminal canonicalizer for values that straddle zero — DuckDB's
    round() keeps the sign of a tiny negative (-0.0) while Spark's
    returns +0.0, and the driver's exact hash sees the split (the r9
    ``stats_agg`` red row). Every rounded corr/covar/regr-slope/log
    expression must carry the ``+ 0.0`` normalizer or be allowlisted
    as provably positive."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import __spark_entry__ as entry
    from tools.lint_float_aggs import (
        SIGNED_ZERO_ALLOWLIST,
        lint_signed_zero,
    )

    violations = []
    for name, sql in sorted(entry.oracle_sql().items()):
        for v in lint_signed_zero(name, sql):
            snippet = v.split("`")[1] if "`" in v else ""
            if (name, snippet) in SIGNED_ZERO_ALLOWLIST:
                continue
            violations.append(v)
    assert not violations, "\n".join(violations)


def test_signed_zero_lint_detects_bare_round():
    """The lint must flag the exact r9 escape: a rounded covar with no
    ``+ 0.0`` normalizer (the r9 lint treated round() as terminal SAFE
    and let the signed zero sail through)."""
    from tools.lint_float_aggs import lint_signed_zero

    bad = "SELECT round(covar_samp(a, b), 6) AS c FROM t"
    assert lint_signed_zero("demo", bad), "bare rounded covar not flagged"
    good = "SELECT round(covar_samp(a, b), 6) + 0.0 AS c FROM t"
    assert not lint_signed_zero("demo", good)
    # log-ratio shape (PMI/DSIR class)
    assert lint_signed_zero(
        "demo", "SELECT round(avg(ln(x / y)), 6) AS w FROM t")
    assert not lint_signed_zero(
        "demo", "SELECT round(avg(ln(x / y)), 6) + 0.0 AS w FROM t")
    # z-statistic / standardized-score shape (division by sqrt)
    assert lint_signed_zero(
        "demo", "SELECT round((n - e) / sqrt(v), 4) AS z FROM t")
    assert not lint_signed_zero(
        "demo", "SELECT round((n - e) / sqrt(v), 4) + 0.0 AS z FROM t")
    # a line-wrapped normalizer is still a normalizer
    assert not lint_signed_zero(
        "demo",
        "SELECT round(corr(a, b), 6)\n"
        "                 + 0.0 AS c FROM t")
    # a value-changing constant is NOT a normalizer
    assert lint_signed_zero(
        "demo", "SELECT round(corr(a, b), 6) + 0.05 AS c FROM t")


def test_bucket_stats_rejects_null_lead(spark):
    """ADVICE r11: a NULL lead yields a NULL bucket id, which used to
    crash the driver-side sort (None vs int) — or worse, could hand
    null-bucket rows offset 0 and duplicate global row numbers. The
    contract is non-null leads; bucket_stats must say so loudly."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1.0,), (None,), (3.0,)], "lead double"
    ).withColumn("__b", scale.bucket_expr(F.col("lead"), [2.0]))
    with pytest.raises(ValueError, match="non-null lead"):
        scale.bucket_stats(df, ["__b"])


def test_global_row_number_broadcast_fallback(spark, monkeypatch):
    """ADVICE r11: above MAX_LITERAL_MAP buckets the offsets must ride
    a broadcast join, not a thousand-literal create_map — and the rank
    must be identical either way."""
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        (F.col("id") * 7 % 101).alias("v"), "id")
    bnds = [float(b) for b in range(5, 100, 5)]  # 19 boundaries -> 20 buckets
    literal = scale.global_row_number(
        df, ["v", "id"], "rn", "v", bnds).orderBy("v", "id")
    monkeypatch.setattr(scale, "MAX_LITERAL_MAP", 4)
    joined = scale.global_row_number(
        df, ["v", "id"], "rn", "v", bnds).orderBy("v", "id")
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert [r["rn"] for r in literal.collect()] == \
        [r["rn"] for r in joined.collect()]


def test_ntile_from_rank_matches_window_ntile(spark):
    """VERDICT r11 item 6: the closed-form positional ntile must equal
    ``F.ntile`` on adversarial n % k cases (n < k, n == k, n % k != 0,
    ties in the order column broken by id)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gizmosql_spark.operators.events import _ntile_from_rank

    for n, k in [(1, 4), (2, 4), (3, 4), (4, 4), (5, 4), (7, 4),
                 (8, 3), (10, 4), (13, 5), (100, 7)]:
        df = spark.range(n).select(
            F.col("id"), (F.col("id") % 3).alias("v"))
        w = Window.orderBy("v", "id")
        expect = df.select(
            "id", F.ntile(k).over(w).alias("t")).orderBy("id").collect()
        got = df.select(
            "id",
            _ntile_from_rank(
                F.row_number().over(w), F.lit(n), k).alias("t"),
        ).orderBy("id").collect()
        assert [r["t"] for r in got] == [r["t"] for r in expect], (n, k)


def test_keyed_frame_scalars_memoizes(spark, tmp_path):
    """r12: the two-pass global-order family's bounded collects ride a
    per-session cache computed from the keyed-persisted frame itself —
    a second invocation must reuse both (no new collect job), and the
    scalars must describe the persisted rows."""
    from pyspark.sql import functions as F

    calls = []

    def build():
        return spark.range(100).select(
            F.col("id"), (F.col("id") % 5).alias("b"))

    def collect_fn(bdf):
        calls.append(1)
        return sorted((r["b"], r["n"]) for r in bdf.groupBy("b").agg(
            F.count(F.lit(1)).alias("n")).collect())

    f1, s1 = scale.keyed_frame_scalars(
        spark, str(tmp_path), "test:kfs_memo", build(), collect_fn)
    f2, s2 = scale.keyed_frame_scalars(
        spark, str(tmp_path), "test:kfs_memo", build(), collect_fn)
    assert len(calls) == 1
    assert f1 is f2 and s1 is s2
    assert s1 == [(i, 20) for i in range(5)]
