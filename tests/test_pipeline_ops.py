"""Differential tests for training-data pipeline operators
(text analysis, dedup, similarity search)."""

from __future__ import annotations

import pytest

from gizmosql_spark.operators import dedup, quality, similarity, text, training
from gizmosql_spark.testing import compare_to_oracle


@pytest.mark.parametrize("name", sorted(text.QUERIES))
def test_text_matches_oracle(spark, sf_dir, name):
    compare_to_oracle(text.QUERIES[name](spark, sf_dir), text.ORACLE[name], sf_dir)


@pytest.mark.parametrize("name", sorted(quality.QUERIES))
def test_quality_matches_oracle(spark, sf_dir, name):
    compare_to_oracle(
        quality.QUERIES[name](spark, sf_dir), quality.ORACLE[name], sf_dir
    )


@pytest.mark.parametrize("name", sorted(dedup.QUERIES))
def test_dedup_matches_oracle(spark, sf_dir, name):
    compare_to_oracle(dedup.QUERIES[name](spark, sf_dir), dedup.ORACLE[name], sf_dir)


@pytest.mark.parametrize("name", sorted(similarity.QUERIES))
def test_similarity_matches_oracle(spark, sf_dir, name):
    compare_to_oracle(
        similarity.QUERIES[name](spark, sf_dir), similarity.ORACLE[name], sf_dir
    )


def test_neardup_nonempty(spark, sf_dir):
    # threshold chosen so the fixture yields pairs (not a trivial pass)
    assert similarity.embedding_neardup(spark, sf_dir).count() > 0


def test_lsh_buckets_distribute(spark, sf_dir):
    # 8-bit buckets should spread vectors (not all in one bucket)
    df = similarity.ann_lsh_buckets(spark, sf_dir)
    assert df.select("bucket").distinct().count() > 10


def test_multimodal_meta_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import multimodal

    compare_to_oracle(
        multimodal.multimodal_meta(spark, sf_dir),
        multimodal.ORACLE["multimodal_meta"],
        sf_dir,
    )


def test_multimodal_features_matches_oracle(spark, sf_dir):
    """Real PNG/BMP decode verified against closed-form arithmetic —
    the image pipeline is differential-checked, not rows-only."""
    from gizmosql_spark.operators import multimodal

    compare_to_oracle(
        multimodal.multimodal_features(spark, sf_dir),
        multimodal.ORACLE["multimodal_features"],
        sf_dir,
    )


def test_multimodal_features_shape(spark, sf_dir):
    from gizmosql_spark.operators import multimodal

    rows = {r["doc_id"]: r for r in
            multimodal.multimodal_features(spark, sf_dir).collect()}
    assert len(rows) == 500
    r0 = rows[0]
    assert r0["fmt"] == "png" and rows[1]["fmt"] == "bmp"
    assert r0["n_px"] == r0["width"] * r0["height"]
    assert 0.0 <= r0["mean_r"] <= 255.0


def test_decode_image_external_gated(spark):
    from gizmosql_spark.operators import multimodal

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        multimodal.decode_image_external(b"\xff\xd8\xff")  # JPEG magic


def test_sampling_operators_match_oracle(spark, sf_dir):
    """Deterministic split/sample/head: md5-threshold selection is a
    pure row-key function — identical membership on every engine."""
    from gizmosql_spark.operators import sampling

    for name in ("dataset_split", "grouped_split", "systematic_sample",
                 "stratified_sample", "grouped_head"):
        compare_to_oracle(
            sampling.QUERIES[name](spark, sf_dir),
            sampling.ORACLE[name],
            sf_dir,
        )


def test_dataset_split_proportions(spark, sf_dir):
    from gizmosql_spark.operators import sampling

    rows = {r["split"]: r["n_docs"]
            for r in sampling.dataset_split(spark, sf_dir).collect()}
    total = sum(rows.values())
    assert 0.75 <= rows["train"] / total <= 0.85
    assert rows["test"] > 0 and rows["val"] > 0


def test_grouped_head_is_stable(spark, sf_dir):
    from gizmosql_spark.operators import sampling

    a = sampling.grouped_head(spark, sf_dir).collect()
    b = sampling.grouped_head(
        spark.newSession() if hasattr(spark, "newSession") else spark,
        sf_dir).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert all(r["rk"] <= sampling.GROUP_K for r in a)


@pytest.mark.parametrize("name", sorted(training.QUERIES))
def test_training_ops_match_oracle(spark, sf_dir, name):
    compare_to_oracle(
        training.QUERIES[name](spark, sf_dir), training.ORACLE[name], sf_dir)


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval-gram probe must be a broadcast join — the corpus side
    stays a scan pipeline at 100 TB."""
    plan = training.decontaminate_ngram(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_sequence_pack_budget_respected(spark, sf_dir):
    """No sequence starts a doc at an offset >= budget past its
    sequence start (concat-and-chunk invariant: seq_id strictly
    follows the running prefix)."""
    out = {r["source"]: r for r in
           training.sequence_pack(spark, sf_dir).collect()}
    assert out and all(r["n_sequences"] >= 1 for r in out.values())
    assert all(r["avg_docs_per_seq"] >= 1.0 for r in out.values())


def test_hll_sketch_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import sketch

    compare_to_oracle(
        sketch.approx_distinct_hll(spark, sf_dir),
        sketch.ORACLE["approx_distinct_hll"], sf_dir)


def test_hll_error_within_bound(spark, sf_dir):
    """HLL theoretical RSE is ~1.04/sqrt(1024) ≈ 3.25%; allow 3 sigma."""
    from gizmosql_spark.operators import sketch

    for r in sketch.approx_distinct_hll(spark, sf_dir).collect():
        assert r["rel_error_pct"] < 9.75, r


def test_cms_heavy_hitters_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import sketch

    compare_to_oracle(
        sketch.cms_heavy_hitters(spark, sf_dir),
        sketch.ORACLE["cms_heavy_hitters"], sf_dir)


def test_cms_estimate_one_sided(spark, sf_dir):
    """Count-Min never underestimates: est >= exact on every row."""
    from gizmosql_spark.operators import sketch

    rows = sketch.cms_heavy_hitters(spark, sf_dir).collect()
    assert rows, "no heavy hitters returned"
    assert all(r["overcount"] >= 0 for r in rows)


def test_bloom_probe_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import sketch

    compare_to_oracle(
        sketch.bloom_probe(spark, sf_dir),
        sketch.ORACLE["bloom_probe"], sf_dir)


def test_bloom_no_false_negatives(spark, sf_dir):
    """Blooms have false positives, never false negatives: every
    exact member must be bloom-positive, so bloom_positive >=
    exact_positive per source (and src0 probes itself exactly)."""
    from gizmosql_spark.operators import sketch

    rows = {r["source"]: r for r in
            sketch.bloom_probe(spark, sf_dir).collect()}
    for r in rows.values():
        assert r["bloom_positive"] >= r["exact_positive"], r
        assert r["bloom_positive"] - r["exact_positive"] == \
            r["false_positives"], r
    src0 = rows["src0"]
    assert src0["exact_positive"] == src0["n_checked"]


def test_inverted_index_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import text

    compare_to_oracle(
        text.inverted_index(spark, sf_dir),
        text.ORACLE["inverted_index"], sf_dir)


def test_inverted_index_postings_sorted(spark, sf_dir):
    from gizmosql_spark.operators import text

    for r in text.inverted_index(spark, sf_dir).collect():
        # posting_head is a comma-joined string since r12 (the driver
        # comparator cannot canonicalize array columns) — parse it
        # back to ints and assert the numeric sort order survived
        # stringification
        head = [int(x) for x in r["posting_head"].split(",") if x != ""]
        assert head == sorted(head)
        assert len(head) <= 10
        assert r["df"] >= r["tf_total"] // 10_000 and r["df"] > 0


def test_pagerank_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import training

    compare_to_oracle(
        training.pagerank_suppliers(spark, sf_dir),
        training.ORACLE["pagerank_suppliers"], sf_dir)


def test_udtf_chunks_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import extensions

    compare_to_oracle(
        extensions.udtf_chunks(spark, sf_dir),
        extensions.ORACLE["udtf_chunks"], sf_dir)


def test_udaf_geomean_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import extensions

    compare_to_oracle(
        extensions.udaf_geomean(spark, sf_dir),
        extensions.ORACLE["udaf_geomean"], sf_dir)


def test_histogram_quantiles_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import sketch

    compare_to_oracle(
        sketch.histogram_quantiles(spark, sf_dir),
        sketch.ORACLE["histogram_quantiles"], sf_dir)


def test_histogram_quantiles_accuracy(spark, sf_dir):
    """1000 equi-width bins must land within ~0.2% of the exact
    interpolated percentile on this distribution."""
    from gizmosql_spark.operators import sketch

    for r in sketch.histogram_quantiles(spark, sf_dir).collect():
        assert r["rel_err_pct"] < 0.2, r


def test_vocab_oov_rate_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import text

    compare_to_oracle(
        text.vocab_oov_rate(spark, sf_dir),
        text.ORACLE["vocab_oov_rate"], sf_dir)


def test_events_mad_outliers_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import events

    compare_to_oracle(
        events.events_mad_outliers(spark, sf_dir),
        events.ORACLE["events_mad_outliers"], sf_dir)


def test_ann_recall_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import similarity

    compare_to_oracle(
        similarity.ann_recall(spark, sf_dir),
        similarity.ORACLE["ann_recall"], sf_dir)


def test_ann_recall_in_unit_range(spark, sf_dir):
    from gizmosql_spark.operators import similarity

    r = similarity.ann_recall(spark, sf_dir).collect()[0]
    assert 0.0 <= r["recall_at_k"] <= 1.0
    assert r["n_hits"] <= r["k"]


def test_hll_by_group_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import sketch

    compare_to_oracle(
        sketch.hll_by_group(spark, sf_dir),
        sketch.ORACLE["hll_by_group"], sf_dir)


def test_hll_by_group_error_within_bound(spark, sf_dir):
    from gizmosql_spark.operators import sketch

    for r in sketch.hll_by_group(spark, sf_dir).collect():
        assert r["rel_error_pct"] < 9.75, r


def test_multimodal_frames_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import multimodal

    compare_to_oracle(
        multimodal.multimodal_frames(spark, sf_dir),
        multimodal.ORACLE["multimodal_frames"], sf_dir)


def test_multimodal_frames_stride(spark, sf_dir):
    from gizmosql_spark.operators import multimodal

    rows = multimodal.multimodal_frames(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["frame_idx"] % multimodal._FRAME_STRIDE == 0
        assert r["frame_idx"] < r["n_frames"]
        assert 0 <= r["first_byte"] < 256


def test_multimodal_audio_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import multimodal

    compare_to_oracle(
        multimodal.multimodal_audio(spark, sf_dir),
        multimodal.ORACLE["multimodal_audio"], sf_dir)


def test_events_rfm_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import events

    compare_to_oracle(
        events.events_rfm(spark, sf_dir),
        events.ORACLE["events_rfm"], sf_dir)


def test_mixture_plan_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import sampling

    compare_to_oracle(
        sampling.mixture_plan(spark, sf_dir),
        sampling.ORACLE["mixture_plan"], sf_dir)


def test_mixture_plan_budget_conserved(spark, sf_dir):
    """Allocations are bounded by the budget and weights sum to ~1."""
    from gizmosql_spark.operators import sampling

    rows = sampling.mixture_plan(spark, sf_dir).collect()
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-3
    assert sum(r["alloc_tokens"] for r in rows) <= sampling._MIX_BUDGET
    assert all(0.0 <= r["sampling_rate"] <= 1.0 for r in rows)


def test_events_wow_growth_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import events

    compare_to_oracle(
        events.events_wow_growth(spark, sf_dir),
        events.ORACLE["events_wow_growth"], sf_dir)


def test_char_entropy_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import text

    compare_to_oracle(
        text.char_entropy(spark, sf_dir),
        text.ORACLE["char_entropy"], sf_dir)


def test_dedup_keeper_quality_matches_oracle(spark, sf_dir):
    from gizmosql_spark.operators import dedup

    compare_to_oracle(
        dedup.dedup_keeper_quality(spark, sf_dir),
        dedup.ORACLE["dedup_keeper_quality"], sf_dir)


def test_grouped_split_no_leakage(spark, sf_dir):
    """Every source maps to exactly one split (leakage-free by
    construction — this pins the construction)."""
    from pyspark.sql import functions as F

    from gizmosql_spark.operators.sampling import (
        _TRAIN_MAX, _VAL_MAX, _t)

    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("source"))
    split = (
        F.when(h < _TRAIN_MAX, F.lit("train"))
        .when(h < _VAL_MAX, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    spans = (
        d.select("source", split.alias("split")).distinct()
        .groupBy("source").count().filter(F.col("count") > 1)
    )
    assert spans.count() == 0


def test_zipf_slope_negative(spark, sf_dir):
    """Zipf's law: term frequency decays with rank, so every
    language's fitted slope must be negative."""
    from gizmosql_spark.operators import text

    rows = text.zipf_vocab_stats(spark, sf_dir).collect()
    assert rows and all(r.zipf_slope < 0 for r in rows)


def test_token_fertility_byte_ratio(spark, sf_dir):
    """UTF-8 bytes per token >= chars per token always (equal on the
    all-ASCII fixture; multi-byte scripts push the ratio above 1)."""
    from gizmosql_spark.operators import text

    rows = {r.lang: r for r in text.token_fertility(spark, sf_dir).collect()}
    assert rows
    assert all(r.bytes_per_token >= r.chars_per_token for r in rows.values())
    assert all(r.tokens_per_doc > 0 for r in rows.values())


def test_error_burst_runs_are_dense(spark, sf_dir):
    """Every reported storm spans >= 3 errors and its average
    inter-event gap is within the 5-minute predicate."""
    from gizmosql_spark.operators import events

    rows = events.events_error_burst(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.burst_len >= 3
        span_s = (r.burst_end - r.burst_start).total_seconds()
        assert span_s <= 300 * (r.burst_len - 1)


def test_multimodal_phash_dedup_matches_oracle(spark, sf_dir):
    """Real-decode perceptual hash vs the closed-form pixel oracle."""
    from gizmosql_spark.operators import multimodal

    compare_to_oracle(
        multimodal.multimodal_phash_dedup(spark, sf_dir),
        multimodal.ORACLE["multimodal_phash_dedup"], sf_dir)


def test_multimodal_phash_groups_consistent(spark, sf_dir):
    """Every dup points at a keeper with the identical hash, and the
    keeper is the group's min doc_id."""
    from gizmosql_spark.operators import multimodal

    rows = multimodal.multimodal_phash_dedup(spark, sf_dir).collect()
    by_hash = {}
    for r in rows:
        by_hash.setdefault(r["phash"], []).append(r)
    assert any(len(v) > 1 for v in by_hash.values())  # real collisions
    for grp in by_hash.values():
        keeper = min(r["doc_id"] for r in grp)
        assert all(r["keeper"] == keeper for r in grp)
        assert all((r["doc_id"] != keeper) == r["is_dup"] for r in grp)


def test_global_row_number_matches_window(spark, sf_dir):
    """scale.global_row_number must equal the unpartitioned
    Window.orderBy row_number it replaces — for quantile boundaries,
    degenerate boundaries (empty → one bucket), and duplicate
    boundaries (skewed approxQuantile output)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gizmosql_spark.operators import loader, scale

    d = loader.table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.orderBy("n_chars", "doc_id")
    want = {
        r["doc_id"]: r["rn"]
        for r in d.select(
            "doc_id", F.row_number().over(w).cast("long").alias("rn")
        ).collect()
    }
    quantiles = scale.range_boundaries(d, ["n_chars"], 8)[0]
    for bnds in (quantiles, [], [quantiles[0]] * 3, [-1e18, 1e18]):
        got = scale.global_row_number(
            d, ["n_chars", "doc_id"], "rn", "n_chars", bnds,
            total_col="n_total")
        rows = got.collect()
        assert {r["doc_id"]: r["rn"] for r in rows} == want, bnds
        assert all(r["n_total"] == len(want) for r in rows)


@pytest.mark.parametrize("n", [1, 2, 3, 4, 5, 10, 11, 150])
def test_ntile_closed_form_matches_window_ntile(spark, n):
    """events._ntile_from_rank is positionally identical to SQL
    ntile(4) for every frame size class (n < k, n % k == 0, ragged)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gizmosql_spark.operators.events import _ntile_from_rank

    d = spark.range(1, n + 1).withColumnRenamed("id", "rn")
    w = Window.orderBy("rn")
    rows = d.select(
        F.ntile(4).over(w).alias("want"),
        _ntile_from_rank(F.col("rn"), F.lit(n).cast("long"), 4)
        .alias("got"),
    ).collect()
    assert all(r["want"] == r["got"] for r in rows)


def test_lit_vec_sql_rejects_null_element():
    assert similarity._lit_vec_sql([1, 0.5]) == (
        "array(CAST('1.0' AS DOUBLE),CAST('0.5' AS DOUBLE))")
    with pytest.raises(ValueError, match="element 2 is NULL"):
        similarity._lit_vec_sql([0.1, 0.2, None, 0.4])


@pytest.mark.parametrize("values", [
    [1.5, float("nan"), -2.0],      # NaN: the stats leave it out
    [1.5, 4.0, -2.0],
])
def test_column_minmax_matches_spark_on_doubles(spark, tmp_path, values):
    """The footer answer, or the scan callers fall back to when there is
    none, equals F.min/F.max; for doubles the footer is never used."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from gizmosql_spark.operators import loader

    pq.write_table(pa.table({"x": values, "k": [3, 1, 2]}),
                   str(tmp_path / "t.parquet"))
    df = spark.read.parquet(str(tmp_path / "t.parquet"))

    def minmax(col):
        got = loader.column_minmax(str(tmp_path), "t", col)
        if got is None:
            got = tuple(df.agg(F.min(col), F.max(col)).first())
        return got, tuple(df.agg(F.min(col), F.max(col)).first())

    got, want = minmax("x")
    assert loader.column_minmax(str(tmp_path), "t", "x") is None
    assert [str(v) for v in got] == [str(v) for v in want]
    assert math.isnan(want[1]) == any(math.isnan(v) for v in values)
    # an integer column is still answered from the footer
    got, want = minmax("k")
    assert loader.column_minmax(str(tmp_path), "t", "k") == want == (1, 3)


#: the six operators that served stale answers from module-level
#: memos, then one operator per other per-session memo: table
#: relations (q06), persisted frames (pmi_collocations), the bounded
#: clone (pagerank_suppliers), footer row counts
#: (embedding_neardup_lsh) and column stats (histogram_quantiles), a
#: persisted frame and its collected scalars (hll_rolling_merge), the
#: cluster edge count (dedup_clusters), the IVF model (ann_ivf), the
#: capped Lloyd's fit (semdedup_prune) and the event-stream schema
#: (stream_tumbling)
_FRESHNESS_OPS = [
    "events_rfm", "quantile_normalize", "pca_power_iteration",
    "kmeans_embeddings", "silhouette_kmeans", "knn_label_eval",
    "q06", "pmi_collocations", "pagerank_suppliers",
    "embedding_neardup_lsh", "histogram_quantiles", "hll_rolling_merge",
    "dedup_clusters", "ann_ivf", "semdedup_prune", "stream_tumbling",
]

#: the tables the freshness check halves in place
_HALVED = ("lineitem", "orders", "part", "customer", "supplier",
           "documents", "embeddings", "events")


@pytest.mark.parametrize("name", _FRESHNESS_OPS)
def test_result_follows_data_within_session(spark, sf_smoke, tmp_path,
                                            name):
    """Halving the tables in place between two runs in one session
    gives the second run the answer a fresh session gives on a fresh
    copy of the halved data, not the first run's."""
    import shutil

    import pyarrow.parquet as pq

    from gizmosql_spark import session_cache
    from gizmosql_spark.operators import registry

    data = str(tmp_path / "sf")
    shutil.copytree(sf_smoke, data)
    op = registry.resolve(name)

    def rows(session, path=data):
        return sorted(map(repr, op(session, path).collect()))

    s = spark.newSession()
    fresh = spark.newSession()
    try:
        before = rows(s)
        for t in _HALVED:
            path = f"{data}/{t}.parquet"
            table = pq.read_table(path)
            pq.write_table(table.slice(0, table.num_rows // 2), path)
        after = rows(s)
        assert after != before
        assert after == rows(fresh, shutil.copytree(data, f"{tmp_path}/cp"))
    finally:
        session_cache.drop(s)
        session_cache.drop(fresh)
