"""Corpus-quality operators for training-data pipelines.

Extension tier beyond the reference (SURVEY §7 Phase 5), sibling of
operators/text.py: repetition-based quality gating (the Gopher-rules
family), PMI collocation mining, and winnowing fingerprints (the
MOSS-style selective k-gram sketch that underlies scalable substring
dedup).

Everything is built-in JVM column arithmetic — token/k-gram expansion
with ``transform``/``explode``, no Python UDFs — so each operator is
scan + wordcount-shaped shuffles that survive a 100 TB corpus:

* ``gopher_quality``   — per-doc token stats are one partial-agg pass
  over (doc, token) and (doc, bigram); per-source rollup is a second
  tiny agg. No joins against the corpus.
* ``pmi_collocations`` — corpus bigram counts join vocabulary-sized
  unigram counts (broadcast), then a global top-k
  (TakeOrderedAndProject, no full sort).
* ``winnowing_fingerprint`` — pure per-row array arithmetic inside one
  whole-stage-codegen scan; zero shuffles before the final order-by.

All formulas are engine-portable for the DuckDB differential oracle:
md5-derived hex fingerprints compare lexicographically the same in
both engines, and ratios are plain IEEE-double arithmetic with
``round(x, 6)`` applied before any ranking (FIXTURES.md rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gizmosql_spark.operators import loader
from gizmosql_spark.operators.dedup import _SIMHASH_CTES
from gizmosql_spark.operators.text import _norm, _term_counts


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return loader.table(spark, sf_dir, name)


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, ws: array<string>) over normalized text."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "source", F.split(_norm(F.col("text")), " ").alias("ws")
    )


# Spark's sequence(a, b) DESCENDS when a > b, so every adjacent-pair
# expansion is guarded: docs with <2 tokens yield an empty array.
_BIGRAMS_EXPR = (
    "CASE WHEN size(ws) >= 2 THEN "
    "transform(sequence(0, size(ws) - 2),"
    " i -> concat(ws[i], ' ', ws[i + 1])) "
    "ELSE array() END"
)


def _gopher_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher repetition metrics + the pass flag —
    shared by ``gopher_quality`` (per-source rollup) and
    ``pipeline_funnel`` (quality-gate stage). Columns: doc_id, source,
    n_words, unique_frac, top_tok_frac, top_bigram_frac, mean_wlen,
    passed."""
    base = _tokens(spark, sf_dir)
    toks = base.select(
        "doc_id", "source", F.explode("ws").alias("tok")
    )
    tc = toks.groupBy("doc_id", "source", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    docstats = tc.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_unique"),
        F.max("c").alias("top_c"),
        F.sum(F.col("c") * F.length("tok")).alias("char_sum"),
    )
    bg = base.select(
        "doc_id", F.explode(F.expr(_BIGRAMS_EXPR)).alias("bg")
    )
    bgmax = (
        bg.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bg_c"))
    )
    per_doc = (
        docstats.join(bgmax, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_words",
            (F.col("n_unique") / F.col("n_words")).alias("unique_frac"),
            (F.col("top_c") / F.col("n_words")).alias("top_tok_frac"),
            F.coalesce(
                F.col("top_bg_c") / (F.col("n_words") - 1), F.lit(0.0)
            ).alias("top_bigram_frac"),
            (F.col("char_sum") / F.col("n_words")).alias("mean_wlen"),
        )
    )
    passed = (
        (F.col("unique_frac") >= 0.3)
        & (F.col("top_tok_frac") <= 0.125)
        & (F.col("top_bigram_frac") <= 0.08)
        & (F.col("mean_wlen") >= 3.0)
        & (F.col("mean_wlen") <= 10.0)
        & (F.col("n_words") >= 10)
    )
    return per_doc.withColumn("passed", passed)


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gate (the Gopher-rules family,
    Rae et al. 2021): per-document lexical-diversity and repetition
    metrics, rolled up per source with a pass rate.

    Metrics per doc: unique-token fraction, most-frequent-token
    fraction, most-frequent-bigram fraction, mean word length, token
    count. A doc passes when none of the repetition signals trips.

    100 TB shape: token stats are one (doc, token) partial agg —
    map-side combine collapses repeats before the shuffle; bigram
    stats likewise; the per-source rollup is O(#sources) rows.
    """
    per_doc = _gopher_per_doc(spark, sf_dir)
    passed = F.col("passed")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(passed.cast("long")).alias("n_pass"),
            F.round(F.avg("unique_frac"), 6).alias("avg_unique_frac"),
            F.round(F.avg("top_tok_frac"), 6).alias("avg_top_tok_frac"),
            F.round(F.avg("top_bigram_frac"), 6).alias("avg_top_bigram_frac"),
            F.round(F.avg("mean_wlen"), 6).alias("avg_wlen"),
        )
        .orderBy("source")
    )


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by pointwise mutual information:
    PMI(x,y) = ln( (c_xy / B) / ((c_x / N) * (c_y / N)) ) over
    adjacent-token bigrams, minimum support 5, top 20.

    100 TB shape: bigram and unigram counts are wordcount-shaped
    (map-side combined); the unigram table is vocabulary-sized so both
    probe joins broadcast; the final top-k is TakeOrderedAndProject —
    no global sort materializes.
    """
    base = _tokens(spark, sf_dir)
    # vocabulary-sized count tables, checkpointed: each feeds both a
    # probe join and its own total rollup below, and the corpus
    # totals DERIVE from them (N = sum unigram counts, B = sum bigram
    # counts) — the previous eager toks.count()/bg.count() scalars
    # were two extra full tokenize scans per invocation. Unigram
    # counts roll up the shared persisted (doc, term, tc) frame
    # (same _norm tokenization, integer sum of integer counts — exact)
    # instead of a second tokenize scan of the corpus; only the bigram
    # side still needs the raw token arrays.
    # vocab rollup rides the persist registry (r12): the per-call
    # localCheckpoint re-ran this rollup + a materialization job every
    # invocation for a frame that is vocabulary-sized and
    # deterministic per fixture dir — the same bounded class as
    # tfidf's df frame (r12 §9)
    uni = loader.keyed_persist(
        spark, sf_dir, f"quality.pmi_unigrams:{sf_dir}",
        lambda: _term_counts(spark, sf_dir)
        .groupBy(F.col("term").alias("tok"))
        .agg(F.sum("tc").alias("c")),
        materialize=True)
    bg = base.select(F.explode(F.expr(_BIGRAMS_EXPR)).alias("bg")).select(
        F.split("bg", " ")[0].alias("w1"), F.split("bg", " ")[1].alias("w2")
    )
    cxy = (bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
           .localCheckpoint())
    n_total_df = uni.agg(
        F.sum("c").cast("double").alias("n_total"))
    b_total_df = cxy.agg(
        F.sum("c_xy").cast("double").alias("b_total"))
    scored = (
        cxy.filter(F.col("c_xy") >= 5)
        .join(
            F.broadcast(uni.select(F.col("tok").alias("w1"),
                                   F.col("c").alias("c_x"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("tok").alias("w2"),
                                   F.col("c").alias("c_y"))),
            "w2",
        )
        .crossJoin(F.broadcast(n_total_df))
        .crossJoin(F.broadcast(b_total_df))
        .select(
            "w1",
            "w2",
            F.col("c_xy").alias("support"),
            # PMI straddles zero → + 0.0 (signed-zero normalizer,
            # see relational.stats_agg)
            (F.round(
                F.log(
                    (F.col("c_xy") / F.col("b_total"))
                    / (
                        (F.col("c_x") / F.col("n_total"))
                        * (F.col("c_y") / F.col("n_total"))
                    )
                ),
                6,
            ) + F.lit(0.0)).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(20)


#: winnowing parameters: char k-grams of length 7, window 4 →
#: guarantees any match of length >= k + w - 1 = 10 shares a
#: fingerprint (the winnowing theorem, Schleimer et al. 2003).
_WINNOW_K = 7
_WINNOW_W = 4

_WINNOW_EXPR = f"""
CASE WHEN length(norm) >= {_WINNOW_K} THEN
  transform(sequence(1, length(norm) - {_WINNOW_K} + 1),
            i -> substring(md5(substring(norm, i, {_WINNOW_K})), 1, 8))
ELSE array() END
"""

_FPS_EXPR = f"""
CASE WHEN size(hs) >= {_WINNOW_W} THEN
  array_distinct(transform(sequence(1, size(hs) - {_WINNOW_W} + 1),
                           j -> array_min(slice(hs, j, {_WINNOW_W}))))
WHEN size(hs) > 0 THEN array(array_min(hs))
ELSE array() END
"""


def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document sketch (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS fingerprinting scheme): hash every char 7-gram, keep the
    minimum hash of every 4-window, distinct the survivors. The sketch
    is position-robust (any shared substring of length >= 10 shares a
    fingerprint) and ~2/(w+1) the size of the full k-gram set.

    Hashes are 8-hex-char md5 prefixes compared lexicographically —
    identical in Spark and DuckDB, so the oracle reproduces the digest
    bit-for-bit.

    100 TB shape: pure per-row array arithmetic inside one
    whole-stage-codegen scan; no shuffle at all before the
    final order-by (and none in a real pipeline, where the digest
    feeds a dedup join instead).
    """
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", _norm(F.col("text")).alias("norm"))
        .select("doc_id", F.expr(_WINNOW_EXPR).alias("hs"))
        .select(
            "doc_id",
            F.size("hs").alias("n_grams"),
            F.expr(_FPS_EXPR).alias("fps"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("int").alias("n_grams"),
            F.size("fps").cast("int").alias("n_fp"),
            F.md5(F.array_join(F.array_sort("fps"), ",")).alias("fp_digest"),
        )
        .orderBy("doc_id")
    )


def pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pretraining-data pipeline funnel — the composition
    query of the quality/dedup tier: ingest → language keep (lang =
    'en') → Gopher quality gate → exact-dedup keeper (min doc_id per
    normalized-text md5) → near-dup keeper (min doc_id per 64-bit
    SimHash), reported as per-source survivor counts. Each stage
    filters the previous stage's survivors, exactly like a production
    corpus pipeline (CCNet/FineWeb shape: filter before dedup so the
    expensive stages see fewer docs).

    100 TB shape: every per-doc signal (Gopher metrics, fingerprint,
    SimHash) is intrinsic to the document, so all are computed
    corpus-wide in the existing wordcount-shaped passes and combined
    with two doc-keyed joins; the stage-dependent part — keeper
    selection among survivors — is two window mins partitioned on
    uniform hash keys (fp, simhash). Three doc-keyed + two hash-keyed
    shuffles total, all linear, no iteration."""
    from gizmosql_spark.operators.dedup import dedup_simhash

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang",
        F.md5(_norm(F.col("text"))).alias("fp"),
    )
    per_doc = _gopher_per_doc(spark, sf_dir).select("doc_id", "passed")
    sims = dedup_simhash(spark, sf_dir).select("doc_id", "simhash")
    s1 = F.col("lang") == "en"
    s2 = s1 & F.col("passed")
    flags = (
        d.join(per_doc, "doc_id")
        .join(sims, "doc_id")
        .select("doc_id", "source", "fp", "simhash",
                s1.alias("s1"), s2.alias("s2"))
        .withColumn(
            "s3",
            F.col("s2") & (F.col("doc_id") == F.min(
                F.when(F.col("s2"), F.col("doc_id"))
            ).over(Window.partitionBy("fp"))),
        )
        .withColumn(
            "s4",
            F.col("s3") & (F.col("doc_id") == F.min(
                F.when(F.col("s3"), F.col("doc_id"))
            ).over(Window.partitionBy("simhash"))),
        )
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_ingest"),
            F.sum(F.col("s1").cast("long")).alias("n_lang"),
            F.sum(F.col("s2").cast("long")).alias("n_quality"),
            F.sum(F.col("s3").cast("long")).alias("n_exact_keep"),
            F.sum(F.col("s4").cast("long")).alias("n_near_keep"),
        )
        .orderBy("source")
    )


QUERIES = {
    "gopher_quality": gopher_quality,
    "pipeline_funnel": pipeline_funnel,
    "pmi_collocations": pmi_collocations,
    "winnowing_fingerprint": winnowing_fingerprint,
}

_NORM_SQL = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"

# DuckDB lists are 1-based; range(a, b) excludes b.
_BIGRAMS_SQL = (
    "CASE WHEN len(ws) >= 2 THEN "
    "list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]) "
    "ELSE [] END"
)

#: DuckDB CTE chain ending in ``per_doc(doc_id, source, n_words,
#: unique_frac, top_tok_frac, top_bigram_frac, mean_wlen)`` — shared
#: by the gopher_quality and pipeline_funnel oracles.
_GOPHER_PERDOC_CTES = f"""base AS (
            SELECT doc_id, source,
                   string_split({_NORM_SQL}, ' ') AS ws
            FROM documents
        ), toks AS (
            SELECT doc_id, source, unnest(ws) AS tok FROM base
        ), tc AS (
            SELECT doc_id, source, tok, count(*) AS c
            FROM toks GROUP BY doc_id, source, tok
        ), docstats AS (
            SELECT doc_id, source,
                   sum(c) AS n_words,
                   count(*) AS n_unique,
                   max(c) AS top_c,
                   sum(c * len(tok)) AS char_sum
            FROM tc GROUP BY doc_id, source
        ), bg AS (
            SELECT doc_id, unnest({_BIGRAMS_SQL}) AS bg
            FROM base
        ), bgmax AS (
            SELECT doc_id, max(c) AS top_bg_c FROM (
                SELECT doc_id, bg, count(*) AS c
                FROM bg GROUP BY doc_id, bg
            ) GROUP BY doc_id
        ), per_doc AS (
            SELECT d.doc_id, d.source, d.n_words,
                   d.n_unique / d.n_words AS unique_frac,
                   d.top_c / d.n_words AS top_tok_frac,
                   coalesce(b.top_bg_c / (d.n_words - 1), 0.0)
                       AS top_bigram_frac,
                   d.char_sum / d.n_words AS mean_wlen
            FROM docstats d LEFT JOIN bgmax b USING (doc_id)
        )"""

#: The Gopher pass predicate over per_doc columns (SQL; the Spark
#: twin lives in _gopher_per_doc).
_GOPHER_PASS_SQL = """unique_frac >= 0.3
                              AND top_tok_frac <= 0.125
                              AND top_bigram_frac <= 0.08
                              AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
                              AND n_words >= 10"""

ORACLE: dict[str, str] = {
    "gopher_quality": f"""
        WITH {_GOPHER_PERDOC_CTES}
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN {_GOPHER_PASS_SQL}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
               round(avg(unique_frac), 6) AS avg_unique_frac,
               round(avg(top_tok_frac), 6) AS avg_top_tok_frac,
               round(avg(top_bigram_frac), 6) AS avg_top_bigram_frac,
               round(avg(mean_wlen), 6) AS avg_wlen
        FROM per_doc GROUP BY source ORDER BY source
    """,
    "pipeline_funnel": f"""
        WITH {_GOPHER_PERDOC_CTES},
        {_SIMHASH_CTES},
        flags0 AS (
            SELECT d.doc_id, d.source,
                   md5({_NORM_SQL}) AS fp, s.simhash,
                   (d.lang = 'en') AS s1,
                   (d.lang = 'en' AND {_GOPHER_PASS_SQL}) AS s2
            FROM documents d
            JOIN per_doc p USING (doc_id)
            JOIN sims s USING (doc_id)
        ),
        flags1 AS (
            SELECT *, (s2 AND doc_id = min(CASE WHEN s2 THEN doc_id END)
                           OVER (PARTITION BY fp)) AS s3
            FROM flags0
        ),
        flags2 AS (
            SELECT *, (s3 AND doc_id = min(CASE WHEN s3 THEN doc_id END)
                           OVER (PARTITION BY simhash)) AS s4
            FROM flags1
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_ingest,
               CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_lang,
               CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_quality,
               CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exact_keep,
               CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_near_keep
        FROM flags2 GROUP BY source ORDER BY source
    """,
    "pmi_collocations": f"""
        WITH base AS (
            SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws
            FROM documents
        ), toks AS (
            SELECT unnest(ws) AS tok FROM base
        ), uni AS (
            SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ), n_total AS (SELECT count(*)::DOUBLE AS n FROM toks),
        bg AS (
            SELECT string_split(b, ' ')[1] AS w1,
                   string_split(b, ' ')[2] AS w2
            FROM (SELECT unnest({_BIGRAMS_SQL}) AS b FROM base)
        ), b_total AS (SELECT count(*)::DOUBLE AS n FROM bg),
        cxy AS (
            SELECT w1, w2, count(*) AS c_xy
            FROM bg GROUP BY w1, w2 HAVING count(*) >= 5
        )
        SELECT c.w1, c.w2, c.c_xy AS support,
               round(ln((c.c_xy / (SELECT n FROM b_total))
                        / ((ux.c / (SELECT n FROM n_total))
                           * (uy.c / (SELECT n FROM n_total)))), 6) + 0.0
                   AS pmi
        FROM cxy c
        JOIN uni ux ON ux.tok = c.w1
        JOIN uni uy ON uy.tok = c.w2
        ORDER BY pmi DESC, c.w1 ASC, c.w2 ASC
        LIMIT 20
    """,
    "winnowing_fingerprint": f"""
        WITH base AS (
            SELECT doc_id, {_NORM_SQL} AS norm FROM documents
        ), hashed AS (
            SELECT doc_id,
                   CASE WHEN len(norm) >= {_WINNOW_K} THEN
                     list_transform(
                       range(1, len(norm) - {_WINNOW_K} + 2),
                       i -> substr(md5(substr(norm, i, {_WINNOW_K})), 1, 8))
                   ELSE [] END AS hs
            FROM base
        ), winnowed AS (
            SELECT doc_id, len(hs) AS n_grams,
                   CASE WHEN len(hs) >= {_WINNOW_W} THEN
                     list_distinct(list_transform(
                       range(1, len(hs) - {_WINNOW_W} + 2),
                       j -> list_min(hs[j:j + {_WINNOW_W} - 1])))
                   WHEN len(hs) > 0 THEN [list_min(hs)]
                   ELSE [] END AS fps
            FROM hashed
        )
        SELECT doc_id,
               CAST(n_grams AS INTEGER) AS n_grams,
               CAST(len(fps) AS INTEGER) AS n_fp,
               md5(array_to_string(list_sort(fps), ',')) AS fp_digest
        FROM winnowed
        ORDER BY doc_id
    """,
}
