"""Text analysis operators for training-data pipelines.

Extension tier beyond the reference (SURVEY §7 Phase 5): language ID,
quality scoring, token counting, document fingerprinting over the
``documents`` fixture. The reference's advertised string-function
contract (JACCARD / LEVENSHTEIN / HAMMING / EDITDIST3,
/root/reference/src/duckdb/duckdb_sql_info.cpp:159-162) seeds the
similarity primitives; these operators compose them into
pipeline-shaped queries.

Every operator is pure column arithmetic over built-in JVM functions —
no Python UDFs — so at 100 TB each is a single whole-stage-codegen scan
with no shuffle (fingerprint dedup shuffles once on the hash).

All formulas are engine-portable (identical results in DuckDB for the
differential oracle): md5, regexp_extract_all counts, split-based token
counts, and plain double arithmetic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gizmosql_spark.operators import loader

# CJK unified ideographs range, built from codepoints so the identical
# literal characters reach both regex engines (Java + RE2).
_CJK = f"{chr(0x4E00)}-{chr(0x9FFF)}"

#: tiny per-language stopword inventories for the n-gram/stopword
#: language-ID heuristic. Deterministic, same list in the oracle SQL.
STOPWORDS = {
    "en": r"\b(the|a|of|and|to|in|is)\b",
    "de": r"\b(der|die|das|und|ist|ein|zu)\b",
    "fr": r"\b(le|les|et|est|une|dans|pour)\b",
    "es": r"\b(el|los|y|es|una|en|por)\b",
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return loader.table(spark, sf_dir, name)


def _norm(col: F.Column) -> F.Column:
    """lower + trim + collapse whitespace (the canonical text form)."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: md5 over normalized text."""
    d = _t(spark, sf_dir, "documents")
    norm = _norm(F.col("text"))
    return d.select(
        "doc_id",
        F.md5(norm).alias("fp"),
        F.length(norm).cast("int").alias("norm_len"),
    ).orderBy("doc_id")


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts."""
    d = _t(spark, sf_dir, "documents")
    norm = _norm(F.col("text"))
    return d.select(
        "doc_id",
        F.size(F.split(norm, " ")).cast("int").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(norm, F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))
        .cast("int")
        .alias("n_bpe_tokens"),
    ).orderBy("doc_id")


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/stopword/punctuation signals combined
    into a deterministic [0,1] score."""
    d = _t(spark, sf_dir, "documents")
    norm = _norm(F.col("text"))
    n_tokens = F.size(F.split(norm, " ")).cast("double")
    stop_hits = F.size(F.regexp_extract_all(norm, F.lit(STOPWORDS["en"]), 0)).cast("double")
    punct_chars = F.length(F.regexp_replace(norm, r"[a-z0-9 ]", "")).cast("double")
    n_chars = F.length(norm).cast("double")
    stop_ratio = stop_hits / n_tokens
    punct_ratio = punct_chars / F.greatest(n_chars, F.lit(1.0))
    len_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    score = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            F.lit(0.4) * len_score + F.lit(0.4) * (F.lit(1.0) - punct_ratio) + F.lit(0.2) * stop_ratio,
        ),
    )
    return d.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality_score"),
    ).orderBy("doc_id")


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword/char-class language-ID heuristic.

    Scores each language by stopword hits (CJK chars for zh) and takes
    the argmax with a fixed priority order. The fixture's ``lang``
    labels are synthetic (identical vocab across labels), so the
    contract is determinism, not label recovery.
    """
    d = _t(spark, sf_dir, "documents")
    norm = _norm(F.col("text"))
    scores = {
        k: F.size(F.regexp_extract_all(norm, F.lit(v), 0)).cast("int")
        for k, v in STOPWORDS.items()
    }
    scores["zh"] = F.length(F.regexp_replace(norm, f"[^{_CJK}]", "")).cast("int")
    best = F.greatest(*scores.values())
    pred = (
        F.when(scores["en"] == best, "en")
        .when(scores["de"] == best, "de")
        .when(scores["fr"] == best, "fr")
        .when(scores["es"] == best, "es")
        .otherwise("zh")
    )
    return d.select(
        "doc_id",
        scores["en"].alias("en_score"),
        scores["de"].alias("de_score"),
        scores["fr"].alias("fr_score"),
        scores["es"].alias("es_score"),
        scores["zh"].alias("zh_score"),
        pred.alias("pred_lang"),
    ).orderBy("doc_id")


#: characteristic character-trigrams per language (tiny deterministic
#: profiles for the n-gram language-ID heuristic; same lists inline in
#: the oracle SQL)
NGRAM_PROFILES = {
    "en": ["the", "ing", "ion", "and", "ent"],
    "de": ["der", "sch", "ein", "ich", "und"],
    "fr": ["les", "ent", "que", "ais", "our"],
    "es": ["los", "ado", "que", "cio", "nte"],
}


def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID: score = total occurrences of each
    language's characteristic trigrams in the normalized text, argmax
    with fixed priority. Complements the stopword heuristic (lang_id)
    with the classic n-gram-profile method — still pure JVM regex
    counting, one scan, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    norm = _norm(F.col("text"))
    scores = {
        lang: sum(
            (F.size(F.split(norm, tri)) - 1 for tri in tris),
            F.lit(0),
        ).cast("int")
        for lang, tris in NGRAM_PROFILES.items()
    }
    best = F.greatest(*scores.values())
    pred = (
        F.when(scores["en"] == best, "en")
        .when(scores["de"] == best, "de")
        .when(scores["fr"] == best, "fr")
        .when(scores["es"] == best, "es")
        .otherwise("en")
    )
    return d.select(
        "doc_id",
        *[scores[lang].alias(f"{lang}_tri") for lang in NGRAM_PROFILES],
        pred.alias("pred_lang"),
    ).orderBy("doc_id")


def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the §2E string-similarity contract end-to-end: the
    advertised JACCARD/HAMMING/LEVENSHTEIN/EDITDIST3/PREFIX/SUFFIX/
    STR_SPLIT/LIST_ELEMENT surface (duckdb_sql_info.cpp:106-170),
    registered by :mod:`gizmosql_spark.functions` as JVM SQL UDFs and
    checked value-for-value against DuckDB's native implementations."""
    from gizmosql_spark import functions as gf

    gf.register_all(spark)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql("""
        SELECT doc_id,
               jaccard(source, lang) AS jacc,
               hamming(substr(md5(text), 1, 16), substr(md5(text), 17, 16)) AS ham,
               levenshtein(source, lang) AS lev,
               editdist3(lang, 'en') AS ed3,
               prefix(text, 'key') AS pref,
               suffix(source, 'l') AS suff,
               list_element(str_split(text, ' '), 2) AS second_token,
               CAST(size(str_split(source, '')) AS INTEGER) AS n_src_chars
        FROM documents
        ORDER BY doc_id
    """)


def _term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, tc) over the _norm tokenization, persisted once
    per fixture dir and shared by every operator that needs normalized
    term counts (tfidf_top_terms, oov_curve): one explode + one
    (doc, term) aggregation; doc lengths, document frequencies, and
    corpus vocabularies all derive from this frame instead of
    re-running the explode per consumer (3x scan -> 1x at scale)."""
    d = _t(spark, sf_dir, "documents")
    tokens = (
        d.select("doc_id", "text")
        .repartition(int(spark.conf.get(
            "spark.sql.shuffle.partitions")), "doc_id")
        .select("doc_id", F.explode(F.split(_norm(F.col("text")), " ")).alias("term"))
    )
    return loader.keyed_persist(
        spark, sf_dir, f"text.term_counts:{sf_dir}",
        lambda: tokens.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).alias("tc")))


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document.

    tf = term_count / doc_len; idf = ln((N + 1) / (df + 1));
    ranked by round(tfidf, 6) DESC, term ASC so tie-breaks are
    engine-portable. r11 shape: doc length is a WINDOW sum sharing the
    rank window's doc_id exchange; the doc count is a parquet-footer
    literal. r12 (VERDICT r11 item 4): document frequency moved OFF
    the term-partitioned window — ``count() over (partition by term)``
    put every posting of a hot term (a stopword's whole posting set at
    100 TB) through ONE reducer task with no partial aggregation and
    no AQE skew-split (AQE splits joins, not window exchanges). Now df
    is a partial-agg ``groupBy(term).count()`` (map-side combined, so
    a hot term contributes one row per map partition) broadcast-joined
    back — the build side is VOCAB-sized by construction, the same
    bounded broadcast class as bm25's postings stats. Both sides read
    the keyed-persisted (doc, term) frame, so the corpus lineage still
    executes once. Integer counts — exact."""
    tc = _term_counts(spark, sf_dir)
    doc_len = F.sum("tc").over(Window.partitionBy("doc_id"))
    # the vocab df frame is derived from the persisted tc frame and
    # deterministic per fixture dir — persist it too, so the vocab
    # rollup shuffles once per session, not per invocation
    df_tbl = loader.keyed_persist(
        spark, sf_dir, f"text.term_df:{sf_dir}",
        lambda: tc.groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    n_docs = float(loader.row_count(sf_dir, "documents"))
    tfidf = F.round(
        (F.col("tc") / F.col("doc_len"))
        * F.log(F.lit(n_docs + 1.0) / (F.col("df") + F.lit(1.0))),
        6,
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        tc.join(F.broadcast(df_tbl), "term")
        .withColumn("doc_len", doc_len)
        .withColumn("tfidf", tfidf)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
        .orderBy("doc_id", "rank")
    )


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-cleaning pipeline (the composed form a
    training-data run actually executes): quality-score filter →
    exact-dedup keeper selection → per-source survival stats. One scan
    feeds the scoring, one shuffle dedups, one aggregates — the whole
    pipeline is three stages at any scale."""
    d = _t(spark, sf_dir, "documents")
    norm = _norm(F.col("text"))
    n_tokens = F.size(F.split(norm, " ")).cast("double")
    punct_chars = F.length(F.regexp_replace(norm, r"[a-z0-9 ]", "")).cast("double")
    n_chars = F.length(norm).cast("double")
    stop_hits = F.size(F.regexp_extract_all(norm, F.lit(STOPWORDS["en"]), 0)).cast("double")
    score = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            F.lit(0.4) * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
            + F.lit(0.4) * (F.lit(1.0) - punct_chars / F.greatest(n_chars, F.lit(1.0)))
            + F.lit(0.2) * (stop_hits / n_tokens),
        ),
    )
    scored = d.select(
        "doc_id", "source", F.md5(norm).alias("fp"), score.alias("q")
    ).filter(F.col("q") >= 0.5)
    keeper = Window.partitionBy("fp")
    kept = (
        scored.withColumn("keeper", F.min("doc_id").over(keeper))
        .filter(F.col("doc_id") == F.col("keeper"))
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.avg("q"), 6).alias("avg_quality"),
        )
        .orderBy("source")
    )


def string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second §2E string/bit batch (duckdb_sql_info.cpp:96-170):
    ascii/chr/repeat/reverse/lpad/rpad/left/right/strpos/translate,
    base64 + hex roundtrips, bit_count and xor — all native JVM
    expressions with exact DuckDB equivalents."""
    d = _t(spark, sf_dir, "documents")
    src = F.col("source")
    return d.select(
        "doc_id",
        F.ascii(src).cast("int").alias("first_cp"),
        F.chr(F.lit(65) + (F.col("doc_id") % 26)).alias("letter"),
        F.repeat(F.substring(src, 1, 2), 3).alias("rep"),
        F.reverse(src).alias("rev"),
        F.lpad(src, 12, ".").alias("lp"),
        F.rpad(src, 12, ".").alias("rp"),
        F.substring(src, 1, 3).alias("l3"),
        F.expr("right(source, 3)").alias("r3"),
        F.instr(src, "a").cast("int").alias("pos_a"),
        F.translate(src, "aeiou", "AEIOU").alias("tr"),
        F.base64(F.encode(src, "UTF-8")).alias("b64"),
        F.lower(F.hex(F.encode(src, "UTF-8"))).alias("hx"),
        F.bit_count(F.col("doc_id")).cast("int").alias("bits"),
        F.col("doc_id").bitwiseXOR(F.lit(255)).alias("xored"),
    ).orderBy("doc_id")


#: PII-ish patterns kept to regex constructs with identical semantics
#: in Java regex (Spark) and RE2 (DuckDB): literal classes, +, {m,n}
_PII_PATTERNS = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "url": r"https?://[^\s]+",
    "longnum": r"[0-9]{9,}",
}


def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (training-data cleaning staple): count and
    redact email/URL/long-number patterns per document; the redacted
    text is fingerprinted so the oracle verifies the actual rewrite,
    not just the counts. Pure JVM regex — one scan, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    norm = _norm(F.col("text"))
    red = norm
    for name, pat in _PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{name}>")
    counts = [
        F.size(F.regexp_extract_all(norm, F.lit(pat), 0)).cast("int").alias(f"n_{name}")
        for name, pat in _PII_PATTERNS.items()
    ]
    return d.select(
        "doc_id", *counts, F.md5(red).alias("redacted_fp")
    ).orderBy("doc_id")


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram cross-entropy — the perplexity-proxy quality
    signal: score every document by the mean -ln p(token) under the
    corpus's own unigram distribution (two passes: wordcount, then a
    count-join + per-doc mean). High = rare-token-heavy outliers, low
    = boilerplate. 100 TB shape: the unigram table is vocabulary-sized
    (millions, not billions) — broadcast it; the scoring pass stays a
    scan + broadcast probe + one doc-level partial agg."""
    from gizmosql_spark.operators import loader

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    )
    # Vocabulary-sized wordcount, persisted once: the corpus total is
    # then a sum over the persisted vocabulary (no second corpus pass),
    # and the scoring join broadcasts the same persisted frame — the
    # whole operator scans documents exactly twice (wordcount pass +
    # scoring pass), the minimum for a corpus-normalized score.
    uni = loader.keyed_persist(
        spark, sf_dir, f"unigram_counts:{sf_dir}",
        lambda: toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")),
    )
    total_row = uni.agg(F.sum("c").cast("double").alias("_total"))
    doc_xent = (
        toks.join(F.broadcast(uni), "tok")
        .crossJoin(F.broadcast(total_row))
        .groupBy("doc_id", "source")
        .agg(F.avg(-F.log(F.col("c") / F.col("_total")))
             .alias("xent"))
    )
    return (
        doc_xent.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("xent"), 6).alias("avg_xent"),
            F.round(F.min("xent"), 6).alias("min_xent"),
            F.round(F.max("xent"), 6).alias("max_xent"),
        )
        .orderBy("source")
    )


_PPL_T1 = 3.400  # head/middle xent boundary (fixed report constants;
_PPL_T2 = 3.404  # the oracle uses the same ones, so any sf agrees)


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document by unigram cross-entropy (the perplexity proxy the
    pipeline trains a LM for), then split each language into
    head/middle/tail quality buckets — the mixture knob CCNet feeds
    to training. Buckets use FIXED xent thresholds rather than
    per-language quantile ranks: rank-based cuts order on float
    scores, and a last-ulp cross-engine difference between two
    near-equal docs would flip bucket counts; fixed thresholds are
    flip-proof (a doc must sit within float epsilon of the constant).

    Scale shape: shares the persisted vocabulary-sized unigram table
    with unigram_logprob (broadcast into the scoring join); bucketing
    is pure column arithmetic; the report agg is (lang x 3)-sized."""
    from gizmosql_spark.operators import loader

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    )
    uni = loader.keyed_persist(
        spark, sf_dir, f"unigram_counts:{sf_dir}",
        lambda: toks.select("doc_id", "tok").groupBy("tok").agg(
            F.count(F.lit(1)).alias("c")),
    )
    total_row = uni.agg(F.sum("c").cast("double").alias("_total"))
    doc_xent = (
        toks.join(F.broadcast(uni), "tok")
        .crossJoin(F.broadcast(total_row))
        .groupBy("doc_id", "lang")
        .agg(F.avg(-F.log(F.col("c") / F.col("_total"))).alias("xent"))
    )
    bucket = (
        F.when(F.col("xent") < _PPL_T1, "head")
        .when(F.col("xent") < _PPL_T2, "middle")
        .otherwise("tail")
    )
    return (
        doc_xent.select("lang", bucket.alias("bucket"), "xent")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("xent"), 6).alias("avg_xent"),
        )
        .orderBy("lang", "bucket")
    )


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token → document frequency, total term
    frequency, and the head of the sorted posting list — the core
    retrieval/analysis structure over a training corpus.

    Scale shape: one wordcount-style shuffle on token; posting lists
    are built per token partition (sort_array over collect_list), and
    only the 10-element head is presented — at 100 TB the full lists
    would be written straight to a posting store, never collected.
    Top-20 frequent tokens keeps the presented result bounded.

    ``posting_head`` is presented as a comma-joined STRING (r12): the
    official driver's canonicalizer (pandas ``sort_values``) raises
    ``unhashable type: 'list'`` on array-valued columns — the one red
    row of CORRECTNESS_r11. The sort still happens on the numeric
    doc_ids BEFORE stringification, and the oracle is changed
    symmetrically (``array_to_string``), so the value content is
    integer-exact and unchanged — only the presentation type moves
    from array<long> to string (FIXTURES.md rule 6)."""
    d = _t(spark, sf_dir, "documents")
    tok_docs = d.select(
        "doc_id", F.explode(F.split(_norm(F.col("text")), " ")).alias("tok"))
    per_doc = tok_docs.groupBy("tok", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"))
    return (
        per_doc.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("tf_total"),
            F.concat_ws(
                ",",
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 10)
                .cast("array<string>"),
            ).alias("posting_head"),
        )
        .select(F.col("tok").alias("token"), "df", "tf_total", "posting_head")
        .orderBy(F.desc("df"), F.desc("tf_total"), "token")
        .limit(20)
    )


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage analysis: fix the vocabulary to the top-50
    corpus tokens and measure each source's out-of-vocabulary rate —
    the go/no-go metric when sizing a tokenizer vocabulary against a
    new data mixture.

    Scale shape: one wordcount shuffle builds the vocabulary
    (TakeOrdered keeps it top-k, never a global sort), the vocabulary
    broadcasts back as a left join, and the per-source rollup is a
    partial agg — the corpus is scanned twice, never shuffled on
    rows."""
    from gizmosql_spark.operators import loader

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(_norm(F.col("text")), " ")).alias("tok"))
    uni = loader.keyed_persist(
        spark, sf_dir, f"unigram_counts_src:{sf_dir}",
        lambda: toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")),
    )
    vocab = (
        uni.orderBy(F.desc("c"), "tok").limit(50)
        .select("tok").withColumn("in_vocab", F.lit(1))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1.0).otherwise(0.0))
                / F.count(F.lit(1)), 6).alias("oov_rate"),
        )
        .orderBy("source")
    )


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal: Shannon entropy of each
    document's character distribution — the gibberish/boilerplate
    detector (low entropy = repetitive filler, suspiciously high =
    random noise). One explode + (doc, char) partial agg + per-doc
    fold; entropy terms are summed over characters in lexicographic
    order on both engines so the float fold matches."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    chars = d.select(
        "doc_id",
        F.explode(F.split(_norm(F.col("text")), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id")
    p = F.col("c").cast("double") / F.col("n")
    terms = counts.withColumn("n", F.sum("c").over(w)) \
        .withColumn("term", -p * F.log2(p))
    return (
        terms.groupBy("doc_id")
        .agg(F.max("n").alias("n_chars"),
             # + 0.0: single-distinct-char docs sum to -0.0 exactly
             # (-1.0 * log2(1.0) = -0.0) — IEEE signed-zero normalizer,
             # symmetric with the oracle (lint_float_aggs rule)
             (F.round(F.sum("term"), 6) + F.lit(0.0))
             .alias("entropy_bits"))
        .orderBy("doc_id")
    )


_ZIPF_TOP = 100


def zipf_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary statistics + Zipf-law fit: vocab size,
    total tokens, and the least-squares slope of ln(freq) on ln(rank)
    over the top-100 terms — the classic corpus-health check (natural
    language sits near slope -1; template/boilerplate corpora drift
    far off it).

    Scale shape: one wordcount shuffle on (lang, term); the ranking
    window runs over the per-language VOCABULARY frame (never the
    corpus), and the regression is a 5-term partial agg over 100 rows
    per language. The slope is rounded after the fold — the per-term
    products are identical doubles on both engines and the 100-term
    sums agree to well past 4 decimals."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(F.split(_norm(F.col("text")), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("c"))
    per_lang = tf.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("c").alias("total_tokens"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("c"), "term")
    top = tf.withColumn("rk", F.row_number().over(w)) \
        .filter(F.col("rk") <= _ZIPF_TOP)
    x = F.log(F.col("rk").cast("double"))
    y = F.log(F.col("c").cast("double"))
    fit = top.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return (
        per_lang.join(fit, "lang")
        .select(
            "lang",
            F.col("vocab_size").cast("long").alias("vocab_size"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.round(slope, 4).alias("zipf_slope"),
        )
        .orderBy("lang")
    )


def token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility statistics per language: corpus-level
    bytes-per-token and chars-per-token ratios (UTF-8 byte length vs
    character length) plus tokens-per-doc — the multilingual budget
    planner's first question (CJK text costs ~3 bytes/char, so a
    byte-budgeted corpus under-represents it token-wise).

    Scale shape: pure column arithmetic in the scan (octet_length /
    length / split-size), one per-language partial agg. Ratios are
    of SUMS (exact longs), so no float fold order can drift."""
    d = _t(spark, sf_dir, "documents")
    norm = _norm(F.col("text"))
    per_doc = d.select(
        "lang",
        F.octet_length(norm).cast("long").alias("n_bytes"),
        F.length(norm).cast("long").alias("n_chars"),
        F.size(F.split(norm, " ")).cast("long").alias("n_toks"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.round(F.sum("n_bytes") / F.sum("n_toks"), 6)
            .alias("bytes_per_token"),
            F.round(F.sum("n_chars") / F.sum("n_toks"), 6)
            .alias("chars_per_token"),
            F.round(F.sum("n_toks") / F.count(F.lit(1)), 6)
            .alias("tokens_per_doc"),
        )
        .orderBy("lang")
    )


_BPE_TOP = 20


def bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First round of BPE tokenizer training: frequency-weighted
    adjacent character-pair counts over the word inventory, top-20 —
    the merge candidates a byte-pair-encoding trainer would fuse
    first. (Full BPE iterates this with re-segmentation; round one is
    the corpus-scan-shaped step and the one worth distributing.)

    Scale shape: wordcount shuffle collapses the corpus to its word
    INVENTORY first (pair explosion runs per distinct word, weighted
    by its count — at 100 TB the inventory is millions of rows, the
    corpus trillions), then one (pair) partial agg and a
    TakeOrderedAndProject top-k. Pure integer counts end to end."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(_norm(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    inv = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    pairs = inv.select(
        "c",
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1),"
            " i -> substring(w, i, 2))")).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(_BPE_TOP)
        .select(
            F.row_number().over(
                Window.orderBy(F.desc("n"), "pair")).alias("rank"),
            "pair", "n",
        )
    )


def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between lang and source — the
    statistical-QA check that a corpus's language mix is (or is not)
    uniform across sources: chi2 = sum (O-E)^2/E over the contingency
    table, expected counts from the marginals.

    Scale shape: one (lang, source) partial-agg shuffle builds the
    contingency table; the marginals and the fold run on that tiny
    frame (cells = |langs| x |sources|, never corpus-sized). One row
    out: the statistic, degrees of freedom, and cells."""
    d = _t(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    w_all = Window.partitionBy()
    w_lang = Window.partitionBy("lang")
    w_src = Window.partitionBy("source")
    cells = (
        obs.withColumn("n", F.sum("o").over(w_all))
        .withColumn("row_tot", F.sum("o").over(w_lang))
        .withColumn("col_tot", F.sum("o").over(w_src))
        .withColumn(
            "e", F.col("row_tot") * F.col("col_tot") / F.col("n"))
        .withColumn(
            "term", (F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
            / F.col("e"))
    )
    return (
        cells.agg(
            F.round(F.sum("term"), 6).alias("chi2"),
            ((F.count_distinct("lang") - 1)
             * (F.count_distinct("source") - 1)).alias("dof"),
            F.count(F.lit(1)).alias("n_cells"),
            F.max("n").alias("n_docs"),
        )
    )


def bigram_condprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model head: the 20 most frequent adjacent word
    pairs with their conditional probability P(w2 | w1), where the
    conditioning mass is the count of bigrams starting with w1 (so the
    probabilities over each w1 sum to 1 by construction).

    100 TB shape: tokenize → adjacent-pair explode (pure per-row array
    arithmetic) → one wordcount-shaped groupBy on (w1, w2) with
    map-side combine → a window sum over the *aggregated* pair frame
    (vocabulary-sized, not corpus-sized) → global top-k via
    TakeOrderedAndProject. No corpus-sized joins; the only full-data
    shuffle is the pair count."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.split(_norm(F.col("text")), " ").alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS w1, t[i] AS w2))"
            )
        ).alias("b")
    )
    cnt = pairs.groupBy(
        F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    ).agg(F.count(F.lit(1)).alias("c12"))
    w = Window.partitionBy("w1")
    return (
        cnt.select(
            "w1",
            "w2",
            "c12",
            F.sum("c12").over(w).alias("c1"),
        )
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            F.round(F.col("c12") / F.col("c1"), 6).alias("p"),
        )
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(20)
    )


def simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary diversity per source: Simpson/Herfindahl
    concentration Σp² over the token distribution and its inverse
    (the 'effective vocabulary size') — the diversity lens on
    corpus-mixing next to zipf's rank-slope and char_entropy's
    character view.

    Scale shape: one (source, token) wordcount shuffle; the
    concentration arithmetic runs on the vocabulary-sized frame (one
    more source-level partial agg)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(_norm(F.col("text")), " ")).alias("tok"))
    counts = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("c"))
    per_src = counts.groupBy("source").agg(
        F.sum("c").cast("double").alias("n"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("sq"),
    )
    simpson = F.col("sq") / (F.col("n") * F.col("n"))
    return per_src.select(
        "source",
        F.col("n").cast("bigint").alias("n_tokens"),
        "vocab",
        F.round(simpson, 6).alias("simpson"),
        F.round(1.0 / simpson, 4).alias("effective_vocab"),
    ).orderBy("source")


def weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted document-length quantiles per source: the
    length a token drawn at random lands in (weighted median / p90 of
    n_chars, weight = token count) — the budget-planning view where
    long documents count by their mass, not once each (unweighted
    quantiles over doc counts mislead token budgeting).

    Discrete weighted quantile: sort by (n_chars, doc_id) within
    source, take the first value whose cumulative weight fraction
    reaches q — exact, no interpolation, engine-portable. One source
    shuffle carries the cumsum window and the closing agg."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " ")).cast("double")
    w = (
        Window.partitionBy("source")
        .orderBy("n_chars", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    cum = (
        d.select("source", "doc_id", "n_chars", toks.alias("wt"))
        .withColumn("cumfrac",
                    F.sum("wt").over(w) / F.sum("wt").over(w_all))
    )
    return (
        cum.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(
                F.when(F.col("cumfrac") >= 0.5, F.col("n_chars"))
            ).alias("wq50_chars"),
            F.min(
                F.when(F.col("cumfrac") >= 0.9, F.col("n_chars"))
            ).alias("wq90_chars"),
        )
        .orderBy("source")
    )


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty saturation: walking documents in doc_id order,
    what fraction of each decile's 3-grams was never seen in any
    earlier document? The curve every data-collection effort watches —
    when novelty flattens, more of the same source stops paying.

    Scale shape (r12, VERDICT r11 item 4): ONE trigram explode
    (wordcount-shaped) into a (gram, doc) partial-agg count; then two
    PARTIAL-AGG rollups of that frame — per-doc totals, and per-gram
    ``min(doc_id)`` + ``min_by(c, doc_id)`` (the novel count lives
    only in each gram's first document, so the gram rollup carries it
    out and no row-level first-seen flag is ever needed) — joined
    doc-to-doc (unique keys on both sides, no hot key possible). The
    r11 form computed first-seen as ``min(doc_id) OVER (PARTITION BY
    g)``: single-lineage, but a hot trigram's entire posting set went
    through ONE window reducer with no partial aggregation and no AQE
    split. Both rollups hang off the same (g, doc) aggregate exchange,
    which Spark reuses (ReusedExchange — verified in the plan), so the
    corpus explode still executes ONCE and every gram-keyed operator
    is map-side combined. Integer counts — exact."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.split(_norm(F.col("text")), " ").alias("t"),
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(t) - 2, 0)),"
                " i -> concat_ws(' ', t[i - 1], t[i], t[i + 1]))"
            )
        ).alias("g"),
    )
    gcounts = grams.groupBy("g", "doc_id").agg(
        F.count(F.lit(1)).alias("c"))
    totals = gcounts.groupBy("doc_id").agg(F.sum("c").alias("n_grams"))
    # (g, doc) is unique in gcounts, so min_by has no ties: the pair
    # (first_doc, nc) is exactly the window form's first-seen row
    firsts = gcounts.groupBy("g").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("c", "doc_id").alias("nc"))
    novel = firsts.groupBy("doc_id").agg(F.sum("nc").alias("n_novel"))
    per_doc = totals.join(novel, "doc_id", "left").select(
        "doc_id", "n_grams",
        F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"))
    # corpus row count from the parquet footer — no scan subplan
    n_docs = float(loader.row_count(sf_dir, "documents"))
    return (
        per_doc
        .select(
            F.least(
                F.floor(F.col("doc_id") / F.lit(n_docs / 10))
                .cast("int"),
                F.lit(9),
            ).alias("decile"),
            "n_grams",
            "n_novel",
        )
        .groupBy("decile")
        .agg(
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_novel").alias("novel_grams"),
            F.round(F.sum("n_novel") / F.sum("n_grams"), 6)
            .alias("novelty_rate"),
        )
        .orderBy("decile")
    )


def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between document language and source (the
    information-theoretic sibling of chi_square_independence): per
    language, the summed I(lang; source) contribution
    Σ p(x,y)·ln(p(x,y)/(p(x)p(y))), plus the corpus total on every
    row — how much knowing the source tells you about the language
    (corpus-mixing health).

    Scale shape: one (lang, source) partial agg; all probability
    arithmetic runs on the cells frame (|langs|·|sources| rows);
    marginals and totals ride windows over that tiny frame."""
    d = _t(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("nxy"))
    w_all = Window.partitionBy()
    w_lang = Window.partitionBy("lang")
    w_src = Window.partitionBy("source")
    n = F.sum("nxy").over(w_all).cast("double")
    pxy = F.col("nxy") / n
    px = F.sum("nxy").over(w_lang) / n
    py = F.sum("nxy").over(w_src) / n
    contrib = cells.select(
        "lang",
        (pxy * F.log(pxy / (px * py))).alias("i_term"),
    )
    per_lang = contrib.groupBy("lang").agg(
        F.round(F.sum("i_term"), 6).alias("mi_contrib"))
    return per_lang.select(
        "lang",
        "mi_contrib",
        F.round(F.sum("mi_contrib").over(w_all), 6).alias("mi_total"),
    ).orderBy("lang")


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every document by the mean
    log-ratio of a TARGET unigram distribution (here: the English
    shard) to the RAW corpus distribution — the data-selection signal
    that upweights documents that look like the target domain.
    Add-one smoothing on the target side (raw-vocab words absent from
    the target shard).

    Scale shape: raw unigram table = the persisted corpus wordcount
    shared with unigram_logprob/perplexity_buckets; target table is a
    second vocabulary-sized wordcount. Both broadcast into the scoring
    scan; per-doc mean is one partial agg; report is top-k."""
    from gizmosql_spark.operators import loader

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", "lang",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    )
    uni = loader.keyed_persist(
        spark, sf_dir, f"unigram_counts:{sf_dir}",
        lambda: toks.select("doc_id", "tok").groupBy("tok").agg(
            F.count(F.lit(1)).alias("c")),
    )
    tgt = loader.keyed_persist(
        spark, sf_dir, f"unigram_counts_tgt:{sf_dir}",
        lambda: toks.filter(F.col("lang") == "en")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("ct")),
    )
    # 1-row normalizer frame: raw total, target total, raw vocab size
    norms = (
        uni.agg(
            F.sum("c").cast("double").alias("_raw_total"),
            F.count(F.lit(1)).cast("double").alias("_vocab"),
        )
        .crossJoin(
            tgt.agg(F.sum("ct").cast("double").alias("_tgt_total")))
    )
    log_ratio = F.log(
        (F.coalesce(F.col("ct"), F.lit(0)) + 1)
        / (F.col("_tgt_total") + F.col("_vocab"))
    ) - F.log(F.col("c") / F.col("_raw_total"))
    return (
        toks.join(F.broadcast(uni), "tok")
        .join(F.broadcast(tgt), "tok", "left")
        .crossJoin(F.broadcast(norms))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            # log-ratio average straddles zero -> + 0.0
            (F.round(F.avg(log_ratio), 6) + F.lit(0.0)).alias("dsir_w"),
        )
        .orderBy(F.desc("dsir_w"), "doc_id")
        .limit(25)
    )


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled ``lang`` vs the stopword
    heuristic's prediction (shares lang_id's scoring), with each
    cell's share of its labeled row — the classifier-evaluation view
    (which languages the detector confuses) on top of the per-doc
    lang_id output.

    Scale shape: the per-doc scoring is the same single codegen scan
    as lang_id; the confusion matrix is one (lang, pred) partial agg
    and the row shares ride a window over the ≤|langs|² cells."""
    d = _t(spark, sf_dir, "documents")
    norm = _norm(F.col("text"))
    scores = {
        k: F.size(F.regexp_extract_all(norm, F.lit(v), 0)).cast("int")
        for k, v in STOPWORDS.items()
    }
    scores["zh"] = F.length(
        F.regexp_replace(norm, f"[^{_CJK}]", "")).cast("int")
    best = F.greatest(*scores.values())
    pred = (
        F.when(scores["en"] == best, "en")
        .when(scores["de"] == best, "de")
        .when(scores["fr"] == best, "fr")
        .when(scores["es"] == best, "es")
        .otherwise("zh")
    )
    cells = (
        d.select(F.col("lang"), pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_row = Window.partitionBy("lang")
    return (
        cells.select(
            "lang",
            "pred_lang",
            "n",
            F.round(F.col("n") / F.sum("n").over(w_row), 6)
            .alias("row_share"),
        )
        .orderBy("lang", "pred_lang")
    )


_BM25_TERMS = ("spark", "join", "window")
_BM25_K1, _BM25_B = 1.2, 0.75


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: score every document against a fixed query
    (terms {spark, join, window}; Robertson k1=1.2 b=0.75, Lucene
    idf = ln(1 + (N-df+0.5)/(df+0.5))) and return the top-10 — the
    classic lexical-retrieval head next to the TF-IDF tier.

    Scale shape: the corpus scans once into (doc, query-term) tf
    partial aggs — the filter to the 3 query terms collapses the
    stream before the doc_id shuffle; doc lengths are a second scan
    partial agg co-keyed on doc_id; N/avgdl are one broadcast scalar
    row and df is a query-terms-sized broadcast. Presentation is
    TakeOrderedAndProject top-k. No corpus-×-corpus joins anywhere.
    Both small derived frames are localCheckpoint'ed so the stats/df
    branches don't replay the scans (r5 audit: 4 scans where 2
    suffice). r12: both frames now roll up the shared persisted
    (doc, term, tc) frame — the same _norm tokenization, so
    dl = sum(tc) per doc and tf = tc of the query terms are the
    IDENTICAL integers the two per-call tokenize scans produced
    (the pmi/tfidf/oov reuse class); bm25's per-call corpus scans
    drop from 2 to 0."""
    tc = _term_counts(spark, sf_dir)
    dl = tc.groupBy("doc_id").agg(
        F.sum("tc").alias("dl")).localCheckpoint()
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        tc.filter(F.col("term").isin(*_BM25_TERMS))
        .select("doc_id", F.col("term").alias("tok"),
                F.col("tc").alias("tf"))
        .localCheckpoint()
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = F.round(
        idf
        * F.col("tf") * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        ),
        9,
    )
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 6).alias("bm25"),
            F.count(F.lit(1)).alias("terms_hit"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(10)
    )


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search: find documents containing the exact
    token sequence "hash join" via a positional inverted index —
    token positions for each phrase word, joined on adjacency. The
    phrase/proximity tier the flat inverted_index can't answer.

    Scale shape: the corpus explodes once into (doc, pos, tok) and
    filters to the 2 phrase terms BEFORE any shuffle, so the
    adjacency join runs on phrase-term postings only, co-keyed on
    (doc_id, pos). Counts are one partial agg; top-k presentation."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(_norm(F.col("text")), " ")).alias("pos", "tok"),
    ).select("doc_id", (F.col("pos") + 1).alias("pos"), "tok")
    first = toks.filter(F.col("tok") == "hash").select(
        F.col("doc_id").alias("d1"), F.col("pos").alias("p1"))
    second = toks.filter(F.col("tok") == "join").select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("p2"))
    hits = first.join(
        second,
        (F.col("d1") == F.col("d2")) & (F.col("p2") == F.col("p1") + 1),
    ).select(F.col("d1").alias("doc_id"), "p1")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("p1").alias("first_pos"),
        )
        .orderBy(F.desc("n_matches"), "doc_id")
        .limit(15)
    )


def ks_test_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift screen: each source's
    document-length distribution vs the pooled rest of the corpus —
    D = max |ECDF_src - ECDF_rest| plus the scaled statistic
    D·√(n·m/(n+m)). The standard per-shard distribution-drift alarm
    for a training mixture.

    Scale shape: lengths partial-agg to (source, len) and (len) count
    frames; the ECDF grid is sources × distinct lengths (bounded,
    never row-scale), with cumulative windows riding the grid. All
    arithmetic is exact-integer ratios until the final rounding."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("c"))
    pooled = d.groupBy("n_chars").agg(F.count(F.lit(1)).alias("pc"))
    srcs = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    # corpus row count from the parquet footer — no scan job
    total = loader.row_count(sf_dir, "documents")
    w_pool = Window.orderBy("n_chars")
    pooled_cum = pooled.select(
        "n_chars", F.sum("pc").over(w_pool).alias("cum_all"))
    grid = (
        srcs.crossJoin(pooled_cum)
        .join(counts, ["source", "n_chars"], "left")
        .na.fill({"c": 0})
    )
    w_src = Window.partitionBy("source").orderBy("n_chars")
    ecdf = grid.select(
        "source",
        "n_chars",
        "n_src",
        "cum_all",
        F.sum("c").over(w_src).alias("cum_src"),
    )
    diff = F.abs(
        F.col("cum_src") / F.col("n_src")
        - (F.col("cum_all") - F.col("cum_src")) / (total - F.col("n_src"))
    )
    return (
        ecdf.groupBy("source", "n_src")
        .agg(F.round(F.max(diff), 6).alias("ks_d"))
        .select(
            "source",
            "n_src",
            (total - F.col("n_src")).alias("n_rest"),
            "ks_d",
            F.round(
                F.col("ks_d")
                * F.sqrt(
                    F.col("n_src").cast("double")
                    * (total - F.col("n_src"))
                    / F.lit(float(total))
                ),
                6,
            ).alias("ks_scaled"),
        )
        .orderBy(F.desc("ks_scaled"), "source")
        .limit(10)
    )


#: Poisson(1) CDF thresholds for the inverse-CDF bootstrap weights —
#: identical literals in the Spark expression and the oracle SQL, so
#: both engines draw the exact same integer weight from the hash.
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)
_BOOT_B = 200
_BOOT_RES = 2**32


def _pois_weight(u: F.Column) -> F.Column:
    w = F.lit(len(_POIS1_CDF))
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(w)
    return w


def bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the corpus mean
    document length: each (doc, replicate) pair draws a deterministic
    Poisson(1) weight from md5(doc:b) via the inverse CDF, replicate
    means are weighted ratios, and the 95% CI is the exact 5th/196th
    order statistic of the B=200 replicate means. Poisson
    bootstrapping IS the at-scale bootstrap (Chamandy et al., Google):
    one pass, no resampled copies of the data.

    Scale shape: the corpus scans once, exploded ×B into (b, w·x)
    partial aggs — map-side combine collapses to B rows per partition
    before the shuffle; quantiles and the SE ride the B-row frame.
    The hash-derived weights make every engine/parallelism draw the
    identical replicate, so the oracle matches bit-for-bit."""
    d = _t(spark, sf_dir, "documents")
    reps = d.select(
        "doc_id", "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), F.col("b"))), 1, 8),
            16, 10,
        ).cast("double")
        + 0.5
    ) / F.lit(float(_BOOT_RES))
    rep_means = (
        reps.select("b", "n_chars", _pois_weight(u).alias("w"))
        .groupBy("b")
        .agg((F.sum(F.col("w") * F.col("n_chars"))
              / F.sum("w")).alias("m"))
    )
    w_rk = Window.orderBy("m", "b")
    ranked = rep_means.select("m", F.row_number().over(w_rk).alias("rk"))
    lo_rk, hi_rk = 5, _BOOT_B - 4
    # ONE pass over the B-row ranked frame yields both order statistics
    # and the SE — the replicate pipeline (the corpus scan) runs once,
    # not once per output column
    boot = ranked.agg(
        F.round(F.min(F.when(F.col("rk") == lo_rk, F.col("m"))), 6)
        .alias("ci_lo"),
        F.round(F.min(F.when(F.col("rk") == hi_rk, F.col("m"))), 6)
        .alias("ci_hi"),
        F.round(F.stddev_pop("m"), 6).alias("boot_se"),
        F.count(F.lit(1)).alias("n_reps"),
    )
    base = d.agg(
        F.round(F.sum("n_chars") / F.count(F.lit(1)), 6).alias("mean_len"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return base.crossJoin(boot).select(
        "mean_len", "ci_lo", "ci_hi", "boot_se", "n_docs", "n_reps")


def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source document lengths onto the
    pooled corpus distribution: doc at within-source quantile p maps
    to the pooled value at the same (discrete floor) quantile — the
    batch-effect corrector that puts shards from different pipelines
    on one length scale before mixing.

    Scale shape: within-source ranks are source-partitioned windows;
    the pooled order statistic is the two-pass range-bucket +
    per-bucket-offset global rank (scale.global_row_number — the
    zipWithIndex shape): equi-depth boundaries from one approxQuantile
    pass, per-bucket parallel row_number, broadcast cumulative
    offsets. NO unpartitioned window over the corpus anywhere in the
    plan (pinned by tests/test_plans.py) — the naive
    ``Window.orderBy`` form is a single-task sort of every document at
    100 TB. The rank→rank equi-join is unchanged. Integer-exact
    (floor position, no interpolation) so engines can't drift."""
    from gizmosql_spark.operators import scale

    d = _t(spark, sf_dir, "documents")
    # corpus row count from the parquet footer — no scan job
    n_total = loader.row_count(sf_dir, "documents")
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_cnt = Window.partitionBy("source")
    ranked = d.select(
        "doc_id", "source", "n_chars",
        F.row_number().over(w_src).alias("rk"),
        F.count(F.lit(1)).over(w_cnt).alias("n_src"),
    )
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    bnds = scale.range_boundaries(
        d.select("n_chars"), ["n_chars"], n_buckets,
        cache_key=(sf_dir, "documents"))[0]
    pooled = scale.global_row_number(
        d.select(F.col("n_chars").alias("norm_len"), "doc_id"),
        ["norm_len", "doc_id"], "pos", "norm_len", bnds,
        # r12: deterministic per fixture dir — frame + stats in one
        # session data-map entry (scale._persisted_with), one job when
        # warm
        cache_key=(sf_dir, "qnorm_pooled"),
    ).select("norm_len", "pos")
    # discrete quantile position: floor(p * (N-1)) + 1, p = (rk-1)/(n-1).
    # LONG arithmetic throughout: rk is a 32-bit row_number and the
    # (rk-1)*(N-1) product crosses 2^31 once the corpus scales (ANSI
    # integer-overflow error, caught live on the sf10 full-corpus run)
    pos = (
        F.when(F.col("n_src") == 1, F.lit(1).cast("long"))
        .otherwise(
            F.floor(
                (F.col("rk") - 1).cast("long")
                * F.lit(int(n_total - 1)).cast("long")
                / (F.col("n_src") - 1).cast("long")
            )
            + 1
        )
        .alias("pos")
    )
    return (
        ranked.select("doc_id", "source", "n_chars", pos)
        .join(pooled, "pos")
        .select("doc_id", "source", "n_chars", "norm_len")
        .orderBy("doc_id")
        .limit(40)
    )


def trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location estimates of document length per source: the
    plain mean next to the 10%-trimmed mean (drop the tail ranks) and
    the winsorized mean (clamp the tails to the p10/p90 order
    statistics) — the outlier-proof summary trio for corpus length
    budgeting. Rank-based, so every number is a ratio of exact
    integer sums.

    Scale shape: one source-partitioned rank window; all three means
    come out of a single conditional partial agg over the ranked
    rows."""
    d = _t(spark, sf_dir, "documents")
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_cnt = Window.partitionBy("source")
    ranked = d.select(
        "source",
        "n_chars",
        F.row_number().over(w_src).alias("rk"),
        F.count(F.lit(1)).over(w_cnt).alias("n"),
    ).withColumn("cut", F.floor(F.col("n") / 10))
    kept = (F.col("rk") > F.col("cut")) & (
        F.col("rk") <= F.col("n") - F.col("cut"))
    lo_v = F.min(F.when(kept, F.col("n_chars")))
    hi_v = F.max(F.when(kept, F.col("n_chars")))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("n_chars") / F.count(F.lit(1)), 6)
            .alias("mean_len"),
            F.round(
                F.sum(F.when(kept, F.col("n_chars")))
                / F.sum(F.when(kept, 1)), 6).alias("trimmed_mean"),
            F.round(
                (F.sum(F.when(kept, F.col("n_chars")))
                 + F.max("cut") * lo_v + F.max("cut") * hi_v)
                / F.count(F.lit(1)), 6).alias("winsorized_mean"),
        )
        .orderBy("source")
    )


_VOCAB_TOP = 20


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixing diagnostic: pairwise Jaccard overlap of each
    source's top-20 vocabulary — which shards speak the same language
    (near-1 overlap ⇒ redundant mixture weight, near-0 ⇒ domain
    novelty). The source-level sibling of dedup's document tiers.

    Scale shape: one wordcount shuffle to per-source counts, a rank
    window over the vocabulary frame, then the pair join runs on the
    sources×top-k frame (bounded); |union| = 2k − |∩| is closed-form
    so only the intersection is ever joined."""
    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(
            "source",
            F.explode(F.split(_norm(F.col("text")), " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rk = Window.partitionBy("source").orderBy(F.desc("c"), "tok")
    top = counts.select(
        "source", "tok", F.row_number().over(w_rk).alias("rk")
    ).filter(F.col("rk") <= _VOCAB_TOP)
    a = top.select(F.col("source").alias("s1"), "tok")
    b = top.select(F.col("source").alias("s2"), "tok")
    inter = (
        a.join(b, ["tok"])
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.select(
            "s1",
            "s2",
            "n_inter",
            F.round(
                F.col("n_inter") / (2 * _VOCAB_TOP - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "s1", "s2")
        .limit(15)
    )


def ranking_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-agreement evaluation between two retrieval scorers for
    the same query (BM25 vs raw term-frequency): overlap@k and
    Spearman rho over the common documents — the metric pair used to
    decide whether a cheaper ranker can replace an expensive one.

    Scale shape: both rankings are top-k TakeOrdered frames; the
    comparison joins two k-row frames. Rank arithmetic is exact
    integers. r5: TWO corpus scans total — the matched-term counts
    (tf2) and the doc-length table (dl) each need one explode pass;
    everything else (raw-tf ranking, df, stats) derives from those
    two checkpointed frames (was 5 scans). r12: both frames roll up
    the shared persisted (doc, term, tc) frame exactly like
    bm25_topk (same _norm tokenization, identical integers) — ZERO
    per-call corpus scans."""
    tc = _term_counts(spark, sf_dir)
    k = 20
    # per-(doc, matched-term) counts — query-term filter on the
    # persisted frame, no shuffle at all
    tf2 = (
        tc.filter(F.col("term").isin(*_BM25_TERMS))
        .select("doc_id", F.col("term").alias("tok"),
                F.col("tc").alias("tf"))
        .localCheckpoint()
    )
    # raw term-frequency ranking derives from tf2 — no extra scan.
    tf = tf2.groupBy("doc_id").agg(F.sum("tf").alias("raw_tf"))
    # Window-AFTER-limit: orderBy().limit(k) plans as
    # TakeOrderedAndProject (parallel per-partition top-k + driver
    # merge), then row_number rides the k-row frame. The rank-filter
    # form (row_number over the full frame, then rk <= k) is NOT
    # rewritten by InferWindowGroupLimit when the window is
    # unpartitioned (verified on this Spark), so it would single-task
    # sort every matched doc — the r10 scale-killer shape.
    w_tf = Window.orderBy(F.desc("raw_tf"), "doc_id")
    tf_top = (
        tf.orderBy(F.desc("raw_tf"), "doc_id").limit(k)
        .select("doc_id", F.row_number().over(w_tf).alias("rk_tf"))
    )
    # doc lengths: sum of the persisted per-term counts
    dl = tc.groupBy("doc_id").agg(
        F.sum("tc").alias("dl")).localCheckpoint()
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    # BM25 ranking at k=20 (bm25_topk presents k=10; same formula)
    dfreq = tf2.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = F.round(
        idf * F.col("tf") * (_BM25_K1 + 1)
        / (F.col("tf") + _BM25_K1
           * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))),
        9,
    )
    scores = (
        tf2.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("bm25"))
    )
    # same window-after-limit shape as tf_top (see comment there)
    w_bm = Window.orderBy(F.desc("bm25"), "doc_id")
    bm_top = (
        scores.orderBy(F.desc("bm25"), "doc_id").limit(k)
        .select("doc_id", F.row_number().over(w_bm).alias("rk_bm"))
    )
    common = tf_top.join(bm_top, "doc_id")
    n = F.count(F.lit(1))
    sx, sy = F.sum("rk_tf"), F.sum("rk_bm")
    sxx = F.sum(F.col("rk_tf") * F.col("rk_tf"))
    syy = F.sum(F.col("rk_bm") * F.col("rk_bm"))
    sxy = F.sum(F.col("rk_tf") * F.col("rk_bm"))
    rho = (
        (n * sxy - sx * sy)
        / F.sqrt(
            ((n * sxx - sx * sx) * (n * syy - sy * sy)).cast("double"))
    )
    return common.agg(
        F.lit(k).alias("k"),
        F.count(F.lit(1)).alias("n_common"),
        F.round(F.count(F.lit(1)) / F.lit(float(k)), 6).alias("overlap_at_k"),
        # rank correlation straddles zero -> + 0.0
        (F.round(rho, 6) + F.lit(0.0)).alias("rank_rho"),
    )


_OOV_KS = (10, 20, 50, 100)


def oov_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary sizing curve: corpus OOV rate at top-k
    vocabularies for k ∈ {10, 20, 50, 100} — the sweep that picks a
    vocab size (vocab_oov_rate fixes one k per source; this is the
    budget curve the sizing decision actually reads).

    Scale shape: vocabulary counts derive from the shared persisted
    (doc, term) frame (no extra corpus pass); the top-k cut is a
    TakeOrdered over the vocabulary (never a global row_number window
    over the full vocabulary — that single-partitions a frame that is
    ~1e8 rows at 100 TB); oov_k = total - kept_k where kept_k sums a
    kmax-row frame, and the curve assembles via stack on a 1-row
    cross-join."""
    tc = _term_counts(spark, sf_dir)
    counts = (
        tc.groupBy("term").agg(F.sum("tc").alias("c"))
        .select(F.col("term").alias("tok"), "c")
    )
    kmax = max(_OOV_KS)
    # same tie-break as the oracle's row_number (c DESC, tok ASC):
    # limit(kmax) keeps exactly the rows with rk <= kmax
    topk = counts.orderBy(F.desc("c"), "tok").limit(kmax)
    w = Window.orderBy(F.desc("c"), "tok")
    kept = (
        topk.select("c", F.row_number().over(w).alias("rk"))
        .agg(*[
            F.sum(F.when(F.col("rk") <= k, F.col("c"))).alias(f"kept_{k}")
            for k in _OOV_KS
        ])
    )
    # vocab-size guard preserves the row_number formulation's edge
    # semantics: when the vocabulary has <= k types, sum(c WHERE rk>k)
    # aggregates zero rows and is NULL, not 0
    one = counts.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("vsz")
    ).crossJoin(kept)
    stack = ", ".join(
        f"{k}, case when vsz > {k} then"
        f" round((total - kept_{k}) / cast(total as double), 6) end"
        for k in _OOV_KS)
    return (
        one.selectExpr(
            "total",
            f"stack({len(_OOV_KS)}, {stack}) AS (vocab_k, oov_rate)",
        )
        .select("vocab_k", "oov_rate", F.col("total").alias("total_tokens"))
        .orderBy("vocab_k")
    )


QUERIES = {
    "oov_curve": oov_curve,
    "trimmed_stats": trimmed_stats,
    "source_vocab_overlap": source_vocab_overlap,
    "ranking_agreement": ranking_agreement,
    "lang_confusion": lang_confusion,
    "bm25_topk": bm25_topk,
    "phrase_search": phrase_search,
    "ks_test_sources": ks_test_sources,
    "bootstrap_ci_mean": bootstrap_ci_mean,
    "quantile_normalize": quantile_normalize,
    "dsir_importance": dsir_importance,
    "mutual_information": mutual_information,
    "ngram_novelty": ngram_novelty,
    "weighted_quantile": weighted_quantile,
    "simpson_diversity": simpson_diversity,
    "unigram_logprob": unigram_logprob,
    "bigram_condprob": bigram_condprob,
    "perplexity_buckets": perplexity_buckets,
    "chi_square_independence": chi_square_independence,
    "zipf_vocab_stats": zipf_vocab_stats,
    "token_fertility": token_fertility,
    "bpe_first_merges": bpe_first_merges,
    "inverted_index": inverted_index,
    "vocab_oov_rate": vocab_oov_rate,
    "char_entropy": char_entropy,
    "doc_fingerprint": doc_fingerprint,
    "text_redact_pii": text_redact_pii,
    "string_funcs2": string_funcs2,
    "tfidf_top_terms": tfidf_top_terms,
    "pipeline_clean_corpus": pipeline_clean_corpus,
    "token_count": token_count,
    "text_quality": text_quality,
    "lang_id": lang_id,
    "lang_id_ngram": lang_id_ngram,
    "string_funcs": string_funcs,
}

_NORM_SQL = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"

#: hex→uint32 expansion for oracles (column ``h`` = md5 hex string),
#: mirroring sampling._WS_HEX_U
_HEX_U32 = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1)"
    f" * {16 ** (7 - i)}"
    for i in range(8)
)

_POIS1_CASE = " ".join(
    f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(_POIS1_CDF)
)

ORACLE: dict[str, str] = {
    "oov_curve": f"""
        WITH counts AS (
            SELECT tok, count(*) AS c FROM (
                SELECT unnest(string_split({_NORM_SQL}, ' ')) AS tok
                FROM documents)
            GROUP BY tok
        ), ranked AS (
            SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rk
            FROM counts
        ), one AS (
            SELECT sum(c) AS total,
                   {", ".join(
                       f"sum(CASE WHEN rk > {k} THEN c END) AS oov_{k}"
                       for k in _OOV_KS)}
            FROM ranked
        )
        {" UNION ALL ".join(
            f"SELECT {k} AS vocab_k,"
            f" round(oov_{k} / CAST(total AS DOUBLE), 6) AS oov_rate,"
            f" CAST(total AS BIGINT) AS total_tokens FROM one"
            for k in _OOV_KS)}
        ORDER BY vocab_k
    """,
    "trimmed_stats": """
        WITH ranked AS (
            SELECT source, n_chars,
                   row_number() OVER (
                       PARTITION BY source ORDER BY n_chars, doc_id
                   ) AS rk,
                   count(*) OVER (PARTITION BY source) AS n
            FROM documents
        ), c AS (
            SELECT source, n_chars, rk, n,
                   CAST(floor(n / 10) AS BIGINT) AS cut,
                   (rk > floor(n / 10)
                    AND rk <= n - floor(n / 10)) AS kept
            FROM ranked
        )
        SELECT source, count(*) AS n_docs,
               round(sum(n_chars) / CAST(count(*) AS DOUBLE), 6)
                   AS mean_len,
               round(sum(CASE WHEN kept THEN n_chars END)
                     / CAST(sum(CASE WHEN kept THEN 1 END) AS DOUBLE), 6)
                   AS trimmed_mean,
               round((sum(CASE WHEN kept THEN n_chars END)
                      + max(cut) * min(CASE WHEN kept THEN n_chars END)
                      + max(cut) * max(CASE WHEN kept THEN n_chars END))
                     / CAST(count(*) AS DOUBLE), 6) AS winsorized_mean
        FROM c GROUP BY source ORDER BY source
    """,
    "source_vocab_overlap": f"""
        WITH counts AS (
            SELECT source, tok, count(*) AS c FROM (
                SELECT source,
                       unnest(string_split({_NORM_SQL}, ' ')) AS tok
                FROM documents)
            GROUP BY source, tok
        ), top AS (
            SELECT source, tok FROM (
                SELECT source, tok,
                       row_number() OVER (
                           PARTITION BY source ORDER BY c DESC, tok
                       ) AS rk
                FROM counts)
            WHERE rk <= {_VOCAB_TOP}
        )
        SELECT a.source AS s1, b.source AS s2,
               count(*) AS n_inter,
               round(count(*)
                     / CAST({2 * _VOCAB_TOP} - count(*) AS DOUBLE), 6)
                   AS jaccard
        FROM top a JOIN top b
          ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
        ORDER BY jaccard DESC, s1, s2 LIMIT 15
    """,
    "ranking_agreement": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
            FROM documents
        ), tf_raw AS (
            SELECT doc_id, count(*) AS raw_tf FROM toks
            WHERE tok IN ('spark', 'join', 'window') GROUP BY doc_id
        ), tf_top AS (
            SELECT doc_id, rk_tf FROM (
                SELECT doc_id, row_number() OVER (
                    ORDER BY raw_tf DESC, doc_id) AS rk_tf
                FROM tf_raw) WHERE rk_tf <= 20
        ), dl AS (
            SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
        ), stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl
            FROM dl
        ), tf2 AS (
            SELECT doc_id, tok, count(*) AS tf FROM toks
            WHERE tok IN ('spark', 'join', 'window')
            GROUP BY doc_id, tok
        ), dfreq AS (
            SELECT tok, count(*) AS df FROM tf2 GROUP BY tok
        ), scored AS (
            SELECT t.doc_id, round(sum(
                       round(
                           ln(1e0 + (s.n_docs - f.df + 0.5e0)
                              / (f.df + 0.5e0))
                           * t.tf * 2.2e0
                           / (t.tf + 1.2e0
                              * (1e0 - 0.75e0
                                 + 0.75e0 * d.dl / s.avgdl)), 9)), 6)
                       AS bm25
            FROM tf2 t
            JOIN dl d USING (doc_id)
            JOIN dfreq f USING (tok)
            CROSS JOIN stats s
            GROUP BY t.doc_id
        ), bm_top AS (
            SELECT doc_id, rk_bm FROM (
                SELECT doc_id, row_number() OVER (
                    ORDER BY bm25 DESC, doc_id) AS rk_bm
                FROM scored) WHERE rk_bm <= 20
        ), common AS (
            SELECT rk_tf, rk_bm FROM tf_top JOIN bm_top USING (doc_id)
        )
        SELECT 20 AS k,
               count(*) AS n_common,
               round(count(*) / 20e0, 6) AS overlap_at_k,
               round((count(*) * sum(rk_tf * rk_bm)
                      - sum(rk_tf) * sum(rk_bm))
                     / sqrt(CAST((count(*) * sum(rk_tf * rk_tf)
                                  - sum(rk_tf) * sum(rk_tf))
                                 * (count(*) * sum(rk_bm * rk_bm)
                                    - sum(rk_bm) * sum(rk_bm))
                            AS DOUBLE)), 6) + 0.0 AS rank_rho
        FROM common
    """,
    "lang_confusion": f"""
        WITH s AS (
            SELECT lang,
                   CAST(len(regexp_extract_all({_NORM_SQL},
                        '\\b(the|a|of|and|to|in|is)\\b')) AS INTEGER)
                       AS en_score,
                   CAST(len(regexp_extract_all({_NORM_SQL},
                        '\\b(der|die|das|und|ist|ein|zu)\\b')) AS INTEGER)
                       AS de_score,
                   CAST(len(regexp_extract_all({_NORM_SQL},
                        '\\b(le|les|et|est|une|dans|pour)\\b')) AS INTEGER)
                       AS fr_score,
                   CAST(len(regexp_extract_all({_NORM_SQL},
                        '\\b(el|los|y|es|una|en|por)\\b')) AS INTEGER)
                       AS es_score,
                   CAST(length(regexp_replace({_NORM_SQL},
                        '[^{_CJK}]', '', 'g')) AS INTEGER) AS zh_score
            FROM documents
        ), preds AS (
            SELECT lang,
                   CASE WHEN en_score = greatest(en_score, de_score,
                             fr_score, es_score, zh_score) THEN 'en'
                        WHEN de_score = greatest(en_score, de_score,
                             fr_score, es_score, zh_score) THEN 'de'
                        WHEN fr_score = greatest(en_score, de_score,
                             fr_score, es_score, zh_score) THEN 'fr'
                        WHEN es_score = greatest(en_score, de_score,
                             fr_score, es_score, zh_score) THEN 'es'
                        ELSE 'zh' END AS pred_lang
            FROM s
        ), cells AS (
            SELECT lang, pred_lang, count(*) AS n
            FROM preds GROUP BY 1, 2
        )
        SELECT lang, pred_lang, n,
               round(n / sum(n) OVER (PARTITION BY lang), 6) AS row_share
        FROM cells ORDER BY lang, pred_lang
    """,
    "bm25_topk": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
            FROM documents
        ), dl AS (
            SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
        ), stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl
            FROM dl
        ), tf AS (
            SELECT doc_id, tok, count(*) AS tf FROM toks
            WHERE tok IN ('spark', 'join', 'window')
            GROUP BY doc_id, tok
        ), dfreq AS (
            SELECT tok, count(*) AS df FROM tf GROUP BY tok
        ), scored AS (
            SELECT t.doc_id,
                   round(
                       ln(1e0 + (s.n_docs - f.df + 0.5e0) / (f.df + 0.5e0))
                       * t.tf * 2.2e0
                       / (t.tf + 1.2e0
                          * (1e0 - 0.75e0 + 0.75e0 * d.dl / s.avgdl)),
                       9) AS contrib
            FROM tf t
            JOIN dl d USING (doc_id)
            JOIN dfreq f USING (tok)
            CROSS JOIN stats s
        )
        SELECT doc_id, round(sum(contrib), 6) AS bm25,
               count(*) AS terms_hit
        FROM scored GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    "phrase_search": f"""
        WITH toks AS (
            SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS tok
            FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS l
                  FROM documents)
        ), f AS (
            SELECT doc_id, pos AS p1 FROM toks WHERE tok = 'hash'
        ), s AS (
            SELECT doc_id, pos AS p2 FROM toks WHERE tok = 'join'
        )
        SELECT f.doc_id, count(*) AS n_matches,
               CAST(min(f.p1) AS INTEGER) AS first_pos
        FROM f JOIN s ON s.doc_id = f.doc_id AND s.p2 = f.p1 + 1
        GROUP BY f.doc_id
        ORDER BY n_matches DESC, f.doc_id LIMIT 15
    """,
    "ks_test_sources": """
        WITH counts AS (
            SELECT source, n_chars, count(*) AS c
            FROM documents GROUP BY 1, 2
        ), pooled_cum AS (
            SELECT n_chars, sum(pc) OVER (ORDER BY n_chars) AS cum_all
            FROM (SELECT n_chars, count(*) AS pc
                  FROM documents GROUP BY 1)
        ), srcs AS (
            SELECT source, count(*) AS n_src FROM documents GROUP BY 1
        ), total AS (SELECT count(*) AS n FROM documents),
        ecdf AS (
            SELECT s.source, p.n_chars, s.n_src, p.cum_all,
                   sum(coalesce(c.c, 0)) OVER (
                       PARTITION BY s.source ORDER BY p.n_chars
                   ) AS cum_src
            FROM srcs s
            CROSS JOIN pooled_cum p
            LEFT JOIN counts c
              ON c.source = s.source AND c.n_chars = p.n_chars
        ), d AS (
            SELECT source, n_src,
                   round(max(abs(
                       cum_src / n_src
                       - (cum_all - cum_src) / (t.n - n_src))), 6) AS ks_d,
                   any_value(t.n) AS n
            FROM ecdf CROSS JOIN total t
            GROUP BY source, n_src
        )
        SELECT source, n_src, n - n_src AS n_rest, ks_d,
               round(ks_d * sqrt(CAST(n_src AS DOUBLE) * (n - n_src)
                                 / CAST(n AS DOUBLE)), 6) AS ks_scaled
        FROM d
        ORDER BY ks_scaled DESC, source LIMIT 10
    """,
    "bootstrap_ci_mean": f"""
        WITH reps AS (
            SELECT d.doc_id, d.n_chars, t.b,
                   md5(CAST(d.doc_id AS VARCHAR) || ':'
                       || CAST(t.b AS VARCHAR)) AS h
            FROM documents d CROSS JOIN range(0, {_BOOT_B}) t(b)
        ), weights AS (
            SELECT b, n_chars,
                   CASE {_POIS1_CASE} ELSE {len(_POIS1_CDF)} END AS w
            FROM (SELECT b, n_chars,
                         (({_HEX_U32}) + 0.5) / {float(_BOOT_RES)!r} AS u
                  FROM reps)
        ), rep_means AS (
            SELECT b, sum(w * n_chars) / CAST(sum(w) AS DOUBLE) AS m
            FROM weights GROUP BY b
        ), ranked AS (
            SELECT m, row_number() OVER (ORDER BY m, b) AS rk
            FROM rep_means
        ), base AS (
            SELECT round(sum(n_chars) / CAST(count(*) AS DOUBLE), 6)
                       AS mean_len,
                   count(*) AS n_docs
            FROM documents
        )
        SELECT base.mean_len, lo.ci_lo, hi.ci_hi, se.boot_se,
               base.n_docs, se.n_reps
        FROM base
        CROSS JOIN (SELECT round(m, 6) AS ci_lo FROM ranked
                    WHERE rk = 5) lo
        CROSS JOIN (SELECT round(m, 6) AS ci_hi FROM ranked
                    WHERE rk = {_BOOT_B - 4}) hi
        CROSS JOIN (SELECT round(stddev_pop(m), 6) AS boot_se,
                           count(*) AS n_reps
                    FROM rep_means) se
    """,
    "quantile_normalize": """
        WITH ranked AS (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (
                       PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
                   count(*) OVER (PARTITION BY source) AS n_src
            FROM documents
        ), pooled AS (
            SELECT n_chars AS norm_len,
                   row_number() OVER (ORDER BY n_chars, doc_id) AS pos
            FROM documents
        ), total AS (SELECT count(*) AS n FROM documents)
        SELECT r.doc_id, r.source, r.n_chars, p.norm_len
        FROM ranked r
        CROSS JOIN total t
        JOIN pooled p
          ON p.pos = CASE WHEN r.n_src = 1 THEN 1
                          ELSE CAST(floor((r.rk - 1) * (t.n - 1)
                               / CAST(r.n_src - 1 AS DOUBLE)) + 1 AS BIGINT)
                     END
        ORDER BY r.doc_id LIMIT 40
    """,
    "simpson_diversity": r"""
        WITH toks AS (
            SELECT source,
                   unnest(string_split(regexp_replace(trim(lower(text)),
                       '\s+', ' ', 'g'), ' ')) AS tok
            FROM documents
        ), counts AS (
            SELECT source, tok, count(*) AS c
            FROM toks GROUP BY 1, 2
        ), per_src AS (
            SELECT source,
                   CAST(sum(c) AS DOUBLE) AS n,
                   CAST(count(*) AS BIGINT) AS vocab,
                   CAST(sum(c * c) AS DOUBLE) AS sq
            FROM counts GROUP BY source
        )
        SELECT source,
               CAST(n AS BIGINT) AS n_tokens,
               vocab,
               round(sq / (n * n), 6) AS simpson,
               round((n * n) / sq, 4) AS effective_vocab
        FROM per_src
        ORDER BY source
    """,
    "weighted_quantile": """
        WITH cum AS (
            SELECT source, n_chars,
                   sum(CAST(len(string_split(text, ' ')) AS DOUBLE))
                       OVER (PARTITION BY source
                             ORDER BY n_chars, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)
                   / sum(CAST(len(string_split(text, ' ')) AS DOUBLE))
                       OVER (PARTITION BY source) AS cumfrac
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(CASE WHEN cumfrac >= 0.5 THEN n_chars END)
                   AS wq50_chars,
               min(CASE WHEN cumfrac >= 0.9 THEN n_chars END)
                   AS wq90_chars
        FROM cum GROUP BY source
        ORDER BY source
    """,
    "ngram_novelty": r"""
        WITH toks AS (
            SELECT doc_id,
                   string_split(regexp_replace(trim(lower(text)),
                       '\s+', ' ', 'g'), ' ') AS t
            FROM documents
        ), grams AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(t) - 2, 0) + 1),
                       i -> concat_ws(' ', t[i], t[i + 1], t[i + 2])))
                       AS g
            FROM toks
        ), first_seen AS (
            SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
        ), per_doc AS (
            SELECT gr.doc_id,
                   count(*) AS n_grams,
                   sum(CASE WHEN f.first_doc = gr.doc_id
                            THEN 1 ELSE 0 END) AS n_novel
            FROM grams gr JOIN first_seen f USING (g)
            GROUP BY gr.doc_id
        ), n AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
        )
        SELECT CAST(least(CAST(floor(doc_id / (n.n_docs / 10))
                              AS INTEGER), 9) AS INTEGER) AS decile,
               CAST(sum(n_grams) AS BIGINT) AS total_grams,
               CAST(sum(n_novel) AS BIGINT) AS novel_grams,
               round(CAST(sum(n_novel) AS DOUBLE) / sum(n_grams), 6)
                   AS novelty_rate
        FROM per_doc CROSS JOIN n
        GROUP BY decile
        ORDER BY decile
    """,
    "mutual_information": """
        WITH cells AS (
            SELECT lang, source, count(*) AS nxy
            FROM documents GROUP BY lang, source
        ), probs AS (
            SELECT lang,
                   (nxy / CAST(sum(nxy) OVER () AS DOUBLE))
                   * ln((nxy / CAST(sum(nxy) OVER () AS DOUBLE))
                        / ((sum(nxy) OVER (PARTITION BY lang)
                            / CAST(sum(nxy) OVER () AS DOUBLE))
                           * (sum(nxy) OVER (PARTITION BY source)
                              / CAST(sum(nxy) OVER () AS DOUBLE))))
                       AS i_term
            FROM cells
        ), per_lang AS (
            SELECT lang, round(sum(i_term), 6) AS mi_contrib
            FROM probs GROUP BY lang
        )
        SELECT lang, mi_contrib,
               round(sum(mi_contrib) OVER (), 6) AS mi_total
        FROM per_lang
        ORDER BY lang
    """,
    "dsir_importance": """
        WITH toks AS (
            SELECT doc_id, source, lang,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), uni AS (
            SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ), tgt AS (
            SELECT tok, count(*) AS ct FROM toks
            WHERE lang = 'en' GROUP BY tok
        ), norms AS (
            SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uni) AS raw_total,
                   (SELECT CAST(count(*) AS DOUBLE) FROM uni) AS vocab,
                   (SELECT CAST(sum(ct) AS DOUBLE) FROM tgt) AS tgt_total
        )
        SELECT doc_id, source,
               CAST(count(*) AS BIGINT) AS n_tok,
               round(avg(
                   ln((coalesce(g.ct, 0) + 1) / (n.tgt_total + n.vocab))
                   - ln(u.c / n.raw_total)), 6) + 0.0 AS dsir_w
        FROM toks t
        JOIN uni u USING (tok)
        LEFT JOIN tgt g USING (tok)
        CROSS JOIN norms n
        GROUP BY doc_id, source
        ORDER BY dsir_w DESC, doc_id
        LIMIT 25
    """,
    "bigram_condprob": f"""
        WITH toks AS (
            SELECT string_split({_NORM_SQL}, ' ') AS t FROM documents
        ),
        big AS (
            SELECT t[i] AS w1, t[i + 1] AS w2
            FROM toks, unnest(range(1, len(t))) u(i)
            WHERE len(t) >= 2
        ),
        cnt AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM big GROUP BY w1, w2
        )
        SELECT w1, w2, c12,
               CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
               round(c12 / sum(c12) OVER (PARTITION BY w1), 6) AS p
        FROM cnt
        ORDER BY c12 DESC, w1, w2
        LIMIT 20
    """,
    "chi_square_independence": """
        WITH obs AS (
            SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
            FROM documents GROUP BY lang, source
        ),
        tot AS (SELECT sum(o) AS n FROM obs),
        rows_t AS (SELECT lang, sum(o) AS row_tot FROM obs GROUP BY lang),
        cols_t AS (SELECT source, sum(o) AS col_tot FROM obs GROUP BY source),
        cells AS (
            SELECT obs.o,
                   r.row_tot * c.col_tot / t.n AS e
            FROM obs
            JOIN rows_t r USING (lang)
            JOIN cols_t c USING (source)
            CROSS JOIN tot t
        )
        SELECT round(sum((o - e) * (o - e) / e), 6) AS chi2,
               CAST((SELECT (count(DISTINCT lang) - 1)
                            * (count(DISTINCT source) - 1)
                     FROM documents) AS BIGINT) AS dof,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs
        FROM cells
    """,
    "bpe_first_merges": f"""
        WITH words AS (
            SELECT unnest(string_split({_NORM_SQL}, ' ')) AS w
            FROM documents
        ),
        inv AS (
            SELECT w, count(*) AS c FROM words
            WHERE length(w) >= 2 GROUP BY w
        ),
        pairs AS (
            SELECT substring(w, i, 2) AS pair, c
            FROM inv, unnest(range(1, length(w))) AS u(i)
        ),
        top AS (
            SELECT pair, CAST(sum(c) AS BIGINT) AS n
            FROM pairs GROUP BY pair
            ORDER BY n DESC, pair LIMIT {_BPE_TOP}
        )
        SELECT CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT)
                   AS rank,
               pair, n
        FROM top
        ORDER BY rank
    """,
    "zipf_vocab_stats": f"""
        WITH toks AS (
            SELECT lang, unnest(string_split({_NORM_SQL}, ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT lang, term, count(*) AS c
            FROM toks WHERE term <> '' GROUP BY lang, term
        ),
        per_lang AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS vocab_size,
                   CAST(sum(c) AS BIGINT) AS total_tokens
            FROM tf GROUP BY lang
        ),
        top AS (
            SELECT lang, c,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY c DESC, term) AS rk
            FROM tf
            QUALIFY rk <= {_ZIPF_TOP}
        ),
        fit AS (
            SELECT lang,
                   CAST(count(*) AS DOUBLE) AS n,
                   sum(ln(CAST(rk AS DOUBLE))) AS sx,
                   sum(ln(CAST(c AS DOUBLE))) AS sy,
                   sum(ln(CAST(rk AS DOUBLE)) * ln(CAST(c AS DOUBLE))) AS sxy,
                   sum(ln(CAST(rk AS DOUBLE)) * ln(CAST(rk AS DOUBLE))) AS sxx
            FROM top GROUP BY lang
        )
        SELECT p.lang, p.vocab_size, p.total_tokens,
               round((f.n * f.sxy - f.sx * f.sy)
                     / (f.n * f.sxx - f.sx * f.sx), 4) AS zipf_slope
        FROM per_lang p JOIN fit f USING (lang)
        ORDER BY p.lang
    """,
    "token_fertility": f"""
        WITH per_doc AS (
            SELECT lang,
                   CAST(strlen({_NORM_SQL}) AS BIGINT) AS n_bytes,
                   CAST(length({_NORM_SQL}) AS BIGINT) AS n_chars,
                   CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT)
                       AS n_toks
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS total_tokens,
               round(CAST(sum(n_bytes) AS DOUBLE) / sum(n_toks), 6)
                   AS bytes_per_token,
               round(CAST(sum(n_chars) AS DOUBLE) / sum(n_toks), 6)
                   AS chars_per_token,
               round(CAST(sum(n_toks) AS DOUBLE) / count(*), 6)
                   AS tokens_per_doc
        FROM per_doc
        GROUP BY lang
        ORDER BY lang
    """,
    "char_entropy": f"""
        WITH chars AS (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, '')) AS ch
            FROM documents WHERE doc_id < 500
        ),
        counts AS (
            SELECT doc_id, ch, count(*) AS c
            FROM chars WHERE ch <> '' GROUP BY doc_id, ch
        ),
        terms AS (
            SELECT doc_id, c,
                   sum(c) OVER (PARTITION BY doc_id) AS n
            FROM counts
        )
        SELECT doc_id,
               CAST(max(n) AS BIGINT) AS n_chars,
               round(sum(-(CAST(c AS DOUBLE) / n)
                         * log2(CAST(c AS DOUBLE) / n)), 6)
                   + 0.0 AS entropy_bits
        FROM terms
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    "vocab_oov_rate": f"""
        WITH toks AS (
            SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS tok
            FROM documents
        ),
        vocab AS (
            SELECT tok FROM (
                SELECT tok, count(*) AS c FROM toks GROUP BY tok
            ) ORDER BY c DESC, tok LIMIT 50
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov,
               round(sum(CASE WHEN v.tok IS NULL THEN 1.0 ELSE 0.0 END)
                     / count(*), 6) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        GROUP BY source ORDER BY source
    """,
    "inverted_index": f"""
        WITH tok_docs AS (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
            FROM documents
        ),
        per_doc AS (
            SELECT tok, doc_id, count(*) AS tf
            FROM tok_docs GROUP BY tok, doc_id
        )
        SELECT tok AS token,
               CAST(count(*) AS BIGINT) AS df,
               CAST(sum(tf) AS BIGINT) AS tf_total,
               array_to_string(list_sort(list(doc_id))[1:10], ',')
                   AS posting_head
        FROM per_doc
        GROUP BY tok
        ORDER BY df DESC, tf_total DESC, token
        LIMIT 20
    """,
    "unigram_logprob": """
        WITH toks AS (
            SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), uni AS (
            SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ), total AS (SELECT count(*)::DOUBLE AS n FROM toks),
        doc_xent AS (
            SELECT t.doc_id, t.source,
                   avg(-ln(u.c / (SELECT n FROM total))) AS xent
            FROM toks t JOIN uni u USING (tok)
            GROUP BY t.doc_id, t.source
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(xent), 6) AS avg_xent,
               round(min(xent), 6) AS min_xent,
               round(max(xent), 6) AS max_xent
        FROM doc_xent GROUP BY source ORDER BY source
    """,
    "perplexity_buckets": f"""
        WITH toks AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), uni AS (
            SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ), total AS (SELECT count(*)::DOUBLE AS n FROM toks),
        doc_xent AS (
            SELECT t.doc_id, t.lang,
                   avg(-ln(u.c / (SELECT n FROM total))) AS xent
            FROM toks t JOIN uni u USING (tok)
            GROUP BY t.doc_id, t.lang
        )
        SELECT lang,
               CASE WHEN xent < {_PPL_T1} THEN 'head'
                    WHEN xent < {_PPL_T2} THEN 'middle'
                    ELSE 'tail' END AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(xent), 6) AS avg_xent
        FROM doc_xent
        GROUP BY lang, bucket
        ORDER BY lang, bucket
    """,
    "text_redact_pii": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all({_NORM_SQL},
                    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}')) AS INTEGER) AS n_email,
               CAST(len(regexp_extract_all({_NORM_SQL},
                    'https?://[^\\s]+')) AS INTEGER) AS n_url,
               CAST(len(regexp_extract_all({_NORM_SQL},
                    '[0-9]{{9,}}')) AS INTEGER) AS n_longnum,
               md5(regexp_replace(regexp_replace(regexp_replace({_NORM_SQL},
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}', '<email>', 'g'),
                   'https?://[^\\s]+', '<url>', 'g'),
                   '[0-9]{{9,}}', '<longnum>', 'g')) AS redacted_fp
        FROM documents
        ORDER BY doc_id
    """,
    "string_funcs2": """
        SELECT doc_id,
               CAST(ascii(substr(source, 1, 1)) AS INTEGER) AS first_cp,
               chr(CAST(65 + (doc_id % 26) AS INTEGER)) AS letter,
               repeat(substr(source, 1, 2), 3) AS rep,
               reverse(source) AS rev,
               lpad(source, 12, '.') AS lp,
               rpad(source, 12, '.') AS rp,
               substr(source, 1, 3) AS l3,
               right(source, 3) AS r3,
               CAST(strpos(source, 'a') AS INTEGER) AS pos_a,
               translate(source, 'aeiou', 'AEIOU') AS tr,
               to_base64(encode(source)) AS b64,
               lower(hex(encode(source))) AS hx,
               CAST(bit_count(doc_id) AS INTEGER) AS bits,
               xor(doc_id, 255) AS xored
        FROM documents
        ORDER BY doc_id
    """,
    "pipeline_clean_corpus": f"""
        WITH scored AS (
            SELECT doc_id, source,
                   md5({_NORM_SQL}) AS fp,
                   greatest(0.0, least(1.0,
                       0.4 * least(CAST(len(string_split({_NORM_SQL}, ' ')) AS DOUBLE) / 100.0, 1.0)
                       + 0.4 * (1.0 - CAST(length(regexp_replace({_NORM_SQL}, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                                / greatest(CAST(length({_NORM_SQL}) AS DOUBLE), 1.0))
                       + 0.2 * (CAST(len(regexp_extract_all({_NORM_SQL},
                            '\\b(the|a|of|and|to|in|is)\\b')) AS DOUBLE)
                                / CAST(len(string_split({_NORM_SQL}, ' ')) AS DOUBLE)))) AS q
            FROM documents
        ), filtered AS (
            SELECT * FROM scored WHERE q >= 0.5
        ), kept AS (
            SELECT * FROM (
                SELECT doc_id, source, q,
                       min(doc_id) OVER (PARTITION BY fp) AS keeper
                FROM filtered)
            WHERE doc_id = keeper
        )
        SELECT source, count(*) AS n_kept, round(avg(q), 6) AS avg_quality
        FROM kept
        GROUP BY source
        ORDER BY source
    """,
    "tfidf_top_terms": f"""
        WITH tokens AS (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
            FROM documents
        ),
        tc AS (SELECT doc_id, term, count(*) AS tc FROM tokens GROUP BY doc_id, term),
        doc_len AS (SELECT doc_id, count(*) AS doc_len FROM tokens GROUP BY doc_id),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokens GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tc.doc_id, tc.term,
                   round((CAST(tc.tc AS DOUBLE) / doc_len.doc_len)
                         * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
            FROM tc
            JOIN doc_len ON doc_len.doc_id = tc.doc_id
            JOIN df ON df.term = tc.term
            CROSS JOIN n
        )
        SELECT doc_id, term, tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= 3
        ORDER BY doc_id, rank
    """,
    "doc_fingerprint": f"""
        SELECT doc_id,
               md5({_NORM_SQL}) AS fp,
               CAST(length({_NORM_SQL}) AS INTEGER) AS norm_len
        FROM documents
        ORDER BY doc_id
    """,
    "token_count": f"""
        SELECT doc_id,
               CAST(len(string_split({_NORM_SQL}, ' ')) AS INTEGER) AS n_ws_tokens,
               CAST(len(regexp_extract_all({_NORM_SQL},
                    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens
        FROM documents
        ORDER BY doc_id
    """,
    "text_quality": f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split({_NORM_SQL}, ' ')) AS DOUBLE) AS n_tokens,
                   CAST(len(regexp_extract_all({_NORM_SQL},
                        '\\b(the|a|of|and|to|in|is)\\b')) AS DOUBLE) AS stop_hits,
                   CAST(length(regexp_replace({_NORM_SQL}, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                       AS punct_chars,
                   CAST(length({_NORM_SQL}) AS DOUBLE) AS n_chars
            FROM documents
        )
        SELECT doc_id,
               CAST(n_tokens AS INTEGER) AS n_tokens,
               stop_hits / n_tokens AS stopword_ratio,
               punct_chars / greatest(n_chars, 1.0) AS punct_ratio,
               greatest(0.0, least(1.0,
                   0.4 * least(n_tokens / 100.0, 1.0)
                   + 0.4 * (1.0 - punct_chars / greatest(n_chars, 1.0))
                   + 0.2 * (stop_hits / n_tokens))) AS quality_score
        FROM t
        ORDER BY doc_id
    """,
    "string_funcs": """
        SELECT doc_id,
               jaccard(source, lang) AS jacc,
               CAST(hamming(substr(md5(text), 1, 16), substr(md5(text), 17, 16)) AS INTEGER) AS ham,
               CAST(levenshtein(source, lang) AS INTEGER) AS lev,
               CAST(editdist3(lang, 'en') AS INTEGER) AS ed3,
               prefix(text, 'key') AS pref,
               suffix(source, 'l') AS suff,
               list_element(str_split(text, ' '), 2) AS second_token,
               CAST(len(str_split(source, '')) AS INTEGER) AS n_src_chars
        FROM documents
        ORDER BY doc_id
    """,
    "lang_id_ngram": f"""
        WITH s AS (
            SELECT doc_id,
                   {", ".join(
                       "("
                       + " + ".join(
                           f"(len(string_split({_NORM_SQL}, '{tri}')) - 1)"
                           for tri in tris
                       )
                       + f") AS {lang}_tri"
                       for lang, tris in NGRAM_PROFILES.items()
                   )}
            FROM documents
        )
        SELECT doc_id,
               CAST(en_tri AS INTEGER) AS en_tri,
               CAST(de_tri AS INTEGER) AS de_tri,
               CAST(fr_tri AS INTEGER) AS fr_tri,
               CAST(es_tri AS INTEGER) AS es_tri,
               CASE WHEN en_tri = greatest(en_tri, de_tri, fr_tri, es_tri) THEN 'en'
                    WHEN de_tri = greatest(en_tri, de_tri, fr_tri, es_tri) THEN 'de'
                    WHEN fr_tri = greatest(en_tri, de_tri, fr_tri, es_tri) THEN 'fr'
                    WHEN es_tri = greatest(en_tri, de_tri, fr_tri, es_tri) THEN 'es'
                    ELSE 'en' END AS pred_lang
        FROM s
        ORDER BY doc_id
    """,
    "lang_id": f"""
        WITH s AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all({_NORM_SQL},
                        '\\b(the|a|of|and|to|in|is)\\b')) AS INTEGER) AS en_score,
                   CAST(len(regexp_extract_all({_NORM_SQL},
                        '\\b(der|die|das|und|ist|ein|zu)\\b')) AS INTEGER) AS de_score,
                   CAST(len(regexp_extract_all({_NORM_SQL},
                        '\\b(le|les|et|est|une|dans|pour)\\b')) AS INTEGER) AS fr_score,
                   CAST(len(regexp_extract_all({_NORM_SQL},
                        '\\b(el|los|y|es|una|en|por)\\b')) AS INTEGER) AS es_score,
                   CAST(length(regexp_replace({_NORM_SQL},
                        '[^{_CJK}]', '', 'g')) AS INTEGER) AS zh_score
            FROM documents
        )
        SELECT doc_id, en_score, de_score, fr_score, es_score, zh_score,
               CASE WHEN en_score = greatest(en_score, de_score, fr_score, es_score, zh_score) THEN 'en'
                    WHEN de_score = greatest(en_score, de_score, fr_score, es_score, zh_score) THEN 'de'
                    WHEN fr_score = greatest(en_score, de_score, fr_score, es_score, zh_score) THEN 'fr'
                    WHEN es_score = greatest(en_score, de_score, fr_score, es_score, zh_score) THEN 'es'
                    ELSE 'zh' END AS pred_lang
        FROM s
        ORDER BY doc_id
    """,
}
