"""Language-model statistics over the corpus.

Extension tier (SURVEY §7 Phase 5), sibling of operators/text.py's
unigram/bigram LM family: the smoothed-LM and topic-quality operators
a tokenizer/LM data team runs on a corpus before training —
Kneser-Ney smoothed bigram probabilities (the classical n-gram LM
baseline), UMass topic coherence of each source's top terms, and
document-level word co-occurrence (the non-adjacent counterpart of
quality.pmi_collocations).

Scale shapes (all built-in JVM expressions):

* ``kneser_ney_bigram`` — every model quantity (history counts,
  follower/predecessor type counts, continuation mass) is an
  aggregate OF the bigram-count table, so the corpus is tokenized
  once; the joins are vocabulary-sized hash joins and the output is
  a TakeOrdered top-k.
* ``topic_coherence_umass`` — top terms per source via one window;
  the doc-term incidence is semi-joined down to the ~sources×T
  candidate terms BEFORE the pair join, so co-occurrence never
  touches the full vocabulary.
* ``word_cooccurrence`` — incidence bounded by a document-frequency
  band (rare+common words dropped) before the per-doc pair self-join
  — the standard guard that keeps doc-level co-occurrence
  sub-quadratic in vocabulary; at web scale the band plus a per-doc
  distinct-term cap bounds pair fan-out per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gizmosql_spark.operators import loader
from gizmosql_spark.operators.text import _norm

_NORM_SQL = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"

#: guarded adjacent-pair expansion (same contract as quality.py)
_PAIRS_EXPR = (
    "CASE WHEN size(ws) >= 2 THEN "
    "transform(sequence(0, size(ws) - 2),"
    " i -> struct(ws[i] AS w1, ws[i + 1] AS w2)) "
    "ELSE array() END"
)

_PAIRS_SQL = (
    "CASE WHEN len(ws) >= 2 THEN "
    "list_transform(range(1, len(ws)),"
    " i -> struct_pack(w1 := ws[i], w2 := ws[i + 1])) "
    "ELSE [] END"
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return loader.table(spark, sf_dir, name)


def _bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2, c) corpus bigram counts — the single tokenization pass
    every other model quantity aggregates from."""
    d = _t(spark, sf_dir, "documents").select(
        F.split(_norm(F.col("text")), " ").alias("ws"))
    return (
        d.select(F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )


KN_D = 0.75
KN_TOP = 25
KN_MIN_COUNT = 3


def kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram probabilities, top 25 by P_KN.

    P_KN(w2|w1) = max(c(w1,w2) − d, 0)/c(w1·)
                  + d·N1+(w1,·)/c(w1·) · N1+(·,w2)/N1+(·,·)

    with d = 0.75. All four model quantities are aggregates of the
    one bigram-count table (c(w1·) = history mass, N1+ = follower /
    predecessor type counts, the denominator = bigram type count),
    so the corpus tokenizes once and everything after is
    vocabulary-sized. The absolute-discount + continuation-mass
    structure is why KN survives at corpus scale: no quantity is
    per-token beyond the first wordcount.
    """
    bg = loader.keyed_persist(
        spark, sf_dir, f"lm.bigrams:{sf_dir}",
        lambda: _bigrams(spark, sf_dir))
    hist = bg.groupBy("w1").agg(
        F.sum("c").alias("c1"),
        F.count(F.lit(1)).alias("n1_fwd"),  # N1+(w1, ·)
    )
    pred = bg.groupBy("w2").agg(
        F.count(F.lit(1)).alias("n1_bwd"))  # N1+(·, w2)
    types = bg.agg(F.count(F.lit(1)).alias("n_types"))
    return (
        bg.filter(F.col("c") >= KN_MIN_COUNT)
        .join(hist, "w1")
        .join(pred, "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1", "w2",
            F.col("c").alias("support"),
            F.round(
                F.greatest(F.col("c") - KN_D, F.lit(0.0)) / F.col("c1")
                + (KN_D * F.col("n1_fwd") / F.col("c1"))
                * (F.col("n1_bwd") / F.col("n_types")),
                6,
            ).alias("p_kn"),
        )
        .orderBy(F.desc("p_kn"), F.asc("w1"), F.asc("w2"))
        .limit(KN_TOP)
    )


TOPIC_T = 8


def topic_coherence_umass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UMass topic coherence of each source's top-8 terms:
    C = Σ_{i<j} ln((D(wi, wj) + 1) / D(wj)) over rank-ordered term
    pairs, D = corpus document frequency — the automatic topic-quality
    score (Mimno et al. 2011) applied to per-source vocabularies.

    Scale: the top terms are one window over per-source counts
    (sources × 8 rows); doc-term incidence is immediately semi-joined
    to those terms (broadcast — candidate set is sources×T, not the
    vocabulary), and the pair join runs per doc on that bounded
    incidence. Coherence never sees a full vocab × vocab pair.
    """
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.explode(F.split(_norm(F.col("text")), " ")).alias("tok"),
    )
    counts = d.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("tok"))
    top = (
        counts.select(
            "source", "tok", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= TOPIC_T)
    )
    # doc-term incidence restricted to candidate terms (distinct per doc)
    inc = (
        d.join(F.broadcast(top.select("tok").distinct()), "tok")
        .select("doc_id", "tok")
        .distinct()
    )
    # document frequency of each candidate term
    df_ = inc.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # rank-ordered pairs within each source topic: (wi, wj), i < j
    a = top.select("source", F.col("tok").alias("wi"),
                   F.col("rk").alias("ri"))
    b = top.select("source", F.col("tok").alias("wj"),
                   F.col("rk").alias("rj"))
    pairs = a.join(b, "source").filter(F.col("ri") < F.col("rj"))
    # co-document frequency via the bounded incidence self-join
    ia = inc.select("doc_id", F.col("tok").alias("wi"))
    ib = inc.select("doc_id", F.col("tok").alias("wj"))
    codf = (
        ia.join(ib, "doc_id")
        .filter(F.col("wi") != F.col("wj"))
        .groupBy("wi", "wj")
        .agg(F.count(F.lit(1)).alias("codf"))
    )
    return (
        pairs.join(F.broadcast(codf), ["wi", "wj"], "left")
        .join(F.broadcast(df_.select(F.col("tok").alias("wj"),
                                     F.col("df").alias("df_j"))), "wj")
        .groupBy("source")
        .agg(
            # signed log-ratio sum straddles zero -> + 0.0
            (F.round(
                F.sum(
                    F.log(
                        (F.coalesce(F.col("codf"), F.lit(0)) + 1.0)
                        / F.col("df_j")
                    )
                ),
                6,
            ) + F.lit(0.0)).alias("coherence"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
        .orderBy("source")
    )


COOC_DF_MIN = 5
COOC_DF_MAX = 400
COOC_TOP = 25


def word_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level word co-occurrence, top 25 pairs — the
    non-adjacent counterpart of PMI collocations (which only sees
    neighboring tokens): which terms live in the same documents.

    The document-frequency band [5, 400] drops both hapaxes (pair
    noise) and stopword-like terms (quadratic hubs) BEFORE the
    per-doc pair self-join — the standard guard that keeps doc-level
    co-occurrence tractable; at web scale the band tightens and a
    per-doc distinct-term cap bounds fan-out per document.
    """
    # distinct (doc, token) incidence = exactly the persisted
    # (doc, term) count frame's key set (same _norm tokenization) —
    # r11: the explode + distinct ran three times per call here (the
    # df aggregate and both self-join sides); all three consumers now
    # read the shared persisted frame
    from gizmosql_spark.operators.text import _term_counts

    inc = _term_counts(spark, sf_dir).select(
        "doc_id", F.col("term").alias("tok"))
    df_ = inc.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    kept = df_.filter(
        (F.col("df") >= COOC_DF_MIN) & (F.col("df") <= COOC_DF_MAX))
    bounded = inc.join(F.broadcast(kept.select("tok")), "tok")
    a = bounded.select("doc_id", F.col("tok").alias("wa"))
    b = bounded.select("doc_id", F.col("tok").alias("wb"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("wa") < F.col("wb"))
        .groupBy("wa", "wb")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("wa"), F.asc("wb"))
        .limit(COOC_TOP)
    )


QUERIES = {
    "kneser_ney_bigram": kneser_ney_bigram,
    "topic_coherence_umass": topic_coherence_umass,
    "word_cooccurrence": word_cooccurrence,
}

_BIGRAM_CTES = f"""base AS (
            SELECT string_split({_NORM_SQL}, ' ') AS ws FROM documents
        ), pairs AS (
            SELECT unnest({_PAIRS_SQL}) AS p FROM base
        ), bg AS (
            SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c
            FROM pairs GROUP BY p.w1, p.w2
        )"""

ORACLE: dict[str, str] = {
    "kneser_ney_bigram": f"""
        WITH {_BIGRAM_CTES},
        hist AS (
            SELECT w1, sum(c) AS c1, count(*) AS n1_fwd
            FROM bg GROUP BY w1
        ), pred AS (
            SELECT w2, count(*) AS n1_bwd FROM bg GROUP BY w2
        ), types AS (SELECT count(*) AS n_types FROM bg)
        SELECT bg.w1, bg.w2, bg.c AS support,
               round(greatest(bg.c - {KN_D}, 0.0) / hist.c1
                     + ({KN_D} * hist.n1_fwd / hist.c1)
                     * (pred.n1_bwd / CAST(types.n_types AS DOUBLE)),
                     6) AS p_kn
        FROM bg
        JOIN hist USING (w1)
        JOIN pred USING (w2)
        CROSS JOIN types
        WHERE bg.c >= {KN_MIN_COUNT}
        ORDER BY p_kn DESC, w1 ASC, w2 ASC
        LIMIT {KN_TOP}
    """,
    "topic_coherence_umass": f"""
        WITH toks AS (
            SELECT doc_id, source,
                   unnest(string_split({_NORM_SQL}, ' ')) AS tok
            FROM documents
        ), counts AS (
            SELECT source, tok, count(*) AS c
            FROM toks GROUP BY source, tok
        ), top AS (
            SELECT source, tok, rk FROM (
                SELECT source, tok,
                       row_number() OVER (PARTITION BY source
                           ORDER BY c DESC, tok ASC) AS rk
                FROM counts
            ) WHERE rk <= {TOPIC_T}
        ), inc AS (
            SELECT DISTINCT doc_id, tok
            FROM toks WHERE tok IN (SELECT tok FROM top)
        ), df AS (
            SELECT tok, count(*) AS df FROM inc GROUP BY tok
        ), prs AS (
            SELECT a.source, a.tok AS wi, b.tok AS wj
            FROM top a JOIN top b
              ON a.source = b.source AND a.rk < b.rk
        ), codf AS (
            SELECT ia.tok AS wi, ib.tok AS wj, count(*) AS codf
            FROM inc ia JOIN inc ib
              ON ia.doc_id = ib.doc_id AND ia.tok <> ib.tok
            GROUP BY ia.tok, ib.tok
        )
        SELECT p.source,
               round(sum(ln((coalesce(c.codf, 0) + 1.0) / d.df)), 6) + 0.0
                   AS coherence,
               count(*) AS n_pairs
        FROM prs p
        LEFT JOIN codf c ON c.wi = p.wi AND c.wj = p.wj
        JOIN df d ON d.tok = p.wj
        GROUP BY p.source ORDER BY p.source
    """,
    "word_cooccurrence": f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id,
                       unnest(string_split({_NORM_SQL}, ' ')) AS tok
                FROM documents
            )
        ), df AS (
            SELECT tok, count(*) AS df FROM toks GROUP BY tok
        ), kept AS (
            SELECT tok FROM df
            WHERE df >= {COOC_DF_MIN} AND df <= {COOC_DF_MAX}
        ), bounded AS (
            SELECT t.doc_id, t.tok FROM toks t
            JOIN kept USING (tok)
        )
        SELECT a.tok AS wa, b.tok AS wb, count(*) AS n_docs
        FROM bounded a JOIN bounded b
          ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
        ORDER BY n_docs DESC, wa ASC, wb ASC
        LIMIT {COOC_TOP}
    """,
}
