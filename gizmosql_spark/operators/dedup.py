"""Deduplication operators for training-data pipelines.

Extension tier (SURVEY §7 Phase 5). Four strategies over ``documents``:

- **exact**: md5-fingerprint groupBy — one shuffle on the hash; the
  canonical keeper is min(doc_id) per group.
- **MinHash + LSH**: shingle → 8 portable minhashes → 4 bands →
  band-bucket join → Jaccard verification. The LSH band join bounds
  candidate generation (no all-pairs blowup), which is what makes this
  the 100 TB scale path.
- **n-gram Jaccard**: exact Jaccard via an inverted shingle index
  (postings self-join). Quadratic in bucket size — verification-tier at
  scale; kept as the ground truth the LSH variant approximates.
- **SimHash**: 64-bit simhash from per-token md5 bits via explode +
  majority vote — near-dup fingerprint in one groupBy.

Portability: "hashes" are md5 hex strings (lexicographic min), never
engine hash functions, so DuckDB oracles reproduce results bit-for-bit.
Embedding-cosine near-dup lives in similarity.py (shares the vector
kernels).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gizmosql_spark.operators import loader

from gizmosql_spark.operators.text import _NORM_SQL, _norm

N_HASHES = 8
N_BANDS = 4  # 2 hashes per band
JACCARD_THRESHOLD = 0.5


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return loader.table(spark, sf_dir, name)


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) distinct word-3-gram shingles per document.

    The raw text is repartitioned across all cores before the
    shingle explode: document fixtures arrive as few (locally: one)
    parquet files, and the explode is the CPU-dense step — without the
    spread it runs on as many tasks as there are input files. The
    shuffle moves only (doc_id, text)-sized rows, far smaller than the
    exploded output it parallelizes."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(_norm(F.col("text")), " ")
    shingle_list = F.array_distinct(
        F.expr(
            "transform(sequence(0, size(words) - 3),"
            " i -> concat_ws(' ', words[i], words[i+1], words[i+2]))"
        )
    )
    return (
        d.select("doc_id", "text")
        .repartition(int(spark.conf.get(
            "spark.sql.shuffle.partitions")), "doc_id")
        .select("doc_id", words.alias("words"))
        .filter(F.size("words") >= 3)
        .select("doc_id", F.explode(shingle_list).alias("shingle"))
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized-text md5; keeper =
    min(doc_id) over the fingerprint partition (single shuffle)."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(_norm(F.col("text")))
    w = Window.partitionBy("fp")
    return (
        d.select("doc_id", fp.alias("fp"))
        .withColumn("keeper", F.min("doc_id").over(w))
        .withColumn("is_dup", F.col("doc_id") != F.col("keeper"))
        .orderBy("doc_id")
    )


def dedup_keeper_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper selection: within each exact-duplicate
    group keep the LONGEST document (ties to lowest doc_id) instead
    of blindly keeping the first — the curation-grade dedup policy
    (dedup_exact's min-id rule is the baseline). One window over the
    fingerprint partition; emits one keeper row per group with its
    duplicate count."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(_norm(F.col("text")))
    w = Window.partitionBy("fp").orderBy(
        F.desc("n_chars"), "doc_id")
    return (
        d.select("doc_id", "n_chars", fp.alias("fp"))
        .withColumn("rk", F.row_number().over(w))
        .withColumn("group_size",
                    F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("rk") == 1)
        .select("fp", F.col("doc_id").alias("keeper_id"),
                F.col("n_chars").alias("keeper_chars"),
                F.col("group_size").cast("int").alias("group_size"))
        .orderBy("fp")
    )


def _minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key): LSH band keys from 8 minhashes
    over the (persisted) shingle frame — the caller passes the same
    cached explode the Jaccard verify reads, so the shingling runs
    once per dataset, not once per consumer.

    minhash_i = lexicographic min of md5("i:" || shingle) — portable
    across engines, and a groupBy with 8 min() aggs = one shuffle.
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    minh = sh.groupBy("doc_id").agg(*aggs)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat(F.col(f"h{2*b}"), F.col(f"h{2*b+1}"))).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    return minh.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key")
    )


def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified MinHash-LSH near-dup pairs (a_id, b_id, jaccard),
    persisted — shared by dedup_minhash_lsh and dedup_clusters, so the
    band join + Jaccard verification runs once per dataset. Both
    persists go through the keyed registry (loader.keyed_persist) so
    repeated calls in a long-lived session reuse one cached frame
    rather than stacking new ones."""

    def _build() -> DataFrame:
        sh = loader.keyed_persist(
            spark, sf_dir, f"dedup.shingles:{sf_dir}",
            lambda: _shingles(spark, sf_dir))
        bands = loader.keyed_persist(
            spark, sf_dir, f"dedup.minhash_bands:{sf_dir}",
            lambda: _minhash_bands(sh))
        a = bands.alias("a")
        b = bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
            .distinct()
        )
        return _verify_jaccard(cand, sh)

    return loader.keyed_persist(
        spark, sf_dir, f"dedup.lsh_pairs:{sf_dir}", _build)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: band-bucket join generates candidate
    pairs, exact Jaccard over the shingle postings verifies them.

    The shingle index feeds four plan subtrees (minhash aggs, both
    sides of the verify join, sizes); persisting it computes the
    explode once — the standard MinHash-pipeline materialization point
    (at cluster scale: MEMORY_AND_DISK, spilling per-executor)."""
    return _lsh_pairs(spark, sf_dir).orderBy("a_id", "b_id")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs via inverted shingle index.

    Candidate = any shared shingle (postings self-join). Quadratic in
    posting-list length — at 100 TB use dedup_minhash_lsh; this is the
    exact ground truth for verification."""
    sh = loader.keyed_persist(
        spark, sf_dir, f"dedup.shingles:{sf_dir}",
        lambda: _shingles(spark, sf_dir))
    a = sh.alias("a")
    b = sh.alias("b")
    # one shuffle: the postings self-join on shingle IS the common
    # count — no candidate materialization + re-join needed
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    za = sizes.select(F.col("doc_id").alias("a_id"), F.col("sz").alias("sza"))
    zb = sizes.select(F.col("doc_id").alias("b_id"), F.col("sz").alias("szb"))
    return (
        common.join(za, "a_id")
        .join(zb, "b_id")
        .select(
            "a_id",
            "b_id",
            (F.col("cc").cast("double") / (F.col("sza") + F.col("szb") - F.col("cc"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("a_id", "b_id")
    )


def _verify_jaccard(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs from the shingle postings."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sa = sh.select(F.col("doc_id").alias("a_id"), "shingle")
    sb = sh.select(F.col("doc_id").alias("b_id"), "shingle")
    common = (
        cand.join(sa, "a_id")
        .join(sb, ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    za = sizes.select(F.col("doc_id").alias("a_id"), F.col("sz").alias("sza"))
    zb = sizes.select(F.col("doc_id").alias("b_id"), F.col("sz").alias("szb"))
    return (
        common.join(za, "a_id")
        .join(zb, "b_id")
        .select(
            "a_id",
            "b_id",
            (F.col("cc").cast("double") / (F.col("sza") + F.col("szb") - F.col("cc"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


#: pair-classification thresholds: containment (|A∩B|/min size)
#: catches subset/quote-expansion relationships Jaccard misses
_CONTAIN_MIN = 0.6
_CONTAIN_SUBSET = 0.9
_JACC_NEARID = 0.85


def dedup_pair_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair classification: for LSH-banded candidate pairs,
    compute BOTH Jaccard and containment (|A∩B| / min(|A|,|B|)) and
    label the relationship — ``near_identical`` (high Jaccard),
    ``subset`` (one document mostly inside the other: the
    quote-expansion / boilerplate-wrapping case symmetric Jaccard
    under-scores), or ``overlap``. The dedup policy tier consumes
    this to decide drop-vs-keep-longest.

    Scale shape: shares the persisted shingle postings and the banded
    candidate join with the LSH tier; the verify join and both
    normalizers are the same wordcount-shaped aggregations. The band
    frame itself is persisted through the same keyed registry (r11):
    it is doc × N_BANDS rows — orders of magnitude below the shingle
    frame — but rebuilding it per call re-ran 8 md5 min-aggs over
    every shingle (the dominant CPU of this query at sf0.1)."""
    sh = loader.keyed_persist(
        spark, sf_dir, f"dedup.shingles:{sf_dir}",
        lambda: _shingles(spark, sf_dir))
    bands = loader.keyed_persist(
        spark, sf_dir, f"dedup.minhash_bands:{sf_dir}",
        lambda: _minhash_bands(sh))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"),
                F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sa = sh.select(F.col("doc_id").alias("a_id"), "shingle")
    sb = sh.select(F.col("doc_id").alias("b_id"), "shingle")
    common = (
        cand.join(sa, "a_id")
        .join(sb, ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    za = sizes.select(F.col("doc_id").alias("a_id"),
                      F.col("sz").alias("sza"))
    zb = sizes.select(F.col("doc_id").alias("b_id"),
                      F.col("sz").alias("szb"))
    jac = F.col("cc").cast("double") / (
        F.col("sza") + F.col("szb") - F.col("cc"))
    con = F.col("cc").cast("double") / F.least("sza", "szb")
    rel = (
        F.when(F.round(jac, 6) >= _JACC_NEARID, "near_identical")
        .when(F.round(con, 6) >= _CONTAIN_SUBSET, "subset")
        .otherwise("overlap")
    )
    return (
        common.join(za, "a_id")
        .join(zb, "b_id")
        .filter(F.round(con, 6) >= _CONTAIN_MIN)
        .select(
            "a_id",
            "b_id",
            F.round(jac, 6).alias("jaccard"),
            F.round(con, 6).alias("containment"),
            rel.alias("relationship"),
        )
        .orderBy("a_id", "b_id")
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document from distinct-token md5 bits.

    bit(p) of md5's first 16 hex digits, majority-voted across tokens;
    output is the 64-char '0'/'1' signature string (portable — avoids
    engine-specific 64-bit int semantics)."""
    d = _t(spark, sf_dir, "documents")
    tokens = (
        d.select("doc_id", "text")
        .repartition(int(spark.conf.get(
            "spark.sql.shuffle.partitions")), "doc_id")
        .select("doc_id", F.explode(F.array_distinct(F.split(_norm(F.col("text")), " "))).alias("tok"))
        .withColumn("h", F.substring(F.md5("tok"), 1, 16))
    )
    bits = (
        tokens.select("doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bitpos"))
        .withColumn("hexpos", (F.col("bitpos") / 4).cast("int"))
        .withColumn("digit", F.expr("instr('0123456789abcdef', substring(h, hexpos + 1, 1)) - 1"))
        .withColumn("bit", F.expr("CAST(floor(digit / power(2, 3 - (bitpos % 4))) AS INT) % 2"))
        .withColumn("sign", F.col("bit") * 2 - 1)
    )
    votes = bits.groupBy("doc_id", "bitpos").agg(F.sum("sign").alias("v"))
    return (
        votes.withColumn("bitchar", F.when(F.col("v") > 0, "1").otherwise("0"))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("bitpos", "bitchar"))),
                    lambda x: x["bitchar"],
                ),
                "",
            ).alias("simhash")
        )
        .orderBy("doc_id")
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    MinHash-LSH verified pair graph, labels = min doc_id per component.

    Iterative min-label propagation (the dedup-pipeline standard for
    grouping near-dup pairs before keeper selection): each round every
    node takes the min of its own and its neighbors' labels; converges
    in O(component diameter) rounds — near-dup components are shallow,
    so a handful. Each round is one shuffled join + aggregate; labels
    are localCheckpoint()ed so lineage stays flat (at cluster scale:
    checkpoint to reliable storage). The convergence probe collects a
    single scalar per round, not data."""
    pairs = _lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    sym = pairs.union(
        pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    ).persist()
    # propagate only over nodes that appear in the pair graph — at
    # 100 TB the graph is a sliver of the corpus (most docs are
    # singletons) and must not ride through every iteration.
    # Size the propagation shuffles to the GRAPH, not the corpus: the
    # session's shuffle width is tuned for corpus scans, but the pair
    # graph is orders of magnitude smaller, and an iterative loop pays
    # the per-partition floor every round. ~50k edges per partition;
    # measured 10.1 s -> 1.5 s at sf0.1. The width is expressed on the
    # loop FRAMES (repartition on the join key — every loop shuffle
    # then co-partitions against it), never via the session conf: the
    # engine is multi-session, and a set-then-restore window would
    # leak the clamped width into concurrently planned statements.
    # bounded width scalar, kept in the session's data map (r12): the
    # edge count only sizes loop_parts, is deterministic per fixture
    # dir, and cost one full materialization job per call — the same
    # bounded-scalar class as scale.range_boundaries. The propagation
    # loop itself still runs in full on every invocation.
    n_edges = loader.memo(spark, sf_dir, f"dedup.cluster_edges:{sf_dir}",
                          sym.count)
    session_parts = int(
        pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(4, min(session_parts, n_edges // 50_000 + 1))
    edges = sym.repartition(loop_parts, "a_id").persist()
    labels, prev_sum = _propagate_min_labels(edges, loop_parts)
    edges.unpersist()
    sym.unpersist()
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(labels, docs["doc_id"] == labels["id"], "left")
        .select("doc_id", F.coalesce("label", "doc_id").alias("cluster_id"))
        .orderBy("doc_id")
    )


def _propagate_min_labels(edges: DataFrame, width: int):
    """Min-label propagation over an edge frame pre-partitioned on
    ``a_id`` with ``width`` partitions. Every shuffle in the loop is
    pinned to ``width`` structurally: the label frame co-partitions
    with the edges (distinct/joins reuse the hash partitioning), and
    the one aggregation per round repartitions on its key first so
    the agg exchange is the explicit one. The map-side combine the
    implicit agg exchange would have done is skipped, but the join
    output is edge-sized (degrees are small in near-dup graphs) so
    the combine saves little."""
    labels = (
        edges.select(F.col("a_id").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    prev_sum = None
    for _ in range(20):
        prop = (
            edges.join(labels, edges["a_id"] == labels["id"])
            .select(F.col("b_id").alias("nid"), "label")
            .repartition(width, "nid")
            .groupBy("nid")
            .agg(F.min("label").alias("nlabel"))
        )
        labels = (
            labels.join(prop, labels["id"] == prop["nid"], "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
            # lazy checkpoint: the convergence probe below is the one
            # job that materializes it — keeps one action per round
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels, prev_sum


_WH_WIN = 40   # window width (chars of normalized text)
_WH_STRIDE = 10  # stride between window starts


def dedup_window_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup via rolling window hashes (the
    train-data technique of Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better": hash fixed-width character
    windows, flag windows whose hash appears in MORE THAN ONE
    document — those spans are verbatim cross-document repeats).

    Output per document: window count, cross-doc-shared window count,
    a duplicated-character estimate (shared x stride), and the flag.

    100 TB shape (r11): one explode (windows are |text|/stride
    rows) into a (hash, doc) partial-agg count; the cross-doc count
    is a window over the hash partition riding the same keying — no
    join, so the window-hash explode lineage executes ONCE (the r10
    form joined the hash stats back to the raw window stream,
    re-running the md5 explode on both join sides). No pairwise
    comparisons anywhere; cost is linear in corpus size."""
    d = _t(spark, sf_dir, "documents")
    w, s = _WH_WIN, _WH_STRIDE
    wins = (
        d.select("doc_id", _norm(F.col("text")).alias("norm"))
        .filter(F.length("norm") >= w)
        .repartition(int(spark.conf.get(
            "spark.sql.shuffle.partitions")), "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, cast(floor((length(norm) - {w})"
                    f" / {s}) as int)),"
                    f" i -> md5(substring(norm, i * {s} + 1, {w})))"
                )
            ).alias("wh"),
        )
    )
    from pyspark.sql import Window

    # (hash, doc) counts collapse duplicates map-side; nd = number of
    # docs sharing the hash = plain count over the hash partition
    # (the frame is distinct on (wh, doc_id) after the agg)
    wcounts = wins.groupBy("wh", "doc_id").agg(
        F.count(F.lit(1)).alias("c"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("wh"))
    return (
        wcounts.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_windows"),
            F.sum(F.when(F.col("nd") > 1, F.col("c"))
                  .otherwise(F.lit(0))).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_shared",
            (F.col("n_shared") * s).alias("dup_chars_est"),
            (F.col("n_shared") > 0).alias("is_substring_dup"),
        )
        .orderBy("doc_id")
    )


def cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix: the verified MinHash-LSH
    pairs rolled up by (source, source) — which shards copy from each
    other (the mixture-level view a dedup report leads with: heavy
    within-source dup is re-crawl noise, heavy CROSS-source dup means
    double-weighted content).

    Scale shape: reuses the persisted verified-pair frame; the source
    attach is two broadcast joins of the doc→source map; the rollup
    is a partial agg on the pairs frame."""
    pairs = _lsh_pairs(spark, sf_dir).select("a_id", "b_id", "jaccard")
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    joined = (
        pairs.join(
            F.broadcast(src.withColumnRenamed("source", "sa")),
            pairs["a_id"] == src["doc_id"],
        )
        .drop("doc_id")
        .join(
            F.broadcast(src.withColumnRenamed("source", "sb")),
            pairs["b_id"] == src["doc_id"],
        )
    )
    return (
        joined.select(
            F.least("sa", "sb").alias("s1"),
            F.greatest("sa", "sb").alias("s2"),
            "jaccard",
        )
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
        .select(
            "s1", "s2", "n_pairs", "avg_jaccard",
            F.when(F.col("s1") == F.col("s2"), "within")
            .otherwise("cross").alias("relation"),
        )
        .orderBy(F.desc("n_pairs"), "s1", "s2")
        .limit(15)
    )


QUERIES = {
    "cross_source_dups": cross_source_dups,
    "dedup_exact": dedup_exact,
    "dedup_keeper_quality": dedup_keeper_quality,
    "dedup_clusters": dedup_clusters,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_pair_classify": dedup_pair_classify,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_window_hash": dedup_window_hash,
}

# Shared SQL CTEs for shingling (DuckDB lists are 1-based).
_SHINGLES_CTE = f"""
    docs AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
    wordlists AS (SELECT doc_id, string_split(norm, ' ') AS ws FROM docs),
    shingle_lists AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        FROM wordlists WHERE len(ws) >= 3),
    shingles AS (SELECT doc_id, unnest(sh) AS shingle FROM shingle_lists),
    sizes AS (SELECT doc_id, len(sh) AS sz FROM shingle_lists)
"""

#: DuckDB CTE chain computing the per-doc 64-bit SimHash signature as
#: a ``sims(doc_id, simhash)`` relation — shared by the dedup_simhash
#: oracle and quality.pipeline_funnel's near-dup stage oracle.
_SIMHASH_CTES = f"""docs AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
        tokens AS (
            SELECT DISTINCT doc_id,
                   substr(md5(unnest(string_split(norm, ' '))), 1, 16) AS h
            FROM docs),
        bits AS (
            SELECT doc_id, h, unnest(range(0, 64)) AS bitpos FROM tokens),
        scored AS (
            SELECT doc_id, bitpos,
                   (strpos('0123456789abcdef',
                           substr(h, CAST(floor(bitpos / 4) AS INTEGER) + 1, 1)) - 1) AS digit
            FROM bits),
        votes AS (
            SELECT doc_id, bitpos,
                   sum((CAST(floor(digit / power(2, 3 - (bitpos % 4))) AS INTEGER) % 2) * 2 - 1) AS v
            FROM scored GROUP BY doc_id, bitpos),
        sims AS (
            SELECT doc_id,
                   string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END,
                              '' ORDER BY bitpos) AS simhash
            FROM votes GROUP BY doc_id)"""

_VERIFY_SQL = f"""
    common AS (
        SELECT c.a_id, c.b_id, count(*) AS cc
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.a_id
        JOIN shingles sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
        GROUP BY c.a_id, c.b_id)
    SELECT a_id, b_id,
           CAST(cc AS DOUBLE) / (za.sz + zb.sz - cc) AS jaccard
    FROM common
    JOIN sizes za ON za.doc_id = a_id
    JOIN sizes zb ON zb.doc_id = b_id
    WHERE CAST(cc AS DOUBLE) / (za.sz + zb.sz - cc) >= {JACCARD_THRESHOLD}
    ORDER BY a_id, b_id
"""

ORACLE: dict[str, str] = {
    "dedup_clusters": f"""
        WITH RECURSIVE {_SHINGLES_CTE},
        minh AS (
            SELECT doc_id,
                   {", ".join(f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(N_HASHES))}
            FROM shingles GROUP BY doc_id),
        bands AS (
            {" UNION ALL ".join(
                f"SELECT doc_id, {b} AS band_idx, md5(h{2*b} || h{2*b+1}) AS band_key FROM minh"
                for b in range(N_BANDS))}),
        cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a
            JOIN bands b ON a.band_idx = b.band_idx
                        AND a.band_key = b.band_key
                        AND a.doc_id < b.doc_id),
        common AS (
            SELECT c.a_id, c.b_id, count(*) AS cc
            FROM cand c
            JOIN shingles sa ON sa.doc_id = c.a_id
            JOIN shingles sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
            GROUP BY c.a_id, c.b_id),
        pairs AS (
            SELECT a_id, b_id
            FROM common
            JOIN sizes za ON za.doc_id = a_id
            JOIN sizes zb ON zb.doc_id = b_id
            WHERE CAST(cc AS DOUBLE) / (za.sz + zb.sz - cc) >= {JACCARD_THRESHOLD}),
        edges AS (
            SELECT a_id AS src, b_id AS dst FROM pairs
            UNION ALL
            SELECT b_id, a_id FROM pairs),
        reach AS (
            SELECT doc_id AS id, doc_id AS label FROM documents
            UNION
            SELECT e.dst AS id, r.label
            FROM reach r JOIN edges e ON e.src = r.id)
        SELECT id AS doc_id, min(label) AS cluster_id
        FROM reach
        GROUP BY id
        ORDER BY doc_id
    """,
    "dedup_exact": f"""
        SELECT doc_id,
               md5({_NORM_SQL}) AS fp,
               min(doc_id) OVER (PARTITION BY md5({_NORM_SQL})) AS keeper,
               doc_id <> min(doc_id) OVER (PARTITION BY md5({_NORM_SQL})) AS is_dup
        FROM documents
        ORDER BY doc_id
    """,
    "dedup_keeper_quality": f"""
        WITH ranked AS (
            SELECT doc_id, n_chars, md5({_NORM_SQL}) AS fp,
                   row_number() OVER (PARTITION BY md5({_NORM_SQL})
                       ORDER BY n_chars DESC, doc_id) AS rk,
                   count(*) OVER (PARTITION BY md5({_NORM_SQL}))
                       AS group_size
            FROM documents
        )
        SELECT fp, doc_id AS keeper_id, n_chars AS keeper_chars,
               CAST(group_size AS INT) AS group_size
        FROM ranked WHERE rk = 1
        ORDER BY fp
    """,
    "dedup_minhash_lsh": f"""
        WITH {_SHINGLES_CTE},
        minh AS (
            SELECT doc_id,
                   {", ".join(f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(N_HASHES))}
            FROM shingles GROUP BY doc_id),
        bands AS (
            {" UNION ALL ".join(
                f"SELECT doc_id, {b} AS band_idx, md5(h{2*b} || h{2*b+1}) AS band_key FROM minh"
                for b in range(N_BANDS))}),
        cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a
            JOIN bands b ON a.band_idx = b.band_idx
                        AND a.band_key = b.band_key
                        AND a.doc_id < b.doc_id),
        {_VERIFY_SQL}
    """,
    "dedup_ngram_jaccard": f"""
        WITH {_SHINGLES_CTE},
        cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM shingles a
            JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        {_VERIFY_SQL}
    """,
    "dedup_simhash": f"""
        WITH {_SIMHASH_CTES}
        SELECT doc_id, simhash FROM sims ORDER BY doc_id
    """,
    "dedup_window_hash": f"""
        WITH d AS (
            SELECT doc_id, {_NORM_SQL} AS norm FROM documents
            WHERE length({_NORM_SQL}) >= {_WH_WIN}
        ),
        wins AS (
            SELECT doc_id,
                   md5(substr(norm, i * {_WH_STRIDE} + 1, {_WH_WIN})) AS wh
            FROM d, unnest(range(0,
                CAST(floor((length(norm) - {_WH_WIN}) / {_WH_STRIDE})
                     AS BIGINT) + 1)) u(i)
        ),
        stats AS (
            SELECT wh, count(DISTINCT doc_id) AS nd FROM wins GROUP BY wh
        )
        SELECT doc_id,
               count(*) AS n_windows,
               CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared,
               CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * {_WH_STRIDE}
                   AS BIGINT) AS dup_chars_est,
               sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) > 0
                   AS is_substring_dup
        FROM wins JOIN stats USING (wh)
        GROUP BY doc_id
        ORDER BY doc_id
    """,
}

ORACLE["dedup_pair_classify"] = f"""
    WITH {_SHINGLES_CTE},
    minh AS (
        SELECT doc_id,
               {", ".join(f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(N_HASHES))}
        FROM shingles GROUP BY doc_id),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx, md5(h{2*b} || h{2*b+1}) AS band_key FROM minh"
            for b in range(N_BANDS))}),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx
                    AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id),
    common AS (
        SELECT c.a_id, c.b_id, count(*) AS cc
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.a_id
        JOIN shingles sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
        GROUP BY c.a_id, c.b_id),
    scored AS (
        SELECT a_id, b_id,
               round(CAST(cc AS DOUBLE) / (za.sz + zb.sz - cc), 6)
                   AS jaccard,
               round(CAST(cc AS DOUBLE) / least(za.sz, zb.sz), 6)
                   AS containment
        FROM common
        JOIN sizes za ON za.doc_id = a_id
        JOIN sizes zb ON zb.doc_id = b_id)
    SELECT a_id, b_id, jaccard, containment,
           CASE WHEN jaccard >= {_JACC_NEARID} THEN 'near_identical'
                WHEN containment >= {_CONTAIN_SUBSET} THEN 'subset'
                ELSE 'overlap' END AS relationship
    FROM scored
    WHERE containment >= {_CONTAIN_MIN}
    ORDER BY a_id, b_id
"""


ORACLE["cross_source_dups"] = f"""
    WITH {_SHINGLES_CTE},
    minh AS (
        SELECT doc_id,
               {", ".join(f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(N_HASHES))}
        FROM shingles GROUP BY doc_id),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx, md5(h{2*b} || h{2*b+1}) AS band_key FROM minh"
            for b in range(N_BANDS))}),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx
                    AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id),
    common AS (
        SELECT c.a_id, c.b_id, count(*) AS cc
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.a_id
        JOIN shingles sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
        GROUP BY c.a_id, c.b_id),
    pairs AS (
        SELECT a_id, b_id,
               CAST(cc AS DOUBLE) / (za.sz + zb.sz - cc) AS jaccard
        FROM common
        JOIN sizes za ON za.doc_id = a_id
        JOIN sizes zb ON zb.doc_id = b_id
        WHERE CAST(cc AS DOUBLE) / (za.sz + zb.sz - cc)
              >= {JACCARD_THRESHOLD})
    SELECT least(da.source, db.source) AS s1,
           greatest(da.source, db.source) AS s2,
           count(*) AS n_pairs,
           round(avg(jaccard), 6) AS avg_jaccard,
           CASE WHEN least(da.source, db.source)
                     = greatest(da.source, db.source)
                THEN 'within' ELSE 'cross' END AS relation
    FROM pairs
    JOIN documents da ON da.doc_id = pairs.a_id
    JOIN documents db ON db.doc_id = pairs.b_id
    GROUP BY 1, 2
    ORDER BY n_pairs DESC, s1, s2 LIMIT 15
"""


def dedup_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated SPANS — the cut-list step of
    Lee et al. 2022 that dedup_window_hash stops short of: overlapping
    / abutting shared windows are merged (gaps-and-islands) into the
    maximal char ranges a substring-dedup pass would actually excise.
    One row per (doc, span): [span_start, span_end), window count.

    100 TB shape (r12, ADVICE r11): same linear window explode as
    dedup_window_hash; the shared-hash flag is two COUNT windows —
    ``count() over (wh)`` vs ``count() over (wh, doc_id)`` (strictly
    greater ⟺ another document carries the hash, exactly the old
    ``size(collect_set(doc_id)) > 1``). The r11 collect_set form held
    every distinct doc_id of a hash in one window buffer: for a
    BOILERPLATE hash shared by much of the corpus that set (and its
    single window partition) is corpus-sized, not bounded — a memory
    hazard the plain counts do not have (O(1) state per row). The
    ``wh`` window partition itself still concentrates a hot hash's
    rows in one task — the honest residual of the join-free form; the
    counts are established on ONE ``wh`` hash exchange (the composite
    window reuses it: hash(wh) satisfies clustering on (wh, doc_id)),
    so the explode lineage executes ONCE and nothing joins. The span
    merge is two windows PARTITIONED BY doc — per-doc state only.
    """
    d = _t(spark, sf_dir, "documents")
    w, s = _WH_WIN, _WH_STRIDE
    wins = (
        d.select("doc_id", _norm(F.col("text")).alias("norm"))
        .filter(F.length("norm") >= w)
        .repartition(int(spark.conf.get(
            "spark.sql.shuffle.partitions")), "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, cast(floor((length(norm) - {w})"
                    f" / {s}) as int)),"
                    f" i -> struct(i * {s} AS pos,"
                    f" md5(substring(norm, i * {s} + 1, {w})) AS wh))"
                )
            ).alias("win"),
        )
        .select("doc_id", F.col("win.pos").alias("pos"),
                F.col("win.wh").alias("wh"))
    )
    n_wh = F.count(F.lit(1)).over(Window.partitionBy("wh"))
    n_wh_doc = F.count(F.lit(1)).over(Window.partitionBy("wh", "doc_id"))
    sw = (
        # explicit wh exchange + ONE composite sort: hash(wh)
        # satisfies both windows' clustering and the (wh, doc_id)
        # ordering satisfies both windows' sort requirements ((wh) is
        # a prefix), so the planner adds no exchange and no sort of
        # its own — the optimizer's TransposeWindow otherwise orders
        # the coarse window first and pays two sorts
        wins.repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")), "wh")
        .sortWithinPartitions("wh", "doc_id")
        .withColumn("n_wd", n_wh_doc)
        .withColumn("n_wh", n_wh)
        .filter(F.col("n_wh") > F.col("n_wd"))
        .drop("n_wh", "n_wd")
    )
    # islands: a window starts a new span iff it begins after every
    # earlier window's end (running max of pos + w)
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + w).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1))
    flagged = sw.select(
        "doc_id", "pos",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
        .otherwise(0).alias("is_new"),
    )
    islands = flagged.select(
        "doc_id", "pos",
        F.sum("is_new").over(
            w_doc.rowsBetween(Window.unboundedPreceding, 0)).alias("span_id"),
    )
    return (
        islands.groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + w).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            "doc_id",
            F.col("span_id").cast("long").alias("span_id"),
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start")).cast("long")
            .alias("span_chars"),
            "n_windows",
        )
        .orderBy("doc_id", "span_start")
    )


QUERIES["dedup_span_report"] = dedup_span_report
ORACLE["dedup_span_report"] = f"""
    WITH d AS (
        SELECT doc_id, {_NORM_SQL} AS norm FROM documents
        WHERE length({_NORM_SQL}) >= {_WH_WIN}
    ),
    wins AS (
        SELECT doc_id, i * {_WH_STRIDE} AS pos,
               md5(substr(norm, i * {_WH_STRIDE} + 1, {_WH_WIN})) AS wh
        FROM d, unnest(range(0,
            CAST(floor((length(norm) - {_WH_WIN}) / {_WH_STRIDE})
                 AS BIGINT) + 1)) u(i)
    ),
    shared AS (
        SELECT wh FROM wins GROUP BY wh
        HAVING count(DISTINCT doc_id) > 1
    ),
    sw AS (SELECT doc_id, pos FROM wins SEMI JOIN shared USING (wh)),
    flagged AS (
        SELECT doc_id, pos,
               CASE WHEN max(pos + {_WH_WIN}) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) IS NULL
                         OR pos > max(pos + {_WH_WIN}) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS is_new
        FROM sw
    ),
    islands AS (
        SELECT doc_id, pos,
               sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS span_id
        FROM flagged
    )
    SELECT doc_id,
           CAST(span_id AS BIGINT) AS span_id,
           min(pos) AS span_start,
           CAST(max(pos) + {_WH_WIN} AS BIGINT) AS span_end,
           CAST(max(pos) + {_WH_WIN} - min(pos) AS BIGINT) AS span_chars,
           count(*) AS n_windows
    FROM islands
    GROUP BY doc_id, span_id
    ORDER BY doc_id, span_start
"""
