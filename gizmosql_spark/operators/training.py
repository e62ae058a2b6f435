"""Training-corpus preparation operators: benchmark decontamination,
sequence packing, and embedding quantization.

Extension tier (SURVEY §7 Phase 5 family) — the steps an LLM
training-data pipeline runs after dedup/quality filtering:

- **decontaminate_ngram**: flag training documents that share any
  8-gram with an evaluation set (the standard n-gram-overlap
  decontamination used for public benchmarks). The eval-side n-gram
  set is tiny relative to the corpus, so the membership probe is a
  BROADCAST semi-join against a distinct eval-gram set — at 100 TB
  the corpus side stays a pure scan pipeline (tokenize → n-grams →
  explode → broadcast probe → partial-agg count), no full shuffle.
- **sequence_pack**: concat-and-chunk packing of documents into
  fixed token-budget training sequences (budget 512 here): cumulative
  token count within each source stream, sequence id =
  floor(cum_before / budget). Window cumsum is PARTITIONED by source
  — the 100 TB form of global packing is range-partition + two-pass
  prefix-sum, which this per-stream formulation parallelizes for
  free (streams pack independently; real pipelines pack per shard).
- **embedding_quantize**: symmetric per-vector int8 quantization
  (scale = max|x| / 127) with reconstruction-error stats per label.
  All JVM higher-order functions (aggregate/transform/zip_with) —
  scan-only, no shuffle until the final tiny group-agg. Rounding is
  ``floor(x/scale + 0.5)`` so ties break identically on every engine
  (SQL ``round`` half-away/half-even semantics differ).

All three are differentially verified against DuckDB oracles; numeric
folds run in list-index order on both engines, so doubles agree
bit-for-bit before the final display rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gizmosql_spark.operators import loader


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return loader.table(spark, sf_dir, name)


#: eval-set stand-in: every 50th document (deterministic, ~2%)
_EVAL_MOD = 50
_NGRAM = 8
_PACK_BUDGET = 512


def _doc_ngrams(d: DataFrame, n: int) -> DataFrame:
    """(doc_id, gram) pairs of word n-grams, distinct per document.
    Tokenize + slice stay inside whole-stage codegen (higher-order
    functions over the token array, no Python)."""
    base = (
        d.select("doc_id", F.split(F.col("text"), " ").alias("t"))
        # guard BEFORE building the index sequence: a negative end
        # would make sequence() count downward
        .where(F.size("t") >= n)
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - n),
        lambda i: F.array_join(F.slice(F.col("t"), i + 1, n), " "),
    )
    return base.select("doc_id", F.explode(grams).alias("gram")).distinct()


def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source decontamination report: how many training docs share
    an 8-gram with the eval split, and the worst offender count."""
    d = _t(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    eval_grams = (
        _doc_ngrams(d.where(is_eval), _NGRAM)
        .select("gram").distinct()
    )
    train_grams = _doc_ngrams(d.where(~is_eval), _NGRAM)
    hits = (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )
    return (
        d.where(~is_eval)
        .join(hits, "doc_id", "left")
        .select(
            "source",
            F.coalesce(F.col("shared_ngrams"), F.lit(0)).alias("shared"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum((F.col("shared") > 0).cast("bigint")).alias("n_contaminated"),
            F.max("shared").alias("max_shared_ngrams"),
        )
        .orderBy("source")
    )


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing summary: documents stream into
    512-token training sequences per source; report each source's
    sequence count and fill statistics."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    w = Window.partitionBy("source").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    packed = (
        d.select("source", "doc_id", toks.alias("n_tokens"))
        .select(
            "source", "doc_id", "n_tokens",
            ((F.coalesce(cum, F.lit(0)) - F.col("n_tokens"))
             / _PACK_BUDGET).cast("bigint").alias("seq_id"),
        )
    )
    return (
        packed.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens_started"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sequences"),
            F.round(F.avg("n_docs"), 6).alias("avg_docs_per_seq"),
            F.max("n_docs").alias("max_docs_per_seq"),
        )
        .orderBy("source")
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization quality per label: mean squared
    reconstruction error (scaled 1e6 for display) and mean scale."""
    e = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = (
        F.aggregate(
            F.col("v"), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
        ) / F.lit(127.0)
    )
    def _err(x):
        deq = F.floor(x / F.col("scale") + F.lit(0.5)) * F.col("scale")
        return (x - deq) * (x - deq)

    sqerr = F.aggregate(
        F.transform(F.col("v"), _err), F.lit(0.0), lambda acc, x: acc + x,
    )
    return (
        e.select("label", v.alias("v"))
        .select("label", "v", scale.alias("scale"))
        .select(
            "label", "scale",
            (sqerr / F.size(F.col("v"))).alias("mse"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg(F.col("mse")) * 1e6, 6).alias("avg_mse_1e6"),
            F.round(F.avg("scale") * 1e6, 6).alias("avg_scale_1e6"),
        )
        .orderBy("label")
    )




_KMEANS_K = 4
_KMEANS_ROUNDS = 3
_DIM = 64


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus (k=4, 3 fixed
    rounds, centroids seeded from vec_id 0..k-1) — the curation-tier
    clustering pass (topic balancing / mixture weighting).

    Scale shape: per round, ONE scan assigns every vector to its
    nearest centroid (centroids are a k x d literal broadcast into the
    expression — no join), and one partial-agg shuffle averages the
    new centroids; only k*d scalars ever reach the driver (the
    standard Lloyd's-on-Spark contract, same footprint as the
    dedup_clusters convergence probe). Determinism: distances are
    sequential index-order folds (bit-identical on any engine),
    ties break toward the lowest centroid id, and each round's
    centroids are rounded to 6 decimals IN the engine so engine-
    specific group-sum association order cannot drift the next round.
    """
    e = _t(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        F.transform(F.col("embedding"),
                    lambda x: x.cast("double")).alias("e"),
    )
    # the fit persists v while it runs (4+ scans); the scoring pass
    # below is v's only other consumer, a single scan (r12)
    return (
        _lloyd_final_assign(v, sf_dir, "full")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("dist"), 6).alias("avg_sqdist"),
        )
        .orderBy("cid")
    )


def _sqdist_array(centroids: list[list[float]]) -> "F.Column":
    """array<double> of squared distances from `e` to every centroid
    (k x d literal broadcast into the expression — no join); each
    distance is a sequential index-order fold, bit-identical on any
    engine."""
    return F.array(*[
        F.aggregate(
            F.zip_with(
                F.col("e"),
                F.array(*[F.lit(c) for c in coords]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        for coords in centroids
    ])


def _lloyd_assign(frame: DataFrame,
                  centroids: list[list[float]]) -> DataFrame:
    """(vec_id, e, cid, dist): nearest-centroid assignment; ties
    break toward the lowest centroid id (array_position semantics)."""
    return frame.select(
        "vec_id", "e", _sqdist_array(centroids).alias("dists")
    ).select(
        "vec_id", "e",
        (F.array_position(
            F.col("dists"), F.array_min(F.col("dists"))
        ) - 1).cast("int").alias("cid"),
        F.array_min(F.col("dists")).alias("dist"),
    )


def _lloyd_centroids(v: DataFrame, sf_dir: str,
                     variant: str) -> list[list[float]]:
    """_lloyd_fit's centroids, kept in the session's data map per
    (sf_dir, variant) while the directory's files are unchanged
    (loader.memo). The fit is deterministic (seeded, fixed rounds,
    in-engine rounding): kmeans_embeddings / silhouette_kmeans /
    semdedup_prune share it — fit once, reuse downstream.

    KEY <-> FRAME INVARIANT: ``variant`` must determine the input frame
    up to row set — "full" = unfiltered corpus, "cap{N}" = vec_id < N —
    and any NEW caller with a NEW predicate must mint a NEW variant
    string, or it silently reuses another predicate's centroids."""
    return loader.memo(v.sparkSession, sf_dir,
                       f"training.lloyd:{sf_dir}:{variant}",
                       lambda: _lloyd_fit(v))


def _lloyd_fit(v: DataFrame) -> list[list[float]]:
    """Fitted centroids after _KMEANS_ROUNDS-1 updates from the
    vec_id 0..k-1 seed; each round's means are rounded to 6 decimals
    IN the engine so group-sum association order cannot drift across
    engines. Only k*d scalars reach the driver per round; ``v`` is
    persisted while the fit runs (4+ scans)."""
    v = v.persist()
    centroids = [
        [round(float(x), 6) for x in r["e"]]
        for r in v.where(F.col("vec_id") < _KMEANS_K)
        .orderBy("vec_id").collect()
    ]
    for _ in range(_KMEANS_ROUNDS - 1):
        assigned = _lloyd_assign(v, centroids)
        rows = (
            assigned.select("cid", F.posexplode("e").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(
                F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.col("pm.m").alias("coords"))
            .collect()
        )
        by_cid = {r["cid"]: list(r["coords"]) for r in rows}
        centroids = [by_cid.get(i, centroids[i]) for i in range(_KMEANS_K)]
    v.unpersist()
    return centroids


def _lloyd_final_assign(v: DataFrame, sf_dir: str,
                        variant: str) -> DataFrame:
    """Shared Lloyd's core (kmeans_embeddings + semdedup_prune +
    silhouette_kmeans): seed centroids from vec_id 0..k-1, run
    _KMEANS_ROUNDS-1 updates, return the final assignment frame
    (vec_id, e, cid, dist)."""
    return _lloyd_assign(v, _lloyd_centroids(v, sf_dir, variant))


def silhouette_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette score over the fitted
    k-means clustering — the standard cluster-quality gate before a
    clustering is trusted for curation decisions (SemDeDup sharding,
    topic balancing). Simplified form (Hruschka et al.): a = distance
    to own centroid, b = distance to the nearest OTHER centroid,
    s = (b - a) / max(a, b) — avoids the classic all-pairs silhouette
    (O(n²) per cluster), which is exactly the term that cannot run at
    100 TB.

    Scale shape: the fit is the shared Lloyd's core; the scoring pass
    is ONE scan with the k x d centroid literal folded into the
    expression (no joins), then a k-row partial agg."""
    e = _t(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        F.transform(F.col("embedding"),
                    lambda x: x.cast("double")).alias("e"),
    )
    # same rule as kmeans_embeddings: the shared fit persists v while
    # it runs; scoring alone is a single scan
    centroids = _lloyd_centroids(v, sf_dir, "full")
    scored = v.select(
        "vec_id",
        _sqdist_array(centroids).alias("dists"),
    ).select(
        "vec_id",
        (F.array_position(
            F.col("dists"), F.array_min(F.col("dists"))
        ) - 1).cast("int").alias("cid"),
        F.sqrt(F.array_min("dists")).alias("a"),
        F.sqrt(F.element_at(F.array_sort("dists"), 2)).alias("b"),
    )
    return (
        scored.select(
            "cid",
            F.when(F.greatest("a", "b") == 0.0, F.lit(0.0))
            .otherwise((F.col("b") - F.col("a")) / F.greatest("a", "b"))
            .alias("s"),
        )
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("s"), 6).alias("avg_silhouette"),
            F.round(F.min("s"), 6).alias("min_silhouette"),
        )
        .orderBy("cid")
    )


_SEMDEDUP_TAU = 0.35
_SEMDEDUP_CAP = 1000  # shard bound: whole corpus at the sf0.01 gate


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): semantic deduplication scoped to
    k-means clusters — cluster the embedding corpus, then within each
    cluster greedily drop every vector whose cosine similarity to a
    LOWER-id cluster-mate reaches tau. Reports per-cluster prune
    stats (the curation knob the paper tunes is exactly keep_rate).

    Scale shape: this is the sub-quadratic semantic-dedup design —
    the O(n²) cosine sweep runs per CLUSTER, never across the corpus;
    clusters are the blocking key the same way MinHash bands are for
    text. Since r11 the per-cluster sweep IS the blocked GEMM inside
    each cid partition (embedding_neardup's applyInPandas device —
    guide §4.2): one shuffle on cid, then whole clusters score in
    vectorized numpy, and only the ≥tau-margin pairs leave the worker
    (the r10 JVM pair-join materialized every O(cluster²) pair row
    through interpreted zip_with folds). The Lloyd's fit is shared
    with kmeans_embeddings (broadcast centroids, k·d scalars to
    driver).

    Float contract: the numpy accumulation walks dimensions in index
    order, reproducing the JVM zip_with fold BIT-EXACTLY; rounding
    and the tau filter stay in Spark, and the Python-side margin
    (tau - 1e-6 on raw scores) over-keeps by round(,6)'s maximum
    displacement — so the surviving pair set is identical."""
    import numpy as np
    import pandas as pd

    e = _t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SEMDEDUP_CAP)
    v = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double"))
        .alias("e"),
    )
    # warm-path rule (r12): besides the fit, v's only consumer is the
    # assignment checkpoint below — one scan, nothing to persist
    assigned = (
        _lloyd_final_assign(v, sf_dir, f"cap{_SEMDEDUP_CAP}")
        .select("vec_id", "cid", "e")
        .localCheckpoint()
    )

    tau_floor = _SEMDEDUP_TAU - 1e-6

    def _cluster_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame(
                {"cid": pd.Series(dtype="int32"),
                 "b_id": pd.Series(dtype="int64"),
                 "raw": pd.Series(dtype="float64")})
        pdf = pdf.sort_values("vec_id")
        emat = np.array(list(pdf["e"]), dtype=np.float64)
        m, d = emat.shape
        # unit-normalize with the sequential fold order (bit-exact vs
        # the JVM aggregate), then accumulate the Gram matrix one
        # dimension at a time — each S[i,j] sums u_i[k]*u_j[k] in k
        # order, the zip_with fold's order exactly
        acc = np.zeros(m)
        for k in range(d):
            acc = acc + emat[:, k] * emat[:, k]
        unit = emat / np.sqrt(acc)[:, None]
        gram = np.zeros((m, m))
        for k in range(d):
            col = unit[:, k]
            gram = gram + col[:, None] * col[None, :]
        iu, ju = np.triu_indices(m, 1)
        vals = gram[iu, ju]
        keep = vals >= tau_floor
        ids = pdf["vec_id"].to_numpy()
        return pd.DataFrame({
            "cid": np.full(int(keep.sum()), pdf["cid"].iloc[0],
                           dtype=np.int32),
            "b_id": ids[ju[keep]].astype(np.int64),
            "raw": vals[keep],
        })

    pairs = (
        assigned.groupBy("cid").applyInPandas(
            _cluster_pairs, schema="cid int, b_id long, raw double")
        .filter(F.round("raw", 6) >= _SEMDEDUP_TAU)
        # localCheckpoint, NOT persist: the frame feeds two aggregates
        # of the lazily-returned result, so an unpersist here would be
        # premature — and a persist with no unpersist leaks cached
        # partitions for the session's lifetime (the round-4 session-
        # aging audit found exactly this site). Checkpoint blocks are
        # released by the ContextCleaner when the frame is GC'd.
        .localCheckpoint()
    )
    base = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vectors"))
    n_pairs = pairs.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"))
    n_removed = (
        pairs.select("cid", "b_id").distinct()
        .groupBy("cid").agg(F.count(F.lit(1)).alias("n_removed"))
    )
    out = (
        base.join(n_pairs, "cid", "left")
        .join(n_removed, "cid", "left")
        .select(
            "cid", "n_vectors",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.round(
                (F.col("n_vectors") - F.coalesce("n_removed", F.lit(0)))
                / F.col("n_vectors"), 6).alias("keep_rate"),
        )
        .orderBy("cid")
    )
    return out


_PR_DAMPING = 0.85
_PR_ROUNDS = 3


def pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer-supplier trade graph (3 fixed
    rounds, d = 0.85) — the iterative-graph-algorithm tier beyond
    kmeans and label propagation: who are the most central suppliers
    and customers in the order flow?

    Graph: undirected bipartite edges customer↔supplier for every
    distinct (o_custkey, l_suppkey) trade pair. Scale shape per
    round: ONE shuffle join (edges ⋈ ranks on src — both node-keyed)
    and one partial-agg shuffle on dst; the edge list and the degree
    frame are built once and persisted. Determinism: each round's
    ranks are rounded to 6 decimals IN the engine (same device as
    kmeans_embeddings) so group-sum association order cannot drift
    across engines; ties in the final top-k break on node id."""
    # size every shuffle in this operator to the GRAPH, not the
    # corpus: the session's shuffle width is tuned for table scans,
    # but edges here are ~1M 30-byte rows and rank frames are
    # node-sized. Built on the bounded clone so the width never
    # touches the shared session conf (loader.bounded_session).
    spark = loader.bounded_session(spark)
    # shuffle-hash join on orderkey (measured 2x faster locally
    # than broadcasting the 150k-row orders side — the broadcast
    # build job costs more than the co-shuffle at this width; at
    # 100 TB the same plan SMJs on the sorted key)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey").hint("shuffle_hash")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # distinct the INT key pair before building node-id strings:
    # the dedup shuffle moves 16-byte rows instead of strings, and
    # the concat runs on the deduped frame only. Persisted: the
    # undirected-edge union below reads it TWICE — unpersisted,
    # the lineitem join + distinct shuffle would run twice.
    # LONG node ids (customer = 2k, supplier = 2k+1): every loop
    # shuffle/join/broadcast below carries 8-byte keys instead of
    # "c<key>"/"s<key>" strings — narrower types, faster hashing
    # (guide §2.3); the presentation strings are rebuilt only on the
    # final top-k frame. r11 optimization: 6.9 s -> 2.6 s executor
    # CPU per run at sf0.1.
    trade = loader.keyed_persist(
        spark, sf_dir, f"pagerank.trade:{sf_dir}",
        lambda: (
            o.join(l, o["o_orderkey"] == l["l_orderkey"])
            .select("o_custkey", "l_suppkey")
            .distinct()
            .select(
                (F.col("o_custkey").cast("long") * 2).alias("c"),
                (F.col("l_suppkey").cast("long") * 2 + 1).alias("s"),
            )
        ),
    )
    edges = trade.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).union(trade.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    # deg is node-sized (~16 bytes/node) — persisted so it seeds
    # the rank vector below without another pass over the edges,
    # and broadcast into the edge frame instead of shuffle-joining
    # 2|E| rows; at billions of nodes drop the hint and the same
    # join SMJs on src
    deg = loader.keyed_persist(
        spark, sf_dir, f"pagerank.deg:{sf_dir}",
        lambda: edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")),
    )
    # degree pre-joined ONCE; per round the node-sized rank frame
    # broadcasts into the edge scan, so each iteration costs
    # exactly one partial-agg shuffle (contributions combine
    # map-side to <= nodes x partitions). Node frames stay
    # broadcastable far past this scale; at billions of nodes the
    # same code minus the broadcast hint is a node-keyed shuffle
    # join.
    wedges = loader.keyed_persist(
        spark, sf_dir, f"pagerank.wedges:{sf_dir}",
        lambda: edges.join(F.broadcast(deg), "src"),
    )
    ranks = deg.select("src").withColumn("pr", F.lit(1.0))
    for _ in range(_PR_ROUNDS):
        contrib = (
            wedges.join(F.broadcast(ranks), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("inflow"))
        )
        ranks = contrib.select(
            F.col("dst").alias("src"),
            F.round(F.lit(1 - _PR_DAMPING)
                    + F.lit(_PR_DAMPING) * F.col("inflow"), 6)
            .alias("pr"),
        # No per-round lineage truncation (r12): with one consuming
        # action and each round feeding the next through a single
        # nested broadcast, the DAG evaluates every round exactly once
        # — the quadratic re-execution the old per-round
        # localCheckpoint() guarded against needs a SECOND consumer of
        # an intermediate round (e.g. a convergence check per round),
        # which this fixed-3-round unroll never has. The three eager
        # checkpoint jobs were ~0.3 s/call of pure scheduling at sf0.1
        # (A/B medians 1.16 -> 0.79 s); at unbounded depth or with
        # per-round convergence tests, restore the truncation.
        )
    node_str = F.when(
        F.col("src") % 2 == 0,
        F.concat(F.lit("c"), (F.col("src") / 2).cast("long"))
    ).otherwise(
        F.concat(F.lit("s"), ((F.col("src") - 1) / 2).cast("long")))
    return (
        ranks.select(node_str.alias("node"), "pr")
        .orderBy(F.desc("pr"), "node")
        .limit(20)
    )


#: co-occurrence graph cut: keep the strongest edges by support with
#: a full (support, a, b) ordering so the cut is deterministic
_GRAPH_TOP_EDGES = 5000
_BFS_ROUNDS = 3


def _supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier co-occurrence graph: an edge (a < b) for every pair of
    suppliers that fill the same order, kept to the top
    ``_GRAPH_TOP_EDGES`` by co-occurrence count (ties broken on the
    key pair, so the cut is total-ordered and engine-portable).

    Scale shape: NO self-join — suppliers collect per order as a
    sorted set (one l_orderkey shuffle, sets are order-sized: ≤ ~16
    elements), pairs explode from each set with a JVM higher-order
    double-transform, and supports partial-agg on the pair key. The
    cut is TakeOrderedAndProject. The emerging graph frame is
    edge-bounded (constant size at any SF) — the standard
    support-threshold sparsification of co-occurrence mining.
    (Measured 10.1 s → ~2 s at sf0.1 vs the distinct+self-join form:
    the join shuffled the 600k-row pair stream twice; the set form
    shuffles each lineitem row once.)"""
    spark = loader.bounded_session(spark)

    def _build() -> DataFrame:
        by_order = (
            _t(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.sort_array(F.collect_set("l_suppkey")).alias("ss"))
        )
        pairs = by_order.select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (v, i) ->"
                    " transform(slice(ss, i + 2, size(ss)),"
                    " w -> struct(v AS x, w AS y))))"
                )
            ).alias("p")
        ).select("p.x", "p.y")
        return (
            pairs.groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), "x", "y")
            .limit(_GRAPH_TOP_EDGES)
            .select("x", "y")
        )

    # materialize the persisted frame under graph-sized shuffles (same
    # device as pagerank/dedup_clusters): the pair stream is ~1M
    # 16-byte rows — corpus-width partitions pay task overhead 3x the
    # compute here (measured 4.4 s → 1.6 s at sf0.1). The bounded
    # clone keeps the width off the shared session conf; downstream
    # consumers (triangle/adamic-adar/k-core) inherit it because the
    # returned frame is clone-bound.
    ed = loader.keyed_persist(
        spark, sf_dir, f"graph.supedges:{sf_dir}", _build)
    ed.count()
    return ed


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the supplier co-occurrence graph: which
    suppliers sit in the most tightly-clustered trade neighborhoods
    (the clustering-coefficient numerator, the standard graph-quality
    probe next to PageRank's centrality).

    Scale shape: edges are oriented a<b so each triangle is
    enumerated exactly once via the two-hop wedge join; the bounded
    edge frame broadcasts into both joins (at web scale: degree-
    ordered orientation + shuffle join on the wedge key — same
    algebra). Per-node counts are one explode + partial agg;
    output is top-k."""
    ed = _supplier_edges(spark, sf_dir)
    e1, e2, e3 = ed.alias("e1"), ed.alias("e2"), ed.alias("e3")
    tri = (
        e1.join(F.broadcast(e2), F.col("e1.y") == F.col("e2.x"))
        .join(
            F.broadcast(e3),
            (F.col("e3.x") == F.col("e1.x"))
            & (F.col("e3.y") == F.col("e2.y")),
        )
        .select(
            F.col("e1.x").alias("a"),
            F.col("e1.y").alias("b"),
            F.col("e2.y").alias("c"),
        )
    )
    nodes = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node"))
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
        .orderBy(F.desc("n_tri"), "node")
        .limit(20)
    )


def bfs_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source-free BFS: shortest hop distance from the lowest-
    keyed supplier over the undirected customer↔supplier trade graph
    (shares pagerank's persisted edge frame), 3 rounds — the
    reachability/ego-network tier of the graph family.

    Scale shape: unrolled BFS with LATE dedupe — each level is the
    edge frame probed by a BROADCAST of the previous level's node
    frame (node frames are graph-node-sized, ≤ ~16 bytes/node, so
    they broadcast far past this scale), all levels union, and ONE
    min-dist partial agg dedupes at the end. No per-round anti-join,
    no per-round distinct, no checkpoint: for a small fixed depth the
    late-dedupe form trades bounded re-visits for round-trip-free
    map-side expansion (at web-scale depth, flip back to
    frontier-dedupe-per-round — the classic BFS trade-off)."""
    spark = loader.bounded_session(spark)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey").hint("shuffle_hash")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # LONG node ids shared with pagerank (same keyed_persist entry);
    # strings are rebuilt on the bounded min-dist frame only — the
    # per-level probes and the union shuffle stay 8-byte keys
    trade = loader.keyed_persist(
        spark, sf_dir, f"pagerank.trade:{sf_dir}",
        lambda: (
            o.join(l, o["o_orderkey"] == l["l_orderkey"])
            .select("o_custkey", "l_suppkey")
            .distinct()
            .select(
                (F.col("o_custkey").cast("long") * 2).alias("c"),
                (F.col("l_suppkey").cast("long") * 2 + 1).alias("s"),
            )
        ),
        # materialize the shared edge frame inside the graph-sized
        # shuffle scope (keyed_persist is lazy; without this the build
        # would run corpus-width at the caller's first action). First
        # build only — the old per-call trade.count() re-scanned the
        # warm cache on every invocation (r12)
        materialize=True,
    )
    source = l.agg(F.min("l_suppkey").alias("m")).select(
        (F.col("m").cast("long") * 2 + 1).alias("node"))
    # bipartite levels alternate supplier/customer sides, so each
    # hop is one directed probe of the persisted trade frame
    # trade is distinct on (c, s): one source supplier ⇒ each
    # customer appears once, no dedupe needed before broadcast
    lvl1 = (
        trade.join(
            F.broadcast(source), trade["s"] == source["node"])
        .select(F.col("c").alias("node"))
    )
    lvl2 = (
        trade.alias("t")
        .join(F.broadcast(lvl1.alias("f")),
              F.col("t.c") == F.col("f.node"))
        .select(F.col("t.s").alias("node"))
        .distinct()
    )
    lvl3 = (
        trade.alias("t")
        .join(F.broadcast(lvl2.alias("f")),
              F.col("t.s") == F.col("f.node"))
        .select(F.col("t.c").alias("node"))
    )
    levels = (
        source.withColumn("dist", F.lit(0))
        .union(lvl1.withColumn("dist", F.lit(1)))
        .union(lvl2.withColumn("dist", F.lit(2)))
        .union(lvl3.withColumn("dist", F.lit(3)))
    )
    min_d = levels.groupBy("node").agg(F.min("dist").alias("dist"))
    # presentation strings on the bounded node-sized frame: min/max
    # below order LEXICOGRAPHICALLY over "c<key>"/"s<key>", so the
    # conversion must happen before the final aggregate
    min_d = min_d.select(
        F.when(F.col("node") % 2 == 0,
               F.concat(F.lit("c"), (F.col("node") / 2).cast("long")))
        .otherwise(
            F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("long")))
        .alias("node"),
        "dist")
    return (
        min_d.groupBy("dist")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("first_node"),
            F.max("node").alias("last_node"),
        )
        .orderBy("dist")
    )


def adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link-prediction score for connected supplier
    pairs: Σ over common neighbors z of 1/ln(deg(z)) — the weighted
    sibling of node_similarity's Jaccard (rare shared neighbors count
    more), the standard who-will-trade-next baseline.

    Scale shape: the wedge join carries each common neighbor's degree
    as a broadcast probe, so the score is one partial agg over wedge
    rows; top-k presentation."""
    ed = _supplier_edges(spark, sf_dir)
    und = ed.select(F.col("x").alias("src"), F.col("y").alias("dst")).union(
        ed.select(F.col("y").alias("src"), F.col("x").alias("dst"))
    )
    deg = und.groupBy("dst").agg(F.count(F.lit(1)).alias("deg"))
    wedges = und.join(F.broadcast(deg), "dst")
    a, b = wedges.alias("a"), wedges.alias("b")
    scores = (
        a.join(
            F.broadcast(b),
            (F.col("a.dst") == F.col("b.dst"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(F.col("a.src").alias("x"), F.col("b.src").alias("y"))
        .agg(
            F.round(F.sum(1 / F.log(F.col("a.deg"))), 6).alias("aa_score"),
            F.count(F.lit(1)).alias("n_common"),
        )
    )
    return (
        ed.join(F.broadcast(scores), ["x", "y"])
        .select("x", "y", "n_common", "aa_score")
        .orderBy(F.desc("aa_score"), "x", "y")
        .limit(20)
    )


def degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier co-occurrence graph with a
    power-law check: per-degree node counts plus the ln-ln
    least-squares slope (the graph-health sibling of zipf_vocab_stats
    — scale-free graphs show slope ≈ -2..-3).

    Scale shape: one degree partial agg over the bounded edge frame,
    one histogram agg over the node-sized degree frame; the
    regression rides a window over the histogram (≤ max-degree
    rows)."""
    from pyspark.sql import Window

    ed = _supplier_edges(spark, sf_dir)
    und = ed.select(F.col("x").alias("n")).union(
        ed.select(F.col("y").alias("n")))
    deg = und.groupBy("n").agg(F.count(F.lit(1)).alias("degree"))
    hist = deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_nodes"))
    w_all = Window.partitionBy()
    return (
        hist.select(
            "degree",
            "n_nodes",
            F.round(
                F.sum("n_nodes").over(
                    Window.orderBy("degree").rowsBetween(
                        Window.unboundedPreceding, Window.currentRow))
                / F.sum("n_nodes").over(w_all),
                6,
            ).alias("cum_frac"),
            # slope straddles zero → + 0.0 (signed-zero normalizer,
            # see relational.stats_agg)
            (F.round(
                F.expr("regr_slope(ln(n_nodes), ln(degree))").over(w_all),
                6,
            ) + F.lit(0.0)).alias("loglog_slope"),
        )
        .orderBy("degree")
    )


_PCA_ROUNDS = 3
_PCA_DIM = 64

def _pca_fit(emb: DataFrame, sf_dir: str) -> tuple:
    """(mu, v) from ONE vectorized moments pass (n, Σx, Gram as
    O(d²×partitions) map-side-combined scalars) + driver-side power
    iteration. A deterministic model fit (fixed rounds, round-6 after
    every step) — the same fit-once-reuse-downstream class as the
    Lloyd's fit, kept in the session's data map while the fixture dir
    is unchanged (loader.memo)."""
    return loader.memo(emb.sparkSession, sf_dir, f"training.pca:{sf_dir}",
                       lambda: _pca_moments_fit(emb))


def _pca_moments_fit(emb: DataFrame) -> tuple:
    """_pca_fit's uncached body."""
    import numpy as np
    import pandas as pd

    d = _PCA_DIM

    def _moments(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf["embedding"]])
            vals = np.concatenate(
                ([float(len(X))], X.sum(axis=0), (X.T @ X).ravel()))
            yield pd.DataFrame(
                {"pos": np.arange(-1, d * d + d), "val": vals})

    rows = (
        emb.select("embedding")
        .mapInPandas(_moments, "pos int, val double")
        .groupBy("pos")
        .agg(F.sum("val").alias("val"))
        .collect()
    )
    flat = np.zeros(d * d + d + 1)
    for r in rows:
        flat[r["pos"] + 1] = r["val"]
    n, sx, gram = flat[0], flat[1:d + 1], flat[d + 1:].reshape(d, d)
    mu = np.round(sx / n, 6)
    # centered Gram from raw moments: Σ(x-μ)(x-μ)ᵀ, exact in float64
    gc = gram - np.outer(mu, sx) - np.outer(sx, mu) + n * np.outer(mu, mu)
    v = np.full(d, round(1.0 / d ** 0.5, 6))
    for _ in range(_PCA_ROUNDS):
        w = gc @ v
        sign = -1.0 if w[0] < 0 else 1.0
        v = np.round(sign * w / np.sqrt((w * w).sum()), 6)
    return mu, v


def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component by power iteration (3 unrolled rounds)
    over the embedding corpus, reported as per-label projection
    statistics — the feature-space drift/separability probe (and the
    ML primitive behind PCA whitening of embedding stores).

    Math: center X by the mean vector μ, iterate v ← Xᵀ(Xv)/‖·‖ from
    the deterministic all-ones seed; canonical sign = first loading
    non-negative. Determinism: v is rounded to 6 decimals IN the
    engine after every normalization (the kmeans_embeddings device),
    so cross-engine float drift cannot accumulate across rounds.

    Scale shape: ONE vectorized corpus pass computes the raw moments
    (n, Σx, ΣxxᵀGram) per Arrow batch with a numpy GEMM; the (pos,
    val) pairs combine map-side, so the shuffle is O(d² × partitions)
    — independent of row count — and the driver receives d²+d+1
    scalars. Every power-iteration round is then a d×d mat-vec on the
    driver (w = G_c·v is algebraically Σ c·(cᵀv); the in-engine
    round-6 on v absorbs the summation-order drift, same device the
    DuckDB oracle relies on). The final report is one more scan with
    the μ/v literals folded in + a labels-sized agg — two corpus
    passes total instead of 2+rounds."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    mu, v = _pca_fit(emb, sf_dir)
    # one SQL fragment per literal vector instead of 2x64 per-element
    # F.lit Py4J round trips (the similarity._lit_vec_sql device);
    # repr round-trips the exact IEEE doubles
    mu_lit = F.expr("array(" + ",".join(
        f"CAST('{float(x)!r}' AS DOUBLE)" for x in mu) + ")")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    centered = emb.select(
        "vec_id", "label",
        F.zip_with(e, mu_lit, lambda a, b: a - b).alias("c"),
    )
    v_lit = F.expr("array(" + ",".join(
        f"CAST('{float(x)!r}' AS DOUBLE)" for x in v) + ")")
    score = F.aggregate(
        F.zip_with(F.col("c"), v_lit, lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    return (
        centered.select("label", score.alias("s"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # projected-score mean straddles zero -> + 0.0
            (F.round(F.avg("s"), 4) + F.lit(0.0)).alias("mean_score"),
            F.round(F.stddev_pop("s"), 4).alias("sd_score"),
        )
        .orderBy("label")
    )


def node_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity for connected supplier pairs:
    |N(x)∩N(y)| / |N(x)∪N(y)| over the support-cut co-occurrence
    graph — the link-prediction / role-equivalence probe of the graph
    family (top-20 most-similar adjacent pairs).

    Scale shape: degrees and common-neighbor counts come from
    broadcast wedge joins on the bounded edge frame (at web scale:
    shuffle join on the shared-neighbor key — same algebra); the
    ratio is computed on the edge-sized frame, output is top-k."""
    ed = _supplier_edges(spark, sf_dir)
    und = ed.select(F.col("x").alias("src"), F.col("y").alias("dst")).union(
        ed.select(F.col("y").alias("src"), F.col("x").alias("dst"))
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    a, b = und.alias("a"), und.alias("b")
    common = (
        a.join(F.broadcast(b), F.col("a.dst") == F.col("b.dst"))
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(F.col("a.src").alias("x"), F.col("b.src").alias("y"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    dx = deg.select(F.col("src").alias("x"), F.col("deg").alias("deg_x"))
    dy = deg.select(F.col("src").alias("y"), F.col("deg").alias("deg_y"))
    return (
        ed.join(F.broadcast(common), ["x", "y"])
        .join(F.broadcast(dx), "x")
        .join(F.broadcast(dy), "y")
        .select(
            "x",
            "y",
            "common",
            F.round(
                F.col("common")
                / (F.col("deg_x") + F.col("deg_y") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "x", "y")
        .limit(20)
    )


#: Holt double-exponential smoothing constants
_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3


def holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double-exponential) forecasting of the hourly
    event-count series per event type: level/trend fold over the
    ordered series, then h-step-ahead forecasts — the capacity-
    planning primitive of a monitoring pipeline.

    Scale shape: ONE (type, hour) partial agg builds the series; the
    per-type fold runs JVM-side over a collected array (series length
    = covered hours, bounded by the time span — NOT the corpus; a
    years-long span would chunk the fold the same way sequence
    packing does). Determinism: both engines fold the identical
    recurrence in the same order; outputs round to 4."""
    from gizmosql_spark.operators.events import load_events

    e = load_events(spark, sf_dir)
    hourly = (
        e.groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    a, bcoef = _HOLT_ALPHA, _HOLT_BETA
    series = hourly.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("h", "n"))), lambda s: s["n"]
        ).alias("xs")
    )
    # fold state: (l, t, i); seeded l=x0, t=0; standard Holt update
    fold = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.struct(
            F.element_at("xs", 1).alias("l"),
            F.lit(0.0).alias("t"),
        ),
        lambda acc, x: F.struct(
            (F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["t"])).alias("l"),
            (
                F.lit(bcoef)
                * (F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["t"])
                   - acc["l"])
                + F.lit(1 - bcoef) * acc["t"]
            ).alias("t"),
        ),
    )
    return (
        series.select("event_type", F.size("xs").alias("n_hours"),
                      fold.alias("st"))
        .select(
            "event_type",
            "n_hours",
            F.round(F.col("st.l"), 4).alias("level"),
            F.round(F.col("st.t"), 4).alias("trend"),
            F.round(F.col("st.l") + F.col("st.t"), 4).alias("forecast_1h"),
            F.round(F.col("st.l") + 3 * F.col("st.t"), 4).alias("forecast_3h"),
        )
        .orderBy("event_type")
    )


_RC_SIZE = 64    # chunk width (tokens)
_RC_STRIDE = 48  # stride between chunk starts (tokens) → 16-token overlap


def rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: overlapping fixed-width token
    windows (64 tokens, stride 48 → 16-token overlap), the standard
    retrieval-corpus preparation step before embedding.

    Chunk starts are ``0, stride, 2·stride, …`` while the start lies
    inside the document, so trailing chunks may be short (a real
    pipeline might drop sub-minimum tails; kept here for declarative
    determinism). Output per document: token count, chunk count, total
    chunk-token mass (> n_tokens because of overlap), distinct chunk
    hashes within the doc, and the first chunk's content hash.

    100 TB shape: pure per-row JVM array arithmetic (split → transform/
    sequence → slice → md5) followed by one partial-aggregable groupBy
    on doc_id — a single scan, wordcount-shaped shuffle, no joins."""
    d = _t(spark, sf_dir, "documents")
    c, s = _RC_SIZE, _RC_STRIDE
    toks = d.select(
        "doc_id",
        F.split(
            F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " "
        ).alias("t"),
    )
    per_chunk = toks.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(floor((size(t) - 1) / {s}) as int)),"
                f" i -> struct(i AS idx, slice(t, i * {s} + 1, {c}) AS ck))"
            )
        ).alias("ch"),
    ).select(
        "doc_id",
        "n_tokens",
        F.col("ch.idx").alias("idx"),
        F.size("ch.ck").cast("bigint").alias("ck_len"),
        F.md5(F.concat_ws(" ", F.col("ch.ck"))).alias("ck_hash"),
    )
    return (
        per_chunk.groupBy("doc_id", "n_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("ck_len").alias("sum_chunk_tokens"),
            F.count_distinct("ck_hash").alias("n_uniq_chunks"),
            F.min(F.when(F.col("idx") == 0, F.col("ck_hash"))).alias(
                "first_chunk_hash"
            ),
        )
        .orderBy("doc_id")
    )


_LB_BIN = 64      # token-length bucket width
_LB_BATCH = 16    # sequences per batch


def length_batch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching plan: group documents into token-
    length bins (width 64) and report, per bin, the batch count at
    batch-size 16 and the padding waste if every sequence pads to the
    bin ceiling — the packing-efficiency planner that decides whether
    a training run pads, packs, or sorts-by-length.

    Scale shape: per-row token count + integer bin key, then ONE
    partial-aggregable groupBy on the bin — a single scan; the plan
    frame is bins-sized."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("bigint")
    bin_top = (F.floor((n_tok - 1) / _LB_BIN) + 1) * _LB_BIN
    return (
        d.select(n_tok.alias("n_tok"), bin_top.alias("bin_top"))
        .groupBy("bin_top")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.ceil(F.count(F.lit(1)) / float(_LB_BATCH)).alias("n_batches"),
            F.sum(F.col("bin_top") - F.col("n_tok")).alias("pad_tokens"),
            F.round(
                F.sum("n_tok")
                / (F.col("bin_top") * F.count(F.lit(1))).cast("double"),
                6,
            ).alias("fill_ratio"),
        )
        .orderBy("bin_top")
    )


_KCORE_K = 3
_KCORE_ROUNDS = 3


def kcore_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=3, 3 unrolled rounds) over the supplier
    co-occurrence graph: repeatedly drop nodes with degree < k and
    the edges they carried — the standard dense-subgraph extraction
    that separates the trading core from the periphery (and, in
    pipelines, spam rings from long-tail users). Reports nodes/edges
    surviving each round.

    Scale shape: each round is one degree partial agg over the
    bounded edge frame plus two semi-joins against the (≤nodes-sized)
    keep list; per-round stats are 1-row aggregates unioned lazily.
    The whole peel materializes under graph-sized shuffle widths
    (loader.bounded_session — corpus-width task scheduling costs 3x
    the compute on these bounded frames) and the 4-row stats frame is
    registry-persisted like the edge frame it derives from."""
    spark = loader.bounded_session(spark)

    def _build() -> DataFrame:
        ed = _supplier_edges(spark, sf_dir)

        def stats(e: DataFrame, rnd: int) -> DataFrame:
            nodes = e.select(F.explode(F.array("x", "y")).alias("n"))
            return (
                nodes.agg(F.countDistinct("n").alias("n_nodes"))
                .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
                .select(
                    F.lit(rnd).alias("round"), "n_nodes", "n_edges")
            )
        out = [stats(ed, 0)]
        cur = ed
        for rnd in range(1, _KCORE_ROUNDS + 1):
            und = cur.select(F.col("x").alias("n")).union(
                cur.select(F.col("y").alias("n")))
            keep = (
                und.groupBy("n")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= _KCORE_K)
                .select("n")
            )
            cur = cur.join(
                F.broadcast(keep.withColumnRenamed("n", "x")), "x", "semi"
            ).join(
                F.broadcast(keep.withColumnRenamed("n", "y")), "y", "semi")
            out.append(stats(cur, rnd))
        res = out[0]
        for frame in out[1:]:
            res = res.unionAll(frame)
        return res

    out = loader.keyed_persist(
        spark, sf_dir, f"graph.kcore:{sf_dir}", _build)
    out.count()
    return out.orderBy("round")


_CONTRASTIVE_ANCHORS = 20


def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding training: for each
    anchor document, a deterministic RANDOM negative (hash-race over
    other-source docs — the easy negative) and a HARD negative (same
    source, closest length, the near-miss that actually shapes the
    margin). The pair-building pass every contrastive/triplet-loss
    dataset needs.

    Scale shape: anchors are a bounded broadcast frame; both
    negatives come from ONE corpus scan with two conditional
    string-min partial aggs per anchor (no per-anchor sorts, no
    self-join). Keys are md5/zero-padded composites, so the argmin is
    a portable lexicographic min."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars")
    anchors = (
        d.filter(F.col("doc_id") % 25 == 0)
        .orderBy("doc_id")
        .limit(_CONTRASTIVE_ANCHORS)
        .select(
            F.col("doc_id").alias("anchor_id"),
            F.col("source").alias("a_source"),
            F.col("n_chars").alias("a_len"),
        )
    )
    joined = d.crossJoin(F.broadcast(anchors)).filter(
        F.col("doc_id") != F.col("anchor_id"))
    rand_key = F.concat(
        F.md5(F.concat_ws(":", F.col("anchor_id"), F.col("doc_id"))),
        F.lit(":"),
        F.lpad(F.col("doc_id").cast("string"), 10, "0"),
    )
    hard_key = F.concat(
        F.lpad(F.abs(F.col("n_chars") - F.col("a_len")).cast("string"),
               8, "0"),
        F.lit(":"),
        F.lpad(F.col("doc_id").cast("string"), 10, "0"),
    )
    picked = joined.groupBy("anchor_id", "a_source").agg(
        F.min(F.when(F.col("source") != F.col("a_source"), rand_key))
        .alias("rand_k"),
        F.min(F.when(F.col("source") == F.col("a_source"), hard_key))
        .alias("hard_k"),
    )
    return (
        picked.select(
            "anchor_id",
            "a_source",
            F.split(F.col("rand_k"), ":").getItem(1).cast("bigint")
            .alias("rand_neg_id"),
            F.split(F.col("hard_k"), ":").getItem(1).cast("bigint")
            .alias("hard_neg_id"),
            F.split(F.col("hard_k"), ":").getItem(0).cast("int")
            .alias("hard_len_gap"),
        )
        .orderBy("anchor_id")
    )


QUERIES = {
    "contrastive_pairs": contrastive_pairs,
    "kcore_graph": kcore_graph,
    "decontaminate_ngram": decontaminate_ngram,
    "length_batch_plan": length_batch_plan,
    "rag_chunks": rag_chunks,
    "kmeans_embeddings": kmeans_embeddings,
    "semdedup_prune": semdedup_prune,
    "sequence_pack": sequence_pack,
    "embedding_quantize": embedding_quantize,
    "pagerank_suppliers": pagerank_suppliers,
    "triangle_count": triangle_count,
    "bfs_suppliers": bfs_suppliers,
    "node_similarity": node_similarity,
    "holt_forecast": holt_forecast,
    "pca_power_iteration": pca_power_iteration,
    "degree_distribution": degree_distribution,
    "adamic_adar": adamic_adar,
    "silhouette_kmeans": silhouette_kmeans,
}

# Shared 3-round Lloyd's CTE chain (kmeans_embeddings + semdedup_prune
# oracles): v -> c0 -> a1 -> c1 -> a2 -> c2 -> a3. `{where}` narrows the
# corpus (semdedup runs on a bounded shard).
_LLOYD_CTE = """v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings{where}
        ),
        c0 AS (
            SELECT CAST(vec_id AS INT) AS cid,
                   list_transform(e, x -> round(x, 6)) AS c
            FROM v WHERE vec_id < 4
        ),
        a1 AS (
            SELECT vec_id, e, cid, dist FROM (
                SELECT v.vec_id, v.e, c.cid,
                       list_aggregate(list_transform(range(1, 65),
                           i -> (e[i] - c.c[i]) * (e[i] - c.c[i])),
                           'sum') AS dist,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY list_aggregate(
                               list_transform(range(1, 65),
                               i -> (e[i] - c.c[i]) * (e[i] - c.c[i])),
                               'sum'), c.cid) AS rn
                FROM v CROSS JOIN c0 c) WHERE rn = 1
        ),
        c1 AS (
            SELECT cid, list(m ORDER BY pos) AS c FROM (
                SELECT cid, i AS pos, round(avg(e[i]), 6) AS m
                FROM a1, unnest(range(1, 65)) u(i)
                GROUP BY cid, i)
            GROUP BY cid
        ),
        a2 AS (
            SELECT vec_id, e, cid, dist FROM (
                SELECT v.vec_id, v.e, c.cid,
                       list_aggregate(list_transform(range(1, 65),
                           i -> (e[i] - c.c[i]) * (e[i] - c.c[i])),
                           'sum') AS dist,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY list_aggregate(
                               list_transform(range(1, 65),
                               i -> (e[i] - c.c[i]) * (e[i] - c.c[i])),
                               'sum'), c.cid) AS rn
                FROM v CROSS JOIN c1 c) WHERE rn = 1
        ),
        c2 AS (
            SELECT cid, list(m ORDER BY pos) AS c FROM (
                SELECT cid, i AS pos, round(avg(e[i]), 6) AS m
                FROM a2, unnest(range(1, 65)) u(i)
                GROUP BY cid, i)
            GROUP BY cid
        ),
        a3 AS (
            SELECT vec_id, e, cid, dist FROM (
                SELECT v.vec_id, v.e, c.cid,
                       list_aggregate(list_transform(range(1, 65),
                           i -> (e[i] - c.c[i]) * (e[i] - c.c[i])),
                           'sum') AS dist,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY list_aggregate(
                               list_transform(range(1, 65),
                               i -> (e[i] - c.c[i]) * (e[i] - c.c[i])),
                               'sum'), c.cid) AS rn
                FROM v CROSS JOIN c2 c) WHERE rn = 1
        )
"""


# Unrolled power-iteration CTE chain (pca_power_iteration oracle):
# same per-round in-engine rounding device as the Lloyd's chain.
def _pca_round(r: int) -> str:
    prev = f"p{r - 1}"
    return f"""
        d{r} AS (
            SELECT c.label, c.c,
                   list_aggregate(list_transform(range(1, 65),
                       i -> c.c[i] * p.v[i]), 'sum') AS dot
            FROM c, {prev} p
        ),
        w{r} AS (
            SELECT list(w ORDER BY pos) AS w FROM (
                SELECT i AS pos, sum(d.c[i] * d.dot) AS w
                FROM d{r} d, unnest(range(1, 65)) u(i)
                GROUP BY i)
        ),
        p{r} AS (
            SELECT list_transform(range(1, 65),
                i -> round((CASE WHEN w.w[1] < 0 THEN -1 ELSE 1 END)
                           * w.w[i]
                           / sqrt(list_aggregate(
                               list_transform(range(1, 65),
                                   j -> w.w[j] * w.w[j]), 'sum')), 6))
                AS v
            FROM w{r} w
        )"""


_PCA_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    mu AS (
        SELECT list(m ORDER BY pos) AS m FROM (
            SELECT i AS pos, round(avg(e[i]), 6) AS m
            FROM v, unnest(range(1, 65)) u(i)
            GROUP BY i)
    ),
    c AS (
        SELECT vec_id, label,
               list_transform(range(1, 65), i -> e[i] - mu.m[i]) AS c
        FROM v, mu
    ),
    p0 AS (
        SELECT list_transform(range(1, 65),
            i -> CAST(0.125 AS DOUBLE)) AS v
    ),{",".join(_pca_round(r) for r in (1, 2, 3))},
    scores AS (
        SELECT c.label,
               list_aggregate(list_transform(range(1, 65),
                   i -> c.c[i] * p.v[i]), 'sum') AS s
        FROM c, p3 p
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           round(avg(s), 4) + 0.0 AS mean_score,
           round(stddev_pop(s), 4) AS sd_score
    FROM scores GROUP BY label
    ORDER BY label
"""


ORACLE = {
    "contrastive_pairs": f"""
        WITH anchors AS (
            SELECT doc_id AS anchor_id, source AS a_source,
                   n_chars AS a_len
            FROM documents WHERE doc_id % 25 = 0
            ORDER BY doc_id LIMIT {_CONTRASTIVE_ANCHORS}
        ), joined AS (
            SELECT a.anchor_id, a.a_source, a.a_len,
                   d.doc_id, d.source, d.n_chars
            FROM documents d CROSS JOIN anchors a
            WHERE d.doc_id <> a.anchor_id
        ), picked AS (
            SELECT anchor_id, a_source,
                   min(CASE WHEN source <> a_source THEN
                       md5(CAST(anchor_id AS VARCHAR) || ':'
                           || CAST(doc_id AS VARCHAR))
                       || ':' || lpad(CAST(doc_id AS VARCHAR), 10, '0')
                       END) AS rand_k,
                   min(CASE WHEN source = a_source THEN
                       lpad(CAST(abs(n_chars - a_len) AS VARCHAR), 8, '0')
                       || ':' || lpad(CAST(doc_id AS VARCHAR), 10, '0')
                       END) AS hard_k
            FROM joined GROUP BY 1, 2
        )
        SELECT anchor_id, a_source,
               CAST(string_split(rand_k, ':')[2] AS BIGINT)
                   AS rand_neg_id,
               CAST(string_split(hard_k, ':')[2] AS BIGINT)
                   AS hard_neg_id,
               CAST(string_split(hard_k, ':')[1] AS INTEGER)
                   AS hard_len_gap
        FROM picked ORDER BY anchor_id
    """,
    # AS MATERIALIZED (DuckDB-only; this SQL never runs on Spark): the
    # ed0->k1->ed1->k2->ed2->k3->ed3 chain references each level 2-3x, so
    # CTE inlining re-expands the self-join ~3^depth times and the oracle
    # times out at sf0.1 without it.
    "kcore_graph": """
        WITH os_ AS MATERIALIZED (
            SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        ), pairs AS MATERIALIZED (
            SELECT a.l_suppkey AS x, b.l_suppkey AS y, count(*) AS cnt
            FROM os_ a JOIN os_ b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_suppkey < b.l_suppkey
            GROUP BY 1, 2
        ), ed0 AS MATERIALIZED (
            SELECT x, y FROM pairs ORDER BY cnt DESC, x, y LIMIT 5000
        ), k1 AS MATERIALIZED (
            SELECT n FROM (
                SELECT n, count(*) AS deg FROM (
                    SELECT x AS n FROM ed0 UNION ALL SELECT y FROM ed0)
                GROUP BY n) WHERE deg >= 3
        ), ed1 AS MATERIALIZED (
            SELECT x, y FROM ed0
            WHERE x IN (SELECT n FROM k1) AND y IN (SELECT n FROM k1)
        ), k2 AS MATERIALIZED (
            SELECT n FROM (
                SELECT n, count(*) AS deg FROM (
                    SELECT x AS n FROM ed1 UNION ALL SELECT y FROM ed1)
                GROUP BY n) WHERE deg >= 3
        ), ed2 AS MATERIALIZED (
            SELECT x, y FROM ed1
            WHERE x IN (SELECT n FROM k2) AND y IN (SELECT n FROM k2)
        ), k3 AS MATERIALIZED (
            SELECT n FROM (
                SELECT n, count(*) AS deg FROM (
                    SELECT x AS n FROM ed2 UNION ALL SELECT y FROM ed2)
                GROUP BY n) WHERE deg >= 3
        ), ed3 AS MATERIALIZED (
            SELECT x, y FROM ed2
            WHERE x IN (SELECT n FROM k3) AND y IN (SELECT n FROM k3)
        )
        SELECT 0 AS round,
               (SELECT count(DISTINCT n) FROM (
                   SELECT x AS n FROM ed0 UNION ALL SELECT y FROM ed0))
                   AS n_nodes,
               (SELECT count(*) FROM ed0) AS n_edges
        UNION ALL
        SELECT 1,
               (SELECT count(DISTINCT n) FROM (
                   SELECT x AS n FROM ed1 UNION ALL SELECT y FROM ed1)),
               (SELECT count(*) FROM ed1)
        UNION ALL
        SELECT 2,
               (SELECT count(DISTINCT n) FROM (
                   SELECT x AS n FROM ed2 UNION ALL SELECT y FROM ed2)),
               (SELECT count(*) FROM ed2)
        UNION ALL
        SELECT 3,
               (SELECT count(DISTINCT n) FROM (
                   SELECT x AS n FROM ed3 UNION ALL SELECT y FROM ed3)),
               (SELECT count(*) FROM ed3)
        ORDER BY round
    """,
    "rag_chunks": f"""
        WITH toks AS (
            SELECT doc_id,
                   string_split(regexp_replace(trim(lower(text)),
                                               '\\s+', ' ', 'g'), ' ') AS t
            FROM documents
        ),
        chunks AS (
            SELECT doc_id,
                   CAST(len(t) AS BIGINT) AS n_tokens,
                   i AS idx,
                   t[i * {_RC_STRIDE} + 1 : i * {_RC_STRIDE} + {_RC_SIZE}] AS ck
            FROM toks,
                 unnest(range(0,
                     CAST(floor((len(t) - 1) / {_RC_STRIDE}) AS BIGINT) + 1))
                 u(i)
        )
        SELECT doc_id,
               n_tokens,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(len(ck)) AS BIGINT) AS sum_chunk_tokens,
               CAST(count(DISTINCT md5(array_to_string(ck, ' ')))
                    AS BIGINT) AS n_uniq_chunks,
               min(CASE WHEN idx = 0
                        THEN md5(array_to_string(ck, ' ')) END)
                   AS first_chunk_hash
        FROM chunks
        GROUP BY doc_id, n_tokens
        ORDER BY doc_id
    """,
    "length_batch_plan": """
        WITH toks AS (
            SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM documents
        ), binned AS (
            SELECT n_tok,
                   (CAST(floor((n_tok - 1) / 64) AS BIGINT) + 1) * 64
                       AS bin_top
            FROM toks
        )
        SELECT bin_top,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(ceil(count(*) / 16.0) AS BIGINT) AS n_batches,
               CAST(sum(bin_top - n_tok) AS BIGINT) AS pad_tokens,
               round(sum(n_tok) / CAST(bin_top * count(*) AS DOUBLE), 6)
                   AS fill_ratio
        FROM binned GROUP BY bin_top
        ORDER BY bin_top
    """,
    "pca_power_iteration": _PCA_ORACLE,
    "adamic_adar": """
        WITH os_ AS (
            SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        ), pairs AS (
            SELECT a.l_suppkey AS x, b.l_suppkey AS y,
                   count(*) AS cnt
            FROM os_ a JOIN os_ b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_suppkey < b.l_suppkey
            GROUP BY 1, 2
        ), ed AS (
            SELECT x, y FROM pairs
            ORDER BY cnt DESC, x, y LIMIT 5000
        ), und AS (
            SELECT x AS src, y AS dst FROM ed
            UNION ALL
            SELECT y AS src, x AS dst FROM ed
        ), deg AS (
            SELECT dst, count(*) AS deg FROM und GROUP BY dst
        ), wedges AS (
            SELECT u.src, u.dst, d.deg
            FROM und u JOIN deg d USING (dst)
        ), scores AS (
            SELECT a.src AS x, b.src AS y,
                   round(sum(1.0 / ln(a.deg)), 6) AS aa_score,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM wedges a JOIN wedges b
              ON a.dst = b.dst AND a.src < b.src
            GROUP BY 1, 2
        )
        SELECT e.x, e.y, s.n_common, s.aa_score
        FROM ed e JOIN scores s ON e.x = s.x AND e.y = s.y
        ORDER BY s.aa_score DESC, e.x, e.y
        LIMIT 20
    """,
    "degree_distribution": """
        WITH os_ AS (
            SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        ), pairs AS (
            SELECT a.l_suppkey AS x, b.l_suppkey AS y,
                   count(*) AS cnt
            FROM os_ a JOIN os_ b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_suppkey < b.l_suppkey
            GROUP BY 1, 2
        ), ed AS (
            SELECT x, y FROM pairs
            ORDER BY cnt DESC, x, y LIMIT 5000
        ), deg AS (
            SELECT n, count(*) AS degree FROM (
                SELECT x AS n FROM ed
                UNION ALL SELECT y AS n FROM ed)
            GROUP BY n
        ), hist AS (
            SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
            FROM deg GROUP BY degree
        )
        SELECT degree, n_nodes,
               round(sum(n_nodes) OVER (ORDER BY degree
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)
                     / CAST(sum(n_nodes) OVER () AS DOUBLE), 6)
                   AS cum_frac,
               round(regr_slope(ln(n_nodes), ln(degree)) OVER (), 6) + 0.0
                   AS loglog_slope
        FROM hist
        ORDER BY degree
    """,
    "node_similarity": """
        WITH os_ AS (
            SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        ), pairs AS (
            SELECT a.l_suppkey AS x, b.l_suppkey AS y,
                   count(*) AS cnt
            FROM os_ a JOIN os_ b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_suppkey < b.l_suppkey
            GROUP BY 1, 2
        ), ed AS (
            SELECT x, y FROM pairs
            ORDER BY cnt DESC, x, y LIMIT 5000
        ), und AS (
            SELECT x AS src, y AS dst FROM ed
            UNION ALL
            SELECT y AS src, x AS dst FROM ed
        ), deg AS (
            SELECT src, count(*) AS deg FROM und GROUP BY src
        ), common AS (
            SELECT a.src AS x, b.src AS y, count(*) AS common
            FROM und a JOIN und b
              ON a.dst = b.dst AND a.src < b.src
            GROUP BY 1, 2
        )
        SELECT e.x, e.y, CAST(c.common AS BIGINT) AS common,
               round(CAST(c.common AS DOUBLE)
                     / (dx.deg + dy.deg - c.common), 6) AS jaccard
        FROM ed e
        JOIN common c ON e.x = c.x AND e.y = c.y
        JOIN deg dx ON dx.src = e.x
        JOIN deg dy ON dy.src = e.y
        ORDER BY jaccard DESC, e.x, e.y
        LIMIT 20
    """,
    "holt_forecast": """
        WITH hourly AS (
            SELECT event_type,
                   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                   CAST(count(*) AS DOUBLE) AS n
            FROM events GROUP BY 1, 2
        ), series AS (
            -- accumulator is a [level, trend] DOUBLE list: DuckDB
            -- 1.0's list_reduce mis-types struct accumulators (field
            -- exprs see a stale/partially-folded acc); the list form
            -- folds the identical recurrence correctly
            SELECT event_type,
                   CAST(count(*) AS INTEGER) AS n_hours,
                   list_reduce(
                       list_transform(list(n ORDER BY h),
                           x -> [CAST(x AS DOUBLE), CAST(0 AS DOUBLE)]),
                       (acc, e) -> [
                           0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
                           0.3 * (0.5 * e[1] + 0.5 * (acc[1] + acc[2])
                                  - acc[1]) + 0.7 * acc[2]
                       ]) AS st
            FROM hourly GROUP BY event_type
        )
        SELECT event_type, n_hours,
               round(st[1], 4) AS level,
               round(st[2], 4) AS trend,
               round(st[1] + st[2], 4) AS forecast_1h,
               round(st[1] + 3 * st[2], 4) AS forecast_3h
        FROM series
        ORDER BY event_type
    """,
    "triangle_count": """
        WITH os_ AS (
            SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        ), pairs AS (
            SELECT a.l_suppkey AS x, b.l_suppkey AS y,
                   count(*) AS cnt
            FROM os_ a JOIN os_ b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_suppkey < b.l_suppkey
            GROUP BY 1, 2
        ), ed AS (
            SELECT x, y FROM pairs
            ORDER BY cnt DESC, x, y LIMIT 5000
        ), tri AS (
            SELECT e1.x AS a, e1.y AS b, e2.y AS c
            FROM ed e1
            JOIN ed e2 ON e1.y = e2.x
            JOIN ed e3 ON e3.x = e1.x AND e3.y = e2.y
        ), nodes AS (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        FROM nodes GROUP BY node
        ORDER BY n_tri DESC, node LIMIT 20
    """,
    "bfs_suppliers": """
        WITH RECURSIVE trade AS (
            SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), edges AS (
            SELECT c AS src, s AS dst FROM trade
            UNION ALL
            SELECT s AS src, c AS dst FROM trade
        ), bfs(node, dist) AS (
            SELECT 's' || min(l_suppkey), 0 FROM lineitem
            UNION
            SELECT e.dst, b.dist + 1
            FROM bfs b JOIN edges e ON e.src = b.node
            WHERE b.dist < 3
        ), min_d AS (
            SELECT node, CAST(min(dist) AS INTEGER) AS dist
            FROM bfs GROUP BY node
        )
        SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
               min(node) AS first_node, max(node) AS last_node
        FROM min_d GROUP BY dist ORDER BY dist
    """,
    "pagerank_suppliers": """
        WITH trade AS (
            SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        edges AS (
            SELECT c AS src, s AS dst FROM trade
            UNION ALL
            SELECT s AS src, c AS dst FROM trade
        ),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        r0 AS (SELECT src AS node, 1.0 AS pr FROM deg),
        r1 AS (
            SELECT e.dst AS node,
                   round(0.15 + 0.85 * sum(r.pr / d.deg), 6) AS pr
            FROM edges e JOIN r0 r ON e.src = r.node
                         JOIN deg d ON e.src = d.src
            GROUP BY e.dst
        ),
        r2 AS (
            SELECT e.dst AS node,
                   round(0.15 + 0.85 * sum(r.pr / d.deg), 6) AS pr
            FROM edges e JOIN r1 r ON e.src = r.node
                         JOIN deg d ON e.src = d.src
            GROUP BY e.dst
        ),
        r3 AS (
            SELECT e.dst AS node,
                   round(0.15 + 0.85 * sum(r.pr / d.deg), 6) AS pr
            FROM edges e JOIN r2 r ON e.src = r.node
                         JOIN deg d ON e.src = d.src
            GROUP BY e.dst
        )
        SELECT node, pr FROM r3
        ORDER BY pr DESC, node
        LIMIT 20
    """,
    "kmeans_embeddings": f"""
        WITH {_LLOYD_CTE.format(where="")}
        SELECT CAST(cid AS INT) AS cid,
               CAST(count(*) AS BIGINT) AS n_vectors,
               round(avg(dist), 6) AS avg_sqdist
        FROM a3 GROUP BY cid ORDER BY cid
    """,
    "silhouette_kmeans": f"""
        WITH {_LLOYD_CTE.format(where="")},
        alld AS (
            SELECT v.vec_id, c.cid,
                   list_aggregate(list_transform(range(1, 65),
                       i -> (e[i] - c.c[i]) * (e[i] - c.c[i])),
                       'sum') AS d2
            FROM v CROSS JOIN c2 c
        ),
        ranked AS (
            SELECT vec_id, cid, d2,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM alld
        ),
        stats AS (
            SELECT vec_id,
                   max(CASE WHEN rn = 1 THEN cid END) AS cid,
                   sqrt(max(CASE WHEN rn = 1 THEN d2 END)) AS a,
                   sqrt(max(CASE WHEN rn = 2 THEN d2 END)) AS b
            FROM ranked GROUP BY vec_id
        ),
        scored AS (
            SELECT cid,
                   CASE WHEN greatest(a, b) = 0 THEN 0.0
                        ELSE (b - a) / greatest(a, b) END AS s
            FROM stats
        )
        SELECT CAST(cid AS INT) AS cid,
               CAST(count(*) AS BIGINT) AS n_vectors,
               round(avg(s), 6) AS avg_silhouette,
               round(min(s), 6) AS min_silhouette
        FROM scored GROUP BY cid ORDER BY cid
    """,
    "semdedup_prune": f"""
        WITH {_LLOYD_CTE.format(
            where=f" WHERE vec_id < {_SEMDEDUP_CAP}")},
        -- unit-normalize ONCE per vector (mirrors the Spark side's
        -- pre-join normalization: both engines round the same
        -- dot(a/|a|, b/|b|) expression, so a cosine a ulp away from
        -- the tau boundary can't flip inclusion in one engine only)
        un AS (
            SELECT cid, vec_id,
                   list_transform(e, x -> x /
                       sqrt(list_sum(list_transform(e, y -> y * y))))
                       AS u
            FROM a3
        ),
        pairs AS (
            SELECT a.cid, b.vec_id AS b_id,
                   round(
                       list_sum(list_transform(range(1, {_DIM} + 1),
                           i -> a.u[i] * b.u[i])), 6) AS cos
            FROM un a JOIN un b
              ON a.cid = b.cid AND a.vec_id < b.vec_id
        ),
        dup AS (SELECT * FROM pairs WHERE cos >= {_SEMDEDUP_TAU}),
        base AS (SELECT cid, count(*) AS n FROM a3 GROUP BY cid),
        np AS (SELECT cid, count(*) AS c FROM dup GROUP BY cid),
        nr AS (SELECT cid, count(*) AS c FROM
                   (SELECT DISTINCT cid, b_id FROM dup) GROUP BY cid)
        SELECT CAST(base.cid AS INT) AS cid,
               CAST(base.n AS BIGINT) AS n_vectors,
               CAST(coalesce(np.c, 0) AS BIGINT) AS n_dup_pairs,
               CAST(coalesce(nr.c, 0) AS BIGINT) AS n_removed,
               round((base.n - coalesce(nr.c, 0))
                     / CAST(base.n AS DOUBLE), 6) AS keep_rate
        FROM base LEFT JOIN np USING (cid) LEFT JOIN nr USING (cid)
        ORDER BY cid
    """,
    "decontaminate_ngram": f"""
        WITH toks AS (
            SELECT doc_id, source, doc_id % {_EVAL_MOD} = 0 AS is_eval,
                   string_split(text, ' ') AS t
            FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id, source, is_eval,
                   array_to_string(t[i:i+{_NGRAM - 1}], ' ') AS gram
            FROM toks, unnest(range(1, len(t) - {_NGRAM - 2})) AS u(i)
            WHERE len(t) >= {_NGRAM}
        ), eval_grams AS (
            SELECT DISTINCT gram FROM grams WHERE is_eval
        ), hits AS (
            SELECT g.doc_id, count(*) AS shared_ngrams
            FROM grams g JOIN eval_grams e USING (gram)
            WHERE NOT g.is_eval
            GROUP BY g.doc_id
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_train_docs,
               CAST(sum(CASE WHEN coalesce(h.shared_ngrams, 0) > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
               CAST(coalesce(max(h.shared_ngrams), 0) AS BIGINT)
                   AS max_shared_ngrams
        FROM documents d LEFT JOIN hits h USING (doc_id)
        WHERE d.doc_id % {_EVAL_MOD} <> 0
        GROUP BY d.source ORDER BY d.source
    """,
    "sequence_pack": f"""
        WITH sized AS (
            SELECT source, doc_id,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ), packed AS (
            SELECT source, doc_id, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens)
                        / {_PACK_BUDGET}.0) AS BIGINT) AS seq_id
            FROM sized
        ), seqs AS (
            SELECT source, seq_id, count(*) AS n_docs
            FROM packed GROUP BY source, seq_id
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_sequences,
               round(avg(n_docs), 6) AS avg_docs_per_seq,
               CAST(max(n_docs) AS BIGINT) AS max_docs_per_seq
        FROM seqs GROUP BY source ORDER BY source
    """,
    "embedding_quantize": """
        WITH q AS (
            SELECT label,
                   list_aggregate(
                       list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                       'max') / 127.0 AS scale,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), err AS (
            SELECT label, scale,
                   list_aggregate(
                       list_transform(range(1, len(v) + 1),
                           i -> (v[i] - floor(v[i] / scale + 0.5) * scale)
                                * (v[i] - floor(v[i] / scale + 0.5) * scale)),
                       'sum') / len(v) AS mse
            FROM q
        )
        SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
               round(avg(mse) * 1e6, 6) AS avg_mse_1e6,
               round(avg(scale) * 1e6, 6) AS avg_scale_1e6
        FROM err GROUP BY label ORDER BY label
    """,
}
