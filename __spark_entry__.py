"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship audio+transcript dedup pipeline on a
clips table derived deterministically from sf0.001 documents.
``queries()`` exposes the engine's operator surface (SURVEY.md §2) over
/root/testdata tables; ``oracle_sql()`` gives DuckDB-equivalent SQL for
every SQL-expressible operator (the rest get rows-only checks).

Column names are aliased identically on both sides; every float output is
rounded (4 dp) or computed in DECIMAL so value hashes match bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SF_DEFAULT = "/root/testdata/sf0.01"

STOPWORDS = ["the", "a", "and", "of", "to"]
NGRAM_N = 3
NGRAM_THRESHOLD = 0.3


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full audio dedup pipeline over a clips table synthesized
    deterministically from sf0.001 documents (doc text -> transcript,
    seeded sinusoid WAV -> bytes). Returns (clip_id, cluster_id,
    cluster_size)."""
    from entity_deduplication_spark.plans.pipeline import DedupPipeline

    def _synth(batches):
        # executor-side clip synthesis: unique per-doc audio (3 seeded
        # sinusoids + noise, rng keyed on doc_id so the result is identical
        # under any partitioning) — audio-LSH merges require real
        # similarity; duplicate structure comes from the documents table's
        # planted near-dup texts. mapInPandas keeps the WAV bytes off the
        # driver entirely (they flow straight into the signature stage).
        import numpy as np
        import pandas as pd

        from entity_deduplication_spark.audio.wav import encode_wav

        sr = 8000
        t = np.arange(sr // 4) / sr
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                rng = np.random.default_rng(int(doc_id) + 1)
                pcm = sum(
                    float(rng.uniform(0.1, 0.3))
                    * np.sin(2 * np.pi * float(rng.uniform(100, 3500)) * t
                             + float(rng.uniform(0, 6.28)))
                    for _ in range(3)
                ).astype(np.float32)
                pcm = pcm + rng.normal(0, 0.001, len(pcm)).astype(np.float32)
                out.append(
                    dict(
                        clip_id=f"clip_{int(doc_id):08d}",
                        bytes=encode_wav(pcm, sr),
                        sr_hz=sr,
                        dur_ms=250,
                        codec="pcm_s16le",
                        transcript=text or "",
                    )
                )
            yield pd.DataFrame(out)

    docs = _t(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    clips = docs.repartition(n_parts, "doc_id").mapInPandas(
        _synth,
        schema=(
            "clip_id string, bytes binary, sr_hz int, dur_ms int, "
            "codec string, transcript string"
        ),
    )
    # corpus-appropriate thresholds: the documents word pool is ~30 words,
    # so short exact runs are common across unrelated docs — require long
    # runs / high jaccard so clusters reflect the planted near-dup pairs
    from entity_deduplication_spark.config import DedupConfig

    cfg = DedupConfig(min_run_chars=80, jaccard_threshold=0.85)
    res = DedupPipeline(spark, cfg).run(clips)
    sizes = res.clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return res.clusters.join(sizes, "cluster_id").select(
        "clip_id", "cluster_id", "cluster_size"
    )


# --------------------------------------------------------------------------
# dedup family (documents)
# --------------------------------------------------------------------------

def q_dedup_exact_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_deduplication_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", F.col("text")).select(
        "doc_id", F.col("cluster_id").alias("cluster_id")
    )


def q_dedup_exact_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_deduplication_spark.operators.canonical import elect_canonical
    from entity_deduplication_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    clustered = exact_dedup(docs, "doc_id", F.col("text")).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    return elect_canonical(clustered, id_col="doc_id", order_col="n_chars").select(
        "cluster_id", "cluster_size", F.col("doc_id").alias("canonical_doc_id")
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_deduplication_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", NGRAM_N, NGRAM_THRESHOLD)


def q_ngram_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_deduplication_spark.operators.dedup import ngram_jaccard_clusters

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_clusters(docs, "doc_id", "text", NGRAM_N, NGRAM_THRESHOLD)


def q_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_deduplication_spark.operators.dedup import ngram_jaccard_clusters
    from entity_deduplication_spark.operators.stats import cluster_size_histogram

    docs = _t(spark, sf_dir, "documents")
    clusters = ngram_jaccard_clusters(docs, "doc_id", "text", NGRAM_N, NGRAM_THRESHOLD)
    return cluster_size_histogram(clusters)


def q_minhash_lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_deduplication_spark.operators.dedup import minhash_lsh_dedup

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_dedup(docs, "doc_id", "text")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_deduplication_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text")


# --------------------------------------------------------------------------
# similarity search (embeddings)
# --------------------------------------------------------------------------

def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_deduplication_spark.operators.ann import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return brute_force_topk(emb, queries, k=10)


def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHP-LSH-bucketed near-dup pairs (the scale path), exact-verified;
    band count auto-tuned so the miss probability at the threshold is
    <= 1e-9 — the DuckDB brute-force oracle must match exactly."""
    from entity_deduplication_spark.operators.dedup import embedding_cosine_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, "vec_id", "embedding", threshold=0.35)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_deduplication_spark.operators.ann import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return lsh_topk(emb, queries, "vec_id", "embedding", k=10)


def _emb_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ a deterministically perturbed copy (vec_id + 10^6,
    v' = v + 0.1*v^2 element-wise, cos(v, v') ~ 0.99) — planted
    high-similarity near-dups over the otherwise-random test vectors
    (max pairwise cos ~0.51), mirrored exactly in the DuckDB oracle."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dup = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x + F.lit(0.1) * x * x
        ).alias("embedding"),
    )
    return emb.unionByName(dup)


def q_embedding_near_dup_pairs_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-threshold (0.9) near-dup pairs — the REPRESENTATIVE near-dup
    workload: auto-routing picks the tuned-RHP LSH path (r sized to the
    corpus via the cost model, miss <= 1e-9, loud failure on bucket
    overflow), verified exact. The DuckDB brute-force oracle must match
    bit-for-bit."""
    from entity_deduplication_spark.operators.dedup import embedding_cosine_pairs

    return embedding_cosine_pairs(
        _emb_with_near_dups(spark, sf_dir), "vec_id", "embedding", threshold=0.9
    )


# --------------------------------------------------------------------------
# text analysis (documents)
# --------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_deduplication_spark.functions.quality import (
        mean_word_len,
        stopword_ratio,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_calc"),
        F.round(mean_word_len(F.col("text")), 4).alias("mean_word_len"),
        F.round(stopword_ratio(F.col("text"), STOPWORDS), 4).alias("stopword_ratio"),
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_deduplication_spark.functions.quality import quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(quality_score(F.col("text")), 2).alias("quality")
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_deduplication_spark.functions.quality import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fp_md5"))


def q_lang_source_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def q_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_deduplication_spark.functions.quality import lang_id_udf

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_udf()(F.col("text")).alias("lang_guess"))


# --------------------------------------------------------------------------
# events (windowed aggregation / sessionization)
# --------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00")
    return ev.groupBy(hour.alias("hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (>30 min starts a new session)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn(
        "session_seq",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
    )


# --------------------------------------------------------------------------
# relational operator coverage (TPC-H-ish tables)
# --------------------------------------------------------------------------

def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
                .cast("decimal(28,4)")
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("total_price"),
            "rn",
        )
    )


def q_blocking_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-prefix blocking stats (reference B7): block sizes + pair counts."""
    from entity_deduplication_spark.operators.blocking import block_stats

    cust = _t(spark, sf_dir, "customer")
    keyed = cust.select(F.substring("c_name", 1, 16).alias("block_key"), "c_custkey")
    return block_stats(keyed, ["block_key"], stoplist={})


def q_sorted_neighborhood_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood pair counts per nation (reference B16)."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_name")
    ranked = cust.withColumn("rn", F.row_number().over(w))
    a = ranked.select("c_nationkey", F.col("rn").alias("rn1"))
    b = ranked.select("c_nationkey", F.col("rn").alias("rn2"))
    window = 3
    pairs = a.join(b, "c_nationkey").filter(
        (F.col("rn2") > F.col("rn1")) & (F.col("rn2") <= F.col("rn1") + window)
    )
    return pairs.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_pairs"))


def q_fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-sorted Levenshtein similarity pairs (reference V1/V2 fuzzy
    verify over a B10-style attribute block), DuckDB-oracle-able."""
    from entity_deduplication_spark.operators.fuzzy import levenshtein_sim_pairs

    part = _t(spark, sf_dir, "part")
    # composite block key (reference B10/B13 industry+region flavor)
    return levenshtein_sim_pairs(
        part,
        "p_partkey",
        "p_name",
        F.concat_ws("|", F.col("p_brand"), F.col("p_type")),
        threshold=0.7,
    )


def q_fuzzy_token_ratio_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rapidfuzz-semantics token_sort/token_set ratios (reference
    rule_based.py:81) — InDel-based, not SQL-expressible; rows-only here,
    pinned by unit tests against hand-computed values."""
    from entity_deduplication_spark.operators.fuzzy import token_ratio_pairs

    part = _t(spark, sf_dir, "part")
    return token_ratio_pairs(
        part,
        "p_partkey",
        "p_name",
        F.concat_ws("|", F.col("p_brand"), F.col("p_type")),
    )


def q_semantic_blend_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V9 semantic+string blend (reference semantic_matching.py:219-240):
    0.7*embedding-cosine + 0.3*string-sim within source blocks. String
    sim = token-sorted Levenshtein similarity (SQL-expressible stand-in
    for token_sort_ratio) so the full blend has a DuckDB oracle."""
    from entity_deduplication_spark.operators.fuzzy import semantic_blend_pairs

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    # string component over a short name-proxy (the reference blends on
    # normalized NAMES, not whole documents — and O(L^2) DP on full texts
    # is pointless weight for a name-similarity semantic)
    joined = docs.join(emb, "doc_id").withColumn(
        "name_proxy", F.substring("text", 1, 64)
    )
    return semantic_blend_pairs(
        joined,
        "doc_id",
        "name_proxy",
        "embedding",
        block_key=F.col("source"),
        threshold=0.35,
    )


def q_canonical_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical election + per-field mode backfill (reference
    utils.py:158-185): winners keep non-empty fields, gaps fill with the
    cluster's most-common value. ``title`` is deterministically blanked on
    every third doc to exercise the backfill branch."""
    from entity_deduplication_spark.operators.canonical import (
        backfill_canonical,
        elect_canonical,
    )
    from entity_deduplication_spark.operators.dedup import exact_dedup

    docs = (
        _t(spark, sf_dir, "documents")
        .withColumn(
            "title",
            F.when(F.col("doc_id") % 3 == 0, F.lit("")).otherwise(F.col("lang")),
        )
        .withColumn(
            # comma-detail field for the most-detailed backfill branch
            # (reference utils.py:177-185 picks the most-detailed address):
            # every 4th doc's addr is blank; comma count varies with doc_id
            "addr",
            F.expr(
                "CASE WHEN doc_id % 4 = 0 THEN '' "
                "ELSE concat('p', doc_id % 5, "
                "            repeat(',x', cast(doc_id % 3 AS int))) END"
            ),
        )
    )
    clusters = exact_dedup(docs, "doc_id", F.col("text"))
    clustered = clusters.join(docs, "doc_id")
    canonical = elect_canonical(clustered, id_col="doc_id", order_col="n_chars")
    filled = backfill_canonical(
        canonical, clustered, mode_cols=["title"], detail_cols=["addr"]
    )
    return filled.select(
        "cluster_id",
        F.col("doc_id").alias("canonical_doc_id"),
        F.col("title").alias("title_filled"),
        F.col("addr").alias("addr_filled"),
        "cluster_size",
    )


def q_clustering_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pair-counting Rand/ARI between two dedup strategies
    (reference A7/A8, utils.py:273-331) — fully SQL-checkable."""
    from entity_deduplication_spark.operators.dedup import (
        exact_dedup,
        ngram_jaccard_clusters,
    )
    from entity_deduplication_spark.operators.stats import rand_index

    docs = _t(spark, sf_dir, "documents")
    a = exact_dedup(docs, "doc_id", F.col("text"))
    b = ngram_jaccard_clusters(docs, "doc_id", "text", NGRAM_N, NGRAM_THRESHOLD)
    return rand_index(a, b, id_col="doc_id")


def q_agreement_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-strategy agreement matrix (reference comparison.py:193-231):
    pairwise Rand/ARI across exact, n-gram, and MinHash-LSH clusterings.
    Rows-only (the LSH strategy has no SQL oracle)."""
    from entity_deduplication_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_dedup,
        ngram_jaccard_clusters,
    )
    from entity_deduplication_spark.operators.stats import rand_index
    from entity_deduplication_spark.sources.io import stage

    docs = _t(spark, sf_dir, "documents")
    # each clustering feeds two matrix cells: build it once
    strategies = {
        "exact": stage(exact_dedup(docs, "doc_id", F.col("text"))),
        "ngram": stage(
            ngram_jaccard_clusters(docs, "doc_id", "text", NGRAM_N, NGRAM_THRESHOLD)
        ),
        "minhash_lsh": stage(minhash_lsh_dedup(docs, "doc_id", "text")),
    }
    names = sorted(strategies)
    out = None
    for i, na in enumerate(names):
        for nb in names[i + 1 :]:
            ri = rand_index(
                strategies[na], strategies[nb], id_col="doc_id"
            ).select(
                F.lit(na).alias("strategy_a"),
                F.lit(nb).alias("strategy_b"),
                "rand_index",
                "adjusted_rand",
            )
            out = ri if out is None else out.unionByName(ri)
    return out


def q_agreement_matrix_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-expressible cell of the agreement matrix (exact × ngram)
    as its own oracled query — the full matrix (q_agreement_matrix)
    stays rows-only because its MinHash-LSH cells have no SQL oracle,
    but this cell is pure contingency-table SQL (same construction as
    clustering_agreement; reference comparison.py:193-231)."""
    from entity_deduplication_spark.operators.dedup import (
        exact_dedup,
        ngram_jaccard_clusters,
    )
    from entity_deduplication_spark.operators.stats import rand_index

    docs = _t(spark, sf_dir, "documents")
    a = exact_dedup(docs, "doc_id", F.col("text"))
    b = ngram_jaccard_clusters(docs, "doc_id", "text", NGRAM_N, NGRAM_THRESHOLD)
    return rand_index(a, b, id_col="doc_id").select(
        F.lit("exact").alias("strategy_a"),
        F.lit("ngram").alias("strategy_b"),
        "n",
        "agree_pairs",
        "total_pairs",
        "rand_index",
        "adjusted_rand",
    )


def q_name_suffix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identifier-suffix blocking pairs (reference B3 phone-suffix recipe
    shape) — thin key_equality_pairs instantiation."""
    from entity_deduplication_spark.operators.blocking import key_equality_pairs

    cust = _t(spark, sf_dir, "customer")
    return key_equality_pairs(
        cust, "c_custkey", F.substring("c_name", -3, 3), key_name="suffix"
    )


def q_anagram_key_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-token (anagram) key blocking pairs (reference B11)."""
    from entity_deduplication_spark.operators.blocking import key_equality_pairs
    from entity_deduplication_spark.operators.fuzzy import token_sorted

    part = _t(spark, sf_dir, "part")
    return key_equality_pairs(
        part, "p_partkey", token_sorted(F.col("p_name")), key_name="anagram_key"
    )


def q_social_handle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Social-handle blocking (reference P7/B5,
    deterministic_feature.py:740-756, blocks at :394-404): extract the
    last URL path segment (query params + trailing slashes stripped,
    lowercased) and block on equality. The URL column is synthesized
    deterministically from documents (the testdata has no URL column);
    the extraction expression is the operator under test — some URLs get
    trailing slashes and query strings so the stripping logic is
    exercised."""
    from entity_deduplication_spark.functions.text import social_handle
    from entity_deduplication_spark.operators.blocking import key_equality_pairs

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url",
        F.concat(
            F.lit("https://social.example/"),
            F.col("source"),
            F.lit("/User"),
            (F.col("doc_id") % 40).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 2 == 0, F.lit("?ref=feed")).otherwise(
                F.lit("")
            ),
        ),
    )
    # the reference filters handle != '' before grouping
    # (deterministic_feature.py:402) — without it every no-handle row
    # lands in one giant '' block (quadratic bogus pairs on real data)
    docs = docs.withColumn("handle", social_handle(F.col("url"))).filter(
        F.length("handle") > 0
    )
    return key_equality_pairs(
        docs, "doc_id", F.col("handle"), key_name="handle"
    )


def q_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic training-pair generation (reference R4,
    ml_based.py:242-349): pos/neg/challenging tiers from strong-key
    agreement, fuzzy similarity bands, and cross-key sampling — made
    deterministic (seeded hashes instead of np.random) and distributed.
    Rows-only (the fuzzy band uses the InDel kernel); label distribution
    is pinned by pytest against a pandas oracle."""
    from entity_deduplication_spark.operators.ml import generate_training_pairs

    docs = _t(spark, sf_dir, "documents")
    return generate_training_pairs(
        docs,
        "doc_id",
        "text",
        strong_key=F.md5(F.col("text")),
        group_key=F.substring(F.col("text"), 1, 16),
    )


def q_training_pairs_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-exact core tiers of R4 training-pair generation (reference
    ml_based.py:242-298): the pos_key tier (strong-key chain positives)
    and the neg tier (aligned-bucket cross-key negatives) with
    ``hash_mode="arith"`` so DuckDB reproduces the shuffle hash exactly.
    The fuzzy tiers are disjoint from these by construction here —
    group_key is the 3-char text prefix, which fuzzy pairs must SHARE
    and negatives must DIFFER on, and pos_key pairs share the full-text
    md5 so they can never be negatives — so filtering tier after the
    operator's cross-tier dedup loses nothing SQL-visible."""
    from entity_deduplication_spark.operators.ml import generate_training_pairs

    docs = _t(spark, sf_dir, "documents")
    out = generate_training_pairs(
        docs,
        "doc_id",
        "text",
        strong_key=F.md5(F.col("text")),
        group_key=F.substring(F.col("text"), 1, 3),
        hash_mode="arith",
    )
    return out.filter(F.col("tier").isin("pos_key", "neg")).select(
        "id1", "id2", "label", "tier"
    )


def _doc_pair_features(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The ML scorers' input: document n-gram Jaccard candidates (>= 0.1)
    with their pair feature vectors, staged, and the same pairs labeled
    1.0 where jaccard >= 0.5."""
    from entity_deduplication_spark.operators.dedup import ngram_jaccard_pairs
    from entity_deduplication_spark.operators.ml import pair_features
    from entity_deduplication_spark.operators.pairs import attach_pair_features
    from entity_deduplication_spark.sources.io import stage

    docs = _t(spark, sf_dir, "documents")
    cand = ngram_jaccard_pairs(docs, "doc_id", "text", NGRAM_N, 0.1)
    feat = attach_pair_features(cand, docs, ["text"], "doc_id")
    # one materialization for the two consumers (driver-side fit +
    # distributed scoring); they read only features and jaccard
    feat = pair_features(feat, text1="text_1", text2="text_2")
    feat = stage(feat.drop("text_1", "text_2"))
    return feat, feat.withColumn("label", (F.col("jaccard") >= 0.5).cast("double"))


def q_mlp_pair_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch 1-hidden-layer MLP pair scorer (reference V8,
    deep_learning.py:115-187 feedforward net): distributed features,
    bounded deterministic driver fit, broadcast-weights Arrow scoring.
    Rows-only; pinned by pytest vs a driver-side numpy oracle."""
    from entity_deduplication_spark.operators.ml import (
        score_with_mlp,
        train_mlp_scorer,
    )

    feat, labeled = _doc_pair_features(spark, sf_dir)
    params = train_mlp_scorer(labeled)
    return score_with_mlp(feat, params).select("id1", "id2", "mlp_score")


def q_stoplist_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-listed composite block stats (reference B4 email-domain
    stoplist recipe): hot generic sources are excluded before blocking."""
    from entity_deduplication_spark.operators.blocking import block_stats

    docs = _t(spark, sf_dir, "documents")
    return block_stats(
        docs,
        key_cols=["source", "lang"],
        stoplist={"source": ["src18", "src7", "src6"]},
    )


def q_sorted_neighborhood_global_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL sorted-neighborhood pairs (reference B16) — scale-safe form:
    range repartition + broadcast offsets + bucket join, never a
    single-partition window or cross join."""
    from entity_deduplication_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    cust = _t(spark, sf_dir, "customer")
    return sorted_neighborhood_pairs(
        cust, sort_col="c_name", window=3, id_col="c_custkey"
    )


def q_ml_pair_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic pair scorer (reference V6/V7 recast): distributed
    batch-vectorized features, driver-side deterministic fit on the small
    labeled sample, broadcast-weights scoring. Rows-only (model output);
    gated by pytest vs a driver-side numpy oracle."""
    from entity_deduplication_spark.operators.ml import (
        score_with_model,
        train_pair_scorer,
    )

    feat, labeled = _doc_pair_features(spark, sf_dir)
    w, b = train_pair_scorer(labeled)
    return score_with_model(feat, w, b).select("id1", "id2", "ml_score")


def q_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_acctbal"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # dedup family
        "dedup_exact_clusters": q_dedup_exact_clusters,
        "dedup_exact_canonical": q_dedup_exact_canonical,
        "dedup_ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "dedup_ngram_clusters": q_ngram_clusters,
        "dedup_cluster_size_histogram": q_cluster_size_histogram,
        "dedup_minhash_lsh_clusters": q_minhash_lsh_clusters,  # rows-only
        "dedup_simhash_pairs": q_simhash_pairs,  # rows-only
        # similarity search
        "ann_cosine_topk": q_ann_cosine_topk,
        "embedding_near_dup_pairs": q_embedding_near_dup_pairs,
        "embedding_near_dup_pairs_hi": q_embedding_near_dup_pairs_hi,
        "ann_lsh_topk": q_ann_lsh_topk,  # rows-only
        # text analysis
        "text_stats": q_text_stats,
        "doc_quality": q_doc_quality,
        "doc_fingerprint": q_doc_fingerprint,
        "lang_source_dist": q_lang_source_dist,
        "lang_id_heuristic": q_lang_id_heuristic,
        # events
        "events_hourly": q_events_hourly,
        "sessionize": q_sessionize,
        # fuzzy verification (V1/V2/V9 family)
        "fuzzy_part_name_pairs": q_fuzzy_part_name_pairs,
        "fuzzy_token_ratio_pairs": q_fuzzy_token_ratio_pairs,  # rows-only
        "semantic_blend_pairs": q_semantic_blend_pairs,
        # canonical + agreement
        "canonical_backfill": q_canonical_backfill,
        "clustering_agreement": q_clustering_agreement,
        "agreement_matrix": q_agreement_matrix,  # rows-only (LSH cells)
        "agreement_matrix_exact": q_agreement_matrix_exact,
        # composite blocking recipes (B3/B4/B5/B11/B16)
        "name_suffix_pairs": q_name_suffix_pairs,
        "anagram_key_pairs": q_anagram_key_pairs,
        "social_handle_pairs": q_social_handle_pairs,
        "stoplist_block_stats": q_stoplist_block_stats,
        "sorted_neighborhood_global_pairs": q_sorted_neighborhood_global_pairs,
        # ML scorers + training data (V6/V7/V8, R4)
        "ml_pair_scores": q_ml_pair_scores,  # rows-only
        "mlp_pair_scores": q_mlp_pair_scores,  # rows-only
        "training_pairs": q_training_pairs,  # rows-only
        "training_pairs_core": q_training_pairs_core,
        # relational coverage
        "q1_pricing_summary": q_q1_pricing_summary,
        "top_orders_per_customer": q_top_orders_per_customer,
        "blocking_prefix_pairs": q_blocking_prefix_pairs,
        "sorted_neighborhood_stats": q_sorted_neighborhood_stats,
        "region_rollup": q_region_rollup,
    }


_NGRAM_GRAMS_CTE = f"""
toks AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE length(text) > 0
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(w[i:i+{NGRAM_N - 1}], ' ')
                               for i in range(1, len(w) - {NGRAM_N - 2})])) AS gram
  FROM toks WHERE len(w) >= {NGRAM_N}
),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
  FROM grams a JOIN grams b USING (gram)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
),
jac AS (
  SELECT id1, id2, i * 1.0 / (s1.n + s2.n - i) AS jaccard
  FROM inter
  JOIN sizes s1 ON id1 = s1.doc_id
  JOIN sizes s2 ON id2 = s2.doc_id
)
"""

def _agreement_exact_ngram_sql(select_prefix: str) -> str:
    """Rand/ARI contingency SQL between the exact and ngram clusterings
    (shared by ``clustering_agreement`` and the agreement matrix's
    oracled exact x ngram cell; ``select_prefix`` prepends literal
    strategy-label columns to the final projection)."""
    return f"""
            WITH RECURSIVE {_NGRAM_GRAMS_CTE},
            edges AS (SELECT id1, id2 FROM jac WHERE jaccard >= {NGRAM_THRESHOLD}),
            sym AS (SELECT id1 AS a, id2 AS b FROM edges UNION SELECT id2, id1 FROM edges),
            reach(a, b) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE r.a <> s.b
            ),
            labels AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
            assign_b AS (
              SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cb
              FROM documents d LEFT JOIN labels l USING (doc_id)
            ),
            assign_a AS (
              SELECT doc_id, CASE WHEN text IS NULL THEN doc_id
                                  ELSE min(doc_id) OVER (PARTITION BY text) END AS ca
              FROM documents
            ),
            j AS (SELECT ca, cb FROM assign_a JOIN assign_b USING (doc_id)),
            cont AS (SELECT ca, cb, count(*) AS nij FROM j GROUP BY 1, 2),
            s AS (
              SELECT sum(nij::DOUBLE * (nij - 1) / 2)::BIGINT AS ss,
                     sum(nij)::BIGINT AS n
              FROM cont
            ),
            am AS (SELECT sum(ai::DOUBLE * (ai - 1) / 2)::BIGINT AS sa
                   FROM (SELECT sum(nij) AS ai FROM cont GROUP BY ca)),
            bm AS (SELECT sum(bj::DOUBLE * (bj - 1) / 2)::BIGINT AS sb
                   FROM (SELECT sum(nij) AS bj FROM cont GROUP BY cb)),
            x AS (
              SELECT n, ss, sa - ss AS sd, sb - ss AS ds,
                     (n::DOUBLE * (n - 1) / 2)::BIGINT - sa - sb + ss AS dd,
                     (n::DOUBLE * (n - 1) / 2)::BIGINT AS total
              FROM s, am, bm
            )
            SELECT {select_prefix}n, (ss + dd)::BIGINT AS agree_pairs,
                   total AS total_pairs,
                   round((ss + dd)::DOUBLE / total, 4) AS rand_index,
                   round(CASE WHEN (ss::DOUBLE + sd) * (sd::DOUBLE + dd)
                                   + (ss::DOUBLE + ds) * (ds::DOUBLE + dd) = 0
                              THEN 1.0
                              ELSE 2.0 * (ss::DOUBLE * dd - sd::DOUBLE * ds) /
                                   ((ss::DOUBLE + sd) * (sd::DOUBLE + dd)
                                    + (ss::DOUBLE + ds) * (ds::DOUBLE + dd))
                         END, 4) AS adjusted_rand
            FROM x
        """


_NGRAM_CLUSTERS_SQL = f"""
WITH RECURSIVE {_NGRAM_GRAMS_CTE},
edges AS (SELECT id1, id2 FROM jac WHERE jaccard >= {NGRAM_THRESHOLD}),
sym AS (SELECT id1 AS a, id2 AS b FROM edges UNION SELECT id2, id1 FROM edges),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE r.a <> s.b
),
labels AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN labels l USING (doc_id)
"""


def _lang_id_oracle_sql() -> str:
    """The lang-ID heuristic is static gram profiles + argmax of literal
    substring counts — fully SQL-expressible. Counting uses the
    replace-length trick (non-overlapping, identical to pandas
    str.count on escaped literals); the CASE chain reproduces
    np.argmax's first-max-wins tie-break over the sorted language list."""
    from entity_deduplication_spark.functions.quality import _LANG_PROFILES

    langs = sorted(_LANG_PROFILES)

    def _cnt(g: str) -> str:
        return f"(length(t) - length(replace(t, '{g}', ''))) // {len(g)}"

    score_exprs = ", ".join(
        " + ".join(_cnt(g) for g in _LANG_PROFILES[lang]) + f" AS s_{lang}"
        for lang in langs
    )
    all_scores = ", ".join(f"s_{lang}" for lang in langs)
    branches = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in langs[i + 1 :]
        )
        branches.append(f"WHEN {conds} THEN '{lang}'")
    case = (
        f"CASE WHEN greatest({all_scores}) = 0 THEN 'und' "
        + " ".join(branches)
        + f" ELSE '{langs[-1]}' END"
    )
    return f"""
        WITH t0 AS (SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents),
        s AS (SELECT doc_id, {score_exprs} FROM t0)
        SELECT doc_id, {case} AS lang_guess FROM s
    """


def oracle_sql() -> dict[str, str]:
    sw = ", ".join(f"'{s}'" for s in STOPWORDS)
    return {
        "dedup_exact_clusters": """
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN doc_id
                        ELSE min(doc_id) OVER (PARTITION BY text) END AS cluster_id
            FROM documents
        """,
        "dedup_exact_canonical": """
            WITH c AS (
              SELECT doc_id, n_chars,
                     CASE WHEN text IS NULL THEN doc_id
                          ELSE min(doc_id) OVER (PARTITION BY text) END AS cluster_id
              FROM documents
            ), r AS (
              SELECT cluster_id, doc_id, row_number() OVER (
                PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC
              ) AS rn FROM c
            )
            SELECT cluster_id, count(*) AS cluster_size,
                   min(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc_id
            FROM r GROUP BY cluster_id
        """,
        "dedup_ngram_jaccard_pairs": f"""
            WITH {_NGRAM_GRAMS_CTE}
            SELECT id1, id2, round(jaccard, 4) AS jaccard
            FROM jac WHERE jaccard >= {NGRAM_THRESHOLD}
        """,
        "dedup_ngram_clusters": _NGRAM_CLUSTERS_SQL,
        "dedup_cluster_size_histogram": f"""
            WITH RECURSIVE {_NGRAM_GRAMS_CTE},
            edges AS (SELECT id1, id2 FROM jac WHERE jaccard >= {NGRAM_THRESHOLD}),
            sym AS (SELECT id1 AS a, id2 AS b FROM edges UNION SELECT id2, id1 FROM edges),
            reach(a, b) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE r.a <> s.b
            ),
            labels AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
            assign AS (
              SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN labels l USING (doc_id)
            ),
            csizes AS (SELECT cluster_id, count(*) AS sz FROM assign GROUP BY cluster_id)
            SELECT CASE WHEN sz = 1 THEN '1' WHEN sz = 2 THEN '2'
                        WHEN sz BETWEEN 3 AND 5 THEN '3-5'
                        WHEN sz BETWEEN 6 AND 10 THEN '6-10'
                        WHEN sz BETWEEN 11 AND 20 THEN '11-20'
                        WHEN sz BETWEEN 21 AND 50 THEN '21-50'
                        ELSE '50+' END AS bucket,
                   count(*) AS n_clusters
            FROM csizes GROUP BY 1
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 8),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     round(list_dot_product(q.qv, e.embedding::DOUBLE[]) /
                           (sqrt(list_dot_product(q.qv, q.qv)) *
                            sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
                           4) AS cos_sim
              FROM q JOIN embeddings e ON e.vec_id <> q.query_id
            ), ranked AS (
              SELECT query_id, neighbor_id, cos_sim, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
              ) AS rank FROM scored
            )
            SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 10
        """,
        "embedding_near_dup_pairs": """
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                         (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                          sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                         4) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                  (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                   sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.35
        """,
        "text_stats": f"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
                   length(text) AS n_chars_calc,
                   round(CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
                     list_sum(list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                             x -> length(x))) * 1.0 /
                     len(regexp_split_to_array(trim(text), '\\s+')) END, 4) AS mean_word_len,
                   round(CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
                     len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                     x -> list_contains([{sw}], x))) * 1.0 /
                     len(regexp_split_to_array(trim(text), '\\s+')) END, 4) AS stopword_ratio
            FROM documents
        """,
        "doc_quality": """
            WITH s AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok,
                     CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
                       list_sum(list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                               x -> length(x))) * 1.0 /
                       len(regexp_split_to_array(trim(text), '\\s+')) END AS wl,
                     CASE WHEN length(text) = 0 THEN 0.0 ELSE
                       length(regexp_replace(text, '[^[:punct:]]', '', 'g')) * 1.0 /
                       length(text) END AS pr
              FROM documents
            )
            SELECT doc_id,
                   round((CASE WHEN n_tok BETWEEN 5 AND 5000 THEN 0.4::DOUBLE ELSE 0.0 END) +
                         (CASE WHEN wl >= 2.0 AND wl <= 12.0 THEN 0.3::DOUBLE ELSE 0.0 END) +
                         (CASE WHEN pr <= 0.2 THEN 0.3::DOUBLE ELSE 0.0 END), 2) AS quality
            FROM s
        """,
        "doc_fingerprint": "SELECT doc_id, md5(text) AS fp_md5 FROM documents",
        "lang_id_heuristic": _lang_id_oracle_sql(),
        "embedding_near_dup_pairs_hi": """
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000,
                     list_transform(embedding::DOUBLE[], x -> x + 0.1 * x * x)
              FROM embeddings
            )
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) *
                          sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) *
                   sqrt(list_dot_product(b.v, b.v))) >= 0.9
        """,
        "social_handle_pairs": """
            WITH u AS (
              SELECT doc_id,
                     concat('https://social.example/', source, '/User',
                            doc_id % 40,
                            CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
                            CASE WHEN doc_id % 2 = 0 THEN '?ref=feed'
                                 ELSE '' END) AS url
              FROM documents
            ), cl AS (
              SELECT doc_id,
                     regexp_replace(string_split(url, '?')[1], '/+$', '') AS c
              FROM u
            ), k AS (
              SELECT doc_id,
                     CASE WHEN contains(c, '/')
                          THEN lower(string_split(c, '/')[-1])
                          ELSE '' END AS handle
              FROM cl
            )
            SELECT a.doc_id AS id1, b.doc_id AS id2, a.handle
            FROM k a JOIN k b ON a.handle = b.handle AND a.doc_id < b.doc_id
            WHERE a.handle <> ''
        """,
        "lang_source_dist": """
            SELECT lang, source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
            FROM documents GROUP BY lang, source
        """,
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
                   event_type, count(*) AS n_events,
                   sum(value::DECIMAL(18,2))::DOUBLE AS total_value
            FROM events GROUP BY 1, 2
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR date_diff('second', lag(ts) OVER w, ts) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, value,
                     sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
              FROM g
            )
            SELECT user_id, session_seq::BIGINT AS session_seq, count(*) AS n_events,
                   sum(value::DECIMAL(18,2))::DOUBLE AS session_value
            FROM s GROUP BY user_id, session_seq
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
                   sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
                   sum((l_extendedprice::DECIMAL(18,2) *
                        (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DECIMAL(28,4))::DOUBLE
                     AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_orders_per_customer": """
            WITH r AS (
              SELECT o_custkey, o_orderkey,
                     o_totalprice::DECIMAL(18,2)::DOUBLE AS total_price,
                     row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders
            )
            SELECT o_custkey, o_orderkey, total_price, rn FROM r WHERE rn <= 3
        """,
        "blocking_prefix_pairs": """
            SELECT substr(c_name, 1, 16) AS block_key, count(*) AS n_ids,
                   (count(*) * (count(*) - 1) / 2)::BIGINT AS n_pairs
            FROM customer GROUP BY 1
        """,
        "sorted_neighborhood_stats": """
            WITH r AS (
              SELECT c_nationkey, row_number() OVER (
                PARTITION BY c_nationkey ORDER BY c_name) AS rn
              FROM customer
            )
            SELECT a.c_nationkey, count(*) AS n_pairs
            FROM r a JOIN r b ON a.c_nationkey = b.c_nationkey
            WHERE b.rn > a.rn AND b.rn <= a.rn + 3
            GROUP BY a.c_nationkey
        """,
        "region_rollup": """
            SELECT r_name, count(*) AS n_customers,
                   sum(c_acctbal::DECIMAL(18,2))::DOUBLE AS total_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "fuzzy_part_name_pairs": """
            WITH p AS (
              SELECT p_partkey, p_brand || '|' || p_type AS bk,
                     array_to_string(list_sort(string_split(p_name, ' ')), ' ') AS ts
              FROM part
            )
            SELECT a.p_partkey AS id1, b.p_partkey AS id2,
                   round(1.0 - levenshtein(a.ts, b.ts)::DOUBLE /
                         greatest(length(a.ts), length(b.ts), 1), 4) AS lev_sim
            FROM p a JOIN p b ON a.bk = b.bk AND a.p_partkey < b.p_partkey
            WHERE round(1.0 - levenshtein(a.ts, b.ts)::DOUBLE /
                        greatest(length(a.ts), length(b.ts), 1), 4) >= 0.7
        """,
        "canonical_backfill": """
            WITH aug AS (
              SELECT doc_id, n_chars, text,
                     CASE WHEN doc_id % 3 = 0 THEN '' ELSE lang END AS title,
                     CASE WHEN doc_id % 4 = 0 THEN ''
                          ELSE concat('p', doc_id % 5,
                                      repeat(',x', (doc_id % 3)::INT)) END AS addr
              FROM documents
            ), c AS (
              SELECT *, CASE WHEN text IS NULL THEN doc_id
                             ELSE min(doc_id) OVER (PARTITION BY text) END AS cluster_id
              FROM aug
            ), w AS (
              SELECT cluster_id, doc_id, title, addr, row_number() OVER (
                PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC
              ) AS rn FROM c
            ), modes AS (
              SELECT cluster_id, title AS mode_title FROM (
                SELECT cluster_id, title, row_number() OVER (
                  PARTITION BY cluster_id ORDER BY count(*) DESC, title ASC
                ) AS mrn
                FROM c WHERE title IS NOT NULL AND length(title) > 0
                GROUP BY cluster_id, title
              ) WHERE mrn = 1
            ), details AS (
              SELECT cluster_id, addr AS detailed_addr FROM (
                SELECT cluster_id, addr, row_number() OVER (
                  PARTITION BY cluster_id
                  ORDER BY (len(string_split(addr, ',')) * 1000
                            + length(addr)) DESC, addr ASC
                ) AS drn
                FROM c WHERE addr IS NOT NULL
              ) WHERE drn = 1
            ), sizes AS (
              SELECT cluster_id, count(*) AS cluster_size FROM c GROUP BY cluster_id
            )
            SELECT w.cluster_id, w.doc_id AS canonical_doc_id,
                   CASE WHEN w.title IS NULL OR length(w.title) = 0
                        THEN m.mode_title ELSE w.title END AS title_filled,
                   CASE WHEN w.addr IS NULL OR length(w.addr) = 0
                        THEN d.detailed_addr ELSE w.addr END AS addr_filled,
                   s.cluster_size
            FROM w JOIN sizes s USING (cluster_id)
            LEFT JOIN modes m USING (cluster_id)
            LEFT JOIN details d USING (cluster_id)
            WHERE w.rn = 1
        """,
        "clustering_agreement": _agreement_exact_ngram_sql(""),
        # the exact x ngram cell of the agreement matrix — same
        # contingency construction, plus the strategy-label columns
        "agreement_matrix_exact": _agreement_exact_ngram_sql(
            "'exact' AS strategy_a, 'ngram' AS strategy_b, "
        ),
        "semantic_blend_pairs": """
            WITH j0 AS (
              SELECT d.doc_id, d.source,
                     array_to_string(
                       list_sort(string_split(substr(d.text, 1, 64), ' ')), ' '
                     ) AS ts,
                     e.embedding::DOUBLE[] AS v
              FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
            ), j AS (
              -- blocks over 200 members are SKIPPED (reference
              -- semantic_matching.py:214-216), mirrored from the Spark op
              SELECT doc_id, source, ts, v FROM j0
              QUALIFY count(*) OVER (PARTITION BY source) <= 200
            ), scored AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2,
                     list_dot_product(a.v, b.v) /
                       (sqrt(list_dot_product(a.v, a.v)) *
                        sqrt(list_dot_product(b.v, b.v))) AS cos_raw,
                     1.0 - levenshtein(a.ts, b.ts)::DOUBLE /
                           greatest(length(a.ts), length(b.ts), 1) AS lev_raw
              FROM j a JOIN j b ON a.source = b.source AND a.doc_id < b.doc_id
            )
            SELECT id1, id2,
                   round(cos_raw, 4) AS cos_sim,
                   round(lev_raw, 4) AS lev_sim,
                   round(0.7 * cos_raw + 0.3 * lev_raw, 4) AS blended_sim
            FROM scored
            WHERE 0.7 * cos_raw + 0.3 * lev_raw > 0.35
        """,
        "name_suffix_pairs": """
            WITH k AS (SELECT c_custkey, right(c_name, 3) AS suffix FROM customer)
            SELECT a.c_custkey AS id1, b.c_custkey AS id2, a.suffix
            FROM k a JOIN k b ON a.suffix = b.suffix AND a.c_custkey < b.c_custkey
        """,
        "anagram_key_pairs": """
            WITH k AS (
              SELECT p_partkey,
                     array_to_string(list_sort(string_split(p_name, ' ')), ' ') AS anagram_key
              FROM part
            )
            SELECT a.p_partkey AS id1, b.p_partkey AS id2, a.anagram_key
            FROM k a JOIN k b ON a.anagram_key = b.anagram_key
                              AND a.p_partkey < b.p_partkey
        """,
        "training_pairs_core": """
            -- R4 core tiers with the arith shuffle hash
            -- h(id, salt) = (id*2654435761 + salt*97) % 2147483647,
            -- seed 42 -> salts 4074 (order/bucket) and 4171 (neg order);
            -- per_block_pairs=5, nb=64 buckets, per_bucket=ceil(2000/64)=32
            WITH base AS (
              SELECT doc_id AS id, coalesce(text, '') AS txt,
                     md5(text) AS sk,
                     substr(coalesce(text, ''), 1, 3) AS pf
              FROM documents
            ), k AS (
              SELECT id, sk,
                     row_number() OVER w AS rn,
                     lead(id) OVER w AS nxt
              FROM base WHERE sk IS NOT NULL AND sk <> ''
              WINDOW w AS (PARTITION BY sk
                           ORDER BY (id * 2654435761 + 4074) % 2147483647, id)
            ), pos AS (
              SELECT least(id, nxt) AS id1, greatest(id, nxt) AS id2,
                     1 AS label, 'pos_key' AS tier
              FROM k WHERE nxt IS NOT NULL AND rn <= 5
            ), b AS (
              SELECT id, sk, pf,
                     ((id * 2654435761 + 4074) % 2147483647) % 64 AS bkt,
                     row_number() OVER (
                       PARTITION BY ((id * 2654435761 + 4074) % 2147483647) % 64
                       ORDER BY (id * 2654435761 + 4171) % 2147483647, id
                     ) AS rn
              FROM base
            ), bb AS (
              SELECT * FROM b WHERE rn <= 32
            ), neg AS (
              SELECT least(a.id, c.id) AS id1, greatest(a.id, c.id) AS id2,
                     0 AS label, 'neg' AS tier
              FROM bb a JOIN bb c
                ON ((c.bkt - 1 + 64) % 64) = a.bkt AND a.rn = c.rn
              WHERE a.id <> c.id
                AND a.sk IS DISTINCT FROM c.sk
                AND a.pf <> c.pf
            )
            SELECT * FROM pos UNION ALL SELECT * FROM neg
        """,
        "stoplist_block_stats": """
            SELECT source, lang, count(*) AS n_ids,
                   (count(*)::DOUBLE * (count(*) - 1) / 2)::BIGINT AS n_pairs
            FROM documents
            WHERE source NOT IN ('src18', 'src7', 'src6')
            GROUP BY source, lang
        """,
        "sorted_neighborhood_global_pairs": """
            WITH r AS (
              SELECT c_custkey, row_number() OVER (ORDER BY c_name, c_custkey) AS rn
              FROM customer
            )
            SELECT least(a.c_custkey, b.c_custkey) AS id1,
                   greatest(a.c_custkey, b.c_custkey) AS id2
            FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3
        """,
    }
