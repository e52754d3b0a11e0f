"""Deduplication operators over the crawl table (DataFrame implementations).

Four dedup families, each the Spark-native restatement of a standard
web-corpus cleaning stage (the operators a 100 TB training-data pipeline
runs before anything else):

- exact:      groupBy(md5(text)) — one narrow hash + one shuffle on the
              16-byte digest; duplicate clusters are the only hot keys and
              AQE splits them.
- MinHash+LSH: shingle → 128-permutation signature → 32×4 banding →
              candidate equi-join → exact-Jaccard verification. The
              banding join is the scale path: candidate generation is
              linear in data + output, never quadratic.
- SimHash:    60-bit signature; 4×15-bit band blocking guarantees every
              hamming≤3 pair collides in ≥1 band (pigeonhole) — the
              blocked join is *exactly* equivalent to the quadratic scan.
- n-gram Jaccard: exact similarity via shingle equi-join (the ground-truth
              path; also what verification reuses).

All signature math is Catalyst expressions built from the
engine-parameterized SQL in gdal_spark.textops, so the DuckDB oracle runs
the identical arithmetic. No Python executes per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.textops import (NEAR_DUP_SUFFIX, P32, SIMHASH_BANDS, SPARK,
                                h60_sql, minhash_agg_exprs, shingles_sql,
                                simhash_sql, tokens_sql)

BAND_BITS = 15  # simhash band width: 60 bits / 4 bands
LSH_BANDS, LSH_ROWS = 32, 4  # MinHash banding: 32 bands x 4 rows
EVAL_MOD, EVAL_REM = 41, 7  # eval split: crawl_id % EVAL_MOD == EVAL_REM
MINHASH_JACCARD = 0.8  # verified Jaccard of a MinHash near-dup pair
NGRAM_K, NGRAM_JACCARD = 2, 0.7  # exact n-gram Jaccard join
DECONTAM_K = 3  # shingle width of the decontamination check
DECONTAM_CONTAINMENT = 0.3  # eval-shingle share that contaminates
SIMHASH_MAX_HAMMING = 3  # pigeonhole-safe with 4 bands


def crawl_from_documents(docs: DataFrame) -> DataFrame:
    """documents → crawl table with deterministic duplicate structure
    (mirrors textops.crawl_sql: every doc once, %5==2 re-crawled exactly,
    %7==3 re-crawled with one appended word)."""
    base = docs.select("doc_id", "text", "lang")
    orig = base.select(
        F.col("doc_id").alias("crawl_id"), F.col("doc_id").alias("orig_id"),
        "text", "lang", F.lit("orig").alias("crawl_kind"))
    dup = base.filter("doc_id % 5 = 2").select(
        (F.col("doc_id") + 1000000).alias("crawl_id"),
        F.col("doc_id").alias("orig_id"),
        "text", "lang", F.lit("dup").alias("crawl_kind"))
    near = base.filter("doc_id % 7 = 3").select(
        (F.col("doc_id") + 2000000).alias("crawl_id"),
        F.col("doc_id").alias("orig_id"),
        F.concat("text", F.lit(NEAR_DUP_SUFFIX)).alias("text"),
        "lang", F.lit("near").alias("crawl_kind"))
    return orig.unionByName(dup).unionByName(near)


def shingle_rows(crawl: DataFrame, k: int = 3) -> DataFrame:
    """(crawl_id, sh, h32): distinct k-word shingles + 32-bit hash."""
    toks = tokens_sql(SPARK)
    return (
        crawl.withColumn("_toks", F.expr(toks))
        .select("crawl_id",
                F.explode(F.expr(shingles_sql(k, SPARK))).alias("sh"))
        .distinct()
        .withColumn("h32", F.expr(f"({h60_sql('sh', SPARK)}) % {P32}"))
    )


def dedup_exact(crawl: DataFrame) -> DataFrame:
    """Exact duplicate groups: (rep_id, n_copies) per md5(text) cluster
    with ≥2 members. rep_id = smallest crawl_id (the keeper)."""
    return (
        crawl.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("crawl_id").alias("rep_id"),
             F.count(F.lit(1)).alias("n_copies"))
        .filter("n_copies >= 2")
        .drop("_h")
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(crawl_id, s0..s127): 128-permutation MinHash signature. One shuffle
    keyed by crawl_id; partial min combines map-side."""
    return sh.groupBy("crawl_id").agg(
        *[F.expr(e) for e in minhash_agg_exprs()])


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Banded LSH: signature → (band, md5-of-row-slice) keys → self
    equi-join → distinct candidate (id_a < id_b) pairs."""
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.md5(F.concat_ws(",", *[
                F.col(f"s{j * LSH_ROWS + i}").cast("string")
                for i in range(LSH_ROWS)
            ])).alias("key"),
        )
        for j in range(LSH_BANDS)
    ]
    keyed = sig.select(
        "crawl_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("crawl_id", "b.band", "b.key")
    left = keyed.select("band", "key", F.col("crawl_id").alias("id_a"))
    right = keyed.select("band", "key", F.col("crawl_id").alias("id_b"))
    return (
        left.join(right, ["band", "key"])
        .filter("id_a < id_b")
        .select("id_a", "id_b")
        .distinct()
    )


def verify_jaccard(pairs: DataFrame, sh: DataFrame,
                   threshold: float) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keeps J ≥ threshold.
    Joins only candidates × their shingles — linear in candidates."""
    sa = sh.select(F.col("crawl_id").alias("id_a"), "sh")
    sb = sh.select(F.col("crawl_id").alias("id_b"), "sh")
    sz = sh.groupBy("crawl_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        pairs.join(sa, "id_a").join(sb, ["id_b", "sh"])
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("c"))
    )
    out = (
        inter
        .join(sz.select(F.col("crawl_id").alias("id_a"),
                        F.col("n").alias("na")), "id_a")
        .join(sz.select(F.col("crawl_id").alias("id_b"),
                        F.col("n").alias("nb")), "id_b")
        .withColumn("_j", F.expr("cast(c as double) / (na + nb - c)"))
        .filter(F.col("_j") >= threshold)
    )
    return out.select("id_a", "id_b", F.round("_j", 6).alias("jaccard"))


def minhash_neardup_pairs(crawl: DataFrame) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verification-exact: candidates
    from banding, output filtered by true Jaccard ≥ MINHASH_JACCARD (so
    precision is exact; recall at J≥0.8 is 1-(1-0.8^4)^32 ≈ 1-5e-8)."""
    # the shingle table feeds four consumers (signatures, both sides of
    # the verify join, set sizes); Catalyst's ReuseExchange already
    # dedups the shuffled subtree, so no explicit cache (measured slower
    # with one — materialization overhead without saved work)
    sh = shingle_rows(crawl, k=3)
    cand = lsh_candidate_pairs(minhash_signatures(sh))
    return verify_jaccard(cand, sh, MINHASH_JACCARD)


def ngram_jaccard_pairs(crawl: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard similarity join: shingle equi-join, no LSH.
    The shuffle is keyed by shingle; stopword-like hot shingles are the
    skew risk at scale — AQE skew-join plus the distinct() pre-shrink
    keep partitions bounded."""
    sh = shingle_rows(crawl, k=NGRAM_K)
    sa = sh.select(F.col("crawl_id").alias("id_a"), "sh")
    sb = sh.select(F.col("crawl_id").alias("id_b"), "sh")
    pairs = (
        sa.join(sb, "sh").filter("id_a < id_b")
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("c"))
    )
    sz = sh.groupBy("crawl_id").agg(F.count(F.lit(1)).alias("n"))
    out = (
        pairs
        .join(sz.select(F.col("crawl_id").alias("id_a"),
                        F.col("n").alias("na")), "id_a")
        .join(sz.select(F.col("crawl_id").alias("id_b"),
                        F.col("n").alias("nb")), "id_b")
        .withColumn("_j", F.expr("cast(c as double) / (na + nb - c)"))
        .filter(F.col("_j") >= NGRAM_JACCARD)
    )
    return out.select("id_a", "id_b", F.round("_j", 6).alias("jaccard"))


def decontaminate(crawl: DataFrame) -> DataFrame:
    """Benchmark decontamination: directional k-shingle containment of a
    (small) eval split inside the training corpus — the pretraining-
    pipeline guard against test-set leakage (the n-gram-overlap rule of
    the GPT-3/C4 cleanup recipes). A corpus doc is contaminated by an
    eval doc when it contains ≥ DECONTAM_CONTAINMENT of the eval doc's
    distinct DECONTAM_K-word shingles:
    containment = |S_eval ∩ S_corpus| / |S_eval|.

    Plan shape for 100 TB: the eval split is tiny by construction, so
    its shingle table is **broadcast** — the corpus shingle stream is
    never shuffled against itself (unlike the symmetric Jaccard join);
    the only wide op is the (corpus_id, eval_id) count aggregation,
    keyed by hit pairs (O(actual overlaps), not O(corpus))."""
    sh = shingle_rows(crawl, k=DECONTAM_K).select("crawl_id", "sh")
    ev = (sh.filter(F.col("crawl_id") % EVAL_MOD == EVAL_REM)
          .select(F.col("crawl_id").alias("eval_id"), "sh"))
    ev_sz = ev.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_eval"))
    corpus = (sh.filter(F.col("crawl_id") % EVAL_MOD != EVAL_REM)
              .select(F.col("crawl_id").alias("corpus_id"), "sh"))
    hits = (corpus.join(F.broadcast(ev), "sh")
            .groupBy("corpus_id", "eval_id")
            .agg(F.count(F.lit(1)).alias("n_common")))
    return (hits.join(F.broadcast(ev_sz), "eval_id")
            .withColumn("_c", F.expr("cast(n_common as double) / n_eval"))
            .filter(F.col("_c") >= DECONTAM_CONTAINMENT)
            .select("eval_id", "corpus_id", "n_common",
                    F.round("_c", 6).alias("containment")))


def simhash_table(crawl: DataFrame) -> DataFrame:
    """(crawl_id, simhash): 60-bit SimHash over the distinct-word set."""
    toks = tokens_sql(SPARK)
    words = (
        crawl.withColumn("_toks", F.expr(toks))
        .select("crawl_id", F.explode("_toks").alias("w"))
        .distinct()
        .withColumn("wh", F.expr(h60_sql("w", SPARK)))
    )
    return words.groupBy("crawl_id").agg(
        F.expr(simhash_sql(SPARK)).alias("simhash"))


def simhash_neardup_pairs(crawl: DataFrame) -> DataFrame:
    """SimHash near-duplicate pairs with hamming ≤ SIMHASH_MAX_HAMMING via
    band blocking: 4 bands × 15 bits; any pair within hamming 3 shares at
    least one identical band (pigeonhole over 4 bands), so the blocked
    equi-join finds exactly the same pairs as a quadratic scan."""
    s = simhash_table(crawl)
    keyed = s.select(
        "crawl_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(j).alias("band"),
                F.expr(f"shiftright(simhash, {j * BAND_BITS})"
                       f" % {1 << BAND_BITS}").alias("key"),
            ) for j in range(SIMHASH_BANDS)
        ])).alias("b"),
    ).select("crawl_id", "simhash", "b.band", "b.key")
    left = keyed.select("band", "key", F.col("crawl_id").alias("id_a"),
                        F.col("simhash").alias("sim_a"))
    right = keyed.select("band", "key", F.col("crawl_id").alias("id_b"),
                         F.col("simhash").alias("sim_b"))
    return (
        left.join(right, ["band", "key"])
        .filter("id_a < id_b")
        .select("id_a", "id_b",
                F.expr("cast(bit_count(sim_a ^ sim_b) as bigint)")
                .alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def neardup_clusters(crawl: DataFrame, pairs: DataFrame) -> DataFrame:
    """Near-duplicate clustering with canonical-representative selection:
    the dedup *decision table* of a training-data pipeline — one row per
    crawl document, its duplicate-cluster id (min crawl_id of the
    connected component over the verified near-dup pair graph), and
    ``keep`` = is this the canonical copy.

    Components come from the same distributed min-label pointer-jumping
    loop as polygonize (gdal_spark.polygonize.propagate_labels,
    O(log diameter) rounds, each round one keyed shuffle) — near-dup
    graphs are overwhelmingly tiny cliques plus rare chains, so the loop
    exits after 2-3 rounds. Singleton documents keep themselves.
    """
    from gdal_spark.polygonize import propagate_labels

    # materialize the verified pair graph ONCE: both the node frame and
    # the loop's symmetrized edge frame consume it, and without the
    # checkpoint each consumer replays the whole MinHash pair pipeline
    # (measured: a second full ~8 s evaluation at sf0.1)
    edges = pairs.select(F.col("id_a").alias("la"),
                         F.col("id_b").alias("lb")) \
        .localCheckpoint(eager=True)
    # only nodes that appear in a pair enter the propagation loop: the
    # dup graph is O(duplicates), not O(corpus) — at 10^12 docs the loop
    # frames must never be the whole document table. Singletons join
    # back afterward as their own keepers.
    graph_nodes = edges.select(F.col("la").alias("lbl")) \
        .unionByName(edges.select(F.col("lb").alias("lbl")))
    labels = propagate_labels(graph_nodes, edges)
    return (
        crawl.select("crawl_id")
        .join(labels, crawl["crawl_id"] == labels["lbl"], "left")
        .select(
            "crawl_id",
            F.coalesce(F.col("comp"), F.col("crawl_id"))
            .alias("cluster_id"))
        .withColumn("keep", F.col("crawl_id") == F.col("cluster_id")))
