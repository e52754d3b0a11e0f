"""Training-data pipeline operators: dedup, similarity, text analysis.

Mirrors the reference's operator-level golden style (SURVEY §5): small
deterministic inputs, independent expected values. The cross-engine
bit-parity of every oracle-checked query is covered by the driver
contract; these tests pin the *semantics* (blocking guarantees, duplicate
structure, stub arithmetic) independently of DuckDB.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from gdal_spark.dedup import (crawl_from_documents, dedup_exact,
                              minhash_neardup_pairs, ngram_jaccard_pairs,
                              simhash_neardup_pairs, simhash_table)
from gdal_spark.multimodal import _stub_fields, decode_stub_meta, decode_real
from gdal_spark.simsearch import aug_embeddings, brute_topk, neardup_pairs


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def crawl(docs):
    return crawl_from_documents(docs).cache()


def test_crawl_duplicate_structure(docs, crawl):
    n = docs.count()
    n_dup = docs.filter("doc_id % 5 = 2").count()
    n_near = docs.filter("doc_id % 7 = 3").count()
    assert crawl.count() == n + n_dup + n_near
    # every 'dup' crawl is byte-identical to its original
    by_kind = {r["crawl_kind"]: r["c"] for r in
               crawl.groupBy("crawl_kind").agg(F.count("*").alias("c"))
               .collect()}
    assert by_kind == {"orig": n, "dup": n_dup, "near": n_near}


def test_dedup_exact_matches_dup_synthesis(docs, crawl):
    groups = dedup_exact(crawl).collect()
    n_dup = docs.filter("doc_id % 5 = 2").count()
    # each %5==2 doc forms exactly one 2-member group (texts are unique)
    assert len(groups) == n_dup
    assert all(g["n_copies"] == 2 for g in groups)
    assert all(g["rep_id"] < 1000000 for g in groups)  # keeper = original


def test_minhash_catches_all_synthetic_neardups(docs, crawl):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_neardup_pairs(crawl).collect()}
    # exact duplicates: J = 1.0 exactly
    for r in docs.filter("doc_id % 5 = 2").select("doc_id").collect():
        d = r["doc_id"]
        assert pairs.get((d, d + 1000000)) == 1.0
    # near duplicates (one appended word): J = (w-2)/(w-1) >= 8/9 > 0.8
    for r in docs.filter("doc_id % 7 = 3").select("doc_id").collect():
        d = r["doc_id"]
        assert (d, d + 2000000) in pairs
        assert pairs[(d, d + 2000000)] >= 0.88


def test_simhash_banding_equals_quadratic(spark, crawl):
    """The 4×15-bit band join must find exactly the hamming≤3 pairs a
    quadratic scan finds (pigeonhole guarantee, not an approximation)."""
    sample = crawl.filter("crawl_id % 3 = 0")
    blocked = {(r["id_a"], r["id_b"], r["hamming"])
               for r in simhash_neardup_pairs(sample).collect()}
    s = simhash_table(sample).collect()
    quad = set()
    for i, a in enumerate(s):
        for b in s[i + 1:]:
            h = bin(a["simhash"] ^ b["simhash"]).count("1")
            if h <= 3:
                x, y = sorted((a["crawl_id"], b["crawl_id"]))
                quad.add((x, y, h))
    assert blocked == quad


def test_ngram_jaccard_bounds(crawl):
    rows = ngram_jaccard_pairs(crawl).collect()
    assert all(0.7 <= r["jaccard"] <= 1.0 for r in rows)
    exact = [r for r in rows if r["jaccard"] == 1.0]
    assert len(exact) >= 1


@pytest.fixture(scope="module")
def aug(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    return aug_embeddings(emb).cache()


def test_embed_neardup_is_exactly_the_perturbed_pairs(spark, aug):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    expect = {(r["vec_id"], r["vec_id"] + 100000)
              for r in emb.filter("vec_id % 4 = 1").collect()}
    got = {(r["vec_a"], r["vec_b"])
           for r in neardup_pairs(aug).collect()}
    assert got == expect  # natural pairs max out near cos 0.5
    for r in neardup_pairs(aug).collect():
        assert r["cosine"] > 0.99


def test_brute_topk_shape_and_order(aug):
    rows = brute_topk(aug, "vec_id % 100 = 0 and vec_id < 100000",
                      k=5).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r["vec_id"] != q for r in rs)


def test_ivf_recalls_near_duplicates(spark, aug):
    """Queries that have a perturbed twin (vec_id % 4 == 1) must retrieve
    it at rank 1 through the inverted lists — the near-dup lives in its
    original's list with near-certainty."""
    from gdal_spark.simsearch import ivf_topk

    out = ivf_topk(aug, "vec_id % 20 = 1 and vec_id < 100000",
                   k=5).toPandas()
    assert len(out) > 0
    rank1 = out[out["rank"] == 1].set_index("qid")
    n_hit = 0
    for qid, r in rank1.iterrows():
        if r["vec_id"] == qid + 100000:
            assert r["cosine"] > 0.99
            n_hit += 1
    assert n_hit >= 0.9 * len(rank1)


def test_lsh_topk_recall_and_fill(aug):
    """Sign-LSH ANN: (a) every query's result is fully ranked 1..k — the
    round-1 bug was 6-bit-starved buckets returning 11 of 50 rows; (b)
    queries with a perturbed twin (cos≈0.995) retrieve it at rank 1 in
    ≥90% of cases (hamming≤1 multiprobe misses a twin only when ≥2 of 6
    sketch bits flip, p≈0.011)."""
    from gdal_spark.simsearch import lsh_bucket_topk

    out = lsh_bucket_topk(aug, "vec_id % 100 = 0 and vec_id < 100000",
                          k=10).toPandas()
    per_q = out.groupby("qid")["rank"].agg(["count", "max"])
    assert (per_q["count"] == 10).all() and (per_q["max"] == 10).all()

    twins = lsh_bucket_topk(aug, "vec_id % 4 = 1 and vec_id < 100000",
                            k=3).toPandas()
    rank1 = twins[twins["rank"] == 1].set_index("qid")
    hits = sum(1 for qid, r in rank1.iterrows()
               if r["vec_id"] == qid + 100000 and r["cosine"] > 0.99)
    assert hits >= 0.9 * len(rank1) and len(rank1) > 0


def test_neardup_lsh_path_equals_bruteforce_and_never_crossjoins(aug):
    """The contract near-dup path (banded LSH candidates + exact verify)
    must emit exactly the all-pairs ground truth, from a plan with no
    cartesian/nested-loop join."""
    from gdal_spark.simsearch import neardup_pairs_bruteforce

    lsh = neardup_pairs(aug)
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {(r["vec_a"], r["vec_b"], r["cosine"]) for r in lsh.collect()}
    want = {(r["vec_a"], r["vec_b"], r["cosine"])
            for r in neardup_pairs_bruteforce(aug).collect()}
    assert got == want


def test_hillshade_kernel_bounds_and_flat():
    import numpy as np

    from gdal_spark.raster import hillshade_np

    flat = hillshade_np(np.zeros(5), np.zeros(5))
    import math
    expect = 1.0 + round(254.0 * math.sin(math.radians(45.0)))
    assert (flat == expect).all()
    rng = np.random.default_rng(7)
    hs = hillshade_np(rng.integers(-800, 800, 100),
                      rng.integers(-800, 800, 100))
    assert hs.min() >= 1 and hs.max() <= 255


def test_multimodal_stub_matches_md5_arithmetic(spark):
    from gdal_spark.pages import pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001").limit(20)
    out = {r["url"]: r for r in decode_stub_meta(pages).collect()}
    for r in pages.collect():
        h = hashlib.md5(bytes(r["html"])).hexdigest()
        w, ht, fr, feat = _stub_fields(h)
        got = out[r["url"]]
        assert (got["width"], got["height"], got["n_frames"]) == (w, ht, fr)
        assert got["feat"] == feat
        assert got["n_bytes"] == len(bytes(r["html"]))


def test_decode_real_is_explicitly_stubbed():
    with pytest.raises(NotImplementedError):
        decode_real(b"\x89PNG")


def test_multimodal_resize_and_frames(spark):
    """Resize emits fixed-dimension payloads whose digest chains from the
    input md5; frame sampling fans out every 2nd frame of the stub
    decode."""
    import hashlib

    from gdal_spark.multimodal import frame_sample_stub, resize_stub
    from gdal_spark.pages import pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    res = resize_stub(pages, 64, 48).toPandas()
    assert (res["width"] == 64).all() and (res["height"] == 48).all()
    assert (res["n_bytes"] == 48).all()
    raw = {r["url"]: bytes(r["html"])
           for r in pages.select("url", "html").collect()}
    sample = res.sample(5, random_state=1)
    for _, r in sample.iterrows():
        hexd = hashlib.md5(raw[r["url"]]).hexdigest()
        want = hashlib.md5((hexd * 2)[:48].encode("ascii")).hexdigest()
        assert r["resized_md5"] == want

    fr = frame_sample_stub(pages, step=2).toPandas()
    assert (fr["frame_idx"] % 2 == 0).all()
    assert fr.groupby("url").size().between(1, 4).all()
    assert ((fr["frame_feat"] >= 0) & (fr["frame_feat"] < 1)).all()


def test_neardup_clusters_chain_and_singletons(spark):
    """Components must close over chains (a-b, b-c => one cluster), not
    just direct pairs; untouched docs stay singleton keepers."""
    from pyspark.sql import functions as F

    from gdal_spark.dedup import neardup_clusters

    crawl = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 20)], "crawl_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 20)], "id_a long, id_b long") \
        .withColumn("jaccard", F.lit(1.0))
    got = {r["crawl_id"]: (r["cluster_id"], r["keep"])
           for r in neardup_clusters(crawl, pairs).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False),
                   4: (1, False), 10: (10, True), 20: (10, False)}


def test_boilerplate_segments_known_fixture(spark):
    """Known repeated 8-word segment across >=3 docs is flagged; unique
    tails are not; ratios follow."""
    from gdal_spark.textops import SPARK, boilerplate_sql, segments_sql

    boiler = "the quick brown fox jumps over lazy dogs"
    rows = [(i, boiler + f" unique tail words {i} a b c d", "en", "s", 1)
            for i in range(4)]
    rows.append((9, "entirely different words with no repeats here x y",
                 "en", "s", 1))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long").createOrReplaceTempView("documents")
    out = {r["crawl_id"]: (r["n_segments"], r["n_boiler"])
           for r in spark.sql(
               boilerplate_sql(SPARK))
           .collect() if r["crawl_id"] < 100}
    # 16 words -> 2 segments; the boiler segment flagged, the tail not
    assert all(v == (2, 1) for k, v in out.items() if k < 9)
    assert out[9] == (2, 0)  # 9 words -> 8-word segment + 1-word tail

    # segment split parity: 9 words -> segments of 8 + trailing 1
    segs = spark.sql(
        "select " + segments_sql("split('a b c d e f g h i', ' ')",
                                 8, SPARK) + " as s").collect()[0]["s"]
    assert segs == ["a b c d e f g h", "i"]


def test_decontaminate_flags_planted_copies(docs, crawl):
    """Decontamination: the eval split (crawl_id % 41 == 7) is flagged
    against the rest of the corpus — every planted byte-identical copy
    of an eval doc shows containment 1.0, the split sides never mix,
    and containment stays in (0, 1]."""
    from gdal_spark.dedup import decontaminate

    rows = decontaminate(crawl).collect()
    assert rows
    for r in rows:
        assert r["eval_id"] % 41 == 7
        assert r["corpus_id"] % 41 != 7
        assert 0.0 < r["containment"] <= 1.0
    got = {(r["eval_id"], r["corpus_id"]): r["containment"] for r in rows}
    planted = 0
    for r in docs.filter("doc_id % 5 = 2 and doc_id % 41 = 7") \
            .select("doc_id").collect():
        d = r["doc_id"]
        if (d + 1000000) % 41 != 7:
            assert got[(d, d + 1000000)] == 1.0
            planted += 1
    # dup copies whose ORIGINAL is in the corpus but the copy landed in
    # the eval split are flagged in the other direction
    for r in docs.filter("doc_id % 5 = 2 and (doc_id + 1000000) % 41 = 7") \
            .select("doc_id").collect():
        d = r["doc_id"]
        if d % 41 != 7:
            assert got[(d + 1000000, d)] == 1.0
            planted += 1
    assert planted >= 1


def test_pii_scan_injection_ground_truth(spark):
    """The PII scan's counts match the deterministic injection rule:
    exactly the doc_id % 7 == 0 docs carry one email, the
    doc_id % 11 == 0 docs one phone, and pii_chars equals the injected
    token lengths."""
    from gdal_spark import textops as T

    spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .createOrReplaceTempView("documents")
    df = spark.sql(T.pii_scan_sql(T.SPARK)).toPandas()
    assert (df["n_email"] == (df["doc_id"] % 7 == 0).astype(int)).all()
    assert (df["n_phone"] == (df["doc_id"] % 11 == 0).astype(int)).all()
    import numpy as np

    email_len = np.where(df["doc_id"] % 7 == 0,
                         df["doc_id"].astype(str).str.len() + 16, 0)
    phone_len = np.where(df["doc_id"] % 11 == 0, 12, 0)
    assert (df["pii_chars"] == email_len + phone_len).all()
    assert (df["has_pii"] == ((df["n_email"] > 0)
                              | (df["n_phone"] > 0))).all()


def test_stratified_sample_deterministic_and_rated(spark):
    """Sampling decisions are a pure function of doc_id (two runs are
    identical) and realized per-stratum rates track the permil targets
    within binomial-ish slack."""
    from gdal_spark import textops as T

    spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .createOrReplaceTempView("documents")
    a = spark.sql(T.stratified_sample_sql(T.SPARK)) \
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    b = spark.sql(T.stratified_sample_sql(T.SPARK)) \
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)
    for stratum, g in a.groupby("stratum"):
        lang = stratum.split("/")[0]
        target = T.SAMPLE_RATES_PERMIL.get(
            lang, T.SAMPLE_DEFAULT_PERMIL) / 1000.0
        rate = g["keep"].mean()
        assert abs(rate - target) < 0.25, (stratum, rate, target)
        assert (g["n_stratum"] == len(g)).all()
        assert (g["n_kept"] == g["keep"].sum()).all()


def test_sample_hash_defined_at_int64_scale(spark):
    """SAMPLE_HASH must stay overflow-free and engine-identical for ANY
    int64 doc_id (ADVICE r3: the unfolded doc_id * 2654435761 wrapped
    negative in Spark past ~3.5e9 — keep always true — while DuckDB
    raised overflow). Probe the extremes on both engines."""
    import duckdb

    from gdal_spark import textops as T

    ids = [0, 1, 3_499_999_999, 2**31 - 1, 2**32, 10**12,
           2**62, 2**63 - 1, -1, -(2**62)]
    vals = ", ".join(f"({i})" for i in ids)
    q = (f"select doc_id, {T.SAMPLE_HASH} as slot"
         f" from (values {vals}) as v(doc_id) order by doc_id")
    s = [(r["doc_id"], r["slot"]) for r in spark.sql(q).collect()]
    d = [tuple(r) for r in duckdb.connect().execute(q).fetchall()]
    assert s == d
    assert all(0 <= slot < 1000 for _, slot in s)


def test_tfidf_topterms_ranking_properties(spark):
    """Top-k term ranking is integer-deterministic: exactly k rows per
    doc (when the doc has >= k eligible terms), ranks 1..k, ordered by
    tf desc then df asc then term; tf/df are consistent with a direct
    recount on a sampled doc."""
    from gdal_spark import textops as T

    spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .createOrReplaceTempView("documents")
    df = spark.sql(T.tfidf_topterms_sql(T.SPARK)).toPandas()
    g = df.groupby("doc_id")
    assert (g["rank"].max() <= 5).all() and (g["rank"].min() == 1).all()
    for _, grp in list(g)[:10]:
        grp = grp.sort_values("rank")
        keys = list(zip(-grp["tf"], grp["df"], grp["term"]))
        assert keys == sorted(keys)
    # spot recount on one doc
    doc = spark.sql("select doc_id, text from documents limit 1").collect()[0]
    import re
    toks = [t for t in re.split(r"[^a-z0-9]+", doc["text"].lower())
            if len(t) >= 3]
    top = df[df["doc_id"] == doc["doc_id"]].sort_values("rank")
    from collections import Counter
    c = Counter(toks)
    assert int(top.iloc[0]["tf"]) == max(c.values())


# ---------------------------------------------------------------------------
# Sequence packing + bigram novelty (round 5): semantics pinned against
# pure-Python brute force on a tiny handmade corpus, independent of the
# dual-dialect SQL both engines share.
# ---------------------------------------------------------------------------

def _tiny_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_pack_sequences_matches_bruteforce_concat(spark):
    from gdal_spark import textops

    texts = ["a b c", "d e f g h", "i", "j k l m n o p q r s",
             "t u", "v w x y z a b", "c", "d e"]
    _tiny_docs(spark, texts).createOrReplaceTempView("documents")
    ctx, bucket = 4, 3
    got = {r["doc_id"]: r for r in spark.sql(
        textops.pack_sequences_sql(textops.SPARK,
                                   ctx=ctx, bucket=bucket)).collect()}
    # brute force: one global stream, n_tok = words + 1 EOS
    off = 0
    for i, t in enumerate(texts):
        n = len(t.split()) + 1
        r = got[i]
        assert r["n_tokens"] == n
        assert r["start_off"] == off
        assert r["seq_first"] == off // ctx
        assert r["seq_last"] == (off + n - 1) // ctx
        assert r["n_seqs"] == (off + n - 1) // ctx - off // ctx + 1
        off += n
    # bucketed two-level scan must equal the naive single scan for any
    # bucket size, including one larger than the corpus
    got1 = sorted(spark.sql(textops.pack_sequences_sql(
        textops.SPARK, ctx=ctx, bucket=1000)).collect())
    gotb = sorted(got.values())
    assert got1 == gotb


def test_pack_sequences_window_is_bucket_partitioned(spark):
    """The corpus-wide window must be partitioned (parallel); only the
    bucket-totals window may be global."""
    from gdal_spark import textops

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("documents")
    plan = spark.sql(textops.pack_sequences_sql(
        textops.SPARK))._jdf.queryExecution() \
        .executedPlan().toString()
    # one window partitioned by the bucket key, one global over btot
    assert plan.count("Window") >= 2
    assert "partitionBy=[b" in plan.replace("#", "").replace("L]", "]") \
        or "[b#" in plan


def test_bigram_novelty_matches_bruteforce(spark):
    from collections import Counter

    from gdal_spark import textops

    texts = ["the cat sat", "the cat ran", "a dog ran fast",
             "the cat sat", "lonely"]
    _tiny_docs(spark, texts).createOrReplaceTempView("documents")
    got = {r["doc_id"]: r for r in spark.sql(
        textops.bigram_novelty_sql(textops.SPARK)).collect()}
    per_doc = [set(f"{a} {b}" for a, b in
                   zip(t.split(), t.split()[1:])) for t in texts]
    df = Counter(bg for s in per_doc for bg in s)
    for i, s in enumerate(per_doc):
        if not s:  # <2 tokens: no bigram row
            assert i not in got
            continue
        r = got[i]
        assert r["n_bigrams"] == len(s)
        assert r["unique_bigrams"] == sum(df[b] == 1 for b in s)
        assert r["sum_df"] == sum(df[b] for b in s)
        assert r["max_df"] == max(df[b] for b in s)
        assert r["novelty_pct"] == \
            100 * sum(df[b] == 1 for b in s) // len(s)
    assert 4 not in got  # "lonely" has no bigrams


def test_geotiff_tile_partials_matches_bruteforce(spark):
    """The in-kernel tile binning over decoded geotransforms equals a
    per-pixel numpy brute force, and the executed plan pays exactly
    two exchanges (id spread + tile-key agg) — the pixels themselves
    never shuffle."""
    import numpy as np

    from gdal_spark.multimodal import (_synth_geotiff,
                                       geotiff_tile_partials,
                                       synth_geotiff_payloads)

    T = 120.0
    ids = spark.range(25).selectExpr("id as doc_id").repartition(4)
    out = geotiff_tile_partials(synth_geotiff_payloads(ids), T) \
        .groupBy("tile_x", "tile_y") \
        .agg({"n_px": "sum", "val_sum": "sum"}) \
        .withColumnRenamed("sum(n_px)", "n_px") \
        .withColumnRenamed("sum(val_sum)", "val_sum")
    got = {(r["tile_x"], r["tile_y"]): (r["n_px"], r["val_sum"])
           for r in out.collect()}

    exp: dict[tuple[int, int], list[int]] = {}
    for did in range(25):
        px, gt, _, _, _, _ = _synth_geotiff(did)
        h, w = px.shape
        for r in range(h):
            for c in range(w):
                x = gt[0] + (c + 0.5) * gt[1]
                y = gt[3] + (r + 0.5) * gt[5]
                k = (int(np.floor(x / T)), int(np.floor(y / T)))
                acc = exp.setdefault(k, [0, 0])
                acc[0] += 1
                acc[1] += int(px[r, c])
    assert got == {k: tuple(v) for k, v in exp.items()}

    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE prints the plan twice (Final + Initial); count one section
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") <= 2
    assert "Cartesian" not in plan


# ---------------------------------------------------------------------------
# ExactSubstr dedup spans (Lee et al. 2022) — brute-force pinned semantics
# ---------------------------------------------------------------------------


def _brute_substr_spans(texts, L=8):
    """Independent transcription of the ExactSubstr definition: count
    every L-token window occurrence across all (id, pos) locations,
    mark positions whose window text repeats, merge positions closer
    than L into maximal spans."""
    from collections import Counter

    toks = {i: t.split() for i, t in texts.items()}
    occ = Counter()
    for ts in toks.values():
        for p in range(len(ts) - L + 1):
            occ[" ".join(ts[p:p + L])] += 1
    spans = []
    for i, ts in toks.items():
        hits = [p for p in range(len(ts) - L + 1)
                if occ[" ".join(ts[p:p + L])] >= 2]
        run = []
        for p in hits:
            if run and p - run[-1] >= L:
                spans.append((i, run[0], run[-1] + L - 1,
                              run[-1] - run[0] + L, len(run)))
                run = []
            run.append(p)
        if run:
            spans.append((i, run[0], run[-1] + L - 1,
                          run[-1] - run[0] + L, len(run)))
    return sorted(spans)


def test_substring_spans_brute_parity(spark):
    """Engine output == the brute-force transcription on a corpus with a
    shared 8-gram across two docs, a within-doc repeat, an exact pair,
    and a too-short doc."""
    import gdal_spark.textops as textops

    phrase = "the quick brown fox jumps over the lazy"
    texts = {
        # doc_id % 5 == 2 / % 7 == 3 avoided so crawl_sql adds no copies
        1: phrase + " dog and then it ran away fast tonight ok",
        4: "intro words here now " + phrase + " dusk settles in",
        6: "alpha beta gamma delta " + ("one two three four five six "
                                        "seven eight " * 2) + "tail",
        9: "short doc only",
        11: "totally unique sentence with eleven distinct words "
            "nothing repeats anywhere in this corpus today friend",
    }
    # crawl table = orig rows only for these ids
    expected = _brute_substr_spans(texts)
    rows = [(i, t, "en") for i, t in texts.items()]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .createOrReplaceTempView("documents")
    out = spark.sql(textops.substr_dup_spans_sql(textops.SPARK))
    got = sorted((r.crawl_id, r.span_start, r.span_end, r.span_tokens,
                  r.n_windows) for r in out.collect())
    assert got == expected
    # the shared phrase spans both docs; the within-doc repeat of doc 6
    # produces one merged span; docs 9/11 contribute nothing
    assert {s[0] for s in got} == {1, 4, 6}


def test_substring_spans_window_is_doc_partitioned(spark):
    """The gaps-and-islands window must run PARTITIONED BY crawl_id —
    a global (unpartitioned) sort window would serialize the corpus
    through one task at 100 TB."""
    import gdal_spark.textops as textops

    spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .createOrReplaceTempView("documents")
    plan = spark.sql(textops.substr_dup_spans_sql(
        textops.SPARK))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "windowspecdefinition(crawl_id" in plan
    import re
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert m.group(1).startswith("crawl_id"), m.group(0)


def test_paragraph_dedup_keeper_semantics(spark):
    """CCNet paragraph dedup: repeated segments drop all but the first
    (crawl_id, seg_idx) occurrence; unique segments never appear."""
    import gdal_spark.textops as textops

    seg = "w1 w2 w3 w4 w5 w6 w7 w8"          # one exact 8-word segment
    texts = {
        # ids avoid %5==2 / %7==3 so crawl_sql adds no extra copies
        1: seg + " unique tail one two three four five six",
        4: seg + " other words go here now ok yes no",
        6: "completely different text with eight words here "
           "and eight more distinct words after that",
    }
    rows = [(i, t, "en") for i, t in texts.items()]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .createOrReplaceTempView("documents")
    out = spark.sql(textops.dedup_paragraph_sql(textops.SPARK))
    got = sorted((r.crawl_id, r.seg_idx, r.keeper_id, r.keeper_idx)
                 for r in out.collect())
    # doc 4's first segment == doc 1's first segment -> dropped, keeper
    # is (1, 0); everything else is unique
    assert got == [(4, 0, 1, 0)]


def test_url_canonicalize_rules(spark):
    """Every normalization rule pinned on hand-computed doc_ids."""
    import gdal_spark.textops as textops

    rows = [(i, "t", "en") for i in (0, 1, 2, 5, 6, 7, 16, 21, 30)]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .createOrReplaceTempView("documents")
    out = {r.doc_id: r.url_canon for r in
           spark.sql(textops.url_canonicalize_sql(
               textops.SPARK)).collect()}
    # doc 0: https, WWW., Site0.Example, :443, /a/0/, no query
    assert out[0] == "https://site0.example/a/0"
    # doc 1: HTTPS scheme, site1, /a/1, ?id=1&utm_* -> id kept, #sec
    assert out[1] == "https://site1.example/a/1?id=1"
    # doc 2: http scheme, utm-only query (%7==2) -> query dropped,
    # trailing slash (%2==0) trimmed
    assert out[2] == "http://site2.example/a/2"
    # doc 5: https + :443 never emitted (%4==1 -> HTTPS), trailing #sec
    assert out[5] == "https://site5.example/a/5"
    # doc 6: WWW. + :80 on http? (%4==2 -> http, %5==1 -> :80) -> doc 6
    # is %4==2 and %5==1: http://WWW.Site6...:80 -> stripped
    assert out[6] == "http://site6.example/a/6"
    # doc 16: %3==1 query with id=6 kept, utm stripped
    assert out[16] == "https://site16.example/a/16?id=6"
    # all nine hand-picked ids canonicalize to distinct URLs
    assert len(set(out.values())) == len(out)


def test_kmeans_matches_numpy_lloyd(spark):
    """The unrolled SQL k-means equals an independent numpy
    transcription of quantized Lloyd (init = k smallest vec_ids,
    integer-deterministic means, ties to the lower cid)."""
    import numpy as np

    import gdal_spark.simsearch as simsearch

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").orderBy("vec_id")
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    k, q = 8, 1e6
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    C = V[:k].copy()
    for rnd in range(3):
        d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        # the SQL computes n2 - 2 dot + cn2 (same value up to fp); use
        # argmin with lower-cid ties, matching order by dist, cid
        assign = d.argmin(axis=1)
        if rnd == 2:
            break
        for c in range(k):
            sel = V[assign == c]
            C[c] = np.round(sel * q).sum(axis=0) / q / len(sel)

    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .createOrReplaceTempView("embeddings")
    out = spark.sql(simsearch.kmeans_sql(simsearch.SPARK))
    got = {r.vec_id: r.cluster for r in out.collect()}
    expected = {int(i): int(a) for i, a in zip(ids, assign)}
    assert got == expected


def test_robots_longest_match_semantics(spark):
    """RFC 9309 longest-match pinned: blanket Disallow '/a/' blocks
    h%3==0 hosts, the longer Allow '/a/1' un-blocks /a/1x paths on
    h%6==0 hosts, unlisted hosts default to allowed."""
    import gdal_spark.textops as textops

    # doc_id drives host (doc_id % 50) and path (/a/<doc_id % 20>)
    rows = [(i, "t", "en") for i in (
        3,    # host site3 (3%3==0 -> disallow /a/): path /a/3 BLOCKED
        6,    # host site6 (6%6==0): path /a/6 blocked (allow /a/1 no match)
        46,   # host site46 (46%3 != 0): allowed by default
        12,   # host site12 (12%6==0): path /a/12 starts '/a/1' -> ALLOWED
        112,  # host site12, path /a/12 -> allowed (same rules)
        66,   # host site16 (66%50=16, 16%3!=0): default allowed
    )]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .createOrReplaceTempView("documents")
    out = {r.doc_id: (r.allowed, r.matched_prefix) for r in
           spark.sql(textops.robots_filter_sql(
               textops.SPARK)).collect()}
    assert out[3] == (0, "/a/")
    assert out[6] == (0, "/a/")
    assert out[46] == (1, "")
    assert out[12] == (1, "/a/1")
    assert out[112] == (1, "/a/1")
    assert out[66] == (1, "")


def test_sitemap_coverage_reconciliation(spark):
    """Sitemap coverage pinned against hand-derived truth for one host:
    host h lists k in 0..14+h%10 minus the withheld (h+k)%7==3 lane;
    the crawl visits /a/<doc_id%20> on host <doc_id%50>. Counts are
    re-derived in Python, not via the SQL under test."""
    import gdal_spark.textops as textops

    rows = [(i, "t", "en") for i in (7, 57, 107, 24, 74)]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .createOrReplaceTempView("documents")
    out = {r.host: r for r in
           spark.sql(textops.sitemap_coverage_sql(
               textops.SPARK)).collect()}

    for h, crawled in ((7, {7, 17}), (24, {4, 14})):
        listed = [k for k in range(15 + h % 10) if (h + k) % 7 != 3]
        exp_sitemap = len(listed)
        exp_crawled = len(crawled & set(listed))
        exp_gap = exp_sitemap - exp_crawled
        exp_offmap = len(crawled - set(listed))
        exp_pri = 100 * sum(1 + (k * (h + 1)) % 9 for k in listed)
        exp_lastmod = max(
            "2026-%02d-%02d" % (1 + (h + k) % 12, 1 + (h * 7 + k * 3) % 28)
            for k in listed)
        r = out[f"site{h}.example"]
        assert (r.n_sitemap, r.n_crawled, r.n_gap, r.n_offmap) == \
            (exp_sitemap, exp_crawled, exp_gap, exp_offmap), (h, r)
        assert r.pri_milli_sum == exp_pri
        assert r.max_lastmod == exp_lastmod
    # Every host publishes a sitemap whether or not the crawl reached
    # it; uncrawled hosts report pure gap (n_crawled = n_offmap = 0).
    assert len(out) == 50
    r0 = out["site0.example"]
    assert (r0.n_crawled, r0.n_offmap) == (0, 0)
    assert r0.n_gap == r0.n_sitemap


def test_dsir_importance_selection_pressure(spark):
    """DSIR pinned on a constructed corpus: docs made of words that
    dominate the lang='en' target slice must outscore docs of words
    the target never uses, and exactly n/4 docs are kept, highest
    weights first (ties impossible by construction)."""
    import gdal_spark.textops as textops

    en = "alpha beta gamma delta"
    de = "zug vogel wald berg"
    rows = (
        # 4 target docs establish the target distribution
        [(i, en, "en") for i in range(4)] +
        # 2 raw-only docs reusing target words -> high weight
        [(10, en, "de"), (11, "alpha beta alpha beta", "de")] +
        # 6 raw-only docs of non-target words -> low weight
        [(20 + i, de, "de") for i in range(6)])
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .createOrReplaceTempView("documents")
    out = {r.doc_id: r for r in
           spark.sql(textops.dsir_importance_sql(
               textops.SPARK)).collect()}

    assert len(out) == 12
    assert sum(r.kept for r in out.values()) == 3  # 12 // 4
    target_word_docs = [out[i].w_nano for i in (0, 1, 2, 3, 10, 11)]
    nontarget_docs = [out[i].w_nano for i in range(20, 26)]
    assert min(target_word_docs) > max(nontarget_docs)
    # the kept set is exactly 3 of the target-word docs
    kept_ids = {i for i, r in out.items() if r.kept}
    assert kept_ids <= {0, 1, 2, 3, 10, 11}
    # resume-stability: integer weights are identical on re-run
    out2 = {r.doc_id: r.w_nano for r in
            spark.sql(textops.dsir_importance_sql(
                textops.SPARK)).collect()}
    assert out2 == {i: r.w_nano for i, r in out.items()}


def test_html_extract_byte_identical(spark):
    """The north-rule invariant: extraction recovers the page text
    byte-for-byte, independently re-derived in Python (not via the
    shared SQL), including texts containing raw '&'/'<'/'>' and
    literal entity spellings."""
    import hashlib

    import gdal_spark.textops as textops

    texts = {
        0: "short",
        1: "ab&<> x" * 40,                       # raw specials, long
        2: "mid &amp; <tag> literal entities and more text that goes "
           "past one hundred twenty characters so segment three is "
           "nonempty too yes",
        3: "",                                    # empty text
    }
    rows = [(i, t, "en") for i, t in texts.items()]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .createOrReplaceTempView("documents")
    out = {r.doc_id: r for r in
           spark.sql(textops.html_extract_sql(
               textops.SPARK)).collect()}
    assert len(out) == len(texts)
    for i, t in texts.items():
        expected = t[:40] + "\n" + t[40:120] + "\n" + t[120:] + "\n"
        r = out[i]
        assert r.byte_identical, f"doc {i} extraction not byte-identical"
        assert r.text_len == len(expected)
        assert r.text_md5 == hashlib.md5(expected.encode()).hexdigest()
        # html is strictly larger than the text it wraps and carries
        # the markup the extractor must remove
        assert r.html_len > len(t)


def test_html_extract_strip_order_is_load_bearing(spark):
    """The synthesized markup contains raw '<'/'&' inside script
    bodies and a fake tag inside a comment: a tag-strip-first pipeline
    would leak 'not text' / script fragments. Pin that none of the
    markup decoys survive extraction."""
    import gdal_spark.textops as textops

    spark.createDataFrame([(42, "hello world", "en")],
                          "doc_id long, text string, lang string") \
        .createOrReplaceTempView("documents")
    # rebuild the extracted text itself (not just its md5) by running
    # the stage chain with the final text exposed
    html = textops.rich_html_sql("text")
    stages = textops.html_extract_stages(textops.SPARK)
    stage_sql = ",\n".join(f"{e} as {n}" for n, e in stages)
    row = spark.sql(f"""
        with rh as (select doc_id, text, {html} as html_str
                    from documents)
        select extracted from (select *, {stage_sql} from rh) t
    """).collect()[0]
    extracted = row.extracted
    assert extracted == "hello world\n\n\n"
    for decoy in ("not text", "document.write", "n=n+1", "Doc 42",
                  "margin:0", "ad", "robots"):
        assert decoy not in extracted


def test_warc_ingest_record_arithmetic(spark):
    """One hand-computed record: the declared Content-Length must be
    the exact HTTP-block length, the payload must round-trip
    byte-for-byte, and the record terminator must land where the
    declared length says (length_ok)."""
    import hashlib

    import gdal_spark.textops as textops

    text = "hello warc world"
    spark.createDataFrame([(3, text, "en")],
                          "doc_id long, text string, lang string") \
        .createOrReplaceTempView("documents")
    r = spark.sql(textops.warc_ingest_sql(
        textops.SPARK)).collect()[0]
    payload = f"<html><body><p>{text}</p></body></html>"
    http_block = ("HTTP/1.1 200 OK\r\n"
                  "Content-Type: text/html; charset=utf-8\r\n"
                  "\r\n" + payload)
    assert r.file_id == 3
    assert r.url == "https://site3.example/p/3"
    assert r.warc_type == "response"
    assert r.warc_epoch == 1735689600 + 3 * 7
    assert r.status == 200
    assert r.mime == "text/html"
    assert r.content_length == len(http_block)
    assert r.payload_len == len(payload)
    assert r.payload_md5 == hashlib.md5(payload.encode()).hexdigest()
    assert r.length_ok


def test_warc_ingest_multirecord_files_lossless(spark):
    """Records grouped into shared file blobs (doc_id % WARC_FILES)
    split back losslessly: every input url appears exactly once and
    every declared length verifies."""
    import gdal_spark.textops as textops

    n = 120
    rows = [(i, f"document body {i} " * (1 + i % 5), "en")
            for i in range(n)]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .createOrReplaceTempView("documents")
    out = spark.sql(textops.warc_ingest_sql(
        textops.SPARK)).collect()
    assert len(out) == n
    assert {r.url for r in out} == {
        f"https://site{i % 100}.example/p/{i}" for i in range(n)}
    assert all(r.length_ok for r in out)
    # several records really do share one file blob
    files = {r.file_id for r in out}
    assert len(files) == textops.WARC_FILES


def test_charset_decode_lanes_match_python_codecs(spark):
    """Independent oracle: rebuild each lane's bytes with Python's
    codecs and check the engine's sniff + decode verdicts, including
    the mislabeled lane's deterministic mojibake."""
    import hashlib

    from gdal_spark.queries.textpipe import q_crawl_charset_decode

    import tempfile

    rows = [(i, f"payload {i} with words", "en") for i in range(8)]
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out = {r.doc_id: r for r in
           q_crawl_charset_decode(spark, tmp).collect()}
    for i, text, _ in rows:
        meta = {0: '<meta charset="utf-8">',
                1: '<meta charset="iso-8859-1">',
                2: "", 3: '<meta charset="iso-8859-1">'}[i % 4]
        html = (f"<html><head>{meta}</head><body><p>\xe9\xb0 {text}"
                f"</p></body></html>")
        enc = {0: html.encode("utf-8"),
               1: html.encode("iso-8859-1"),
               2: b"\xff\xfe" + html.encode("utf-16-le"),
               3: html.encode("utf-8")}[i % 4]
        r = out[i]
        assert r.n_bytes == len(enc)
        if i % 4 == 2:
            assert r.sniffed == "utf-16le"
            decoded = enc[2:].decode("utf-16-le")
        elif i % 4 == 0:
            assert r.sniffed == "utf-8"
            decoded = enc.decode("utf-8")
        else:
            assert r.sniffed == "iso-8859-1"
            decoded = enc.decode("iso-8859-1")  # lane 3: mojibake
        assert r.text_md5 == hashlib.md5(
            decoded.encode("utf-8")).hexdigest()
        assert r.decode_ok
        if i % 4 == 3:
            assert decoded != html and "\xc3\xa9" in decoded


def test_cdx_offsets_address_the_real_blob(spark):
    """The CDX (file_id, rec_offset, rlen) triple must address the
    actual bytes in the serialized WARC blob: substr(blob,
    rec_offset+1, rlen) re-extracts exactly one record that starts
    'WARC/1.0', names the SURT'd url, and whose payload hashes to the
    row's digest."""
    import hashlib

    import gdal_spark.textops as textops

    rows = [(i, f"body text {i} " * (1 + i % 4), "en") for i in range(80)]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .createOrReplaceTempView("documents")
    cdx = spark.sql(textops.cdx_index_sql(
        textops.SPARK)).collect()
    assert len(cdx) == 80
    # rebuild the blobs the same way warc_ingest does
    blobs = {r.file_id: r.blob for r in spark.sql(f"""
        with {textops.warc_records_cte()}
        select file_id,
               array_join(transform(array_sort(collect_list(
                 struct(doc_id, rec))), x -> x.rec), '') as blob
        from recs0 group by file_id""").collect()}
    for r in cdx:
        rec = blobs[r.file_id][r.rec_offset:r.rec_offset + r.rlen]
        assert rec.startswith("WARC/1.0\r\n")
        assert rec.endswith("\r\n\r\n")
        # surt key round-trips to the record's target URI
        host_rev, path = r.surt_key.split(")", 1)
        host = ".".join(reversed(host_rev.split(",")))
        assert f"WARC-Target-URI: https://{host}{path}\r\n" in rec
        payload = rec.split("\r\n\r\n")[2]
        assert hashlib.md5(payload.encode()).hexdigest() == r.digest
    # offsets tile each blob exactly
    per_file: dict = {}
    for r in cdx:
        per_file.setdefault(r.file_id, []).append((r.rec_offset, r.rlen))
    for fid, spans in per_file.items():
        spans.sort()
        assert spans[0][0] == 0
        for (o1, l1), (o2, _) in zip(spans, spans[1:]):
            assert o1 + l1 == o2
        assert spans[-1][0] + spans[-1][1] == len(blobs[fid])


def test_gopher_rules_signals_hand_computed(spark):
    """Each Gopher signal pinned on a hand-built doc; verdict flips on
    exactly the violated rule."""
    import tempfile

    import gdal_spark.textops as textops
    from gdal_spark.queries.textpipe import q_text_gopher_rules

    good = " ".join(["join", "hash", "data"] + ["word"] * 60)  # 63 words
    short = "join hash data word"                              # 4 words
    symbols = " ".join(["join", "hash"] + ["###"] * 70)        # symbol-heavy
    numeric = " ".join(["join", "hash"] + ["123"] * 70)        # low alpha
    nostop = " ".join(["word"] * 80)                           # 0 stop hits
    rows = [(0, good, "en"), (1, short, "en"), (2, symbols, "en"),
            (3, numeric, "en"), (4, nostop, "en")]
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out = {r.doc_id: r for r in q_text_gopher_rules(spark, tmp).collect()}
    assert out[0].keep
    assert out[0].n_words == 63
    assert out[0].stop_hits == 3
    assert abs(out[0].mean_word_len
               - (4 * 2 + 4 + 4 * 60) / 63) < 1e-6
    assert out[0].alpha_word_frac == 1.0
    assert not out[1].keep          # < 50 words
    assert not out[2].keep          # symbol ratio >= 0.1
    assert out[2].symbol_ratio > 0.5
    assert not out[3].keep          # alpha fraction <= 0.8
    assert out[3].alpha_word_frac < 0.05
    assert not out[4].keep          # stop hits < 2
    assert out[4].stop_hits == 0
    assert len(textops.GOPHER_STOPWORDS) == 8


def test_mixture_sample_temperature_and_determinism(spark):
    """alpha=0.5 budgets: a source with 4x the char mass gets only 2x
    the budget; the realized sample is a pure function of doc_id
    (identical across re-runs)."""
    import tempfile

    from gdal_spark.queries.textpipe import q_train_mixture_sample

    rows = []
    for i in range(400):
        src = "big" if i % 4 else "small"   # big: 300 docs, small: 100
        rows.append((i, "x" * 100, "en", src, 100))
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long") \
        .write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out = q_train_mixture_sample(spark, tmp).toPandas()
    tgt = out.drop_duplicates("source").set_index("source").target_n
    # mass ratio 3:1 -> weight ratio sqrt(3):1 ~ 1.73, NOT 3
    assert 1.5 < tgt["big"] / tgt["small"] < 2.0
    assert out.keep.sum() == out[out.keep].doc_id.nunique()
    again = q_train_mixture_sample(spark, tmp).toPandas()
    kept1 = set(out[out.keep].doc_id)
    kept2 = set(again[again.keep].doc_id)
    assert kept1 == kept2 and len(kept1) > 0


def test_sq8_quantized_recall_vs_float_baseline(spark):
    """What int8 quantization actually guarantees on a random-vector
    fixture (where the top-10 tail is all near-ties): clear winners
    survive — every float top-3 neighbor stays inside the SQ8 top-10
    and every perturbed twin ranks 1 — while the near-tie tail may
    reshuffle (mean recall@10 stays >= 0.7; measured ~0.8, the honest
    SQ8 number when neighbor margins are below the quantization
    noise)."""
    from gdal_spark.queries.textpipe import (ANN_QUERY_FILTER,
                                             q_embed_sq8_topk)
    from gdal_spark.simsearch import aug_embeddings, brute_topk

    sf = "/root/testdata/sf0.01"
    sq = q_embed_sq8_topk(spark, sf).toPandas()
    assert (sq.qdot.abs() <= 127 * 127 * 64).all()
    aug = aug_embeddings(spark.read.parquet(f"{sf}/embeddings.parquet"))
    fl = brute_topk(aug, ANN_QUERY_FILTER, k=10).toPandas()
    recalls, top3_hits = [], []
    for qid, grp in fl.groupby("qid"):
        got = set(sq[sq.qid == qid].vec_id)
        want = set(grp.vec_id)
        recalls.append(len(want & got) / len(want))
        top3 = set(grp[grp["rank"] <= 3].vec_id)
        top3_hits.append(len(top3 & got) / len(top3))
    assert sum(recalls) / len(recalls) >= 0.7
    assert sum(top3_hits) / len(top3_hits) >= 0.9
    # the float winner survives quantization at rank 1 for >= 80% of
    # queries (rank-1 margins are the largest in the fixture)
    sq1 = sq[sq["rank"] == 1].set_index("qid").vec_id
    fl1 = fl[fl["rank"] == 1].set_index("qid").vec_id
    agree = sum(1 for q in fl1.index if sq1[q] == fl1[q])
    assert agree >= 0.8 * len(fl1)


def test_geojson_roundtrip_and_shoelace(spark):
    """GeoJSON parse pinned against the synthesis contract: name/cls
    round-trip, Point coordinates equal the synth microdegrees, the
    polygon shoelace area equals the closed-form rectangle area."""
    import json

    from gdal_spark import geojson as G
    from gdal_spark.pages import points_from_documents

    sf = "/root/testdata/sf0.001"
    spark.read.parquet(f"{sf}/documents.parquet") \
        .createOrReplaceTempView("documents")
    out = {r.doc_id: r for r in spark.sql(
        G.geojson_ingest_sql(G.SPARK)).collect()}
    pts = {r.doc_id: r for r in
           points_from_documents(spark, sf, geotagged_only=False)
           .collect()}
    assert len(out) == len(pts)
    for did, r in out.items():
        assert r.name == f"p{did}" and r.cls == did % 7
        assert r.x0_mic == pts[did].lon_mic
        assert r.y0_mic == pts[did].lat_mic
        if did % 3 == 0:
            assert r.gtype == "Polygon" and r.n_vertices == 5
            w = 10000 + (did % 50) * 1000
            h = 8000 + (did % 30) * 1000
            assert abs(r.area_deg2 - w * h / 1e12) < 1e-15
        else:
            assert r.gtype == "Point" and r.n_vertices == 0
            assert r.area_deg2 == 0.0
    # the synthesized features are themselves valid JSON documents
    row = spark.sql(f"""
        with p as (select doc_id, 0 as _z from documents limit 1)
        select {G.geojson_feature_sql()} as f
        from (select doc_id,
                     cast(doc_id as bigint) * 0 + 1 as lon_mic,
                     2 as lat_mic from documents limit 3) t
    """).collect()
    for x in row:
        parsed = json.loads(x.f)
        assert parsed["type"] == "Feature"
        assert parsed["geometry"]["type"] in ("Point", "Polygon")


def test_kml_coordinates_roundtrip_exactly(spark):
    """KML parse pinned against pages synthesis: every placemark's
    name/cls round-trips and the decimal-degree string assembly +
    reparse reconstitutes the microdegree integers EXACTLY, including
    negatives and |value| < 1 degree (the '-0.xxxxxx' case)."""
    from gdal_spark import kml as K
    from gdal_spark.pages import points_from_documents

    sf = "/root/testdata/sf0.001"
    spark.read.parquet(f"{sf}/documents.parquet") \
        .createOrReplaceTempView("documents")
    out = spark.sql(K.kml_ingest_sql(K.SPARK)).collect()
    pts = {r.doc_id: r for r in
           points_from_documents(spark, sf, geotagged_only=False)
           .collect()}
    assert len(out) == len(pts)
    seen_small = False
    for r in out:
        did = int(r.name[1:])
        assert r.file_id == did % K.KML_FILES
        assert r.cls == did % 7
        assert r.lon_mic == pts[did].lon_mic
        assert r.lat_mic == pts[did].lat_mic
        if abs(r.lat_mic) < 1000000 or abs(r.lon_mic) < 1000000:
            seen_small = True
    # the fixture must actually exercise the sub-degree case
    assert seen_small


def test_ccnet_buckets_order_and_balance(spark):
    """Bucketing semantics pinned on a constructed corpus: docs made
    of only the most common word score lowest NLL (head); docs of
    unique words score highest (tail); terciles balance to n/3."""
    import tempfile

    from gdal_spark.queries.textpipe import q_text_ccnet_ppl_bucket

    rows = []
    for i in range(30):
        if i < 10:
            text = "common " * 20            # high-freq -> low NLL
        elif i < 20:
            text = "common " * 10 + " ".join(f"mid{i}_{j}"
                                             for j in range(10))
        else:
            text = " ".join(f"rare{i}_{j}" for j in range(20))
        rows.append((i, text.strip(), "en"))
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out = {r.doc_id: r for r in
           q_text_ccnet_ppl_bucket(spark, tmp).collect()}
    assert len(out) == 30
    from collections import Counter

    c = Counter(r.bucket for r in out.values())
    assert c == {"head": 10, "middle": 10, "tail": 10}
    for i in range(10):
        assert out[i].bucket == "head"
        assert out[i + 20].bucket == "tail"
    # NLL ordering matches construction
    assert max(out[i].nll_nano for i in range(10)) < \
        min(out[i + 20].nll_nano for i in range(10))


def test_geocode_from_html_chain_invariants(spark):
    """The end-to-end bytes->text->geotag->cell chain: every row is
    byte-identical after extraction, every geotag is recovered
    exactly, and the assigned cell equals cells.cell_id_np evaluated
    on the synthesis-truth coordinates."""
    import numpy as np

    from gdal_spark.cells import cell_id_np
    from gdal_spark.pages import points_from_documents
    from gdal_spark.queries.textpipe import q_crawl_geocode_from_html

    sf = "/root/testdata/sf0.001"
    out = {r.doc_id: r for r in
           q_crawl_geocode_from_html(spark, sf).collect()}
    pts = {r.doc_id: r for r in
           points_from_documents(spark, sf, geotagged_only=False)
           .collect()}
    assert len(out) == len(pts)
    n_geo = 0
    for did, r in out.items():
        assert r.byte_identical, did
        assert r.geo_match, did
        if r.has_geo:
            n_geo += 1
            want = cell_id_np(np.array([pts[did].lon_mic / 1e6]),
                              np.array([pts[did].lat_mic / 1e6]), 8)[0]
            assert r.cell_id == want
        else:
            assert r.cell_id is None and r.lat_x is None
    assert 0.5 < n_geo / len(out) < 0.7  # the ~60% geotag mixture


def test_pagerank_matches_python_transcription(spark):
    """Integer PageRank pinned against an independent Python
    transcription of the synthesis + power iteration (truncating //
    everywhere), on a small constructed corpus."""
    import tempfile

    from gdal_spark.queries.textpipe import q_crawl_pagerank

    n = 12
    rows = [(i, "t", "en") for i in range(n)]
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out = {r.host: r for r in q_crawl_pagerank(spark, tmp).collect()}

    # independent transcription of the href synthesis (n_hosts=50)
    from collections import Counter
    edges = Counter()
    for d in range(n):
        src = f"site{d % 50}.example"
        dsts = [f"site{(d * 7 + 13) % 50}.example", src]  # abs one + rel
        if d % 3 != 1:
            dsts.append(f"site{(d * 11 + 29) % 50}.example")
        if d % 5 == 0:
            dsts.append(f"site{(d * 3 + 41) % 50}.example")
        for t in dsts:
            if t != src:
                edges[(src, t)] += 1
    hosts = sorted({s for s, _ in edges} | {t for _, t in edges})
    ow = Counter()
    odeg = Counter()
    iw = Counter()
    for (s, t), w in edges.items():
        ow[s] += w
        odeg[s] += 1
        iw[t] += w
    nh = len(hosts)
    r = {h: 10**12 // nh for h in hosts}
    base = (10**12 * 150) // 1000 // nh
    ranks = []
    for _ in range(3):
        inflow = Counter()
        for (s, t), w in edges.items():
            inflow[t] += (r[s] * w) // ow[s]
        r = {h: base + (850 * inflow[h]) // 1000 for h in hosts}
        ranks.append(dict(r))

    assert set(out) == set(hosts)
    for h in hosts:
        assert out[h].out_deg == odeg[h]
        assert out[h].out_w == ow[h]
        assert out[h].in_w == iw[h]
        assert out[h].r1 == ranks[0][h]
        assert out[h].r2 == ranks[1][h]
        assert out[h].r3 == ranks[2][h]


def test_href_hosts_hand_derived(spark):
    """Destination hosts of hand-picked hrefs, written out by hand rather
    than taken from the shared SQL: only absolute hrefs (with ``://``)
    leave the page's host; root-relative, scheme-relative, mailto and
    bare relative hrefs all fall back to it. Both engines run the same
    CTE text and must both give the hand-written hosts."""
    import duckdb

    from gdal_spark.textops import href_host_ctes

    cases = {  # one page host per href: src_host -> (href, dst_host)
        "p1.example": ("HTTPS://WWW.Site3.EXAMPLE:443/c/1", "site3.example"),
        "p2.example": ("http://Bar.example", "bar.example"),
        "p3.example": ("http://x.example:80/", "x.example"),
        "p4.example": ("ftp://www.files.example/pub", "files.example"),
        "p5.example": ("/local/3", "p5.example"),
        "p6.example": ("//cdn.example/x", "p6.example"),
        "p7.example": ("mailto:ann@mail.example", "p7.example"),
        "p8.example": ("a/b", "p8.example"),
    }
    values = ", ".join(f"('{src}', '{href}')"
                       for src, (href, _) in cases.items())
    sql = (f"with hr as (select * from (values {values})"
           f" as t(src_host, href)),\n{href_host_ctes()}\n"
           f"select src_host, dst_host from resolved")
    want = {src: dst for src, (_, dst) in cases.items()}
    assert {r.src_host: r.dst_host for r in spark.sql(sql).collect()} == want
    assert dict(duckdb.connect().execute(sql).fetchall()) == want


def test_bpe_merges_matches_python_transcription(spark):
    """BPE merge learning pinned against an independent Python
    transcription of Sennrich's algorithm (overlap-counting get_stats,
    left-to-right non-overlapping merge, our documented (count desc,
    pair asc) tie-break) on a corpus constructed to exercise the
    overlap case (aaaa: the run-parity merge) and an exact tie."""
    import re
    import tempfile
    from collections import Counter

    from gdal_spark.queries.textpipe import q_train_bpe_merges

    texts = [
        "aaaa aaaa aaaa aaaa aaaa bc bc bc",   # (a,a) dominates; overlap
        "aaaa aaaa bc bc bc de de de",         # (b,c) vs (d,e) race
        "de de de xbc xde aaa",                # 'aaa': odd-run parity
    ]
    rows = [(i, t, "en") for i, t in enumerate(texts)]
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = [(r.round, r.rnk, r.left_sym, r.right_sym, r.pair_cnt, r.merged,
            r.n_pairs)
           for r in q_train_bpe_merges(spark, tmp).collect()]
    got.sort()

    # --- independent transcription ---
    vocab = Counter()
    for t in texts:
        for w in re.split("[^a-z]+", t.lower()):
            if w:
                vocab[w] += 1
    spelled = {tuple(list(w) + ["</w>"]): c for w, c in vocab.items()}
    expected = []
    for rnd in (1, 2, 3):
        stats = Counter()
        for syms, c in spelled.items():
            for j in range(len(syms) - 1):
                stats[(syms[j], syms[j + 1])] += c  # overlaps count
        ranked = sorted(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        n_pairs = len(ranked)
        for rnk, ((s1, s2), c) in enumerate(ranked[:8], start=1):
            expected.append((rnd, rnk, s1, s2, c,
                             1 if rnk == 1 else 0, n_pairs))
        (a, b), _ = ranked[0]
        new_spelled = {}
        for syms, c in spelled.items():
            out, j = [], 0
            while j < len(syms):          # left-to-right non-overlap
                if j < len(syms) - 1 and syms[j] == a and syms[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            new_spelled[tuple(out)] = new_spelled.get(tuple(out), 0) + c
        spelled = new_spelled
    expected.sort()
    assert got == expected
    # the constructed corpus must actually hit the overlap case:
    # round 1's winner is (a,a) merged inside 'aaaa' and 'aaa'
    assert expected[0][2] == "a" and expected[0][3] == "a"


def test_snapshot_delta_hand_derived(spark):
    """Snapshot-delta classification pinned on a 70-doc corpus where
    every lane count is hand-derivable from the doc_id modulo rules:
    gone = doc_id%10==7, changed = doc_id%10 in (5,6), new = one extra
    url per doc_id%7==0, everything else unchanged."""
    import tempfile

    from gdal_spark.queries.textpipe import q_crawl_snapshot_delta

    n = 70
    rows = [(i, f"text {i}", "en") for i in range(n)]
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out = {r.host: r for r in q_crawl_snapshot_delta(spark, tmp).collect()}

    from collections import Counter
    exp = Counter()
    for i in range(n):
        host = f"site{i % 50}.example"
        if i % 10 == 7:
            exp[(host, "gone")] += 1
        elif i % 10 in (5, 6):
            exp[(host, "changed")] += 1
        else:
            exp[(host, "unchanged")] += 1
        if i % 7 == 0:
            exp[(host, "new")] += 1
    hosts = {h for h, _ in exp}
    assert set(out) == hosts
    for h in hosts:
        r = out[h]
        assert (r.n_unchanged, r.n_changed, r.n_gone, r.n_new) == (
            exp[(h, "unchanged")], exp[(h, "changed")],
            exp[(h, "gone")], exp[(h, "new")])
        assert r.n_total == sum(
            exp[(h, s)] for s in ("unchanged", "changed", "gone", "new"))
    # every lane must be represented corpus-wide
    tot = Counter()
    for (h, s), c in exp.items():
        tot[s] += c
    assert min(tot.values()) > 0

def test_bm25_matches_python_transcription(spark):
    """BM25 pinned against an independent Python transcription of the
    Robertson/Lucene formula (k1=1.2, b=0.75, non-negative IDF) on a
    constructed corpus where term frequencies, doc lengths, and df all
    differ; nano-unit snapping matches the SQL's per-contribution
    round."""
    import math
    import tempfile

    from gdal_spark.queries.textpipe import q_text_bm25_topk

    docs = {
        0: "hash join hash join hash the a",       # tf-heavy for q1
        1: "hash join",                            # short doc, same terms
        2: "vector stream spark vector",           # q2 full match
        3: "vector the the the the the the the",   # long, 1 term
        4: "customer query window customer",       # q3 full match
        5: "spark stream",                         # q2 partial
        6: "the a the a the a",                    # no query terms
    }
    tmp = tempfile.mkdtemp()
    rows = [(i, t, "en") for i, t in docs.items()]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = {(r.query_id, r.doc_id): (r.rnk, r.score_nano, r.n_terms_hit)
           for r in q_text_bm25_topk(spark, tmp).collect()}

    # independent transcription
    toks = {i: t.split() for i, t in docs.items()}
    n_docs = len(docs)
    total_words = sum(len(v) for v in toks.values())
    avgdl = total_words / n_docs
    queries = {1: ["hash", "join"], 2: ["vector", "stream", "spark"],
               3: ["customer", "query", "window"]}
    df = {}
    for terms in queries.values():
        for t in terms:
            df[t] = sum(1 for v in toks.values() if t in v)
    exp = {}
    for qid, terms in queries.items():
        for d, v in toks.items():
            s, hits = 0, 0
            for t in terms:
                tf = v.count(t)
                if tf == 0:
                    continue
                hits += 1
                idf = math.log(1.0 + (n_docs - df[t] + 0.5)
                               / (df[t] + 0.5))
                c = idf * (tf * 2.2) / (
                    tf + 1.2 * (0.25 + 0.75 * len(v) / avgdl))
                s += int(round(c * 1e9))
            if hits:
                exp[(qid, d)] = (s, hits)
    # ranks: score desc, doc_id asc
    for qid in queries:
        ranked = sorted(((v[0], d) for (q, d), v in exp.items()
                         if q == qid), key=lambda x: (-x[0], x[1]))
        for rnk, (s, d) in enumerate(ranked, 1):
            assert got[(qid, d)] == (rnk, s, exp[(qid, d)][1]), \
                (qid, d, got[(qid, d)], rnk, s)
    assert len(got) == len(exp)
    # fixture must exercise: a doc matching all three q2 terms ranking
    # above a partial match, and the no-term doc absent everywhere
    assert got[(2, 2)][0] == 1
    assert all(d != 6 for (_, d) in got)

def test_hll_matches_python_transcription(spark):
    """HLL sketch pinned exactly (not approximately) against an
    independent Python transcription of Flajolet et al. 2007 with the
    same md5-derived 60-bit hash: bucket = h%64, rho = leading zeros
    of the 40-bit field + 1, alpha_64 = 0.709, linear counting when
    E <= 2.5m and V > 0. The constructed corpus drives the url lane
    through the raw-HLL branch and the host lane through LC."""
    import hashlib
    import math
    import re
    import tempfile

    from gdal_spark.queries.textpipe import q_crawl_hll_distinct

    n = 400
    rows = [(i, f"alpha beta w{i % 37} gamma", "en") for i in range(n)]
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = {r.entity: (r.n_exact, r.hll_estimate, r.err_milli)
           for r in q_crawl_hll_distinct(spark, tmp).collect()}

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def sketch(values):
        regs = {}
        for v in values:
            h = h60(v)
            b, r = h % 64, (h // 64) % (1 << 40)
            rho = 41 - r.bit_length() if r else 41
            regs[b] = max(regs.get(b, 0), rho)
        s = sum(2 ** (41 - regs.get(b, 0)) for b in range(64))
        v_zero = 64 - len(regs)
        num = 709 * 64 * 64 * (1 << 40)
        e_raw = num * 2 // (1000 * s)
        if e_raw <= 160 and v_zero > 0:
            return int(round(64.0 * math.log(64.0 / v_zero)))
        return e_raw

    lanes = {
        "url": {f"u{i}" for i in range(n)},
        "host": {f"h{i % 50}" for i in range(n)},
        "word": {w for _, t, _ in rows for w in re.split(" +", t.strip())},
    }
    for entity, vals in lanes.items():
        est = sketch(vals)
        exact = len(vals)
        assert got[entity] == (exact, est, abs(est - exact) * 1000 // exact), \
            (entity, got[entity], exact, est)
    # branch coverage: url must take the raw branch, host the LC branch
    assert len(lanes["url"]) > 160 and len(lanes["host"]) <= 160
    # and the estimator must actually be accurate: <=20% on the big lane
    assert got["url"][2] <= 200

def test_chunk_windows_invariants(spark):
    """Chunking pinned against an independent Python transcription on
    docs straddling every boundary case: shorter than one window,
    exactly one window, exactly window+stride, and a long doc with a
    short tail. Invariants: no token lost, overlap exactly w-s tokens,
    chunk hashes match a direct md5 of the sliced windows."""
    import hashlib
    import tempfile

    from gdal_spark.queries.textpipe import q_text_chunk_windows

    w, s = 32, 24
    docs = {
        0: " ".join(f"t{i}" for i in range(5)),        # < window
        1: " ".join(f"t{i}" for i in range(32)),       # == window
        2: " ".join(f"t{i}" for i in range(33)),       # window + 1
        3: " ".join(f"t{i}" for i in range(56)),       # w + s exactly
        4: " ".join(f"t{i}" for i in range(100)),      # short tail
    }
    tmp = tempfile.mkdtemp()
    rows = [(i, t, "en") for i, t in docs.items()]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = {(r.doc_id, r.chunk_idx):
           (r.start_tok, r.n_toks, r.n_chars, r.chunk_md5)
           for r in q_text_chunk_windows(spark, tmp).collect()}

    exp = {}
    for d, t in docs.items():
        toks = t.split()
        n = len(toks)
        nch = 1 + (max(n - w, 0) + s - 1) // s
        for i in range(nch):
            win = toks[i * s:i * s + w]
            joined = " ".join(win)
            exp[(d, i)] = (1 + i * s, len(win), len(joined),
                           hashlib.md5(joined.encode()).hexdigest())
    assert got == exp
    # coverage invariant: every token index appears in >= 1 chunk,
    # and consecutive chunks overlap by exactly w - s when full
    for d, t in docs.items():
        n = len(t.split())
        covered = set()
        for (dd, i), (st, nt, _, _) in exp.items():
            if dd == d:
                covered.update(range(st, st + nt))
        assert covered == set(range(1, n + 1)), d
    assert exp[(4, 1)][0] - exp[(4, 0)][0] == s
