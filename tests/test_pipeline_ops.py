"""Training-data pipeline operator tests: dedup, similarity, text, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ksql_linq_spark.operators import multimodal
from ksql_linq_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from ksql_linq_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    random_projection_buckets,
)
from ksql_linq_spark.operators.text import (
    detect_language,
    fingerprint,
    quality_score,
    shingles,
    token_count,
)
from ksql_linq_spark.sources import read_table


@pytest.fixture()
def docs_with_dups(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog today"),
        (2, "The quick brown fox jumps over the lazy dog today"),  # exact dup
        (3, "the quick  brown fox jumps over the lazy dog today."),  # norm dup
        (4, "The quick brown fox jumps over the lazy cat today"),  # near dup
        (5, "completely different text about spark query engines here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalized(docs_with_dups):
    kept = sorted(r["doc_id"] for r in exact_dedup(docs_with_dups).collect())
    assert kept == [1, 4, 5]  # 2 and 3 collapse into 1


def test_minhash_identical_signatures(docs_with_dups):
    sigs = {r["doc_id"]: tuple(r["sig"]) for r in minhash_signatures(docs_with_dups).collect()}
    assert sigs[1] == sigs[2] == sigs[3]
    assert sigs[1] != sigs[5]


def test_minhash_lsh_finds_near_dups(docs_with_dups):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs_with_dups).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(5 in p for p in pairs)


def test_lsh_degenerate_bucket_bounded(spark):
    """Adversarial all-identical corpus: every doc lands in the same
    band buckets.  With the cap, pair expansion must be the O(n) chain
    (n-1 consecutive pairs), not the O(n^2) clique — while still keeping
    the whole corpus one connected component."""
    n = 120
    df = spark.createDataFrame(
        [(i, "the same adversarial text repeated everywhere") for i in range(n)],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(df, max_bucket_size=16).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(i, i + 1) for i in range(n - 1)}  # chain, not clique

    # under the cap the full clique is still produced
    small = spark.createDataFrame(
        [(i, "another identical tiny corpus") for i in range(5)],
        "doc_id long, text string",
    )
    full = {(r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(small, max_bucket_size=16).collect()}
    assert full == {(a, b) for a in range(5) for b in range(5) if a < b}


def test_simhash_near_dup_distance(docs_with_dups):
    fps = {r["doc_id"]: r["simhash"] for r in simhash(docs_with_dups).collect()}
    assert fps[1] == fps[2] == fps[3]
    ham_near = bin(fps[1] ^ fps[4]).count("1")
    ham_far = bin(fps[1] ^ fps[5]).count("1")
    assert ham_near < ham_far


def test_ngram_jaccard(docs_with_dups):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_with_dups, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs  # near dup shares most trigrams
    assert not any(5 in p for p in pairs)


def test_brute_force_topk_self_first(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    top = brute_force_topk(emb, qvec, k=3).collect()
    assert top[0]["vec_id"] == 7  # self-similarity = 1.0
    assert abs(top[0]["cos"] - 1.0) < 1e-9
    assert top[0]["cos"] >= top[1]["cos"] >= top[2]["cos"]


def test_lsh_buckets_deterministic(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings").limit(50)
    b1 = {r["vec_id"]: r["bucket"] for r in random_projection_buckets(emb, 64).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in random_projection_buckets(emb, 64).collect()}
    assert b1 == b2
    assert all(len(v) == 8 and set(v) <= {"0", "1"} for v in b1.values())


def test_lsh_ann_contains_self(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    ids = [r["vec_id"] for r in lsh_topk(emb, qvec, k=5).collect()]
    assert ids[0] == 3  # query's own bucket always probed


def test_text_features(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog, in a house of cards!")], "doc_id long, text string"
    )
    r = df.select(
        token_count("text").alias("n"),
        detect_language("text").alias("lang"),
        fingerprint("text").alias("fp"),
        quality_score("text").alias("q"),
    ).first()
    assert r["n"] == 10
    assert r["lang"] == "en"
    assert len(r["fp"]) == 32
    assert 0.0 <= r["q"] <= 1.0


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    sh = df.select(shingles("text", 3).alias("s")).first()["s"]
    assert sorted(sh) == ["a b c", "b c d"]
    short = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    sh2 = short.select(shingles("text", 3).alias("s")).first()["s"]
    assert sh2 == ["a b"]  # shorter than n -> whole text as one shingle


@pytest.fixture()
def media(spark):
    rows = [
        (1, "image", b"imgbytes-1", {"src": "cam0"}),
        (2, "video", b"vidbytes-2", {"src": "cam1"}),
        (3, "audio", b"audbytes-3", None),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_multimodal_decode_real_rejects_garbage(media):
    """Without fake=True the REAL stdlib decode runs — non-media bytes
    must fail loudly (NotImplementedError surfaced via the executor),
    never fabricate metadata."""
    with pytest.raises(Exception, match="unrecognized container"):
        multimodal.decode_metadata(media).collect()


def test_multimodal_decode_fake(media):
    out = multimodal.decode_metadata(media, fake=True)
    rows = {r["media_id"]: r for r in out.collect()}
    assert set(out.columns) >= {"media_id", "width", "height", "n_frames", "duration_ms"}
    assert rows[1]["n_frames"] == 1  # images are single-frame
    assert rows[2]["n_frames"] >= 1
    # deterministic: same content -> same metadata
    again = {r["media_id"]: r for r in multimodal.decode_metadata(media, fake=True).collect()}
    assert rows[1]["width"] == again[1]["width"]


def test_multimodal_features_fixed_width(media):
    out = multimodal.extract_features(media, dim=16, fake=True)
    rows = out.collect()
    assert "content" not in out.columns
    assert all(len(r["features"]) == 16 for r in rows)
    assert all(-1.0 <= x <= 1.0 for r in rows for x in r["features"])


def test_multimodal_frame_sampling(media):
    frames = multimodal.sample_frames(media, every_n=5, fake=True).collect()
    assert frames, "video should yield frames"
    assert all(r["frame_idx"] % 5 == 0 for r in frames)
    assert {r["media_id"] for r in frames} == {2}  # only the video row


def _cosine_pairs_reference(df, threshold, dim):
    """Test-local exact reference: self-join on id_a < id_b with the
    similarity.cosine Column expression (unrolled, cast per element)."""
    from ksql_linq_spark.operators.similarity import cosine

    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                cosine("`ea`", "`eb`", dim, cast_elements=True).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def test_cosine_builders_take_sql_text_only(spark):
    """dot / norm / cosine have one builder (SQL text parsed by one
    F.expr); a Column operand is rejected with the function's name."""
    from ksql_linq_spark.operators.similarity import cosine, dot, norm

    with pytest.raises(TypeError, match="dot"):
        dot(F.col("a"), "`b`")
    with pytest.raises(TypeError, match="norm"):
        norm(F.col("a"), 4)
    with pytest.raises(TypeError, match="cosine"):
        cosine("`a`", F.col("b"), 4, cast_elements=True)


def test_embedding_cosine_blocked_matches_expr(spark):
    from ksql_linq_spark.operators.dedup import embedding_cosine_pairs_blocked

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    expr = {
        (r.id_a, r.id_b): r.cos
        for r in _cosine_pairs_reference(df, 0.5, 4).collect()
    }
    blocked = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_cosine_pairs_blocked(df, threshold=0.5).collect()
    }
    assert expr == blocked  # bit-exact, not approx
    assert (1, 4) in blocked and abs(blocked[(1, 4)] - 1.0) < 1e-12
    assert (1, 3) not in blocked


def test_ivf_topk_recall(spark, sf_dir):
    from ksql_linq_spark.operators.similarity import brute_force_topk, ivf_topk
    from ksql_linq_spark.sources import read_table

    e = read_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in brute_force_topk(e, qvec, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(e, qvec, k=10, n_centroids=8, n_probes=3).collect()]
    # query vector itself always lands in its probed cell
    assert 0 in approx
    assert len(set(exact) & set(approx)) >= 5  # recall >= 0.5 on sf0.001


def test_hash_split_deterministic_and_proportional(spark, sf_dir):
    from ksql_linq_spark.operators.dataset import hash_split
    from ksql_linq_spark.sources import read_table

    d = read_table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["split"] for r in d.select("doc_id", hash_split("doc_id")).collect()}
    b = {r["doc_id"]: r["split"] for r in d.select("doc_id", hash_split("doc_id")).collect()}
    assert a == b  # stable across runs
    n = len(a)
    train = sum(1 for v in a.values() if v == "train") / n
    assert 0.7 < train < 0.9  # md5 buckets are uniform-ish even at 500 docs
    # growing the corpus never reassigns existing rows
    half = {r["doc_id"]: r["split"]
            for r in d.limit(n // 2).select("doc_id", hash_split("doc_id")).collect()}
    assert all(a[k] == v for k, v in half.items())


def test_hash_split_validates_fractions(spark):
    from ksql_linq_spark.operators.dataset import hash_split

    try:
        hash_split("x", {"train": 0.5, "test": 0.1})
    except ValueError as e:
        assert "sum to 1" in str(e)
    else:
        raise AssertionError("expected ValueError")


def test_pack_sequences_semantics(spark):
    from ksql_linq_spark.operators.dataset import pack_sequences

    rows = [("en", i, tok) for i, tok in enumerate([600, 600, 600, 600, 2500, 100])]
    df = spark.createDataFrame(rows, "lang string, doc_id long, tok long")
    got = {r["doc_id"]: r["bin"] for r in pack_sequences(df, "tok", "doc_id", 1000, ["lang"]).collect()}
    # doc0 starts at 0 -> bin 0; doc1 starts at 600 -> bin 0 (overflows it);
    # doc2 starts at 1200 -> bin 1; doc3 at 1800 -> bin 1; the 2500-token doc
    # starts at 2400 -> bin 2; doc5 starts at 4900 -> bin 4
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 4}


def test_moment_stats_matches_builtin(spark):
    import math

    rows = [("a", 1.0, 2.0), ("a", 2.0, 4.5), ("a", 4.0, 7.0), ("b", 5.0, 1.0)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    from ksql_linq_spark.operators.stats import moment_stats

    out = {r["g"]: r for r in moment_stats(df, ["g"], "x", "y", scale=4).collect()}
    ref = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(
            F.stddev_samp("x").alias("sd"),
            F.var_samp("x").alias("v"),
            F.covar_samp("x", "y").alias("cv"),
            F.corr("x", "y").alias("cr"),
        )
        .collect()
    }
    a = out["a"]
    assert a["n"] == 3
    assert math.isclose(a["stddev_samp"], ref["a"]["sd"], rel_tol=1e-9)
    assert math.isclose(a["var_samp"], ref["a"]["v"], rel_tol=1e-9)
    assert math.isclose(a["covar_samp"], ref["a"]["cv"], rel_tol=1e-9)
    assert math.isclose(a["corr"], ref["a"]["cr"], rel_tol=1e-9)
    # single-row group: sample stats undefined -> nulls, not NaN/err
    b = out["b"]
    assert b["n"] == 1 and b["var_samp"] is None and b["corr"] is None


def test_heavy_hitters_exact_counts(spark):
    # 40x "hot", 10x "warm", singletons; support .2 of 60 rows -> cnt>=12
    rows = [("hot",)] * 40 + [("warm",)] * 10 + [(f"u{i}",) for i in range(10)]
    df = spark.createDataFrame(rows, "k string").repartition(8)
    from ksql_linq_spark.operators.sketch import heavy_hitters

    got = {r["k"]: r["cnt"] for r in heavy_hitters(df, "k", support=0.2).collect()}
    assert got == {"hot": 40}
    got = {r["k"]: r["cnt"] for r in heavy_hitters(df, "k", support=0.1).collect()}
    assert got == {"hot": 40, "warm": 10}


def test_contamination_report(spark):
    from ksql_linq_spark.operators.decontam import contamination_report

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "zeta eta theta iota")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(10, "alpha beta gamma unseen"), (11, "nothing shared here at all")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in contamination_report(train, ev, shingle_n=3).collect()}
    # doc 10: shingles {alpha beta gamma, beta gamma unseen} -> 1 of 2 in train
    assert out[10]["total"] == 2 and out[10]["overlap"] == 1
    assert out[10]["train_docs"] == 1 and abs(out[10]["ratio"] - 0.5) < 1e-12
    assert out[11]["overlap"] == 0 and out[11]["ratio"] == 0.0


def test_contamination_report_approx_matches_exact(spark):
    """The HLL scale path (approx_train_docs=True) must keep overlap/
    total/ratio EXACT and estimate train_docs within HLL tolerance —
    on a corpus with heavy train-side duplication, where the exact
    join fans out per train occurrence and the sketch path joins one
    row per distinct shingle."""
    from ksql_linq_spark.operators.decontam import contamination_report

    # 40 train docs all sharing the same boilerplate shingles, plus
    # 10 docs of unique content mixed in
    rows = [(i, "common boiler plate text here") for i in range(40)]
    rows += [(100 + i, f"unique{i} content{i} words{i} here{i}") for i in range(10)]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame(
        [(500, "common boiler plate text never"),
         (501, "completely fresh eval document text")],
        "doc_id long, text string",
    )
    exact = {r["doc_id"]: r for r in contamination_report(train, ev, shingle_n=3).collect()}
    approx = {r["doc_id"]: r for r in contamination_report(
        train, ev, shingle_n=3, approx_train_docs=True).collect()}
    assert set(exact) == set(approx) == {500, 501}
    for d in (500, 501):
        assert approx[d]["total"] == exact[d]["total"]
        assert approx[d]["overlap"] == exact[d]["overlap"]
        assert abs(approx[d]["ratio"] - exact[d]["ratio"]) < 1e-12
    # train_docs: 40 duplicated train docs share the matched shingles;
    # HLL is exact at this cardinality (dense mode far from capacity)
    assert exact[500]["train_docs"] == 40
    assert abs(approx[500]["train_docs"] - 40) <= 2
    assert approx[501]["train_docs"] == 0


def test_stratified_hash_sample(spark):
    from ksql_linq_spark.operators.dataset import stratified_hash_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "fr") for i in range(400)], "doc_id long, lang string"
    )
    kept = stratified_hash_sample(df, "doc_id", "lang", {"en": 0.5}, default_rate=1.0)
    n = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert n["fr"] == 200  # default rate keeps everything
    assert 60 < n["en"] < 140  # ~50% of 200, md5-bucket variance
    # deterministic: same input -> identical kept set
    k1 = sorted(r["doc_id"] for r in kept.collect())
    k2 = sorted(
        r["doc_id"]
        for r in stratified_hash_sample(
            df, "doc_id", "lang", {"en": 0.5}, default_rate=1.0
        ).collect()
    )
    assert k1 == k2
    with pytest.raises(ValueError, match="rate"):
        stratified_hash_sample(df, "doc_id", "lang", {"en": 1.5})


def test_connected_components_and_clusters(spark):
    from ksql_linq_spark.operators.graph import connected_components, dedup_clusters

    # path 1-2-3-4, pair 5-6, singleton 7 (not in edges)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (5, 6)], "id_a long, id_b long"
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    cl = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs, edges).collect()}
    assert cl[7] == 7 and cl[4] == 1 and cl[6] == 5
    # keep-one policy: exactly one survivor per cluster
    survivors = {c for d, c in cl.items() if d == c}
    assert survivors == {1, 5, 7}


def test_repetition_stats_and_pii(spark):
    from ksql_linq_spark.operators.text import pii_counts, repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),       # 3 occurrences of 1 trigram
            (2, "all words here are unique ones"), # 4 distinct trigrams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, n=3).collect()}
    assert out[1]["total"] == 3 and out[1]["distinct"] == 1
    # dup_ratio is rounded to 6 dp for cross-engine determinism
    assert out[1]["dup_ratio"] == round(2 / 3, 6)
    assert out[1]["top_fraction"] == 1.0
    assert out[2]["dup_ratio"] == 0.0 and out[2]["total"] == 4

    p = (
        spark.createDataFrame(
            [("mail a@b.co and c.d@e.org, ip 10.0.0.1, call 555 1234",)], "text string"
        )
        .select(pii_counts("text").alias("p"))
        .collect()[0]["p"]
    )
    assert p["emails"] == 2 and p["ipv4"] == 1 and p["digit_runs"] >= 3


def test_tfidf_top_terms(spark):
    from ksql_linq_spark.operators.text import tfidf_top_terms

    rows = [
        (1, "apple banana apple cherry"),
        (2, "banana cherry cherry date"),
        (3, "apple elderberry elderberry elderberry"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_top_terms(df, "text", "doc_id", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # every doc gets at most k rows, ranked 1..k
    for doc, rs in by_doc.items():
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
    # doc 3: 'elderberry' (tf=3, df=1 -> idf=ln 3) must dominate
    assert by_doc[3][0].term == "elderberry"
    assert by_doc[3][0].tf == 3 and by_doc[3][0].doc_freq == 1
    # scores are non-increasing within a doc
    for rs in by_doc.values():
        scores = [r.tfidf for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_chunk_documents_covers_text_exactly(spark):
    from ksql_linq_spark.operators.dataset import chunk_documents

    rows = [(1, "a" * 600), (2, "b" * 256), (3, "c"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, "text", "doc_id", chunk_chars=256).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_id)):
        by_doc.setdefault(r.doc_id, []).append(r.chunk)
    # reassembled chunks round-trip the original text
    assert "".join(by_doc[1]) == "a" * 600 and len(by_doc[1]) == 3
    assert "".join(by_doc[2]) == "b" * 256 and len(by_doc[2]) == 1
    assert by_doc[3] == ["c"]
    # empty doc yields exactly one empty chunk, not zero rows
    assert by_doc[4] == [""]
    assert all(r.chunk_chars == len(r.chunk) for r in out)


def test_embedding_centroids_exact(spark):
    from ksql_linq_spark.operators.similarity import embedding_centroids

    rows = [
        (1, [1.0, -2.0], 0),
        (2, [3.0, 4.0], 0),
        (3, [0.5, 0.25], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {
        (r.label, r.dim): r
        for r in embedding_centroids(df, "embedding", "label").collect()
    }
    assert out[(0, 0)].n == 2 and out[(0, 0)].sum_fp == 4_000_000
    assert out[(0, 0)].centroid == 2.0
    assert out[(0, 1)].centroid == 1.0
    assert out[(1, 0)].centroid == 0.5
    # floor quantization, not round: -2.0 stays exact, fractions floor
    assert out[(1, 1)].sum_fp == 250_000


def test_char_entropy_bounds(spark):
    import math

    import __spark_entry__ as m

    # build a tiny documents view through the same query path
    rows = [(1, "aaaa"), (2, "abab"), (3, "abcd")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("_entropy_probe")
    from pyspark.sql import functions as F

    ch = df.select("doc_id", F.explode(F.split(F.lower("text"), "")).alias("c"))
    freq = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("cnt"))
    per = freq.groupBy("doc_id").agg(
        F.sum("cnt").alias("n"),
        F.array_sort(F.collect_list(F.col("cnt").cast("double"))).alias("cs"),
    )
    s = F.aggregate(F.col("cs"), F.lit(0.0), lambda a, x: a + x * F.log(x))
    out = {
        r.doc_id: round(
            math.log(r.n) - s_val / r.n if (s_val := r.s) is not None else 0.0, 6
        )
        for r in per.withColumn("s", s).collect()
    }
    assert out[1] == 0.0  # constant string: zero entropy
    assert abs(out[2] - round(math.log(2), 6)) < 1e-9  # two equiprobable chars
    assert abs(out[3] - round(math.log(4), 6)) < 1e-9  # four equiprobable chars


def test_resize_images_plumbing(spark):
    from ksql_linq_spark.operators import multimodal

    rows = [
        (1, "image", b"imgbytes-1", {"k": "v"}),
        (2, "audio", b"audbytes-2", None),
        (3, "image", b"imgbytes-3", None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_id: r for r in multimodal.resize_images(df, 128, 96, fake=True).collect()}
    assert len(out) == 3
    # images re-encoded to the deterministic kernel's size, meta preserved
    assert len(out[1].content) == 128 * 96 // 64
    assert out[1].out_width == 128 and out[1].out_height == 96
    assert out[1].meta == {"k": "v"}
    # deterministic: same input -> same bytes
    again = {r.media_id: r for r in multimodal.resize_images(df, 128, 96, fake=True).collect()}
    assert again[1].content == out[1].content
    # non-image passes through untouched
    assert out[2].content == b"audbytes-2" and out[2].out_width is None
    # unwired codec raises, per the stub contract
    import pytest as _pytest

    with _pytest.raises(Exception):
        multimodal.resize_images(df, 10, 10, fake=False).collect()


def test_cross_doc_dup_stats(spark):
    from ksql_linq_spark.operators.text import cross_doc_dup_stats

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),     # shares "the quick brown"
            (2, "the quick brown cat sleeps"),    # with doc 1
            (3, "completely different words here"),
            (4, "tiny"),                          # shorter than n -> whole text
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in cross_doc_dup_stats(docs, n=3).collect()}
    # doc 1: 3 trigram occurrences, exactly 1 ("the quick brown") in >=2 docs
    assert out[1]["total"] == 3 and out[1]["dup_occ"] == 1
    assert out[1]["dup_frac"] == pytest.approx(1 / 3)
    assert out[2]["dup_occ"] == 1
    # doc 3 shares nothing
    assert out[3]["dup_occ"] == 0 and out[3]["dup_frac"] == 0.0
    # short doc contributes its whole text as one shingle
    assert out[4]["total"] == 1 and out[4]["dup_occ"] == 0


def test_mixture_upsample_counts(spark):
    from ksql_linq_spark.operators.dataset import (
        mixture_upsample,
        split_bucket,
    )

    df = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("src"),
    )
    out = mixture_upsample(df, "doc_id", "src", {"a": 2.5, "b": 0.0})
    rows = out.groupBy("src").count().collect()
    counts = {r["src"]: r["count"] for r in rows}
    # b has weight 0 -> dropped entirely
    assert "b" not in counts
    # a: every row 2 or 3 copies; expected mean 2.5
    per_doc = out.groupBy("doc_id").count().collect()
    assert all(r["count"] in (2, 3) for r in per_doc)
    # the fractional copy matches the md5 bucket exactly
    buckets = {
        r["doc_id"]: r["b"]
        for r in df.where(F.col("src") == "a")
        .select("doc_id", split_bucket("doc_id").alias("b"))
        .collect()
    }
    for r in per_doc:
        assert r["count"] == (3 if buckets[r["doc_id"]] < 500 else 2)


def test_mixture_upsample_validates_weights(spark):
    from ksql_linq_spark.operators.dataset import mixture_upsample

    df = spark.range(1).select(F.col("id").alias("k"), F.lit("a").alias("s"))
    with pytest.raises(ValueError):
        mixture_upsample(df, "k", "s", {"a": -1.0})
    with pytest.raises(ValueError):
        mixture_upsample(df, "k", "s", {}, default_weight=-0.5)


def test_trend_fit_matches_numpy_ols(spark):
    import numpy as np

    from ksql_linq_spark.operators.stats import trend_fit

    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows, xs, ys = [], [], []
    for i in range(200):
        x = i * 37  # seconds
        y = round(3.25 + 0.5 * x + (17 * i % 23 - 11) * 0.01, 2)
        rows.append(("k", t0 + datetime.timedelta(seconds=x), float(y)))
        xs.append(x)
        ys.append(y)
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = trend_fit(df, ["k"], "ts", "v", t0="2024-01-01", y_scale=2).collect()[0]
    slope, intercept = np.polyfit(np.array(xs, float), np.array(ys, float), 1)
    assert out["n"] == 200
    assert out["slope"] == pytest.approx(slope, rel=1e-9)
    assert out["intercept"] == pytest.approx(intercept, rel=1e-9)
    assert 0.999 <= out["r2"] <= 1.0


def test_trend_fit_degenerate_single_point(spark):
    import datetime

    from ksql_linq_spark.operators.stats import trend_fit

    df = spark.createDataFrame(
        [("k", datetime.datetime(2024, 1, 2), 5.0)], ["k", "ts", "v"]
    )
    out = trend_fit(df, ["k"], "ts", "v", t0="2024-01-01").collect()[0]
    # mx == 0 -> undefined slope/intercept/r2, never a divide-by-zero NaN
    assert out["slope"] is None and out["intercept"] is None and out["r2"] is None


def test_compact_table_preserves_rows(spark, sf_dir, tmp_path):
    from ksql_linq_spark.operators.layout import compact_table

    p = str(tmp_path / "frag")
    ev = read_table(spark, sf_dir, "events")
    # fragment: many small files
    ev.repartition(37).write.parquet(p)
    import glob

    assert len(glob.glob(f"{p}/*.parquet")) == 37
    n = compact_table(spark, p, target_file_mb=256)
    assert n == 1  # tiny table -> single file
    assert len(glob.glob(f"{p}/*.parquet")) == 1
    back = spark.read.parquet(p)
    assert back.count() == ev.count()
    assert set(back.columns) == set(ev.schema.names)


def test_text_ops_null_and_empty_robustness(spark):
    """Operators must not crash on NULL/empty text — at corpus scale
    both exist.  Contract: docs with no extractable tokens vanish from
    token-derived outputs; hash/split ops keep the row."""
    from ksql_linq_spark.operators.dataset import hash_split, mixture_upsample
    from ksql_linq_spark.operators.dedup import exact_dedup
    from ksql_linq_spark.operators.text import (
        cross_doc_dup_stats,
        quality_score,
        repetition_stats,
        token_count,
    )

    docs = spark.createDataFrame(
        [(1, None, "s"), (2, "", "s"), (3, "   ", "s"), (4, "real text here", "s")],
        ["doc_id", "text", "source"],
    )
    # token-derived ops: null/empty docs contribute nothing, no crash
    reps = {r["doc_id"] for r in repetition_stats(docs, n=2).collect()}
    assert 4 in reps and 1 not in reps
    dups = {r["doc_id"] for r in cross_doc_dup_stats(docs, n=2).collect()}
    assert 4 in dups and 1 not in dups
    tc = {r["doc_id"]: r["n"] for r in
          docs.select("doc_id", token_count("text").alias("n")).collect()}
    assert tc[4] == 3 and tc[2] == 0 and tc[1] in (None, 0)
    qs = docs.select("doc_id", quality_score("text").alias("q")).collect()
    assert len(qs) == 4  # no crash, one row per doc
    # row-keyed ops keep every row
    assert docs.select("doc_id", hash_split("doc_id")).count() == 4
    assert (
        mixture_upsample(docs, "doc_id", "source", {"s": 1.0}).count() == 4
    )
    # exact dedup on null text: null fingerprints form their own group,
    # empty/whitespace normalize together
    kept = exact_dedup(docs)
    assert kept.count() <= 4 and kept.count() >= 2


def test_int8_topk_self_first_and_recall(spark, sf_dir):
    from ksql_linq_spark.operators.similarity import (
        brute_force_topk,
        int8_topk,
    )

    e = read_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    top = int8_topk(e, qvec, k=10).collect()
    assert top[0]["vec_id"] == 0  # self is its own nearest neighbor
    # compressed-domain scores track the float ranking closely
    exact_ids = {r["vec_id"] for r in brute_force_topk(e, qvec, k=10).collect()}
    got_ids = {r["vec_id"] for r in top}
    assert len(exact_ids & got_ids) >= 6


def test_ann_index_partition_pruning(spark, sf_dir, tmp_path):
    """Persisted LSH index: a probe query must (1) return exactly what
    the in-memory lsh_topk returns for the same parameters, and (2)
    physically read ONLY the probed bucket partitions — the at-rest
    partition pruning that makes ANN serving sublinear at 100 TB."""
    from ksql_linq_spark.operators.similarity import (
        _probe_buckets,
        build_ann_index,
        lsh_topk,
        query_ann_index,
    )

    e = read_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = str(tmp_path / "ann_idx")
    build_ann_index(e, path, dim=len(qvec), num_planes=4)

    got = query_ann_index(spark, path, qvec, k=10, num_planes=4).collect()
    want = lsh_topk(e, qvec, k=10, num_planes=4).collect()
    assert [(r["vec_id"], round(r["cos"], 9)) for r in got] == [
        (r["vec_id"], round(r["cos"], 9)) for r in want
    ]

    probes = {"b" + p for p in _probe_buckets(qvec, 4, 1)}
    cand = spark.read.parquet(path).filter(F.col("bucket").isin(sorted(probes)))
    # physical proof of pruning: the scan node carries PartitionFilters
    # on bucket (listing-time pruning), and the rows actually read come
    # only from probed partitions
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        cand.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters", 1)[1][:200]
    read_buckets = {r["bucket"] for r in cand.select("bucket").distinct().collect()}
    all_buckets = {
        r["bucket"]
        for r in spark.read.parquet(path).select("bucket").distinct().collect()
    }
    assert read_buckets <= probes
    assert len(all_buckets) > len(read_buckets), "pruning had no effect"


def test_paragraph_dedup_semantics(spark):
    """C4-style paragraph dedup on real multi-paragraph docs: repeated
    boilerplate survives only at its first (doc, pos) occurrence, order
    is preserved, short paragraphs are exempt, fully-duplicated docs
    come back empty (not dropped)."""
    from ksql_linq_spark.operators.dataset import paragraph_dedup

    boiler = "subscribe to our newsletter for updates"
    rows = [
        (1, f"unique first paragraph\n\n{boiler}\n\nok"),
        (2, f"{boiler}\n\nsecond doc real content"),
        (3, f"{boiler}"),  # nothing but boilerplate
        (4, "ok\n\nfresh ending paragraph"),  # 'ok' is short -> exempt
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in paragraph_dedup(df, min_chars=4).collect()
    }
    assert out[1] == f"unique first paragraph\n\n{boiler}\n\nok"
    assert out[2] == "second doc real content"  # boilerplate stripped
    assert out[3] == ""  # fully-duplicated doc kept as empty row
    assert out[4] == "ok\n\nfresh ending paragraph"  # short para exempt


def test_quality_gate_routing_and_reasons(spark):
    """Row-level gate: clean rows pass intact, each quarantined row
    carries exactly the rules it broke, null fails every gate it
    touches, and good+bad partitions the input losslessly."""
    from ksql_linq_spark.operators.quality import (
        in_range,
        matches,
        not_null,
        one_of,
        quality_gate,
        validate,
        violation_summary,
    )

    rows = [
        (1, 50.0, "A", "ok@x.io"),
        (2, -5.0, "A", "ok@x.io"),      # range fail
        (3, 50.0, "Z", "bad"),           # set + regex fail
        (4, None, "B", "ok@x.io"),       # null -> range fail (not silent pass)
    ]
    df = spark.createDataFrame(rows, "id long, v double, tag string, email string")
    rules = [
        in_range("v", 0.0, 100.0),
        one_of("tag", ["A", "B"]),
        matches("email", "[a-z]+@[a-z]+\\.[a-z]+"),
        not_null("v"),
    ]
    good, bad = quality_gate(df, rules)
    assert [r["id"] for r in good.orderBy("id").collect()] == [1]
    bad_rows = {r["id"]: set(r["_violations"]) for r in bad.collect()}
    assert bad_rows[2] == {"v_in_range"}
    assert bad_rows[3] == {"tag_one_of", "email_matches"}
    assert bad_rows[4] == {"v_in_range", "v_not_null"}
    assert good.count() + bad.count() == df.count()

    summ = {r["rule"]: r["n_violations"] for r in violation_summary(df, rules).collect()}
    assert summ == {"v_in_range": 2, "tag_one_of": 1, "email_matches": 1, "v_not_null": 1}

    # single fused projection: no shuffle in the validated plan
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        validate(df, rules).explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_cap_per_group_deterministic(spark):
    from ksql_linq_spark.operators.dataset import cap_per_group
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(i, "d%d" % (i % 2), 100 - i) for i in range(10)],
        "doc_id long, source string, q long",
    )
    out = cap_per_group(df, "source", [F.col("q").desc(), F.col("doc_id")], 3)
    got = {(r["source"], r["doc_id"]) for r in out.collect()}
    # top-3 by q desc per source: source d0 has ids 0,2,4 (q 100,98,96);
    # d1 has 1,3,5
    assert got == {("d0", 0), ("d0", 2), ("d0", 4),
                   ("d1", 1), ("d1", 3), ("d1", 5)}


def test_token_budget_sample_budget_and_floor(spark):
    from ksql_linq_spark.operators.dataset import token_budget_sample

    df = spark.createDataFrame(
        [(i, "s", 400) for i in range(10)] + [(99, "big", 10_000)],
        "doc_id long, source string, n_tok long",
    )
    out = token_budget_sample(df, 1000, "n_tok", "source", "doc_id").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # 's': md5-ordered prefix with cumulative <= 1000 -> exactly 2 docs
    assert len(by_src["s"]) == 2
    assert max(r["cum_tokens"] for r in by_src["s"]) <= 1000
    # a single over-budget doc still keeps its group non-empty
    assert len(by_src["big"]) == 1 and by_src["big"][0]["doc_id"] == 99
    # deterministic: same input -> same ids
    again = token_budget_sample(df, 1000, "n_tok", "source", "doc_id").collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in out}


def test_unigram_logprob_orders_rarity(spark):
    from ksql_linq_spark.operators.text import unigram_logprob_score

    df = spark.createDataFrame(
        [(1, "the the the the"),      # all corpus-frequent tokens
         (2, "the zzz qqq vvv")],     # mostly singletons
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in unigram_logprob_score(df).collect()}
    # common-token doc scores strictly higher (closer to 0) than rare-token doc
    assert got[1]["logprob_per_tok"] > got[2]["logprob_per_tok"]
    assert got[1]["n_tok"] == 4 and got[2]["n_tok"] == 4
    # corpus: 'the' appears 5x of 8 tokens -> p = 5/8; doc 1 is four
    # 'the' tokens so its mean is exactly ln(5/8)
    import math
    assert abs(got[1]["logprob_per_tok"] - round(math.log(5 / 8), 6)) < 2e-6


def test_knn_graph_blocked_exact_within_block(spark):
    from ksql_linq_spark.operators.similarity import knn_graph_blocked

    rows = [
        (1, 0, [1.0, 0.0]), (2, 0, [0.9, 0.1]), (3, 0, [0.0, 1.0]),
        (4, 1, [1.0, 0.0]),  # other block: never a neighbor of 1-3
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    g = knn_graph_blocked(df, "label", k=1).collect()
    nn = {r["vec_id"]: r["neighbor_id"] for r in g}
    assert nn[1] == 2 and nn[2] == 1      # mutual nearest within block 0
    assert 4 not in nn  # block 1 is a singleton: no neighbors emitted
    assert all(r["vec_id"] != r["neighbor_id"] for r in g)
    assert 4 not in {r["neighbor_id"] for r in g if r["vec_id"] in (1, 2, 3)}


def test_semantic_dedup_blocked_keeps_one_per_cluster(spark):
    from ksql_linq_spark.operators.dedup import semantic_dedup_blocked

    rows = [
        (1, 0, [1.0, 0.0]), (2, 0, [0.999, 0.01]),  # near-dups
        (3, 0, [0.0, 1.0]),                          # distinct
        (4, 1, [1.0, 0.0]),                          # other block
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = {r["vec_id"]: r for r in
           semantic_dedup_blocked(df, "label", threshold=0.99).collect()}
    assert out[1]["cluster_id"] == 1 and out[1]["keep"]
    assert out[2]["cluster_id"] == 1 and not out[2]["keep"]
    assert out[3]["keep"] and out[4]["keep"]  # singletons keep themselves


def test_incremental_dedup_drops_corpus_and_batch_dups(spark):
    from ksql_linq_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "already ingested text")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "Already  ingested TEXT"),   # normalized dup of corpus
            (11, "brand new document"),
            (12, "brand new document"),       # batch-internal dup
            (13, "another fresh one"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in incremental_dedup(batch, corpus).collect())
    assert kept == [11, 13]


def _unit_cosine_pairs_reference(df, dim):
    """Test-local reference for the unit-vector cosine form: normalise
    each row with similarity.norm, then fold the dot of the unit vectors
    with similarity.dot — the DuckDB oracle's normalise-then-dot order,
    as Spark expressions.  Pairs (id_a != id_b) within each label."""
    from ksql_linq_spark.operators.similarity import dot, norm

    n = norm("`embedding`", dim, cast_elements=True)
    unit = F.transform(F.col("embedding"), lambda x: x.cast("double") / n)
    a = df.select("label", F.col("vec_id").alias("id_a"), unit.alias("ua"))
    b = df.select("label", F.col("vec_id").alias("id_b"), unit.alias("ub"))
    return (
        a.join(b, "label")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", dot("`ua`", "`ub`").alias("cos"))
    )


def test_knn_graph_kernels_bit_identical(spark, sf_dir):
    """knn_graph_blocked equals the Column-expression reference: same
    neighbours, same rank, bit-identical cos."""
    from pyspark.sql.window import Window

    from ksql_linq_spark.operators.similarity import knn_graph_blocked

    emb = read_table(spark, sf_dir, "embeddings")
    ar = {(r["vec_id"], r["rnk"]): (r["neighbor_id"], r["cos"].hex())
          for r in knn_graph_blocked(emb, "label", k=3).collect()}
    w = Window.partitionBy("id_a").orderBy(F.col("cos").desc(), "id_b")
    ref = (
        _unit_cosine_pairs_reference(emb, 64)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
    )
    ex = {(r["id_a"], r["rnk"]): (r["id_b"], r["cos"].hex())
          for r in ref.collect()}
    assert ar == ex and len(ar) > 0


def test_semantic_dedup_kernels_agree(spark, sf_dir):
    """semantic_dedup_blocked equals connected components over the
    reference's cos >= threshold pairs."""
    from ksql_linq_spark.operators.dedup import semantic_dedup_blocked
    from ksql_linq_spark.operators.graph import dedup_clusters

    emb = read_table(spark, sf_dir, "embeddings")
    ar = {r["vec_id"]: (r["cluster_id"], r["keep"])
          for r in semantic_dedup_blocked(emb, "label", threshold=0.4).collect()}
    pairs = (
        _unit_cosine_pairs_reference(emb, 64)
        .where((F.col("id_a") < F.col("id_b")) & (F.col("cos") >= 0.4))
        .select("id_a", "id_b")
    )
    ex = {r["vec_id"]: (r["cluster_id"], r["cluster_id"] == r["vec_id"])
          for r in dedup_clusters(emb.select("vec_id"), pairs, "vec_id").collect()}
    assert ar == ex
    assert any(not keep for _, keep in ar.values())  # some pair merged


def test_norm_outliers_flags_synthetic_extremes(spark):
    from ksql_linq_spark.operators.similarity import norm_outliers

    # 20 unit-ish vectors + one zeroed (broken) + one blown-up vector.
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(20)]
    rows.append((100, [0.0, 0.0, 0.0, 0.0]))   # norm 0  -> low
    rows.append((101, [50.0, 0.0, 0.0, 0.0]))  # norm 50 -> high
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.kind for r in
           norm_outliers(df, dim=4, k=3.0).collect()}
    assert out == {100: "low", 101: "high"}


def test_centroid_outliers_finds_planted_mislabels(spark):
    from ksql_linq_spark.operators.similarity import centroid_outliers

    # label 0 clusters at +x, label 1 at +y; vec 99 is a label-0 row
    # pointing at +y (mislabeled) -> must be label 0's worst outlier.
    rows = [(i, 0, [1.0, 0.05 * (i % 3), 0.0, 0.0]) for i in range(10)]
    rows += [(10 + i, 1, [0.0, 1.0, 0.05 * (i % 3), 0.0]) for i in range(10)]
    rows.append((99, 0, [0.0, 1.0, 0.0, 0.0]))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = centroid_outliers(df, dim=4, bottom_k=1).collect()
    worst = {r.label: r.vec_id for r in out}
    assert worst[0] == 99


def test_corpus_report_counts_and_dup_ratio(spark):
    from ksql_linq_spark.operators.quality import corpus_report

    rows = [
        (1, "a b c", "en", "s1", 5),
        (2, "a b c", "en", "s1", 5),   # exact dup of 1
        (3, "x y", "fr", "s1", 3),
        (4, "hello world", "en", "s2", 11),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.source: r for r in corpus_report(df).collect()}
    s1 = out["s1"]
    assert s1.n_docs == 3 and s1.total_tokens == 8
    assert abs(s1.dup_ratio - (1.0 - 2.0 / 3.0)) < 1e-6
    assert s1.top_lang == "en" and s1.n_langs == 2
    assert out["s2"].dup_ratio == 0.0


def test_global_order_index_matches_single_partition_rank(spark):
    from ksql_linq_spark.operators.dataset import global_order_index

    df = spark.range(0, 997).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("h")
    )
    out = global_order_index(df, ["h", "id"], partitions=7)
    # contiguous 0..n-1, and idx order == (h, id) order
    rows = out.orderBy("idx").collect()
    assert [r.idx for r in rows] == list(range(997))
    keys = [(r.h, r.id) for r in rows]
    assert keys == sorted(keys)


def test_epoch_shuffle_seed_determinism_and_divergence(spark):
    from ksql_linq_spark.operators.dataset import epoch_shuffle

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    a1 = {r.doc_id: r.epoch_pos for r in epoch_shuffle(df, "doc_id", seed=1).collect()}
    a2 = {r.doc_id: r.epoch_pos for r in epoch_shuffle(df, "doc_id", seed=1).collect()}
    b = {r.doc_id: r.epoch_pos for r in epoch_shuffle(df, "doc_id", seed=2).collect()}
    assert a1 == a2                      # same seed -> same permutation
    assert a1 != b                       # different seed -> different order
    assert sorted(a1.values()) == list(range(200))  # is a permutation


def test_funnel_greedy_order_semantics(spark):
    from ksql_linq_spark.operators.funnel import funnel_report, funnel_times

    rows = [
        # user 1 converts fully, in order
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 10:05:00", "click"),
        (1, "2024-01-01 10:10:00", "purchase"),
        # user 2: purchase BEFORE click -> stops at click
        (2, "2024-01-01 09:00:00", "view"),
        (2, "2024-01-01 09:10:00", "purchase"),
        (2, "2024-01-01 09:20:00", "click"),
        # user 3: never viewed -> not in funnel at all
        (3, "2024-01-01 08:00:00", "click"),
        (3, "2024-01-01 08:05:00", "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts_s string, event_type string"
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    steps = ["view", "click", "purchase"]
    ft = {r.user_id: r for r in funnel_times(ev, steps).collect()}
    assert set(ft) == {1, 2}
    assert ft[1].t3 is not None
    assert ft[2].t2 is not None and ft[2].t3 is None
    rep = {r.step: r.n_users for r in funnel_report(ev, steps).collect()}
    assert rep == {"view": 2, "click": 2, "purchase": 1}


def test_merge_upsert_batch_merge_semantics(spark, tmp_path):
    from ksql_linq_spark.operators.layout import merge_upsert

    path = str(tmp_path / "keyed_table")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    merge_upsert(spark, path, base, keys=["k"])
    # update k=1, delete k=2 (tombstone), insert k=4; duplicate rows for
    # k=4 must resolve deterministically (greatest value tuple wins)
    upd = spark.createDataFrame(
        [
            (1, "a2", 11.0),
            (2, None, None),
            (4, "d", 40.0),
            (4, "d", 39.0),
        ],
        "k long, name string, v double",
    )
    merge_upsert(spark, path, upd, keys=["k"])
    got = {r.k: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a2", 11.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_upsert_writes_the_merged_table_once(spark, tmp_path, monkeypatch):
    """A merge onto an existing table writes the merged rows once — to
    the staging sibling that is swapped in — and leaves no staging or
    old directory behind."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from ksql_linq_spark.operators.layout import merge_upsert

    path = str(tmp_path / "keyed_table3")
    merge_upsert(
        spark, path,
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double"),
        keys=["k"],
    )
    writes = []
    real = DataFrameWriter.parquet

    def counting(self, p, *args, **kwargs):
        writes.append(p)
        return real(self, p, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting)
    merge_upsert(
        spark, path,
        spark.createDataFrame([(2, None), (3, 30.0)], "k long, v double"),
        keys=["k"],
    )
    assert len(writes) == 1
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 10.0, 3: 30.0}
    assert sorted(os.listdir(tmp_path)) == ["keyed_table3"]


def test_merge_upsert_order_col_newest_wins(spark, tmp_path):
    from ksql_linq_spark.operators.layout import merge_upsert

    path = str(tmp_path / "keyed_table2")
    upd = spark.createDataFrame(
        [(1, 100, 5.0), (1, 200, 1.0)], "k long, seq long, v double"
    )
    merge_upsert(spark, path, upd, keys=["k"], order_col="seq")
    got = spark.read.parquet(path).collect()
    assert len(got) == 1 and got[0].v == 1.0  # seq=200 row wins


def test_retention_cohorts_matrix(spark):
    from ksql_linq_spark.operators.funnel import retention_cohorts

    rows = [
        (1, "2024-01-01 10:00:00"),  # Mon wk0 cohort
        (1, "2024-01-09 10:00:00"),  # wk1 active
        (2, "2024-01-02 10:00:00"),  # wk0 cohort
        (3, "2024-01-10 10:00:00"),  # wk1 cohort
        (3, "2024-01-10 11:00:00"),  # same week dup — one active row
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts_s string").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    got = {
        (str(r.cohort), r.period_offset): r.n_active
        for r in retention_cohorts(ev).collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", 0): 2,
        ("2024-01-01 00:00:00", 1): 1,
        ("2024-01-08 00:00:00", 0): 1,
    }


def test_pq_topk_rerank_matches_exact_topk(spark, sf_dir):
    """PQ ADC shortlist + exact rerank reproduces the exact top-10 at
    rerank=100 on the test embeddings (recall invariant the registered
    query pins); pq-only recall stays above the quantizer floor."""
    from ksql_linq_spark.operators.similarity import pq_topk, pq_train, quantize_embeddings_pq

    e = read_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {r.vec_id for r in brute_force_topk(e, qvec, k=10).collect()}
    rer = [r.vec_id for r in pq_topk(e, qvec, k=10, m=16, n_codes=32, rerank=100).collect()]
    assert len(exact & set(rer)) >= 8
    adc = {r.vec_id for r in pq_topk(e, qvec, k=10, m=16, n_codes=32).collect()}
    assert len(exact & adc) >= 4  # quantizer-only floor

    # codes: one int per subspace, all within [0, n_codes)
    books = pq_train(e, m=16, n_codes=32)
    assert len(books) == 16 and all(len(b) <= 32 for b in books)
    coded = quantize_embeddings_pq(e, books).select("pq_codes").limit(50).collect()
    for r in coded:
        assert len(r.pq_codes) == 16
        assert all(0 <= c < 32 for c in r.pq_codes)


def test_pq_train_rejects_indivisible_dim(spark):
    from ksql_linq_spark.operators.similarity import pq_train

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        pq_train(df, m=2, n_codes=2, train_rows=8)


def test_remove_dup_ngrams_strips_shared_spans(spark):
    from ksql_linq_spark.operators.dataset import remove_dup_ngrams

    rows = [
        (1, "alpha beta gamma delta epsilon unique1 tail1"),
        (2, "prefix2 alpha beta gamma delta epsilon unique2"),
        (3, "totally different words with no shared span at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_dup_ngrams(df, n=5, min_docs=2).collect()}
    # the shared 5-gram "alpha beta gamma delta epsilon" is removed from BOTH
    assert out[1].text == "unique1 tail1"
    assert out[2].text == "prefix2 unique2"
    assert out[3].text == rows[2][1]
    assert out[1].n_total == 7 and out[1].n_kept == 2
    assert out[3].n_kept == out[3].n_total == 9


def test_remove_dup_ngrams_empty_and_all_boilerplate_docs(spark):
    from ksql_linq_spark.operators.dataset import remove_dup_ngrams

    rows = [
        (1, "one two three four five"),
        (2, "one two three four five"),  # fully covered -> empty
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_dup_ngrams(df, n=5, min_docs=2).collect()}
    assert out[1].text == "" and out[1].n_kept == 0 and out[1].n_total == 5
    assert out[2].text == ""
    assert out[3].n_total == 0 and out[3].text == ""


def test_write_zordered_clusters_both_dimensions(spark, tmp_path):
    """Z-order layout: every output file owns a compact hyper-rectangle,
    so per-file min/max spans of BOTH columns shrink far below the
    global span (that is what makes parquet stats prune on either
    filter column)."""
    import pyarrow.parquet as pq
    import glob as g

    from ksql_linq_spark.operators.layout import write_zordered

    n = 20_000
    df = spark.range(n).select(
        F.col("id"),
        (F.crc32(F.col("id").cast("string")) % 256).alias("x"),
        (F.crc32(F.concat(F.lit("y"), F.col("id").cast("string"))) % 256).alias("y"),
    )
    path = str(tmp_path / "zo")
    write_zordered(df, path, ["x", "y"], bits=8, target_files=16)

    files = g.glob(path + "/part-*.parquet")
    assert len(files) >= 8
    spans_x, spans_y = [], []
    for f in files:
        md = pq.read_metadata(f)
        lo_x = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
        hi_x = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
        lo_y = min(md.row_group(i).column(2).statistics.min for i in range(md.num_row_groups))
        hi_y = max(md.row_group(i).column(2).statistics.max for i in range(md.num_row_groups))
        spans_x.append(hi_x - lo_x)
        spans_y.append(hi_y - lo_y)
    # global span is 255 on each axis; z-clustered files must average
    # well under half of it on BOTH axes simultaneously
    assert sum(spans_x) / len(spans_x) < 128
    assert sum(spans_y) / len(spans_y) < 128
    # round trip intact
    assert spark.read.parquet(path).count() == n


def test_zorder_value_rejects_bigint_overflow(spark):
    from ksql_linq_spark.operators.layout import zorder_value

    with pytest.raises(ValueError):
        zorder_value(["a", "b", "c", "d"], bits=16)


def test_redact_pii_order_and_floor(spark):
    from ksql_linq_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [(1, "mail bob123@x.co ip 192.168.0.1 acct 12345678 small 42")],
        "id long, t string",
    )
    out = df.select(redact_pii("t").alias("r")).first().r
    assert out == "mail <EMAIL> ip <IP> acct <NUM> small 42"


def test_mad_outliers_flags_planted_extreme(spark):
    from ksql_linq_spark.operators.stats import mad_outliers

    rows = [("a", float(v)) for v in [10, 11, 12, 13, 14, 1000]] + [
        ("b", 5.0), ("b", 5.0), ("b", 9.0)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    out = mad_outliers(df, ["k"], "v", k=5.0).collect()
    flagged = {(r.k, r.v) for r in out if r.is_outlier}
    assert ("a", 1000.0) in flagged
    assert all(v != ("a", 12.0) for v in flagged)
    # zero-MAD group: any deviation from the median is an outlier
    assert ("b", 9.0) in flagged and ("b", 5.0) not in flagged


def test_weighted_sample_determinism_and_bias(spark):
    from ksql_linq_spark.operators.dataset import weighted_sample

    rows = [(i, "g", 1000.0 if i < 10 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, g string, w double")
    a = sorted(r.doc_id for r in weighted_sample(df, "w", 8, group_cols=["g"]).collect())
    b = sorted(r.doc_id for r in weighted_sample(df, "w", 8, group_cols=["g"]).collect())
    assert a == b  # deterministic
    # heavy-weight rows (ids 0-9, weight 1000x) should dominate the sample
    assert sum(1 for i in a if i < 10) >= 6
    # global (ungrouped) path returns exactly k
    g = weighted_sample(df, "w", 8).collect()
    assert len(g) == 8


def test_gopher_rules_attribution(spark):
    from ksql_linq_spark.operators.text import gopher_rules

    good = " ".join(["the quick brown fox jumps over and that have with be to of"] * 6)
    bully = "\n".join(["- item " + str(i) for i in range(20)])
    symbols = "the be to of " + "# " * 50
    rows = [(1, good), (2, bully), (3, symbols), (4, "tiny doc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.g for r in df.select("doc_id", gopher_rules("text").alias("g")).collect()}
    assert out[1].keep  # clean doc passes every rule
    assert not out[2].bullet_ok and not out[2].keep  # all-bullet doc
    assert not out[3].symbol_ratio_ok and not out[3].keep
    assert not out[4].word_count_ok and not out[4].keep


def test_reduce_dim_rp_linearity_and_determinism(spark):
    from ksql_linq_spark.operators.similarity import reduce_dim_rp

    v = [float(i % 7) - 3.0 for i in range(16)]
    df = spark.createDataFrame(
        [(1, v), (2, [2.0 * x for x in v]), (3, v)],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: [r[f"rp_{d}"] for d in range(4)]
           for r in reduce_dim_rp(df, dim=16, out_dim=4).collect()}
    assert out[1] == out[3]  # deterministic (md5 planes, no RNG state)
    for a, b in zip(out[1], out[2]):  # projection is linear: rp(2v) = 2 rp(v)
        assert abs(b - 2.0 * a) < 1e-9


def test_ivf_index_partition_pruning_and_parity(spark, sf_dir, tmp_path):
    """Persisted IVF index: the probe query equals the in-memory
    ivf_topk for the same seed/params, and the scan prunes to the
    probed cell partitions at listing time (PartitionFilters on cell)."""
    import io
    from contextlib import redirect_stdout

    from ksql_linq_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        query_ivf_index,
    )

    e = read_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = str(tmp_path / "ivf_idx")
    build_ivf_index(e, path, n_centroids=8, seed=7)

    got = query_ivf_index(spark, path, qvec, k=10, n_probes=4).collect()
    want = ivf_topk(e, qvec, k=10, n_centroids=8, n_probes=4, seed=7).collect()
    assert [(r["vec_id"], round(r["cos"], 9)) for r in got] == [
        (r["vec_id"], round(r["cos"], 9)) for r in want
    ]

    probe_df = query_ivf_index(spark, path, qvec, k=10, n_probes=2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        probe_df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cell" in plan


def test_psi_drift_detects_shift(spark):
    from ksql_linq_spark.operators.stats import psi_drift

    ref = spark.createDataFrame(
        [("a", float(i % 100)) for i in range(1000)], "k string, v double"
    )
    same = spark.createDataFrame(
        [("a", float((i * 7) % 100)) for i in range(1000)], "k string, v double"
    )
    shifted = spark.createDataFrame(
        [("a", 50.0 + float(i % 100)) for i in range(1000)], "k string, v double"
    )
    psi_same = psi_drift(ref, same, "v", ["k"]).first().psi
    psi_shift = psi_drift(ref, shifted, "v", ["k"]).first().psi
    assert psi_same < 0.05          # same distribution: stable
    assert psi_shift > 0.25         # +50 shift: flagged broken
    assert psi_shift > psi_same


def test_psi_drift_current_only_key_sentinel(spark):
    """A key appearing only in the CURRENT snapshot has no reference
    distribution — psi_drift must emit the +inf sentinel (n_ref = 0),
    not drop the strongest possible drift signal; ref-only keys keep
    the drop semantics (no fabricated zero)."""
    import math

    from ksql_linq_spark.operators.stats import psi_drift

    ref = spark.createDataFrame(
        [("a", float(i % 100)) for i in range(200)]
        + [("gone", float(i)) for i in range(50)],
        "k string, v double",
    )
    cur = spark.createDataFrame(
        [("a", float((i * 3) % 100)) for i in range(200)]
        + [("new", float(i)) for i in range(30)],
        "k string, v double",
    )
    rows = {r.k: r for r in psi_drift(ref, cur, "v", ["k"]).collect()}
    assert set(rows) == {"a", "new"}          # 'gone' (no cur rows) dropped
    assert math.isinf(rows["new"].psi) and rows["new"].psi > 0
    assert rows["new"].n_ref == 0 and rows["new"].n_cur == 30
    assert math.isfinite(rows["a"].psi)
    assert rows["a"].n_ref == 200 and rows["a"].n_cur == 200


def test_bpe_canonical_merges_and_roundtrip(spark):
    """BPE semantics on the classic toy corpus: merge order follows pair
    frequency with deterministic ties, detokenization reproduces every
    word, and the distributed apply agrees with driver-side encoding."""
    from ksql_linq_spark.operators.bpe import (
        END,
        _encode_word,
        bpe_apply,
        bpe_train,
        word_frequencies,
    )

    wf = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = bpe_train(wf, num_merges=10)
    # the classic Sennrich example: 'es' (9) then 'est' (9) then 'est</w>'
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    assert merges[2] == ("est", END)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in wf:
        toks = _encode_word(w, ranks)
        assert "".join(toks) == w + END  # lossless segmentation

    df = spark.createDataFrame(
        [(1, "newest widest LOW"), (2, ""), (3, "low lower newest")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bpe_apply(df, merges).collect()}
    joined = "".join(out[3].bpe_tokens)
    assert joined == f"low{END}lower{END}newest{END}"
    assert out[2].n_bpe == 0 and out[2].bpe_tokens == []
    # lowercasing folds LOW into the learned 'low'
    assert out[1].bpe_tokens[-len(_encode_word("low", ranks)):] == _encode_word("low", ranks)


def test_bpe_word_frequencies_bounded_and_deterministic(spark):
    from ksql_linq_spark.operators.bpe import word_frequencies

    df = spark.createDataFrame(
        [(i, "alpha beta alpha gamma") for i in range(10)],
        "doc_id long, text string",
    )
    wf = word_frequencies(df, max_words=2)
    assert wf == {"alpha": 20, "beta": 10}  # top-2 by (count desc, word)


def test_cm_sketch_merge_and_guarantee(spark):
    """CM mergeability: sketch(A) + sketch(B) slot-wise == sketch(A∪B);
    estimates never undercount the true frequency."""
    from ksql_linq_spark.operators.sketch import cm_estimate, cm_sketch

    a = spark.createDataFrame([(i % 7,) for i in range(300)], "k long")
    b = spark.createDataFrame([(i % 11,) for i in range(200)], "k long")
    u = a.unionByName(b)
    sa, sb, su = cm_sketch(a, "k"), cm_sketch(b, "k"), cm_sketch(u, "k")
    merged = (
        sa.unionByName(sb)
        .groupBy("depth", "slot")
        .agg(F.sum("n").alias("n"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, su.collect()))
    true_counts = {str(r.k): r.c for r in u.groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()}
    for r in cm_estimate(su, list(range(12))).collect():
        assert r.est >= true_counts.get(r.key, 0)


def test_ann_join_bounded_and_self_match(spark, sf_dir):
    """ann_join: every left row's self-pair survives (cos=1 in its own
    cell), candidates stay cell-bounded (never the cross product), and
    ranks are dense per left row."""
    from ksql_linq_spark.operators.similarity import ann_join

    e = read_table(spark, sf_dir, "embeddings")
    lq = e.limit(10)
    out = ann_join(lq, e, k=3, n_centroids=4, n_probes=2, dim=64).collect()
    by_left = {}
    for r in out:
        by_left.setdefault(r.left_vec_id, []).append(r)
    for lid, rows in by_left.items():
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        top = min(rows, key=lambda r: r.rank)
        assert top.right_vec_id == lid and abs(top.cos - 1.0) < 1e-9


def test_ann_join_empty_left_and_psi_empty_current(spark, sf_dir):
    from ksql_linq_spark.operators.similarity import ann_join
    from ksql_linq_spark.operators.stats import psi_drift

    e = read_table(spark, sf_dir, "embeddings")
    empty = e.limit(0)
    assert ann_join(empty, e, k=1, n_centroids=4, n_probes=1, dim=64).count() == 0

    ref = spark.createDataFrame([("a", float(i)) for i in range(100)], "k string, v double")
    cur_empty = ref.limit(0)
    # empty current snapshot: no rows for the key -> no PSI row (inner
    # join on totals), never a crash or a fabricated zero
    assert psi_drift(ref, cur_empty, "v", ["k"]).count() == 0


def test_triangle_count_known_graphs(spark):
    from ksql_linq_spark.operators.graph import triangle_count

    # r14: both regimes pinned — driver oriented-intersection (default
    # gate) and the distributed two-self-join dataflow (gate=0)
    for gate in (1_000_000, 0):
        tri = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long"
        )
        assert triangle_count(tri, driver_max_edges=gate).first().triangles == 1
        k4 = spark.createDataFrame(
            [(a, b) for a in range(4) for b in range(4) if a < b],
            "id_a long, id_b long",
        )
        assert triangle_count(k4, driver_max_edges=gate).first().triangles == 4
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(6)], "id_a long, id_b long"
        )
        assert triangle_count(chain, driver_max_edges=gate).first().triangles == 0
        # duplicate + reversed edges collapse before counting
        dup = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3)], "id_a long, id_b long"
        )
        assert triangle_count(dup, driver_max_edges=gate).first().triangles == 1
    # seeded random graph with degree ties: both regimes must agree
    # with each other and with brute-force enumeration
    edges = _random_tie_graph()
    g = spark.createDataFrame(edges, "id_a long, id_b long")
    adj = {frozenset(e) for e in edges}
    brute = sum(
        1
        for a in range(40) for b in range(a + 1, 40) for c in range(b + 1, 40)
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= adj
    )
    got = [triangle_count(g, driver_max_edges=gate).first().triangles
           for gate in (1_000_000, 0)]
    assert got == [brute, brute] and brute > 0


def _random_tie_graph():
    """Seeded 40-node random edge list (duplicates and both directions
    included) whose degree sequence has ties, so the orientation's
    id tie-break is exercised."""
    import random
    from collections import Counter

    rng = random.Random(11)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(160)]
    edges = [(a, b) for a, b in edges if a != b]
    deg = Counter(n for e in {frozenset(e) for e in edges} for n in e)
    assert len(set(deg.values())) < len(deg)
    return edges


def test_table_diff_statuses_and_attribution(spark):
    from ksql_linq_spark.operators.quality import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    per_key, summary = table_diff(old, new, ["k"])
    st = {r.k: r.status for r in per_key.collect()}
    assert st == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    sm = {r.status: r for r in summary.collect()}
    assert sm["changed"].n_diff_s == 1 and sm["changed"].n_diff_v == 0
    assert sm["removed"].n_diff_s == 0  # existence, not value, differs


def test_weighted_median_vs_model(spark):
    from ksql_linq_spark.operators.sketch import weighted_median

    rows = [("g", 1, 1), ("g", 2, 1), ("g", 3, 10), ("g", 4, 1),
            ("h", 5, 3), ("h", 7, 1)]
    df = spark.createDataFrame(rows, "k string, v int, w int")
    out = {r.k: r.weighted_median for r in weighted_median(df, "v", "w", ["k"]).collect()}
    # g: total 13, half 6.5 -> crossing inside v=3's mass
    assert out["g"] == 3
    # h: total 4, half 2 -> v=5 (cum 3 >= 2)
    assert out["h"] == 5


def test_clustering_coefficient_known_graphs(spark):
    from ksql_linq_spark.operators.graph import clustering_coefficient

    # triangle 1-2-3 plus pendant 3-4; r14: both regimes pinned and
    # must agree row-for-row (driver leg replicates Spark's round)
    g = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    rows = {}
    for gate in (1_000_000, 0):
        out = {r.node: r for r in
               clustering_coefficient(g, driver_max_edges=gate).collect()}
        assert out[1].coefficient == 1.0 and out[1].triangles == 1
        assert out[2].coefficient == 1.0
        # node 3: degree 3, 1 triangle -> 2*1/(3*2) = 1/3
        assert out[3].degree == 3 and out[3].coefficient == round(1 / 3, 6)
        assert out[4].degree == 1 and out[4].coefficient == 0.0
        rows[gate] = sorted((r.node, r.degree, r.triangles, r.coefficient)
                            for r in out.values())
    assert rows[1_000_000] == rows[0]
    # seeded random graph with degree ties (see _random_tie_graph)
    g = spark.createDataFrame(_random_tie_graph(), "id_a long, id_b long")
    rows = {
        gate: sorted(clustering_coefficient(g, driver_max_edges=gate).collect())
        for gate in (1_000_000, 0)
    }
    assert rows[1_000_000] == rows[0] and len(rows[0]) == 40


def test_standardize_embeddings_moments(spark):
    """After standardization each dimension has ~zero mean and ~unit
    variance (up to the documented 1/scale quantization)."""
    import math

    from ksql_linq_spark.operators.similarity import standardize_embeddings

    rows = [(i, [float(i), 10.0 * i + 5.0, -2.0 * i]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    z = standardize_embeddings(df).collect()
    for d in range(3):
        vals = [r.z[d] for r in z]
        n = len(vals)
        mean = sum(vals) / n
        var = sum(x * x for x in vals) / n - mean * mean
        assert abs(mean) < 1e-6
        assert abs(math.sqrt(var) - 1.0) < 1e-6


def test_standardize_constant_dimension_yields_zero(spark):
    from ksql_linq_spark.operators.similarity import standardize_embeddings

    rows = [(i, [float(i), 7.0]) for i in range(10)]  # dim 1 constant
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    z = standardize_embeddings(df).collect()
    assert all(r.z[1] == 0.0 for r in z)          # no inf/NaN
    assert any(abs(r.z[0]) > 0.1 for r in z)      # varying dim standardizes


def test_write_shards_manifest_and_budget(spark, tmp_path):
    from ksql_linq_spark.operators.dataset import write_shards

    rows = [(i, 100) for i in range(40)]  # 4000 tokens, 1000/shard
    df = spark.createDataFrame(rows, "doc_id long, toks long")
    path = str(tmp_path / "shards")
    manifest = write_shards(df, path, "toks", 1000, order_cols=["doc_id"])
    m = {r.shard: r for r in manifest.collect()}
    assert len(m) == 4
    assert all(r.n_tokens == 1000 for r in m.values())
    # data round-trips with shard dirs; manifest persisted
    back = spark.read.parquet(path)
    assert back.count() == 40
    assert spark.read.parquet(path + "__manifest").count() == 4


def test_file_stats_flags_small_files(spark, tmp_path):
    from ksql_linq_spark.operators.layout import file_stats

    big = spark.range(50_000).withColumn("pad", F.md5(F.col("id").cast("string")))
    big.coalesce(1).write.parquet(str(tmp_path / "t"))
    spark.range(5).write.mode("append").parquet(str(tmp_path / "t"))  # small files
    st = file_stats(spark, str(tmp_path / "t")).collect()
    assert sum(r.rows for r in st) == 50_005
    assert any(r.small_file for r in st)
    assert any(not r.small_file for r in st)


def test_hashed_features_mass_and_stability(spark):
    from ksql_linq_spark.operators.text import hashed_features

    rows = [(1, "alpha beta alpha"), (2, "beta alpha alpha"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in hashed_features(df, dim=8).collect()}
    # mass conservation: sum of buckets == token count
    assert sum(out[1].features) == out[1].n_tokens == 3
    # bag-of-words: permutation of the same tokens hashes identically
    assert out[1].features == out[2].features
    # empty doc: zero vector, not a missing row
    assert out[3].features == [0] * 8 and out[3].n_tokens == 0


def test_weighted_percentile_generalizes_median(spark):
    from ksql_linq_spark.operators.sketch import weighted_median, weighted_percentile

    rows = [("g", v, w) for v, w in [(1, 1), (2, 1), (3, 10), (4, 1), (9, 3)]]
    df = spark.createDataFrame(rows, "k string, v int, w int")
    p50 = weighted_percentile(df, "v", "w", 0.5, ["k"]).first().weighted_p
    med = weighted_median(df, "v", "w", ["k"]).first().weighted_median
    assert p50 == med == 3
    # q=0.9 of total 16 -> threshold 14.4 -> crossing at v=9 (cum 16)
    p90 = weighted_percentile(df, "v", "w", 0.9, ["k"]).first().weighted_p
    assert p90 == 9
    # q=1.0 -> max value
    p100 = weighted_percentile(df, "v", "w", 1.0, ["k"]).first().weighted_p
    assert p100 == 9


def test_connected_components_regimes_agree(spark):
    """The size-gated driver union-find (edge list <= driver_max_edges)
    and the distributed min-label-propagation loop must produce
    IDENTICAL (node, component) maps — same min-id labeling contract.
    A 40-node random graph plus a long path (worst case for label
    propagation rounds) exercises both, with a self-loop-only node
    (its own component in both regimes) and NULL-endpoint edges (no
    node in either regime)."""
    import random

    from ksql_linq_spark.operators.graph import connected_components

    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
    edges += [(100 + i, 101 + i) for i in range(12)]  # path component
    edges = [(a, b) for a, b in edges if a != b]
    edges += [(500, 500), (None, 600), (601, None)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {r["node"]: r["component"] for r in connected_components(df).collect()}
    slow = {
        r["node"]: r["component"]
        for r in connected_components(df, driver_max_edges=0).collect()
    }
    assert fast == slow and fast
    # path component labeled by its min node
    assert fast[112] == 100
    assert fast[500] == 500
    assert None not in fast and 600 not in fast and 601 not in fast


def test_graph_cc_long_chain_converges(spark):
    """r8 invariant-harness finding: plain neighbor-min propagation is
    O(diameter) rounds, and the LSH 256-cap turns degenerate buckets
    into O(n) chains — the 100x exact-duplication regime built chains
    past the 30-round cap ('no fixpoint in 30 rounds').  With pointer
    doubling the loop is O(log d): a 3000-node path (diameter 3000 >>
    2^30-round budget under doubling, hopeless without) must converge
    in the distributed regime and label every node with the chain min."""
    from ksql_linq_spark.operators.graph import connected_components

    n = 3000
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    cc = connected_components(df, driver_max_edges=0).collect()
    labels = {r["node"]: r["component"] for r in cc}
    assert len(labels) == n + 1
    assert set(labels.values()) == {0}


def _analyzed(df):
    """The analyzed plan's text without expression ids."""
    import re

    return re.sub(r"#\d+L?", "", df._jdf.queryExecution().analyzed().toString())


def _clumped_corpus(spark, seed, n_clump, n_spread):
    """``n_clump`` vectors in one tight cluster (sigma 0.01) + ``n_spread``
    spread ones, 16-d: the IVF guardrail's one indivisible hot cell."""
    import numpy as np

    rng = np.random.default_rng(seed)
    vecs = np.vstack(
        [
            rng.normal(0, 1, 16) + rng.normal(0, 0.01, (n_clump, 16)),
            rng.normal(0, 1, (n_spread, 16)),
        ]
    )
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ann_join_cell_subsplit_is_result_identical(spark, monkeypatch):
    """A clumped corpus sub-splits its hot IVF cell (the degenerate-
    clump guard from the r6 zipf probe): the candidate set — and hence
    every (pair, cos, rank) — must be IDENTICAL to the unsplit join
    (the guardrail silenced); only the cogroup key changes.  Corpus:
    300 vectors collapsed into one tight clump + 100 spread, forcing
    one dominant cell."""
    from ksql_linq_spark.operators import similarity
    from ksql_linq_spark.operators.similarity import ClumpedCorpusWarning, ann_join

    e = _clumped_corpus(spark, 11, 300, 100)
    lq = e.filter((F.col("vec_id") % 40) == 0)

    with pytest.warns(ClumpedCorpusWarning):
        split = ann_join(lq, e, k=3, n_centroids=4, n_probes=2, dim=16)
    # the split actually engaged: the cogroup key carries the sub column
    assert "_sub" in _analyzed(split)
    monkeypatch.setattr(similarity, "_clump_check", lambda *a, **kw: None)
    base = ann_join(lq, e, k=3, n_centroids=4, n_probes=2, dim=16)
    assert "_sub" not in _analyzed(base)
    assert _ann_canon(split) == _ann_canon(base) and len(_ann_canon(base)) > 0


def _ann_canon(df):
    return sorted(
        (r.left_vec_id, r.right_vec_id, r.cos.hex(), r.rank)
        for r in df.collect()
    )


def _pair_cosines_reference(spark, lq, e, dim):
    """Test-local exact reference: {(lid, rid): cos} for every left x
    right pair from the similarity.cosine Column expression, zero-norm
    pairs dropped.  ANSI is off while the frame is built so a 0/0
    cosine yields NULL instead of aborting the query."""
    import math

    from ksql_linq_spark.operators.similarity import cosine

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")  # fixed at analysis
    try:
        rows = (
            lq.select(F.col("vec_id").alias("lid"), F.col("embedding").alias("le"))
            .crossJoin(e.select(F.col("vec_id").alias("rid"),
                                F.col("embedding").alias("re")))
            .select("lid", "rid",
                    cosine("`le`", "`re`", dim, cast_elements=True).alias("cos"))
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    return {
        (r.lid, r.rid): r.cos
        for r in rows
        if r.cos is not None and not math.isnan(r.cos)
    }


def _topk_reference(cos, k):
    """Per-left top-k of a reference cosine map by (cos desc, rid asc),
    in _ann_canon's shape."""
    by_left = {}
    for (lid, rid), c in cos.items():
        by_left.setdefault(lid, []).append((-c, rid))
    out = []
    for lid, cands in by_left.items():
        for rank, (neg, rid) in enumerate(sorted(cands)[:k], start=1):
            out.append((lid, rid, (-neg).hex(), rank))
    return sorted(out)


def test_ann_join_arrow_kernel_bit_identical(spark, sf_dir):
    """ann_join (cogrouped numpy scoring per IVF cell, per-cell top-k
    pre-reduction) must reproduce the Column-expression cosine BIT-FOR-
    BIT, with the (cos desc, rid asc) ordering at the per-cell cut and
    the final window."""
    from ksql_linq_spark.operators.similarity import ann_join

    e = read_table(spark, sf_dir, "embeddings")
    lq = e.limit(15)
    ref = _pair_cosines_reference(spark, lq, e, 64)
    # probing every cell makes the candidate set the whole corpus, so
    # the result is the exact top-k
    full = _ann_canon(ann_join(lq, e, k=3, n_centroids=4, n_probes=4, dim=64))
    assert full == _topk_reference(ref, 3) and len(full) > 0
    # with cells pruned, every score is still the exact cosine
    pruned = _ann_canon(ann_join(lq, e, k=3, n_centroids=4, n_probes=2))
    assert len(pruned) > 0
    assert all(c == ref[(lid, rid)].hex() for lid, rid, c, _ in pruned)
    # composes with the clump sub-split too: 400 near-duplicates of one
    # corpus vector make the guardrail fire and split their cell
    import numpy as np

    from ksql_linq_spark.operators.similarity import ClumpedCorpusWarning

    base = e.select("vec_id", "embedding")
    v0 = np.array(base.orderBy("vec_id").first().embedding, dtype=np.float64)
    top = base.agg(F.max("vec_id")).first()[0]
    rng = np.random.default_rng(3)
    clump = spark.createDataFrame(
        [(top + 1 + i, [float(x) for x in v0 + rng.normal(0, 0.001, v0.size)])
         for i in range(400)],
        base.schema,
    )
    ce = base.unionByName(clump)
    cref = _pair_cosines_reference(spark, lq, ce, 64)
    with pytest.warns(ClumpedCorpusWarning):
        salted = ann_join(lq, ce, k=3, n_centroids=8, n_probes=2)
        salted_full = ann_join(lq, ce, k=3, n_centroids=8, n_probes=8)
    assert "_sub" in _analyzed(salted) and "_sub" in _analyzed(salted_full)
    got = _ann_canon(salted)
    assert len(got) > 0
    assert all(c == cref[(lid, rid)].hex() for lid, rid, c, _ in got)
    assert _ann_canon(salted_full) == _topk_reference(cref, 3)


def test_ivf_clump_guardrail(spark):
    """r7 guardrail: an IVF build over a clumped corpus (one tight
    near-dup cluster the quantizer cannot split — the measured silent
    100x-candidate pathology) must WARN with the mitigation order; a
    uniform corpus must stay silent."""
    import warnings

    import numpy as np

    from ksql_linq_spark.operators.similarity import (
        ClumpedCorpusWarning,
        ann_join,
        ivf_assign,
    )

    rng = np.random.default_rng(23)

    def mkdf(vecs):
        rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    clumped = mkdf(
        np.vstack(
            [
                rng.normal(0, 1, 16) + rng.normal(0, 0.01, (500, 16)),
                rng.normal(0, 1, (500, 16)),
            ]
        )
    )
    uniform = mkdf(rng.normal(0, 1, (1000, 16)))

    with pytest.warns(ClumpedCorpusWarning, match="semantic-dedup"):
        ivf_assign(clumped, n_centroids=16)

    with warnings.catch_warnings():
        warnings.simplefilter("error", ClumpedCorpusWarning)
        ivf_assign(uniform, n_centroids=16)  # must not warn

    # ann_join still builds and runs on the clumped corpus
    with pytest.warns(ClumpedCorpusWarning):
        out = ann_join(
            clumped.limit(5), clumped, k=1, n_centroids=16, n_probes=1
        )
        assert out.count() == 5


def test_ann_join_clump_subsplit_is_aqe_independent(spark):
    """A clumped corpus sub-splits its hot IVF cell on the default
    session (AQE and its skew-join split on): AQE splits skewed
    sort-merge join partitions, never a cogroup's, so ann_join chooses
    the split from its training sample alone.  With every cell probed
    the output is the exact top-k of the Spark cosine reference, hex
    for hex, and turning the skew-join split off changes neither the
    analyzed plan nor the output."""
    from ksql_linq_spark.operators.similarity import ClumpedCorpusWarning, ann_join

    e = _clumped_corpus(spark, 31, 400, 100)
    lq = e.filter((F.col("vec_id") % 50) == 0)

    with pytest.warns(ClumpedCorpusWarning):
        on = ann_join(lq, e, k=3, n_centroids=8, n_probes=8)
    assert "_sub" in _analyzed(on)
    got = _ann_canon(on)
    assert got == _topk_reference(_pair_cosines_reference(spark, lq, e, None), 3)
    assert len(got) > 0

    key = "spark.sql.adaptive.skewJoin.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        with pytest.warns(ClumpedCorpusWarning):
            off = ann_join(lq, e, k=3, n_centroids=8, n_probes=8)
        assert _analyzed(off) == _analyzed(on)
        assert _ann_canon(off) == got
    finally:
        spark.conf.set(key, prev)


def test_ann_join_arrow_dim_exceeding_vector_length_fails_loudly(spark):
    """ADVICE r7: numpy slicing R[:, :dim] silently narrows when dim
    exceeds the stored vector length while the expr path's element_at
    fails — the arrow kernel must raise instead of diverging."""
    import numpy as np

    from ksql_linq_spark.operators.similarity import ann_join

    rng = np.random.default_rng(9)
    rows = [
        (int(i), [float(x) for x in v])
        for i, v in enumerate(rng.normal(0, 1, (40, 16)))
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lq = e.filter(F.col("vec_id") < 5)
    with pytest.raises(Exception, match="exceeds stored vector length"):
        ann_join(lq, e, k=2, n_centroids=4, n_probes=2, dim=32).collect()


def test_ann_join_arrow_dim_and_nan_parity(spark):
    """ADVICE r6: ann_join must honor ``dim`` (slice to [:, :dim]) and
    must exclude NaN cosines (zero-norm vectors), matching the
    Column-expression reference — degenerate input cannot diverge."""
    import numpy as np

    from ksql_linq_spark.operators.similarity import ann_join

    rng = np.random.default_rng(5)
    vecs = rng.normal(0, 1, (60, 16))
    vecs[7] = 0.0  # zero-norm corpus vector -> NaN cosine everywhere
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lq = e.filter(F.col("vec_id") < 10)  # includes the zero-norm probe

    for d in (None, 8):
        # every cell probed: the result is the exact top-k
        got = _ann_canon(ann_join(lq, e, k=3, n_centroids=4, n_probes=4, dim=d))
        assert got == _topk_reference(_pair_cosines_reference(spark, lq, e, d), 3)
        assert len(got) > 0
        # the zero-norm vector never appears on either side of a pair
        assert all(r[1] != 7 for r in got)
        assert all(r[0] != 7 for r in got)


def test_repetition_stats_rowlocal_matches_grouped_reference(spark):
    """The r13 row-local repetition_stats (array size / array_distinct /
    sorted-run fold, zero shuffle) must agree row-for-row with the naive
    occurrence-rows -> groupBy(doc, s) -> groupBy(doc) form it replaced,
    on edge-shaped documents: blank (no row at all), shorter-than-n
    (whole text as one shingle), all-identical, interleaved repeats
    (run-length == multiset count needs the sort), and unicode."""
    from pyspark.sql import functions as F

    from ksql_linq_spark.operators.text import (
        repetition_stats,
        shingle_occurrence_rows,
    )

    df = spark.createDataFrame(
        [
            (1, ""),                                   # blank: no output row
            (2, "solo"),                               # < n tokens
            (3, "spam spam spam spam spam"),           # one trigram x3
            (4, "a b c a b c a b c d"),                # interleaved repeats
            (5, "añ ño ñu añ ño ñu añ"),               # unicode tokens
            (6, "all words here are unique ones"),
        ],
        "doc_id long, text string",
    )
    occ = shingle_occurrence_rows(df, n=3)
    per = occ.groupBy("doc_id", "s").agg(F.count(F.lit(1)).alias("c"))
    ref = {
        r["doc_id"]: r
        for r in per.groupBy("doc_id")
        .agg(
            F.sum("c").alias("total"),
            F.count(F.lit(1)).alias("distinct"),
            F.round(F.lit(1.0) - F.count(F.lit(1)) / F.sum("c"), 6).alias(
                "dup_ratio"
            ),
            F.round(F.max("c") / F.sum("c"), 6).alias("top_fraction"),
        )
        .collect()
    }
    got = {r["doc_id"]: r for r in repetition_stats(df, n=3).collect()}
    assert set(got) == set(ref) and 1 not in got
    for doc_id, r in ref.items():
        g = got[doc_id]
        for col in ("total", "distinct", "dup_ratio", "top_fraction"):
            assert g[col] == r[col], (doc_id, col, g[col], r[col])


def test_group_percentiles_compress_bit_identical(spark):
    """r13: the frequency-compressed exact path (pre-aggregate to
    (keys, value, count) + percentile-with-frequency) must be
    bit-identical to the direct grouped percentile — including NULL
    group keys (null-safe recombination join) and all-NULL value
    groups (kept through the pre-aggregate)."""
    from ksql_linq_spark.operators.sketch import group_percentiles

    rows = [
        ("a", 1.0, 10.0),
        ("a", 2.0, 20.0),
        ("a", 4.0, None),
        ("b", 7.0, 70.0),
        ("b", None, 80.0),
        (None, 3.0, 30.0),
        (None, 5.0, None),
        ("c", None, None),  # all-NULL group: row must survive
    ]
    df = spark.createDataFrame(rows, "k string, x double, y double")
    col_probs = {
        "x": [(0.5, "x_med"), (0.9, "x_p90")],
        "y": [(0.25, "y_p25")],
    }
    plain = group_percentiles(
        df, ["k"], col_probs, mode="exact", compress=False
    )
    freq = group_percentiles(df, ["k"], col_probs, mode="exact")
    assert plain.columns == freq.columns
    key = lambda r: (r["k"] is None, r["k"])
    a = sorted(plain.collect(), key=key)
    b = sorted(freq.collect(), key=key)
    assert len(a) == len(b) == 4
    for ra, rb in zip(a, b):
        assert ra == rb, (ra, rb)


def test_norm_tokens_matches_tokens_of_normalize_text(spark):
    """r13: norm_tokens drops the whitespace-collapse before the \\s+
    split — arrays must stay identical to tokens(normalize_text(...))
    on every edge class (blank, punct-only, multi-space, mixed)."""
    from ksql_linq_spark.operators.text import (
        norm_tokens,
        normalize_text,
        tokens,
    )

    rows = [
        ("",), ("   ",), (".,!?;:",), (" . , ",),
        ("Hello,  World!",), ("a\tb\nc   d",), ("x",),
        ("  MIXED case...  with;punct  and   runs ",),
    ]
    df = spark.createDataFrame(rows, "text string")
    bad = (
        df.select(
            tokens(normalize_text(F.col("text"))).alias("a"),
            norm_tokens(F.col("text")).alias("b"),
        )
        .where(~(F.col("a") == F.col("b")))
        .count()
    )
    assert bad == 0


def test_remove_dup_ngrams_short_docs_keep_all_tokens(spark):
    """r13 row-local gram assembly: docs shorter than n tokens build NO
    grams (the sequence() when-guard — an unguarded sequence(1, 0)
    counts DOWN) and must come through intact; duplicated 5-grams are
    still removed everywhere; fully-boilerplate docs empty out."""
    from ksql_linq_spark.operators.dataset import remove_dup_ngrams

    boiler = "one two three four five"
    rows = [
        (1, "tiny doc"),                       # < n tokens: untouched
        (2, boiler),                           # exactly the dup gram
        (3, boiler + " unique tail here"),     # dup prefix + survivors
        (4, ""),                               # empty: 0/0
        (5, None),                             # NULL text: ("", 0, 0), not (NULL, -1, -1)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in remove_dup_ngrams(df, n=5, min_docs=2).collect()}
    assert out[1].text == "tiny doc" and out[1].n_total == 2 and out[1].n_kept == 2
    assert out[2].text == "" and out[2].n_total == 5 and out[2].n_kept == 0
    assert out[3].text == "unique tail here" and out[3].n_kept == 3
    assert out[4].text == "" and out[4].n_total == 0 and out[4].n_kept == 0
    assert out[5].text == "" and out[5].n_total == 0 and out[5].n_kept == 0


def test_contamination_report_exact_check_col_matches_two_call_form(spark):
    """r13: the fused exact-check leg must reproduce the separate exact
    report's train_docs per doc, and the flag demands the approx path."""
    import pytest as _pytest

    from ksql_linq_spark.operators.decontam import contamination_report

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon"),
         (3, "zeta eta theta iota")],
        "doc_id int, text string",
    )
    ev = spark.createDataFrame(
        [(10, "alpha beta gamma"), (11, "zeta eta theta"), (12, "nope nada zip")],
        "doc_id int, text string",
    )
    fused = contamination_report(
        train, ev, shingle_n=3, approx_train_docs=True,
        exact_check_col="_exact_td",
    )
    exact = contamination_report(train, ev, shingle_n=3).select(
        "doc_id", F.col("train_docs").alias("_exact_td")
    )
    f = {r.doc_id: r._exact_td for r in fused.collect()}
    e = {r.doc_id: r._exact_td for r in exact.collect()}
    assert f == e and f[10] == 2 and f[11] == 1 and f[12] == 0
    with _pytest.raises(ValueError):
        contamination_report(train, ev, exact_check_col="x")


def test_brute_force_top1_ids_matches_window_form(spark):
    """r14: the numpy exact-NN kernel must reproduce the crossjoin +
    unrolled-cosine + row_number window form exactly — same IEEE fold,
    min-id tie-break, self exclusion, and NaN-first (zero-norm vector)
    ordering."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as _W

    from ksql_linq_spark.operators.similarity import (
        brute_force_top1_ids,
        cosine as _cos,
    )

    dim = 4
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),   # exact duplicate of 0 -> tie class
        (2, [1.0, 0.0, 0.0, 0.0]),   # second duplicate: tie-break min id
        (3, [0.0, 1.0, 0.0, 0.0]),
        (100, [0.0, 0.0, 0.0, 0.0]),  # zero norm -> NaN cosines rank first
        (200, [0.5, 0.5, 0.0, 0.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lq = e.filter(F.col("vec_id") % 100 == 0)
    r = e.select(F.col("vec_id").alias("rid"), F.col("embedding").alias("re"))
    # ANSI mode (Spark 4 default) ERRORS the expression form on the
    # zero-norm 0/0 division, while DuckDB (the oracle) yields NaN; the
    # kernel matches the oracle.  Compare against the window form with
    # ANSI off so the NaN ordering is exercised.
    prev_ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    old = (
        lq.select(F.col("vec_id").alias("lid"), F.col("embedding").alias("le"))
        .join(r, F.col("lid") != F.col("rid"))
        .select(
            "lid", "rid",
            _cos("`le`", "`re`", dim, cast_elements=True).alias("cos"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("lid").orderBy(F.col("cos").desc(), F.col("rid"))
            ),
        )
        .where(F.col("rn") == 1)
        .select("lid", F.col("rid").alias("exact_rid"))
    )
    new = brute_force_top1_ids(e, lq)
    try:
        a = sorted(old.collect())
        b = sorted(new.collect())
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev_ansi)
    assert a == b, (a, b)
    with __import__("pytest").raises(ValueError):
        brute_force_top1_ids(e, e, max_queries=2)


def test_shingle_arrays_max_tokens_guard(spark):
    """r14 (guide §5): the per-row occurrence array holds every n-gram
    of one document in one row (~3x the text size) — documents over
    the token bound must FAIL FAST with a pointed error, not OOM an
    executor; documents at or under the bound are untouched."""
    import pytest as _pytest

    from ksql_linq_spark.operators.text import _shingle_arrays

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y"), (3, None)], "doc_id int, text string"
    )
    # NULL text has size(NULL) = NULL and must pass the guard (empty
    # occurrence array), never raise
    ok = _shingle_arrays(df, max_tokens=6).collect()
    assert len(ok) == 3
    with _pytest.raises(Exception, match="exceeds 4 tokens"):
        _shingle_arrays(df, max_tokens=4).collect()


def _left_fold_cosine(a, b, unit):
    """Pure-Python reference for similarity._cosine_chunks: one
    left-to-right fold per dot product, in Python floats (IEEE
    doubles)."""
    import math

    def fold(x, y):
        acc = 0.0
        for xi, yi in zip(x, y):
            acc += xi * yi
        return acc

    a, b = [float(x) for x in a], [float(x) for x in b]
    if unit:
        na, nb = math.sqrt(fold(a, a)), math.sqrt(fold(b, b))
        if na == 0.0 or nb == 0.0:
            return math.nan
        return fold([x / na for x in a], [x / nb for x in b])
    den = math.sqrt(fold(a, a)) * math.sqrt(fold(b, b))
    return fold(a, b) / den if den else math.nan


@pytest.mark.parametrize("dtype", ["float32", "float64"])
@pytest.mark.parametrize("unit", [False, True])
def test_cosine_chunks_bit_exact_left_fold(monkeypatch, dtype, unit):
    """The one exact-cosine fold matches a pure-Python left fold bit for
    bit (.hex()), across chunk boundaries, with a zero-norm row giving
    NaN; both the two-block and the self form."""
    import math

    import numpy as np

    from ksql_linq_spark.operators import similarity

    rng = np.random.default_rng(3)
    # 20 dims: numpy's own reductions switch to pairwise summation from
    # 8 elements, so a reassociated fold would show
    a = rng.normal(0, 1, (50, 20)).astype(dtype)
    b = rng.normal(0, 1, (40, 20)).astype(dtype)
    a[5] = 0.0
    # cap below one a-block x b-block: chunks of the 16-row floor
    monkeypatch.setattr(similarity, "_COS_CHUNK_CELLS", 100)

    def hexes(m):
        return [["nan" if math.isnan(x) else float(x).hex() for x in row] for row in m]

    for other in (b, None):
        chunks = list(similarity._cosine_chunks(list(a), other, unit=unit))
        assert [s for s, _ in chunks] == [0, 16, 32, 48]
        got = np.vstack([c for _, c in chunks])
        assert got.dtype == np.float64
        ref_b = a if other is None else b
        want = [[_left_fold_cosine(x, y, unit) for y in ref_b] for x in a]
        assert hexes(got) == hexes(want)
        assert all(math.isnan(x) for x in got[5])


def test_nearest_cells_ties_break_by_cell_id():
    from ksql_linq_spark.operators.similarity import _nearest_cells

    cents = [[0.0, 1.0], [1.0, 0.0], [2.0, 0.0], [0.0, 0.0]]
    # cells 9 and 4 tie at cos 1.0; the zero centroid scores -1
    assert _nearest_cells([3.0, 0.0], cents, 3, cells=[7, 9, 4, 1]) == [4, 9, 7]
    assert _nearest_cells([3.0, 0.0], cents, 4) == [1, 2, 0, 3]


@pytest.mark.parametrize(
    "op",
    ["brute_force_top1_ids", "knn_graph_blocked", "ann_join",
     "embedding_cosine_pairs_blocked", "semantic_dedup_blocked"],
)
def test_exact_cosine_ops_reject_non_integral_ids(spark, op):
    """A string id fails at build time with an error naming the column,
    not later on an executor with a pandas cast error."""
    from ksql_linq_spark.operators import dedup, similarity

    df = spark.createDataFrame(
        [("a", 0, [1.0, 0.0]), ("b", 0, [0.0, 1.0])],
        "vec_id string, label int, embedding array<float>",
    )
    build = {
        "brute_force_top1_ids": lambda: similarity.brute_force_top1_ids(df, df),
        "knn_graph_blocked": lambda: similarity.knn_graph_blocked(df, "label"),
        "ann_join": lambda: similarity.ann_join(df, df, n_centroids=2),
        "embedding_cosine_pairs_blocked": lambda: dedup.embedding_cosine_pairs_blocked(df),
        "semantic_dedup_blocked": lambda: dedup.semantic_dedup_blocked(df, "label"),
    }[op]
    with pytest.raises(TypeError, match=r"'vec_id' is string"):
        build()


def test_plan_caches_evict_only_foreign_apps(spark, sf_dir):
    """The read_table and LSH-pairs plan caches, filled past their bound
    with entries of other application ids, drop those entries and keep
    the active application's."""
    from ksql_linq_spark import entry_queries, sources

    app = spark.sparkContext.applicationId
    for cache, bound, fill in (
        (sources._TABLE_PLAN_CACHE, 256,
         lambda: sources.read_table(spark, sf_dir, "embeddings")),
        (entry_queries._LSH_PAIRS_PLANS, 64,
         lambda: entry_queries._lsh_pairs(spark, sf_dir)),
    ):
        saved = dict(cache)
        try:
            cache.clear()
            cache[(app, "kept")] = "kept"
            for i in range(bound + 1):
                cache[(f"stopped-app-{i}", "x")] = None
            fill()  # a miss past the bound evicts
            assert cache.pop((app, "kept")) == "kept"
            assert len(cache) == 1 and all(k[0] == app for k in cache)
        finally:
            cache.clear()
            cache.update(saved)
