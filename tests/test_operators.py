"""LLM-pipeline operator tests: dedup, similarity, text, multimodal."""


import pytest

from pyspark.sql import functions as F

from dask_groupby_spark.operators.dedup import (
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from dask_groupby_spark.operators.multimodal import attach_fake_media, extract_image_features
from dask_groupby_spark.operators.similarity import (
    cosine_topk,
    embedding_near_duplicates,
    lsh_bucketed_topk,
)
from dask_groupby_spark.operators.text import add_text_features, language_id


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (3, "the quick brown fox jumps over a lazy dog", "en"),  # near dup of 1
        (4, "der schnelle braune fuchs springt und springt", "de"),
        (5, "completely different words entirely here now", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")


def test_exact_duplicates(docs):
    out = exact_duplicates(docs, "doc_id", "text").collect()
    by_copies = sorted((r["n_copies"], r["keep_id"]) for r in out)
    assert by_copies == [(1, 3), (1, 4), (1, 5), (2, 1)]


def test_minhash_near_dups_share_bands(docs):
    sig = minhash_signatures(docs, "doc_id", "text", num_hashes=8, shingle_k=2)
    pairs = {(r["id_a"], r["id_b"]): r["n_shared_bands"] for r in
             lsh_candidate_pairs(sig, num_hashes=8, bands=8).collect()}
    assert pairs.get((1, 2)) == 8  # identical docs share every band
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup shares some band
    assert (1, 5) not in pairs and (4, 5) not in pairs


def test_ngram_jaccard(docs):
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           ngram_jaccard_pairs(docs, "doc_id", "text", k=2, threshold=0.4).collect()}
    assert out[(1, 2)] == 1.0
    assert 0.4 <= out[(1, 3)] < 1.0
    assert (1, 5) not in out


def test_duplicate_clusters(spark):
    from dask_groupby_spark.operators.dedup import duplicate_clusters

    # two components: {1,2,3,4} via chain (diameter 3 — needs >1 round) and
    # {10, 11}; (1,4) never appears as a pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint"
    )
    got = {r["id"]: r["cluster_id"] for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_duplicate_clusters_partition_invariant(spark):
    from dask_groupby_spark.operators.dedup import duplicate_clusters

    import random

    rng = random.Random(11)
    ids = list(range(60))
    pairs = [(a, b) for a in ids for b in ids if a < b and rng.random() < 0.03]
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    base = {(r["id"], r["cluster_id"])
            for r in duplicate_clusters(df).collect()}
    redist = {(r["id"], r["cluster_id"])
              for r in duplicate_clusters(df.repartition(7)).collect()}
    assert base == redist


def test_near_deduplicate_end_to_end(docs):
    from dask_groupby_spark.operators.dedup import near_deduplicate

    out = near_deduplicate(docs, num_hashes=8, bands=8, shingle_k=2)
    kept = {r["doc_id"] for r in out.collect()}
    # docs 1/2 identical and 3 near-identical → one survivor (min id 1);
    # 4 and 5 unrelated → kept
    assert 1 in kept and 4 in kept and 5 in kept
    assert 2 not in kept
    assert len(kept) <= 4


def test_shingle_ops_short_documents(spark):
    """Docs shorter than shingle_k must yield empty shingle sets, not crash
    (regression: sequence(1, 0) is DESCENDING in Spark → slice(_, 0, _) threw)."""
    from dask_groupby_spark.operators.dedup import near_deduplicate, shingles

    rows = [
        (1, "a"),
        (2, ""),
        (3, "a b"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sh = df.select(F.size(shingles(F.col("text"), 3)).alias("n")).collect()
    assert sorted(r["n"] for r in sh) == [0, 0, 0, 7, 7]
    sigs = minhash_signatures(df, num_hashes=4, shingle_k=3)
    assert sigs.count() == 2  # only the two long docs have signatures
    kept = {r["doc_id"] for r in near_deduplicate(df, num_hashes=4, bands=4, shingle_k=3).collect()}
    # short docs pass through untouched; one of the twin long docs survives
    assert {1, 2, 3} <= kept and len(kept & {4, 5}) == 1


def test_duplicate_spans_and_removal(spark):
    """duplicate_spans stats + remove_duplicate_spans first-occurrence-keep
    (substring dedup a la Lee et al. 2022)."""
    from dask_groupby_spark.operators.dedup import duplicate_spans, remove_duplicate_spans

    rows = [
        (1, "a b c d e f"),
        (2, "z z a b c d q r"),  # contains repeat of doc1's opening span
        (3, "a b c d e f"),      # exact dup of doc1
        (4, "short doc"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    stats = sorted(tuple(r) for r in duplicate_spans(df, k=4, min_repeats=2).collect())
    assert stats == [("a b c d", 3, 3), ("b c d e", 2, 2), ("c d e f", 2, 2)]
    hashed = sorted(
        tuple(r)
        for r in duplicate_spans(df, k=4, min_repeats=2, group_on_hash=True)
        .select("span", "n_occurrences", "n_docs")
        .collect()
    )
    assert hashed == stats
    out = {r["doc_id"]: r["text"] for r in remove_duplicate_spans(df, k=4).collect()}
    assert out[1] == "a b c d e f"  # first occurrence kept intact
    assert out[2] == "z z q r"      # covered tokens 2..5 removed
    assert out[3] == ""             # fully duplicated doc vanishes
    assert out[4] == "short doc" and out[5] == ""  # short docs untouched


def test_remove_duplicate_spans_randomized_vs_bruteforce(spark):
    """Randomized differential: remove_duplicate_spans vs a brute-force
    in-memory reference (tiny vocab forces heavy span collisions and
    overlapping covered ranges)."""
    import numpy as np

    from dask_groupby_spark.operators.dedup import remove_duplicate_spans

    rng = np.random.default_rng(90210)
    k = 3
    docs = []
    for doc_id in range(40):
        n = int(rng.integers(0, 12))
        docs.append((doc_id, " ".join(rng.choice(list("abcd"), n))))

    # brute-force reference: global first-occurrence keep over (id, pos)
    spans = []  # (span, id, pos)
    for doc_id, text in docs:
        toks = [t for t in text.split(" ") if t]
        for p in range(len(toks) - k + 1):
            spans.append((" ".join(toks[p : p + k]), doc_id, p))
    from collections import Counter, defaultdict

    counts = Counter(s for s, _, _ in spans)
    seen = set()
    covered = defaultdict(set)
    for s, doc_id, p in sorted(spans, key=lambda t: (t[0], t[1], t[2])):
        if counts[s] < 2:
            continue
        if s in seen:
            covered[doc_id].update(range(p, p + k))
        else:
            seen.add(s)
    expected = {}
    for doc_id, text in docs:
        toks = [t for t in text.split(" ") if t]
        expected[doc_id] = " ".join(
            t for i, t in enumerate(toks) if i not in covered[doc_id]
        )

    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(df, k=k, min_repeats=2).collect()
    }
    assert got == expected


def test_token_entropy_vs_numpy(spark):
    import numpy as np

    from dask_groupby_spark.operators.text import token_entropy

    rows = [
        (1, "a a a a"),            # zero entropy
        (2, "a b c d"),            # ln(4)
        (3, "a a b"),              # -(2/3 ln 2/3 + 1/3 ln 1/3)
        (4, ""),                   # empty → 0
        (5, "x"),                  # single token → 0
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r["h"] for r in
           df.select("doc_id", token_entropy(F.col("text")).alias("h")).collect()}

    def ref(text):
        toks = [t for t in text.split(" ") if t]
        if not toks:
            return 0.0
        _, c = np.unique(toks, return_counts=True)
        p = c / c.sum()
        return float(-(p * np.log(p)).sum())

    for doc_id, text in rows:
        assert abs(got[doc_id] - ref(text)) < 1e-12, (doc_id, got[doc_id], ref(text))


def test_simhash_similar_docs_close(docs):
    sig = {r["id"]: r["simhash"] for r in simhash(docs, "doc_id", "text", bits=16).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert sig[1] == sig[2]
    assert hamming(sig[1], sig[3]) <= hamming(sig[1], sig[5])


def test_cosine_topk_exact(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = cosine_topk(emb, emb.where(F.col("vec_id") == 1), k=3)
    got = [(r["neighbor_id"], round(r["cosine"], 4)) for r in out.orderBy("rank").collect()]
    assert [g[0] for g in got] == [2, 3, 4]
    assert got[0][1] > 0.99 and got[1][1] == 0.0 and got[2][1] == -1.0


def test_lsh_bucketed_recall(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.normal(0, 1, (40, 16)).astype("float32")
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = emb.where(F.col("vec_id") < 3)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in lsh_bucketed_topk(emb, q, k=3, dim=16, n_planes=2).collect()}
    # low-plane LSH should recover a decent fraction of the exact set
    assert len(exact & approx) >= len(exact) // 3


def test_ivf_topk_recall_and_shape(spark):
    import numpy as np

    from dask_groupby_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(7)
    base = rng.normal(0, 1, (60, 16)).astype("float32")
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = emb.where(F.col("vec_id") < 4)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=3).collect()}
    got = ivf_topk(emb, q, k=3, n_cells=4, nprobe=2).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in got}
    # probing half the cells should recover a decent fraction of exact top-k
    assert len(exact & approx) >= len(exact) // 3
    # per-query ranks are 1..n without gaps, cosine non-increasing
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    for rs in by_q.values():
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        cs = [r["cosine"] for r in rs]
        assert all(a >= b for a, b in zip(cs, cs[1:]))
    # k-means refinement must keep the same output contract and not lose
    # recall relative to the unrefined seeding on average
    refined = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, q, k=3, n_cells=4, nprobe=2, refine_iters=2).collect()
    }
    assert len(exact & refined) >= len(exact & approx) - 2


def test_group_centroids(spark):
    from dask_groupby_spark.operators.similarity import group_centroids

    rows = [
        ("a", [1.0, 0.0, 3.0]),
        ("a", [3.0, 2.0, 1.0]),
        ("b", [0.0, 4.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "g string, embedding array<float>")
    got = {r["g"]: r["centroid"] for r in group_centroids(emb, "g").collect()}
    assert got["a"] == [2.0, 1.0, 2.0]
    assert got["b"] == [0.0, 4.0, 0.0]
    normed = {r["g"]: r["centroid"]
              for r in group_centroids(emb, "g", normalize=True).collect()}
    n = sum(x * x for x in normed["a"]) ** 0.5
    assert abs(n - 1.0) < 1e-9
    assert abs(normed["a"][0] / normed["a"][1] - 2.0) < 1e-9


def test_embedding_near_duplicates(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.999, 0.001]),
        (3, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = embedding_near_duplicates(emb, threshold=0.99, dim=2, n_planes=1).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in ids and (1, 3) not in ids


def test_lsh_bucket_stats_matches_actual_pair_counts(spark):
    """The audit's scored/total pair arithmetic must agree EXACTLY with
    what capped_bucket_pairs actually enumerates at the same cap, and
    truncated_members with the members ranked past the cap (VERDICT r11
    #2 — the audit is only trustworthy if it audits the real scheme)."""
    import random

    from dask_groupby_spark.operators import lsh_bucket_stats
    from dask_groupby_spark.operators.dedup import capped_bucket_pairs
    from dask_groupby_spark.operators.similarity import _hyperplane, lsh_bucket

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cap = 5
    stats = lsh_bucket_stats(
        emb, dim=8, n_planes=3, max_bucket_size=cap, target_occupancy=cap
    ).collect()[0]
    planes = [_hyperplane(8, i) for i in range(3)]
    base = emb.select(
        F.col("vec_id").alias("id"),
        lsh_bucket(F.col("embedding").cast("array<double>"), planes).alias(
            "bucket"
        ),
    )
    scored_actual = capped_bucket_pairs(base, ["bucket"], cap).count()
    total_actual = capped_bucket_pairs(base, ["bucket"], None).count()
    assert stats["scored_pairs"] == scored_actual
    assert stats["total_pairs"] == total_actual
    counts = [r["n"] for r in base.groupBy("bucket").count()
              .withColumnRenamed("count", "n").collect()]
    assert stats["records"] == 300 and stats["buckets"] == len(counts)
    assert stats["max_bucket"] == max(counts)
    assert stats["over_cap_buckets"] == sum(1 for n in counts if n > cap)
    assert stats["truncated_members"] == sum(n - cap for n in counts if n > cap)
    # recommended_n_planes: smallest p with 2^p * target >= records
    p = stats["recommended_n_planes"]
    assert (1 << p) * cap >= 300 and (p == 0 or (1 << (p - 1)) * cap < 300)
    # uncapped: the cap columns are inert and scored == total
    free = lsh_bucket_stats(emb, dim=8, n_planes=3, max_bucket_size=None)
    row = free.collect()[0]
    assert row["scored_pairs"] == row["total_pairs"] == total_actual
    assert row["over_cap_buckets"] == 0 and row["truncated_member_frac"] == 0.0
    assert row["scored_pair_frac"] == 1.0


def test_text_features(docs):
    out = {r["doc_id"]: r for r in add_text_features(docs).collect()}
    assert out[1]["n_tokens"] == 9
    assert out[1]["stopword_ratio"] > 0.2  # 'the' twice + 'over'... of 9
    assert out[4]["stopword_ratio"] == 0.0


def test_language_id(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert out[1] == "en" and out[4] == "de"
    assert out[5] == "und" or out[5] in ("en",)  # no stopwords → und


def test_repetition_features(spark):
    from dask_groupby_spark.operators.text import repetition_features

    rows = [
        (1, "spam spam spam spam"),          # one token, one bigram repeated
        (2, "all words here are different"),
        (3, "x"),                            # no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in repetition_features(df).collect()}
    assert abs(got[1]["rep_dup_token_frac"] - 0.75) < 1e-9
    assert got[1]["rep_top_bigram_frac"] == 1.0  # all 3 bigrams identical
    assert got[2]["rep_dup_token_frac"] == 0.0
    assert got[2]["rep_top_bigram_frac"] == 0.25  # 4 distinct bigrams
    assert got[3]["rep_top_bigram_frac"] == 0.0
    # map-side only
    assert "Exchange" not in repetition_features(df)._jdf.queryExecution().executedPlan().toString()


def test_pattern_counts(spark):
    from dask_groupby_spark.operators.text import pattern_counts

    rows = [(1, "mail me at a.b@example.com or see https://x.org id 1234567")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    r = pattern_counts(df).collect()[0]
    assert (r["n_emails"], r["n_urls"], r["n_digit_runs"]) == (1, 1, 1)


def test_tfidf_top_terms(spark):
    import math

    from dask_groupby_spark.operators.text import tfidf_top_terms

    rows = [
        (1, "apple apple banana"),
        (2, "apple cherry"),
        (3, "durian durian durian"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = tfidf_top_terms(df, k=2).collect()
    got = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["tfidf"]) for r in out}
    # doc 1: apple tf=2 df=2 → 2*(ln(4/3)+1); banana tf=1 df=1 → ln(2)+1
    idf = lambda dfq: math.log(4 / (dfq + 1)) + 1
    assert got[(1, 1)][0] == "apple"
    assert abs(got[(1, 1)][2] - 2 * idf(2)) < 1e-9
    assert got[(1, 2)][0] == "banana"
    assert abs(got[(1, 2)][2] - idf(1)) < 1e-9
    # doc 3: single repeated rare term dominates
    assert got[(3, 1)] == ("durian", 3, 3 * idf(1))


def test_multimodal_pipeline(docs):
    media = attach_fake_media(docs)
    feats = extract_image_features(media)
    rows = {r["doc_id"]: r for r in feats.collect()}
    assert len(rows) == 5
    r = rows[1]
    assert r["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    assert 0.0 <= r["mean_luma"] <= 1.0
    assert r["format"] == "fake"


def test_multimodal_video_frames(docs):
    from dask_groupby_spark.operators.multimodal import sample_video_frames

    media = attach_fake_media(docs)
    frames = sample_video_frames(media, every_nth=5, max_frames=4).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert set(by_doc) == {r["doc_id"] for r in media.select("doc_id").collect()}
    for idxs in by_doc.values():
        assert sorted(idxs) == list(range(len(idxs)))  # dense 0..n-1
        assert len(idxs) <= 4


def test_train_test_split(spark):
    from dask_groupby_spark.operators.curate import train_test_split

    df = spark.createDataFrame([(i, f"doc {i}") for i in range(2000)],
                               "doc_id bigint, text string")
    out = train_test_split(df, 0.2, id_col="doc_id", seed="s1")
    frac = out.where(F.col("split") == "test").count() / 2000
    assert 0.15 < frac < 0.25  # hash-uniform, ±noise
    # deterministic & partition-invariant
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"]
         for r in train_test_split(df.repartition(13), 0.2, id_col="doc_id", seed="s1").collect()}
    assert a == b
    # stable under corpus growth: the original ids keep their assignment
    df2 = spark.createDataFrame([(i, f"doc {i}") for i in range(3000)],
                                "doc_id bigint, text string")
    c = {r["doc_id"]: r["split"]
         for r in train_test_split(df2, 0.2, id_col="doc_id", seed="s1").collect()}
    assert all(c[i] == a[i] for i in a)
    # no shuffle: map-side projection only
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_decontaminate(spark):
    from dask_groupby_spark.operators.curate import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # contains bench ngram
            (2, "one two three four five six seven eight nine"),
            (3, "totally unrelated content with distinct words here"),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(100, "x alpha beta gamma delta epsilon zeta eta theta y")],
        "qid bigint, text string",
    )
    kept = decontaminate(corpus, bench, k=4, bench_text_col="text")
    assert {r["doc_id"] for r in kept.collect()} == {2, 3}
    marked = decontaminate(corpus, bench, k=4, mark_only=True)
    got = {r["doc_id"]: r["n_contaminated_ngrams"] for r in marked.collect()}
    assert got[1] > 0 and got[2] == 0 and got[3] == 0
    # benchmark shingle set is broadcast (no shuffle of corpus text)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_decontaminate_bloom_matches_exact(spark):
    """Bloom-summarized decontamination == exact path at zero-FP sizing
    (same drop set and same per-doc overlap counts), membership resolved by
    k map-side broadcast lookups — no probe-row explode, no regroup
    shuffle (r7: the earlier explode → join → groupBy(id, shash) plan
    paid an Exchange over k× the shingle rows)."""
    import numpy as np

    from dask_groupby_spark.operators.curate import decontaminate, decontaminate_bloom

    rng = np.random.default_rng(2468)
    vocab = list("abcdefghij")
    corpus = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab, 12))) for i in range(60)],
        "doc_id bigint, text string",
    )
    bench = corpus.where((F.col("doc_id") % 7) == 2).select("text")
    exact_kept = {r["doc_id"] for r in decontaminate(corpus, bench, k=5).collect()}
    bloom_kept = {r["doc_id"] for r in decontaminate_bloom(corpus, bench, k=5).collect()}
    assert bloom_kept == exact_kept
    em = {r["doc_id"]: r["n_contaminated_ngrams"]
          for r in decontaminate(corpus, bench, k=5, mark_only=True).collect()}
    bm = {r["doc_id"]: r["n_contaminated_ngrams"]
          for r in decontaminate_bloom(corpus, bench, k=5, mark_only=True).collect()}
    assert em == bm
    marked = decontaminate_bloom(corpus, bench, k=5, mark_only=True)
    plan = marked._jdf.queryExecution().executedPlan().toString()
    # every membership lookup is a BROADCAST join (k probes + the attach)…
    assert plan.count("BroadcastHashJoin") >= 5
    # …and the old probe-row explode + (id, shash) regroup Exchange is gone
    assert "shash" not in plan


def test_multimodal_audio_features(docs):
    from dask_groupby_spark.operators.multimodal import extract_audio_features

    media = attach_fake_media(docs)
    out = extract_audio_features(media).collect()
    got = {r["doc_id"]: r for r in out}
    assert set(got) == {1, 2, 3, 4, 5}
    for r in got.values():
        assert r["duration_ms"] == int(r["n_bytes"] * 1000 / 8000)
        assert r["rms"] > 0 and r["zero_crossings"] >= 0
    # identical payloads → identical features (deterministic stub)
    assert got[1]["rms"] == got[2]["rms"]


def test_curate_pipeline(spark):
    from dask_groupby_spark.operators.curate import curate_documents

    rows = [
        (1, "good document with plenty of clean tokens here", "en"),
        (2, "good document with plenty of clean tokens here", "en"),  # dup of 1
        (3, "short", "en"),                                           # gated: tokens
        (4, "!!!,,,...;;;???", "en"),                                 # gated: punct
        (5, "another fine document that easily passes the gate", "en"),
        (6, "ein ordentliches deutsches dokument mit vielen worten", "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = curate_documents(docs, min_tokens=4, max_punct_ratio=0.2, per_lang=10)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 5, 6]  # dup 2 dropped (min id kept), 3/4 gated
    capped = curate_documents(docs, min_tokens=4, max_punct_ratio=0.2, per_lang=1)
    by_lang = {}
    for r in capped.collect():
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    assert all(len(v) == 1 for v in by_lang.values())


def _make_png(w, h):
    import struct, zlib
    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))
    raw = b"".join(b"\x00" + b"\x80\x80\x80" * w for _ in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _make_wav(samples, framerate=8000):
    import io as _io
    import struct as _struct
    import wave as _wave
    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(b"".join(_struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def test_sniff_image_dims_real_headers():
    import struct
    from dask_groupby_spark.operators.multimodal import sniff_image_dims

    assert sniff_image_dims(_make_png(320, 200)) == ("png", 320, 200)
    gif = b"GIF89a" + struct.pack("<HH", 12, 34) + b"\x00" * 10
    assert sniff_image_dims(gif) == ("gif", 12, 34)
    # minimal BMP: size field must equal payload length (anti-false-positive)
    body = b"\x00" * 28
    hdr = b"BM" + struct.pack("<I", 26 + 28) + b"\x00" * 12 + struct.pack("<ii", 7, -9)
    assert sniff_image_dims(hdr + body) == ("bmp", 7, 9)
    # text starting with "BM" must NOT sniff as BMP
    assert sniff_image_dims(b"BMW makes cars and motorcycles, see?") is None
    # JPEG: SOI + APP0 + SOF0
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 240, 320) + b"\x03" + b"\x00" * 9
    assert sniff_image_dims(b"\xff\xd8" + app0 + sof0) == ("jpeg", 320, 240)
    # plain utf-8 text → None (never false-matches: \xff/\x89 can't open utf-8)
    assert sniff_image_dims("hello world this is a doc".encode()) is None


def test_decode_audio_real_wav():
    import math
    from dask_groupby_spark.operators.multimodal import _decode_audio

    # 1 second of 8 kHz square wave at 1 kHz: rms == amplitude, zc known
    amp = 1000
    samples = []
    for i in range(8000):
        samples.append(amp if (i // 4) % 2 == 0 else -amp)
    dur, rms, zc = _decode_audio(_make_wav(samples))
    assert dur == 1000
    assert abs(rms - amp) < 1e-6
    assert zc == 1999  # 8000/4 sign blocks → 1999 transitions
    # stereo + 8-bit fall through the same path
    dur2, rms2, _ = _decode_audio(_make_wav([0] * 4000))
    assert dur2 == 500 and rms2 == 0.0


def test_image_pipeline_with_real_png_payload(spark):
    from dask_groupby_spark.operators.multimodal import extract_image_features

    png = _make_png(17, 5)
    rows = [
        (1, png, ("image", "png", 17, 5, None)),
        (2, b"just some text bytes", ("image", "fake", 1, 1, None)),
    ]
    schema = ("doc_id bigint, payload binary, "
              "meta struct<media_type:string,format:string,width:int,height:int,duration_ms:bigint>")
    media = spark.createDataFrame(rows, schema)
    got = {r["doc_id"]: r for r in extract_image_features(media).collect()}
    assert (got[1]["format"], got[1]["width"], got[1]["height"]) == ("png", 17, 5)
    assert got[2]["format"] == "fake"
    assert got[1]["meta_format"] == "png" and got[2]["meta_format"] == "fake"


def test_audio_pipeline_with_real_wav_payload(spark):
    from dask_groupby_spark.operators.multimodal import extract_audio_features

    wav = _make_wav([500, -500] * 2000)  # 4000 samples @8kHz = 500 ms
    rows = [(1, wav, ("audio", "wav", None, None, 500))]
    schema = ("doc_id bigint, payload binary, "
              "meta struct<media_type:string,format:string,width:int,height:int,duration_ms:bigint>")
    media = spark.createDataFrame(rows, schema)
    r = extract_audio_features(media).collect()[0]
    assert r["duration_ms"] == 500
    assert abs(r["rms"] - 500.0) < 1e-6
    assert r["zero_crossings"] == 3999


def test_cosine_topk_blas_matches_jvm(spark):
    """The BLAS (Arrow matmul + per-batch partial top-k) execution must
    produce the identical rank table as the JVM expression path."""
    from dask_groupby_spark.operators.similarity import cosine_topk_blas
    from dask_groupby_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    from pyspark.sql import functions as F

    q = emb.where(F.col("vec_id") < 20)
    jvm = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in cosine_topk(emb, q, k=5).collect()}
    blas = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in cosine_topk_blas(emb, q, k=5).collect()}
    assert jvm == blas
    # self never appears among neighbors
    assert all(nid != qid for (qid, _), nid in blas.items())


def test_ivf_index_persist_matches_inline(spark, tmp_path_factory):
    """Persisted IVF index returns the exact rank table of inline ivf_topk,
    and probing reads only the probed cells (PartitionFilters at the scan)."""
    import numpy as np

    from dask_groupby_spark.operators.similarity import (
        ivf_index_topk,
        ivf_index_write,
        ivf_topk,
    )

    rng = np.random.default_rng(1618)
    dim = 16
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(300)],
        "vec_id bigint, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(1000 + i, [float(x) for x in rng.standard_normal(dim)]) for i in range(5)],
        "vec_id bigint, embedding array<float>",
    )
    inline = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_topk(corpus, queries, k=5, n_cells=6, nprobe=2).collect()
    )
    path = str(tmp_path_factory.mktemp("ivfidx"))
    ivf_index_write(corpus, path, n_cells=6)
    out = ivf_index_topk(spark, path, queries, k=5, nprobe=2)
    persisted = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in out.collect()
    )
    assert persisted == inline
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan.replace("PartitionFilters: [ cell", "PartitionFilters: [cell") or "cell#" in plan.split("PartitionFilters")[1][:200]


def test_ivf_join_keys_non_nullable(spark, tmp_path_factory, monkeypatch):
    """Both IVF callers hand _score_candidates a NON-NULLABLE ``cell`` on
    both join sides (its docstring's invariant): a nullable key would make
    Catalyst infer an IsNotNull filter on the join.  The persisted index's
    corpus side reads ``cell`` as a parquet partition column, which is
    nullable as stored."""
    import numpy as np

    from dask_groupby_spark.operators import similarity as sim

    seen = []
    score = sim._score_candidates

    def spy(c, q, k, exclude_self=True):
        seen.append((c.schema["cell"].nullable, q.schema["cell"].nullable))
        return score(c, q, k, exclude_self)

    monkeypatch.setattr(sim, "_score_candidates", spy)
    rng = np.random.default_rng(7)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(60)],
        "vec_id bigint, embedding array<float>",
    )
    queries = corpus.where("vec_id < 4")
    sim.ivf_topk(corpus, queries, k=3, n_cells=4, nprobe=2)
    path = str(tmp_path_factory.mktemp("ivfnull"))
    sim.ivf_index_write(corpus, path, n_cells=4)
    sim.ivf_index_topk(spark, path, queries, k=3, nprobe=2)
    # (corpus side, query side) for ivf_topk, then ivf_index_topk
    assert seen == [(False, False), (False, False)]


def test_semantic_deduplicate(spark):
    """SemDeDup composition: near-identical embedding groups collapse to the
    minimum id; distant vectors survive."""
    import numpy as np

    from dask_groupby_spark.operators.similarity import semantic_deduplicate

    rng = np.random.default_rng(271828)
    dim = 16
    base_a = rng.standard_normal(dim)
    base_b = rng.standard_normal(dim)
    rows = []
    # ids 1-3: tiny perturbations of base_a (near-dups); 10-11: of base_b;
    # 20+: isolated random vectors
    for i, eps in [(1, 0.0), (2, 1e-4), (3, 2e-4)]:
        rows.append((i, [float(x) for x in base_a + eps * rng.standard_normal(dim)]))
    for i, eps in [(10, 0.0), (11, 1e-4)]:
        rows.append((i, [float(x) for x in base_b + eps * rng.standard_normal(dim)]))
    for i in range(20, 25):
        rows.append((i, [float(x) for x in rng.standard_normal(dim)]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    kept = {r["vec_id"] for r in
            semantic_deduplicate(df, threshold=0.999, dim=dim, n_planes=3).collect()}
    assert 1 in kept and 2 not in kept and 3 not in kept
    assert 10 in kept and 11 not in kept
    assert {20, 21, 22, 23, 24} <= kept


def test_mixture_sample_vs_python_reference(spark):
    """Per-stratum rates: floor(r) guaranteed copies + one more iff the
    seeded md5 hash lands under frac(r); 0-rate strata vanish."""
    import hashlib

    from dask_groupby_spark.operators.curate import mixture_sample

    rows = [(i, ["a", "b", "c", "d"][i % 4]) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, src string")
    rates = {"a": 2.5, "b": 0.5, "c": 0.0}
    got = {
        (r["doc_id"], r["copy_id"])
        for r in mixture_sample(
            df, rates, strata_col="src", id_col="doc_id",
            seed="tmix", hasher="portable",
        ).collect()
    }

    dom = float(1 << 60)
    expect = set()
    for i, src in rows:
        rate = rates.get(src, 1.0)
        h = int(hashlib.md5(f"tmix:{i}".encode()).hexdigest()[:15], 16)
        n = int(rate) + (1 if h < (rate - int(rate)) * dom else 0)
        expect |= {(i, c) for c in range(1, n + 1)}
    assert got == expect
    # sanity on the mixture shape: 'a' upsampled, 'b' thinned, 'c' gone
    by_src = {
        s: sum(1 for (i, _) in got if rows[i][1] == s) for s in "abcd"
    }
    assert by_src["a"] > 50 and 0 < by_src["b"] < 50
    assert by_src["c"] == 0 and by_src["d"] == 50

    with pytest.raises(ValueError, match=">= 0"):
        mixture_sample(df, {"a": -1.0}, strata_col="src")


def test_pack_sequences_vs_python_reference(spark):
    """Greedy packing equals the sequential reference per group; bins
    respect capacity except oversized singletons; repartitioning the
    input does not change assignments."""
    import random

    from dask_groupby_spark.operators.curate import pack_sequences

    rng = random.Random(7)
    rows = [
        (i, f"g{i % 3}", rng.choice([120, 350, 800, 2600]))
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, g string, sz bigint")
    cap = 2000

    def reference():
        out = {}
        for g in {r[1] for r in rows}:
            acc, b = 0, 0
            for i, _, s in sorted((r for r in rows if r[1] == g)):
                if acc > 0 and acc + s > cap:
                    b, acc = b + 1, 0
                acc += s
                out[i] = b
        return out

    expect = reference()
    for nparts in (1, 7):
        got = {
            r["doc_id"]: r["bin_id"]
            for r in pack_sequences(
                df.repartition(nparts), "g",
                size_col="sz", order_col="doc_id", capacity=cap,
            ).collect()
        }
        assert got == expect

    # capacity honored: multi-row bins never exceed cap
    from collections import defaultdict
    totals, counts = defaultdict(int), defaultdict(int)
    for i, g, s in rows:
        totals[(g, expect[i])] += s
        counts[(g, expect[i])] += 1
    for k, tot in totals.items():
        assert tot <= cap or counts[k] == 1

    with pytest.raises(ValueError, match="capacity"):
        pack_sequences(df, "g", size_col="sz", order_col="doc_id", capacity=0)


def test_chunk_documents_vs_python_reference(spark):
    """Overlapping token windows: window i covers [i*stride, i*stride+max);
    last window short; empty docs vanish; overlap bounds validated."""
    from dask_groupby_spark.operators.text import chunk_documents

    rows = [
        (1, " ".join(f"t{j}" for j in range(10))),
        (2, "one two three"),
        (3, ""),          # no chunks
        (4, "   "),       # whitespace-only → no chunks
        (5, "single"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, max_tokens=4, overlap=2).collect()
    }

    import math

    expect = {}
    for i, text in rows:
        tk = [t for t in text.split(" ") if t]
        if not tk:
            continue
        stride = 2
        # last chunk = first window reaching the end (no trailing subsets)
        last = max(0, math.ceil((len(tk) - 4) / stride))
        for c in range(last + 1):
            piece = tk[c * stride : c * stride + 4]
            expect[(i, c)] = (" ".join(piece), len(piece))
    assert got == expect
    assert not any(d == 3 or d == 4 for d, _ in got)
    # n=10, max=4, stride=2 → last index ceil(6/2)=3, NOT ceil(10/2)-1=4:
    # the 5th window [8:12] would be a strict subset of the 4th [6:10]
    assert max(c for d, c in got if d == 1) == 3

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, max_tokens=4, overlap=4)


def test_lm_quality_score_matches_python_reference(spark):
    from collections import Counter
    import math

    from dask_groupby_spark.operators.text import lm_quality_score

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat"),
        (3, "zyxw qqzz zyxw"),
        (4, ""),  # zero tokens → omitted
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    toks = {i: [t for t in txt.split(" ") if t] for i, txt in rows}
    vocab = Counter(t for ts in toks.values() for t in ts)
    T = sum(vocab.values())
    expect = {
        i: sum(math.log(vocab[t] / T) for t in ts) / len(ts)
        for i, ts in toks.items()
        if ts
    }
    got = {r["doc_id"]: r[2] for r in lm_quality_score(df).collect()}
    assert set(got) == set(expect)
    for i in expect:
        assert abs(got[i] - expect[i]) < 1e-12

    # external vocab with Lidstone smoothing for OOV
    ext = spark.createDataFrame([("the", 6), ("cat", 2), ("sat", 2)], "term string, cnt bigint")
    Te, Ve, a = 10, 3, 1.0
    def p(t):
        c = {"the": 6, "cat": 2, "sat": 2}.get(t, 0)
        return (c + a) / (Te + a * (Ve + 1))
    expect_ext = {
        i: sum(math.log(p(t)) for t in ts) / len(ts) for i, ts in toks.items() if ts
    }
    got_ext = {r["doc_id"]: r[2] for r in lm_quality_score(df, vocab=ext).collect()}
    for i in expect_ext:
        assert abs(got_ext[i] - expect_ext[i]) < 1e-12


def test_bpe_token_estimate_known_values(spark):
    import pyspark.sql.functions as F

    from dask_groupby_spark.operators.text import bpe_token_estimate

    rows = [
        (1, "I'll say it's 42 tokens-ish, really!"),
        (2, ""),
        (3, "abcdefghijklmnop"),  # one 16-char piece → ceil(16/4) = 4
        (4, "a b c"),  # three 1-char pieces → 3
    ]
    df = spark.createDataFrame(rows, "i int, t string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", bpe_token_estimate(F.col("t")).alias("n")).collect()
    }
    # pieces of row 1: I|'ll|say|it|'s|42|tokens|-|ish|,|really|! →
    # lens 1,3,3,2,2,2,6,1,3,1,6,1 → ceil/4 min1: 1+1+1+1+1+1+2+1+1+1+2+1
    assert got[1] == 14
    assert got[2] == 0
    assert got[3] == 4
    assert got[4] == 3


def test_embedding_pca_matches_numpy(spark):
    import numpy as np

    from dask_groupby_spark.operators.similarity import embedding_pca, pca_project

    rng = np.random.default_rng(7)
    # anisotropic cloud: variance concentrated in a few directions
    base = rng.normal(size=(300, 6)) * np.array([5.0, 3.0, 1.0, 0.5, 0.2, 0.1])
    rot, _ = np.linalg.qr(rng.normal(size=(6, 6)))
    X = base @ rot + np.array([1, 2, 3, 4, 5, 6], dtype="float64")
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(300)],
        "vec_id bigint, embedding array<double>",
    ).repartition(5)

    model = embedding_pca(df, k=3)

    # reference: numpy PCA with the same sign convention
    cov = np.cov(X, rowvar=False)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:3]
    comps = v[:, order].T
    flip = np.sign(comps[np.arange(3), np.abs(comps).argmax(axis=1)])
    comps = comps * flip[:, None]

    assert model.n == 300
    assert np.allclose(model.mean, X.mean(axis=0))
    assert np.allclose(model.explained_variance, w[order])
    assert np.allclose(model.components, comps)

    # projection differential + partition invariance
    out = {
        r["vec_id"]: np.array(r["pca"])
        for r in pca_project(df, model).select("vec_id", "pca").collect()
    }
    expect = (X - X.mean(axis=0)) @ comps.T
    for i in range(300):
        assert np.allclose(out[i], expect[i])

    # whiten: projected coordinates have ~unit variance
    wout = np.array([
        r["pca"] for r in pca_project(df, model, whiten=True).select("pca").collect()
    ])
    assert np.allclose(wout.std(axis=0, ddof=1), 1.0, atol=1e-6)


def test_semdedup_pca_space(spark):
    """pca_k routes bucketing/scoring through the PCA subspace; exact
    duplicates are still collapsed and originals returned intact."""
    import numpy as np

    from dask_groupby_spark.operators.similarity import semantic_deduplicate

    rng = np.random.default_rng(11)
    X = rng.normal(size=(40, 16))
    rows = [(i, [float(x) for x in X[i]]) for i in range(40)]
    rows += [(100 + i, [float(x) for x in X[i]]) for i in range(5)]  # clones
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    kept = semantic_deduplicate(
        df, threshold=0.999, dim=16, pca_k=16, max_iter=10
    )
    ids = sorted(r["vec_id"] for r in kept.collect())
    assert ids == list(range(40))  # clones dropped, min-id originals kept
    assert kept.columns == ["vec_id", "embedding"]  # no __pca leak


def _make_png_pixels(arr):
    """PNG from an (h, w, 3) uint8 array, filter 0 rows."""
    import struct, zlib
    h, w, _ = arr.shape
    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))
    raw = b"".join(b"\x00" + bytes(arr[y].reshape(-1)) for y in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def test_decode_png_pixels_real_roundtrip():
    import numpy as np

    from dask_groupby_spark.operators.multimodal import decode_png_pixels

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(7, 11, 3), dtype=np.uint8)
    got = decode_png_pixels(_make_png_pixels(px))
    expect = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    assert got.shape == (7, 11)
    assert np.allclose(got, expect)
    assert decode_png_pixels(b"not a png") is None


def test_phash_similar_images_close():
    import numpy as np

    from dask_groupby_spark.operators.multimodal import phash_one

    rng = np.random.default_rng(5)
    # structured image: smooth gradient + blocks
    base = np.zeros((64, 64, 3), dtype=np.uint8)
    base[:, :, 0] = np.linspace(0, 255, 64).astype(np.uint8)[None, :]
    base[16:48, 16:48] = 220
    h1 = phash_one(_make_png_pixels(base))
    assert h1 == phash_one(_make_png_pixels(base.copy()))  # deterministic

    tweaked = base.copy()
    tweaked[0:2, 0:2] = 0  # tiny local edit
    h2 = phash_one(_make_png_pixels(tweaked))
    noise = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    h3 = phash_one(_make_png_pixels(noise))
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    # a 2x2-pixel edit must move far fewer bits than an unrelated image
    # (the synthetic gradient image has many coefficients AT the median, so
    # tie-flips inflate the edit distance vs a natural photo; the ordering
    # is the invariant)
    assert ham(h1, h2) < ham(h1, h3)
    assert ham(h1, h2) <= 20
    assert ham(h1, h3) >= 24


def test_phash_near_duplicates_pairs(spark):
    import numpy as np

    from dask_groupby_spark.operators.multimodal import (
        image_phash,
        phash_near_duplicates,
    )

    rng = np.random.default_rng(9)
    imgs = []
    for i in range(6):
        a = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
        imgs.append((i, bytearray(_make_png_pixels(a))))
    imgs.append((100, imgs[0][1]))  # exact clone of image 0
    imgs.append((101, imgs[3][1]))  # exact clone of image 3
    media = spark.createDataFrame(
        [(i, bytes(p)) for i, p in imgs], "doc_id long, payload binary"
    )
    hashes = image_phash(media)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_duplicates(hashes, max_hamming=3).collect()
    }
    assert pairs.get((0, 100)) == 0
    assert pairs.get((3, 101)) == 0


def test_audio_fingerprint_real_wav(spark):
    import math

    import numpy as np

    from dask_groupby_spark.operators.multimodal import (
        audio_fingerprint,
        audio_fingerprint_one,
        phash_near_duplicates,
    )

    def tone(freqs, n=8000, amp=8000.0):
        t = np.arange(n)
        s = sum(np.sin(2 * math.pi * f * t / 8000.0) for f in freqs)
        return [int(x) for x in (amp * s / len(freqs))]

    a = _make_wav(tone([440, 880]))
    a_quiet = _make_wav(tone([440, 880], amp=3000.0))  # same content, lower gain
    b = _make_wav(tone([123, 3021, 1777]))

    ha = audio_fingerprint_one(a)
    assert ha == audio_fingerprint_one(a)  # deterministic
    ham = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")
    # gain-robust: quantization-noise bands may flip, signal structure holds
    assert ham(ha, audio_fingerprint_one(a_quiet)) <= 12
    assert ham(ha, audio_fingerprint_one(b)) >= 16

    media = spark.createDataFrame(
        [(1, a), (2, b), (3, a)], "doc_id long, payload binary"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_duplicates(audio_fingerprint(media), max_hamming=3).collect()
    }
    assert pairs.get((1, 3)) == 0  # identical clips pair through the banded plan


def test_gopher_quality_flags_rules(spark):
    from dask_groupby_spark.operators.text import gopher_quality_flags

    good = "the quick brown fox and a dog " * 10  # 70 words, stopwords, alpha
    rows = [
        (1, good.strip()),
        (2, "too short to pass the word count gate"),
        (3, ("#" * 40 + " ") + good.strip()),          # symbol ratio blown
        (4, " ".join("zq" for _ in range(60))),         # mean len 2, no stopwords
        (5, good.strip() + " " + " ".join("..." for _ in range(30))),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r.asDict() for r in gopher_quality_flags(df).collect()}
    assert got[1]["gopher_pass"] is True
    assert got[2]["gopher_pass"] is False and got[2]["g_n_words"] < 50
    assert got[3]["gopher_pass"] is False and got[3]["g_symbol_ratio"] > 0.1
    assert got[4]["gopher_pass"] is False and got[4]["g_stop_hits"] == 0
    assert got[5]["gopher_pass"] is False  # ellipsis words also fail alpha
    # threshold override flips the verdict
    relaxed = {
        r["doc_id"]: r["gopher_pass"]
        for r in gopher_quality_flags(df, min_words=5, min_mean_word_len=1.0,
                                      min_stop_hits=0, min_alpha_ratio=0.0).collect()
    }
    assert relaxed[4] is True


def test_video_phash_shared_frames(spark):
    from dask_groupby_spark.operators.multimodal import (
        video_near_duplicates,
        video_phash,
    )

    # payload bytes are the stub "frames" (every_nth=10 slices); slices must
    # be structurally distinct (DCT AC coefficients ignore constant offsets,
    # so e.g. consecutive ascending runs would all hash identically)
    import hashlib

    def pseudo(tag, n=80):
        out = b""
        while len(out) < n:
            out += hashlib.sha256(tag.encode() + len(out).to_bytes(4, "big")).digest()
        return out[:n]

    base = pseudo("base")
    edited = base[:40] + pseudo("tail")[:40]
    other = pseudo("other")
    media = spark.createDataFrame(
        [(1, base), (2, edited), (3, other), (4, base)],
        "doc_id long, payload binary",
    )
    fh = video_phash(media, every_nth=10, max_frames=8)
    assert fh.count() == 32  # 4 videos × 8 frames
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared_frames"]
        for r in video_near_duplicates(fh, min_shared_frames=2).collect()
    }
    assert pairs[(1, 4)] == 8          # exact clone: all frames shared
    assert pairs.get((1, 2), 0) >= 2   # half-overlap passes the threshold
    assert (1, 3) not in pairs and (3, 4) not in pairs


# ---------------------------------------------------------- dedup_paragraphs


class TestDedupParagraphs:
    def _df(self, spark):
        return spark.createDataFrame(
            [
                (1, "COOKIE\nalpha beta\ngamma", "s1"),
                (2, "COOKIE\ndelta\nalpha beta", "s2"),
                (3, "epsilon\nCOOKIE\nzz", "s3"),
            ],
            "doc_id bigint, text string, src string",
        )

    def test_global_first_occurrence_wins(self, spark):
        from dask_groupby_spark.operators import dedup_paragraphs

        out = {
            r["doc_id"]: r
            for r in dedup_paragraphs(self._df(spark), count_cols=True).collect()
        }
        assert out[1]["text"] == "COOKIE\nalpha beta\ngamma"
        assert out[2]["text"] == "delta"  # COOKIE + alpha beta seen earlier
        assert out[3]["text"] == "epsilon\nzz"
        assert out[2]["seg_n_before"] == 3 and out[2]["seg_n_after"] == 1
        # passthrough column survives
        assert out[3]["src"] == "s3"

    def test_doc_emptied_entirely_stays_as_row(self, spark):
        from dask_groupby_spark.operators import dedup_paragraphs

        df = spark.createDataFrame(
            [(1, "a\nb"), (2, "a\nb")], "doc_id bigint, text string"
        )
        out = {r["doc_id"]: r["text"] for r in dedup_paragraphs(df).collect()}
        assert out[1] == "a\nb" and out[2] == ""

    def test_normalize_fingerprints_but_keeps_verbatim(self, spark):
        from dask_groupby_spark.operators import dedup_paragraphs

        df = spark.createDataFrame(
            [(1, "A  B\nx"), (2, "a b\ny")], "doc_id bigint, text string"
        )
        out = {r["doc_id"]: r["text"] for r in dedup_paragraphs(df, normalize=True).collect()}
        assert out[1] == "A  B\nx" and out[2] == "y"

    def test_min_len_segments_never_deduped(self, spark):
        from dask_groupby_spark.operators import dedup_paragraphs

        df = spark.createDataFrame(
            [(1, "xx\nLONGPARA"), (2, "xx\nLONGPARA")], "doc_id bigint, text string"
        )
        out = {r["doc_id"]: r["text"] for r in dedup_paragraphs(df, min_len=3).collect()}
        assert out[1] == "xx\nLONGPARA" and out[2] == "xx"

    def test_two_exchanges(self, spark):
        from dask_groupby_spark.operators import dedup_paragraphs
        from dask_groupby_spark.plans import count_exchanges

        df = spark.createDataFrame([(1, "a\nb")], "doc_id bigint, text string")
        assert count_exchanges(dedup_paragraphs(df)) == 2

    def test_hot_paragraph_is_rank_not_pairwise(self, spark):
        from dask_groupby_spark.operators import dedup_paragraphs

        # one paragraph duplicated across 300 docs: output must keep it in
        # exactly the smallest doc_id — linear work, no pair enumeration
        rows = [(i, f"BOILER\nunique {i}") for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = dedup_paragraphs(df).collect()
        keep = [r["doc_id"] for r in out if "BOILER" in r["text"]]
        assert keep == [0]
        assert all("unique" in r["text"] for r in out)

    def test_empty_segments_preserve_blank_line_structure(self, spark):
        from dask_groupby_spark.operators import dedup_paragraphs

        # consecutive separators produce empty segments in BOTH docs; they
        # are structure, not content — never deduped across the corpus
        df = spark.createDataFrame(
            [(1, "p1\n\npA"), (2, "p2\n\npB")], "doc_id bigint, text string"
        )
        out = {r["doc_id"]: r["text"] for r in dedup_paragraphs(df).collect()}
        assert out[1] == "p1\n\npA" and out[2] == "p2\n\npB"


class TestShuffleRows:
    def test_deterministic_and_decorrelated(self, spark):
        from dask_groupby_spark.operators import shuffle_rows

        df = spark.createDataFrame(
            [(i, f"src{i // 50}") for i in range(200)], "doc_id bigint, source string"
        )
        a = [r["doc_id"] for r in shuffle_rows(df, partitions=4).collect()]
        b = [r["doc_id"] for r in shuffle_rows(df.repartition(7), partitions=4).collect()]
        assert a == b                               # pure function of (id, seed)
        assert a != sorted(a)                       # actually shuffled
        # source runs are broken up: no 50-long monotone block survives
        srcs = [r["source"] for r in shuffle_rows(df, partitions=4).collect()]
        longest = run = 1
        for i in range(1, len(srcs)):
            run = run + 1 if srcs[i] == srcs[i - 1] else 1
            longest = max(longest, run)
        assert longest < 10

    def test_seed_changes_permutation(self, spark):
        from dask_groupby_spark.operators import shuffle_rows

        df = spark.createDataFrame([(i,) for i in range(100)], "doc_id bigint")
        a = [r["doc_id"] for r in shuffle_rows(df, seed="ep0", partitions=2).collect()]
        b = [r["doc_id"] for r in shuffle_rows(df, seed="ep1", partitions=2).collect()]
        assert a != b and sorted(a) == sorted(b)

    def test_single_range_exchange(self, spark):
        import re

        from dask_groupby_spark.operators import shuffle_rows
        from dask_groupby_spark.plans import physical_plan

        df = spark.createDataFrame([(i,) for i in range(10)], "doc_id bigint")
        plan = physical_plan(shuffle_rows(df, partitions=2))
        assert "rangepartitioning" in plan
        assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


# ------------------------------------------------------------------ bm25


class TestBM25:
    def test_hand_computed_scores(self, spark):
        import math

        from dask_groupby_spark.operators import bm25_scores

        # corpus: 3 docs, dl = 2,3,1; avgdl = 2.0; query {a, z}
        df = spark.createDataFrame(
            [(1, "a b"), (2, "a a c"), (3, "d")], "doc_id bigint, text string"
        )
        got = {r["doc_id"]: r for r in bm25_scores(df, ["a", "z"]).collect()}

        def idf(dfreq, n=3.0):
            return math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)

        def term(tf, dl, dfreq, k1=1.2, b=0.75, avgdl=2.0):
            return idf(dfreq) * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * dl / avgdl)
            )

        assert got[1]["dl"] == 2 and got[1]["bm25"] == pytest.approx(term(1, 2, 2))
        assert got[2]["dl"] == 3 and got[2]["bm25"] == pytest.approx(term(2, 3, 2))
        # no query term: present with score exactly 0.0
        assert got[3]["dl"] == 1 and got[3]["bm25"] == 0.0

    def test_idf_never_negative_and_absent_term_ignored(self, spark):
        from dask_groupby_spark.operators import bm25_scores

        # 'a' in EVERY doc: plain Robertson IDF would go negative at
        # df=n; the +1 smoothing keeps it > 0
        df = spark.createDataFrame(
            [(i, "a filler") for i in range(4)], "doc_id bigint, text string"
        )
        rows = bm25_scores(df, ["a", "neverthere"]).collect()
        assert all(r["bm25"] > 0 for r in rows)

    def test_empty_query_raises_empty_corpus_empty(self, spark):
        import pytest as _pt

        from dask_groupby_spark.operators import bm25_scores

        df = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
        with _pt.raises(ValueError):
            bm25_scores(df, [])
        empty = spark.createDataFrame([], "doc_id bigint, text string")
        assert bm25_scores(empty, ["a"]).count() == 0

    def test_corpus_never_shuffles_whole(self, spark):
        from dask_groupby_spark.operators import bm25_scores
        from dask_groupby_spark.plans import physical_plan

        df = spark.createDataFrame(
            [(i, "w x y z") for i in range(100)], "doc_id bigint, text string"
        )
        plan = physical_plan(bm25_scores(df, ["x"]))
        # doc frequencies re-enter by broadcast, never a shuffled term join
        assert "BroadcastHashJoin" in plan
        # the only sort-merge join is the final zero-hit restore on __id
        # (narrow (id, dl) rows); no join ever shuffles on the term
        import re

        smj_keys = re.findall(
            r"SortMergeJoin[\s\S]{0,200}?Left keys \[1\]: \[(\w+)#", plan
        )
        assert smj_keys and all(k.startswith("__id") for k in smj_keys), smj_keys
        # the query-term literal filter runs BELOW the tf Exchange (same
        # stage as the explode), so the shuffle carries only matching
        # tokens — visible as a Filter on __term = <literal> feeding the
        # (id, dl, term) aggregate
        assert re.search(r"Condition : \(__term#\d+ = x\)", plan), plan


def test_ann_recall_known_tables(spark):
    """Hand-built rank tables with known overlap: recall and reciprocal
    rank computed per query."""
    from dask_groupby_spark.operators import ann_recall

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2), (2, 22, 3)],
        "query_id bigint, neighbor_id bigint, rank bigint",
    )
    approx = spark.createDataFrame(
        # q1: all three found, true best at approx rank 2
        [(1, 11, 1), (1, 10, 2), (1, 12, 3),
         # q2: only one found, true best missed
         (2, 21, 1), (2, 99, 2), (2, 98, 3)],
        "query_id bigint, neighbor_id bigint, rank bigint",
    )
    got = {r["query_id"]: r for r in ann_recall(approx, exact).collect()}
    assert got[1]["n_exact"] == 3 and got[1]["n_hit"] == 3
    assert got[1]["recall"] == 1.0 and got[1]["rr"] == 0.5
    assert got[2]["n_hit"] == 1
    assert got[2]["recall"] == pytest.approx(1 / 3)
    assert got[2]["rr"] == 0.0


def test_ann_recall_ivf_against_exact(spark):
    """Integration: evaluate ivf_topk against cosine_topk on the driver
    embeddings — exact-vs-exact is a perfect score; IVF recall is in
    (0, 1] and rr <= 1."""
    from dask_groupby_spark.operators import ann_recall, cosine_topk
    from dask_groupby_spark.operators.similarity import ivf_topk
    from dask_groupby_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=3)
    perfect = ann_recall(exact, exact).collect()
    assert all(r["recall"] == 1.0 and r["rr"] == 1.0 for r in perfect)
    approx = ivf_topk(emb, queries, k=3, n_cells=8, nprobe=2)
    rows = ann_recall(approx, exact).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0 and 0.0 <= r["rr"] <= 1.0
    # nprobe = n_cells probes everything -> exact result, perfect recall
    full = ivf_topk(emb, queries, k=3, n_cells=8, nprobe=8)
    assert all(
        r["recall"] == 1.0 for r in ann_recall(full, exact).collect()
    )


def test_ngram_containment_detects_subdocument(spark):
    """metric='containment' (Broder): a short doc pasted verbatim into a
    long one scores 1.0 containment while its Jaccard stays far below any
    useful threshold; python set differential for the scores."""
    from dask_groupby_spark.operators.dedup import ngram_jaccard_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long_doc = (
        "one two three four five six seven eight nine ten "
        + short
        + " eleven twelve thirteen fourteen fifteen sixteen seventeen"
    )
    other = "totally different words in this document entirely unrelated"
    df = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, other)], "doc_id bigint, text string"
    )

    def shingle_set(t, k=3):
        toks = t.split()
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    s1, s2 = shingle_set(short), shingle_set(long_doc)
    cont = len(s1 & s2) / min(len(s1), len(s2))
    jac = len(s1 & s2) / len(s1 | s2)
    assert cont == 1.0 and jac < 0.2

    got_c = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_jaccard_pairs(
            df, k=3, threshold=0.9, metric="containment"
        ).collect()
    }
    assert got_c == {(1, 2): 1.0}
    got_j = ngram_jaccard_pairs(df, k=3, threshold=0.9).collect()
    assert got_j == []  # jaccard misses the sub-document duplicate
    # exact score parity on the sub-threshold pair too
    allpairs = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_jaccard_pairs(
            df, k=3, threshold=0.0, metric="containment"
        ).collect()
    }
    assert allpairs[(1, 2)] == pytest.approx(cont)
    with pytest.raises(ValueError):
        ngram_jaccard_pairs(df, metric="dice")


def test_edit_distance_pairs_matches_bruteforce(spark):
    """Fuzzy matcher: python Levenshtein differential over a corpus where
    every within-distance pair satisfies the q-gram pigeonhole bound (so
    blocking recall is total and the result must equal brute force)."""
    import random as _random

    from dask_groupby_spark.operators import edit_distance_pairs

    def lev(a, b):
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                cur = dp[j]
                dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
                prev = cur
        return dp[n]

    rng = _random.Random(80814)
    base_words = ["marmalade", "telescope", "juniper", "basilisk", "overture"]
    rows = []
    for i in range(120):
        w = list(rng.choice(base_words))
        for _ in range(rng.randrange(0, 3)):
            p = rng.randrange(len(w))
            w[p] = rng.choice("abcdefghijklmnopqrstuvwxyz")
        rows.append((i, "".join(w)))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(
            df, max_dist=2, gram_k=3, max_gram_df=None
        ).collect()
    }
    exp = {}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            # pigeonhole holds: len >= 9 > (2+1)*3 - 1, but only same-root
            # perturbations can be within distance 2 here
            d = lev(rows[i][1], rows[j][1])
            if d <= 2 and set(
                rows[i][1][k : k + 3] for k in range(len(rows[i][1]) - 2)
            ) & set(rows[j][1][k : k + 3] for k in range(len(rows[j][1]) - 2)):
                exp[(rows[i][0], rows[j][0])] = d
    assert got == exp
    assert len(exp) > 10  # the corpus genuinely exercises the matcher
    # the PPJoin-style prefix tier must find the SAME matches: the
    # prefix-filter theorem guarantees a qualifying pair's rarest-gram
    # prefixes intersect, so only spurious candidates are pruned.  This
    # corpus has 7-9 grams/record vs prefix length 7, so pruning is live
    # for the longer words.
    got_pfx = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(
            df, max_dist=2, gram_k=3, max_gram_df=None, prefix_blocking=True
        ).collect()
    }
    assert got_pfx == exp
    # tighter band: max_dist=1 -> prefix length 4, heavier pruning
    exp1 = {p: d for p, d in exp.items() if d <= 1}
    got_pfx1 = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(
            df, max_dist=1, gram_k=3, max_gram_df=None, prefix_blocking=True
        ).collect()
    }
    assert got_pfx1 == exp1


def test_edit_distance_pairs_edges(spark):
    from dask_groupby_spark.operators import edit_distance_pairs

    rows = [(1, "ab"), (2, "ab"), (3, None), (4, "abcdef"), (5, "abcdxf")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # strings shorter than gram_k never pair; NULL text dropped
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(df, max_dist=2, gram_k=3).collect()
    }
    assert got == {(4, 5): 1}
    # max_dist=0 finds exact duplicates only (of gram-length strings)
    df2 = spark.createDataFrame(
        [(1, "abcdef"), (2, "abcdef"), (3, "abcdxf")], "doc_id bigint, text string"
    )
    got0 = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(df2, max_dist=0).collect()
    }
    assert got0 == {(1, 2): 0}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        edit_distance_pairs(df, max_dist=-1)
    with _pytest.raises(ValueError):
        edit_distance_pairs(df, gram_k=0)


def test_gram_blocking_stats(spark):
    """The blocking-coverage audit (r10: the sf1 battery found the
    absolute df cap silently zeroing fuzzy recall on a dense corpus —
    this diagnostic is how a user sees that coming).  Hand-counted
    corpus: 'abc' df=3 > cap=2 dropped but each record keeps a rare
    bcd/bce/bcf gram; 'yyy' df=3 dropped leaving its 3 records with NO
    surviving gram (unblocked); one short record, one NULL text."""
    from dask_groupby_spark.operators import gram_blocking_stats

    rows = [
        (1, "abcd"), (2, "abce"), (3, "abcf"),     # share dropped 'abc'
        (4, "xxxx"),                                # rare gram, blocked
        (5, "yyyy"), (6, "yyyy"), (7, "yyyy"),      # all grams dropped
        (8, "ab"),                                  # too short for grams
        (9, None),                                  # excluded
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = gram_blocking_stats(df, gram_k=3, max_gram_df=2).collect()[0].asDict()
    assert got == {
        "records": 8,
        "short_records": 1,
        "blocked_records": 4,
        "unblocked_records": 3,
        "distinct_grams": 6,   # abc bcd bce bcf xxx yyy
        "dropped_grams": 2,    # abc (df 3), yyy (df 3)
        "dropped_gram_frac": 2 / 6,
    }
    # uncapped: nothing dropped, every gram-bearing record blocked
    got_n = gram_blocking_stats(df, gram_k=3, max_gram_df=None).collect()[0]
    assert got_n["dropped_grams"] == 0 and got_n["unblocked_records"] == 0
    assert got_n["blocked_records"] == 7
    # empty relation: zero counts, frac 0.0 (not NULL/NaN)
    empty = df.where(F.lit(False))
    ge = gram_blocking_stats(empty, gram_k=3, max_gram_df=2).collect()[0]
    assert tuple(ge) == (0, 0, 0, 0, 0, 0, 0.0)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        gram_blocking_stats(df, gram_k=0)


# --- r9 module-audit regressions (joins/curate/selection/weighted/graph) ---


def test_asof_join_suffix_collision_raises(spark):
    import pytest as _pytest

    from dask_groupby_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1.0, 1.0, 2.0)], "ts double, v double, price_right double"
    )
    right = spark.createDataFrame([(0.5, 3.0)], "ts double, price double")
    with _pytest.raises(ValueError, match="collides"):
        asof_join(left, right, on="ts", right_cols=["price"])
    # rcols including `on` would emit f"{on}{suffix}" twice
    with _pytest.raises(ValueError, match="collides"):
        asof_join(
            left.select("ts", "v"), right, on="ts", right_cols=["ts", "price"]
        )


def test_time_weighted_mean_nan_ts_excluded(spark):
    """A NaN timestamp must be excluded like a NULL one — it sorts last and
    used to poison the whole group's duration sum (r9 review)."""
    from dask_groupby_spark.operators.weighted import time_weighted_mean

    df = spark.createDataFrame(
        [("a", 0.0, 10.0), ("a", 10.0, 20.0), ("a", float("nan"), 99.0)],
        "k string, t double, v double",
    )
    got = {r["k"]: r["twa"] for r in
           time_weighted_mean(df, "k", value="v", ts_col="t").collect()}
    # 10.0 held for 10s, 20.0 for 0s (last) -> twa = 10.0
    assert got["a"] == 10.0


def test_pack_sequences_tiebreak_deterministic(spark):
    from dask_groupby_spark.operators.curate import pack_sequences

    rows = [("g", i, 5, 60.0) for i in range(8)]  # all order ties
    df = spark.createDataFrame(rows, "g string, id bigint, sz bigint, o double")
    a = pack_sequences(
        df, "g", size_col="sz", order_col="o", capacity=10, tiebreak="id"
    ).orderBy("id").collect()
    b = pack_sequences(
        df.repartition(7), "g", size_col="sz", order_col="o", capacity=10,
        tiebreak="id",
    ).orderBy("id").collect()
    assert [r["bin_id"] for r in a] == [r["bin_id"] for r in b]
    assert [r["bin_id"] for r in a] == [0, 0, 1, 1, 2, 2, 3, 3]


def test_curation_collision_guards(spark):
    import pytest as _pytest

    from dask_groupby_spark.operators.curate import (
        mixture_sample,
        redact_pii,
        train_test_split,
    )
    from dask_groupby_spark.operators.selection import grouped_topk, sessionize

    df = spark.createDataFrame(
        [(1, "s", "x", 1.0, 0, "t", 2, 3.0)],
        "doc_id bigint, strata string, text string, q double, "
        "email_n bigint, split string, rank bigint, session_id double",
    )
    with _pytest.raises(ValueError, match="collide"):
        train_test_split(df, 0.1)
    with _pytest.raises(ValueError, match="collide"):
        mixture_sample(df.withColumnRenamed("split", "copy_id"),
                       rates={"s": 1.0}, strata_col="strata")
    with _pytest.raises(ValueError, match="collide"):
        redact_pii(df, text_col="text", out="redacted", counts=True)
    with _pytest.raises(ValueError, match="collide"):
        grouped_topk(df, "strata", order_col="q", k=1)
    with _pytest.raises(ValueError, match="collide"):
        sessionize(df, "strata", ts_col="q", gap=1.0)


def test_pagerank_no_dangling_unchanged(spark):
    """The dangling pre-check must not change results on graphs WITH and
    WITHOUT dangling nodes."""
    from dask_groupby_spark.operators.graph import pagerank

    # cycle: no dangling nodes
    e1 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint"
    )
    r1 = {r["id"]: r["rank"] for r in pagerank(e1, iters=5).collect()}
    assert all(abs(v - 1 / 3) < 1e-9 for v in r1.values())
    # node 3 dangling
    e2 = spark.createDataFrame([(1, 3), (2, 3)], "src bigint, dst bigint")
    r2 = {r["id"]: r["rank"] for r in pagerank(e2, iters=10).collect()}
    assert abs(sum(r2.values()) - 1.0) < 1e-6
    assert r2[3] > r2[1] == r2[2]


def test_lsh_bands_validation(spark):
    """bands > num_hashes would hash every band to the constant hash('')
    (whole corpus in one bucket -> all-pairs); non-divisors silently drop
    signature rows (r9 review)."""
    import pytest as _pytest

    from dask_groupby_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id bigint, text string"
    )
    sig = minhash_signatures(df, num_hashes=8)
    with _pytest.raises(ValueError, match="must divide"):
        lsh_candidate_pairs(sig, num_hashes=8, bands=16)
    with _pytest.raises(ValueError, match="must divide"):
        lsh_candidate_pairs(sig, num_hashes=8, bands=3)


def test_near_dedup_keep_by_nan_quality_loses(spark):
    """A NaN quality score must not outrank real scores when choosing the
    cluster keeper (NaN sorts above every double in Spark, r9 review)."""
    from dask_groupby_spark.operators.dedup import near_deduplicate

    t = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, t, float("nan")), (2, t, 0.9), (3, "totally different words here now", 0.5)],
        "doc_id bigint, text string, q double",
    )
    kept = {r["doc_id"] for r in near_deduplicate(df, keep_by="q").collect()}
    assert kept == {2, 3}  # the NaN-scored duplicate loses to the 0.9 one


def test_cosine_topk_blas_empty_and_null_queries(spark):
    from dask_groupby_spark.operators.similarity import cosine_topk_blas

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    empty = corpus.where(F.col("vec_id") < 0)
    assert cosine_topk_blas(corpus, empty, k=1).count() == 0
    withnull = spark.createDataFrame(
        [(9, None), (1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    got = cosine_topk_blas(corpus, withnull, k=1, exclude_self=False).collect()
    assert {r["query_id"] for r in got} == {1}  # NULL query unscorable


def test_edit_distance_rel_gram_df(spark):
    """r10: the density-relative stop-gram cap must equal the absolute cap
    computed from the same record count (cap = ceil(rel * n)), validate
    its domain, and refuse to combine with the absolute form."""
    import math as _math

    import pytest as _pytest

    from dask_groupby_spark.operators import edit_distance_pairs, gram_blocking_stats

    rows = [(i, f"record-{i:03d}") for i in range(40)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    n = 40  # non-NULL texts
    rel = 0.3
    cap = max(1, _math.ceil(rel * n))

    def pairs(**kw):
        return {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in edit_distance_pairs(
                df, max_dist=1, gram_k=3, **kw
            ).collect()
        }

    assert pairs(max_gram_df=None, rel_gram_df=rel) == pairs(max_gram_df=cap)
    # prefix tier under the relative cap: same output (lossless theorem)
    assert pairs(
        max_gram_df=None, rel_gram_df=rel, prefix_blocking=True
    ) == pairs(max_gram_df=cap)

    with _pytest.raises(ValueError, match="not both"):
        edit_distance_pairs(df, max_gram_df=256, rel_gram_df=0.1)
    with _pytest.raises(ValueError, match="rel_gram_df"):
        edit_distance_pairs(df, max_gram_df=None, rel_gram_df=1.5)

    # the audit op mirrors the same arithmetic
    a = gram_blocking_stats(df, max_gram_df=None, rel_gram_df=rel).collect()[0]
    b = gram_blocking_stats(df, max_gram_df=cap).collect()[0]
    assert a.asDict() == b.asDict()
    with _pytest.raises(ValueError, match="not both"):
        gram_blocking_stats(df, max_gram_df=256, rel_gram_df=0.1)


def test_edit_distance_default_cap_density_robust(spark):
    """r11 (VERDICT r10 #3): calling with NO cap args resolves to
    max(256, ceil(0.05 * n)) — the old absolute default as a floor (tiny
    corpora keep their historical behavior; a pure relative cap would
    drop every shared gram under 40 records), density-relative growth
    above it.  Passing either parameter explicitly opts out."""
    import math as _math

    from dask_groupby_spark.operators import edit_distance_pairs, gram_blocking_stats
    from dask_groupby_spark.operators.dedup import _CAP_UNSET, _resolve_gram_cap

    rows = [(i, f"record-{i:03d}") for i in range(40)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    def pairs(**kw):
        return {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in edit_distance_pairs(df, max_dist=1, gram_k=3, **kw).collect()
        }

    # small corpus: the floor binds — default == the historical df<=256
    assert pairs() == pairs(max_gram_df=256)
    assert pairs() != {}  # and the default actually finds the near-dups
    # the audit mirrors the default bit-for-bit
    a = gram_blocking_stats(df).collect()[0]
    b = gram_blocking_stats(df, max_gram_df=256).collect()[0]
    assert a.asDict() == b.asDict()

    # resolution arithmetic without running the join: above the
    # crossover (n > 5120) the relative term wins
    base_small = df.where("text IS NOT NULL").selectExpr(
        "doc_id AS id", "text AS txt"
    )
    assert _resolve_gram_cap(base_small, _CAP_UNSET, _CAP_UNSET) == 256
    big = spark.range(10_000).selectExpr("id", "'x' AS txt")
    assert _resolve_gram_cap(big, _CAP_UNSET, _CAP_UNSET) == _math.ceil(
        0.05 * 10_000
    )
    # explicit forms are untouched by the default machinery
    assert _resolve_gram_cap(base_small, None, _CAP_UNSET) is None
    assert _resolve_gram_cap(base_small, 7, _CAP_UNSET) == 7
    assert _resolve_gram_cap(base_small, _CAP_UNSET, 0.3) == _math.ceil(0.3 * 40)
