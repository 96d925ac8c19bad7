"""Tests for training-data ops: text analysis, dedup family,
similarity search, skew utilities."""

import pytest
from pyspark.sql import functions as F

from de_spark.ops import dedup, similarity, skew, text

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


# ---------------------------------------------------------------- text ----


def test_token_count(spark):
    df = spark.createDataFrame([(1, "a b  c"), (2, ""), (3, "  "), (4, "one")], ["doc_id", "text"])
    got = {r["doc_id"]: r["n"] for r in df.select("doc_id", text.token_count(F.col("text")).alias("n")).collect()}
    assert got == {1: 3, 2: 0, 3: 0, 4: 1}


def test_analyze_shapes(documents):
    out = text.analyze(documents)
    rows = out.collect()
    assert len(rows) == documents.count()
    r = rows[0]
    assert r["n_tokens"] > 0 and 0 <= r["quality"] <= 1
    assert len(r["fp"]) == 32
    langs = {r["lang_pred"] for r in rows}
    assert langs <= {"en", "es", "de", "fr", "unknown"}


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([(1, "Hello  World"), (2, "hello world ")], ["doc_id", "text"])
    fps = [r["fp"] for r in df.select(text.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


# --------------------------------------------------------------- dedup ----


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["n_copies"] for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    got = {r["shingle"] for r in dedup.shingles(df, n=3).collect()}
    assert got == {"a b c", "b c d"}


def test_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different content entirely here now"),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in dedup.jaccard_pairs(df, threshold=0.5, n=1).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.7
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_finds_neardups(spark):
    base = "w%d " * 40
    docs = [(i, (base % tuple(range(40)))) for i in range(5)]
    # doc 5 = near-dup of doc 0 with one token changed; doc 6 unrelated
    docs.append((5, (base % tuple(range(40))).replace("w3 ", "w99 ")))
    docs.append((6, " ".join(f"z{i}" for i in range(40))))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(df, num_hashes=32, bands=8, shingle_n=3, threshold=0.5)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    # identical docs 0-4 all pair up; the near-dup 5 pairs with them
    assert (0, 1) in got and (0, 5) in got
    assert all(6 not in pair for pair in got)


def test_minhash_vs_jaccard_agreement(documents):
    """LSH candidates at high signature sim must be true Jaccard dups."""
    exact = {
        (r["a"], r["b"])
        for r in dedup.jaccard_pairs(documents, threshold=0.9, n=3).collect()
    }
    approx = {
        (r["a"], r["b"])
        for r in dedup.minhash_lsh_pairs(
            documents, num_hashes=32, bands=8, threshold=0.9
        ).collect()
    }
    if exact or approx:
        # precision of the approximate method vs the exact oracle
        inter = len(exact & approx)
        assert inter / max(len(approx), 1) >= 0.8


def test_simhash_close_for_neardups(spark):
    t = " ".join(f"tok{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, t), (2, t.replace("tok5 ", "tok999 ")), (3, " ".join(f"z{i}" for i in range(100)))],
        ["doc_id", "text"],
    )
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    ham12 = bin((sigs[1] ^ sigs[2]) & (2**64 - 1)).count("1")
    ham13 = bin((sigs[1] ^ sigs[3]) & (2**64 - 1)).count("1")
    assert ham12 < 10 < ham13


def test_dedup_components_and_keep_canonical(spark):
    # two components: {1,2,3} (chain) and {7,9}; 5 is isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], ["a", "b"]
    )
    comps = {r["doc_id"]: r["canon_id"] for r in dedup.dedup_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
    docs = spark.createDataFrame([(i, f"t{i}") for i in (1, 2, 3, 5, 7, 9)], ["doc_id", "text"])
    kept = {r["doc_id"] for r in dedup.keep_canonical(docs, pairs).collect()}
    assert kept == {1, 5, 7}


def test_embedding_neardup(embeddings):
    pairs = dedup.embedding_neardup_pairs(embeddings.limit(100), threshold=0.99)
    for r in pairs.collect():
        assert r["a"] < r["b"] and r["cosine"] >= 0.99


# ---------------------------------------------------------- similarity ----


def test_brute_force_topk(embeddings):
    q = embeddings.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    top = similarity.brute_force_topk(embeddings, list(q), k=5).collect()
    assert top[0]["vec_id"] == 0 and abs(top[0]["cosine"] - 1.0) < 1e-5
    cos = [r["cosine"] for r in top]
    assert cos == sorted(cos, reverse=True)


def test_lsh_topk_recall(embeddings):
    """LSH top-k must recover most of the exact top-k."""
    q = list(embeddings.where(F.col("vec_id") == 7).collect()[0]["embedding"])
    exact = [r["vec_id"] for r in similarity.brute_force_topk(embeddings, q, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in similarity.hyperplane_lsh_topk(
            embeddings, q, k=10, n_planes=6, n_tables=4, multiprobe_hamming=1
        ).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_pairwise_topk(embeddings):
    out = similarity.pairwise_topk_per_vector(embeddings.limit(30), k=3)
    counts = out.groupBy("a").count().collect()
    assert all(r["count"] == 3 for r in counts)


# ----------------------------------------------------------------- skew ----


def test_salted_join_matches_plain_join(spark):
    big = spark.createDataFrame([(i % 3, f"v{i}") for i in range(100)], ["k", "v"])
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["k", "name"])
    plain = {(r["k"], r["v"], r["name"]) for r in big.join(small, ["k"]).collect()}
    salted = {(r["k"], r["v"], r["name"]) for r in skew.salted_join(big, small, ["k"], salt=4).collect()}
    assert plain == salted


def test_salted_join_spreads_hot_key(spark):
    big = spark.createDataFrame([(0, f"v{i}") for i in range(64)], ["k", "v"])
    salt_col = (
        F.crc32(F.concat_ws("\x1f", F.col("k").cast("string"), F.col("v"))) % 4
    )
    n_salts = big.select(salt_col.alias("s")).distinct().count()
    assert n_salts > 1  # one hot key really does fan out


def test_embedding_neardup_lsh_matches_bruteforce(embeddings):
    """The bucketed near-dup path (n_planes=4) must reproduce the
    brute-force pair set exactly — false positives are impossible by
    construction; misses are ~4e-9/pair at these probe params."""
    exact = {
        (r["a"], r["b"], r["cosine"])
        for r in dedup.embedding_neardup_pairs(embeddings, threshold=0.4).collect()
    }
    bucketed = {
        (r["a"], r["b"], r["cosine"])
        for r in dedup.embedding_neardup_lsh(
            embeddings, threshold=0.4, n_planes=4, n_tables=10, multiprobe_hamming=2
        ).collect()
    }
    assert bucketed == exact and len(exact) > 0
    # and the plan must not contain a cartesian product
    plan = dedup.embedding_neardup_lsh(
        embeddings, threshold=0.4, n_planes=4, n_tables=10, multiprobe_hamming=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_multi_table_signatures_single_scan(embeddings):
    """All-tables signatures agree with per-table signatures, from one
    projection (exactly one scan of the input in the plan)."""
    one = similarity.multi_table_signatures(embeddings, n_planes=6, n_tables=3, dim=64)
    got = {(r["vec_id"], r["table"]): r["bucket"] for r in one.collect()}
    for t in range(3):
        per = similarity.hyperplane_signatures(embeddings, n_planes=6, dim=64, seed=42 + t * 1000)
        for r in per.collect():
            assert got[(r["vec_id"], t)] == r["bucket"]
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_ivf_plan_size_flat_in_n_lists(embeddings):
    """Centroids are a broadcast DataFrame, never inlined: the
    assignment plan must not grow with n_lists (round-1 regression:
    literal when-chains made the plan O(n_lists·dim))."""
    sizes = {}
    for k in (4, 256):
        cents, assigned = similarity.ivf_build(embeddings, n_lists=k, iters=0)
        sizes[k] = len(assigned._jdf.queryExecution().executedPlan().toString())
        assigned.unpersist()
    assert sizes[256] < sizes[4] * 1.5, sizes


def test_ivf_topk_recall(embeddings):
    cents, assigned = similarity.ivf_build(embeddings, n_lists=8, iters=2)
    assigned = assigned.cache()
    # every vector lands in exactly one list
    assert assigned.count() == embeddings.count()
    q = list(embeddings.where(F.col("vec_id") == 3).collect()[0]["embedding"])
    exact = [r["vec_id"] for r in similarity.brute_force_topk(embeddings, q, k=10).collect()]
    approx = [r["vec_id"] for r in similarity.ivf_topk(assigned, cents, q, k=10, n_probe=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # the query vector itself must be found
    assert approx[0] == 3


def test_chunk_documents(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),  # 10 tokens
            (2, "x y"),                  # shorter than one chunk
            (3, ""),                     # empty: no chunks
            (4, "   "),                  # whitespace-only: no chunks
        ],
        ["doc_id", "text"],
    )
    out = text.chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_text"], r["n_tokens"])
        )
    # step = 3: windows [a..d], [d..g], [g..j], [j]
    assert sorted(by_doc[1]) == [
        (0, "a b c d", 4),
        (1, "d e f g", 4),
        (2, "g h i j", 4),
        (3, "j", 1),
    ]
    assert by_doc[2] == [(0, "x y", 2)]
    assert 3 not in by_doc and 4 not in by_doc
    with pytest.raises(ValueError, match="overlap"):
        text.chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_sample_stratified_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, "t", ["en", "es", "de"][i % 3]) for i in range(300)],
        ["doc_id", "text", "lang"],
    )
    a = text.sample_stratified(docs, {"en": 0.5, "es": 0.2}, seed=7)
    b = text.sample_stratified(docs, {"en": 0.5, "es": 0.2}, seed=7)
    ra = sorted(r["doc_id"] for r in a.collect())
    rb = sorted(r["doc_id"] for r in b.collect())
    assert ra == rb and ra  # deterministic, non-empty
    # unlisted stratum defaults to rate 0 → no 'de' rows survive
    assert all(r["lang"] != "de" for r in a.collect())
    # kept sets are hash-gated subsets: en kept count ~ 50 of 100
    n_en = sum(1 for r in a.collect() if r["lang"] == "en")
    assert 30 <= n_en <= 70
    # different seed → different sample
    c = sorted(r["doc_id"] for r in text.sample_stratified(docs, {"en": 0.5, "es": 0.2}, seed=8).collect())
    assert c != ra


def test_scrub_pii(spark):
    """PII redaction: emails, IPv4s, long digit runs → tokens, with a
    per-row redaction count; clean rows pass through untouched."""
    from de_spark.ops import text as text_ops

    df = spark.createDataFrame(
        [
            (0, "reach me at a.b+x@mail.example.org thanks"),
            (1, "server 192.168.0.1 and acct 1234567890"),
            (2, "nothing sensitive here 123"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text_ops.scrub_pii(df).collect()}
    assert rows[0]["clean_text"] == "reach me at [EMAIL] thanks"
    assert rows[0]["n_redactions"] == 1
    assert rows[1]["clean_text"] == "server [IP] and acct [NUM]"
    assert rows[1]["n_redactions"] == 2
    assert rows[2]["clean_text"] == "nothing sensitive here 123"
    assert rows[2]["n_redactions"] == 0


def test_scrub_pii_engines_agree(spark):
    """The Arrow/RE2 default engine and the pure-Catalyst JVM engine
    are result-identical, including on adversarial inputs: boundary
    cases for \\b, unicode neighbors, quotes/newlines, overlapping
    digit runs, IPv4-lookalikes and empty text (the patterns use only
    ASCII classes where java.util.regex and RE2 agree)."""
    from de_spark.ops import text as text_ops

    rows = [
        (0, ""),
        (1, "x@y.zz a@b.c 12345678 123456789 1234567890123456789012345"),
        (2, "1.2.3.4 999.999.999.999 1234.5.6.7 1.2.3.4567"),
        (3, "émile@café.fr naïve.user@mail.example.org"),
        (4, 'quote " and \\ backslash\nnewline\tmail a_b%c+d@ex-ample.co.uk'),
        (5, "word123456789word 123456789@example.com @nohost user@"),
        (6, "边界12345678901边界 10.0.0.255end start1.2.3.4"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = text_ops.scrub_pii(df, engine="arrow")
    j = text_ops.scrub_pii(df, engine="jvm")
    assert a.exceptAll(j).count() == 0
    assert j.exceptAll(a).count() == 0


def test_minhash_dense_bucket_star_sparsification(spark):
    """A duplicate-heavy corpus creates mega-buckets; the all-pairs
    self-join is quadratic in bucket width (VERDICT r5).  Buckets wider
    than dense_bucket_cap switch to representative-star candidates:
    O(width) pairs, connectivity preserved through the bucket's min
    doc_id, and the sparsification is REPORTED, not silent."""
    base = " ".join(f"w{i}" for i in range(40))
    # 30 identical docs = one mega-cluster; 2 unrelated singletons
    docs = [(i, base) for i in range(30)]
    docs += [(100, " ".join(f"x{i}" for i in range(40))),
             (101, " ".join(f"y{i}" for i in range(40)))]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    report = {}
    pairs = dedup.minhash_lsh_pairs(
        df, num_hashes=32, bands=8, threshold=0.9,
        dense_bucket_cap=8, dense_report=report,
    )
    got = pairs.collect()
    # star, not clique: 29 spokes (x8 bands, deduped), never C(30,2)=435
    assert 0 < len(got) <= 29
    assert all(r["a"] == 0 for r in got)  # rep = min doc_id of the cluster
    assert report["dense_buckets"] >= 1
    assert report["max_bucket"] == 30
    assert report["docs_in_dense"] == 30
    # connectivity survives sparsification: one component, canon = 0
    comps = {r["doc_id"]: r["canon_id"] for r in dedup.dedup_components(pairs).collect()}
    assert comps == {i: 0 for i in range(30)}

    # below the cap the full clique is unchanged (default behavior)
    clique = dedup.minhash_lsh_pairs(df, num_hashes=32, bands=8, threshold=0.9)
    assert len(clique.collect()) == 435

