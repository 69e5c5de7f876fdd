"""Training-data pipeline operators: dedup, similarity, textstats,
multimodal — hand-built micro-corpora with known answers."""

from pyspark.sql import functions as F

from smh_to_jsonld_spark.operators import dedup, multimodal, similarity, textstats


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_exact_dedup(spark):
    df = _docs(spark, ["a b c", "a  B c", "x y z", "a b c"])  # 0,1,3 identical after norm
    kept = dedup.exact_dedup(df)
    rows = {r.doc_id: r.dup_count for r in kept.collect()}
    assert rows == {0: 3, 2: 1}


def test_shingles_and_jaccard(spark):
    df = _docs(spark, ["the quick brown fox", "the quick brown cat", "zz yy xx ww"])
    pairs = dedup.jaccard_pairs(df, n=1, threshold=0.5).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.id_a, p.id_b) == (0, 1)
    assert abs(p.jaccard - 3 / 5) < 1e-9


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "lambda")
    far = "one two three four five six seven eight nine ten"
    df = _docs(spark, [base, near, far])
    pairs = dedup.minhash_lsh_pairs(df, num_hashes=32, bands=16, shingle_n=1, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got
    assert all(2 not in p for p in got)


def _simhash_reference(text: str) -> int:
    """Row-at-a-time reference implementation (the round-1 pandas UDF
    body) used ONLY to pin the Catalyst rewrite bit-for-bit."""
    import hashlib

    import numpy as np

    acc = np.zeros(64, dtype=np.int64)
    for tok in (text or "").lower().split():
        bits = np.unpackbits(
            np.frombuffer(hashlib.md5(tok.encode()).digest()[:8], dtype=np.uint8),
            bitorder="little",
        ).astype(np.int64)
        acc += 2 * bits - 1
    weights = 1 << np.arange(64, dtype=np.uint64)
    return int(np.sum(weights[acc > 0], dtype=np.uint64).astype(np.int64))


def test_near_dup_clusters_transitive_and_singletons(spark):
    """a~b and b~c but a!~c must still land in ONE cluster (transitive
    merge via CC); unrelated docs are their own singleton representative."""
    base = "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + "extra"),                      # ~ 1
            (3, base + "extra words"),                # ~ 2 (and 1)
            (9, "completely different content here entirely unrelated"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.cluster, r.is_representative)
        for r in dedup.near_dup_clusters(docs, threshold=0.7).collect()
    }
    assert got[1] == (1, True)
    assert got[2][0] == 1 and not got[2][1]
    assert got[3][0] == 1 and not got[3][1]
    assert got[9] == (9, True)

    # zero-padding guard: cluster of {9, 10} must label 9 (numeric min),
    # not 10 (the unpadded lexicographic min, since "10" < "9")
    other = "completely different content here entirely unrelated words " * 3
    docs2 = spark.createDataFrame(
        [(9, other), (10, other + "tail")], "doc_id long, text string"
    )
    got2 = {
        r.doc_id: (r.cluster, r.is_representative)
        for r in dedup.near_dup_clusters(docs2, threshold=0.7).collect()
    }
    assert got2[9] == (9, True) and got2[10] == (9, False)


def test_near_dup_clusters_wide_ids_and_negative_reject(spark):
    """ADVICE r3: lpad(12) silently TRUNCATED ids wider than 12 digits
    (e.g. monotonically_increasing_id beyond partition ~117). Ids up to
    the full signed-long width must cluster + round-trip exactly; negative
    ids must fail loudly, not corrupt the lexicographic-min invariant."""
    import pytest

    other = "completely different content here entirely unrelated words " * 3
    big = (117 << 33) + 5           # 13-digit monotonically_increasing_id shape
    bigger = (9_000_000 << 33) + 1  # 17 digits
    docs = spark.createDataFrame(
        [(big, other), (bigger, other + "tail")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.cluster, r.is_representative)
        for r in dedup.near_dup_clusters(docs, threshold=0.7).collect()
    }
    assert got[big] == (big, True)
    assert got[bigger] == (big, False)

    neg = spark.createDataFrame(
        [(-1, other), (2, other + "tail")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="non-negative"):
        dedup.near_dup_clusters(neg, threshold=0.7).collect()


def test_bucket_pairs_chunked_expansion_matches_unchunked(spark):
    """r5 memory hardening: the chunked outer expansion must emit exactly
    the unchunked pair set — every (a<b) pair once — for buckets larger
    than the chunk, and stay a true single pass for buckets within it."""
    from smh_to_jsonld_spark.operators.dedup import _bucket_pairs

    rows = [(i, 1, 7) for i in range(300)] + [(1000 + i, 1, 9) for i in range(5)]
    keyed = spark.createDataFrame(rows, "id long, sz int, g long")
    a = {(r.id_a, r.id_b) for r in _bucket_pairs(keyed, ["g"], None, chunk=128).collect()}
    b = {(r.id_a, r.id_b) for r in _bucket_pairs(keyed, ["g"], None, chunk=10**6).collect()}
    assert a == b
    assert len(a) == 300 * 299 // 2 + 5 * 4 // 2


def test_jaccard_default_cap_drops_stop_shingles(spark):
    """VERDICT r3 #1: the default max_bucket is now FINITE — a degenerate
    stop-shingle bucket ('the' in every doc) no longer expands
    quadratically by default; exact mode is an explicit opt-in, and the
    drop is accountable via dropped_bucket_stats."""
    docs = spark.createDataFrame(
        [(i, f"the unique{i} tokens{i}") for i in range(30)],
        "doc_id long, text string",
    )
    # cap below the degenerate bucket: 'the' (30 docs) dropped -> no pair
    # shares a surviving shingle -> zero pairs at any threshold
    assert dedup.jaccard_pairs(docs, n=1, threshold=0.01, max_bucket=20).count() == 0
    # exact opt-in: every pair shares exactly 'the' (J = 1/5)
    exact = dedup.jaccard_pairs(docs, n=1, threshold=0.01, max_bucket=None)
    assert exact.count() == 30 * 29 / 2
    # the default IS finite (signature-level pin so a future edit back to
    # None fails a test, not a code review)
    import inspect

    assert inspect.signature(dedup.jaccard_pairs).parameters["max_bucket"].default == 1000
    # drop accounting: one bucket of 30 rows
    keyed = (
        docs.select("doc_id", F.explode(dedup.shingles(F.col("text"), 1)).alias("g"))
        .groupBy("g").count()
    )  # sanity on fixture shape: exactly one ubiquitous shingle
    assert keyed.filter("count == 30").count() == 1
    sh = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(dedup.shingles(F.col("text"), 1)).alias("g"),
    )
    stats = dedup.dropped_bucket_stats(sh, ["g"], max_bucket=20)
    assert stats == {"dropped_buckets": 1, "dropped_rows": 30}


def test_incremental_near_dup_matches_batch(spark):
    """delta_near_dup_pairs over persisted signatures must find exactly
    the pairs minhash_lsh_pairs finds in one batch pass (same signature
    family => same buckets; stored shingle-hash sets => same verification),
    paying only for edges that touch the delta."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    other = "one two three four five six seven eight nine ten " * 4
    texts = {
        1: base,
        2: base + "tail",
        3: other,
        4: other + "extra",
        5: "totally unrelated content lives here on its own",
    }
    all_docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    batch = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            all_docs, num_hashes=32, bands=16, shingle_n=1, threshold=0.7
        ).collect()
    }
    assert batch  # fixture really contains near-dups

    sig = lambda ids: dedup.minhash_doc_signatures(
        all_docs.filter(F.col("doc_id").isin(ids)),
        num_hashes=32, bands=16, shingle_n=1,
    )
    # commit 1: docs {1, 3}; commit 2: docs {2, 4, 5} arrive
    s1 = sig([1, 3])
    s_all = sig([1, 2, 3, 4, 5])
    p1, st1 = dedup.delta_near_dup_pairs(s1, s1, threshold=0.7)
    p2, st2 = dedup.delta_near_dup_pairs(
        s_all.filter(F.col("id").isin([2, 4, 5])), s_all, threshold=0.7
    )
    incremental = {(r.id_a, r.id_b) for r in p1.collect()} | {
        (r.id_a, r.id_b) for r in p2.collect()
    }
    assert incremental == batch
    assert st2["dropped_buckets"] == 0


def test_connected_components_nonconvergence_dedupes_and_warns(spark):
    """ADVICE r3: exhausting max_iterations used to silently emit multiple
    conflicting (vertex, component) rows. Now it warns and collapses to
    one deterministic label per vertex."""
    import warnings

    from smh_to_jsonld_spark.operators import canon

    chain = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(12)], "src string, dst string"
    )
    stats = {}
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        comp = canon.connected_components(chain, max_iterations=1, stats=stats)
        rows = comp.collect()
    assert not stats["converged"]
    assert any("fixpoint" in str(x.message) for x in w)
    labels = {}
    for r in rows:
        assert r.vertex not in labels, "duplicate label for vertex"
        labels[r.vertex] = r.component
    # converged run agrees on the GLOBAL minima and is warning-free
    stats2 = {}
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        full = canon.connected_components(chain, stats=stats2)
        got = {r.vertex: r.component for r in full.collect()}
    assert stats2["converged"]
    assert not [x for x in w2 if "fixpoint" in str(x.message)]
    assert set(got.values()) == {"v00"}


def test_simhash_identical_and_near(spark):
    df = _docs(spark, ["a b c d e f g h", "a b c d e f g h", "q r s t u v w x"])
    sigs = {r.id: r.sig for r in dedup.simhash_signatures(df).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[2]
    pairs = dedup.simhash_neardup_pairs(df, max_hamming=3).collect()
    assert {(p.id_a, p.id_b, p.hamming) for p in pairs} == {(0, 1, 0)}


def test_simhash_catalyst_matches_reference_bit_for_bit(spark):
    texts = ["hello world foo bar", "", "a", "Hello  WORLD   foo bar", "x y " * 40]
    df = _docs(spark, texts)
    got = {r.id: r.sig for r in dedup.simhash_signatures(df).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _simhash_reference(t), (i, t)


def test_minhash_components_are_independent(spark):
    """Regression for the round-1 seed bug: a 2-arg transform lambda binds
    (element, index), collapsing every hash to the same function."""
    df = _docs(spark, ["alpha beta gamma delta epsilon zeta eta theta"])
    sig = df.select(dedup.minhash_signature(F.col("text"), 16, 1).alias("s")).collect()[0].s
    assert len(set(sig)) > 8, sig  # 16 independent hashes, not 1 repeated


def test_embedding_neardup_and_lsh(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.04, 0.0, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = dedup.embedding_neardup_pairs(df, threshold=0.95, n_planes=4, dim=4)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert pairs == {(0, 1)}


def test_brute_force_topk_exact(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    rows.append((10, [0.9, 0.1, 0.0, 0.0]))  # closest to vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") == 0)
    corpus = df.filter(F.col("vec_id") != 0)
    got = similarity.brute_force_topk(corpus, queries, k=2, dim=4).collect()
    assert [(r.neighbor_id, r.rank) for r in got] == [(10, 1), (1, 2)]


def test_brute_force_topk_dim_mismatch_fails_loudly(spark):
    """ADVICE r4: a dim argument that disagrees with the actual vector
    length must raise (with the observed sizes), not silently NULL every
    cosine and return an empty/wrong top-k."""
    import pytest

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") == 0)
    corpus = df.filter(F.col("vec_id") != 0)
    with pytest.raises(Exception, match="dim mismatch"):
        similarity.brute_force_topk(corpus, queries, k=2, dim=16).collect()


def test_zero_norm_vectors_get_no_cosine(spark):
    """Under ANSI mode dot/(na*nb) raised DIVIDE_BY_ZERO on an all-zero
    vector. Its cosine is now NULL: never ranked, never a near-dup."""
    rows = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.6, 0.8])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q0, q1 = df.filter(F.col("vec_id") == 0), df.filter(F.col("vec_id") == 1)

    got = similarity.brute_force_topk(df, q0, k=3, dim=2).collect()
    assert [(r.neighbor_id, r.rank) for r in got] == [(0, 1), (2, 2)]
    assert similarity.brute_force_topk(df, q1, k=3, dim=2).collect() == []
    lsh = similarity.lsh_topk(df, q0, k=3, dim=2, n_planes=2).collect()
    assert 1 not in {r.neighbor_id for r in lsh}
    cents = similarity.seeded_centroids(2, 2, seed=7)
    ivf = similarity.ivf_topk(df, q0, cents, k=3, nprobe=2).collect()
    assert [(r.neighbor_id, r.rank) for r in ivf] == [(0, 1), (2, 2)]

    # two zero vectors share every LSH bucket; their pair must not verify
    dups = df.unionByName(
        spark.createDataFrame([(3, [0.0, 0.0])], "vec_id long, embedding array<float>")
    )
    pairs = dedup.embedding_neardup_pairs(dups, threshold=0.0, n_planes=2, dim=2)
    assert (1, 3) not in {(r.id_a, r.id_b) for r in pairs.collect()}
    cos = dups.select(
        dedup.cosine_expr(F.col("embedding"), F.col("embedding")).alias("c")
    ).collect()
    assert sum(r.c is None for r in cos) == 2


def test_lsh_topk_recall_on_testdata(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 5)
    corpus = e.filter(F.col("vec_id") >= 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(corpus, queries, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_topk(corpus, queries, k=3, n_planes=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # ANN: buckets trim the candidate set


def test_ivf_assign_deterministic(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    a1 = {r.vec_id: r.centroid for r in similarity.ivf_assign(e).collect()}
    a2 = {r.vec_id: r.centroid for r in similarity.ivf_assign(e).collect()}
    assert a1 == a2
    assert set(a1.values()) <= set(range(16))


def test_ivf_topk_probed_cells_only_and_recall(spark):
    """IVF search: results come only from the nprobe probed cells, ranks
    are deterministic, and with nprobe == n_centroids recall equals the
    brute-force top-k exactly."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus, queries = e.filter("vec_id >= 5"), e.filter("vec_id < 5")
    cents = similarity.seeded_centroids(8, 64, 7)

    full = {
        (r.query_id, r.rank): r.neighbor_id
        for r in similarity.ivf_topk(corpus, queries, cents, k=3, nprobe=8).collect()
    }
    brute = {
        (r.query_id, r.rank): r.neighbor_id
        for r in similarity.brute_force_topk(corpus, queries, k=3).collect()
    }
    assert full == brute  # all cells probed == exact

    # nprobe=2: every returned neighbor must live in a probed cell
    assigned = {
        r.vec_id: r.centroid
        for r in similarity.ivf_assign(corpus, centroids=cents).collect()
    }
    got = similarity.ivf_topk(corpus, queries, cents, k=3, nprobe=2).collect()
    import numpy as np

    C = np.array(cents)
    qrows = {r.vec_id: np.array(r.embedding, dtype="float64") for r in queries.collect()}
    for r in got:
        qs = C @ qrows[r.query_id]
        order = sorted(range(8), key=lambda i: (-qs[i], i))[:2]
        assert assigned[r.neighbor_id] in order


def test_kmeans_converges_and_separates_clusters(spark):
    """Lloyd's loop on three well-separated directional clusters: shifts
    must decrease to < tol before max_iterations, and the trained
    assignment must put each planted cluster wholly in one cell."""
    import numpy as np

    rng = np.random.RandomState(3)
    dim, per = 8, 30
    bases = np.eye(dim)[:3]  # three orthogonal directions
    rows = []
    for ci, b in enumerate(bases):
        for j in range(per):
            v = b + rng.randn(dim) * 0.05
            rows.append((ci * per + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    cents, shifts = similarity.kmeans_train(
        df, n_centroids=3, dim=dim, seed=7, max_iterations=15, tol=1e-4
    )
    assert len(shifts) < 15 and shifts[-1] < 1e-4  # converged early
    assert all(abs(sum(x * x for x in c) - 1.0) < 1e-9 for c in cents)  # unit

    assigned = similarity.ivf_assign(df, centroids=cents, dim=dim)
    cells = {}
    for r in assigned.collect():
        cells.setdefault(r.vec_id // per, set()).add(r.centroid)
    assert all(len(s) == 1 for s in cells.values())  # each cluster intact
    assert len(set().union(*cells.values())) == 3  # ...in distinct cells


def test_kmeans_update_once_matches_numpy(spark):
    """One distributed iteration == the numpy reference on the same data
    (assignment by argmax dot, per-cluster mean, renormalize)."""
    import numpy as np

    rng = np.random.RandomState(11)
    X = rng.randn(40, 16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(40)],
        "vec_id int, embedding array<float>",
    )
    cents = np.array(similarity.seeded_centroids(4, 16, 7))
    Xf = np.array([[np.float64(np.float32(x)) for x in row] for row in X])
    assign = np.argmax(Xf @ cents.T, axis=1)
    got = {
        (r.centroid, r.pos): r.value
        for r in similarity.kmeans_update_once(df, cents.tolist()).collect()
    }
    for ci in range(4):
        members = Xf[assign == ci]
        if not len(members):
            assert all(k[0] != ci for k in got)
            continue
        m = members.mean(axis=0)
        m = m / np.linalg.norm(m)
        for pos in range(16):
            assert abs(got[(ci, pos)] - m[pos]) < 1e-9


def test_token_counts(spark):
    df = _docs(spark, ["one two  three", "", "  ", "don't stop-me now!"])
    got = {
        r.doc_id: (r.n, r.p)
        for r in df.select(
            "doc_id",
            textstats.token_count(F.col("text")).alias("n"),
            textstats.bpe_ish_token_count(F.col("text")).alias("p"),
        ).collect()
    }
    assert got[0] == (3, 3)
    assert got[1][0] == 0 and got[2][0] == 0
    # don ' t stop - me now !  => 8 pieces
    assert got[3] == (3, 8)


def test_repetition_features_known_values(spark):
    df = _docs(
        spark,
        [
            "a b a b a b",          # 2grams: ab ba ab ba ab -> 2 distinct of 5
            "one two three four",   # no repetition
            "",                     # degenerate -> all zeros
            "x\ny\nx\n\n  \nz",     # 4 nonblank lines, 3 distinct
        ],
    )
    got = {
        r.doc_id: (r.dup_line_ratio, r.dup_2gram_ratio, r.dup_3gram_ratio)
        for r in textstats.repetition_features(df).collect()
    }
    assert got[0][1] == round(1 - 2 / 5, 4)
    assert got[0][2] == round(1 - 2 / 4, 4)  # aba bab aba bab
    assert got[1] == (0.0, 0.0, 0.0)
    assert got[2] == (0.0, 0.0, 0.0)
    assert got[3][0] == 0.25  # 4 lines, 3 distinct


def test_pii_scrub_redacts_and_counts(spark):
    df = _docs(
        spark,
        [
            "mail me at jo.doe+x@corp.example.org today",
            "ssn 123-45-6789 phone (555) 867-5309 ip 10.0.0.1",
            "clean text with no pii at all",
        ],
    )
    got = {r.doc_id: r for r in textstats.pii_scrub(df).collect()}
    assert got[0].n_email == 1 and "<EMAIL>" in got[0].scrubbed
    assert "jo.doe" not in got[0].scrubbed
    assert got[1].n_ssn == 1 and got[1].n_phone == 1 and got[1].n_ipv4 == 1
    assert "<SSN>" in got[1].scrubbed and "<PHONE>" in got[1].scrubbed
    assert "<IPV4>" in got[1].scrubbed and "6789" not in got[1].scrubbed
    assert got[2].n_email == got[2].n_ssn == got[2].n_phone == got[2].n_ipv4 == 0
    assert got[2].scrubbed == "clean text with no pii at all"


def test_pii_scrub_idempotent_and_repetition_bounded(spark):
    """Properties: scrubbing is idempotent (placeholders contain no
    digits/@, so a second pass is a no-op) and repetition ratios stay in
    [0, 1] — over a grid of adversarial shapes."""
    shapes = [
        "a@b.co 111-22-3333 999-888-7777 1.2.3.4",
        "<EMAIL> already scrubbed 042-68-0000",
        "",
        "\n\n\n",
        "x " * 200,
        "unique tokens only here",
        "dots.every.where 10.0.0.300 not-an-ip-1234",
    ]
    df = _docs(spark, shapes)
    once = textstats.pii_scrub(df).select(
        F.col("doc_id"), F.col("scrubbed").alias("text")
    )
    twice = textstats.pii_scrub(once)
    for r in twice.collect():
        assert r.scrubbed == r.text  # idempotent
        assert r.n_email == r.n_ssn == r.n_phone == r.n_ipv4 == 0
    for r in textstats.repetition_features(df).collect():
        for v in (r.dup_line_ratio, r.dup_2gram_ratio, r.dup_3gram_ratio):
            assert 0.0 <= v <= 1.0


def test_tfidf_top_terms_known_values(spark):
    df = _docs(
        spark,
        [
            "apple apple banana shared",   # apple tf=2, rare
            "cherry shared shared",        # shared tf=2 but df=3 (low idf)
            "durian shared",
        ],
    )
    got = textstats.tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.token, r.tf, r.df))
    # doc 0: apple (tf=2, df=1) dominates; banana/shared tie on tfidf?
    assert sorted(by_doc[0])[0] == (1, "apple", 2, 1)
    # doc 2: durian (df=1) beats shared (df=3)
    assert sorted(by_doc[2])[0] == (1, "durian", 1, 1)
    # every doc got exactly k=2 rows (3 distinct tokens each, k smaller)
    assert all(len(v) == 2 for v in by_doc.values())


def test_subword_token_count_greedy_longest_match(spark):
    """Hand-computed maximal-munch segmentations with the checked-in
    vocab (contains 'the', 'spark', 'ing', and all [a-z0-9] singles)."""
    df = spark.createDataFrame(
        [
            (0, "the sparking"),      # the | spark+ing         = 3
            (1, ""),                   # no words                = 0
            (2, None),                 # null text               = 0
            (3, "THE Spark-ing 42!"),  # case/punct: the|spark|ing|4|2
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", textstats.subword_token_count(F.col("text")).alias("n")
        ).collect()
    }
    assert got == {0: 3, 1: 0, 2: 0, 3: 5}

    # pure-Python reference agrees with the UDF on real corpus text
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    vocab = textstats.load_subword_vocab()
    vs, ml = frozenset(vocab), max(map(len, vocab))
    import re

    def ref(t):
        return sum(
            textstats.subword_count_word(w, vs, ml)
            for w in re.split(r"[^a-z0-9]+", (t or "").lower())
            if w
        )

    rows = docs.select(
        "doc_id", "text", textstats.subword_token_count(F.col("text")).alias("n")
    ).collect()
    for r in rows:
        assert r.n == ref(r.text)


def test_language_id_heuristic(spark):
    df = _docs(
        spark,
        [
            "the cat sat on the mat and looked a bit bored",
            "el gato y la casa de los amigos",
            "le chat et les amis des villes",
            "der hund und die katze ist ein tier",
            "zzz qqq www",
        ],
    )
    got = [r.l for r in df.select(textstats.language_id(F.col("text")).alias("l")).collect()]
    assert got == ["en", "es", "fr", "de", "und"]


def test_quality_features_monotone(spark):
    good = "the quick brown fox jumps over the lazy dog and then the end of a story"
    bad = "!!! ??? ### $$$"
    df = _docs(spark, [good, bad])
    got = {r.doc_id: r.quality for r in textstats.quality_features(df).collect()}
    assert got[0] > got[1]


def test_fingerprint_normalizes_whitespace_case(spark):
    df = _docs(spark, ["Hello  World", "hello world", "hello worlds"])
    fps = [r.f for r in df.select(textstats.fingerprint(F.col("text")).alias("f")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_multimodal_plumbing(spark):
    df = _docs(spark, ["some payload text", "other bytes here"])
    media = multimodal.attach_media(df, "doc_id", "text")
    feats = multimodal.extract_features(media)
    rows = {r.media_id: r for r in feats.collect()}
    assert rows[0].byte_len == len("some payload text")
    assert len(rows[0].digest) == 16
    assert len(rows[0].feature) == 8
    assert abs(sum(rows[0].feature) - 1.0) < 1e-5

    frames = multimodal.frame_sample_plan(media, every_n=5)
    assert frames.count() > 0

    import pytest

    with pytest.raises(NotImplementedError):
        multimodal.decode_real(b"x", "image/png")


def test_max_bucket_caps_degenerate_buckets(spark):
    """Synthetic hot bucket: N identical docs form one degenerate band
    bucket; the cap bounds pair expansion (0 pairs from a dropped bucket)
    while leaving normal buckets untouched."""
    df = _docs(spark, ["same text here again"] * 30 + ["unique doc alpha beta gamma"])
    uncapped = dedup.minhash_lsh_pairs(
        df, num_hashes=16, bands=8, shingle_n=1, threshold=0.9, max_bucket=None
    )
    assert uncapped.count() == 30 * 29 // 2
    capped = dedup.minhash_lsh_pairs(
        df, num_hashes=16, bands=8, shingle_n=1, threshold=0.9, max_bucket=10
    )
    assert capped.count() == 0


def test_embedding_lsh_capped_and_stats(spark):
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(20)]  # one hot bucket
    rows += [(100, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = dedup.embedding_neardup_pairs(
        df, threshold=0.99, n_planes=2, n_tables=4, dim=4, max_bucket=None
    )
    assert full.count() == 20 * 19 // 2
    capped = dedup.embedding_neardup_pairs(
        df, threshold=0.99, n_planes=2, n_tables=4, dim=4, max_bucket=5
    )
    assert capped.count() == 0
    # bucket_stats reports the hot bucket instead of capping silently
    from pyspark.sql import functions as SF
    keyed = df.select(F.col("vec_id").alias("id")).withColumn(
        "b", SF.lit(0)
    )
    stats = dedup.bucket_stats(keyed, ["b"]).collect()
    assert stats[0].bucket_size == 21 and stats[0].n_buckets == 1


def test_shingles_r6_forms_match_r5_reference(spark):
    """r6 perf rewrite pin: the codegen n=1 form (array_distinct(tokens))
    and the bound-array n>1 form must emit exactly the r5 reference
    shingle arrays — including blank, single-token, and NULL text."""
    texts = [
        "the quick brown fox", "one", "", "   ", None,
        "a a a b", "x y\tz  w\nq",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def reference_shingles(text_col, n):
        # the r5 expression verbatim (unbound element_at over the split)
        from smh_to_jsonld_spark.operators.textstats import tokens_of
        toks = tokens_of(F.lower(text_col))
        k = F.size(toks) - (n - 1)
        return F.when(k <= 0, F.array(F.concat_ws(" ", toks))).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), k),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(toks, i + j) for j in range(n)]
                    ),
                )
            )
        )

    for n in (1, 2, 3):
        got = df.select(
            "doc_id", dedup.shingles(F.col("text"), n).alias("s")
        ).collect()
        want = df.select(
            "doc_id", reference_shingles(F.col("text"), n).alias("s")
        ).collect()
        assert [(r.doc_id, r.s) for r in got] == [
            (r.doc_id, r.s) for r in want
        ], f"n={n}"


def test_bucket_pairs_with_and_without_sz_match(spark):
    """r6: the with_sz=False fast path (no payload in the collected
    structs) must emit the same (id_a, id_b) set as the payload form."""
    from smh_to_jsonld_spark.operators.dedup import _bucket_pairs

    rows = [(i, 1, i % 3) for i in range(40)] + [(100 + i, 1, 9) for i in range(150)]
    keyed = spark.createDataFrame(rows, "id long, sz int, g long")
    a = {(r.id_a, r.id_b) for r in _bucket_pairs(keyed, ["g"], None).collect()}
    b = {
        (r.id_a, r.id_b)
        for r in _bucket_pairs(keyed, ["g"], None, with_sz=False).collect()
    }
    assert a == b and len(a) > 0


def test_language_id_null_and_tie_semantics(spark):
    """r6 rewrite pin: NULL text -> 'und'; equal-score ties resolve in
    dictionary order en > es > fr > de (first max wins)."""
    rows = [
        (0, None),                      # NULL -> und
        (1, "la"),                      # es/fr tie (la in both) -> es
        (2, "the el"),                  # en/es tie -> en
        (3, ""),                        # no tokens -> und
        (4, "der die das und ein ist"), # de
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.l
        for r in df.select(
            "doc_id", textstats.language_id(F.col("text")).alias("l")
        ).collect()
    }
    assert got == {0: "und", 1: "es", 2: "en", 3: "und", 4: "de"}


def test_repetition_features_degenerate_inputs(spark):
    """r6 rewrite pin: blank/NULL/single-token texts keep ratio 0.0 (the
    r5 token_count-based totals and the r6 size-based totals only differ
    on inputs where both yield 0)."""
    rows = [(0, ""), (1, "   "), (2, None), (3, "one"), (4, "a a a a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.dup_line_ratio, r.dup_2gram_ratio, r.dup_3gram_ratio)
        for r in textstats.repetition_features(df).collect()
    }
    for i in (0, 1, 2, 3):
        assert got[i] == (0.0, 0.0, 0.0), i
    assert got[4][1] > 0.5  # "a a" repeated 2-grams
