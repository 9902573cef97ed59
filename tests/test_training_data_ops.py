"""Training-data operators: dedup tiers, similarity search, multimodal
plumbing. Deterministic micro-fixtures + behavioural invariants."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d0", "the quick brown fox jumps over the lazy dog near the barn"),
        ("d1", "the quick brown fox jumps over the lazy dog near the barn"),
        ("d2", "the quick brown fox jumps over the lazy dog near the shed"),
        ("d3", "completely different content about database query engines"),
        ("d4", "another unrelated text mentioning sort merge join operators"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_exact_dedup(docs):
    out = {r["doc_id"]: r.asDict() for r in dedup.exact_dedup(docs).collect()}
    assert out["d0"]["is_duplicate"] is False
    assert out["d1"]["is_duplicate"] is True
    assert out["d1"]["keeper_doc_id"] == "d0"
    assert out["d2"]["is_duplicate"] is False  # one word differs


def test_minhash_near_dup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard_est"]
             for r in dedup.minhash_candidates(docs).collect()}
    assert pairs[("d0", "d1")] == 1.0            # identical
    near = pairs.get(("d0", "d2"), 0.0)
    assert near > 0.5                             # one-word change
    assert ("d0", "d3") not in pairs or pairs[("d0", "d3")] < 0.3

    verdict = {r["doc_id"]: r.asDict()
               for r in dedup.minhash_dedup(docs, threshold=0.8).collect()}
    assert verdict["d1"]["is_near_duplicate"] is True
    assert verdict["d1"]["keeper_doc_id"] == "d0"
    assert verdict["d3"]["is_near_duplicate"] is False


def test_simhash_and_pairs(docs, spark):
    sigs = dedup.simhash(docs)
    rows = {r["doc_id"]: r["simhash"] for r in sigs.collect()}
    assert rows["d0"] == rows["d1"]  # identical text -> identical signature
    # d2 differs by one token -> closer to d0 than unrelated d3 is
    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(rows["d0"], rows["d2"]) < ham(rows["d0"], rows["d3"])

    # the 16-bit chunk banding GUARANTEES recall for hamming <= 3
    # (pigeonhole over 4 chunks): verify on constructed signatures
    base = rows["d0"]
    crafted = spark.createDataFrame(
        [("s0", base), ("s1", base ^ 0b101),          # hamming 2
         ("s2", base ^ (1 << 40)),                    # hamming 1
         ("s3", base ^ ((1 << 5) | (1 << 21) | (1 << 37) | (1 << 53)))],
        "doc_id string, simhash long")                # hamming 4, spread
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_pairs(crafted).collect()}
    assert pairs[("s0", "s1")] == 2
    assert pairs[("s0", "s2")] == 1
    assert ("s0", "s3") not in pairs  # hamming 4 > threshold


def test_jaccard_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.jaccard_pairs(docs).collect()}
    assert pairs[("d0", "d1")] == 1.0
    assert ("d0", "d3") not in pairs


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal(8)
    rows = []
    for i in range(30):
        if i < 6:  # tight cluster around base, label 1
            v = base + 0.01 * rng.standard_normal(8)
            label = 1
        else:
            v = rng.standard_normal(8)
            label = 0
        rows.append((i, [float(x) for x in v], label))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"), base


def test_cosine_topk_and_knn(embeddings):
    df, base = embeddings
    q = [float(x) for x in base]
    top = similarity.cosine_topk(df, q).collect()
    assert len(top) == 10
    assert {r["vec_id"] for r in top[:6]} == {0, 1, 2, 3, 4, 5}
    assert all(r["cosine"] > 0.99 for r in top[:6])
    vote = similarity.knn_label_vote(df, q).collect()[0]
    assert vote["label"] == 1 and vote["votes"] == 6


def test_ann_matches_exact_for_cluster(embeddings):
    df, base = embeddings
    q = [float(x) for x in base]
    exact = [r["vec_id"] for r in similarity.cosine_topk(df, q).collect()]
    approx = [r["vec_id"]
              for r in similarity.ann_topk(df, q, dim=8).collect()]
    # the tight cluster (ids 0-5, the exact top 6) lands in the query's
    # (multi-probed) bucket
    assert set(exact[:6]) == set(range(6)), exact
    assert set(range(6)) & set(approx[:5]), (exact, approx)


def test_all_pairs_topk(embeddings):
    df, _ = embeddings
    out = similarity.all_pairs_topk(df, dim=8).collect()
    by_a: dict[int, list] = {}
    for r in out:
        by_a.setdefault(r["id_a"], []).append(r)
    for a, rows in by_a.items():
        assert len(rows) <= 5
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))


def test_all_pairs_topk_recall(spark):
    """Recall-vs-planted-truth for the L=2 tables, Hamming-1
    multiprobe config on the operator's target regime: high-cosine
    near-duplicates. 200 bases x 2 copies at cosine ~0.95; the planted
    partner pairs must surface in per-vector top-5 at recall >= 0.9
    (round-2 verdict item 5; single-table exact bucketing measures 0.36
    on the same corpus)."""
    rng = np.random.default_rng(11)
    rows, planted, vid = [], set(), 0
    for _ in range(200):
        base = rng.standard_normal(64)
        base /= np.linalg.norm(base)
        ids = []
        for c in range(3):
            noise = 0.041 * rng.standard_normal(64) * (0 if c == 0 else 1)
            rows.append((vid, [float(x) for x in base + noise]))
            ids.append(vid)
            vid += 1
        planted.update((i, j) for i in ids for j in ids if i != j)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"])
           for r in similarity.all_pairs_topk(df, dim=64).collect()}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, recall


def test_multimodal_plumbing(spark):
    refs = spark.createDataFrame(
        [(f"img://doc_{i}/{j}",) for i in range(4) for j in range(3)],
        "media_ref string")
    media = multimodal.synthesize_media(spark, refs)
    rows = media.collect()
    assert len(rows) == 12
    for r in rows:
        assert isinstance(r["content"], (bytes, bytearray))
        assert r["meta"]["width"] >= 16 and r["meta"]["height"] >= 16
        assert r["meta"]["mime"] in ("image/png", "video/mp4", "audio/wav")

    feats = multimodal.decode_media(media, fake=True).collect()
    assert len(feats) == 12
    for r in feats:
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert abs(sum(r["feature"]) - 1.0) < 1e-5  # histogram normalized

    # real decode path is explicitly stubbed
    with pytest.raises(Exception, match="NotImplementedError|real media"):
        multimodal.decode_media(media, fake=False).collect()

    frames = multimodal.sample_frames(media, fake=True).collect()
    n_video = sum(1 for r in rows if r["meta"]["mime"] == "video/mp4")
    if n_video:
        assert len(frames) > 0
        assert all(len(r["frame"]) == 16 for r in frames)

    # determinism: same refs -> same features
    feats2 = multimodal.decode_media(media, fake=True).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))


def test_media_decoder_schema_contract(spark):
    """Swapping the stub decoder for a real codec must NOT be a schema
    migration: the output schema is pinned by FEATURES_SCHEMA / FRAMES_SCHEMA
    and must be byte-identical between the fake path and any plugged-in
    decoder obeying the (media_ref, content) -> float[FEATURE_DIM] contract
    (VERDICT r3 item 7)."""
    import struct as _struct
    from pyspark.sql.types import _parse_datatype_string

    refs = spark.createDataFrame([("img://c/0",), ("img://c/1",)],
                                 "media_ref string")
    media = multimodal.synthesize_media(spark, refs)

    fake_df = multimodal.decode_media(media, fake=True)
    # The documented contract string IS the schema the job produces.
    assert fake_df.schema == _parse_datatype_string(multimodal.FEATURES_SCHEMA)

    # A stand-in "real" decoder: different values, same contract.
    def real_decoder(ref: str, content: bytes):
        seed = _struct.unpack("<Q", hashlib.md5(
            (ref or "").encode()).digest()[:8])[0]
        rng = np.random.default_rng(seed)
        return rng.random(multimodal.FEATURE_DIM).astype(np.float32)

    real_df = multimodal.decode_media(media, decoder=real_decoder)
    assert real_df.schema == fake_df.schema
    real_rows = {r["media_ref"]: r for r in real_df.collect()}
    fake_rows = {r["media_ref"]: r for r in fake_df.collect()}
    assert set(real_rows) == set(fake_rows)
    for ref in real_rows:
        assert len(real_rows[ref]["feature"]) == multimodal.FEATURE_DIM
        # values may differ (different codec); schema + shape may not
        assert real_rows[ref]["mime"] == fake_rows[ref]["mime"]
        assert real_rows[ref]["width"] == fake_rows[ref]["width"]

    frames_df = multimodal.sample_frames(media, fake=True)
    assert frames_df.schema == _parse_datatype_string(multimodal.FRAMES_SCHEMA)

def test_short_and_empty_docs_survive_ansi(spark):
    """Docs with fewer tokens than the shingle width used to throw
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT under Spark 4's default ANSI mode;
    they must instead contribute no shingles / no signature."""
    rows = [("s0", ""), ("s1", "one"), ("s2", "just two"),
            ("s3", "exactly three tokens"),
            ("s4", "the quick brown fox jumps over the lazy dog")]
    df = spark.createDataFrame(rows, "doc_id string, text string")

    sh = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", dedup.shingles_col(F.col("text")).alias("s")).collect()}
    assert sh["s0"] == [] and sh["s1"] == [] and sh["s2"] == []
    assert sh["s3"] == ["exactly three tokens"]

    sigs = {r["doc_id"]: r["sig"] for r in df.select(
        "doc_id",
        dedup.minhash_signature(F.col("text")).alias("sig")).collect()}
    assert sigs["s1"] is None and sigs["s3"] is not None

    # candidate generation drops sig-less docs instead of erroring
    assert dedup.minhash_candidates(df).count() == 0
    verdicts = {r["doc_id"]: r["is_near_duplicate"]
                for r in dedup.minhash_dedup(df).collect()}
    assert set(verdicts) == {"s0", "s1", "s2", "s3", "s4"}
    assert not any(verdicts.values())
    assert dedup.jaccard_pairs(df).count() == 0


def test_long_doc_quality_no_overflow(spark):
    """>2147 stopword hits used to overflow int32 in stop_ratio_ppm under
    ANSI mode."""
    from pdf_extraction_spark.operators import textstats

    long_doc = "the and of to in is a an " * 400  # 3200 stopwords
    df = spark.createDataFrame(
        [("L", long_doc), ("s", "tiny doc")], "doc_id string, text string")
    q = df.select("doc_id", *textstats.quality_columns(F.col("text")))
    out = {r["doc_id"]: r.asDict() for r in q.collect()}
    assert out["L"]["n_stopwords"] == 3200
    assert out["L"]["stop_ratio_ppm"] == 1000000
    lang = df.select("doc_id", *textstats.lang_id_columns(F.col("text")))
    assert {r["doc_id"]: r["pred_lang"]
            for r in lang.collect()}["L"] == "en"


def test_simhash_matches_bruteforce_reference(docs):
    """The mapInArrow bit-vote must equal a pure-python simhash (the
    uint64 vote wrap regression): sign(2*ones - n) per bit, md5 token
    hashes."""
    import hashlib

    def ref_simhash(text):
        toks = text.lower().split()
        votes = [0] * 64
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        sig = sum(1 << b for b in range(64) if votes[b] > 0)
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    for r in docs.collect():
        assert got[r["doc_id"]] == ref_simhash(r["text"]), r["doc_id"]


def test_connected_components_transitive(spark):
    """A-B, B-C, C-D chain plus an isolated pair: the keeper must be the
    transitive minimum, which single-hop min-partner cannot produce."""
    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("c", "d"), ("x", "y")],
        "id_a string, id_b string")
    comp = {r["id"]: r["comp"]
            for r in dedup.connected_components(pairs).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a",
                    "x": "x", "y": "x"}

    docs = spark.createDataFrame(
        [(i,) for i in ["a", "b", "c", "d", "x", "y", "z"]],
        "doc_id string")
    verdicts = {r["doc_id"]: (r["keeper_doc_id"], r["is_near_duplicate"])
                for r in dedup.dedup_components(docs, pairs).collect()}
    assert verdicts["d"] == ("a", True)
    assert verdicts["z"] == ("z", False)   # not in any pair

    # matches union-find on a random graph
    import random
    rng = random.Random(7)
    ids = [f"n{i:03d}" for i in range(60)]
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = {i: i for i in ids}

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    want = {}
    for i in ids:
        want.setdefault(find(i), []).append(i)
    expect = {i: min(members) for r, members in want.items()
              for i in members}
    got = {r["id"]: r["comp"] for r in dedup.connected_components(
        spark.createDataFrame(edges, "id_a string, id_b string")).collect()}
    touched = {a for a, _ in edges} | {b for _, b in edges}
    assert got == {i: c for i, c in expect.items() if i in touched}


def test_bucketed_pairs_hot_bucket_guard(spark):
    """A 10k-row single LSH bucket must produce O(n) star pairs around the
    min id instead of an O(n^2) single-task self-join (round-2 verdict
    item 6)."""
    n = 10_000
    banded = spark.range(n).select(
        F.format_string("d%05d", F.col("id")).alias("id"),
        F.lit(0).alias("band"), F.lit("hot").alias("h"))
    pairs = dedup._bucketed_pairs(banded, ["band", "h"], max_bucket=100)
    rows = pairs.collect()
    assert len(rows) == n - 1
    assert all(r["id_a"] == "d00000" for r in rows)

    # cold buckets (<= max_bucket) keep exact all-pairs semantics
    small = spark.createDataFrame(
        [("a", 0, "x"), ("b", 0, "x"), ("c", 0, "x")],
        "id string, band int, h string")
    got = {(r["id_a"], r["id_b"])
           for r in dedup._bucketed_pairs(small, ["band", "h"], 100).collect()}
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}


def test_minhash_dedup_with_bucket_guard(spark):
    """End-to-end: identical docs collapse every band into one hot bucket;
    with max_bucket set the verdict is unchanged (all dups, min keeper)
    while candidate generation stays linear."""
    rows = [(f"d{i:03d}", "same boilerplate text repeated across the corpus "
             "with enough tokens to shingle") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    cand = dedup.minhash_candidates(df, max_bucket=50)
    assert cand.count() == 199  # star, not 200*199/2
    verdict = {r["doc_id"]: (r["keeper_doc_id"], r["is_near_duplicate"])
               for r in dedup.minhash_dedup(df, max_bucket=50).collect()}
    assert verdict["d000"] == ("d000", False)
    assert all(v == ("d000", True)
               for k, v in verdict.items() if k != "d000")


def test_connected_components_nonconvergence_raises(spark):
    """A path longer than the 20 propagation rounds must raise, not
    silently return split components (round-2 ADVICE)."""
    def chain(hops):
        return spark.createDataFrame(
            [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(hops)],
            "id_a string, id_b string")

    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain(24))
    # and a path inside the round budget converges to one component
    comp = {r["id"]: r["comp"]
            for r in dedup.connected_components(chain(12)).collect()}
    assert set(comp.values()) == {"n00"}


def test_arrow_twins_value_identical(spark):
    """The mapInArrow production kernels (minhash signatures, top-K
    shingle hashes) must be value-identical to their pure-Catalyst
    reference twins — the oracle SQL was transcribed from the Catalyst
    forms, so any divergence here silently breaks the driver gate."""
    rows = [(f"d{i}",
             f"document {i % 7} body text with shared tokens plus "
             f"unique tail {i} {'x' * (i % 5)} end marker {i * 13 % 11}")
            for i in range(40)]
    rows += [("short", "two words"), ("empty", ""), ("nul", None)]
    df = spark.createDataFrame(rows, "doc_id string, text string")

    cat_sig = {r["id"]: r["sig"] for r in df.select(
        F.col("doc_id").alias("id"),
        dedup.minhash_signature(F.col("text")).alias("sig")).collect()
        if r["sig"] is not None}
    arr_sig = {r["id"]: r["sig"]
               for r in dedup.minhash_signatures_arrow(df).collect()}
    assert cat_sig == arr_sig

    cat_hs = {r["id"]: r["hs"] for r in df.select(
        F.col("doc_id").alias("id"),
        dedup.topk_shingle_hashes(F.col("text")).alias("hs")).collect()}
    arr_hs = {r["id"]: r["hs"]
              for r in dedup.topk_shingle_hashes_arrow(df).collect()}
    assert cat_hs == arr_hs


def test_unrolled_cosine_bit_identical(spark):
    """cosine_col(dim=N) unrolls the zip_with/aggregate fold into flat
    codegen arithmetic; same left-to-right summation order means the
    doubles must match BIT-for-bit (the gates floor(x*1000), so a
    last-bit flip at a boundary would flip a gate hash)."""
    import struct

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(50)]
    df = spark.createDataFrame(rows, "id long, e array<double>")
    q = [float(x) for x in rng.standard_normal(16)]
    qc = F.array(*[F.lit(x) for x in q])
    out = df.select(
        similarity.cosine_col(F.col("e"), qc).alias("hof"),
        similarity.cosine_col(F.col("e"), qc, dim=16).alias("flat")
    ).collect()
    for r in out:
        assert struct.pack("<d", r["hof"]) == struct.pack("<d", r["flat"])

    # float32 inputs: products round to f32 first, then accumulate in f64
    df32 = df.select("id", F.col("e").cast("array<float>").alias("e"))
    out32 = df32.select(
        similarity.cosine_col(F.col("e"), qc).alias("hof"),
        similarity.cosine_col(F.col("e"), qc, dim=16).alias("flat")
    ).collect()
    for r in out32:
        assert struct.pack("<d", r["hof"]) == struct.pack("<d", r["flat"])


def test_similarity_arrow_kernels_bit_identical(spark):
    """The Arrow similarity kernels (lsh_buckets_arrow,
    cosine_scores_arrow, pair_cosine_arrow) replace unrolled Catalyst
    trees that cost seconds of planning and blow janino's 64 KB codegen
    limit; they claim BIT-identical values (left-associated accumulation,
    same f32/f64 widening points), so the gates' floor(x*1000) outputs
    cannot move. Asserted on both f32 and f64 inputs."""
    import struct

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(80)]
    q = [float(x) for x in rng.standard_normal(16)]
    for atype in ("array<double>", "array<float>"):
        df = spark.createDataFrame(rows, f"id long, embedding {atype}")

        # bucket ids: Arrow kernel vs unrolled Catalyst projection
        arr = {r["id"]: r["bucket"] for r in similarity.lsh_buckets_arrow(
            df, 16, n_planes=8).collect()}
        cat = {r["id"]: r["bucket"] for r in df.withColumn(
            "bucket", similarity.lsh_bucket_col(
                F.col("embedding"), similarity.hyperplanes(16, 8))).collect()}
        assert arr == cat and len(arr) == 80

        # cosine vs double-literal query
        qc = F.array(*[F.lit(x) for x in q])
        catc = {r["id"]: r["c"] for r in df.select(
            "id", similarity.cosine_col(F.col("embedding"), qc, dim=16)
            .alias("c")).collect()}
        arrc = {r["id"]: r["cosine"] for r in similarity.cosine_scores_arrow(
            df, q).select("id", "cosine").collect()}
        for k in catc:
            assert struct.pack("<d", catc[k]) == struct.pack("<d", arrc[k])

        # pairwise cosine over a small self-join
        a = df.select(F.col("id").alias("id_a"),
                      F.col("embedding").alias("e_a")).limit(20)
        b = df.select(F.col("id").alias("id_b"),
                      F.col("embedding").alias("e_b")).limit(20)
        pairs = a.crossJoin(b)
        catp = {(r["id_a"], r["id_b"]): r["c"] for r in pairs.select(
            "id_a", "id_b",
            similarity.cosine_col(F.col("e_a"), F.col("e_b"), dim=16)
            .alias("c")).collect()}
        arrp = {(r["id_a"], r["id_b"]): r["cosine"]
                for r in similarity.pair_cosine_arrow(
                    pairs, "e_a", "e_b", 16).collect()}
        assert len(catp) == 400
        for k in catp:
            assert struct.pack("<d", catp[k]) == struct.pack("<d", arrp[k])


def test_lsh_buckets_arrow_null_embedding(spark):
    """Null embeddings take bucket 0 in the Catalyst projection (every
    when(proj >= 0) test fails -> otherwise-0 bits); the Arrow kernel
    must mirror that."""
    rng = np.random.default_rng(5)
    rows = [(0, None)] + [(i, [float(x) for x in rng.standard_normal(8)])
                          for i in range(1, 10)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    arr = {r["id"]: r["bucket"] for r in similarity.lsh_buckets_arrow(
        df, 8, n_planes=6).collect()}
    cat = {r["id"]: r["bucket"] for r in df.withColumn(
        "bucket", similarity.lsh_bucket_col(
            F.col("embedding"), similarity.hyperplanes(8, 6))).collect()}
    assert arr == cat
    assert arr[0] == 0


def test_embedding_near_dup(spark):
    """Planted scaled-noise copies must map to their base's keeper;
    unrelated random vectors keep themselves."""
    rng = np.random.default_rng(21)
    rows = []
    for i in range(40):
        v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
        if i % 4 == 0:  # near-dup copy: tiny perturbation
            w = v + 0.02 * rng.standard_normal(16)
            rows.append((100 + i, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["keeper_id"], r["is_near_duplicate"])
           for r in dedup.embedding_near_dup(
               df, 16, threshold_milli=900, n_planes=6).collect()}
    assert len(out) == 50
    # every planted copy that the LSH tables caught points at its base
    caught = [i for i in range(0, 40, 4) if out[100 + i][1]]
    for i in caught:
        assert out[100 + i][0] == i
    # multi-probe + 2 tables at 6 planes: expect nearly all planted pairs
    assert len(caught) >= 8, caught
    # a random vector far from everything keeps itself
    assert out[1] == (1, False)


def test_ivf_topk_matches_bruteforce_cluster(spark):
    """IVF probing the query's two nearest cells must return the
    planted tight cluster, like the exact scorer does."""
    rng = np.random.default_rng(31)
    base = rng.standard_normal(16)
    rows = []
    for i in range(60):
        if i < 6:
            v = base + 0.01 * rng.standard_normal(16)
        else:
            v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [float(x) for x in base]
    exact = [r["vec_id"] for r in similarity.cosine_topk(df, q).collect()]
    # query belongs to the cluster -> its nearest centroids' cells hold it
    approx = {r["vec_id"]
              for r in similarity.ivf_topk(df, q, 16).collect()}
    assert set(exact[:6]) == set(range(6))
    assert approx & set(range(6)), (exact, approx)


def test_ivf_assign_deterministic_tiebreak(spark):
    """A vector equidistant (at milli precision) from two centroids must
    take the smaller cell index on both the kernel and a python replay."""
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.ivf_centroids(df, n_list=2)
    out = {r["vec_id"]: r["cell"] for r in similarity.ivf_assign_arrow(
        df, cents, 2).collect()}
    # vec 2 has cosine 0.7071 to both centroids -> milli tie -> cell 0
    assert out[2] == 0
    assert out[0] == 0 and out[1] == 1


def test_minhash_incremental_keeper_tiers(spark, tmp_path):
    """Corpus-canonical keeper first, batch minimum second, self last —
    across three update_signature_store batches (the persisted-store
    path, which also pins the lineage-truncation fix: verdicts must not
    recompute against a store that already contains the batch)."""
    from pdf_extraction_spark.sources.catalog import ParquetStore

    t_fox = "the quick brown fox jumps over the lazy dog again today"
    t_new = "some brand new content matching nothing in the corpus at all"
    store = ParquetStore(str(tmp_path / "sigs"))

    b1 = spark.createDataFrame(
        [("1", t_fox), ("2", "completely different text about spark "
                             "execution engines and shuffle plans")],
        "doc_id string, text string")
    v1 = {r["doc_id"]: r["is_near_duplicate"]
          for r in dedup.update_signature_store(
              spark, b1, store, threshold=0.5).collect()}
    assert v1 == {"1": False, "2": False}

    b2 = spark.createDataFrame(
        [("1000001", t_fox),       # dup of corpus doc 1
         ("1000005", t_new),       # batch group keeper (no corpus match)
         ("2000005", t_new),       # dup of batch sibling 1000005
         ("3000009", "tiny")],     # too short to shingle -> kept
        "doc_id string, text string")
    v2 = {r["doc_id"]: (r["keeper_doc_id"], r["is_near_duplicate"])
          for r in dedup.update_signature_store(
              spark, b2, store, threshold=0.5).collect()}
    assert v2 == {"1000001": ("1", True),
                  "1000005": ("1000005", False),
                  "2000005": ("1000005", True),
                  "3000009": ("3000009", False)}

    # a later copy of a batch-2 DUPLICATE still finds a partner: dup
    # signatures must be appended to the store too
    b3 = spark.createDataFrame([("9000000", t_new)],
                               "doc_id string, text string")
    v3 = dedup.update_signature_store(spark, b3, store,
                                      threshold=0.5).collect()[0]
    assert v3["keeper_doc_id"] == "1000005"
    assert v3["is_near_duplicate"] is True


def test_minhash_incremental_empty_corpus_matches_batch_dedup(docs, spark):
    """With no corpus, the incremental keeper rule degenerates to the
    batch rule: verdicts equal minhash_dedup on the same docs."""
    empty = spark.createDataFrame([], "id string, sig array<bigint>")
    inc = {r["doc_id"]: (r["keeper_doc_id"], r["is_near_duplicate"])
           for r in dedup.minhash_dedup_incremental(
               docs, empty, threshold=0.5).collect()}
    batch = {r["doc_id"]: (r["keeper_doc_id"], r["is_near_duplicate"])
             for r in dedup.minhash_dedup(docs, threshold=0.5).collect()}
    assert inc == batch


def test_minhash_incremental_broadcasts_new_batch(docs, spark):
    """The corpus band table is probed by a broadcast of the (small)
    batch — no shuffle of the corpus side."""
    sigs = dedup.minhash_signatures_arrow(docs)
    out = dedup.minhash_dedup_incremental(docs.limit(2), sigs, threshold=0.5)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert "BroadcastHashJoin" in plan


def test_incremental_candidates_hot_bucket_guard(spark):
    """A degenerate bucket holding 10k stored near-copies must yield O(1)
    candidates per probing batch doc (hub star: min corpus id + min new
    id), not O(bucket) — the composed-ingest skew guard (round-3 verdict
    item 2). Unguarded this single bucket would emit 200 x 10,199 rows."""
    n_corpus, n_new = 10_000, 200
    o_banded = spark.range(n_corpus).select(
        F.lit(0).alias("band"), F.lit("hot").alias("h"),
        F.format_string("c%05d", F.col("id")).alias("id_o"),
        F.lit(False).alias("o_new")) \
        .unionByName(spark.range(n_new).select(
            F.lit(0).alias("band"), F.lit("hot").alias("h"),
            F.format_string("n%03d", F.col("id")).alias("id_o"),
            F.lit(True).alias("o_new")))
    new_banded = spark.range(n_new).select(
        F.format_string("n%03d", F.col("id")).alias("id"),
        F.lit(0).alias("band"), F.lit("hot").alias("h"))
    cand = dedup._incremental_candidates(new_banded, o_banded,
                                         max_bucket=100).collect()
    # every new doc pairs with the corpus hub; all but the new hub also
    # pair with the new hub (no self-pair)
    assert len(cand) == n_new + (n_new - 1)
    partners = {r["id_o"] for r in cand}
    assert partners == {"c00000", "n000"}
    # cold path unchanged: bucket under the cap keeps all-pairs
    cold = dedup._incremental_candidates(
        new_banded.limit(3), o_banded.where("id_o < 'c00005'"),
        max_bucket=100).collect()
    assert len(cold) == 3 * 5


def test_update_signature_store_hot_bucket_ingest(spark, tmp_path):
    """End-to-end composed ingest over a single-bucket corpus completes
    with star-bounded candidate work and corpus-canonical verdicts; the
    guard is the DEFAULT for update_signature_store (opt out with None)."""
    from pdf_extraction_spark.sources.catalog import ParquetStore

    boiler = ("subscribe to our newsletter for updates terms of service "
              "privacy policy all rights reserved contact us today")
    store = ParquetStore(str(tmp_path / "sigs"))
    seed = spark.createDataFrame(
        [(f"c{i:04d}", boiler) for i in range(500)],
        "doc_id string, text string")
    v1 = dedup.update_signature_store(spark, seed, store, threshold=0.8,
                                      max_bucket=50)
    assert v1.where("not is_near_duplicate").count() == 1

    batch = spark.createDataFrame(
        [(f"n{i:04d}", boiler) for i in range(100)],
        "doc_id string, text string")
    v2 = {r["doc_id"]: (r["keeper_doc_id"], r["is_near_duplicate"])
          for r in dedup.update_signature_store(
              spark, batch, store, threshold=0.8, max_bucket=50).collect()}
    assert all(v2[f"n{i:04d}"] == ("c0000", True) for i in range(100))


def test_substring_dup_stats_cross_document(spark):
    """ExactSubstr signal: a paragraph shared across docs marks its
    windows in BOTH docs; unique text scores 0; short/NULL docs get
    zero windows; a doc self-repeating a window also scores."""
    from pdf_extraction_spark.operators.dedup import \
        substring_dup_stats
    para = " ".join(f"w{i}" for i in range(10))
    uniq = lambda t: " ".join(f"{t}{i}" for i in range(10))
    df = spark.createDataFrame(
        [("a", para + " " + uniq("a")),
         ("b", para + " " + uniq("b")),
         ("c", uniq("c") + " " + uniq("cc")),
         ("d", "short"), ("e", None),
         ("f", para + " " + para)],   # self-repeat across windows
        "doc_id string, text string")
    got = {r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_ppm)
           for r in substring_dup_stats(df, window=10,
                                        stride=10).collect()}
    assert got == {"a": (2, 1, 500000), "b": (2, 1, 500000),
                   "c": (2, 0, 0), "d": (0, 0, 0), "e": (0, 0, 0),
                   "f": (2, 2, 1000000)}


def test_substring_dup_stride_skips_offsets(spark):
    """stride > 1 windows are aligned: the same paragraph at a
    DIFFERENT token offset does not collide (the documented
    approximation vs a true suffix array)."""
    from pdf_extraction_spark.operators.dedup import \
        substring_dup_stats
    para = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [("a", para + " tail0 tail1 tail2 tail3 tail4 tail5 tail6 "
          "tail7 tail8 tail9"),
         ("b", "off " + para)],  # shifted by one token
        "doc_id string, text string")
    got = {r.doc_id: r.n_dup_windows
           for r in substring_dup_stats(df, window=10,
                                        stride=10).collect()}
    assert got == {"a": 0, "b": 0}
