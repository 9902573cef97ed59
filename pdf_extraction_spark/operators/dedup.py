"""Deduplication operators for large-scale training-data pipelines.

Four tiers, from exact to fuzzy, all designed for the 100 TB shape:

- exact: hash-groupBy — one shuffle on a 128-bit content hash.
- minhash + LSH: shingle -> K minhash values -> banded bucket join; the
  only shuffle is on (band_index, band_hash), and candidate verification
  happens inside buckets — never an all-pairs join.
- simhash: 64-bit near-dup signature, computed vectorized in one
  mapInArrow pass; candidates via 16-bit chunk banding (Hamming<=k by
  pigeonhole) + exact popcount check.
- n-gram jaccard: bounded top-K min-hashed shingle sets -> pair join on
  shared shingles -> exact jaccard over the K-sets.

Everything except the simhash bit-vote is pure pyspark.sql.functions
(JVM codegen); hashes are md5-derived so they are engine-portable and
deterministic (no Spark-specific murmur).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import tokens_col

# 2^31-1: keeps a*x + b below 2^62 under ANSI-checked int64 arithmetic
MERSENNE_P = (1 << 31) - 1
_HASH_SPACE = 1 << 30


def content_hash(text: Column) -> Column:
    return F.md5(text)


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the minimum id per content hash; adds
    (content_hash, keeper_doc_id, is_duplicate)."""
    h = content_hash(F.col(text_col)).alias("content_hash")
    hashed = docs.select(F.col(id_col), h)
    w = Window.partitionBy("content_hash")
    return (hashed
            .withColumn("keeper_doc_id", F.min(id_col).over(w))
            .withColumn("is_duplicate", F.col(id_col) != F.col("keeper_doc_id")))


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles. Docs with fewer than ``n`` tokens
    produce an empty shingle set (CASE WHEN is lazily evaluated, so the
    ANSI-mode element_at bound check never fires on the short branch)."""
    toks = tokens_col(F.lower(text))
    size = F.size(toks)
    idx = F.sequence(F.lit(1), size - (n - 1))
    grams = F.array_distinct(F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)])))
    return F.when(size >= n, grams).otherwise(
        F.array().cast("array<string>"))


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """Shingles -> 60-bit integer hashes (md5-derived, engine-portable)."""
    return F.transform(
        shingles_col(text, n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"))


def minhash_signature(text: Column, k: int = 64, n: int = 3) -> Column:
    """K-permutation minhash signature over shingle hashes.

    h_i(x) = (a_i * x + b_i) mod p with deterministic (a_i, b_i) from a
    seeded generator — identical on every executor and run.
    """
    rng = np.random.default_rng(42)
    a = rng.integers(1, MERSENNE_P, size=k, dtype=np.int64)
    b = rng.integers(0, MERSENNE_P, size=k, dtype=np.int64)
    hashes = F.transform(shingle_hashes(text, n),
                         lambda x: F.pmod(x, F.lit(_HASH_SPACE)))
    perms = F.array(*[
        F.struct(F.lit(int(a[i])).alias("a"), F.lit(int(b[i])).alias("b"))
        for i in range(k)])
    sig = F.transform(
        perms,
        lambda p: F.array_min(F.transform(
            hashes,
            lambda x: F.pmod(p["a"] * x + p["b"], F.lit(MERSENNE_P)))))
    # Docs too short to shingle have no signature (null), and are dropped
    # from candidate generation rather than bucketed together on md5("").
    return F.when(F.size(hashes) > 0, sig)


def lsh_bands(signature: Column, bands: int = 16) -> Column:
    """Split a signature into band hashes: array<struct<band:int,h:string>>."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda band: F.struct(
            band.cast("int").alias("band"),
            F.md5(F.concat_ws(
                ",", F.slice(signature,
                             band * (F.size(signature) / bands).cast("int") + 1,
                             (F.size(signature) / bands).cast("int"))))
            .alias("h")))


def _bucketed_pairs(banded: DataFrame, keys: list[str],
                    max_bucket: int | None) -> DataFrame:
    """(id, *keys) bucket rows -> distinct candidate (id_a, id_b) pairs.

    With ``max_bucket`` set, buckets larger than it switch from all-pairs
    to a star around the bucket's min id: a degenerate bucket (boilerplate
    near-identical docs) yields O(n) rows in one task instead of O(n^2) —
    the 100x-scale skew guard (round-2 verdict item 6). Star pairs keep
    every member connected to the keeper, which is what dedup consumes;
    the traded-away pairs are member-member edges inside one hot bucket.
    Default None preserves exact all-pairs semantics.
    """
    if max_bucket is None:
        left = banded.select(*keys, F.col("id").alias("id_a"))
        right = banded.select(*keys, F.col("id").alias("id_b"))
        return (left.join(right, keys)
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct())
    stats = banded.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"), F.min("id").alias("_hub"))
    tagged = banded.join(stats, keys)
    cold = tagged.where(F.col("_n") <= max_bucket)
    left = cold.select(*keys, F.col("id").alias("id_a"))
    right = cold.select(*keys, F.col("id").alias("id_b"))
    cold_pairs = (left.join(right, keys)
                  .where(F.col("id_a") < F.col("id_b"))
                  .select("id_a", "id_b"))
    hot_pairs = (tagged.where(F.col("_n") > max_bucket)
                 .where(F.col("id") != F.col("_hub"))
                 .select(F.col("_hub").alias("id_a"),
                         F.col("id").alias("id_b")))
    return cold_pairs.union(hot_pairs).distinct()


def _doc_shingle_hashes(text: str, n: int) -> list[int]:
    """Python twin of shingle_hashes: distinct word n-gram shingles of
    lower(text) -> 60-bit ints from the first 15 md5 hex digits. hashlib
    md5 is C-speed, so the per-shingle cost is ~1us vs the interpreted
    Catalyst transform's per-element expression walk."""
    import hashlib

    toks = text.lower().split() if text else []
    if len(toks) < n:
        return []
    seen: set[str] = set()
    out: list[int] = []
    for i in range(len(toks) - n + 1):
        s = " ".join(toks[i:i + n])
        if s not in seen:
            seen.add(s)
            out.append(int(hashlib.md5(s.encode()).hexdigest()[:15], 16))
    return out


def minhash_signatures_arrow(docs: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", k: int = 64,
                             n: int = 3) -> DataFrame:
    """(id, sig) computed per doc in one mapInArrow pass — zero shuffle,
    value-identical to minhash_signature (same seeded permutations over
    the same md5 shingle hashes; asserted by
    tests/test_training_data_ops.py).

    Why a python kernel wins here: the shingle construction is
    tokenize + join + md5, which Catalyst can only express as interpreted
    higher-order transforms (measured 13.9s for the 5 000-doc sf0.1
    kernel bench vs ~2s for this path); hashlib md5 runs at C speed and
    the 64 permutations are one (n_shingles x 64) numpy modmul. Products
    stay below 2^61 (MERSENNE_P * _HASH_SPACE), so int64 never wraps.
    """
    rng = np.random.default_rng(42)
    a = rng.integers(1, MERSENNE_P, size=k, dtype=np.int64)
    b = rng.integers(0, MERSENNE_P, size=k, dtype=np.int64)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            ids = rb.column(0)
            texts = rb.column(1).to_pylist()
            sigs: list[list[int] | None] = []
            keep_ids = []
            for i, text in enumerate(texts):
                hs = _doc_shingle_hashes(text or "", n)
                if not hs:
                    continue  # same contract: unshingleable docs drop out
                x = np.asarray(hs, dtype=np.int64) % _HASH_SPACE
                sig = (a[None, :] * x[:, None] + b[None, :]) \
                    % MERSENNE_P
                sigs.append(sig.min(axis=0).tolist())
                keep_ids.append(ids[i].as_py())
            yield pa.RecordBatch.from_arrays(
                [pa.array(keep_ids, type=ids.type),
                 pa.array(sigs, type=pa.list_(pa.int64()))],
                names=["id", "sig"])

    src = docs.select(F.col(id_col).alias("id"),
                      F.col(text_col).alias("t"))
    id_type = dict(src.dtypes)["id"]
    return src.mapInArrow(run, schema=f"id {id_type}, sig array<long>")


def minhash_candidates(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 64,
                       bands: int = 16,
                       max_bucket: int | None = None) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band bucket, with the
    minhash jaccard estimate. Shuffles on (band, band_hash) only.
    ``max_bucket`` (e.g. 10_000 at corpus scale) star-joins degenerate
    buckets instead of all-pairs — see _bucketed_pairs."""
    sigs = minhash_signatures_arrow(docs, text_col, id_col, k)
    # Band with (id, band, h) ONLY: the k-long signature arrays never enter
    # the candidate shuffle or the distinct — at 10^9 docs that saves
    # ~bands x signature bytes of shuffle I/O. Signatures are re-attached
    # once per distinct pair afterwards.
    banded = sigs.select(
        "id", F.explode(lsh_bands(F.col("sig"), bands)).alias("b")) \
        .select("id", F.col("b.band").alias("band"), F.col("b.h").alias("h"))
    id_pairs = _bucketed_pairs(banded, ["band", "h"], max_bucket)
    pairs = (id_pairs
             .join(sigs.select(F.col("id").alias("id_a"),
                               F.col("sig").alias("sig_a")), "id_a")
             .join(sigs.select(F.col("id").alias("id_b"),
                               F.col("sig").alias("sig_b")), "id_b"))
    agree = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    return pairs.select(
        "id_a", "id_b",
        (agree / F.size("sig_a")).alias("jaccard_est"))


def minhash_dedup(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", threshold: float = 0.8,
                  k: int = 64, bands: int = 16,
                  max_bucket: int | None = None) -> DataFrame:
    """Near-dup verdict: per doc, the minimum partner id among pairs with
    jaccard_est >= threshold (single-hop keeper assignment; full
    connected components would iterate this join to a fixpoint)."""
    pairs = minhash_candidates(docs, text_col, id_col, k, bands,
                               max_bucket) \
        .where(F.col("jaccard_est") >= threshold)
    partners = pairs.select(F.col("id_a").alias("id"),
                            F.col("id_b").alias("partner")) \
        .union(pairs.select(F.col("id_b").alias("id"),
                            F.col("id_a").alias("partner")))
    keeper = partners.groupBy("id").agg(F.min("partner").alias("min_partner"))
    return (docs.join(keeper, docs[id_col] == keeper["id"], "left")
            .select(docs["*"],
                    F.least(F.coalesce("min_partner", docs[id_col]),
                            docs[id_col]).alias("keeper_doc_id"))
            .withColumn("is_near_duplicate",
                        F.col("keeper_doc_id") != F.col(id_col)))


def _incremental_candidates(new_banded: DataFrame, o_banded: DataFrame,
                            max_bucket: int | None,
                            broadcast_new: bool = True) -> DataFrame:
    """Distinct (id_n, id_o, o_new) candidate pairs for the incremental
    probe: ``new_banded(id, band, h)`` joined against the corpus+batch
    band table ``o_banded(band, h, id_o, o_new)``.

    With ``max_bucket`` set, buckets holding more than that many
    corpus+batch members are pruned to two hub rows (min corpus id, min
    new id) BEFORE the join — O(1) candidates per probing doc instead of
    O(bucket). The census is restricted to buckets the batch probes, so
    its output (and therefore the prune-side broadcast) is batch-bounded
    and the corpus is never shuffled — only re-scanned map-side once.
    """
    if max_bucket is not None:
        probed = new_banded.select("band", "h").distinct()
        if broadcast_new:
            probed = F.broadcast(probed)
        stats = (o_banded.join(probed, ["band", "h"])
                 .groupBy("band", "h")
                 .agg(F.count(F.lit(1)).alias("_n"),
                      F.min(F.when(~F.col("o_new"), F.col("id_o")))
                      .alias("_hub_corpus"),
                      F.min(F.when(F.col("o_new"), F.col("id_o")))
                      .alias("_hub_new")))
        if broadcast_new:
            stats = F.broadcast(stats)
        # hot buckets shrink to their two hubs; the stats join also
        # prunes un-probed buckets (they could never match anyway)
        o_banded = (o_banded.join(stats, ["band", "h"])
                    .where((F.col("_n") <= F.lit(max_bucket))
                           | (F.col("id_o") == F.col("_hub_corpus"))
                           | (F.col("id_o") == F.col("_hub_new")))
                    .select("band", "h", "id_o", "o_new"))
    return (new_banded.select("band", "h", F.col("id").alias("id_n"))
            .join(o_banded, ["band", "h"])
            .where(F.col("id_n") != F.col("id_o"))
            .select("id_n", "id_o", "o_new")
            .distinct())


def minhash_dedup_incremental(new_docs: DataFrame, corpus_sigs: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              threshold: float = 0.8, k: int = 64,
                              bands: int = 16,
                              broadcast_new: bool = True,
                              new_sigs: DataFrame | None = None,
                              max_bucket: int | None = None) -> DataFrame:
    """Near-dup verdicts for a NEW batch against an already-deduped
    corpus — the operation a production pipeline runs per ingest instead
    of re-deduping 100 TB daily.

    ``corpus_sigs`` is the persisted signature table ``(id, sig)`` (from
    ``minhash_signatures_arrow`` / ``update_signature_store``); bands are
    re-derived from it as a projection, so only one store table exists.
    Pass precomputed (ideally checkpointed) ``new_sigs`` to avoid
    re-running the batch signature kernel per plan reference —
    ``update_signature_store`` does.

    Keeper rule (single-hop, like minhash_dedup, but corpus-canonical):
    a new doc matching ANY corpus doc is a duplicate of the minimum such
    corpus id — an already-kept doc never loses its canonical status to
    a later arrival; a new doc matching only new docs keeps the batch
    minimum; otherwise it keeps itself.

    Scale shape: the corpus signature table is SCANNED twice (band-hash
    probe, then pair verification) and SHUFFLED never: with
    ``broadcast_new`` (default) both joins broadcast the batch-derived
    side — the banded batch into the probe, the candidate set with
    batch signatures attached into the verification — so per ingest the
    corpus contributes two map-side scans and zero exchanges.
    Signatures never enter the band join.

    ``max_bucket`` is the hot-bucket guard (the incremental analogue of
    ``_bucketed_pairs``): a band bucket holding more than ``max_bucket``
    corpus+batch members — web boilerplate with millions of stored
    near-copies — is pruned to two hub rows (its minimum corpus id and
    minimum new id) before the probe join, so a batch doc probing it
    emits O(1) candidates instead of O(bucket). This is an APPROXIMATION,
    not an exact rewrite: the hubs are the bucket's minimum ids, not its
    minimum *verified* partners, so a batch doc whose only true partner
    is a pruned non-hub member of a degenerate bucket — and which shares
    no other band with it — is missed (recall loss confined to hot
    buckets; precision is unaffected since every emitted pair is still
    signature-verified). The trade is deliberate: an unguarded
    10^6-member boilerplate bucket makes the probe join quadratic, and
    the members of such a bucket are near-copies of the hub in the
    overwhelming case. Pass ``max_bucket=None`` for exact candidates on
    corpora known not to have degenerate buckets.
    Costs one extra map-side corpus scan (bucket counts, restricted to
    buckets the batch actually probes, aggregated map-side before a
    batch-bounded shuffle) — the corpus still shuffles never.
    """
    if new_sigs is None:
        new_sigs = minhash_signatures_arrow(new_docs, text_col, id_col, k)
    all_sigs = (corpus_sigs.select("id", "sig",
                                   F.lit(False).alias("is_new"))
                .unionByName(new_sigs.select(
                    "id", "sig", F.lit(True).alias("is_new"))))

    def band(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            "id", "is_new",
            F.explode(lsh_bands(F.col("sig"), bands)).alias("b")) \
            .select("id", "is_new", F.col("b.band").alias("band"),
                    F.col("b.h").alias("h"))

    new_banded = band(new_sigs.withColumn("is_new", F.lit(True)))
    if broadcast_new:
        new_banded = F.broadcast(new_banded)
    o_banded = band(all_sigs).select(
        "band", "h", F.col("id").alias("id_o"),
        F.col("is_new").alias("o_new"))
    # probe: new batch against corpus+batch; >=1 new side by construction
    cand = _incremental_candidates(new_banded, o_banded, max_bucket,
                                   broadcast_new)
    # sig_n comes from the batch-sized table, and the candidate set
    # (with sig_n attached) is broadcast into the corpus-side attach:
    # the corpus signature table is never shuffled
    cand_n = cand.join(new_sigs.select(F.col("id").alias("id_n"),
                                       F.col("sig").alias("sig_n")),
                       "id_n")
    if broadcast_new:
        cand_n = F.broadcast(cand_n)
    pairs = cand_n.join(all_sigs.select(F.col("id").alias("id_o"),
                                        F.col("sig").alias("sig_o")),
                        "id_o")
    agree = F.size(F.filter(
        F.zip_with("sig_n", "sig_o", lambda x, y: x == y), lambda v: v))
    near = pairs.select(
        "id_n", "id_o", "o_new",
        (agree / F.size("sig_n")).alias("jaccard_est")) \
        .where(F.col("jaccard_est") >= threshold)

    verdict = near.groupBy("id_n").agg(
        F.min(F.when(~F.col("o_new"), F.col("id_o")))
        .alias("corpus_partner"),
        F.min(F.when(F.col("o_new"), F.col("id_o")))
        .alias("batch_partner"))
    return (new_docs.join(verdict,
                          new_docs[id_col] == verdict["id_n"], "left")
            .select(new_docs["*"],
                    F.coalesce(
                        "corpus_partner",
                        F.least(F.coalesce("batch_partner",
                                           new_docs[id_col]),
                                new_docs[id_col]))
                    .alias("keeper_doc_id"))
            .withColumn("is_near_duplicate",
                        F.col("keeper_doc_id") != F.col(id_col)))


def update_signature_store(spark, new_docs: DataFrame, store,
                           ident: str = "minhash_sigs",
                           text_col: str = "text", id_col: str = "doc_id",
                           threshold: float = 0.8, k: int = 64,
                           bands: int = 16,
                           max_bucket: int | None = 10_000) -> DataFrame:
    """Incremental-dedup driver over a ``sources.catalog`` TableStore:
    verdicts for the new batch against the stored corpus signatures, then
    append the batch's signatures (keepers AND duplicates — a later copy
    of a duplicate must still find a partner) to the store. Returns the
    materialized verdicts.

    Contract: doc ids are immutable — a changed document must arrive
    under a new id (re-using an id keeps the stored signature; the
    upstream checkpoint layer treats changed content under the same id
    as new WORK, but this store keys identity by id). Re-ingesting an
    id already in the store never grows it: novelty is enforced by an
    id anti-join here (parquet) and by MERGE (Iceberg).

    This is the composed INGEST entry point, so the hot-bucket guard is
    ON by default (``max_bucket=10_000``): without it one degenerate
    boilerplate bucket in a 10^12-doc store makes the probe join
    quadratic. Pass ``max_bucket=None`` to opt out (exact all-pairs
    candidates, small corpora only)."""
    # one batch signature pass total: checkpointed, then reused by the
    # verdict plan (3 references) and the store append
    new_sigs = minhash_signatures_arrow(new_docs, text_col, id_col, k) \
        .localCheckpoint(eager=True)
    existed = store.exists(spark, ident)
    if existed:
        corpus_sigs = store.read(spark, ident)
        verdicts = minhash_dedup_incremental(
            new_docs, corpus_sigs, text_col, id_col,
            threshold=threshold, k=k, bands=bands, new_sigs=new_sigs,
            max_bucket=max_bucket)
    else:
        verdicts = minhash_dedup(new_docs, text_col, id_col,
                                 threshold=threshold, k=k, bands=bands,
                                 max_bucket=max_bucket)
    # localCheckpoint, not persist: the store append below invalidates
    # any cached plan that scans the store path, and a recompute would
    # see the batch's own signatures as corpus — every batch-internal
    # group would then mark ALL members duplicates of each other.
    out = verdicts.localCheckpoint(eager=True)
    to_append = new_sigs
    if existed:
        # ids already stored are skipped (rerun-safe for ParquetStore,
        # whose upsert_keys is a blind append); checkpointed so the
        # append job cannot race its own scan of the store directory
        to_append = new_sigs.join(store.read(spark, ident).select("id"),
                                  "id", "left_anti") \
            .localCheckpoint(eager=True)
    store.upsert_keys(to_append, ident, keys=["id"])
    return out


def topk_shingle_hashes(text: Column, k: int = 8, n: int = 3) -> Column:
    """K smallest md5(shingle) values — the bounded candidate-generation
    set used by jaccard pair mining (portable across engines)."""
    return F.slice(F.array_sort(
        F.transform(shingles_col(text, n), lambda s: F.md5(s))), 1, k)


def topk_shingle_hashes_arrow(docs: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", k: int = 8,
                              n: int = 3) -> DataFrame:
    """(id, hs) twin of topk_shingle_hashes in one mapInArrow pass —
    value-identical (K lexicographically-smallest md5 hex digests of the
    distinct shingles; hashlib and Spark md5 both emit lowercase hex).
    Same rationale as minhash_signatures_arrow: the interpreted shingle
    transform + per-element md5 + array_sort dominated the sf0.1 kernel
    bench at 37s for 5 000 docs; C-speed md5 + heapq take ~2s."""
    import hashlib
    import heapq

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            ids = rb.column(0)
            texts = rb.column(1).to_pylist()
            out: list[list[str]] = []
            for text in texts:
                toks = (text or "").lower().split()
                if len(toks) < n:
                    out.append([])
                    continue
                digests = {hashlib.md5(" ".join(toks[i:i + n]).encode())
                           .hexdigest()
                           for i in range(len(toks) - n + 1)}
                out.append(heapq.nsmallest(k, digests))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(out, type=pa.list_(pa.string()))],
                names=["id", "hs"])

    src = docs.select(F.col(id_col).alias("id"),
                      F.col(text_col).alias("t"))
    id_type = dict(src.dtypes)["id"]
    return src.mapInArrow(run, schema=f"id {id_type}, hs array<string>")


def jaccard_pairs(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 8,
                  min_shared: int = 2) -> DataFrame:
    """N-gram jaccard near-dup pairs over bounded top-K shingle sets:
    join on shared shingle hash, then exact jaccard of the two K-sets."""
    sets_df = topk_shingle_hashes_arrow(docs, text_col, id_col, k)
    exploded = sets_df.select("id", "hs", F.explode("hs").alias("h"))
    left = exploded.select(F.col("h"), F.col("id").alias("id_a"),
                           F.col("hs").alias("hs_a"))
    right = exploded.select(F.col("h"), F.col("id").alias("id_b"),
                            F.col("hs").alias("hs_b"))
    pairs = (left.join(right, "h")
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.first("hs_a").alias("hs_a"), F.first("hs_b").alias("hs_b"),
                  F.count(F.lit(1)).alias("n_shared")))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size(F.array_union("hs_a", "hs_b"))
    return (pairs.where(F.col("n_shared") >= min_shared)
            .select("id_a", "id_b",
                    inter.cast("long").alias("n_intersect"),
                    (inter / union).alias("jaccard")))


# ---------------------------------------------------------------------------
# SimHash (vectorized bit votes in one mapInArrow pass)
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """64-bit simhash per doc: per-token 64-bit hashes vote +1/-1 per bit;
    the sign of each bit-sum forms the signature. Token hashing is the
    first 64 bits of md5 — engine-portable (DuckDB computes the identical
    signature in SQL, so the gate query has a brute-force oracle); the
    bit-vote accumulation is numpy-vectorized per Arrow batch."""
    df = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t"))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import hashlib

        cache: dict[str, int] = {}

        def token_hash(tok: str) -> int:
            h = cache.get(tok)
            if h is None:
                h = int(hashlib.md5(tok.encode()).hexdigest()[:16], 16)
                cache[tok] = h
            return h

        for rb in batches:
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            texts = rb.column(1).to_numpy(zero_copy_only=False)
            out = np.empty(len(ids), dtype=np.uint64)
            for i, text in enumerate(texts):
                toks = (text or "").lower().split()
                if not toks:
                    out[i] = 0
                    continue
                hs = np.fromiter((token_hash(t) for t in toks),
                                 dtype=np.uint64, count=len(toks))
                bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1)
                # int64 before the subtract: uint64 arithmetic wraps on
                # negative votes and silently sets (almost) every bit
                votes = bits.sum(axis=0).astype(np.int64) * 2 - len(toks)
                sig = np.uint64(0)
                for j in np.nonzero(votes > 0)[0]:
                    sig |= np.uint64(1) << np.uint64(j)
                out[i] = sig
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.string()),
                 pa.array(out.view(np.int64))],
                names=["doc_id", "simhash"])

    return df.mapInArrow(run, schema="doc_id string, simhash long")


def simhash_pairs(sigs: DataFrame, max_hamming: int = 3,
                  max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming via chunk
    banding into ``max_hamming + 1`` chunks: a pair differing in at most
    ``max_hamming`` bits cannot touch every chunk (pigeonhole), so it must
    agree exactly on >=1 chunk — candidate recall is exact, not
    probabilistic. Narrow chunks (large max_hamming) mean bigger buckets;
    keep max_hamming small (<=7) at corpus scale. ``max_bucket``
    star-joins degenerate chunk buckets (identical-signature spam) —
    exact recall then holds only for pairs involving a hot bucket's hub."""
    if not 0 <= max_hamming < 64:
        raise ValueError("max_hamming must be in [0, 64)")
    nchunks = max_hamming + 1
    base, rem = divmod(64, nchunks)
    widths = [base + 1 if i < rem else base for i in range(nchunks)]
    starts = [sum(widths[:i]) for i in range(nchunks)]

    def mask(width: int) -> Column:
        # (1 << 64) - 1 overflows a signed long literal (max_hamming=0
        # puts the whole signature in one chunk); -1 is all 64 bits set
        if width >= 64:
            return F.lit(-1).cast("long")
        return F.lit((1 << width) - 1).cast("long")

    chunks = F.array(*[
        F.shiftrightunsigned(F.col("simhash"), starts[i])
        .bitwiseAND(mask(widths[i])).alias(f"c{i}")
        for i in range(nchunks)])
    banded = sigs.select(
        F.col("doc_id").alias("id"),
        F.posexplode(chunks).alias("chunk_idx", "chunk_val"))
    id_pairs = _bucketed_pairs(banded, ["chunk_idx", "chunk_val"],
                               max_bucket)
    sig_a = sigs.select(F.col("doc_id").alias("id_a"),
                        F.col("simhash").alias("sig_a"))
    sig_b = sigs.select(F.col("doc_id").alias("id_b"),
                        F.col("simhash").alias("sig_b"))
    pairs = id_pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (pairs.withColumn("hamming", hamming.cast("long"))
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ---------------------------------------------------------------------------
# Connected-components keeper assignment (full transitive dedup)
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """(id_a, id_b) near-dup edges -> (id, component) where component is
    the minimum id in each connected component — the full transitive
    keeper assignment (vs minhash_dedup's single-hop min-partner).

    Min-label propagation: each round every node takes the min of its own
    label and its neighbours' labels (one join + one groupBy per round),
    converging in O(component diameter) rounds — near-dup clusters are
    shallow, so this is a handful of narrow shuffles at any scale. Rounds
    localCheckpoint to cut lineage; iteration stops at the first round
    with zero label changes.
    """
    edges = (pairs.select("id_a", "id_b")
             .union(pairs.select(F.col("id_b").alias("id_a"),
                                 F.col("id_a").alias("id_b")))
             .distinct().persist())
    labels = (edges.select(F.col("id_a").alias("id")).distinct()
              .withColumn("comp", F.col("id")).localCheckpoint())
    changed = 0
    for _ in range(max_iter):
        neigh = (edges
                 .join(labels.select(F.col("id").alias("id_b"),
                                     F.col("comp").alias("nc")), "id_b")
                 .groupBy("id_a").agg(F.min("nc").alias("min_neigh")))
        new_labels = (labels
                      .join(neigh, labels["id"] == neigh["id_a"], "left")
                      .select(labels["id"],
                              F.least(F.col("comp"),
                                      F.coalesce("min_neigh", "comp"))
                              .alias("comp"))
                      .localCheckpoint())
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .where(F.col("n.comp") != F.col("o.comp")).count())
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # without this, a component whose diameter exceeds max_iter is
        # silently split into several keepers (round-2 ADVICE)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — "
            "propagation needs O(max component diameter) rounds")
    return labels


def dedup_components(docs: DataFrame, pairs: DataFrame,
                     id_col: str = "doc_id") -> DataFrame:
    """Full transitive dedup verdict: every doc mapped to its component
    keeper (docs in no pair keep themselves)."""
    comp = connected_components(pairs)
    return (docs.join(comp, docs[id_col] == comp["id"], "left")
            .select(docs["*"],
                    F.coalesce("comp", docs[id_col]).alias("keeper_doc_id"))
            .withColumn("is_near_duplicate",
                        F.col("keeper_doc_id") != F.col(id_col)))


def embedding_near_dup(embeddings: DataFrame, dim: int,
                       threshold_milli: int = 900, n_planes: int = 8,
                       n_tables: int = 2, id_col: str = "vec_id",
                       emb_col: str = "embedding",
                       max_bucket: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate detection — the vector-space dedup
    tier (exact / minhash / simhash / jaccard cover the token space).

    Pipeline, all bucketed (no crossJoin anywhere):
      1. candidate pairs from L seeded hyperplane LSH tables with
         Hamming-1 multi-probe (similarity.lsh_candidate_pairs) — only
         (bucket, id) rows shuffle;
      2. candidates scored with the Arrow pairwise-cosine kernel and kept
         when floor(cosine * 1000) >= threshold_milli (the milli floor is
         the cross-engine-stable comparison every similarity gate uses);
      3. transitive keeper assignment by min-label connected components.

    Returns every input row + (keeper_id, is_near_duplicate); rows in no
    surviving pair keep themselves. Recall follows the LSH table
    parameters (see all_pairs_topk's measured floor); both engines see
    the identical candidate set, so the gate oracle reproduces the exact
    verdict, not just the approximation family."""
    from .similarity import lsh_candidate_pairs, pair_cosine_arrow

    cands = lsh_candidate_pairs(embeddings, dim, n_planes, n_tables,
                                True, id_col, emb_col,
                                max_bucket=max_bucket) \
        .where(F.col("id_a") < F.col("id_b"))
    attached = (cands
                .join(embeddings.select(F.col(id_col).alias("id_a"),
                                        F.col(emb_col).alias("e_a")),
                      "id_a")
                .join(embeddings.select(F.col(id_col).alias("id_b"),
                                        F.col(emb_col).alias("e_b")),
                      "id_b"))
    edges = (pair_cosine_arrow(attached, "e_a", "e_b", dim)
             .where(F.floor(F.col("cosine") * 1000) >= threshold_milli)
             .select("id_a", "id_b"))
    out = dedup_components(embeddings, edges, id_col=id_col)
    return out.withColumnRenamed("keeper_doc_id", "keeper_id")


def substring_dup_stats(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", *,
                        window: int = 50, stride: int = 50,
                        min_count: int = 2) -> DataFrame:
    """Cross-document windowed substring duplication — the
    ExactSubstr-dedup signal (Lee et al., "Deduplicating Training
    Data Makes Language Models Better") in its Spark-tractable form:
    hash every ``stride``-strided ``window``-token span of every
    document, count occurrences corpus-wide, and report per document
    how much of it is duplicated text that exact/minhash DOC-level
    dedup cannot see (boilerplate paragraphs, licence blocks, quoted
    chains shared across otherwise-distinct documents).

    A true suffix-array ExactSubstr removes the duplicated BYTES;
    this operator yields the per-document signal (``dup_ppm``) a
    curation pipeline thresholds on — the removal variant needs the
    byte ranges back and is a different cost class.  Occurrence
    counts, not distinct-document counts, so a document repeating its
    own paragraph past the window length also scores (the in-doc
    repetition family, `operators/repetition.py`, measures that at
    line/bigram granularity).

    Scale shape: token-linear.  Windows explode to ~n_tokens/stride
    rows per doc (md5 window hashes, engine-portable); the occurrence
    count is one hash exchange with map-side partial aggregation; the
    dup-mark join is hash-on-hash (no skew — a hash key is uniform by
    construction, and a hot WINDOW is exactly what the count finds);
    the per-doc rollup reuses nothing but is doc-keyed and small.
    Three shuffles total over window-hash-sized data, each linear —
    the price of a cross-document property; every per-doc alternative
    misses exactly the cross-document duplicates this exists to find.

    Returns (doc_id, n_windows, n_dup_windows, dup_ppm):
    ``dup_ppm`` = duplicated-window share in parts per million
    (integer — engine-stable), 0 for docs shorter than ``window``
    tokens."""
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    n_win = F.greatest(
        F.floor((n - F.lit(window)) / F.lit(stride)) + 1, F.lit(0))
    wins = F.transform(
        F.sequence(F.lit(1), n_win.cast("int"),
                   F.lit(1)),
        lambda i: F.md5(F.array_join(
            F.slice(toks, (i - 1) * stride + 1, window), " ")))
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(F.when(n_win > 0, wins)).alias("whash"))

    counts = exploded.where(F.col("whash").isNotNull()) \
        .groupBy("whash").agg(F.count(F.lit(1)).alias("occ"))
    dup = counts.where(F.col("occ") >= min_count) \
        .select("whash", F.lit(1).alias("is_dup"))
    marked = exploded.join(dup, "whash", "left")
    out = marked.groupBy("doc_id").agg(
        F.count("whash").cast("long").alias("n_windows"),
        F.coalesce(F.sum("is_dup"), F.lit(0)).cast("long")
        .alias("n_dup_windows"))
    dup_ppm = F.when(
        F.col("n_windows") > 0,
        F.floor(F.col("n_dup_windows") * 1_000_000
                / F.col("n_windows"))).otherwise(F.lit(0))
    return out.select("doc_id", "n_windows", "n_dup_windows",
                      dup_ppm.cast("long").alias("dup_ppm"))
