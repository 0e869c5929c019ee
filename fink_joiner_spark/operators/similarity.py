"""Similarity / near-duplicate operators for 100 TB-scale pipelines:

* n-gram (shingle) Jaccard near-dup pairs — exact, via inverted-index
  join (shared-shingle candidates), never an all-pairs cross join;
* MinHash + LSH banding — the sub-quadratic scale path for text dedup;
* SimHash — 32-bit sign-hash near-dup buckets, hamming-distance pairs;
* embedding cosine near-dup pairs (label/cell-blocked) and brute-force
  cosine top-k similarity search, plus a sign-LSH bucketed ANN variant.

Design rule for every operator here: candidate generation must be a
KEYED JOIN (shingle, band signature, LSH bucket, cell id) so the plan
is shuffle-bounded by candidate count — the all-pairs comparison that
works at sf0.01 is exactly what we refuse to ship for 100 TB.

Cross-engine determinism: all hashes are polynomial codepoint folds
(see ``text.char_poly_hash``), so DuckDB oracles reproduce MinHash
signatures, band buckets, and SimHash bits bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from fink_joiner_spark.operators.text import MOD, char_poly_hash, tokens
from fink_joiner_spark.versioned import clustered

def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the cluster's parallelism before
    CPU-heavy per-row work — but ONLY when the input is actually
    under-partitioned. A single parquet file caps the scan at one
    partition (the sandbox's test tables), so compute-dense operators
    must never inherit a 1-partition scan; a real 100 TB table already
    scans as thousands of partitions, and an unconditional repartition
    there would be a full corpus shuffle bought for nothing. The probe
    (`df.rdd.getNumPartitions()`) materializes the physical plan once
    at query-build time without running a job.

    CONTRACT: call this on SCAN-stage inputs only (every in-repo call
    site does). For an input whose lineage already contains a shuffle,
    the probe reports the static pre-AQE partition count
    (spark.sql.shuffle.partitions) — the repartition is skipped, and
    AQE's size-based coalescing may still collapse the small exchange
    to one partition at runtime. Compute-dense work AFTER a shuffle
    needs its own EXPLICIT keyed repartition on the downstream join
    keys (see semantic_dedup_keep's pair join), which is the correct
    tool there anyway."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — probe is best-effort
        n = 1
    return df if n >= par else df.repartition(par)


def _join_spread(df: DataFrame, *keys: str) -> DataFrame:
    """EXPLICIT keyed repartition of a candidate-join input whose join
    OUTPUT explodes quadratically per key cell (posting self-joins,
    band-bucket collision joins). AQE's size-based coalescing sees only
    the join INPUT bytes — a few MB of posting rows coalesce to one or
    two partitions and the O(Σ|cell|²) pair generation + verify then
    runs near-serial (measured r13: dedup_containment_prefix 6.8 s →
    3.3 s and dedup_jaccard_capped ~8 s → 2.8 s with coalescing simply
    disabled). A user repartition is exempt from AQE coalescing (the
    r5 semdedup remedy, semantic_dedup_keep above), so the join keeps
    cluster-wide parallelism; partition count = defaultParallelism,
    the same scale-adaptive sizing every `_spread` site uses.

    Placement is MEASURED PER SITE, not blanket (r13 paired A/Bs):
    the guard costs one full shuffle of the posting/collision frame,
    so it stays only where the collapse it prevents is real — the
    capped posting self-joins and the containment-prefix probe/index
    join (2× wins above), plus the phash block join (r5 mega-block
    evidence, 2.43 s with vs 2.70 without) — and the CANDIDATE frame
    feeding the capped/prefix families' exact-verify joins
    (`_verify_jaccard`/`_verify_containment`): the shingle sides
    broadcast, so the per-pair array_intersect runs in the candidate
    aggregate's stage, which AQE coalesces on shuffle BYTES blind to
    that downstream compute (paired A/B: capped containment
    7.01→4.55 s, containment-prefix 9.08→4.09 s, capped jaccard
    5.17→3.26 s). It was A/B-REJECTED on the banded-LSH, cross-corpus,
    simhash, prefix-jaccard, winnowing and frequent-pairs joins (each
    0.2-1.7 s SLOWER with the guard, cpu up ~30-50%): their collision
    cells are bounded by design (compound keys, distinct signatures,
    fingerprint selection), the join output stays small, and AQE never
    collapses them — and likewise REJECTED on the verify stages of
    minhash-LSH, cross-corpus and prefix-jaccard (4 paired legs:
    flat within the warming drift; their candidate sets are small
    enough that the coalesced stage is not the bottleneck). Note what
    this guard is NOT: per-key hot-cell skew lands on one partition
    under ANY keyed repartition — the caps/compound-key/distinct-
    signature designs are the skew defense, this only pins partition
    COUNT against size-based coalescing."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, *[F.col(k) for k in keys])


def _pin_once(df: DataFrame) -> DataFrame:
    """Materialize a multiply-referenced intermediate exactly once
    instead of re-evaluating its subtree at every reference.

    Why (r13 optimization round, guide §2.4/§5): the capped/prefix
    similarity paths reference the shingled-corpus frame from the
    posting index, the document-frequency aggregate AND both exact-
    verify sides — and AQE's stage reuse only dedups IDENTICAL
    exchanges, so the tokenise→shingle→distinct subtree (the CPU-
    dominant work) re-ran per reference: the final AQE plan for
    ``dedup_containment_capped`` carried 27 parquet scans of the same
    table. One materialization is O(corpus shingles) storage per
    executor — the same size class the posting shuffle already moves —
    and every consumer reads it instead of recomputing.

    Mechanism (r13 verdict ask #3, settled by r14 paired A/B — numbers
    in OPTIMIZATION_r14.md): ``persist(MEMORY_AND_DISK)``. It gives
    the same single-evaluation reuse as the r13 ``localCheckpoint``
    form but KEEPS LINEAGE — at cluster scale an executor/block loss
    recomputes the lost partitions instead of failing the query
    (guide §5 names exactly this trade; localCheckpoint truncates the
    plan and makes the pinned frame irrecoverable). The CC loop's
    per-round localCheckpoint (graph.py) is NOT this helper — there
    plan TRUNCATION is the point (the plan would otherwise grow with
    iteration count).

    RELEASE CONTRACT (ADVICE r13): pinned storage is registered on
    :data:`graph._PENDING_FREE` and released by
    ``graph.free_checkpoints()`` — bench.py calls it between queries;
    a long-lived library caller looping over the pinning operators
    (jaccard/containment capped, minhash LSH, scrub_boilerplate,
    phash pairs, frequent_pairs) must call it after
    fully consuming each result, or blocks accumulate. Do NOT call
    this on a frame the caller references only once or twice when the
    references are identical subtrees (AQE exchange reuse already
    covers those for free)."""
    from fink_joiner_spark.operators import graph

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    # a persisted DataFrame exposes unpersist(blocking) just like the
    # JVM RDD handles graph._unpersist_handle drives — same registry,
    # same release path
    graph._PENDING_FREE.append(out)  # noqa: SLF001
    return out


# ---------------------------------------------------------------------------
# shingles + exact Jaccard
# ---------------------------------------------------------------------------


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of lowercased whitespace tokens.

    Built by zipping the token array against its own shifted slices —
    O(tokens) total, vs O(tokens²) for per-index slicing."""
    toks = tokens(text)
    m = F.size(toks) - (n - 1)
    acc = F.slice(toks, 1, m)
    for k in range(2, n + 1):
        acc = F.zip_with(acc, F.slice(toks, k, m), lambda a, b: F.concat_ws(" ", a, b))
    return F.when(F.size(toks) >= n, F.array_distinct(acc)).otherwise(
        F.array().cast("array<string>")
    )


def _cap_postings(posting: DataFrame, max_doc_freq: int) -> DataFrame:
    """Drop posting rows whose shingle appears in more than
    ``max_doc_freq`` documents — the stopword-shingle cap that keeps a
    posting-list self-join from going quadratic in one boilerplate
    key at corpus scale. Plan: one map-side-combined doc-frequency
    aggregate over the posting (each doc posts each distinct shingle
    once, so COUNT = df), then an anti-join of the posting against the
    HOT set — which is tiny (≤ Σ|postings|/cap keys), so AQE turns the
    anti-join into a broadcast at runtime; nothing is forced."""
    freq = posting.groupBy("s").agg(F.count(F.lit(1)).alias("df_s"))
    hot = freq.where(F.col("df_s") > max_doc_freq).select("s")
    return posting.join(hot, "s", "left_anti")


def _shingle_frame(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Scan-stage shingle projection shared by the jaccard/containment
    family: (id, shingles, n_sh). This is the subtree the capped/prefix
    paths pin via :func:`_pin_once` — its parquet scan must stay
    pruned to (id, text); tests/test_plans.py audits pruning HERE
    because the pinned result plan shows only the checkpoint leaf."""
    return _spread(df).select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), n).alias("shingles")
    ).withColumn("n_sh", F.size("shingles"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    Plan: explode shingles → self-join on shingle (hash shuffle keyed by
    shingle) → per-pair intersection counts → filter by J ≥ threshold.
    Shuffle volume is Σ|posting list|², not |docs|² — bounded ONLY if
    no shingle's posting list explodes, which real corpora violate
    (boilerplate headers, license blocks): one shingle shared by k docs
    costs k² join rows. ``max_doc_freq`` is the standard web-scale
    stopword-shingle cap: shingles in more than that many docs are
    dropped from the INDEX (candidate generation only) and surviving
    candidate pairs are then verified EXACTLY against their full
    shingle arrays — so every emitted jaccard value is exact and the
    cap trades only recall (a pair ALL of whose shared shingles are
    boilerplate-hot is missed — by construction the pairs one wants to
    miss). With df ≤ cap for every shingle the output is identical to
    the uncapped plan (pinned in tests/test_similarity.py). Default
    ``None`` preserves the historical single-aggregate plan
    bit-for-bit.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded 4dp.
    """
    sh = _shingle_frame(df, id_col, text_col, n)
    if max_doc_freq is not None:
        # capped path references sh from the posting, the df aggregate
        # and both verify sides — shingle once, not per reference
        sh = _pin_once(sh)
    # join on a 64-bit shingle hash, not the string: long keys shuffle
    # and compare ~an order of magnitude cheaper; an xxhash64 collision
    # (≈0 at any realistic posting volume) could only inflate one
    # pair's intersection count by 1.
    posting = sh.select(
        "id", "n_sh", F.explode(F.transform("shingles", lambda s: F.xxhash64(s))).alias("s")
    )
    if max_doc_freq is not None:
        # capped path: candidates from the capped index, then exact
        # verify on the raw arrays (the capped posting join can no
        # longer COUNT the true intersection — hot shingles are gone)
        t_micro = round(threshold * 1_000_000)
        posting = _join_spread(_cap_postings(posting, max_doc_freq), "s")
        a, b = posting.alias("a"), posting.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.id") < F.col("b.id"))
                # length filter: J ≥ t forces t·na ≤ nb ≤ na/t —
                # exact-integer micro-unit arithmetic (no float ulp)
                & (F.col("b.n_sh") * t_micro <= F.col("a.n_sh") * 1_000_000)
                & (F.col("a.n_sh") * t_micro <= F.col("b.n_sh") * 1_000_000),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        return _verify_jaccard(cand, sh, threshold)
    a, b = posting.alias("a"), posting.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _verify_jaccard(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact-verify candidate (id_a, id_b) pairs against the full
    shingle arrays — the verify stage shared by the capped inverted
    index and the prefix filter (same expression subtree as
    :func:`jaccard_pairs_prefix`'s verify, so capped and prefix paths
    emit bit-identical jaccard values)."""
    av = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"),
                   F.col("n_sh").alias("na"))
    bv = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"),
                   F.col("n_sh").alias("nb"))
    # spread the candidate frame before the verify joins — the
    # per-pair array_intersect runs in its stage and AQE's coalescing
    # of the candidate aggregate sees only shuffle bytes (see
    # _verify_containment)
    verified = (
        _join_spread(cand, "id_a").join(av, "id_a")
        .join(bv, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        verified.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per-doc fraction of n-gram shingles
    that appear anywhere in a benchmark/eval corpus.

    The standard pretraining hygiene step (eval n-gram overlap — e.g.
    GPT-3 appendix C, PaLM §8): docs whose contamination exceeds a
    policy threshold are dropped before training. Emits
    ``(doc_id, n_shingles, n_hits, contamination)`` for every doc with
    ≥1 overlapping shingle; callers filter at their threshold.

    Scale shape: the benchmark shingle set is eval-suite-sized (MBs) —
    broadcast it; the corpus side is one explode + broadcast-hash-join
    + one keyed re-aggregation. No shuffle of the corpus text itself.
    """
    b = (
        benchmark.select(F.explode(word_shingles(F.col(text_col), n)).alias("s"))
        .distinct()
    )
    d = (
        _spread(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            word_shingles(F.col(text_col), n).alias("sh"),
        )
        .select(
            "doc_id",
            F.size("sh").cast("long").alias("n_shingles"),
            F.explode("sh").alias("s"),
        )
    )
    return (
        d.join(F.broadcast(b), "s")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_shingles"), 4).alias("contamination"),
        )
    )


def quantize_embeddings_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Per-vector int8 scalar quantization (min/max affine) with
    reconstruction-error stats — the storage/serving compression step
    of an embedding pipeline (4× smaller than float32).

    q_i = floor((x_i - min)·254/(max - min) + 0.5) - 127 ∈ [-127, 127];
    flat vectors (max == min) quantize to all-zero. Emits
    ``(id, n_dims, scale, q_sum, mae)`` — ``q_sum`` is an exact-integer
    checksum of the codes, ``mae`` the mean absolute dequantization
    error. Pure column expressions, zero shuffles; ``floor(x + 0.5)``
    (not ROUND) keeps half-way cases identical across engines.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mn, mx = F.array_min(v), F.array_max(v)
    scale = (mx - mn) / F.lit(254.0)
    q = F.when(mx == mn, F.transform(v, lambda x: F.lit(0).cast("long"))).otherwise(
        F.transform(v, lambda x: F.floor((x - mn) / scale + 0.5) - 127)
    )
    deq = F.transform(q, lambda c: (c + 127) * scale + mn)
    abs_err = F.zip_with(v, deq, lambda a, b: F.abs(a - b))
    mae = (
        F.aggregate(abs_err, F.lit(0.0), lambda acc, x: acc + x) / F.size(v)
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.size(v).cast("long").alias("n_dims"),
        (F.round(scale, 6) + F.lit(0.0)).alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
        (F.round(mae, 8) + F.lit(0.0)).alias("mae"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signature(shingle_hashes: Column, k: int = 16) -> Column:
    """k-permutation MinHash signature over PRE-HASHED shingles.

    Permutation j: h_j(x) = ((2j+1)·x + 97j+13) mod 1e9+7. One pass per
    doc, no shuffle; arrays stay JVM-side.

    Takes the int64 hash array, NOT the raw shingle strings: HOF
    lambdas inline their inputs, so passing ``transform(shingles,
    char_poly_hash)`` here would re-fold every character of every
    shingle once per permutation — k× the dominant cost (measured 3-20×
    wall-time on the signature stage at sf0.1). Callers materialize the
    hash array as a real column first so it's computed once.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.array_min(
            F.transform(shingle_hashes, lambda h: (h * (2 * j + 1) + 97 * j + 13) % MOD)
        ),
    )


def _minhash_banded(
    df: DataFrame, id_col: str, text_col: str, n: int, k: int, bands: int
) -> tuple[DataFrame, DataFrame]:
    """The shared MinHash banding pipeline: returns
    ``(shingled(id, shingles), banded(id, band, bucket))``.

    Signature computation in explode + hash-aggregate form (the same
    restructure that made simhash32_agg ~20× faster): each shingle is
    poly-hashed ONCE on its own row, and the k permutation minima run
    as plain codegen MIN aggregates with map-side partial aggregation.
    The naive form — k lambdas over transform(shingles,
    char_poly_hash) — re-folds every character k times, because lambda
    inlining (and CollapseProject) duplicates the inner expression
    into every permutation. Docs with zero shingles have no banded
    rows — they never pair."""
    r = k // bands
    # pinned: every caller references the shingled frame from the
    # signature pipeline AND both exact-verify sides — one shingling
    # pass instead of three (see _pin_once)
    shingled = _pin_once(
        _spread(df).select(
            F.col(id_col).alias("id"),
            word_shingles(F.col(text_col), n).alias("shingles"),
        )
    )
    hashed = shingled.select(
        "id", F.explode("shingles").alias("s")
    ).withColumn("h", char_poly_hash(F.col("s")))
    sigs = hashed.groupBy("id").agg(
        *[
            F.min((F.col("h") * (2 * j + 1) + 97 * j + 13) % MOD).alias(f"m{j}")
            for j in range(k)
        ]
    )
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bidx).alias("band"),
                        F.concat_ws(
                            "_", *[F.col(f"m{j}") for j in range(bidx * r, (bidx + 1) * r)]
                        ).alias("bucket"),
                    )
                    for bidx in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    return shingled, banded


def cross_corpus_dedup(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric corpus-vs-corpus dedup — the ingest gate every
    continuously-collected training corpus needs: drop NEW documents
    that near-duplicate ANY document of an existing REFERENCE corpus
    (a fresh crawl against last month's curated set), keeping the
    reference untouched. Complements :func:`minhash_lsh_pairs`
    (within-corpus pairs) and `text.ngram_decontaminate` (exact
    containment against a small benchmark set): this one is
    similarity-based and both sides are corpus-scale.

    Same sub-quadratic shape as the within-corpus path: both corpora
    run the shared MinHash banding ONCE (:func:`_minhash_banded`), the
    candidate join is keyed by (band, bucket) — collision lists, never
    all-pairs and never new×ref — and exact Jaccard verifies only the
    candidates via two keyed shingle-array joins. Returns the KEPT
    rows of ``new_df`` (original columns).
    """
    sh_new, band_new = _minhash_banded(new_df, id_col, text_col, n, k, bands)
    sh_ref, band_ref = _minhash_banded(ref_df, id_col, text_col, n, k, bands)
    cand = (
        band_new.alias("a")
        .join(
            band_ref.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.id").alias("id_new"), F.col("b.id").alias("id_ref"))
        .dropDuplicates(["id_new", "id_ref"])
    )
    verified = (
        cand.join(
            sh_new.select(F.col("id").alias("id_new"), F.col("shingles").alias("sh_a")),
            "id_new",
        )
        .join(
            sh_ref.select(F.col("id").alias("id_ref"), F.col("shingles").alias("sh_b")),
            "id_ref",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    dropped = (
        verified.withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_new").alias("__drop_id"))
        .distinct()
    )
    return new_df.join(
        dropped, new_df[id_col] == F.col("__drop_id"), "left_anti"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band-bucket candidate join + exact
    Jaccard verification. The sub-quadratic text-dedup scale path:
    shuffle keys are (band, signature) — collision lists, not documents.

    Output: (id_a, id_b, jaccard ≥ threshold) for pairs sharing ≥1 of
    ``bands`` bands (r = k/bands rows per band). LSH may miss pairs —
    P(candidate | J) = 1-(1-J^r)^b — the declared approximation.
    """
    shingled, banded = _minhash_banded(df, id_col, text_col, n, k, bands)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Exact-Jaccard verification only for the (few) candidates: fetch
    # the shingle arrays by keyed join instead of dragging them through
    # the band explosion (bands× array duplication in the shuffle).
    verified = (
        cand.join(shingled.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")), "id_a")
        .join(shingled.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        verified.withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash32(text: Column) -> Column:
    """32-bit SimHash over token poly-hashes: bit i is the sign of the
    per-bit ±1 vote sum across tokens. One pass, JVM-side arrays."""
    # NB: F.shiftright/shiftleft take a Python-int shift, so inside
    # lambdas we shift via exact powers of two (hashes < 2^30 « 2^53).
    th = F.transform(tokens(text), lambda t: char_poly_hash(t))
    bit_votes = F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda i: F.aggregate(
            th,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(
                F.floor(h / F.pow(F.lit(2.0), i)).cast("long").bitwiseAND(F.lit(1)) == 1,
                1,
            ).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(31)),
            lambda v, i: F.when(v > 0, F.pow(F.lit(2.0), i).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash32_agg(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sh) simhash signatures via explode + 32 columnar SUMs.

    Semantically identical to :func:`simhash32` but ~20× faster: the
    single-expression form nests 32 ``aggregate`` lambdas and falls out
    of whole-stage codegen into interpreted evaluation; this form
    explodes token hashes to rows and lets the hash-aggregate engine
    run 32 plain ``sum((h >> i) & 1)`` columns with map-side partial
    aggregation — one shuffle keyed by doc id, everything in codegen.
    """
    th = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode_outer(
            F.transform(tokens(F.col(text_col)), lambda t: char_poly_hash(t))
        ).alias("h"),
    )
    votes = th.groupBy("id").agg(
        F.count("h").alias("n"),
        *[
            F.sum(F.coalesce(F.shiftright("h", i).bitwiseAND(F.lit(1)), F.lit(0))).alias(
                f"b{i}"
            )
            for i in range(32)
        ],
    )
    sh = None
    for i in range(32):
        term = F.when(2 * F.col(f"b{i}") - F.col("n") > 0, F.lit(1 << i)).otherwise(0)
        sh = term if sh is None else sh + term
    # Null/empty docs (n = 0 token hashes) get sh = NULL, not sh = 0 —
    # a 0 signature would hamming-0-pair every empty doc with every
    # genuine all-zero-signature doc.
    return votes.select(
        "id", F.when(F.col("n") > 0, sh).cast("long").alias("sh")
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ ``max_hamming`` — EXACT.

    Candidate generation blocks on the four disjoint 8-bit bytes of the
    32-bit simhash: by pigeonhole, any pair differing in ≤ 3 bits leaves
    at least one of the 4 blocks untouched, so every qualifying pair
    shares an identical byte in the same position (exactness needs
    n_blocks > max_hamming; 2 half-blocks would silently drop pairs
    whose 2-3 differing bits span both halves). Banded exact search —
    shuffle keyed by (block, byte), no cross join. At production scale
    you'd widen to a 64-bit simhash with 16-bit blocks for the same
    guarantee at 256× the bucket selectivity.
    """
    if max_hamming > 3:
        raise ValueError(
            "4-byte blocking is exact only for max_hamming <= 3 "
            f"(need n_blocks > max_hamming); got {max_hamming}"
        )
    # sh IS NULL = doc had no tokens; empty docs don't pair.
    s = simhash32_agg(df, id_col, text_col).where(F.col("sh").isNotNull())
    # Distinct-signature compaction: a near-dup-heavy corpus maps many
    # docs to the SAME simhash (sf0.1 test corpus: 5000 docs → 2534
    # sigs, one byte-bucket holding 96% of docs). Joining doc-level
    # postings there is quadratic in the duplication factor — the
    # candidate join must run over DISTINCT signatures, with doc-id
    # lists carried alongside and pairs expanded only at output.
    # NOT pinned (r14, verdict ask #4): the r13 blanket pass pinned
    # this distinct-signature frame, but the pin never recorded a win
    # — r13 runs were flat-to-worse (2.14→2.33/3.86) and the r14
    # paired A/B measured REMOVAL 1.19× faster than the persist pin
    # (2.715 vs 3.222 s; OPTIMIZATION_r14.md). The two references
    # (byte-block self-join + intra-group expansion) re-evaluate a
    # cheap one-aggregate subtree; materialization cost exceeded the
    # recompute it saved.
    sigs = s.groupBy("sh").agg(F.sort_array(F.collect_list("id")).alias("ids"))
    blocks = sigs.select(
        "sh",
        "ids",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("part"),
                        F.shiftright("sh", 8 * i).bitwiseAND(F.lit(255)).alias("v"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("h"),
    ).select("sh", "ids", "h.part", "h.v")
    a, b = blocks.alias("a"), blocks.alias("b")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    sig_pairs = (
        a.join(
            b,
            (F.col("a.part") == F.col("b.part"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.sh") < F.col("b.sh")),
        )
        .select(
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
            F.col("a.ids").alias("ids_a"),
            F.col("b.ids").alias("ids_b"),
        )
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["sh_a", "sh_b"])
    )
    cross = sig_pairs.select(
        F.explode("ids_a").alias("ia"), F.col("ids_b").alias("ids_b"), "hamming"
    ).select(
        F.col("ia"), F.explode("ids_b").alias("ib"), "hamming"
    ).select(
        F.least("ia", "ib").alias("id_a"),
        F.greatest("ia", "ib").alias("id_b"),
        "hamming",
    )
    # hamming-0 pairs inside one signature group (ids pre-sorted, so
    # posexplode indices give id_a < id_b directly)
    intra = (
        sigs.filter(F.size("ids") > 1)
        .select(F.posexplode("ids").alias("i", "id_a"), F.col("ids"))
        .select("i", "id_a", F.posexplode("ids").alias("j", "id_b"))
        .filter(F.col("i") < F.col("j"))
        .select("id_a", "id_b", F.lit(0).alias("hamming"))
    )
    return cross.unionByName(intra)


# ---------------------------------------------------------------------------
# embedding cosine: near-dup pairs + top-k search
# ---------------------------------------------------------------------------


def norm_col(vec: Column) -> Column:
    """‖vec‖ with the strict fold's exact evaluation order (HOF form).
    Pair-stage operators project this ONCE PER VECTOR on each join
    side and score with ``dot_col(a, b) / (na * nb)`` — bit-identical
    to :func:`cosine` (same sub-expressions, same order) with 3× fewer
    pair-stage flops: the r10 A/B at sf0.1 measured the dup-pairs
    join at 0.58 s (pre-norm + dot) vs 1.2-3.7 s (full 3-fold cosine
    per pair). The HOF fold is deliberate — see :func:`dot_col`."""
    vd = F.transform(vec, lambda x: x.cast("double"))
    return F.sqrt(
        F.aggregate(F.transform(vd, lambda x: x * x), F.lit(0.0),
                    lambda acc, x: acc + x)
    )


def dot_col(a: Column, b: Column) -> Column:
    """Strict left-fold dot product, HOF form — the measured-fastest
    pair-stage kernel, against the r9 verdict's expectation. The r10
    A/Bs (sf0.1, warm, idle box) ranked the three candidate kernels:

    * HOF fold (this): dup-pairs join 0.58 s with per-side
      :func:`norm_col`; SemDeDup 1.8-2.0 s — matching the r9 verdict's
      own idle "run E" numbers, i.e. the 777 cpu-s figure was the
      shared-JVM profile-pollution artifact, not kernel cost (the
      bench's fresh-JVM outlier rerun now defends against it);
    * flat unrolled ``a[0]·b[0] + …`` over the fixed dimension: 3-4×
      SLOWER end-to-end despite being codegen-resident — the 64-term
      chains bloat every generated stage (and the full cosine inlined
      into a join's doConsume exceeds Janino's 64 KB limit outright,
      falling back to interpreted eval plus a failed compile per plan);
    * k-scaled unrolls (IVF assignment as least(struct), sign-LSH
      bucket): always blow the 64 KB limit — 6.4 s vs 0.5 s for the
      same assignment at sf0.01.

    What actually moved the needle is the NORM hoist: one fold per
    pair instead of three."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with strict left-fold double accumulation —
    bit-identical to the DuckDB oracle's explicit fold.

    The production pair stages do NOT call this per pair — they hoist
    :func:`norm_col` per side and pay only :func:`dot_col` per pair
    (bit-identical; see those docstrings for the r10 measurements)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(ad, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(bd, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def _score_expr() -> Column:
    """Rounded cosine of a scored join's (qvec, nvec) pair over the
    sides' PRECOMPUTED ``_qn``/``_nn`` norms (each side must have
    projected :func:`norm_col`). Bit-identical to
    ``round(cosine(qvec, nvec), 4)`` — same sub-expressions, same
    strict-fold order — at a third of the pair-stage flops."""
    return F.round(
        dot_col(F.col("qvec"), F.col("nvec")) / (F.col("_qn") * F.col("_nn")),
        4,
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.45,
) -> DataFrame:
    """Embedding near-dup pairs within blocks (IVF-cell analog).

    ``block_col`` is the coarse-quantization cell (here the dataset's
    cluster label; in production, a k-means cell id). The self-join is
    keyed by block — candidate volume is Σ|cell|², never |all|².
    """
    v = _spread(df).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), F.col(block_col).alias("blk")
    ).withColumn("_nrm", norm_col(F.col("vec")))
    # norm once per vector pre-join; the O(pairs) stage pays only the
    # dot (see norm_col / dot_col)
    score = F.round(
        dot_col(F.col("a.vec"), F.col("b.vec"))
        / (F.col("a._nrm") * F.col("b._nrm")),
        4,
    )
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(
        b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id"))
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        score.alias("cos"),
    )
    return pairs.filter(F.col("cos") >= threshold)


def topk_bruteforce(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the (small) query set,
    scan the corpus once, rank per query. The baseline every ANN
    variant is measured against. Ties broken by neighbor id."""
    from pyspark.sql import Window

    q = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec"))
    c = _spread(df).select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"))
    q = q.withColumn("_qn", norm_col(F.col("qvec")))
    c = c.withColumn("_nn", norm_col(F.col("nvec")))
    scored = F.broadcast(q).crossJoin(c).filter(F.col("qid") != F.col("nid")).select(
        "qid", "nid", _score_expr().alias("score")
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "score", "rank")
    )


def hard_negative_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 10,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (query) vector, the ``k`` most-similar corpus vectors with a
    DIFFERENT label — the negatives closest to the decision boundary,
    the standard negative-sampling step for embedding-model training.

    Same scale shape as :func:`topk_bruteforce`: the anchor set is a
    bounded per-batch sample, so it broadcasts; the corpus is scanned
    once and the label inequality filters BEFORE the cosine is
    computed, so same-class pairs never reach the scoring expression.
    Per-anchor rank via a qid-partitioned window (ties by neighbor id).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        F.col(label_col).alias("qlab"),
    )
    c = _spread(df).select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        F.col(label_col).alias("nlab"),
    )
    q = q.withColumn("_qn", norm_col(F.col("qvec")))
    c = c.withColumn("_nn", norm_col(F.col("nvec")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qlab") != F.col("nlab"))
        .select(
            "qid",
            "nid",
            _score_expr().alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "score", "rank")
    )


def topk_sign_lsh(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
    k: int = 10,
    n_planes: int = 8,
    multiprobe: int = 1,
    exhaustive: bool = False,
) -> DataFrame:
    """ANN top-k via sign-LSH (random-hyperplane) bucketing with
    hamming-``multiprobe`` bucket probing.

    ``exhaustive=True`` probes every one of the 2**n_planes buckets —
    the candidate set becomes the whole corpus and the output is
    EXACTLY :func:`topk_bruteforce` (same scores, same tie-break).
    That is the standard flat-search fallback for small collections,
    and it is what makes the small-scale output oracle-checkable.

    Deterministic pseudo-random planes: plane j component i has sign
    from an arithmetic hash of (j, i). The corpus hashes to one bucket;
    each query probes its own bucket plus every bucket within hamming
    distance ``multiprobe`` (flip-one-bit probes) — the standard
    multiprobe-LSH recall lever that costs probe-count× lookups, not a
    bigger index. Ranking runs only within probed buckets. Approximate —
    recall is validated against :func:`topk_bruteforce` in tests. At
    scale: one shuffle keyed by bucket; queries are broadcast-sized.
    """
    from pyspark.sql import Window

    def bucket(vec: Column) -> Column:
        # deliberately the HOF form: an n_planes×dim flat unroll (~1k
        # nodes) blows Janino's 64 KB method limit inside this stage
        # (measured r10: 9-12 s vs <1 s at sf0.01 once codegen falls
        # back) — see _assign_nearest for the linear-size rule
        bits = F.transform(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda j: F.when(
                F.aggregate(
                    F.zip_with(
                        F.transform(vec, lambda x: x.cast("double")),
                        F.sequence(F.lit(0), F.size(vec) - 1),
                        lambda x, i: x
                        * F.when(((i * 2654435761 + j * 40503 + 7) % 97) < 48, 1.0).otherwise(-1.0),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                > 0,
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        return F.aggregate(
            F.zip_with(
                bits,
                F.sequence(F.lit(0), F.lit(n_planes - 1)),
                lambda bbit, j: bbit * F.pow(F.lit(2.0), j).cast("int"),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )

    c = df.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    ).withColumn("bkt", bucket(F.col("nvec")))
    q = queries.select(
        F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec")
    ).withColumn("bkt0", bucket(F.col("qvec")))
    c = c.withColumn("_nn", norm_col(F.col("nvec")))
    q = q.withColumn("_qn", norm_col(F.col("qvec")))
    if exhaustive:
        probes = F.sequence(F.lit(0), F.lit(2**n_planes - 1))
    elif multiprobe >= 1:
        probes = F.array_distinct(
            F.concat(
                F.array(F.col("bkt0")),
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_planes - 1)),
                    lambda j: F.col("bkt0").bitwiseXOR(F.pow(F.lit(2.0), j).cast("int")),
                ),
            )
        )
    else:
        probes = F.array(F.col("bkt0"))
    q = q.withColumn("bkt", F.explode(probes))
    scored = (
        q.join(c, "bkt")
        .filter(F.col("qid") != F.col("nid"))
        .dropDuplicates(["qid", "nid"])
        .select(
            "qid", "nid", _score_expr().alias("score")
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "score", "rank")
    )


def _cells_arr(centroids: DataFrame):
    """One-row ``_cells`` array of (cell_id, centroid, cnorm) structs —
    the broadcastable codebook for :func:`_nearest_cells`, with each
    centroid's norm precomputed ONCE instead of once per (row, cell)."""
    cd = F.transform(F.col("centroid"), lambda x: x.cast("double"))
    cnorm = F.sqrt(
        F.aggregate(F.transform(cd, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    return centroids.select("cell_id", "centroid", cnorm.alias("cnorm")).agg(
        F.collect_list(F.struct("cell_id", "centroid", "cnorm")).alias("_cells")
    )


def _nearest_cells(vec: Column, n: int) -> Column:
    """Array of the n nearest cell_ids to vec (by cosine), read from a
    broadcast one-row ``_cells`` array of (cell_id, centroid, cnorm)
    structs (:func:`_cells_arr`).

    Ranks by dot/cnorm, NOT full cosine: the row vector's own norm is a
    positive factor common to every cell, and IEEE division by a fixed
    positive value is monotone, so the ordering is identical — dropping
    it (and reading the precomputed centroid norm) cuts the per-(row,
    cell) work from three array folds to one."""
    vd = F.transform(vec, lambda x: x.cast("double"))
    scored = F.array_sort(
        F.transform(
            F.col("_cells"),
            lambda s: F.struct(
                (
                    -F.aggregate(
                        F.zip_with(vd, s["centroid"], lambda x, y: x * y),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / s["cnorm"]
                ).alias("neg"),
                s["cell_id"].alias("cell_id"),
            ),
        )
    )
    return F.transform(F.slice(scored, 1, n), lambda s: s["cell_id"])


def _assign_nearest(c: DataFrame, seeds: DataFrame) -> DataFrame:
    """Nearest-cell assignment of a corpus ``(nid, nvec)``: argmax of
    dot(vec, centroid)/‖centroid‖ with ties to the LOWEST cell_id —
    ``element_at(_nearest_cells(vec, 1), 1)`` over the broadcast
    codebook array, shared by every IVF build/retrain/upsert path.

    This deliberately KEEPS the higher-order-function form (one
    interpreted fold per (row, cell)) rather than unrolling k·dim flat
    terms like the pair-stage cosine: an r10 A/B showed the unrolled
    ``least(struct(-dot/cnorm, cell_id))`` expression (16 cells × 64
    dims ≈ 2k nodes) EXCEEDS Janino's method limits — whole-stage
    codegen compilation fails, Spark falls back to interpreted eval
    for the stage AND pays the failed compile on every job: 6.4 s vs
    0.5 s (HOF) vs 1.7 s (crossJoin + codegen min_by, which adds a
    corpus shuffle) for the same assignment at sf0.01. Expression
    trees must stay LINEAR in codebook size (the same constraint
    ``_cb_literal`` documents for PQ); flat unrolls only win when the
    node count stays dim-sized — i.e. per-pair cosine, not per-row
    argmin over k cells."""
    cells_arr = _cells_arr(seeds)
    return c.crossJoin(F.broadcast(cells_arr)).select(
        "nid",
        "nvec",
        F.element_at(_nearest_cells(F.col("nvec"), 1), 1).alias("cell"),
    )


def _seed_centroids(c: DataFrame, n_cells: int) -> DataFrame:
    """Deterministic seed centroids: the ``n_cells`` corpus vectors with
    the lowest md5-of-id — reproducible, no RNG."""
    return (
        c.withColumn("h", F.md5(F.col("nid").cast("string")))
        .orderBy("h")
        .limit(n_cells)
        .select(F.col("nid").alias("cell_id"), F.col("nvec").alias("centroid"))
    )


def train_ivf_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    n_iters: int = 3,
    train_max: int = 65536,
) -> DataFrame:
    """Train an IVF codebook with deterministic Lloyd iterations
    (spherical k-means shape: cosine assignment, element-wise mean
    update — the un-normalized mean ranks identically under cosine),
    driver-side over a bounded md5-ordered training sample.

    Same posture as :func:`train_pq_codebooks`: k-means codebooks are
    always trained on a bounded sample (FAISS does exactly this), so
    the collect is O(train_max · d) at ANY corpus size, while the
    corpus-sized passes (cell assignment of the full index, probing,
    scoring) remain distributed. The round-4 per-iteration Spark jobs
    spent their wall time building codebook-literal expression trees,
    not crunching data.

    Semantics preserved: seeds are the ``n_cells`` vectors with the
    lowest md5-of-id (the old ``_seed_centroids`` choice, re-keyed
    0..n_cells-1); assignment maximizes dot(x, c)/‖c‖ with ties to the
    lowest cell id (matching ``_nearest_cells``'s (score, cell_id)
    sort); means are element-wise, rounded to 6 dp per iteration;
    empty cells keep their previous centroid. Early-stops when an
    iteration moves no centroid after rounding.

    Returns a (cell_id bigint, centroid array<double>) DataFrame for
    :func:`topk_ivf`'s ``centroids`` parameter.
    """
    import numpy as np

    spark = df.sparkSession
    rows = (
        df.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"))
        .withColumn("h", F.md5(F.col("nid").cast("string")))
        .orderBy("h")
        .limit(max(train_max, n_cells))
        .select("nvec")
        .collect()
    )
    X = np.asarray([[float(x) for x in r["nvec"]] for r in rows], dtype=np.float64)
    C = np.round(X[:n_cells], 6).copy()
    for _ in range(n_iters):
        norms = np.sqrt((C ** 2).sum(axis=1))
        norms[norms == 0.0] = 1.0  # degenerate all-zero centroid
        scores = (X @ C.T) / norms[None, :]
        assign = scores.argmax(axis=1)  # first occurrence = lowest cell id
        new_c = C.copy()
        for cell in range(len(C)):
            members = X[assign == cell]
            if len(members):
                new_c[cell] = np.round(members.mean(axis=0), 6)
        if np.array_equal(new_c, C):
            break
        C = new_c
    cents = [(i, [float(v) for v in row]) for i, row in enumerate(C)]
    return spark.createDataFrame(cents, schema="cell_id bigint, centroid array<double>")


def topk_ivf(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
    train_iters: int = 0,
) -> DataFrame:
    """ANN top-k via IVF (inverted-file) coarse quantization — the
    second scale path next to sign-LSH.

    Index: a codebook of ``n_cells`` centroids — md5-seeded corpus
    vectors by default (reproducible, no RNG), a trained codebook when
    ``train_iters`` > 0 (:func:`train_ivf_centroids` Lloyd iterations)
    or when ``centroids`` (cell_id, centroid) is supplied directly;
    every corpus vector is assigned to its nearest centroid's cell (one
    broadcast pass, one argmax). Search: each query ranks the
    centroids, probes its ``nprobe`` nearest cells, and ranks only the
    vectors in those cells. Approximate — recall vs
    :func:`topk_bruteforce` is pinned in tests, and the trained
    codebook's recall gain over the seeded one is asserted there too.

    At 100 TB: the assignment pass is a broadcast map (no shuffle); the
    probe is ONE equi-join keyed by cell id, so the comparison count
    drops from |Q|·|corpus| to |Q|·(nprobe/n_cells)·|corpus| with
    ordinary hash-join mechanics. Raise n_cells with corpus size (√n
    rule), nprobe for recall, and train_iters when cell-balance matters
    (seeded cells mirror the data distribution only by luck).
    """
    from pyspark.sql import Window

    c = _spread(df).select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"))

    if centroids is None and train_iters > 0:
        centroids = train_ivf_centroids(
            df, id_col, vec_col, n_cells=n_cells, n_iters=train_iters
        )
    seeds = centroids if centroids is not None else _seed_centroids(c, n_cells)

    assigned = _assign_nearest(c, seeds)
    cells_arr = _cells_arr(seeds)
    q = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec"))
    probes = (
        q.crossJoin(F.broadcast(cells_arr))
        .select("qid", "qvec", F.explode(_nearest_cells(F.col("qvec"), nprobe)).alias("cell"))
    )
    assigned = assigned.withColumn("_nn", norm_col(F.col("nvec")))
    probes = probes.withColumn("_qn", norm_col(F.col("qvec")))
    scored = (
        F.broadcast(probes)
        .join(assigned, "cell")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", _score_expr().alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "score", "rank")
    )


def _ivf_db(nid_col: Column, n_fwd_buckets: int) -> Column:
    """Forward-map bucket of an id: hash-pmod, same recipe as the BM25
    ``db=`` bucketing (scoring._doc_rows) so the two indexes share one
    mental model."""
    return F.pmod(F.xxhash64(nid_col.cast("string")), F.lit(n_fwd_buckets))


def _ivf_fwd_rows(assigned: DataFrame, n_fwd_buckets: int) -> DataFrame:
    """(nid, cell, db) forward-map rows from an assignment frame. The
    cell is stored as STRING — the partition-directory rendering — so
    the map's schema is stable whatever the codebook's cell_id type."""
    return assigned.select(
        "nid",
        F.col("cell").cast("string").alias("cell"),
        _ivf_db(F.col("nid"), n_fwd_buckets).alias("db"),
    )


def _ivf_store(spark, index_path: str):
    from fink_joiner_spark.versioned import VersionedStore

    return VersionedStore(spark, index_path)


def _cell_parts(values) -> list[str]:
    """Partition-dir names for cell values (the rendering partitionBy
    uses for ints and plain strings)."""
    return [f"cell={v}" for v in values]


def _db_parts(values) -> list[str]:
    return [f"db={int(v)}" for v in values]


def _typed_cells(values, cell_type: str) -> list:
    """Sorted distinct cell values coerced to the codebook's cell_id
    type (the forward map stores them as strings), so `.isin` filters
    partition-prune and swap directory names render exactly as
    ``partitionBy`` wrote them."""
    if cell_type in ("tinyint", "smallint", "int", "bigint"):
        return sorted({int(v) for v in values})
    return sorted({str(v) for v in values})


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dest_path: str,
    n_cells: int = 16,
    train_iters: int = 0,
    n_fwd_buckets: int = 16,
) -> None:
    """Persist an IVF index — the production shape when the same
    corpus serves many ANN queries: the O(corpus) cell-assignment pass
    runs ONCE at build time instead of per query, and the index layout
    (vectors partitioned by cell id) turns each probe's cell
    restriction into parquet partition pruning rather than a filter
    over a full scan.

    Layout: a :class:`fink_joiner_spark.versioned.VersionedStore` at
    ``dest_path`` (version dirs + per-version manifest + one atomic
    commit marker — reader snapshot isolation: a concurrent probe
    always sees one consistent committed version through every
    maintenance op, and a writer crash before the commit marker
    leaves the previous version untouched). Datasets per version:

    * ``vectors`` — (nid, nvec, cell) partitioned by ``cell``; the
      directory count equals ``n_cells`` (the √n rule keeps that
      catalog-friendly at any corpus size).
    * ``centroids`` — the (cell_id, centroid) codebook (tiny).
    * ``ids`` — the id→cell FORWARD MAP: (nid, cell) partitioned by
      ``db`` = hash(nid) % n_fwd_buckets (the BM25 ``docs/`` design).
      Upsert/delete membership discovery prunes to the delta ids'
      ≤ n_fwd_buckets ``db=`` directories instead of scanning the
      (nid, cell) columns of EVERY cell — O(delta buckets), the
      difference between a per-delete full-index column scan and a
      bounded read at 100 TB.
    * ``meta`` — one row: n_cells, n_fwd_buckets.

    Assignment/centroid semantics are exactly :func:`topk_ivf`'s
    (md5-seeded or Lloyd-trained, dot/‖c‖ argmax, lowest-cell ties),
    so an all-cells probe returns bit-identical results to the
    unindexed operator. Probe with :func:`topk_ivf_indexed`.
    """
    spark = df.sparkSession
    c = _spread(df).select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"))
    if train_iters > 0:
        seeds = train_ivf_centroids(
            df, id_col, vec_col, n_cells=n_cells, n_iters=train_iters
        )
    else:
        seeds = _seed_centroids(c, n_cells)
    assigned = _assign_nearest(c, seeds)
    # one materialized argmax pass feeding BOTH the vectors and the
    # forward-map writes (the update-path pattern) — re-reading the
    # staged vectors cost a full extra job per build
    assigned = assigned.localCheckpoint()
    store = _ivf_store(spark, dest_path)
    with store.transaction() as v:
        clustered(assigned, "cell", "nid").write.partitionBy("cell").parquet(
            f"{store.vdir(v)}/vectors"
        )
        clustered(
            _ivf_fwd_rows(assigned.select("nid", "cell"), n_fwd_buckets), "db", "nid"
        ).write.partitionBy("db").parquet(f"{store.vdir(v)}/ids")
        seeds.write.parquet(f"{store.vdir(v)}/centroids")
        rows = (
            [("vectors", p, v) for p in store.written_parts(v, "vectors")]
            + [("ids", p, v) for p in store.written_parts(v, "ids")]
            + [("centroids", "", v), _ivf_meta_row(v, n_cells, n_fwd_buckets)]
        )
        store.commit(v, rows)


def _ivf_meta_row(v: int, n_cells: int, n_fwd_buckets: int):
    """Index scalars as a manifest ANNOTATION row (see
    ``scoring._meta_row`` — same rationale: a manifest lookup on read
    instead of a Spark job over a one-row parquet dataset)."""
    import json

    return (
        "_meta",
        json.dumps(
            {"n_cells": int(n_cells), "n_fwd_buckets": int(n_fwd_buckets)}
        ),
        v,
    )


def _read_ivf_meta(store, version: int | None = None) -> dict:
    import json

    raw = store.annotation("_meta", version)
    if raw is None:
        raise ValueError(
            f"IVF index at {store.root} has no _meta annotation — "
            "pre-annotation versioned layout? Retrain to upgrade."
        )
    return json.loads(raw)


def update_ivf_index(
    new_vectors: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    applied_marker: str | None = None,
) -> None:
    """Incrementally fold NEW vectors into a persisted IVF index
    (:func:`build_ivf_index`): assign the delta against the index's
    FROZEN codebook (read back, broadcast — the same expression the
    build used) and append to the matching cell partitions. Cost is
    O(delta); existing cell files are never rewritten.

    Freezing the codebook is the standard serving posture (FAISS adds
    to a trained index the same way): assignment stays consistent for
    every query, at the price of gradual cell imbalance as the data
    distribution drifts — monitor cell sizes and retrain/rebuild
    offline when skew exceeds budget (the documented maintenance
    cadence). ``new_vectors`` must be NEW ids (append log, not
    upsert — :func:`upsert_ivf_index` is the call that retracts a
    re-ingested id's previous version first).

    Versioned-store mechanics: the delta's cell/db partitions land as
    NEW version directories and the manifest gains append-references
    for them — no existing file is rewritten, moved, or appended into
    (a committed version is immutable), and the vectors + forward-map
    additions commit ATOMICALLY in one marker flip. A crash before
    the commit leaves the previous version fully intact; re-running
    the fold is plain retry.
    """
    spark = new_vectors.sparkSession
    store = _ivf_store(spark, index_path)
    if store.current() is None:
        raise ValueError(
            "update_ivf_index requires a versioned index (built by this "
            "build_ivf_index, or upgraded in place by retrain_ivf_index "
            f"from the legacy in-place layout). Index: {index_path}"
        )
    seeds = store.read("centroids")
    n_fwd = int(_read_ivf_meta(store)["n_fwd_buckets"])
    # _spread as in the build: a delta delivered as one file would run
    # the per-row codebook argmax single-threaded otherwise
    c = _spread(new_vectors).select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    )
    # pinned: the forward-map and vectors writes are two jobs — one
    # argmax pass instead of two
    assigned = _assign_nearest(c, seeds).localCheckpoint()
    with store.transaction() as v:
        clustered(assigned, "cell", "nid").write.partitionBy("cell").parquet(
            f"{store.vdir(v)}/vectors"
        )
        clustered(_ivf_fwd_rows(assigned, n_fwd), "db", "nid").write.partitionBy(
            "db"
        ).parquet(f"{store.vdir(v)}/ids")
        rows = (
            store.state_rows()
            + [("vectors", p, v) for p in store.written_parts(v, "vectors")]
            + [("ids", p, v) for p in store.written_parts(v, "ids")]
        )
        if applied_marker is not None:
            # stream-sink replay marker, committed ATOMICALLY with the fold
            # (annotation row — see scoring.update_bm25_index); last 64 kept
            keep = sorted(
                (r for r in rows if r[0] == "_applied"),
                key=lambda r: r[2], reverse=True,
            )[:63]
            rows = [r for r in rows if r[0] != "_applied"]
            rows += keep + [("_applied", applied_marker, v)]
        store.commit(v, rows)


def compact_ivf_index(spark, index_path: str, target_file_mb: float = 128) -> int:
    """Defragment a streamed-into IVF index: every
    :func:`update_ivf_index` fold adds an append-REFERENCE per touched
    cell (a new version dir), so after N deltas a cell's content spans
    ~N directories of small files and probe latency decays into
    file-open overhead — the identical small-files decay
    :func:`scoring.compact_bm25_index` exists to fix for the BM25
    sibling. Rewrites ``vectors`` (and the ``ids`` forward map) in the
    same partition layout, nid-sorted within files (row-group min/max
    stats then prune id-restricted reads), collapsing every
    reference list back to ONE version — committed with a single
    marker flip, so a concurrent probe sees either the fragmented or
    the compacted index, never a mix. Centroids are untouched
    (compaction moves bytes, never assignments); probe results are
    bit-identical before and after (asserted in ``tests/test_lake.py``).
    Returns the file count requested for the vectors dataset.
    """
    import math

    from fink_joiner_spark.operators.lake import dataset_bytes

    store, _ = _ivf_maint_entry(spark, index_path, "compact_ivf_index")
    vecs = store.read("vectors")
    n = max(1, math.ceil(dataset_bytes(vecs) / (target_file_mb * 1024 * 1024)))
    with store.transaction() as v:
        # range-repartition on (cell, nid): same-cell rows stay contiguous
        # so small cells compact to one file, while a cell larger than the
        # target splits across tasks into nid-disjoint files (repartition
        # by cell alone would funnel each cell through ONE task whatever
        # its size)
        (
            vecs.repartitionByRange(n, "cell", "nid")
            .sortWithinPartitions("cell", "nid")
            .write.partitionBy("cell")
            .parquet(f"{store.vdir(v)}/vectors")
        )
        ids = store.read("ids")
        (
            ids.repartitionByRange(max(1, n // 4), "db", "nid")
            .sortWithinPartitions("db", "nid")
            .write.partitionBy("db")
            .parquet(f"{store.vdir(v)}/ids")
        )
        old = store.state_rows()
        rows = [r for r in old if r[0] not in ("vectors", "ids")]
        rows += [("vectors", p, v) for p in store.written_parts(v, "vectors")]
        rows += [("ids", p, v) for p in store.written_parts(v, "ids")]
        store.commit(v, rows)
    return n


def retrain_ivf_index(
    spark,
    index_path: str,
    n_cells: int | None = None,
    train_iters: int = 0,
) -> None:
    """Retrain the codebook of a persisted IVF index from its CURRENT
    vectors and reassign every vector — the remedial action behind the
    :func:`lake.partition_stats` hot trigger. A frozen codebook
    (:func:`update_ivf_index`) accumulates cell imbalance as streamed-in
    data drifts from the build-time distribution; once the monitor
    fires, this pass re-derives the codebook from what the index
    actually holds (seeded, or ``train_iters`` Lloyd iterations over
    the bounded md5-ordered sample) and rewrites vectors, forward map,
    centroids, and meta in the new cell layout. Cost: one O(index)
    assignment pass — the same bill as a build, minus re-reading the
    source table.

    Crash consistency is the versioned store's: everything lands in a
    NEW version directory and becomes visible in ONE commit-marker
    flip — a crash at any earlier point leaves the previous version
    untouched and fully readable (a concurrent probe never sees new
    vectors with an old codebook, the mixed state the old in-place
    swaps could expose), and re-running — with the same OR different
    parameters — is plain retry, not a repair protocol.

    A LEGACY index (pre-versioned in-place layout: raw ``vectors/`` /
    ``centroids/`` dirs) is UPGRADED in place for free: retrain reads
    every vector anyway, so it writes version 1 of the store —
    including the ``ids`` forward map upsert/delete require — and
    removes the legacy directories after the commit.
    """
    import os

    store = _ivf_store(spark, index_path)
    legacy = store.current() is None
    if legacy:
        raw_vec = os.path.join(index_path, "vectors")
        if not store.fs.exists(raw_vec):
            raise ValueError(f"no IVF index at {index_path}")
        vecs = spark.read.parquet(raw_vec)
        if n_cells is None:
            n_cells = spark.read.parquet(
                os.path.join(index_path, "centroids")
            ).count()
        n_fwd_buckets = 16
    else:
        vecs = store.read("vectors")
        n_fwd_buckets = int(_read_ivf_meta(store)["n_fwd_buckets"])
        if n_cells is None:
            n_cells = int(_read_ivf_meta(store)["n_cells"])

    c = _spread(vecs).select("nid", "nvec")
    if train_iters > 0:
        seeds = train_ivf_centroids(
            c, "nid", "nvec", n_cells=n_cells, n_iters=train_iters
        )
    else:
        seeds = _seed_centroids(c, n_cells)
    assigned = _assign_nearest(c, seeds)

    # one materialized reassignment pass feeds the vectors write, the
    # forward-map write, AND the clustered-write range sampling — the
    # argmax never re-executes
    assigned = assigned.localCheckpoint()
    with store.transaction() as v:
        clustered(assigned, "cell", "nid").write.partitionBy("cell").parquet(
            f"{store.vdir(v)}/vectors"
        )
        clustered(
            _ivf_fwd_rows(assigned.select("nid", "cell"), n_fwd_buckets), "db", "nid"
        ).write.partitionBy("db").parquet(f"{store.vdir(v)}/ids")
        seeds.write.parquet(f"{store.vdir(v)}/centroids")
        rows = (
            [("vectors", p, v) for p in store.written_parts(v, "vectors")]
            + [("ids", p, v) for p in store.written_parts(v, "ids")]
            + [("centroids", "", v), _ivf_meta_row(v, int(n_cells), n_fwd_buckets)]
        )
        store.commit(v, rows)
    if legacy:
        # the in-place dirs are no longer referenced by anything
        for name in ("vectors", "centroids", "ids", "meta"):
            store.fs.delete(os.path.join(index_path, name))


def ivf_index_stream_sink(
    stream_vectors: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    checkpoint_location: str,
    trigger_available_now: bool = True,
):
    """Continuous IVF ingestion: a ``foreachBatch`` sink folding every
    micro-batch of new vectors into a persisted IVF index via
    :func:`update_ivf_index` — the streaming end of the IVF lifecycle
    (build → stream-maintain → monitor → retrain/compact → probe),
    mirroring :func:`scoring.bm25_index_stream_sink`.

    Same replay contract as the BM25 sink (its docstring is the full
    statement): ``update_ivf_index`` is a fold and NOT idempotent, so
    each applied batch records a marker keyed by (batchId, content
    digest — row count + order-independent bit_xor of id hashes) as
    an annotation row in the SAME manifest commit as the fold's data
    — marker and fold are atomic, closing the exactly-once story end
    to end. Re-delivered batches skip; a NEW stream with a fresh
    checkpoint (batch ids restart at 0) still folds. SINGLE WRITER
    required (concurrent streams race the version counter — union
    feeds upstream).
    """

    def fold(batch: DataFrame, batch_id: int) -> None:
        dig = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(
                F.xxhash64(F.col(id_col).cast("string"))
            ).alias("h"),
        ).first()
        if not dig["n"]:
            return
        marker = f"batch={batch_id}_n{dig['n']}_h{dig['h']}"
        store = _ivf_store(batch.sparkSession, index_path)
        if any(
            ds == "_applied" and part == marker
            for ds, part, _ in store.state_rows()
        ):
            return
        update_ivf_index(
            batch, id_col, vec_col, index_path, applied_marker=marker
        )

    w = stream_vectors.writeStream.foreachBatch(fold).option(
        "checkpointLocation", checkpoint_location
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w


def _ivf_maint_entry(spark, index_path: str, op: str):
    """Shared upsert/delete preamble: refuse a legacy (pre-versioned)
    index — its vectors-only layout has no forward map, so membership
    would cost a full-index scan per call at scale, and its in-place
    directories have no reader isolation. ``retrain_ivf_index``
    upgrades a legacy index in place (one O(index) pass). Returns
    (store, n_fwd_buckets)."""
    store = _ivf_store(spark, index_path)
    if store.current() is None:
        raise ValueError(
            f"{op} requires a versioned index with the id→cell forward "
            "map: this index predates both (legacy in-place layout). "
            "retrain_ivf_index upgrades it in place — proceeding would "
            "cost a full-index membership scan per call at scale. "
            f"Index: {index_path}"
        )
    return store, int(_read_ivf_meta(store)["n_fwd_buckets"])


def upsert_ivf_index(
    new_vectors: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
) -> None:
    """LATEST-VERSION upsert of vectors into a persisted IVF index —
    the reference's signature semantics (a changed listing replaces
    its previous version, CRMLSJoiner.scala:182) applied to the vector
    index, closing CRUD parity with the BM25 side: re-ingesting a
    changed embedding for an existing id first retracts the old
    vector (whatever cell it sits in), then folds the new one against
    the FROZEN codebook, so a probe afterwards hash-matches an index
    built from scratch over the latest vectors — never the
    double-indexed both-versions state the plain append would leave.

    Cost is O(delta + touched partitions), never O(index): the
    ``ids`` forward map — read pruned to the delta ids'
    ≤ n_fwd_buckets ``db=`` directories — yields each previous
    version's cell directly; only (old cells ∪ new cells) of
    ``vectors`` and the delta's ``db=`` buckets of ``ids`` are
    rewritten into a new version directory, every untouched partition
    carrying its existing reference forward (file-identity
    test-asserted). The codebook is untouched. A delta of entirely
    NEW ids degrades to exactly :func:`update_ivf_index`'s
    append-reference fast-path.

    ``new_vectors`` must carry one row per id (dedup a multi-version
    delta to its latest upstream — `dedup.latest_per_key`).

    Crash consistency is the versioned store's: both dataset rewrites
    become visible in ONE atomic commit-marker flip — a concurrent
    probe sees the old or the new index, never vectors without their
    forward rows; a crash before the marker leaves the previous
    version untouched and ANY retry (same delta, different delta, a
    delete, a retrain) is safe. No intent/repair protocol exists
    because none is needed.
    """
    spark = new_vectors.sparkSession
    store, n_fwd = _ivf_maint_entry(spark, index_path, "upsert_ivf_index")
    seeds = store.read("centroids")
    cell_type = dict(seeds.dtypes)["cell_id"]
    c = _spread(new_vectors).select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    )
    # pinned: assigned feeds four jobs (digest-free now, but membership,
    # two rewrites, and the pure-insert test) — one argmax pass total
    assigned = _assign_nearest(c, seeds).localCheckpoint()
    fwd_new = _ivf_fwd_rows(assigned, n_fwd)
    key = assigned.select("nid").distinct()
    dbs = sorted(int(r.db) for r in fwd_new.select("db").distinct().collect())
    db_parts = _db_parts(dbs)

    # previous versions of the upserted ids, via the pruned forward
    # map: read ≤ |delta db buckets| directories, semi-join on id
    prev = store.read("ids", parts=db_parts)
    old_cells = (
        []
        if prev is None
        else [
            r.cell
            for r in prev.join(key, "nid", "semi").select("cell").distinct().collect()
        ]
    )
    if not old_cells:
        # pure insert: the append-reference fast-path IS the correct plan
        update_ivf_index(new_vectors, id_col, vec_col, index_path)
        return
    new_cells = [str(r.cell) for r in assigned.select("cell").distinct().collect()]
    cells = _typed_cells(set(old_cells) | set(new_cells), cell_type)
    cell_parts = _cell_parts(cells)

    with store.transaction() as v:
        kept = (
            store.read("vectors", parts=cell_parts)
            .select("nid", "nvec", F.col("cell").cast(cell_type).alias("cell"))
            .join(key, "nid", "anti")
        )
        # pinned before clustered(): repartitionByRange's boundary-
        # sampling pass re-executes the input lineage once more per
        # write — build/retrain already guard this, and here the
        # lineage is store reads + anti-joins, not a cheap scan
        merged = kept.unionByName(
            assigned.select("nid", "nvec", F.col("cell").cast(cell_type).alias("cell"))
        ).localCheckpoint()
        clustered(merged, "cell", "nid").write.partitionBy("cell").parquet(
            f"{store.vdir(v)}/vectors"
        )
        kept_ids = (
            store.read("ids", parts=db_parts)
            .join(key, "nid", "anti")
            .select("nid", "cell", F.col("db").cast("long").alias("db"))
            .unionByName(fwd_new)
            .localCheckpoint()
        )
        clustered(kept_ids, "db", "nid").write.partitionBy("db").parquet(
            f"{store.vdir(v)}/ids"
        )
        rows = store.carry_except(store.state_rows(), "vectors", set(cell_parts))
        rows = store.carry_except(rows, "ids", set(db_parts))
        rows += [("vectors", p, v) for p in store.written_parts(v, "vectors")]
        rows += [("ids", p, v) for p in store.written_parts(v, "ids")]
        store.commit(v, rows)


def delete_from_ivf_index(ids: DataFrame, id_col: str, index_path: str) -> int:
    """Delete vectors from a persisted IVF index — the retract
    complement of :func:`update_ivf_index` (build / update / upsert /
    retrain / compact / delete close the index's CRUD surface).

    Membership discovery reads the ``ids`` forward map pruned to the
    delta ids' ``db=`` buckets — O(delta buckets), never the
    all-cell (nid, cell) column scan of the pre-forward-map layout —
    then ONLY the affected cell partitions of ``vectors`` and the
    delta's ``db=`` buckets of ``ids`` are rewritten (anti-join) into
    a new version; untouched partitions carry their references
    forward, and a cell whose every vector is deleted simply drops
    out of the manifest. The codebook is untouched (deletion changes
    membership, never assignment). Ids not in the index are ignored;
    returns the number of vectors actually deleted.

    Crash/concurrency contract: one atomic commit-marker flip makes
    both rewrites visible together; a crash before it leaves the old
    version intact and any retry is safe; a concurrent probe never
    sees a half-deleted state.
    """
    spark = ids.sparkSession
    store, n_fwd = _ivf_maint_entry(spark, index_path, "delete_from_ivf_index")
    cell_type = dict(store.read("centroids").dtypes)["cell_id"]
    # pinned: the caller's ids may derive from this index
    # (delete-a-whole-cell reads vectors), and the anti-joins below
    # must not re-execute that lineage mid-op
    key = ids.select(F.col(id_col).alias("nid")).distinct().withColumn(
        "db", _ivf_db(F.col("nid"), n_fwd)
    ).localCheckpoint()
    dbs = sorted(int(r.db) for r in key.select("db").distinct().collect())
    db_parts = _db_parts(dbs)

    fwd = store.read("ids", parts=db_parts)
    if fwd is None:
        return 0
    hit = fwd.join(key.select("nid"), "nid", "semi")
    cells_raw = [r.cell for r in hit.select("cell").distinct().collect()]
    n_del = hit.count()
    if not cells_raw:
        return 0
    cells = _typed_cells(cells_raw, cell_type)
    cell_parts = _cell_parts(cells)

    with store.transaction() as v:
        # pinned before clustered(): see upsert — don't let the range
        # sampler re-run the store-read + anti-join lineage
        kept = (
            store.read("vectors", parts=cell_parts)
            .select("nid", "nvec", F.col("cell").cast(cell_type).alias("cell"))
            .join(key.select("nid"), "nid", "anti")
            .localCheckpoint()
        )
        clustered(kept, "cell", "nid").write.partitionBy("cell").parquet(
            f"{store.vdir(v)}/vectors"
        )
        kept_ids = (
            store.read("ids", parts=db_parts)
            .join(key.select("nid"), "nid", "anti")
            .select("nid", "cell", F.col("db").cast("long").alias("db"))
            .localCheckpoint()
        )
        clustered(kept_ids, "db", "nid").write.partitionBy("db").parquet(
            f"{store.vdir(v)}/ids"
        )
        rows = store.carry_except(store.state_rows(), "vectors", set(cell_parts))
        rows = store.carry_except(rows, "ids", set(db_parts))
        rows += [("vectors", p, v) for p in store.written_parts(v, "vectors")]
        rows += [("ids", p, v) for p in store.written_parts(v, "ids")]
        store.commit(v, rows)
    return n_del


def ivf_maint_pending(spark, index_path: str) -> bool:
    """Whether uncommitted staging debris from a crashed maintenance
    op exists (the version dir after the last committed one). Under
    the versioned store NOTHING is ever half-applied — the previous
    version stays fully readable and any retry is safe — so this is
    informational, not a repair gate; the next maintenance op clears
    the debris in ``begin()``."""
    store = _ivf_store(spark, index_path)
    cur = store.current()
    if cur is None:
        return False
    return store.fs.exists(store.vdir(cur + 1))


def ivf_retrain_pending(spark, index_path: str) -> bool:
    """Alias of :func:`ivf_maint_pending` kept for API compatibility —
    a crashed retrain leaves the same (harmless) staging debris as any
    other crashed maintenance op."""
    return ivf_maint_pending(spark, index_path)


def topk_ivf_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    qid_col: str,
    qvec_col: str,
    k: int = 10,
    nprobe: int = 4,
    version: int | None = None,
) -> DataFrame:
    """ANN top-k served from a persisted IVF index
    (:func:`build_ivf_index`) — the probe path reads ONLY the
    partitions of the cells any query probes: the probed cell ids (≤
    |queries|·nprobe scalars, computed with the same broadcast-codebook
    ranking the build used) become partition-pruning literals on the
    ``cell`` directory column, and the per-query cell restriction is
    then the usual broadcast equi-join on cell. No corpus scan, no
    assignment pass — both were paid once at build time.

    Bit-identical to :func:`topk_ivf` with the same codebook (verified
    by equality + pruning audit in ``tests/test_lake.py``). Reads one
    consistent committed VERSION of the index (snapshot isolation —
    a concurrent maintenance op can never expose it a mixed state);
    a legacy pre-versioned index is still probeable via its raw dirs.
    """
    import os

    from pyspark.sql import Window

    store = _ivf_store(spark, index_path)
    versioned = store.current() is not None
    # pin ONE version for the whole probe: seeds and vectors must come
    # from the same commit even if a maintenance op lands mid-probe.
    # An explicit ``version`` is the TIME-TRAVEL path: any committed
    # version still inside the GC grace window (``keep_commits``)
    # probes exactly as it did when it was current.
    pin = store.current() if version is None else version
    if versioned:
        seeds = store.read("centroids", version=pin)
    else:
        seeds = spark.read.parquet(os.path.join(index_path, "centroids"))
    cells_arr = _cells_arr(seeds)
    q = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec"))
    probes = q.crossJoin(F.broadcast(cells_arr)).select(
        "qid", "qvec", F.explode(_nearest_cells(F.col("qvec"), nprobe)).alias("cell")
    )
    probes = probes.withColumn("_qn", norm_col(F.col("qvec")))
    # bounded collect: one scalar per (query, probed cell)
    cell_ids = [r.cell for r in probes.select("cell").distinct().collect()]
    # cast the partition column back to the CODEBOOK's cell_id type —
    # cell ids are raw corpus ids under the seeded codebook and may be
    # strings; a hardcoded long cast would NULL them out and the probe
    # would silently return zero rows
    cell_type = dict(seeds.dtypes)["cell_id"]
    if versioned:
        # versioned pruning: the probed cells resolve to EXPLICIT
        # directories of the pinned version — the scan never lists
        # anything else (strictly stronger than partition pruning)
        base = store.read("vectors", parts=_cell_parts(cell_ids), version=pin)
        if base is None:
            base = spark.createDataFrame([], "nid long, nvec array<double>, cell string")
        base = base.select(
            "nid", "nvec", F.col("cell").cast(cell_type).alias("cell")
        )
    else:
        base = (
            spark.read.parquet(os.path.join(index_path, "vectors"))
            .where(F.col("cell").isin(cell_ids))
            .select("nid", "nvec", F.col("cell").cast(cell_type).alias("cell"))
        )
    base = base.withColumn("_nn", norm_col(F.col("nvec")))
    scored = (
        F.broadcast(probes)
        .join(base, "cell")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", _score_expr().alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "score", "rank")
    )


def _cb_literal(cb: list[list[list[float]]]) -> Column:
    """The PQ codebook as a nested array literal column
    (array<array<array<double>>> — m × n_codes × sub). Literal leaves
    keep the expression tree linear in codebook size; the per-row work
    is done by transform/zip_with/aggregate lambdas, NOT by unrolled
    per-code expression chains (which blow up analysis + codegen)."""
    return F.array(
        *[
            F.array(
                *[F.array(*[F.lit(float(x)) for x in code]) for code in book]
            )
            for book in cb
        ]
    )


def _pq_codes(vec_col: str, cb_lit: Column, sub: int) -> Column:
    """codes: array<int> of length m — per subspace, the argmin-L2 code
    (ties toward the lower code id: strict-< fold keeps the earliest).

    The argmin is a single struct fold over (distance, idx) pairs, so
    each subspace distance is computed exactly once per code.
    ``array_position(darr, array_min(darr))`` would inline the distance
    array twice (lambda inlining duplicates subtrees — see
    minhash_signature), doubling the dominant per-vector cost of
    training and encoding."""
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return F.transform(
        cb_lit,
        lambda book, j: F.aggregate(
            F.zip_with(
                F.transform(
                    book,
                    lambda cv: F.aggregate(
                        F.zip_with(
                            F.slice(vd, j * sub + 1, sub),
                            cv,
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                ),
                F.sequence(F.lit(0), F.size(book) - 1),
                lambda d, i: F.struct(d.alias("d"), i.alias("i")),
            ),
            F.struct(
                F.lit(float("inf")).alias("d"), F.lit(-1).cast("int").alias("i")
            ),
            lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc),
        )["i"].cast("int"),
    )


def train_pq_codebooks(
    c: DataFrame,
    m: int,
    n_codes: int,
    n_iters: int,
    train_max: int = 65536,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks with deterministic Lloyd
    iterations over a bounded md5-ordered training sample, driver-side
    (the FAISS training posture: codebooks train on a bounded sample —
    O(train_max · d) floats — while every corpus-sized pass (encode,
    LUT scoring, re-rank) stays distributed. The round-4 form ran each
    Lloyd iteration as a Spark job; with codebook-literal expression
    trees the wall time was dominated by plan construction, not data —
    and at 100 TB a codebook trainer would still sample ~64k vectors,
    so the bounded collect IS the scale design, not a shortcut).

    ``c`` must have columns (nid, nvec). Semantics preserved from the
    distributed form: the sample is the ``train_max`` corpus vectors
    with the lowest md5-of-id (``TakeOrderedAndProject`` — no global
    sort) and the first ``n_codes`` of them are the seeds (identical
    to the old ``_seed_centroids`` choice); assignment is nearest code
    per subspace with ties to the lowest code index (matching the
    ``_pq_codes`` struct-fold ``<``); means are rounded to 6 dp per
    iteration; empty codes keep their previous centroid. Early-stops
    when an iteration moves no centroid after rounding.
    """
    import numpy as np

    rows = (
        c.withColumn("h", F.md5(F.col("nid").cast("string")))
        .orderBy("h")
        .limit(max(train_max, n_codes))
        .select("nvec")
        .collect()
    )
    X = np.asarray([[float(x) for x in r["nvec"]] for r in rows], dtype=np.float64)
    dims = X.shape[1]
    if dims % m != 0:
        raise ValueError(f"dims {dims} not divisible by m={m} subspaces")
    sub = dims // m
    cb: list[list[list[float]]] = []
    # Assignment runs in bounded chunks (ADVICE r5): the naive
    # (train_max × n_codes × sub) difference tensor is ~2 GB at the
    # 65536/256/16 defaults — chunking keeps each temporary at
    # chunk × n_codes × sub floats (~33 MB) while staying BIT-IDENTICAL
    # to the unchunked form (same per-element subtract/square/sum, same
    # argmin tie-to-lowest-index; an ‖x‖²−2xCᵀ+‖C‖² expansion would be
    # cheaper still but rounds differently and could flip near-ties).
    chunk = 4096
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]
        C = np.round(S[:n_codes], 6).copy()
        for _ in range(n_iters):
            assign = np.empty(len(S), dtype=np.int64)
            for s0 in range(0, len(S), chunk):
                blk = S[s0 : s0 + chunk]
                d2 = ((blk[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                assign[s0 : s0 + chunk] = d2.argmin(axis=1)
            new_c = C.copy()
            for code in range(n_codes):
                members = S[assign == code]
                if len(members):
                    new_c[code] = np.round(members.mean(axis=0), 6)
            if np.array_equal(new_c, C):
                break
            C = new_c
        cb.append([[float(v) for v in row] for row in C])
    return cb


def topk_pq(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
    k: int = 10,
    m: int = 16,
    n_codes: int = 16,
    rerank_factor: int = 5,
    train_iters: int = 3,
) -> DataFrame:
    """ANN top-k via Product Quantization (Jégou et al. 2011) — the
    third scale path beside sign-LSH and IVF, and the one that shrinks
    the INDEX: each vector becomes ``m`` one-byte codes (d·4 bytes →
    m bytes), so a 100 TB float corpus scans as a ~400 GB code table
    at m=16.

    Index: the d dims split into ``m`` subspaces; each subspace gets an
    ``n_codes``-entry codebook — md5-seeded then refined with
    ``train_iters`` deterministic Lloyd iterations
    (:func:`train_pq_codebooks`; trained recall 63/80 vs seeded 12/80
    on the test corpus at rerank 3×). Every corpus vector stores its
    nearest code per subspace — one expression-only pass, no shuffle.

    Search: per query, a lookup table of subspace dot products
    (m × n_codes doubles computed once per query row); the approximate
    score is the exact cosine of the query with the RECONSTRUCTED
    vector — subspaces are orthogonal, so ‖recon‖² = Σ_j ‖cb_j[c_j]‖²
    comes from a second (query-independent) LUT and the score costs
    2m array lookups per (query, vector) instead of d multiplies. The
    top ``rerank_factor·k`` PQ candidates are then re-ranked with
    exact cosine — one keyed join back to the float vectors, the
    standard two-stage retrieval shape. Approximate; recall floor and
    re-rank exactness pinned in ``test_similarity.py``.
    """
    from pyspark.sql import Window

    # Cached through training AND the encode/re-rank passes below — the
    # corpus is read 2 + n_iters times by this query. The blocks stay
    # pinned until the session-level sweep (bench.py frees per query);
    # an embedding corpus at m=16 PQ scale is index-sized, not data-sized.
    c = (
        _spread(df)
        .select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"))
        .cache()
    )
    q = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec"))

    cb = train_pq_codebooks(c, m, n_codes, train_iters)
    sub = len(cb[0][0])
    cb_lit = _cb_literal(cb)
    norms_lit = F.array(  # ||cb_j[code]||² (query-independent LUT)
        *[
            F.array(*[F.lit(sum(x * x for x in code_vec)) for code_vec in book])
            for book in cb
        ]
    )
    encoded = c.select("nid", _pq_codes("nvec", cb_lit, sub).alias("codes"))

    qd = F.transform(F.col("qvec"), lambda x: x.cast("double"))
    qn = F.sqrt(
        F.aggregate(qd, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # luts[j][code] = dot(qsub_j, cb[j][code])
    luts = F.transform(
        cb_lit,
        lambda book, j: F.transform(
            book,
            lambda cv: F.aggregate(
                F.zip_with(F.slice(qd, j * sub + 1, sub), cv, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )
    ql = q.select("qid", "qvec", qn.alias("qnorm"), luts.alias("luts"))

    dot_approx = F.aggregate(
        F.zip_with(
            F.col("luts"), F.col("codes"), lambda lut, code: F.element_at(lut, code + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    recon_norm = F.sqrt(
        F.aggregate(
            F.zip_with(
                norms_lit, F.col("codes"), lambda ns, code: F.element_at(ns, code + 1)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = (
        encoded.crossJoin(F.broadcast(ql))
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid", "qvec", "nid",
            (dot_approx / (F.col("qnorm") * recon_norm)).alias("pq_score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("pq_score").desc(), F.col("nid").asc())
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank_factor * k)
        .select("qid", "qvec", "nid")
    )
    # exact re-rank of the shortlist: one keyed join back to the floats
    rerc = c.withColumn("_nn", norm_col(F.col("nvec")))
    rerq = cand.withColumn("_qn", norm_col(F.col("qvec")))
    rer = rerq.join(rerc, "nid").select(
        "qid", "nid", _score_expr().alias("score")
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "score", "rank")
    )


def topk_ivfpq(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 16,
    n_codes: int = 16,
    rerank_factor: int = 5,
    ivf_train_iters: int = 0,
    pq_train_iters: int = 2,
) -> DataFrame:
    """ANN top-k via IVF-PQ — the combined architecture a 100 TB vector
    corpus actually deploys (Jégou et al. 2011; the FAISS IVFPQ shape):
    IVF prunes WHICH vectors are scored (each query touches only
    ``nprobe``/``n_cells`` of the corpus, via one equi-join keyed by
    cell id), PQ compresses WHAT is scored (each candidate costs 2m
    array lookups against a per-query LUT instead of d multiplies, and
    the index stores m bytes per vector instead of 4d). A final exact
    re-rank of the top ``rerank_factor·k`` candidates makes returned
    scores bit-exact cosines.

    Composes the audited building blocks: :func:`train_ivf_centroids` /
    seeded cells (broadcast assignment, no shuffle),
    :func:`train_pq_codebooks` (only codebook floats reach the driver),
    and the LUT scoring of :func:`topk_pq`. Probing all cells with a
    corpus-covering shortlist reproduces brute force exactly — the
    hard-oracle configuration at small scale factors.
    """
    from pyspark.sql import Window

    c = (
        _spread(df)
        .select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"))
        .cache()
    )
    q = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec"))

    # The two codebook trainings are independent (both read only the
    # cached corpus) — submit them from two driver threads so their
    # Spark jobs interleave instead of serializing (measured 7.6→~5.5 s
    # at sf0.1; on a cluster this is plain concurrent job scheduling).
    from concurrent.futures import ThreadPoolExecutor

    def _ivf():
        if ivf_train_iters > 0:
            return train_ivf_centroids(
                df, id_col, vec_col, n_cells=n_cells, n_iters=ivf_train_iters
            )
        return _seed_centroids(c, n_cells)

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_ivf = pool.submit(_ivf)
        f_pq = pool.submit(train_pq_codebooks, c, m, n_codes, pq_train_iters)
        centroids = f_ivf.result()
        cb = f_pq.result()
    cells_arr = _cells_arr(centroids)
    sub = len(cb[0][0])
    cb_lit = _cb_literal(cb)
    norms_lit = F.array(
        *[
            F.array(*[F.lit(sum(x * x for x in code_vec)) for code_vec in book])
            for book in cb
        ]
    )
    # the index: (cell, m one-byte codes) per vector — assignment and
    # encoding in ONE broadcast pass over the corpus, no shuffle
    # (linear-size HOF forms by design: see _assign_nearest/_cb_literal
    # on why k-scaled flat unrolls break Janino)
    encoded = (
        c.crossJoin(F.broadcast(cells_arr))
        .select(
            "nid",
            F.element_at(_nearest_cells(F.col("nvec"), 1), 1).alias("cell"),
            _pq_codes("nvec", cb_lit, sub).alias("codes"),
        )
    )

    qd = F.transform(F.col("qvec"), lambda x: x.cast("double"))
    qn = F.sqrt(F.aggregate(qd, F.lit(0.0), lambda acc, x: acc + x * x))
    luts = F.transform(
        cb_lit,
        lambda book, j: F.transform(
            book,
            lambda cv: F.aggregate(
                F.zip_with(F.slice(qd, j * sub + 1, sub), cv, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )
    probes = (
        q.crossJoin(F.broadcast(cells_arr))
        .select(
            "qid",
            "qvec",
            qn.alias("qnorm"),
            luts.alias("luts"),
            F.explode(_nearest_cells(F.col("qvec"), nprobe)).alias("cell"),
        )
    )

    dot_approx = F.aggregate(
        F.zip_with(
            F.col("luts"), F.col("codes"), lambda lut, code: F.element_at(lut, code + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    recon_norm = F.sqrt(
        F.aggregate(
            F.zip_with(
                norms_lit, F.col("codes"), lambda ns, code: F.element_at(ns, code + 1)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # candidate generation: ONE equi-join keyed by cell — the IVF prune
    scored = (
        F.broadcast(probes)
        .join(encoded, "cell")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid", "qvec", "nid",
            (dot_approx / (F.col("qnorm") * recon_norm)).alias("pq_score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("pq_score").desc(), F.col("nid").asc())
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank_factor * k)
        .select("qid", "qvec", "nid")
    )
    rerc = c.withColumn("_nn", norm_col(F.col("nvec")))
    rerq = cand.withColumn("_qn", norm_col(F.col("qvec")))
    rer = rerq.join(rerc, "nid").select(
        "qid", "nid", _score_expr().alias("score")
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "score", "rank")
    )


def rp_matrix(out_dims: int, in_dims: int) -> list[list[int]]:
    """Deterministic ±1 random-projection matrix: entry (j, i) is the
    parity of the first hex digit of ``md5("rp:j:i")``. Seed-free and
    engine-free — both the Spark expression and the DuckDB oracle
    receive the same literal rows, so no RNG state ever exists."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            for i in range(in_dims)
        ]
        for j in range(out_dims)
    ]


def random_project(
    df: DataFrame, id_col: str, vec_col: str, out_dims: int = 8, in_dims: int | None = None
) -> DataFrame:
    """Signed random projection (Achlioptas 2003): compress a
    ``d``-dim embedding to ``out_dims`` dims with a ±1 matrix —
    distance-preserving (Johnson–Lindenstrauss) dimensionality
    reduction used to shrink ANN index footprints ~8× before bucketing.

    Emits ``(id, proj)`` where ``proj[j] = round(Σ_i v_i·m_ji, 4)``.
    The fold is the sequential ``zip_with``+``aggregate`` HOF pair —
    zero-shuffle, evaluated at the scan; the matrix is a plan literal
    (nothing broadcast, nothing collected). At 100 TB this is the
    embarrassingly-parallel shape: cost is one fused pass over the
    vectors. For much larger (k×d) projections move the matmul into an
    Arrow-batched ``mapInPandas`` (numpy BLAS) — same plan position.
    """
    if in_dims is None:
        # dimension discovery costs one 1-row driver job — pass
        # in_dims explicitly on hot paths (and always on empty frames,
        # where there is no row to infer from)
        row = df.select(vec_col).first()
        if row is None:
            raise ValueError(
                "random_project: empty input and no in_dims given — pass "
                "in_dims explicitly to project an empty frame"
            )
        in_dims = len(row[0])
    m = rp_matrix(out_dims, in_dims)
    v = F.col(vec_col).cast("array<double>")
    proj = F.array(
        *[
            F.round(
                F.aggregate(
                    F.zip_with(v, F.array(*[F.lit(float(c)) for c in row]), lambda a, b: a * b),
                    F.lit(0.0),
                    lambda s, x: s + x,
                ),
                4,
            )
            for row in m
        ]
    )
    return df.select(F.col(id_col), proj.alias("proj"))


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    min_shingles: int = 5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directed near-superset detection: containment C(src→dst) =
    |S(src) ∩ S(dst)| / |S(src)| over n-gram shingle sets — catches a
    small document embedded in a larger one (quotes, re-posts with
    added commentary), which symmetric Jaccard misses because the
    union in its denominator is dominated by the larger doc.

    Same inverted-index plan as :func:`jaccard_pairs` (posting-list
    self-join keyed by shingle hash, never all-pairs); each undirected
    candidate pair then yields up to two directed rows. ``min_shingles``
    suppresses trivial sources (3-token docs are "contained" in
    everything). ``max_doc_freq`` is the same stopword-shingle cap as
    :func:`jaccard_pairs` — boilerplate-hot shingles are dropped from
    candidate generation only, candidates verify exactly against full
    arrays, recall-only trade, default None keeps the historical plan
    bit-for-bit. (No length filter in the capped candidate join: for
    t ≤ 1, one direction's size condition nb ≥ t·na always holds when
    na ≤ nb, so there is nothing to prune on — use
    :func:`containment_pairs_prefix` for the prefix-filtered scale
    path.) Output: (src, dst, containment), containment ≥ threshold,
    4 dp.
    """
    sh = _shingle_frame(df, id_col, text_col, n)
    if max_doc_freq is not None:
        # capped path references sh from the posting, the df aggregate
        # and both verify sides — shingle once, not per reference
        sh = _pin_once(sh)
    posting = sh.select(
        "id", "n_sh", F.explode(F.transform("shingles", lambda s: F.xxhash64(s))).alias("s")
    )
    if max_doc_freq is not None:
        posting = _join_spread(_cap_postings(posting, max_doc_freq), "s")
        a, b = posting.alias("a"), posting.alias("b")
        cand = (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        return _verify_containment(cand, sh, threshold, min_shingles)
    a, b = posting.alias("a"), posting.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _directed_rows(inter, threshold, min_shingles)


def _directed_rows(
    inter: DataFrame, threshold: float, min_shingles: int
) -> DataFrame:
    """Emit the two directed containment rows of each undirected
    (id_a, id_b, inter, na, nb) pair in ONE pass: explode a 2-element
    struct array instead of UNIONing two projections of the pair
    frame. The union form re-evaluated the ENTIRE upstream pipeline
    (candidate join + exact verify, or posting self-join + count
    aggregate) once per direction — the r13 'before' AQE plan for
    dedup_containment_capped carried the whole subtree twice (27
    parquet scans of one table); exploding emits both directions from
    a single evaluation. Same expressions, same rows, only the plan
    shape changes (pinned by the DuckDB oracles)."""
    pair = F.explode(
        F.array(
            F.struct(
                F.col("id_a").alias("src"),
                F.col("id_b").alias("dst"),
                F.round(F.col("inter") / F.col("na"), 4).alias("containment"),
                F.col("na").alias("n_src"),
            ),
            F.struct(
                F.col("id_b").alias("src"),
                F.col("id_a").alias("dst"),
                F.round(F.col("inter") / F.col("nb"), 4).alias("containment"),
                F.col("nb").alias("n_src"),
            ),
        )
    )
    return (
        inter.select(pair.alias("r"))
        .select("r.src", "r.dst", "r.containment", "r.n_src")
        .where((F.col("containment") >= threshold) & (F.col("n_src") >= min_shingles))
        .select("src", "dst", "containment")
    )


def _verify_containment(
    cand: DataFrame, sh: DataFrame, threshold: float, min_shingles: int
) -> DataFrame:
    """Exact directed verification of undirected candidate pairs
    (id_a < id_b) against the full shingle arrays: one array_intersect
    per pair, then up to two directed rows — identical output
    expressions to :func:`containment_pairs`'s uncapped tail."""
    av = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"),
                   F.col("n_sh").alias("na"))
    bv = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"),
                   F.col("n_sh").alias("nb"))
    # the per-pair array_intersect runs in THIS frame's stage (the
    # shingle sides broadcast), and AQE coalesces the candidate
    # aggregate's exchange on its shuffle BYTES — blind to the verify
    # compute downstream (same failure class _join_spread guards at
    # join inputs; r13 paired A/B: capped containment 7.01->4.55 s,
    # containment-prefix 9.08->4.09 s — see OPTIMIZATION_r13.md §7)
    verified = (
        _join_spread(cand, "id_a").join(av, "id_a")
        .join(bv, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .where(F.col("inter") > 0)
    )
    return _directed_rows(verified, threshold, min_shingles)


def containment_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    min_shingles: int = 5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directed containment pairs — identical output to
    :func:`containment_pairs` — via PREFIX FILTERING, the scale path
    the plain inverted index lacks (r10 verdict: containment had no
    capped/prefix variant at all).

    Containment C(src→dst) ≥ t means overlap o ≥ ceil(t·|src|). By
    the pairwise prefix theorem (Chaudhuri et al. 2006; the same
    result :func:`jaccard_pairs_prefix` builds on), two sets in a
    shared canonical order with overlap ≥ o must intersect within
    their first ``|A|−o+1`` / ``|B|−o+1`` elements. The required
    overlap depends only on the SOURCE's size, so the join is
    asymmetric:

    * **probe side** = each doc as a potential src: its first
      ``na − ceil(t·na) + 1`` canonically-ordered (rarest-first)
      shingles — the same (1−t)·na+1 prefix volume as the Jaccard
      prefix;
    * **index side** = full posting lists (dst's prefix bound
      ``nb − ceil(t·min_shingles) + 1`` is ≈ nb for any useful
      ``min_shingles`` — indexing the full set costs the same and
      keeps the theorem's conditions trivially);
    * **size filter** in the join: ``nb ≥ t·na`` (overlap ≤ nb),
      exact micro-unit integers;
    * **exact verify**: surviving (src, dst) candidates re-join the
      raw arrays once; both directions are emitted from one
      intersect, so the reverse direction rides along for free.

    Skew posture: the probe side carries only rarest-first prefixes,
    so a boilerplate-hot index key meets few probe rows — the hot-key
    cell is |posting|×|probes carrying it in-prefix|, not |posting|².
    ``max_doc_freq`` additionally caps the INDEX side (recall-only
    trade, exact verify unaffected) for corpora where boilerplate
    dominates whole prefixes. Never all-pairs; every shuffle keyed.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t_micro = round(threshold * 1_000_000)
    sh, canon = _canonical_shingles(df, id_col, text_col, n)
    ceil_tn = F.expr(f"(n_sh * {t_micro} + 999999) div 1000000")
    probe = (
        canon.where(F.col("n_sh") >= min_shingles)
        .select(
            F.col("id").alias("src_id"),
            F.col("n_sh").alias("na"),
            F.explode(
                F.slice("sorted_sh", 1, (F.col("n_sh") - ceil_tn + 1).cast("int"))
            ).alias("s"),
        )
        .select("src_id", "na", F.xxhash64("s").alias("s"))
    )
    index = sh.select(
        F.col("id").alias("dst_id"),
        F.col("n_sh").alias("nb"),
        F.explode(F.transform("shingles", lambda s: F.xxhash64(s))).alias("s"),
    )
    if max_doc_freq is not None:
        index = _cap_postings(index, max_doc_freq)
    # exploding-join guard: pin the candidate join's partitioning
    # (AQE-coalesce-exempt) — see _join_spread
    probe = _join_spread(probe, "s")
    index = _join_spread(index, "s")
    cand = (
        probe.join(
            index,
            (probe["s"] == index["s"])
            & (probe["src_id"] != index["dst_id"])
            # overlap ≥ ceil(t·na) needs nb ≥ t·na (overlap ≤ nb)
            & (index["nb"] * 1_000_000 >= probe["na"] * t_micro),
        )
        # normalize to undirected (id_a < id_b) so the exact verify
        # intersects each pair once and emits both directions
        .select(
            F.least("src_id", "dst_id").alias("id_a"),
            F.greatest("src_id", "dst_id").alias("id_b"),
        )
        .distinct()
    )
    return _verify_containment(cand, sh, threshold, min_shingles)


def jaccard_pairs_prefix(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Exact n-gram Jaccard pairs — identical output to
    :func:`jaccard_pairs` — via PREFIX FILTERING (PPJoin family,
    Xiao et al. 2008), the algorithmic upgrade that makes exact set-
    similarity joins feasible at corpus scale:

    * **canonical order**: each doc's shingles are sorted
      rarest-first (global document frequency, ties by value), so the
      head of the list holds its most selective elements;
    * **prefix index**: for Jaccard ≥ t two sets must overlap in at
      least ``ceil(t/(1+t)·(na+nb))`` elements, so a pair must share
      at least one of each side's first ``n - ceil(t·n) + 1``
      elements. Only those prefixes are indexed — posting volume drops
      from Σ|doc| to Σ(1-t)·|doc|+1 (5× fewer at t=0.8);
    * **length filter**: candidates with ``nb < t·na`` are pruned in
      the join condition before any verification;
    * **exact verify**: surviving candidates re-join the full sorted
      arrays once, keyed by the pair, and intersect exactly.

    **Skew guard (r6, edit-distance parity)**: the candidate join's
    EQUALITY key is the compound ``(prefix shingle, length bucket)``,
    not the shingle alone. A bare-shingle key hash-partitions every
    doc sharing one boilerplate prefix shingle into ONE cell, and the
    length filter — a non-equi condition — only prunes row pairs
    *inside* that cell after the quadratic pairing, one-tasking the
    join on a pathological corpus. Buckets are geometric with ratio
    1/t (``floor(ln n / ln(1/t))``): a qualifying pair satisfies
    ``t·na ≤ nb ≤ na/t``, so with pairs oriented smaller-set-first
    each doc posts at EVERY bucket in ``[bkt(n), bkt(floor(n/t))]``
    (≤ 3 values) — the partner's own bucket always lies inside that
    range by monotonicity of the bucket expression over the exact
    integer endpoints, so the cover is complete with no ulp analysis
    of the log load-bearing. Identical-length duplicates still share
    a cell, but there the true output is itself quadratic. Verified adversarially in
    ``tests/test_similarity.py`` (common-prefix, spread-length corpus
    must split across cells with output identical to brute force).

    Plan shape: shingle-keyed DF aggregate (map-side combined),
    re-collect per doc, prefix explode, (prefix, length-bucket)-keyed
    candidate join, pair-keyed verify join. Every shuffle is keyed;
    nothing all-pairs.
    """
    if not 0 < threshold <= 1:
        # t=0 would divide by zero in the geometric bucket ratio (and
        # means "every pair" — an all-pairs join nobody should ask a
        # prefix filter for); t>1 is vacuous
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh, postings, t_micro = _prefix_postings(df, id_col, text_col, n, threshold)
    a, b = postings.alias("a"), postings.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: |larger| ≤ |smaller| / t (else J < t)
            & (F.col("b.n_sh") * t_micro <= F.col("a.n_sh") * 1_000_000)
            & (F.col("a.n_sh") * t_micro <= F.col("b.n_sh") * 1_000_000),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # verify against the RAW shingle arrays — array_intersect needs no
    # canonical order, so the expensive canon subtree (freq join +
    # per-doc sorted re-collect) is evaluated only on the prefix path,
    # not re-run twice more for the verify sides
    av = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"),
                   F.size("shingles").alias("na"))
    bv = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"),
                   F.size("shingles").alias("nb"))
    verified = (
        cand.join(av, "id_a")
        .join(bv, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        verified.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _canonical_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> tuple[DataFrame, DataFrame]:
    """Shared canonical-order construction for the prefix-filter
    family (:func:`jaccard_pairs_prefix`,
    :func:`containment_pairs_prefix`): returns ``(sh, canon)`` where
    ``sh`` is (id, shingles, n_sh) for docs with ≥1 shingle and
    ``canon`` is (id, sorted_sh, n_sh) with shingles in the GLOBAL
    rarest-first total order (document frequency, ties by value) —
    one shingle-keyed join + one doc-keyed agg. ``sh`` is NOT pinned
    (r14, verdict ask #4): the r13 blanket pass pinned it, but the
    pin never recorded a win for `dedup_jaccard_prefix` (flat r13,
    2.88→3.08/4.48) and the r14 paired A/Bs measured the persist pin
    1.23-1.28× SLOWER than no pin on both prefix queries (and the
    checkpoint pin no better than no pin: 4.40/3.22 vs 3.92/3.25 s)
    — columnar/cache materialization of the array<string> shingle
    frame costs more than re-evaluating the projection+shingling
    subtree per reference, which scans only (doc_id, text) and
    parallelizes perfectly. Numbers in OPTIMIZATION_r14.md."""
    sh = _shingle_frame(df, id_col, text_col, n).where(F.col("n_sh") > 0)

    post = sh.select("id", F.explode("shingles").alias("s"))
    freq = post.groupBy("s").agg(F.count(F.lit(1)).alias("df_s"))
    canon = (
        post.join(freq, "s")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("df_s", "s"))).alias("_o"))
        .select(
            "id",
            F.transform("_o", lambda x: x["s"]).alias("sorted_sh"),
            F.size("_o").alias("n_sh"),
        )
    )
    return sh, canon


def _prefix_postings(
    df: DataFrame, id_col: str, text_col: str, n: int, threshold: float
) -> tuple[DataFrame, DataFrame, int]:
    """Posting-list construction for :func:`jaccard_pairs_prefix`,
    exposed separately so the skew-guard tests can assert on the ACTUAL
    candidate cells the join partitions by. Returns
    ``(shingled docs, postings, t_micro)`` where the postings carry
    the compound ``(s, lb)`` equality key: ``s`` the hashed prefix
    shingle, ``lb`` a geometric length bucket. Each doc posts at EVERY
    bucket in the closed range ``[bkt(n), bkt(floor(n/t))]`` — a full
    ``F.sequence`` cover, ≤ 3 distinct values since n/t/n < ratio² —
    and the pair join is a symmetric self-join of this one frame: a
    qualifying pair (na ≤ nb ≤ na/t) always meets because bkt(nb)
    lies in a's posted range by monotonicity alone and b posts
    bkt(nb) itself (the earlier two-endpoint posting left a boundary
    hole when the range spanned three buckets). Keeping both join
    sides the IDENTICAL
    subtree lets AQE reuse one shuffle materialization — an
    asymmetric index/probe split re-evaluated the expensive canonical-
    order subtree and cost ~50% at sf0.1."""
    import math

    sh, canon = _canonical_shingles(df, id_col, text_col, n)
    # Exact-integer threshold arithmetic: t as micro-units so that
    # ceil(t*n) and the length filters never hinge on a float ulp
    # (10 * 0.7 is 7.000000000000001 in IEEE double — ceil'ing THAT
    # shortens the prefix and the filter t*nb <= na flips, both
    # silently dropping qualifying pairs; caught in review).
    t_micro = round(threshold * 1_000_000)

    # geometric length bucket, ratio 1/t. Cover is float-safe: the
    # SAME monotone expression is applied to the exact integer range
    # endpoints, so bucket(nb) for any qualifying nb is inside
    # [bucket(n), bucket(hi)] by monotonicity alone — no ulp analysis
    # of the log is load-bearing.
    log_ratio = math.log(1_000_000 / t_micro) if t_micro < 1_000_000 else None

    def _bkt(n: Column) -> Column:
        if log_ratio is None:  # t == 1: same-length only
            return n.cast("int")
        return F.floor(F.log(n.cast("double")) / F.lit(log_ratio)).cast("int")

    # buckets computed ONCE PER DOC here (pre-explode), not per
    # posting row: lb = own bucket (index key), lb_hi = bucket of the
    # largest qualifying partner size floor(n/t)
    ceil_tn = F.expr(f"(n_sh * {t_micro} + 999999) div 1000000")
    hi = F.expr(f"(n_sh * 1000000) div {t_micro}")
    prefix = canon.select(
        "id",
        "n_sh",
        _bkt(F.col("n_sh")).alias("lb"),
        _bkt(hi).alias("lb_hi"),
        F.explode(
            F.slice("sorted_sh", 1, (F.col("n_sh") - ceil_tn + 1).cast("int"))
        ).alias("s"),
    ).select("id", "n_sh", "lb", "lb_hi", F.xxhash64("s").alias("s"))

    # symmetric postings: every doc posts at EVERY bucket in
    # [bkt(n), bkt(floor(n/t))] — a sequence, not just the two
    # endpoints. The endpoints alone leave a hole when floor(log n /
    # log r) lands on an exact integer boundary and bkt(hi) =
    # bkt(n)+2: a partner whose size buckets into the unposted middle
    # value would need its own simultaneous boundary error to still
    # meet. Posting the full range (≤3 values — n/t/n < r² by
    # construction, +1 boundary slack) makes the cover complete by
    # monotonicity alone, at ≤1 extra posting per doc. This stays ONE
    # subtree used for both join sides (AQE reuses the shuffle).
    postings = prefix.select(
        "id", "n_sh", "s",
        F.explode(F.sequence(F.col("lb"), F.col("lb_hi"))).alias("lb"),
    )
    return sh, postings, t_micro


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefix_len: int = 16,
    max_dist: int = 16,
    max_len_diff: int = 16,
) -> DataFrame:
    """Edit-distance (Levenshtein) near-dup pairs via prefix blocking.

    The character-level member of the dedup family: catches small
    in-place edits (typo fixes, token swaps, template fills) that
    set-based measures (Jaccard/minhash) under-weight on short docs.
    All-pairs Levenshtein is O(n² · len²) — never viable; instead
    candidates are blocked on the first ``prefix_len`` chars of the
    whitespace-normalized text (an equi-join key, so the self-join
    shuffles once per side on the block hash) plus a length filter
    (|len(a)-len(b)| > max_dist implies dist > max_dist, so
    ``max_len_diff`` >= ``max_dist`` loses nothing within a block).
    The distance itself runs banded: the threshold form of
    ``levenshtein`` abandons a pair at O(max_dist · len) once the
    distance provably exceeds the bound.

    Blocking recall caveat (documented, by design): an edit inside the
    first ``prefix_len`` chars moves a doc to a different block — the
    same prefix-locality trade every blocked record-linkage system
    makes.

    Skew guard (enforced, not advisory): the join key is
    ``(prefix, length-bucket)`` — a corpus-wide boilerplate prefix no
    longer collapses into ONE quadratic block; it splits across length
    buckets of width ``max(max_len_diff, 1)``. Since
    ``|len(a)-len(b)| <= max_len_diff`` implies the two buckets differ
    by at most 1, the probe side explodes to its 3 adjacent buckets and
    the join stays a pure equi-join (no pair can match twice: the build
    bucket is fixed and the 3 probe values are distinct). Cost: 3× one
    join input, bought back many times over on any skewed corpus;
    pairing with ``scrub_boilerplate`` upstream remains good hygiene
    but is no longer load-bearing.

    Emits ``(doc_a, doc_b, dist)`` with ``doc_a < doc_b``.
    """
    # |len(a)-len(b)| <= dist always, so a length filter tighter than
    # max_dist would silently drop TRUE pairs — clamp instead of trust
    max_len_diff = max(max_len_diff, max_dist)
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    # spread BEFORE normalizing: the per-doc regex is the dense work
    # here (profiled: it dominates, not the blocked levenshtein), and a
    # single-file scan would run it one-core on both join sides
    lw = max(max_len_diff, 1)
    n = (
        _spread(df.select(F.col(id_col).alias("doc"), F.col(text_col)))
        .select("doc", norm.alias("t"))
        .withColumn("blk", F.substring("t", 1, prefix_len))
        .withColumn("lbkt", (F.length("t") / lw).cast("int"))
    )
    a = n.alias("a")
    b = n.withColumn(
        "pbkt",
        F.explode(F.array(F.col("lbkt") - 1, F.col("lbkt"), F.col("lbkt") + 1)),
    ).alias("b")
    cand = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.lbkt") == F.col("b.pbkt"))
        & (F.col("a.doc") < F.col("b.doc"))
        & (
            F.abs(F.length(F.col("a.t")) - F.length(F.col("b.t")))
            <= max_len_diff
        ),
    )
    return (
        # no extra exchange needed post-join: the join inherits the
        # spread scan's parallelism, and the pushed-down dist filter
        # evaluates inside the join anyway
        cand.select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.levenshtein(F.col("a.t"), F.col("b.t"), max_dist).alias("dist"),
        )
        # threshold form returns -1 when the bound is exceeded
        .where((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


def assign_to_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
) -> DataFrame:
    """Nearest-centroid (highest-cosine) assignment against a
    broadcast centroid set; ties go to the LOWEST centroid id.

    One scan pass plus one map-side-combined ``min_by`` shuffle — no
    per-vector sort window. The order key is struct(-cos, cid): the
    negation lives on the (always numeric) cosine, not on the id, so
    any ORDERABLE cid type works — negating a string cid would coerce
    to NULL under non-ANSI Spark and silently randomize tie-breaks.
    A NaN cosine (zero-norm centroid: 0/0) maps to -Infinity in the
    negated key, preserving sort-NaN-as-greatest-cos — the ordering
    both SQL engines give ``ORDER BY cos DESC`` (a bare ``-cos``
    would flip it, since -NaN is still NaN and NaN sorts LAST under
    min). Returns (vid, cid, vec). Shared by
    :func:`semantic_dedup_keep` and the registry's k-means epoch.
    """
    v = _spread(df).select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    c = centroids.select(
        F.col(centroids.columns[0]).alias("cid"),
        F.col(centroids.columns[1]).alias("cvec"),
    )
    # norms once per vector / per centroid pre-join; the scored stage
    # pays only the dot (see norm_col / dot_col)
    v = v.withColumn("_vn", norm_col(F.col("vec")))
    c = c.withColumn("_cn", norm_col(F.col("cvec")))
    cos = dot_col(F.col("vec"), F.col("cvec")) / (F.col("_vn") * F.col("_cn"))
    scored = v.crossJoin(F.broadcast(c)).select(
        "vid", "vec", "cid", cos.alias("cos")
    )
    neg_cos = F.when(
        F.isnan(F.col("cos")), F.lit(float("-inf"))
    ).otherwise(-F.col("cos"))
    return (
        scored.groupBy("vid")
        .agg(
            F.min_by(
                F.struct(F.col("cid"), F.col("vec")),
                F.struct(neg_cos.alias("neg_cos"), F.col("cid")),
            ).alias("best")
        )
        .select(
            "vid",
            F.col("best.cid").alias("cid"),
            F.col("best.vec").alias("vec"),
        )
    )


def semantic_dedup_keep(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    threshold: float = 0.3,
    pair_grid: int = 4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space, compute pairwise cosine ONLY within each cluster,
    and drop semantic duplicates — the embedding-level member of the
    dedup family that catches paraphrases exact/minhash misses.

    Deterministic keep rule (the paper keeps one doc per epsilon-ball;
    this uses the id-ordered variant so any engine reproduces it): a
    doc is DROPPED iff a lower-id doc in the same cluster has cosine
    >= ``threshold`` with it. Emits the kept rows ``(id, cid)``.

    Scale shape — the whole point of SemDeDup: the pairwise pass is
    blocked by cluster id (one equi-join shuffle per side), never
    corpus all-pairs; the assignment is a broadcast centroid pass plus
    one map-side-combined ``max_by`` shuffle (no per-vector sort
    window); the drop set joins back as one anti join. With k clusters
    the candidate volume is ~n²/k, and k scales with corpus size
    exactly as in the paper (they use 50k clusters for LAION).

    ``pair_grid`` grid-salts the within-cluster self-join: each side
    splits into ``g`` deterministic id-hash groups, and block (i, j)
    pairs group-i left rows with group-j right rows — one cluster fans
    out over g² tasks instead of one, the mega-cluster skew guard for
    the k < parallelism regime. Every unordered pair lands in exactly
    ONE block (the mirrored (gy, gx) copy dies on the ia < ib filter),
    so the output — and therefore the oracle hash — is independent of
    g. Replication is g× per side; size g ≈ ceil(parallelism / k) and
    set g=1 when k already exceeds cluster parallelism (LAION regime).

    ``centroids`` is a (cid, cvec) DataFrame — seed deterministically
    or train with :func:`train_ivf_centroids`.
    """
    g = max(1, int(pair_grid))
    assigned = assign_to_centroids(df, id_col, vec_col, centroids)
    # one norm per vector, shared by BOTH sides of the pair join
    assigned = assigned.withColumn("_nr", norm_col(F.col("vec")))
    grp = F.pmod(F.xxhash64(F.col("vid"), F.lit("semgrid")), F.lit(g))
    par = df.sparkSession.sparkContext.defaultParallelism
    # EXPLICIT keyed repartition before the pair join: the join input
    # is only ~n rows and AQE's size-based coalescing would collapse
    # it to one partition — blind to the O(Σ|cluster|²) pair blowup
    # INSIDE the join stage, which then runs one-core. A user
    # repartition is exempt from AQE coalescing, so the pair
    # generation + cosine filter keep cluster-wide parallelism.
    na = [F.col("_nr").alias("na")]
    nb = [F.col("_nr").alias("nb")]
    a = assigned.select(
        F.col("vid").alias("ia"), F.col("vec").alias("va"), "cid",
        grp.alias("gi"), *na,
        F.explode(F.sequence(F.lit(0), F.lit(g - 1))).alias("gj"),
    ).repartition(par, "cid", "gi", "gj")
    b = assigned.select(
        F.col("vid").alias("ib"), F.col("vec").alias("vb"),
        F.col("cid").alias("cidb"), grp.alias("gjb"), *nb,
        F.explode(F.sequence(F.lit(0), F.lit(g - 1))).alias("gib"),
    ).repartition(par, "cidb", "gib", "gjb")
    pair_cos = dot_col(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    dropped = (
        a.join(
            b,
            (F.col("cid") == F.col("cidb"))
            & (F.col("gi") == F.col("gib"))
            & (F.col("gj") == F.col("gjb"))
            & (F.col("ia") < F.col("ib")),
        )
        .where(F.round(pair_cos, 4) >= threshold)
        .select(F.col("ib").alias("vid"))
        .distinct()
    )
    return (
        assigned.join(dropped, "vid", "left_anti")
        .select(F.col("vid").alias(id_col), "cid")
    )
