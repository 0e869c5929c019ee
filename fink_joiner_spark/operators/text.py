"""Text-analysis operators for large-scale training-data pipelines:
tokenization, token counting, quality scoring, language ID,
fingerprinting.

All are pure column expressions (whole-stage codegen, no Python in the
hot path) and scale linearly: no shuffles except the final aggregates
callers add. Every function has an exact DuckDB-SQL equivalent so the
correctness gate can hash-match results.

Hashing note: cross-engine-deterministic hashes use a polynomial fold
over unicode codepoints (``acc*31 + codepoint mod 1e9+7``) — the one
hash family expressible identically in Spark SQL and DuckDB SQL.
Spark-only paths may use ``xxhash64`` (faster, JVM-side).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

MOD = 1_000_000_007

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Order = tie-break precedence.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "is", "in", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "para", "en", "que"],
}
CJK_PATTERN = "[\\u4e00-\\u9fff]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased text (split + filter)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish tokenization: word pieces OR single non-space symbols —
    the regex analog of a byte-pair pretokenizer's coarse pass."""
    return F.regexp_extract_all(F.lower(text), F.lit(r"(\w+|[^\w\s])"), 1)


def token_count(text: Column) -> Column:
    return F.size(bpe_ish_tokens(text))


def char_poly_hash(s: Column) -> Column:
    """Cross-engine rolling hash: fold codepoints, acc*31+c mod 1e9+7.

    O(len²) as substring indexing — acceptable for document-sized
    strings; the Spark-only fast path is ``xxhash64``.
    """
    # split('', s) yields one array element per character — an O(len)
    # pass, vs O(len²) per-index substr. (BMP-only parity with the
    # DuckDB oracle's per-character indexing; the corpus is BMP.)
    codes = F.transform(F.split(s, ""), lambda c: F.ascii(c))
    fold = F.aggregate(codes, F.lit(0).cast("long"), lambda acc, c: (acc * 31 + c) % MOD)
    return F.when(F.length(s) > 0, fold).otherwise(F.lit(0).cast("long"))


def stopword_hits(toks: Column, lang: str) -> Column:
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(words, t)))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: CJK chars → zh, else argmax of stopword
    hits with fixed precedence (en > de > fr > es), 'und' if no hits."""
    toks = tokens(text)
    s = {lang: stopword_hits(toks, lang) for lang in STOPWORDS}
    best = F.greatest(*s.values())
    out = F.when(text.rlike(CJK_PATTERN), F.lit("zh")).when(best == 0, F.lit("und"))
    for lang in STOPWORDS:  # dict order == tie-break precedence
        out = out.when(s[lang] == best, F.lit(lang))
    return out.otherwise(F.lit("und"))


def quality_features(df: DataFrame, text_col: str, out_prefix: str = "") -> DataFrame:
    """Quality-scoring features: token count, mean token length,
    punctuation ratio, stopword ratio — the standard cheap filters of a
    pretraining data pipeline. Ratios rounded to 4dp (cross-engine
    float parity)."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    chars_nospace = F.length(F.regexp_replace(t, r"\s", ""))
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    p = out_prefix
    return df.select(
        "*",
        n_tok.alias(f"{p}n_tokens"),
        F.round(chars_nospace / n_tok, 4).alias(f"{p}mean_token_len"),
        F.round(n_punct / F.length(t), 4).alias(f"{p}punct_ratio"),
        F.round(stopword_hits(toks, "en") / n_tok, 4).alias(f"{p}stopword_ratio"),
    )


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint: md5 of whitespace-normalized lowercase text."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def fingerprint_rolling(text: Column) -> Column:
    """Order-sensitive rolling fingerprint (polynomial over codepoints)."""
    return char_poly_hash(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def duplicated_segment_stats(
    df: DataFrame, id_col: str, text_col: str, seg_tokens: int = 10
) -> DataFrame:
    """Exact-substring dedup statistics at token-segment granularity.

    Splits each doc into consecutive NON-overlapping ``seg_tokens``-token
    segments (trailing partial dropped), computes each segment's corpus
    document-frequency, and reports per doc how much of it is duplicated
    text — the segment-level analog of suffix-array exact-substring
    dedup (Lee et al. 2022), whose output drives "drop docs that are
    mostly boilerplate" filters.

    Emits ``(doc_id, n_segments, n_dup_segments, dup_ratio)`` for every
    doc with ≥1 full segment. Plan: one explode, ONE groupBy(segment)
    for doc-frequency (map-side partial agg), one keyed join back, one
    groupBy(doc). Segments are joined by 64-bit xxhash, not the string.
    """
    toks = tokens(F.col(text_col))
    n_seg = F.floor(F.size(toks) / seg_tokens).cast("int")
    segs = F.when(
        n_seg >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_seg),
                lambda k: F.concat_ws(
                    " ", F.slice(toks, (k - 1) * seg_tokens + 1, seg_tokens)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = df.select(F.col(id_col).alias("doc_id"), F.explode(segs).alias("seg")).select(
        "doc_id", F.xxhash64("seg").alias("seg")
    )
    freq = ex.groupBy("seg").agg(F.count(F.lit(1)).alias("doc_freq"))
    dup = F.sum(F.when(F.col("doc_freq") >= 2, 1).otherwise(0)).cast("long")
    return (
        ex.join(freq, "seg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            dup.alias("n_dup_segments"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_dup_segments",
            F.round(F.col("n_dup_segments") / F.col("n_segments"), 4).alias("dup_ratio"),
        )
    )


def top_ngrams(df: DataFrame, text_col: str, n: int = 2, k: int = 50) -> DataFrame:
    """Corpus-wide top-k n-gram frequencies (vocabulary/boilerplate
    analysis): count every n-gram OCCURRENCE (not per-doc distinct),
    rank by (count desc, ngram asc) for a deterministic cut.

    Plan: explode → ONE partial-agg groupBy → global top-k, which Spark
    plans as TakeOrderedAndProject (per-partition heaps + driver merge
    of k rows), never a full sort of the n-gram table.
    """
    toks = tokens(F.col(text_col))
    m = F.size(toks) - (n - 1)
    acc = F.slice(toks, 1, m)
    for j in range(2, n + 1):
        acc = F.zip_with(acc, F.slice(toks, j, m), lambda a, b: F.concat_ws(" ", a, b))
    grams = F.when(F.size(toks) >= n, acc).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Split documents into overlapping character chunks (RAG/training
    prep): chunk k covers ``[k*stride, k*stride + size)``; the final
    chunk may be shorter; empty docs yield no chunks.

    Fully declarative — ``sequence`` + ``explode`` + ``substring`` stay
    in codegen, and the explode multiplies rows *after* the scan so
    column pruning still reaches parquet. At 100 TB the output is
    ~len/stride× the input: chunk immediately before a repartition on
    the downstream key so the fan-out never concentrates on one task.
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    n_last = F.floor((F.length(text_col) - 1) / stride).cast("int")
    return (
        df.filter(F.length(text_col) > 0)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), n_last)).alias("chunk_idx"),
            F.col(text_col),
        )
        .select(
            id_col,
            "chunk_idx",
            F.substring(
                F.col(text_col), F.col("chunk_idx") * stride + 1, size
            ).alias("chunk"),
        )
    )


def vocab_topn(
    df: DataFrame, text_col: str, n: int = 1000
) -> DataFrame:
    """Frequency vocabulary: the ``n`` most frequent whitespace tokens
    with dense 0-based ids. (token, freq, token_id); rank order is
    (freq desc, token asc) so the cut and the ids are deterministic.

    Plan: explode → hash-aggregate count (map-side combine) → global
    top-n via TakeOrderedAndProject (no full sort); the id assignment
    windows over only the n surviving rows. At 100 TB the counts
    shuffle is the only full-data movement; the vocab itself is
    driver/broadcast-sized by construction.
    """
    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(n)
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    return counts.withColumn(
        "token_id", (F.row_number().over(w) - 1).cast("long")
    )


def docs_to_ids(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
) -> DataFrame:
    """Map documents to token-id sequences against a ``vocab``
    (token, token_id) table — the tokenize-and-numericalize step of a
    training-data pipeline. OOV tokens map to -1.

    Output: (doc_id, n_tokens, n_oov, ids_csv) where ids_csv is the
    comma-joined id sequence in document order (a string column so the
    cross-engine value hash is stable; a production pipeline would keep
    the array<long>).

    Plan: posexplode the token stream, broadcast-join the vocab (it is
    top-N-bounded by construction), re-assemble per doc with an
    order-pinned collect. One shuffle keyed by doc id; the vocab join
    is map-side. Docs with zero tokens are dropped (inner explode),
    matching the oracle.
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "token"),
    )
    mapped = toks.join(F.broadcast(vocab.select("token", "token_id")), "token", "left")
    ids = F.coalesce(F.col("token_id"), F.lit(-1))
    return (
        mapped.select(id_col, "pos", ids.alias("tid"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("tid") < 0, 1).otherwise(0)).alias("n_oov"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("tid")))
                    ),
                    lambda s: s["tid"].cast("string"),
                ),
                ",",
            ).alias("ids_csv"),
        )
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF
    (tf × ln(N/df)) — the keyword-extraction / topic-signal pass of a
    curation pipeline.

    Output: (id, term, tf, tfidf, rnk), rnk 1..k per doc. The score is
    integerized to micropoints (floor(x·1e6 + 0.5)) BEFORE ranking so
    the per-doc cut is integer-deterministic cross-engine; ties break
    on term asc.

    Plan: explode → (doc, term) hash-agg (shuffle 1, map-side combine)
    → term doc-frequency agg (shuffle 2 over the already-aggregated
    (doc, term) rows — |docs|·|distinct terms per doc|, not token
    occurrences) → keyed join tf⋈df on term (shuffle reuses 2's
    partitioning on the df side) → per-doc window top-k (shuffle 3,
    keyed by doc). N and the df table are aggregates — the only
    full-data movement is shuffle 1. All expressions codegen-resident.
    """
    tf = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).cast("double").alias("n_docs"))
    micro = F.floor(
        F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * 1000000.0 + 0.5
    ).cast("long")
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(id_col, "term", "tf", micro.alias("micro"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("micro").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            id_col,
            "term",
            "tf",
            (F.round(F.col("micro") / 1000000.0, 6) + 0.0).alias("tfidf"),
            "rnk",
        )
    )


def pmi_bigrams(
    df: DataFrame, text_col: str, min_count: int = 5, k: int = 50
) -> DataFrame:
    """Top-``k`` bigram collocations by pointwise mutual information:
    pmi(w1,w2) = ln( p(w1 w2) / (p(w1)·p(w2)) ), occurrence counts with
    a ``min_count`` support floor — the phrase-mining / tokenizer-merge
    pass of a corpus pipeline.

    Output: (bigram, c_xy, pmi) ranked by (pmi desc, bigram asc), with
    pmi integerized to micropoints before the cut (cross-engine
    deterministic, same scheme as BM25). Totals use ALL occurrences;
    the support floor only gates candidates.

    Plan: bigram + unigram counts are two explode→hash-agg passes over
    the token stream (map-side combine; the bigram agg shuffles only
    distinct bigrams). Corpus totals are 1-row aggregates broadcast via
    crossJoin; the two unigram joins are keyed shuffles on w1/w2
    (aggregate-sized inputs, AQE may broadcast them). Final top-k plans
    as TakeOrderedAndProject — no full sort.
    """
    toks = tokens(F.col(text_col))
    m = F.size(toks) - 1
    grams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, m),
            F.slice(toks, 2, m),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))

    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = uni.select(F.sum("c").cast("double").alias("n_uni"))
    bi = (
        df.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    n_bi = bi.select(F.sum("c_xy").cast("double").alias("n_bi"))

    cand = (
        bi.where(F.col("c_xy") >= min_count)
        .withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    # Association order is pinned (and mirrored verbatim in the oracle)
    # so both engines round the same double.
    ratio = (F.col("c_xy") * F.col("n_uni") * F.col("n_uni")) / (
        F.col("n_bi") * F.col("c_x") * F.col("c_y")
    )
    micro = F.floor(F.log(ratio) * 1000000.0 + 0.5).cast("long")
    return (
        cand.select("bigram", "c_xy", micro.alias("micro"))
        .orderBy(F.col("micro").desc(), F.col("bigram").asc())
        .limit(k)
        .select(
            "bigram",
            "c_xy",
            (F.round(F.col("micro") / 1000000.0, 6) + 0.0).alias("pmi"),
        )
    )


def scrub_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 10,
    min_df: int = 2,
) -> DataFrame:
    """Remove boilerplate segments and reassemble the document — the
    curation ACTION on top of :func:`duplicated_segment_stats`'s
    diagnostics (CCNet-style paragraph dedup, here at token-segment
    granularity because the synthetic docs have no newlines).

    A doc is split into consecutive non-overlapping ``seg_tokens``-token
    segments plus one trailing partial segment; a FULL segment whose
    corpus document-frequency (distinct docs containing it) reaches
    ``min_df`` is boilerplate and is dropped; the survivors are
    re-joined in original order. Partial trailing segments are never
    scrubbed (a short tail is not evidence of boilerplate).

    Emits ``(doc_id, n_segments, n_scrubbed, clean_text)``.

    Plan: one explode, one distinct+groupBy(segment) for DF (map-side
    partial agg on segment), one keyed join back, one groupBy(doc) with
    a doc-sized ``collect_list`` rebuild — every shuffle is keyed by
    segment or doc id, nothing is corpus-wide. At 100 TB the join key
    would be ``xxhash64(seg)`` instead of the string (same plan shape);
    kept as the string here for cross-engine oracle parity.
    """
    toks = tokens(F.col(text_col))
    n_full = F.floor(F.size(toks) / seg_tokens).cast("int")
    n_rem = (F.size(toks) - F.col("_n_full") * seg_tokens).cast("int")

    full_segs = F.when(
        F.col("_n_full") >= 1,
        F.transform(
            F.sequence(F.lit(1), F.col("_n_full")),
            lambda k: F.concat_ws(
                " ", F.slice(F.col("_toks"), (k - 1) * seg_tokens + 1, seg_tokens)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    rem_seg = F.when(
        n_rem > 0,
        F.concat_ws(" ", F.slice(F.col("_toks"), F.col("_n_full") * seg_tokens + 1, n_rem)),
    )

    base = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        .withColumn("_toks", toks)
        .withColumn("_n_full", n_full)
        .withColumn("_segs", F.when(rem_seg.isNotNull(), F.concat(full_segs, F.array(rem_seg))).otherwise(full_segs))
    )
    ex = base.select(
        "doc_id",
        "_n_full",
        F.posexplode("_segs").alias("pos", "seg"),
    ).withColumn("is_full", F.col("pos") < F.col("_n_full"))
    # pinned: the exploded segment frame feeds both the doc-frequency
    # aggregate and the scrub-mark join, and each reference re-ran the
    # tokenize + segment-slice subtree (similarity._pin_once)
    from fink_joiner_spark.operators.similarity import _pin_once

    ex = _pin_once(ex)

    freq = (
        ex.where("is_full")
        .select("doc_id", "seg")
        .distinct()
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    marked = ex.join(freq, "seg", "left").withColumn(
        "scrub", F.col("is_full") & (F.coalesce(F.col("doc_freq"), F.lit(0)) >= min_df)
    )
    kept = F.sort_array(
        F.collect_list(F.when(~F.col("scrub"), F.struct("pos", "seg")))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("scrub").cast("long")).alias("n_scrubbed"),
            kept.alias("_kept"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_scrubbed",
            F.concat_ws(" ", F.transform("_kept", lambda s: s.seg)).alias("clean_text"),
        )
    )


def source_divergence(
    df: DataFrame,
    group_col: str,
    text_col: str,
    vocab_k: int = 100,
) -> DataFrame:
    """Per-group KL divergence KL(P_g || Q) of token distributions
    against the corpus distribution, over the corpus top-``vocab_k``
    vocabulary — the standard "which source/language drifted from the
    mixture" corpus-QA statistic (domain-mismatch detection).

    Both distributions are restricted to the shared vocabulary and use
    raw count ratios (no smoothing): every term present in a group
    contributes ``p·ln(p/q)``; vocabulary terms absent from a group
    contribute 0 (KL over the support of P).

    Cross-engine determinism: each term's contribution is integerized
    to micropoints BEFORE the sum (integers add exactly in any order —
    same scheme as the unigram-LM/BM25 scorers), and the log argument
    is the pinned product form ``(c·Nq)/(n_g·cq)``.

    Plan: one token explode feeds BOTH the corpus vocab (aggregate-
    sized, TakeOrderedAndProject) and the per-group counts; the vocab
    and the 1-row totals broadcast; shuffles are keyed by term then by
    group — nothing corpus-wide moves.
    """
    tok = df.select(F.col(group_col).alias("grp"), F.explode(tokens(F.col(text_col))).alias("term"))
    corpus = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cq"))
    vocab = corpus.orderBy(F.col("cq").desc(), F.col("term").asc()).limit(vocab_k)
    nq = vocab.agg(F.sum("cq").cast("double").alias("nq"))

    per_grp = tok.join(F.broadcast(vocab.select("term", "cq")), "term").groupBy(
        "grp", "term", "cq"
    ).agg(F.count(F.lit(1)).alias("c"))
    n_g = per_grp.groupBy("grp").agg(F.sum("c").cast("double").alias("n_g"))

    contrib = (
        per_grp.join(n_g, "grp")
        .crossJoin(F.broadcast(nq))
        .select(
            "grp",
            F.floor(
                (F.col("c") / F.col("n_g"))
                * F.log((F.col("c") * F.col("nq")) / (F.col("n_g") * F.col("cq")))
                * 1000000.0
                + 0.5
            )
            .cast("long")
            .alias("micro"),
        )
    )
    return contrib.groupBy("grp").agg(
        F.sum("micro").alias("_m"), F.count(F.lit(1)).alias("n_terms")
    ).select(
        "grp",
        "n_terms",
        (F.round(F.col("_m") / 1000000.0, 6) + 0.0).alias("kl"),
    )


def build_postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Positional inverted index: one row per (term, doc, position).

    The storage layout for corpus SEARCH at 100 TB: written out
    bucketed/clustered by ``term`` (``lake.compact(cluster_by='term')``
    or ``skew.write_bucketed``), a query's posting fetch prunes to the
    few files holding its terms, and posting intersections are
    co-located joins. Here the index is built inline; the layout knobs
    are the lake module's.
    """
    toks = tokens(F.col(text_col))
    return df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(toks).alias("pos", "term")
    )


def search_all_terms(postings: DataFrame, terms: list[str]) -> DataFrame:
    """Conjunctive (AND) term search via posting-list intersection:
    docs containing EVERY query term. One aggregate over the pruned
    postings — count distinct matched terms per doc equals the query
    length. The classic search-engine candidate retrieval; shuffle is
    keyed by doc over ONLY the query terms' postings, not the corpus.
    """
    # distinct: the match counter below is count_distinct, so a
    # duplicated query term must not raise the bar (['x','x'] means x)
    terms = sorted(set(terms))
    k = len(terms)
    return (
        postings.where(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.count_distinct("term").alias("_nt"))
        .where(F.col("_nt") == k)
        .select("doc_id")
    )


def search_phrase(postings: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact phrase search on the positional index: adjacent-position
    intersection. Each term i must occur at ``pos - i`` relative to the
    phrase start, so normalizing every posting to its implied start
    position turns the phrase test into a COUNT per (doc, start).

    Emits ``(doc_id, n_hits)`` — docs containing the phrase with their
    occurrence counts. Plan: prune postings to the phrase's terms,
    normalize, one (doc, start)-keyed aggregate, one doc-keyed rollup.
    """
    k = len(phrase)
    spark = postings.sparkSession
    # (term, offset) rows — a term repeated in the phrase contributes
    # one offset per occurrence, so each posting can imply several
    # start positions (broadcast join, phrase-sized)
    offsets = spark.createDataFrame(
        [(t, i) for i, t in enumerate(phrase)], "term string, off int"
    )
    hits = (
        postings.join(F.broadcast(offsets), "term")
        .select("doc_id", "off", (F.col("pos") - F.col("off")).alias("start"))
        .where(F.col("start") >= 0)
        .groupBy("doc_id", "start")
        # count DISTINCT offsets: k distinct offsets at one start ==
        # every phrase slot filled at its exact position
        .agg(F.count_distinct("off").alias("_nt"))
        .where(F.col("_nt") == k)
    )
    return hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))


def token_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Shannon entropy of the word distribution (bits).

    Low entropy flags repetitive / boilerplate / keyword-stuffed docs
    (the degenerate-text filter every corpus-curation recipe carries
    next to the repetition ratio); high entropy at short length flags
    noise. Computed as ``log2(n) - sum(c*log2 c)/n`` over per-word
    counts — two partial-aggregated shuffles ((doc, word) then doc),
    no windows, no Python, so it scales like a wordcount.

    Docs with zero ``\\w+`` word tokens have no defined distribution
    and are omitted (explode of an empty array emits nothing — the
    same contract as the DuckDB oracle's ``unnest``).
    """
    words = df.select(
        id_col,
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\w+"), 0)
        ).alias("tok"),
    )
    counts = words.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.log2("c")).alias("_clg"),
        )
        .select(
            id_col,
            F.col("n_tokens"),
            F.round(F.log2("n_tokens") - F.col("_clg") / F.col("n_tokens"), 3).alias(
                "entropy_bits"
            ),
        )
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 40,
    hash_fn: str = "xx128",
) -> DataFrame:
    """Maximal exactly-duplicated character spans of length >= ``min_len``
    — the true exact-substring dedup pass (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"), at
    character granularity with stride-1 fingerprint grams instead of a
    monolithic suffix array.

    Guarantee: a substring duplicated anywhere in the corpus (across
    docs OR repeated within one doc) is reported iff its length is
    >= ``min_len``, as the maximal span of duplicated-gram start
    positions: every length-``min_len`` window of a longer duplicated
    substring is itself duplicated, so consecutive duplicated-gram
    positions merge into exactly the maximal span.

    Plan: explode start positions, fingerprint each L-gram (see
    ``hash_fn``), ONE groupBy(gram) occurrence count with map-side
    combine, one keyed join back, then a PER-DOC window (lag -> break
    flag -> running span id) to merge adjacent positions. The per-doc
    window partitions on doc_id (bounded by doc length), never
    globally.

    ``hash_fn``:

    * ``"xx128"`` (default, the registered query's path; r13
      optimization — guide §2 "shuffle narrower types" / §1 CPU
      profile) — fingerprint each L-gram with TWO chained xxhash64
      values over the SAME substring column (one substring
      evaluation — CollapseProject keeps a non-cheap expression
      referenced twice in its own project), 128 combined bits —
      random-collision probability ~2⁻¹²⁸·n², negligible at any
      corpus size, but xxhash64 is NOT cryptographic: on an
      ADVERSARIAL corpus crafted XXH64 collisions can mark chosen
      non-duplicate L-grams as duplicated (false-positive spans fed
      into the dedup pass). For untrusted inputs use
      ``hash_fn="md5"`` (preimage-resistant; ADVICE r13).
      Everything downstream of the hash is the
      md5 plan unchanged: ONE groupBy(gram) occurrence count with
      map-side combine, one keyed join back. vs md5 it removes the
      digest's hex-string materialization and shuffles/aggregates two
      LONG columns (16 bytes) instead of a 32-hex-char string —
      measured r13 (bench harness, sf0.1): wall 5.66 -> 1.78 s, cpu
      65.6 -> 14.3 cpu-s, output bit-identical (the oracle groups
      raw substrings and is hash-independent; an xx128 collision at
      bench/driver scale has probability ~2⁻¹²⁸·n²).
    * ``"md5"`` (historical, pinned equal to xx128 by pytest) — md5
      hex fingerprints, 128-bit. The grams subtree is evaluated twice
      (agg side + join side), but the recompute is just explode +
      digest — cheap, and cheaper than materializing. O(chars·min_len)
      digest work and a 32-hex-char shuffle key per position are the
      known costs (exactly what xx128 cuts).
    A double-modulus rolling polynomial was measured and rejected here
    (round 11, sf0.1, warm alternating A/B ×4: 7.1-36.5 s vs md5's
    5.8-12.9 s): it trades the digest work for two per-doc window
    sorts, and sorts dominate digests at stride 1. Winnowing's rolling
    win comes from its ~2/(w+1) selection density, which exact spans
    do not have.

    Emits ``(doc_id, span_start, span_len)``, 1-based start, one row
    per maximal duplicated span.
    """
    from pyspark.sql import Window

    from fink_joiner_spark.operators.similarity import _spread

    if hash_fn not in ("md5", "xx128"):
        raise ValueError(f"hash_fn must be xx128|md5, got {hash_fn!r}")
    d = _spread(df).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("t")
    ).where(F.length("t") >= min_len)
    base = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("t") - (min_len - 1))
        ).alias("pos"),
        "t",
    )
    if hash_fn == "md5":
        grams = base.select(
            "doc_id",
            "pos",
            F.md5(F.substring("t", F.col("pos"), F.lit(min_len))).alias("g"),
        )
        keys = ["g"]
    else:
        # substring in its OWN projection so both hashes read one
        # evaluation (CollapseProject keeps non-cheap exprs
        # referenced more than once); chaining a literal into the
        # second xxhash64 gives an independent-seed second 64 bits
        grams = base.select(
            "doc_id",
            "pos",
            F.substring("t", F.col("pos"), F.lit(min_len)).alias("_s"),
        ).select(
            "doc_id",
            "pos",
            F.xxhash64("_s").alias("g"),
            F.xxhash64(F.lit(1), "_s").alias("g2"),
        )
        keys = ["g", "g2"]
    # groupBy + join-back: evaluates the grams subtree twice, but
    # explode+digest recompute is cheap and the hash aggregate
    # never sorts — the measured winner (see docstring). The dup
    # set after the >=2 filter is small, so AQE broadcasts it; a
    # mega-hot gram stays join-safe (no per-key collect anywhere).
    occ = grams.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_occ"))
    hits = grams.join(occ.where(F.col("n_occ") >= 2), keys).select(
        "doc_id", "pos"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull() | (F.col("pos") - F.lag("pos").over(w) > 1), 1
    ).otherwise(0)
    run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        hits.withColumn("brk", brk)
        .withColumn("span_id", F.sum("brk").over(run))
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + min_len).cast("long").alias("span_len"),
        )
        .select("doc_id", "span_start", "span_len")
    )


def winnowed_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int = 20,
    window: int = 8,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): from each doc's stride-1 character
    L-gram hashes, select the minimum of every ``window`` consecutive
    grams. Guarantee: two docs sharing a substring of length >=
    ``gram_len + window - 1`` share at least one SELECTED fingerprint,
    at ~2/(window+1) the density of keeping every gram — this is the
    constant-factor knob :func:`duplicated_spans` documents as its
    scale path.

    Tie-and-parity details (pinned so a DuckDB oracle reproduces the
    selection bit-for-bit): the per-window choice minimizes the STRING
    ``fp_hex || lpad(pos, 10, '0')`` — i.e. lowest fingerprint, then
    lowest position — and trailing windows truncate at the doc end
    (each start position q in 1..n_grams owns the window
    [q, min(q+window-1, n_grams)]; short docs with fewer than
    ``window`` grams still select their global minimum, keeping the
    guarantee for every doc that can contain a match).

    Plan: explode + hash is scan-resident; the selection is ONE
    per-doc window pass (partitioned by doc_id, bounded by doc
    length); the ``distinct`` collapses the ~window-fold overlap
    before anything shuffles downstream. Emits (doc_id, pos, fp).
    """
    from pyspark.sql import Window

    from fink_joiner_spark.operators.similarity import _spread

    d = _spread(df).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("t")
    ).where(F.length("t") >= gram_len)
    grams = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("t") - (gram_len - 1))).alias("pos"),
        "t",
    ).select(
        "doc_id",
        "pos",
        F.substring(F.md5(F.substring("t", F.col("pos"), F.lit(gram_len))), 1, 16).alias("h"),
    )
    key = F.concat(F.col("h"), F.lpad(F.col("pos").cast("string"), 10, "0"))
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    sel = (
        grams.withColumn("k", F.min(key).over(w))
        .select(
            "doc_id",
            F.substring("k", 17, 10).cast("long").alias("pos"),
            F.substring("k", 1, 16).alias("fp"),
        )
        .distinct()
    )
    return sel


# Rolling-hash winnowing constants (shared with the DuckDB oracle):
# polynomial base/modulus of char_poly_hash, plus the precomputed
# modular inverse of the base (pow(31, MOD-2, MOD)) so window hashes
# derive from a PLAIN windowed sum — the only windowable form of the
# recurrence. Every intermediate stays < 2^63 in BOTH engines:
# wc = c·invB^pos < MOD, window sum < gram_len·MOD ≈ 2e10, and the
# final (sum % MOD)·B^k product < MOD² ≈ 1e18.
WINNOW_MOD = 1_000_000_007
WINNOW_BASE = 31
WINNOW_INV_BASE = 129032259  # pow(31, WINNOW_MOD - 2, WINNOW_MOD)
# packed selection key: g·2^31 + pos (g < MOD < 2^31 never true —
# MOD ≈ 2^30, so g < 2^30 and the key < 2^61; pos bound 2^31 chars)
_WINNOW_POS_PACK = 1 << 31


def winnowed_fingerprints_rolling(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int = 20,
    window: int = 8,
) -> DataFrame:
    """Winnowing fingerprint selection via a TRUE ROLLING HASH — the
    form Schleimer/Wilkerson/Aiken 2003 actually prescribe (§4: "use
    a rolling hash function") and the scale path of
    :func:`winnowed_fingerprints`, whose md5-per-gram baseline pays
    O(chars·gram_len) digest work plus per-gram substring/hex
    allocation (the suite's hottest CPU query at sf0.1: 225 cpu-s).

    Here each char is hashed ONCE: the L-gram polynomial hash
    ``g(i) = Σ c_{i+k}·B^{L-1-k} mod M`` is recovered from a plain
    windowed sum of position-weighted codepoints —
    ``g(i) = (Σ_{j=i..i+L-1} c_j·invB^j) · B^{i+L-1} mod M`` — so the
    whole pipeline is: explode chars (O(chars) rows), one broadcast
    join to an exact driver-computed power table (bounded by max doc
    length; ~16 MB even at 1M-char docs), ONE windowed sum, one
    windowed min for the selection — all codegen longs, no digests,
    no string keys (selection minimizes the packed int
    ``g·2^31 + pos``, the same lowest-hash-then-lowest-position tie
    rule as the md5 variant).

    Fingerprint VALUES differ from the md5 variant by construction
    (different hash family, same selection guarantee: docs sharing a
    substring ≥ gram_len + window − 1 chars share a selected
    fingerprint). A 30-bit hash space is the MOSS posture —
    fingerprinting, not exactness; the pair stage counts shared
    fingerprints, it never claims byte equality. Chars hash via
    ``ascii()`` = the first UTF-8 byte, so non-ASCII chars sharing a
    lead byte collide — acceptable under the fingerprint contract
    (collisions only ADD candidate pairs; the selection guarantee is
    unaffected) but unlike :func:`duplicated_spans`'s injective
    rolling path this variant is tuned for ASCII/BMP corpora; the
    DuckDB oracle pins the same ASCII fixture semantics. Emits
    (doc_id, pos, fp) with fp a long.
    """
    from pyspark.sql import Window

    from fink_joiner_spark.operators.similarity import _spread

    spark = df.sparkSession
    d = _spread(df).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("t")
    ).where(F.length("t") >= gram_len)
    max_len = d.agg(F.max(F.length("t"))).first()[0]  # 1-row driver collect
    if max_len is None:
        return spark.createDataFrame([], "doc_id long, pos long, fp long")
    # exact power tables, driver-computed ints (no RNG, no floats)
    powi, powb, vi, vb = [], [], 1, 1
    for k in range(max_len + gram_len + 1):
        powi.append((k, vi))
        powb.append((k, vb))
        vi = vi * WINNOW_INV_BASE % WINNOW_MOD
        vb = vb * WINNOW_BASE % WINNOW_MOD
    powi_df = F.broadcast(spark.createDataFrame(powi, "pos long, vi long"))
    powb_df = F.broadcast(spark.createDataFrame(powb, "gpos long, vb long"))

    chars = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("t"))).alias("pos"),
        "t",
    ).select(
        "doc_id", "pos", F.ascii(F.substring("t", F.col("pos"), F.lit(1))).alias("c")
    )
    weighted = chars.join(powi_df, "pos").select(
        "doc_id", "pos", (F.col("c") * F.col("vi") % WINNOW_MOD).alias("wc")
    )
    wsum = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, gram_len - 1)
    s = weighted.select(
        "doc_id",
        "pos",
        (F.sum("wc").over(wsum) % WINNOW_MOD).alias("S"),
        F.count(F.lit(1)).over(wsum).alias("nw"),
    ).where(F.col("nw") == gram_len)
    grams = s.withColumn("gpos", F.col("pos") + (gram_len - 1)).join(
        powb_df, "gpos"
    ).select(
        "doc_id", "pos", (F.col("S") * F.col("vb") % WINNOW_MOD).alias("g")
    )
    key = F.col("g") * _WINNOW_POS_PACK + F.col("pos")
    wsel = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    return (
        grams.withColumn("k", F.min(key).over(wsel))
        .select(
            "doc_id",
            (F.col("k") % _WINNOW_POS_PACK).alias("pos"),
            # integer div, NOT `/`: the packed key reaches ~2^61 and
            # double division would lose bits past 2^53
            F.expr(f"k div {_WINNOW_POS_PACK}").alias("fp"),
        )
        .distinct()
    )


def winnowing_pairs_rolling(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int = 20,
    window: int = 8,
    min_shared: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """:func:`winnowing_pairs` on the rolling-hash fingerprints — long
    join keys instead of 16-hex strings, same posting-cap knob, same
    output shape (doc_a, doc_b, n_shared)."""
    fp = winnowed_fingerprints_rolling(df, id_col, text_col, gram_len, window)
    u = fp.select("doc_id", "fp").distinct()
    if max_doc_freq is not None:
        keep = u.groupBy("fp").agg(F.count(F.lit(1)).alias("_df")).where(
            F.col("_df") <= max_doc_freq
        )
        u = u.join(keep.select("fp"), "fp")
    a = u.select(F.col("doc_id").alias("doc_a"), "fp")
    b = u.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def winnowing_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int = 20,
    window: int = 8,
    min_shared: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """MOSS-style near-dup doc pairs: docs sharing >= ``min_shared``
    winnowed fingerprints, with the shared count as the score.

    Candidate generation is a keyed join on the selected fingerprints
    only (~2/(window+1) of gram volume — never all-pairs, never the
    full gram set). ``max_doc_freq`` optionally drops ultra-common
    fingerprints (corpus boilerplate) before the pair join — the same
    posting-list cap every plagiarism/dedup index applies; None keeps
    everything (the hash-oracle configuration).

    Emits (doc_a, doc_b, n_shared) with doc_a < doc_b.
    """
    fp = winnowed_fingerprints(df, id_col, text_col, gram_len, window)
    u = fp.select("doc_id", "fp").distinct()
    if max_doc_freq is not None:
        keep = u.groupBy("fp").agg(F.count(F.lit(1)).alias("_df")).where(
            F.col("_df") <= max_doc_freq
        )
        u = u.join(keep.select("fp"), "fp")
    a = u.select(F.col("doc_id").alias("doc_a"), "fp")
    b = u.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def bigram_nll(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document bigram-LM negative log-likelihood — the CCNet-style
    LM quality filter (documents whose word transitions surprise the
    corpus LM are boilerplate, lists, or noise).

    Add-one smoothed bigram model trained on the corpus itself:
    p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V), V = corpus vocab size.
    Every per-token log is integerized to micro-nats BEFORE the sum
    (floor(ln(p)·1e6 + 0.5), an exact int64), so the per-doc total is
    reduction-order independent; no exp() in the output — perplexity
    is exp(nll_micro / 1e6 / n) for whoever wants it, computed outside
    the compared columns.

    Scale: bigrams come from a doc-partitioned LEAD (bounded by doc
    length, never global); the model is two wordcount-shaped
    aggregates with map-side combine; scoring joins each doc bigram to
    its two counts — the bigram-keyed join is the only corpus-sized
    shuffle, and V and the unigram table broadcast when small.
    """
    from pyspark.sql import Window

    from fink_joiner_spark.operators.similarity import _spread

    d = _spread(df).select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t"))
    toks = d.select("doc_id", F.posexplode(tokens(F.col("t"))).alias("pos", "w"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.select("doc_id", "w", F.lead("w").over(w).alias("w2"))
        .where(F.col("w2").isNotNull())
        .select("doc_id", F.col("w").alias("w1"), "w2")
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = toks.select("w").distinct().agg(F.count(F.lit(1)).alias("v"))
    scored = (
        big.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(
                F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v"))) * 1000000
                + 0.5
            )
            .cast("long")
            .alias("micro_log"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (-F.sum("micro_log")).alias("nll_micro"),
    )


def canonical_url(url) -> Column:
    """Canonical form of a URL column — the standard precursor to
    URL-keyed web-corpus dedup (the same page crawled as
    ``HTTP://WWW.Site.COM:80/p?utm_source=x&a=1#top`` and
    ``http://site.com/p?a=1`` must collapse to ONE key before any
    content-level dedup runs, or every near-dup family doubles).

    Normalizations (each a deliberate, documented policy):

    * scheme and host lowercased; a leading ``www.`` stripped;
    * default ports dropped (``:80`` for http, ``:443`` for https);
      any other explicit port kept;
    * empty path becomes ``/``;
    * query string: tracking parameters removed (``utm_*``, ``gclid``,
      ``fbclid``), remaining params SORTED (param order is not
      semantic for the overwhelming majority of endpoints — the
      classic false-negative source) and rejoined;
    * fragment dropped (never sent to the server).

    Pure column algebra — regexp extraction + array sort/filter/join,
    codegen-resident, no UDF — and every step is mirrored exactly in
    the DuckDB oracle of the registered query (identical regexes,
    valid in both Java regex and RE2).
    """
    from pyspark.sql import functions as F

    u = url if hasattr(url, "cast") else F.col(url)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    host = F.regexp_replace(
        F.regexp_extract(hostport, r"^([^:]*)", 1), r"^www\.", ""
    )
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    default_port = (
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
        | (port == "")
    )
    portpart = F.when(default_port, F.lit("")).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    rawq = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(rawq, "&"),
            lambda p: (p != "")
            & ~p.rlike(r"^(utm_[a-z0-9]+|gclid|fbclid)="),
        )
    )
    q = F.array_join(params, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        portpart,
        path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
