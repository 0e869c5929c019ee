"""Unit + plan tests for the round-4 corpus-curation operators:
boilerplate scrub, deterministic shuffle, temperature mixture,
Z-order key, random projection."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from fink_joiner_spark import plans
from fink_joiner_spark.operators import lake, sampling, similarity, text


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


SEG = "a b c d e f g h i j"  # one full 10-token segment


def test_scrub_removes_shared_full_segments_only(spark):
    df = _docs(
        spark,
        [
            (1, SEG + " tail one"),          # shared segment + partial tail
            (2, SEG + " other ending here"),  # same shared segment
            (3, "unique words only in doc three right here now ok fine yes"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in text.scrub_boilerplate(df, "doc_id", "text", 10, 2).collect()
    }
    # docs 1+2 share the full segment -> scrubbed; tails survive
    assert out[1]["n_scrubbed"] == 1 and out[1]["clean_text"] == "tail one"
    assert out[2]["n_scrubbed"] == 1 and out[2]["clean_text"] == "other ending here"
    # doc 3's segments are unique -> untouched, text round-trips
    assert out[3]["n_scrubbed"] == 0
    assert out[3]["clean_text"] == "unique words only in doc three right here now ok fine yes"


def test_scrub_never_drops_partial_tails(spark):
    # identical SHORT docs (< 10 tokens): everything is a partial
    # segment, so even perfect duplicates are not scrubbed here
    df = _docs(spark, [(1, "same short doc"), (2, "same short doc")])
    rows = text.scrub_boilerplate(df, "doc_id", "text", 10, 2).collect()
    assert all(r["n_scrubbed"] == 0 and r["clean_text"] == "same short doc" for r in rows)


def test_shuffle_positions_dense_permutation_and_stable(spark):
    df = spark.range(0, 257).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["pos"] for r in sampling.shuffle_positions(df, "doc_id").collect()}
    assert sorted(a.values()) == list(range(257))  # dense, no gaps/dupes
    # stable under physical layout changes (the determinism contract)
    b = {
        r["doc_id"]: r["pos"]
        for r in sampling.shuffle_positions(df.repartition(7), "doc_id").collect()
    }
    assert a == b
    # salt changes the permutation
    c = {
        r["doc_id"]: r["pos"]
        for r in sampling.shuffle_positions(df, "doc_id", salt="x").collect()
    }
    assert a != c and sorted(c.values()) == list(range(257))


def test_shuffle_positions_no_single_partition_exchange(spark):
    df = spark.range(0, 64).withColumnRenamed("id", "doc_id")
    plan = plans.formatted_plan(sampling.shuffle_positions(df, "doc_id"))
    # the whole point: NOT a global one-task window sort
    assert "SinglePartition" not in plan
    assert "hashpartitioning(_rng" in plan


def test_temperature_resample_upweights_low_resource(spark):
    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = sampling.temperature_resample(df, "grp", "doc_id", keep_frac=0.5)
    kept = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    # sqrt smoothing: small group keeps a larger FRACTION than big
    assert kept["small"] / 100 > kept["big"] / 900
    # exact targets: s = sqrt(900)+sqrt(100) = 40;
    # big: floor(0.5*1000*30/40 + .5) = 375; small: 125 capped at 100.
    # Capped mass is dropped, not reallocated (by design).
    assert kept == {"big": 375, "small": 100}


def test_temperature_resample_caps_at_group_size(spark):
    # tiny group + huge keep_frac: target must clamp to n
    rows = [(i, "a" if i < 98 else "b") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = sampling.temperature_resample(df, "grp", "doc_id", keep_frac=0.9)
    kept = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert kept["b"] <= 2


def test_morton_key_bit_interleave(spark):
    rows = spark.range(1).select(
        lake.morton_key(F.lit(3), F.lit(0)).alias("x_only"),
        lake.morton_key(F.lit(0), F.lit(3)).alias("y_only"),
        lake.morton_key(F.lit(3), F.lit(3)).alias("both"),
        lake.morton_key(F.lit(0xFFFF), F.lit(0)).alias("x_max"),
    ).first()
    assert rows["x_only"] == 0b0101  # x bits at even positions
    assert rows["y_only"] == 0b1010  # y bits at odd positions
    assert rows["both"] == 0b1111
    assert rows["x_max"] == 0x55555555  # all even bits


def test_morton_locality_beats_lexicographic(spark):
    # 32x32 grid, 64 buckets by key prefix: z-order buckets must be
    # bounded in BOTH dims; a lexicographic (x-major) key is not.
    grid = spark.range(1024).select(
        (F.col("id") % 32).alias("x"), (F.col("id") / 32).cast("long").alias("y")
    )
    z = grid.select("x", "y", lake.morton_key(F.col("x"), F.col("y"), bits=5).alias("z"))
    spans = (
        z.groupBy(F.shiftright("z", 4).alias("b"))
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .collect()
    )
    assert all(r["sx"] <= 7 and r["sy"] <= 7 for r in spans)  # 8x8 cells


def test_random_projection_matches_numpy(spark):
    import numpy as np

    vecs = [(1, [float(i) for i in range(64)]), (2, [1.0] * 64)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["proj"] for r in similarity.random_project(df, "vec_id", "embedding").collect()}
    m = np.array(similarity.rp_matrix(8, 64), dtype=float)
    for vid, v in vecs:
        expect = m @ np.array(v)
        got = np.array(out[vid])
        assert np.allclose(got, np.round(expect, 4))


def test_rp_matrix_is_engine_free_and_balanced():
    m = similarity.rp_matrix(8, 64)
    assert m == similarity.rp_matrix(8, 64)  # no RNG state anywhere
    flat = [e for row in m for e in row]
    assert set(flat) == {-1, 1}
    # md5-derived signs are near-balanced (sanity, not a proof)
    assert 0.35 < flat.count(1) / len(flat) < 0.65
    # spot-check derivation so the literal matrix can't silently drift
    h = int(hashlib.md5(b"rp:0:0").hexdigest()[0], 16) % 2
    assert m[0][0] == (1 if h == 0 else -1)


def test_zorder_query_is_codegen_resident(spark, sf_dir):
    from fink_joiner_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["ext_zorder_layout"].fn(spark, sf_dir)
    # count BEFORE the codegen assert: that one executes the frame, and
    # a finalized AQE plan prints final + initial trees (double-counts)
    assert plans.count_shuffles(df) == 1  # the bucket agg only
    plans.asserts_whole_stage_codegen(df)


def test_mixture_broadcasts_targets(spark, sf_dir):
    from fink_joiner_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["ext_lang_mixture_sample"].fn(spark, sf_dir)
    plans.asserts_broadcast_join(df)  # targets join must not shuffle the corpus


def test_phrase_search_repeated_term(spark):
    # phrase with a REPEATED term: "a b a" — each 'a' posting implies
    # two candidate starts; only genuine occurrences must survive
    from fink_joiner_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b b a"), (3, "b a b")],
        "doc_id long, text string",
    )
    p = text_ops.build_postings(df, "doc_id", "text")
    got = {r["doc_id"]: r["n_hits"] for r in text_ops.search_phrase(p, ["a", "b", "a"]).collect()}
    assert got == {1: 2}  # "a b a" at starts 0 and 2; docs 2/3 none


def test_and_search_requires_every_term(spark):
    from fink_joiner_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "x y z"), (2, "x y"), (3, "z z x y")], "doc_id long, text string"
    )
    p = text_ops.build_postings(df, "doc_id", "text")
    got = {r["doc_id"] for r in text_ops.search_all_terms(p, ["x", "z"]).collect()}
    assert got == {1, 3}


def test_skyline_equals_bruteforce_dominance(spark):
    """The production strict-running-max (two-phase range-offset, the
    path ext_skyline_2d uses) must reproduce brute-force pairwise
    dominance — including with n_ranges larger, equal to, and smaller
    than the distinct-x cardinality (empty ranges, single-row ranges,
    everything in one range)."""
    import random

    from fink_joiner_spark.operators.aggregates import strict_running_max_by_value

    rnd = random.Random(7)
    pts = [(rnd.randrange(0, 40), rnd.randrange(0, 40)) for _ in range(120)]
    # reference: p survives iff no q strictly dominates in BOTH dims
    per_x = {}
    for x, y in pts:
        per_x[x] = max(per_x.get(x, -1), y)
    want = {
        (x, y)
        for x, y in per_x.items()
        if not any(qx > x and qy > y for qx, qy in per_x.items())
    }
    df = spark.createDataFrame(pts, "x long, y long").groupBy("x").agg(
        F.max("y").alias("ymax")
    )
    for n_ranges in (1, 7, 40, 256):
        ranked = strict_running_max_by_value(
            df, "x", "ymax", out_col="rm", n_ranges=n_ranges
        )
        got = {
            (r["x"], r["ymax"])
            for r in ranked.where(
                F.col("rm").isNull() | (F.col("ymax") >= F.col("rm"))
            ).collect()
        }
        assert got == want, n_ranges


def test_strict_running_max_empty_input(spark):
    from fink_joiner_spark.operators.aggregates import strict_running_max_by_value

    df = spark.createDataFrame([], "x long, y long")
    out = strict_running_max_by_value(df, "x", "y")
    assert out.count() == 0 and "run_max" in out.columns


def test_and_search_duplicate_query_terms(spark):
    # ['x', 'x'] means x — the duplicate must not raise the match bar
    from fink_joiner_spark.operators import text as text_ops

    df = spark.createDataFrame([(1, "x y"), (2, "y z")], "doc_id long, text string")
    p = text_ops.build_postings(df, "doc_id", "text")
    got = {r["doc_id"] for r in text_ops.search_all_terms(p, ["x", "x"]).collect()}
    assert got == {1}


def test_prefix_jaccard_float_hostile_threshold(spark):
    """t=0.7: 10*0.7 = 7.000000000000001 in IEEE double — the integer
    micro-unit arithmetic must keep J==t pairs (review finding)."""
    from fink_joiner_spark.operators import similarity

    # A: 9 tokens -> 7 shingles; B: A + 3 tail tokens -> 10 shingles,
    # 7 shared: J = 7/(7+10-7) = 0.7 exactly, and the length filter
    # hits the hostile edge (0.7*10 = 7.000000000000001 > 7 in double)
    a_toks = "t1 t2 t3 t4 t5 t6 t7 t8 t9"
    b_toks = "t1 t2 t3 t4 t5 t6 t7 t8 t9 u1 u2 u3"
    df = spark.createDataFrame([(1, a_toks), (2, b_toks)], "doc_id long, text string")
    plain = {
        (r["id_a"], r["id_b"]) for r in similarity.jaccard_pairs(df, "doc_id", "text", 3, 0.7).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]) for r in similarity.jaccard_pairs_prefix(df, "doc_id", "text", 3, 0.7).collect()
    }
    assert plain == pref == {(1, 2)}


def test_duplicated_spans_maximal_merge_and_intra_doc(spark):
    """A 12-char duplicated substring at L=10 must emit ONE maximal
    span of len 12 (positions 1..3 merged), intra-doc repeats count,
    and docs shorter than L never appear."""
    from fink_joiner_spark.operators import text as text_ops

    rows = [
        (1, "ABCDEFGHIJKLxxxxxx"),          # dup of doc 2's middle
        (2, "yyABCDEFGHIJKLyy"),
        (3, "PQRSTUVWXYZ0PQRSTUVWXYZ0"),    # intra-doc repeat, len 12
        (4, "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_len)
        for r in text_ops.duplicated_spans(df, "doc_id", "text", min_len=10).collect()
    }
    # doc 3: the 12-char unit repeats at pos 1 and 13; only windows
    # fully inside a repeated occurrence are duplicated (starts 1-3
    # match starts 13-15), so two maximal 12-char spans — the middle
    # straddling windows are unique
    assert got == {
        (1, 1, 12),
        (2, 3, 12),
        (3, 1, 12),
        (3, 13, 12),
    }


def test_duplicated_spans_xx128_equals_md5(spark, sf_dir):
    """r13: the default path switched md5 -> chained-xxhash64 (two
    long fingerprint columns, 128 combined bits) purely for shuffle-
    width and digest cost — guide §2. Same spans, bit-for-bit, on the
    real corpus; the DEFAULT (no hash_fn arg) must be the xx128 path
    the registered query now runs."""
    from fink_joiner_spark.catalog import table
    from fink_joiner_spark.operators import text as text_ops

    docs = table(spark, sf_dir, "documents")
    xx = {
        tuple(r)
        for r in text_ops.duplicated_spans(
            docs, "doc_id", "text", min_len=40
        ).collect()
    }
    md5 = {
        tuple(r)
        for r in text_ops.duplicated_spans(
            docs, "doc_id", "text", min_len=40, hash_fn="md5"
        ).collect()
    }
    assert xx == md5 and xx


def test_winnowing_guarantee_and_density(spark):
    """Schleimer et al. guarantee: docs sharing a substring of length
    >= gram_len + window - 1 MUST share a selected fingerprint — for
    every alignment of the shared block. Density: selection keeps
    roughly 2/(w+1) of grams, far under 1."""
    from fink_joiner_spark.operators import text as text_ops

    import random

    rnd = random.Random(11)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789 "
    shared = "".join(rnd.choice(alpha) for _ in range(27))  # 20 + 8 - 1
    rows = []
    for i in range(30):
        pre = "".join(rnd.choice(alpha) for _ in range(rnd.randrange(0, 60)))
        post = "".join(rnd.choice(alpha) for _ in range(rnd.randrange(0, 60)))
        rows.append((i, pre + shared + post))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = text_ops.winnowed_fingerprints(df, "doc_id", "text", gram_len=20, window=8)
    sel = {}
    for r in fp.collect():
        sel.setdefault(r.doc_id, set()).add(r.fp)
    for i in range(30):
        for j in range(i + 1, 30):
            assert sel[i] & sel[j], (i, j)

    n_sel = sum(len(v) for v in sel.values())
    n_grams = sum(len(t) - 19 for _, t in rows)
    assert n_sel / n_grams < 0.55  # well under keeping every gram


def test_running_sum_matches_naive_cumsum(spark):
    from fink_joiner_spark.operators.aggregates import running_sum_by_value

    import random

    rnd = random.Random(3)
    rows = [(i, rnd.randrange(0, 500)) for i in range(400)]
    df = spark.createDataFrame(rows, "pos long, v long")
    for n_ranges in (1, 13, 400):
        got = {
            r.pos: r.run_sum
            for r in running_sum_by_value(df, "pos", "v", n_ranges=n_ranges).collect()
        }
        acc, want = 0, {}
        for p, v in sorted(rows):
            acc += v
            want[p] = acc
        assert got == want, n_ranges


def test_token_budget_head_no_single_partition(spark, sf_dir):
    from fink_joiner_spark import plans
    from fink_joiner_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["ext_token_budget_head"].fn(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "SinglePartition" not in plan, plan


def test_bigram_nll_repetition_scores_lower(spark):
    """A doc that repeats one bigram over and over is maximally
    predictable under the corpus LM and must carry a LOWER per-bigram
    NLL than a doc of unique transitions; micro-nat sums are exact
    ints and every bigram contributes one term."""
    from fink_joiner_spark.operators import text as txt

    rows = [
        (1, "spam spam spam spam spam spam spam spam spam"),
        (2, "one two three four five six seven eight nine"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in txt.bigram_nll(df, "doc_id", "text").collect()}
    assert out[1].n_bigrams == 8 and out[2].n_bigrams == 8
    assert out[1].nll_micro < out[2].nll_micro
    # per-term exactness: repeated doc = 8 identical transitions
    assert out[1].nll_micro % 8 == 0


def test_winnowing_posting_cap_bounds_boilerplate_block(spark):
    """Adversarial corpus for the winnowing pair join: every doc
    embeds the SAME long boilerplate block, so (by the winnowing
    guarantee) at least one selected fingerprint is shared by ALL
    docs — an uncapped fingerprint-keyed join pools the whole corpus
    into that posting cell. ``max_doc_freq`` must (a) bound every
    surviving posting list and (b) yield exactly the documented
    semantics: pair counts over the KEPT fingerprints only."""
    import random

    from fink_joiner_spark.operators import text as text_ops

    rnd = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    boiler = "".join(rnd.choice(alpha) for _ in range(80))
    rows = []
    for i in range(60):
        own = "".join(rnd.choice(alpha) for _ in range(rnd.randrange(30, 120)))
        rows.append((i, own + boiler))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    fp = text_ops.winnowed_fingerprints(df, "doc_id", "text", gram_len=20, window=8)
    posting = {}
    for r in fp.select("doc_id", "fp").distinct().collect():
        posting.setdefault(r.fp, set()).add(r.doc_id)
    # the mega-block exists: some boilerplate fingerprint hits all docs
    assert max(len(v) for v in posting.values()) == 60

    cap = 10
    got = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in text_ops.winnowing_pairs(
            df, "doc_id", "text", gram_len=20, window=8,
            min_shared=1, max_doc_freq=cap,
        ).collect()
    }
    # expected: recompute pair counts over fingerprints with df <= cap
    want = {}
    for docs in posting.values():
        if len(docs) > cap:
            continue
        for a in docs:
            for b in docs:
                if a < b:
                    want[(a, b)] = want.get((a, b), 0) + 1
    assert got == want
    # and every surviving cell is bounded by the cap — the join's
    # worst candidate block is cap^2/2, never corpus^2
    kept = [v for v in posting.values() if len(v) <= cap]
    assert kept and max(len(v) for v in kept) <= cap


def test_canonical_url_edge_cases(spark):
    """Non-default explicit ports kept; empty path -> '/'; all-tracking
    query drops to no '?'; param sort is stable; fragment-only tail
    dropped; mixed-case scheme+host lowered; www stripped only as a
    PREFIX label."""
    from pyspark.sql import functions as F

    from fink_joiner_spark.operators.text import canonical_url

    cases = [
        ("HTTPS://WWW.Ex.COM:8443/a?z=1&a=2#f", "https://ex.com:8443/a?a=2&z=1"),
        ("http://EX.com:80", "http://ex.com/"),
        ("https://ex.com:443/?utm_source=x&gclid=1", "https://ex.com/"),
        ("http://wwwx.com/p", "http://wwwx.com/p"),  # not a www. prefix
        ("http://ex.com/p?fbclid=abc&b=2&a=1", "http://ex.com/p?a=1&b=2"),
        ("HTTP://ex.com:8080/#frag", "http://ex.com:8080/"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(canonical_url(F.col("url"))).collect()]
    assert got == [want for _, want in cases]


def test_duplicated_spans_rolling_injective_on_non_ascii(spark):
    """The shipped xx128 path must equal md5 on a corpus built
    ENTIRELY from multi-byte UTF-8 chars that share one lead byte (a
    hash over only the first byte would collide them all and
    fabricate spans): two unrelated docs (no shared 40-gram => no
    spans) plus a pair sharing a 45-char substring (=> identical spans
    from both hash families). The name dates from the removed rolling
    hash path, which this corpus was first built to check."""
    from fink_joiner_spark.operators import text as text_ops

    import random

    rng = random.Random(7)
    alphabet = "àáâãäåæçèé"  # U+00E0..U+00E9 — all UTF-8 0xC3 0xA0..0xA9

    def doc(n):
        return "".join(rng.choice(alphabet) for _ in range(n))

    shared = doc(45)
    docs = spark.createDataFrame(
        [
            (1, doc(70)),
            (2, doc(70)),
            (3, doc(10) + shared + doc(10)),
            (4, doc(12) + shared + doc(8)),
        ],
        "doc_id long, text string",
    )
    xx = {
        tuple(r)
        for r in text_ops.duplicated_spans(
            docs, "doc_id", "text", min_len=40
        ).collect()
    }
    md5 = {
        tuple(r)
        for r in text_ops.duplicated_spans(
            docs, "doc_id", "text", min_len=40, hash_fn="md5"
        ).collect()
    }
    assert xx == md5
    assert {d for d, _, _ in xx} == {3, 4}  # the planted pair, only
