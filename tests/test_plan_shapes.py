"""Plan-shape regression gate (r10 verdict ask #6).

The DuckDB oracle proves VALUES; it cannot see a plan regression — a
lost broadcast, an extra shuffle, a scan that stopped pruning columns
— which is exactly the class of bug that stays invisible at sf0.01
and melts a 1000-executor run. This gate snapshots a structural
fingerprint of the static physical plan for the headline/compute
queries into ``tests/plan_fingerprints.json`` and fails on any
DIRECTIONAL regression:

* ``shuffles``, ``cartesian``, ``bnlj``, ``max_scan_cols`` may not
  increase;
* ``broadcast_joins`` may not decrease.

Improvements (fewer shuffles, more broadcasts) pass but print a
reminder to refresh the baseline so the gate keeps teeth.

Refresh after an INTENTIONAL plan change, naming the queries/streams
the change is meant to move (comma-separated):

    SPARK_GRAFT_UPDATE_PLANS=dedup_jaccard_capped,windowed_agg \
        python -m pytest tests/test_plan_shapes.py -q

which rewrites only those entries at the conftest SF and leaves every
other entry byte-identical, so a refresh cannot also record unrelated
drift; the remaining gates still run against the baseline.
``SPARK_GRAFT_UPDATE_PLANS=all`` rewrites the whole file (bootstrap).
Fingerprints are taken at ``tests/conftest.SF_DIR`` — broadcast
threshold decisions depend on input size estimates, so baseline and
check must share the SF; the test skips on a mismatched SF instead of
flagging false regressions.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

from fink_joiner_spark import plans

_FP_FILE = Path(__file__).parent / "plan_fingerprints.json"

# headline/compute queries with a meaningful single-DataFrame plan:
# the bench top by wall time minus streaming/index-lifecycle demos
# (their "plan" is a job sequence; probe plans are covered by the
# dedicated audits in test_plans.py) plus the flagship joins.
_GATED = [
    "flagship_dedup_left_join",
    "j1_multiway_left_join",
    "j2_inner_join",
    "j3_asof_join_inner",
    "a3_count_over_join",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_jaccard_capped",
    "dedup_jaccard_prefix",
    "dedup_containment",
    "dedup_containment_prefix",
    "dedup_containment_capped",
    "dedup_winnowing_pairs",
    "dedup_winnowing_rolling",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "dedup_semantic_semdedup",
    "simsearch_topk_bruteforce",
    "simsearch_topk_lsh",
    "simsearch_topk_ivf",
    "simsearch_topk_pq",
    "simsearch_hard_negatives",
    "ext_hybrid_search_rrf",
    "ext_dsir_select",
    "multimodal_features",
    "text_quality",
    # r11 verdict ask #2: the graph family (pagerank's executed plan
    # changed in r11 with no fingerprint to catch it) ...
    "graph_pagerank_step",
    "graph_pagerank_bounded",
    "dedup_cc_clusters",
    "ext_dedup_cluster_sizes",
    # ... and all 22 TPC-H shapes (the family that carried ~2x
    # pollution phantoms in the r11 driver artifact — a pinned plan
    # separates "the plan regressed" from "the host was loaded")
    *[f"ext_tpch_q{i}_{suffix}" for i, suffix in [
        (1, "pricing"), (2, "min_cost_supplier"), (3, "shipping"),
        (4, "priority"), (5, "local_volume"), (6, "forecast"),
        (7, "volume_shipping"), (8, "market_share"), (9, "product_profit"),
        (10, "returned_items"), (11, "important_stock"),
        (12, "priority_by_class"), (13, "order_dist"), (14, "promo_revenue"),
        (15, "top_supplier"), (16, "supplier_relationship"),
        (17, "small_qty"), (18, "large_volume"), (19, "disjunctive"),
        (20, "stock_concentration"), (21, "waiting_supplier"),
        (22, "dormant"),
    ]],
]

_MUST_NOT_RISE = ["shuffles", "cartesian", "bnlj", "max_scan_cols"]
_MUST_NOT_FALL = ["broadcast_joins"]


def _build(name, spark, sf_dir):
    from fink_joiner_spark import queries as Q

    return Q.queries()[name](spark, sf_dir)


@pytest.fixture(scope="module")
def baseline():
    if not _FP_FILE.exists():
        pytest.skip("no committed plan_fingerprints.json (run the refresh)")
    return json.loads(_FP_FILE.read_text())


_REFRESH_HINT = (
    "If intentional, refresh just the moved entries: "
    "SPARK_GRAFT_UPDATE_PLANS=<name>[,<name>...] "
    "python -m pytest tests/test_plan_shapes.py"
)


def _refresh_names() -> set[str]:
    """Entries SPARK_GRAFT_UPDATE_PLANS asks to rewrite: a comma list of
    gated query/stream names, or ``all``; empty when unset."""
    raw = os.environ.get("SPARK_GRAFT_UPDATE_PLANS", "")
    names = {n.strip() for n in raw.split(",") if n.strip()}
    if names == {"all"}:
        return set(_GATED) | set(_STREAM_GATED)
    return names


def test_refresh_or_presence(spark, sf_dir):
    """With SPARK_GRAFT_UPDATE_PLANS set, rewrite the named baseline
    entries (``all``: the whole file); plain runs just assert the
    baseline exists."""
    names = _refresh_names()
    if names:
        unknown = names - set(_GATED) - set(_STREAM_GATED)
        assert not unknown, (
            f"SPARK_GRAFT_UPDATE_PLANS names no gated entry: {sorted(unknown)}"
            " — give query/stream names, or 'all' for a full rewrite"
        )
        full = names == set(_GATED) | set(_STREAM_GATED)
        if full or not _FP_FILE.exists():
            doc = {"sf_dir": sf_dir, "queries": {}, "streams": {}}
        else:
            doc = json.loads(_FP_FILE.read_text())
            assert doc.get("sf_dir") == sf_dir, (
                f"baseline taken at {doc.get('sf_dir')}, running at {sf_dir}:"
                " a partial refresh would mix SFs — refresh 'all' instead"
            )
        for name in _GATED:
            if name in names:
                doc["queries"][name] = plans.plan_fingerprint(
                    _build(name, spark, sf_dir)
                )
        for name, builder in _STREAM_GATED.items():
            if name in names:
                doc["streams"][name] = _stream_fingerprint(builder, spark, sf_dir)
        _FP_FILE.write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")
    assert _FP_FILE.exists(), (
        "plan baseline missing: SPARK_GRAFT_UPDATE_PLANS=all "
        "python -m pytest tests/test_plan_shapes.py"
    )


@pytest.mark.parametrize("name", _GATED)
def test_plan_shape_not_regressed(spark, sf_dir, baseline, name):
    if name in _refresh_names():
        pytest.skip("refreshed in this run")
    if baseline.get("sf_dir") != sf_dir:
        pytest.skip(
            f"baseline taken at {baseline.get('sf_dir')}, running at "
            f"{sf_dir} — size-estimate-driven join picks differ by SF"
        )
    want = baseline["queries"].get(name)
    if want is None:
        pytest.fail(
            f"{name} gated but absent from baseline — refresh it: "
            f"SPARK_GRAFT_UPDATE_PLANS={name}"
        )
    got = plans.plan_fingerprint(_build(name, spark, sf_dir))
    problems = []
    for k in _MUST_NOT_RISE:
        if got[k] > want[k]:
            problems.append(f"{k} rose {want[k]} -> {got[k]}")
    for k in _MUST_NOT_FALL:
        if got[k] < want[k]:
            problems.append(f"{k} fell {want[k]} -> {got[k]}")
    assert not problems, (
        f"plan shape regressed for {name}: {'; '.join(problems)}\n"
        f"baseline={want}\nnow={got}\n{_REFRESH_HINT}"
    )
    better = [
        k for k in _MUST_NOT_RISE if got[k] < want[k]
    ] + [k for k in _MUST_NOT_FALL if got[k] > want[k]]
    if better:
        print(f"plan IMPROVED for {name} ({better}) — refresh the baseline "
              "to lock in the win")


# ---------------------------------------------------------------------------
# Stream family (r11 verdict ask #2): a streaming pipeline's physical
# plan exists only at runtime, so the gate fingerprints the LAST
# EXECUTED micro-batch plan of four representative pipelines — one per
# stateful-operator class the registry exercises: watermarked windowed
# aggregation (StateStoreSave), built-in dedup-with-TTL
# (StreamingDeduplicateWithinWatermark), stream-stream interval join
# (StreamingSymmetricHashJoin), and the custom Python stateful operator
# (FlatMapGroupsInPandasWithState). Stateful operator COUNTS must match
# exactly (a change is changed semantics); shuffles/cartesian and the
# stateful shuffle width must not rise; broadcasts must not fall.
# ---------------------------------------------------------------------------

def _finished_query(q):
    q.awaitTermination()
    return q


def _stream_windowed_agg(spark, sf_dir, work):
    from pyspark.sql import functions as F

    from fink_joiner_spark.catalog import table
    from fink_joiner_spark.sources.streaming import file_drip_feed
    from fink_joiner_spark.streaming.windows import windowed_count

    docs = table(spark, sf_dir, "documents")
    timed = docs.select(
        "doc_id", "text", F.timestamp_seconds(F.col("doc_id") % 60).alias("ts")
    )
    stream = file_drip_feed(spark, timed, f"{work}/stage", "ts", n_files=2)
    words = stream.select(
        "ts", F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    out = windowed_count(words, "ts", "5 seconds", keys=["word"],
                         lateness="100 seconds")
    return _finished_query(
        out.writeStream.format("memory").queryName("fp_stream_wc")
        .outputMode("complete")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True).start()
    )


def _stream_dedup_ttl(spark, sf_dir, work):
    from fink_joiner_spark.catalog import table
    from fink_joiner_spark.sources.streaming import file_drip_feed

    ev = table(spark, sf_dir, "events").select("event_id", "ts")
    stream = file_drip_feed(spark, ev, f"{work}/stage", "ts", n_files=2)
    deduped = (
        stream.withWatermark("ts", "100 seconds")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return _finished_query(
        deduped.writeStream.format("memory").queryName("fp_stream_ddww")
        .outputMode("append")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True).start()
    )


def _stream_interval_join(spark, sf_dir, work):
    from pyspark.sql import functions as F

    from fink_joiner_spark.catalog import table
    from fink_joiner_spark.sources.streaming import file_drip_feed

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    sc = file_drip_feed(spark, clicks, f"{work}/c", "c_ts", n_files=2).withWatermark(
        "c_ts", "1 hour"
    )
    se = file_drip_feed(spark, errors, f"{work}/e", "e_ts", n_files=2).withWatermark(
        "e_ts", "1 hour"
    )
    joined = sc.join(
        se,
        F.expr("c_user = e_user AND e_ts >= c_ts "
               "AND e_ts <= c_ts + INTERVAL 30 MINUTES"),
        "inner",
    ).select("click_id", "err_id")
    return _finished_query(
        joined.writeStream.format("memory").queryName("fp_stream_ssij")
        .outputMode("append")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True).start()
    )


def _stream_pystate_asof(spark, sf_dir, work):
    from pyspark.sql import functions as F

    from fink_joiner_spark.catalog import table
    from fink_joiner_spark.sources.streaming import file_drip_feed
    from fink_joiner_spark.streaming import stateful

    ev = table(spark, sf_dir, "events").withColumn(
        "ts_s", F.col("ts").cast("double")
    )
    probe = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_s"
    )
    build = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts_s", F.col("event_id").alias("b_id")
    )
    tagged = stateful.tag_streams(
        probe, build, on="user_id", probe_ts="ts_s", build_ts="ts_s",
        build_cols=["b_id"],
    )
    stream = file_drip_feed(spark, tagged, f"{work}/stage", "ts", n_files=2)
    out = stateful.streaming_asof_join(stream)
    return _finished_query(
        out.writeStream.format("memory").queryName("fp_stream_asof")
        .outputMode("append")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True).start()
    )


_STREAM_GATED = {
    "windowed_agg": _stream_windowed_agg,
    "dedup_ttl": _stream_dedup_ttl,
    "interval_join": _stream_interval_join,
    "pystate_asof": _stream_pystate_asof,
}

_STREAM_EXACT = [
    "state_store_saves", "streaming_dedups", "symmetric_join",
    "pandas_with_state", "watermarks",
]
_STREAM_MUST_NOT_RISE = ["shuffles", "cartesian", "state_partitions"]
_STREAM_MUST_NOT_FALL = ["broadcast_joins"]


def _stream_fingerprint(builder, spark, sf_dir):
    import tempfile

    from fink_joiner_spark.queries import (
        PYSTATE_SHUFFLE_PARTITIONS,
        STREAM_SHUFFLE_PARTITIONS,
        stream_finish_fast,
        stream_state_confs,
    )

    parts = (
        PYSTATE_SHUFFLE_PARTITIONS
        if builder is _stream_pystate_asof
        else STREAM_SHUFFLE_PARTITIONS
    )
    work = tempfile.mkdtemp(prefix="fjs_fp_stream_")
    with stream_state_confs(spark, parts), stream_finish_fast(spark):
        q = builder(spark, sf_dir, work)
        return plans.stream_plan_fingerprint(q)


@pytest.mark.parametrize("name", list(_STREAM_GATED))
def test_stream_plan_shape_not_regressed(spark, sf_dir, baseline, name):
    if name in _refresh_names():
        pytest.skip("refreshed in this run")
    if baseline.get("sf_dir") != sf_dir:
        pytest.skip("baseline SF mismatch")
    want = (baseline.get("streams") or {}).get(name)
    if want is None:
        pytest.fail(
            f"stream {name} gated but absent from baseline — refresh it: "
            f"SPARK_GRAFT_UPDATE_PLANS={name}"
        )
    got = _stream_fingerprint(_STREAM_GATED[name], spark, sf_dir)
    problems = []
    for k in _STREAM_EXACT:
        if got[k] != want[k]:
            problems.append(f"{k} changed {want[k]} -> {got[k]}")
    for k in _STREAM_MUST_NOT_RISE:
        if got[k] > want[k]:
            problems.append(f"{k} rose {want[k]} -> {got[k]}")
    for k in _STREAM_MUST_NOT_FALL:
        if got[k] < want[k]:
            problems.append(f"{k} fell {want[k]} -> {got[k]}")
    assert not problems, (
        f"micro-batch plan shape regressed for stream {name}: "
        f"{'; '.join(problems)}\nbaseline={want}\nnow={got}\n{_REFRESH_HINT}"
    )
