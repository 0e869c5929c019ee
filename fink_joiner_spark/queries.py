"""Query registry — the declared capability surface of the engine.

Every implemented operator from SURVEY.md §2 (plus the large-scale
extension operators) is exposed here as a named query over the driver
test tables, paired with an ANSI-SQL oracle that DuckDB can run on the
same parquet. The driver (and our pytest suite) compares the two.

Conventions:
* every computed column is aliased identically in Spark and oracle SQL;
* timestamps are emitted as epoch microseconds (BIGINT) — avoids
  tz/precision drift between Spark and DuckDB;
* aggregates over DECIMAL-VALUED doubles (money, rates, vector
  components) integerize PER ROW (``floor(x·10^k + 0.5)``, identical
  IEEE ops in both engines) and SUM exact integers, dividing once at
  the end — rounding the raw float SUM is NOT enough: its last ulp is
  summation-order-dependent and decimal data lands exactly ON rounding
  boundaries (~1/500 money groups; q10 flipped live in round 8).
  Rounding suffices only where the sum itself is exact (integral
  doubles) or the true value is irrational (ratios, logs, cosines —
  boundary landings have measure ~ulp).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


from contextlib import contextmanager  # noqa: E402


# Shuffle-partition count for queries that run a full streaming job.
# Streaming state is partitioned by this number at the FIRST checkpoint
# and every micro-batch pays a per-partition state-store open+commit
# (with RocksDB: instance open, WAL, checkpoint upload) regardless of
# data volume — so unlike batch shuffles (where AQE coalesces), this
# must be sized to STATE volume, not cluster width. 4 partitions carry
# the sf0.1 state comfortably (measured r6: interval-join addBatch
# ~2.4s at 8 partitions vs ~0.85s at 4, with 2 showing no further
# gain); a 1000-executor deployment sizes it to keys/partition
# ≈ state-store sweet spot, not to 1000.
STREAM_SHUFFLE_PARTITIONS = "4"

# The applyInPandasWithState operators want MORE partitions than the
# JVM-stateful ones at the same state volume: their per-batch cost is
# Arrow + Python grouped-state compute, which parallelizes across
# Python workers (r6 measured: keyed_reduce/asof/tws each ~1s slower
# at 4 than 8), while the JVM ops' cost is per-partition state-store
# open/commit, which shrinks with fewer partitions.
PYSTATE_SHUFFLE_PARTITIONS = "8"


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Temporarily set a runtime SQL conf for the duration of a query
    body. The driver's vanilla session defaults to 200 shuffle
    partitions — a 25× per-batch state-store-overhead tax on the
    stateful streaming ops; queries that run a full streaming job scope
    it down to ``STREAM_SHUFFLE_PARTITIONS``."""
    try:
        old = spark.conf.get(key)
    except Exception:  # noqa: BLE001 — unset conf
        old = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@contextmanager
def stream_state_confs(spark: SparkSession, partitions: str):
    """State-store tuning shared by every streaming demo query:

    * shuffle partitions scoped to the STATE volume (see
      ``STREAM_SHUFFLE_PARTITIONS`` / ``PYSTATE_SHUFFLE_PARTITIONS``);
    * RocksDB CHANGELOG checkpointing **OFF** for the demos. The r8
      round shipped it ON claiming −6-11% from paired subset A/Bs, but
      the same round's full driver bench regressed the family — and a
      round-9 2×4-combination matrix (13 demos × 3 reps at sf0.1, both
      passes) resolved the contradiction: the family's WALL swings
      ±10% between identical runs (scheduler/IO-bound), swamping every
      knob effect, while JVM CPU — the noise-robust signal — is
      consistently LOWEST with changelog off (91-98 cpu-s vs 100-103
      on; full table in BASELINE.md round-9 row). Mechanism: with
      fresh-tempdir checkpoints and 2-3 micro-batches per demo, the
      changelog upload machinery pays its setup without a snapshot
      ever amortizing. Production long-running streams are the
      opposite regime — changelog checkpointing remains the right
      PRODUCTION conf; it is wrong for these demos, exactly the
      reconciliation the r8 verdict asked for;
    * ``trackTotalNumberOfRows=false`` — skips the per-put/delete
      bookkeeping behind the numRowsTotal metric; never measured
      worse in the matrix (and cheapest overall paired with changelog
      off). Production deployments that alert on state-row counts
      re-enable it; the demos don't read it.

    Both RocksDB knobs are read at query start, so scoping them works
    per demo; checkpoints here are always fresh (tempdirs), so a
    checkpoint-format difference can never clash with an existing
    checkpoint's format.
    """
    with scoped_conf(spark, "spark.sql.shuffle.partitions", partitions), \
            scoped_conf(
                spark,
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled",
                "false",
            ), \
            scoped_conf(
                spark,
                "spark.sql.streaming.stateStore.rocksdb."
                "trackTotalNumberOfRows",
                "false",
            ):
        yield


@contextmanager
def stream_finish_fast(spark: SparkSession):
    """Skip the trailing no-data micro-batch (~1 s of state-store
    open/commit against zero rows) for AvailableNow streaming demos
    whose OUTPUT doesn't depend on a final watermark-advancement batch:
    inner joins and dedup emit on arrival, complete-mode sinks re-emit
    per batch, and unwatermarked Python-state ops never schedule one.
    Queries that DO finalize on watermark (the LEFT interval join's
    NULL emission, append-mode window close) must not use this."""
    with scoped_conf(spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false"):
        yield


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    note: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, note: str = "") -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, note=note)
        return fn

    return deco


# Names that received a green driver CORRECTNESS row in round 1 (the
# driver verifies only the FIRST 50 entries of ``queries()``).  Round 2
# rotates the verification window: never-verified queries are emitted
# first so they get rows this round, and previously-verified
# core-pipeline queries come next.  The r1+r2 union covers every
# registered query.
_R1_VERIFIED = frozenset({
    "a1_dedup_latest_per_key", "a1_dedup_window_form", "a2_group_max",
    "p5_tuple_in_subquery", "j2_inner_join", "flagship_dedup_left_join",
    "p1_envelope_projection", "p2_nested_array_json", "p4_wordcount",
    "p6_select_star_view", "p7_rename_columns", "p8_upper_scalar",
    "a3_count_over_join", "a4_keyed_reduce_concat", "a5_tumbling_window_5s",
    "a6_tumbling_window_20min", "j1_multiway_left_join", "j4_nested_join",
    "j5_self_role_join", "s4_memory_fixture_pipeline", "j3_asof_join_inner",
    "j3_asof_join_left", "j3_asof_join_tolerance", "stream_dedup_snapshot",
    "stream_asof_stateful", "stream_keyed_reduce", "stream_dedup_tws_retract",
    "crmls_envelope_e2e", "stream_snapshot_join_pipeline", "t5_sliding_window",
    "t5_session_window", "stream_windowed_wordcount", "stream_running_count",
    "ext_topk_per_group", "ext_set_ops", "ext_cube_count", "ext_pivot_counts",
    "stream_static_join", "ext_semi_anti_join", "ext_rollup_totals",
    "ext_window_analytics", "ext_global_sort_topn", "ext_tpch_q1_pricing",
    "ext_interval_join_banded", "ext_udtf_lateral_shingles",
    "stream_stream_interval_join", "dedup_exact", "dedup_ngram_jaccard",
    "dedup_minhash_lsh", "dedup_simhash",
})

def _correctness_history(
    root: str | None = None,
) -> tuple[frozenset[str], frozenset[str], dict[str, int]]:
    """Scan the driver's CORRECTNESS_r*.json files (repo root) and
    derive (regressed, ever_verified, last_green_round):

    * ``regressed`` — queries whose LATEST recorded row is NOT a green
      hash-match (failed or errored last time the driver saw them);
    * ``ever_verified`` — queries with a green hash-match in ANY round;
    * ``last_green_round`` — per query, the round number of its MOST
      RECENT green row (the age signal the oldest-first rotation tier
      sorts on, so no query's driver proof ages indefinitely).

    Self-maintaining across rounds: each new CORRECTNESS file
    automatically reshapes the next round's verification window. Any
    read/parse problem degrades to empty sets (registration order)."""
    import glob
    import json
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, bool] = {}
    ever: set[str] = set()
    last_green: dict[str, int] = {}
    try:
        for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
            m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
            rnum = int(m.group(1)) if m else 0
            with open(path) as fh:
                data = json.load(fh)
            for name, row in data.items():
                green = bool(row.get("hash_match"))
                latest[name] = green
                if green:
                    ever.add(name)
                    last_green[name] = max(last_green.get(name, 0), rnum)
    except Exception:  # noqa: BLE001 — ordering is best-effort
        return frozenset(), frozenset(), {}
    regressed = frozenset(n for n, green in latest.items() if not green)
    return regressed, frozenset(ever), last_green


# "Failed last round" outranks "never verified": a red row means a
# user-visible break, a missing row only an unconfirmed pass — so
# re-proving fixes lands first in the driver's 50-entry window.
_R3_REGRESSED, _HISTORY_VERIFIED, _LAST_GREEN_ROUND = _correctness_history()


# Queries whose BEHAVIOR changed in the round being shipped — the
# round-end priority hook the r7 verification-window blind spot called
# for: the 50-entry driver window must re-prove every query whose
# implementing code changed this round, ahead of rotation (a query can
# be "ever verified" yet stale the moment its module is edited).
# Maintained by hand at round end; superseded rows age out naturally
# once the next CORRECTNESS file records them green.
#
# Round 14 (r13 verdict ask #1): the r13 optimization pass changed the
# executed plans of these queries (_pin_once / _directed_rows /
# _join_spread / xx128 span keys / per-batch pin release), but the r13
# driver window sampled only 3 of them — every plan-changed query must
# get an independent driver hash-match this round, plus whatever this
# round's own optimizations touch (maintained as edits land):
_ROUND_CHANGED = frozenset({
    # r13 plan-changed set (VERDICT r13 "Next round" #1). The r14 pin
    # mechanism change (persist instead of localCheckpoint) changed
    # every pinning query's executed plan AGAIN, so the whole set
    # stays current, not just carried over:
    "dedup_containment_capped", "dedup_containment_prefix",
    "dedup_jaccard_capped", "dedup_containment", "dedup_cross_corpus",
    "dedup_simhash", "dedup_jaccard_prefix", "dedup_minhash_lsh",
    "text_exact_dup_spans", "multimodal_phash_pairs",
    "ext_frequent_pairs", "ext_curation_pipeline_e2e",
    "text_boilerplate_scrub", "stream_ingest_gate",
    # r14 plan-changed set: window-min star rounds (graph.py) rewrote
    # the per-round CC plan these queries execute ...
    "dedup_cc_clusters", "dedup_keep_canonical",
    "ext_dedup_cluster_sizes",
    # ... and memory_source became a pure-JVM literal plan
    "s4_memory_fixture_pipeline",
})
# Round-13 entries (avro_ocf_split_roundtrip + the three vectorized
# multimodal kernels) aged out: CORRECTNESS_r13 records them green.


# Every query with a green hash-match row in ANY driver round —
# derived from the CORRECTNESS files, falling back to the r1 list if
# none are readable. Everything else has never been driver-verified
# and outranks re-verification in the window order.
_EVER_VERIFIED = _R1_VERIFIED | _HISTORY_VERIFIED


def _driver_order() -> list[str]:
    names = list(REGISTRY)
    regressed = [n for n in names if n in _R3_REGRESSED]
    rest = [n for n in names if n not in _R3_REGRESSED]
    changed = [n for n in rest if n in _ROUND_CHANGED]
    rest = [n for n in rest if n not in _ROUND_CHANGED]
    never_verified = [n for n in rest if n not in _EVER_VERIFIED]
    # oldest-green-first rotation tier (r8 verdict ask #5): after
    # regressed/changed/never-verified, the remainder is ordered by the
    # round of its most recent green driver row, ascending — each
    # round's 50-entry window then re-proves the stalest proofs first,
    # so no query's driver evidence ages past a few rounds. Ties keep
    # registration order (stable sort). Queries green only in a round
    # whose file is unreadable sort as round 0 — i.e. first, safely.
    verified = [n for n in rest if n in _EVER_VERIFIED]
    verified.sort(key=lambda n: _LAST_GREEN_ROUND.get(n, 0))
    # The changed tier must land INSIDE the driver's 50-row window but
    # must NOT run as a contiguous block: bench.py times queries in
    # this same order, and a consecutive run of one HOF-dense family
    # deterministically reproduces the r11-s2 JIT profile-pollution
    # catastrophe (measured again r14 when the r13-changed dedup/text
    # set briefly headed the order as a block: dedup_minhash_lsh
    # 2.0→15.5 s, ext_curation_pipeline_e2e 4.2→104.7 s, cpu 8→64 /
    # 13→185 cpu-s). Interleave each changed query between rotation-
    # tier diluents. Spacing is ADAPTIVE: 2 diluents per changed query
    # when that still fits every changed entry inside the driver's
    # 50-row window, else 1 (still non-adjacent — the property the JIT
    # incident needs); a changed set too large even for spacing 1
    # (>25-ish) would be a round-scoping problem no ordering can fix,
    # so the last entries simply land where they land.
    tail = never_verified + verified
    if changed:
        spacing = 2
        if len(regressed) + 3 * len(changed) > 50:
            spacing = 1
        mixed: list[str] = []
        ti = 0
        for n in changed:
            mixed.append(n)
            mixed.extend(tail[ti:ti + spacing])
            ti += spacing
        mixed.extend(tail[ti:])
        return regressed + mixed
    return regressed + changed + never_verified + verified


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: REGISTRY[name].fn for name in _driver_order()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {n: REGISTRY[n].oracle for n in _driver_order() if REGISTRY[n].oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import all query modules so their @register calls run."""
    global _LOADED
    if _LOADED:
        return
    from fink_joiner_spark.queries_ref import core  # noqa: F401
    from fink_joiner_spark.queries_ref import extensions  # noqa: F401

    _LOADED = True
