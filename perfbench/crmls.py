"""``crmls_trickle``: the paper's six-topic change log, fed in closed-loop
rounds through ``streaming.pipeline.run_snapshot_join_pipeline``.

Each round the generator publishes about ``per_round`` envelope change
records across the six topics (one file per topic), then the pipeline
drains every topic (``SnapshotStore.upsert`` per stream, each a
versioned commit), recomputes the 11-way LEFT JOIN over the maintained
snapshots and writes the round's +/- changelog. The next round starts
only after that call returns. Set-up loads the first version of every
entity in one call (the bootstrap) before any round runs.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import Observation
from pyspark.sql import functions as F

from fink_joiner_spark.operators.joins import multiway_left_join
from fink_joiner_spark.operators.projections import parse_envelope
from fink_joiner_spark.streaming import pipeline
from fink_joiner_spark.streaming.dedup_stream import SnapshotStore
from fink_joiner_spark.versioned import VersionedStore
from perfbench import gen, measure, reference
from perfbench.reference import AGENT_ROLES, OFFICE_ROLES, OUT_COLS

# topic -> (column prefix, dedup keys, payload columns from `data`)
TOPIC_DEFS = {
    "listings": ("l_", ["l_uc_pk"], {
        "l_listing_key": "$.ListingKeyNumeric",
        **{f"l_{a}": f"$.{r}KeyNumeric" for a, r in AGENT_ROLES + OFFICE_ROLES},
    }),
    "agents": ("a_", ["a_uc_pk"], {}),
    "openhouse": ("o_", ["o_listing_key"], {"o_listing_key": "$.ListingKeyNumeric"}),
    "offices": ("f_", ["f_uc_pk"], {}),
    "media": ("m_", ["m_resource_record_key"], {"m_resource_record_key": "$.ResourceRecordKeyNumeric"}),
    "history": ("h_", ["h_resource_record_key"], {"h_resource_record_key": "$.ResourceRecordKeyNumeric"}),
}


def crmls_join(snaps):
    """The 11 LEFT JOINs of FIXTURES.md §2 over the maintained
    snapshots: agents x4 and offices x4 by role, open-house by listing
    key, media and history by the listing's ``uc_pk``."""
    agents = F.broadcast(snaps["agents"].select("a_uc_pk", "a_uc_version"))
    offices = F.broadcast(snaps["offices"].select("f_uc_pk", "f_uc_version"))
    oh = snaps["openhouse"].select("o_listing_key", "o_uc_version")
    media = snaps["media"].select("m_resource_record_key", "m_uc_version")
    hist = snaps["history"].select("h_resource_record_key", "h_uc_version")
    joins = [(agents, F.col(f"{a}.a_uc_pk") == F.col(f"l.l_{a}"), a) for a, _ in AGENT_ROLES]
    joins.append((oh, F.col("o_listing_key") == F.col("l.l_listing_key"), None))
    joins += [(offices, F.col(f"{a}.f_uc_pk") == F.col(f"l.l_{a}"), a) for a, _ in OFFICE_ROLES]
    joins.append((media, F.col("l.l_uc_pk") == F.col("m_resource_record_key"), None))
    joins.append((hist, F.col("l.l_uc_pk") == F.col("h_resource_record_key"), None))
    out = multiway_left_join(snaps["listings"].alias("l"), joins)
    return out.select(
        *[F.col(f"l.{c}").alias(c) for c in ("l_uc_pk", "l_uc_version", "l_uc_created_ts")],
        *[F.col(f"{a}.a_uc_version").alias(f"{a}_uc_version") for a, _ in AGENT_ROLES],
        "o_uc_version",
        *[F.col(f"{a}.f_uc_version").alias(f"{a}_uc_version") for a, _ in OFFICE_ROLES],
        "m_uc_version",
        "h_uc_version",
    )


@dataclass(frozen=True)
class TrickleSize:
    listings: int
    per_round: int
    warmup: int
    min_reps: int

    @property
    def shape(self) -> gen.CrmlsShape:
        return gen.CrmlsShape(
            listings=self.listings,
            agents=max(10, self.listings // 10),
            offices=max(4, self.listings // 50),
        )


SIZES = {
    # Two timed rounds and no warm-up round: the bootstrap load (the
    # same pipeline call over the same six streams) warms the JVM, and
    # the run budget has no room for more ~10 s rounds. With one timed
    # round, cpu_s spread 14% between quartiles over ten seeds, as the
    # work of a round varies with which keys its changes hit.
    "full": TrickleSize(listings=2000, per_round=60, warmup=0, min_reps=2),
    "tiny": TrickleSize(listings=300, per_round=30, warmup=1, min_reps=1),
}


class CrmlsTrickle:
    name = "crmls_trickle"

    def __init__(self, seed: int, work_dir: str, size: str):
        self.size = SIZES[size]
        self.warmup, self.min_reps = self.size.warmup, self.size.min_reps
        self.gen = gen.CrmlsGenerator(seed, self.size.shape)
        self.bootstrap_records = self.gen.bootstrap()
        self.src = os.path.join(work_dir, "src")
        self.stores_dir = os.path.join(work_dir, "stores")
        self.changelog = os.path.join(self.stores_dir, "result", "changelog")
        self.ref = reference.CrmlsReference()
        self.replay = reference.ChangelogReplay()
        self.span = None  # set by the harness: a span-context factory
        self.collect_counts = False  # set by the harness in the traced run
        self.spark = None
        self._pending: list[dict] = []  # published, not yet in the reference
        self._files_before: set[str] = set()
        self._stores = None
        self._last_changelog_rows = 0
        self._join_rows: Observation | None = None

    # -- program calls --------------------------------------------------

    def _streams(self):
        defs = []
        for topic, (prefix, keys, payload) in TOPIC_DEFS.items():
            raw = self.spark.readStream.text(os.path.join(self.src, topic))
            parsed = parse_envelope(raw, "value", payload, prefix)
            defs.append(pipeline.StreamDef(
                topic, parsed, keys, f"{prefix}uc_created_ts", [f"{prefix}uc_version"]
            ))
        return defs

    def _join(self, snaps):
        """``crmls_join``; when counting, its output also carries an
        observation of the rows the program computes through it."""
        out = crmls_join(snaps)
        if not self.collect_counts:
            return out
        self._join_rows = Observation("join_rows")
        return out.observe(self._join_rows, F.count(F.lit(1)).alias("rows"))

    def _round(self, records: dict, name: str) -> tuple[float, int]:
        if self.collect_counts:
            self._files_before = measure.list_files(self.stores_dir)
        with self.span("round"):
            stamped = time.perf_counter()
            n = gen.write_round(self.src, records, name)
            self._pending.append(records)
            self._stores = pipeline.run_snapshot_join_pipeline(
                self.spark, self._streams(), self._join, self.stores_dir
            )
            durable = time.perf_counter()
        return durable - stamped, n

    def start(self, spark) -> list[str]:
        """Bootstrap load, part of set-up; returns its check's problems."""
        self.spark = spark
        os.makedirs(self.src, exist_ok=True)
        for topic in TOPIC_DEFS:
            os.makedirs(os.path.join(self.src, topic), exist_ok=True)
        self._round(self.bootstrap_records, "r000000")
        return self.check()

    def rep(self, i: int) -> tuple[float, int]:
        records = self.gen.changes(self.size.per_round)  # before the stamp
        return self._round(records, f"r{i + 1:06d}")

    # -- checks ---------------------------------------------------------

    def check(self) -> list[str]:
        """The round's changelog, replayed onto every earlier round's,
        must equal the reference snapshot."""
        for records in self._pending:
            self.ref.add(records)
        self._pending.clear()
        rows = self.spark.read.parquet(self.changelog).collect()
        self._last_changelog_rows = len(rows)
        try:
            self.replay.apply((tuple(r[c] for c in OUT_COLS), r["is_retract"]) for r in rows)
        except ValueError as e:
            return [str(e)]
        return reference.compare_rows("changelog replay", self.replay.snapshot(), self.ref.result())

    def final_check(self) -> list[str]:
        """The maintained result snapshot must equal the reference."""
        got = self._stores["result"].read(self.spark).select(*OUT_COLS).collect()
        return reference.compare_rows(
            "result snapshot", reference.sorted_rows(tuple(r) for r in got), self.ref.result()
        )

    # -- traced run -----------------------------------------------------

    def counts(self, records: int) -> dict[str, float]:
        """Count metrics of the round just checked: rows rewritten in
        the six topic stores (parquet footers of the files the round
        wrote), commit markers created, and the join result rows the
        program computed (observed on the join's output, in whatever
        execution the program runs it) per changelog row it emitted.
        Empty unless ``collect_counts`` was set."""
        if not self.collect_counts:
            return {}
        new = measure.list_files(self.stores_dir) - self._files_before
        result_dir = os.path.join(self.stores_dir, "result") + os.sep
        snap = [
            p for p in new
            if p.endswith(".parquet") and f"{os.sep}snap{os.sep}" in p and not p.startswith(result_dir)
        ]
        rewritten = measure.parquet_rows(snap)
        commits = sum(
            1 for p in new
            if os.path.basename(os.path.dirname(p)) == "_commits" and not os.path.basename(p).startswith(".")
        )
        computed = 0
        if self._join_rows is not None:
            # a join the program did not run computed nothing: poll the
            # observation rather than block on it
            done = self._join_rows._jo.future()  # noqa: SLF001
            for _ in range(100):
                if done.isCompleted():
                    computed = self._join_rows.get["rows"]
                    break
                time.sleep(0.1)
        return {
            "store.rows_rewritten": rewritten,
            "store.write_amp": rewritten / records,
            "versioned.commits": commits,
            "join.rows_computed": computed,
            "join.recompute_ratio": computed / max(1, self._last_changelog_rows),
        }

    def install_spans(self, tracer) -> None:
        tracer.wrap(pipeline, "run_snapshot_join_pipeline", "pipeline.run")
        tracer.wrap(SnapshotStore, "upsert", "dedup_stream.upsert",
                    tag_of=lambda store, *_: os.path.basename(store.path))
        tracer.wrap(SnapshotStore, "replace", "dedup_stream.replace")
        tracer.wrap(VersionedStore, "commit", "versioned.commit")
