"""``near_dup_curation``: a training-data curation job over a generated
corpus with planted duplicates.

One rep is the whole job: read the corpus (``sources.batch.read_files``,
schema pinned), keep documents that pass a token-count quality filter
(``operators.text.quality_features``), drop exact duplicates
(``operators.dedup.exact_dedup``), find near-duplicate pairs
(``operators.similarity.minhash_lsh_pairs``) and keep one canonical
document per cluster (``operators.graph.keep_canonical``, which runs
``connected_components``). The job's outputs are the canonical set and
the pair list; both are collected, and the rep ends when they are.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from fink_joiner_spark.operators import dedup, graph, similarity, text
from fink_joiner_spark.sources.batch import read_files
from perfbench import gen, reference

JACCARD_THRESHOLD = 0.8


@dataclass(frozen=True)
class NearDupSize:
    docs: int
    warmup: int
    min_reps: int
    # Lowest planted near-duplicate recall a rep may report. The seed
    # tree measured 0.858-0.916 over seeds 1-20 at the "full" size with
    # the job's default LSH settings (k=16, 4 bands, threshold 0.8).
    recall_floor: float


SIZES = {
    # Two warm-up jobs, then the median of three. Without the JIT
    # compiler's CPU, which cpu_s leaves out, CPU per job was flat from
    # the second job after the cold one (8.0, 7.2, 7.0, 7.0, 7.6, 7.1,
    # 7.0 CPU-s on a quiet host), while the compiler's own share fell
    # from 10 to 3 CPU-s over the same jobs.
    "full": NearDupSize(docs=1500, warmup=2, min_reps=3, recall_floor=0.80),
    "tiny": NearDupSize(docs=400, warmup=1, min_reps=1, recall_floor=0.60),
}


class NearDupCuration:
    name = "near_dup_curation"

    def __init__(self, seed: int, work_dir: str, size: str):
        self.size = SIZES[size]
        self.warmup, self.min_reps = self.size.warmup, self.size.min_reps
        self.docs = gen.near_dup_corpus(seed, self.size.docs)
        self.path = os.path.join(work_dir, "corpus", "docs.json")
        gen.write_corpus(self.path, self.docs)
        self.kept_ref = reference.curated_input(self.docs)
        self.span = None  # set by the harness: a span-context factory
        self.collect_counts = False
        self.spark = None
        self.recall = None
        self.pairs = 0
        self._out = None

    def start(self, spark) -> list[str]:
        self.spark = spark
        return []

    def rep(self, i: int) -> tuple[float, int]:  # noqa: ARG002 — every rep is the same job
        spark = self.spark
        t0 = time.perf_counter()
        with self.span("job"):
            with self.span("text.filter"):
                raw = read_files(spark, self.path, "json", "id long, text string")
                scored = text.quality_features(raw, "text").where(
                    F.col("n_tokens") >= reference.MIN_TOKENS
                )
                firsts = dedup.exact_dedup(scored, ["text"], "id").select("id")
                kept = (
                    scored.join(firsts, "id", "left_semi")
                    .select("id", "text", "n_tokens")
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                kept.count()
            with self.span("similarity.pairs"):
                pairs = similarity.minhash_lsh_pairs(
                    kept, "id", "text", threshold=JACCARD_THRESHOLD
                ).persist(StorageLevel.MEMORY_AND_DISK)
                pairs.count()
            with self.span("graph.keep_canonical"):
                canon = graph.keep_canonical(kept, pairs, "id", "n_tokens").collect()
            pair_rows = pairs.collect()
        elapsed = time.perf_counter() - t0
        pairs.unpersist()
        kept.unpersist()
        graph.free_checkpoints()
        self._out = (canon, pair_rows)
        return elapsed, len(self.docs)

    def check(self) -> list[str]:
        canon, pair_rows = self._out
        kept = self.kept_ref
        problems = []
        edges = []
        for r in pair_rows:
            a, b, jac = r["id_a"], r["id_b"], r["jaccard"]
            if a not in kept or b not in kept or a >= b:
                problems.append(f"pair ({a}, {b}) is not an ordered pair of curated docs")
                continue
            want = reference.jaccard(kept[a], kept[b])
            if want != jac or jac < JACCARD_THRESHOLD:
                problems.append(f"pair ({a}, {b}): jaccard {jac}, expected {want}")
            edges.append((a, b))
        comp = reference.components(kept, edges)
        problems += reference.compare_rows(
            "canonical set", sorted(tuple(r) for r in canon), reference.canonical(kept, comp)
        )
        problems += reference.merged_bases(self.docs, comp)
        self.recall = reference.near_dup_recall(self.docs, kept, comp)
        self.pairs = len(edges)
        if self.recall < self.size.recall_floor:
            problems.append(f"near-dup recall {self.recall:.4f} below floor {self.size.recall_floor}")
        return problems

    def final_check(self) -> list[str]:
        return []

    def counts(self, records: int) -> dict[str, float]:  # noqa: ARG002
        return {"similarity.pairs": self.pairs, "similarity.recall": self.recall}

    def install_spans(self, tracer) -> None:
        tracer.wrap(graph, "connected_components", "graph.cc")
