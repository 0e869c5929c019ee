"""Focused tests for the r13 optimization internals: the
multiply-referenced-subtree materialization (`similarity._pin_once`)
and the single-pass directed-row emission (`similarity._directed_rows`)
that replaced the fwd/rev union in the containment family.

The DuckDB oracles already pin every affected REGISTERED query's
output; these tests pin the building blocks in isolation so a future
refactor can't silently change their contracts."""

from __future__ import annotations

from pyspark.sql import functions as F

from fink_joiner_spark.operators import graph, similarity


def test_pin_once_preserves_rows_and_registers_release(spark):
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    before = len(graph._PENDING_FREE)
    pinned = similarity._pin_once(df)
    assert len(graph._PENDING_FREE) == before + 1
    # lazy: no job has run yet; first action materializes, and rows
    # are exactly the input's
    assert pinned.count() == 1000
    assert pinned.agg(F.sum("k")).first()[0] == df.agg(F.sum("k")).first()[0]
    # default mechanism is persist (r14): consumers read the cached
    # relation (InMemoryTableScan) while LINEAGE IS KEPT — an
    # executor/block loss recomputes instead of failing (guide §5)
    from fink_joiner_spark import plans

    plan = plans.formatted_plan(pinned)
    assert "InMemoryTableScan" in plan, plan
    assert pinned.storageLevel.useMemory or pinned.storageLevel.useDisk
    graph.free_checkpoints()
    assert len(graph._PENDING_FREE) == 0
    # released: the relation is no longer marked for caching
    assert not (pinned.storageLevel.useMemory or pinned.storageLevel.useDisk)


def test_directed_rows_equals_union_form(spark):
    """_directed_rows must emit exactly the rows the historical
    fwd/rev unionByName emitted (both directions, thresholded,
    min_shingles-gated), just from one pass."""
    inter = spark.createDataFrame(
        [
            # (id_a, id_b, inter, na, nb)
            (1, 2, 8, 10, 20),   # fwd 0.8 >= t keeps; rev 0.4 drops
            (3, 4, 9, 10, 10),   # both 0.9 keep
            (5, 6, 4, 4, 40),    # fwd 1.0 but na=4 < min_shingles=5 drops; rev 0.1 drops
            (7, 8, 36, 45, 40),  # fwd 0.8 keeps, rev 0.9 keeps
        ],
        "id_a long, id_b long, inter long, na int, nb int",
    )
    got = similarity._directed_rows(inter, threshold=0.8, min_shingles=5)
    fwd = inter.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"),
        F.round(F.col("inter") / F.col("na"), 4).alias("containment"),
        F.col("na").alias("n_src"),
    )
    rev = inter.select(
        F.col("id_b").alias("src"), F.col("id_a").alias("dst"),
        F.round(F.col("inter") / F.col("nb"), 4).alias("containment"),
        F.col("nb").alias("n_src"),
    )
    want = (
        fwd.unionByName(rev)
        .where((F.col("containment") >= 0.8) & (F.col("n_src") >= 5))
        .select("src", "dst", "containment")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.schema == want.schema


def test_capped_jaccard_single_shingle_subtree(spark):
    """The capped path's result must reference ONE pinned shingle
    materialization: every consumer reads the cached relation
    (InMemoryTableScan), not a re-evaluated shingle subtree per
    reference."""
    from fink_joiner_spark import plans

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " + ("x" * (i % 3))) for i in range(40)],
        "doc_id long, text string",
    )
    df = similarity.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_doc_freq=20
    )
    plan = plans.formatted_plan(df)
    assert "InMemoryTableScan" in plan, plan
    graph.free_checkpoints()
