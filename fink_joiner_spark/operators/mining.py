"""Frequent-pattern mining over grouped facts (market-basket shape).

The training-data analog: co-occurrence statistics over baskets —
parts co-ordered, tokens co-occurring in documents, sources co-cited.
One operator, the a-priori pruned pair miner: the 2-itemset pass of
the classic algorithm, which is the step that matters at scale (the
candidate explosion lives here; longer itemsets recurse on its
output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_item_support: int | None = None,
    min_pair_support: int = 2,
) -> DataFrame:
    """Frequent item PAIRS with a-priori pruning.

    A pair cannot reach ``min_pair_support`` unless BOTH items do
    (a-priori monotonicity), so items are support-filtered BEFORE the
    pair join — the pruning that makes the 2-itemset pass tractable.
    The default ``min_item_support=None`` uses ``min_pair_support``,
    which is the LOSSLESS setting; passing a larger value is an
    explicit extra interestingness threshold (rare-item pairs are
    dropped even when their pair support qualifies — the registry
    query does this deliberately at 5), not pure pruning.

    Scale: per-basket distinct items → one keyed agg for item support;
    the self-join is keyed by basket id, so candidate volume is
    Σ_b |b_filtered|² over FILTERED basket sizes, never corpus²; a
    pathological mega-basket is bounded by the item filter (only items
    frequent corpus-wide survive into it). Support counting is one
    map-side-combined aggregate keyed by the pair. Output:
    (item_a, item_b, support) with item_a < item_b canonical order.
    """
    if min_item_support is None:
        min_item_support = min_pair_support
    from fink_joiner_spark.operators.similarity import _pin_once

    # distinct (basket, item) is referenced by the support aggregate
    # and the filtered-basket join feeding BOTH self-join sides; the
    # r13 'before' AQE plan re-ran the scan+distinct subtree 4× (10
    # parquet scans, 4 reused exchanges). Materialize it once — it is
    # two integer-class columns after a dedup, strictly smaller than
    # the input the plan already scanned.
    items = _pin_once(
        df.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        ).distinct()
    )
    freq = (
        items.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_item_support)
        .select("item")
    )
    fi = items.join(freq, "item")
    a, b = fi.alias("a"), fi.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return pairs.where(F.col("support") >= min_pair_support)
