"""Record linkage / entity resolution: multi-pass blocking +
edit-distance verification + best-match election.

The classic Fellegi–Sunter pipeline shape (also Newcombe 1959, and
every modern dedupe/Splink-style system): comparing all record pairs
is O(n²), so candidate pairs are generated by BLOCKING — records only
meet when they share a cheap derived key (first token, phonetic code,
length bucket). Multiple blocking passes run in parallel and their
candidate sets union, because any single key misses pairs that differ
exactly in that key (two records whose first token was mistyped still
collide on the last token). Survivors get the expensive comparator
(Levenshtein here — `F.levenshtein` is a native JVM expression and
DuckDB implements the identical integer metric, so results are
exactly oracle-checkable).

Design for 100 TB:

- Each blocking pass is ONE equi-self-join on the block key (shuffle
  on that key); no cartesian anywhere. Block-key fan-out is the knob:
  a key shared by b records yields b·(b−1)/2 pairs, so passes should
  use keys with bounded selectivity (``max_block_size`` guards the
  pathological key by counting and dropping oversized blocks BEFORE
  the join — the standard Splink "block too big" escape).
- The cross-pass union dedups on the (id_a, id_b) pair — one more
  keyed shuffle, bounded by the candidate count, not the corpus.
- Verification is a narrow projection over candidates (edit distance
  only computed for pairs that survived blocking).
- Best-match election is a window argmin per left id — one shuffle.

The reference engine has no fuzzy-matching surface (its joins are
exact on tx hashes); this operator is part of the training-data /
warehouse superset, where near-duplicate entity names (suppliers,
addresses, document titles) are a first-class cleaning problem.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def blocked_candidates(
    df: DataFrame,
    id_col: str,
    block_keys: Sequence[Callable[[DataFrame], Column]],
    max_block_size: int | None = None,
) -> DataFrame:
    """Candidate id pairs ``(id_a, id_b)`` with ``id_a < id_b`` from
    multi-pass blocking: for each key expression, records sharing the
    key value are paired via ONE equi-self-join; passes union and the
    pair set dedups. ``max_block_size`` drops any key value whose
    block exceeds the bound before the join (a map-side-combined
    count + semi filter), keeping the worst key's fan-out from
    producing a quadratic pass.
    """
    passes = []
    for i, key_fn in enumerate(block_keys):
        keyed = df.select(
            F.col(id_col).alias("__id"), key_fn(df).alias("__bk")
        ).where(F.col("__bk").isNotNull())
        if max_block_size is not None:
            ok = (
                keyed.groupBy("__bk")
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") <= max_block_size)
                .select("__bk")
            )
            keyed = keyed.join(ok, "__bk", "left_semi")
        a = keyed.select(F.col("__bk"), F.col("__id").alias("id_a"))
        b = keyed.select(F.col("__bk"), F.col("__id").alias("id_b"))
        passes.append(
            a.join(b, "__bk").where(F.col("id_a") < F.col("id_b")).select(
                "id_a", "id_b"
            )
        )
    out = passes[0]
    for p in passes[1:]:
        out = out.union(p)
    return out.distinct()


def fuzzy_pairs(
    df: DataFrame,
    name_col: str,
    block_keys: Sequence[Callable[[DataFrame], Column]],
    max_distance: int,
    id_col: str | None = None,
    max_block_size: int | None = None,
) -> DataFrame:
    """Near-duplicate record pairs: blocking candidates verified by
    Levenshtein distance ≤ ``max_distance``. Returns
    ``(name_a, name_b, edit_dist)`` (plus the ids when ``id_col`` is
    given). When ``id_col`` is None the distinct ``name_col`` values
    are linked (entity-level dedup — the usual first pass, since
    verbatim duplicates are exact-dedup's job, not the comparator's).
    """
    if id_col is None:
        ents = df.select(F.col(name_col)).distinct()
        id_col = name_col
    else:
        ents = df.select(id_col, name_col)
    cand = blocked_candidates(ents, id_col, block_keys, max_block_size)
    left = ents.select(
        F.col(id_col).alias("id_a"), F.col(name_col).alias("name_a")
    )
    right = ents.select(
        F.col(id_col).alias("id_b"), F.col(name_col).alias("name_b")
    )
    verified = (
        cand.join(left, "id_a")
        .join(right, "id_b")
        .withColumn(
            "edit_dist",
            F.levenshtein(F.col("name_a"), F.col("name_b")).cast("int"),
        )
        .where(F.col("edit_dist") <= max_distance)
    )
    cols = ["name_a", "name_b", "edit_dist"]
    if id_col != name_col:
        cols = ["id_a", "id_b"] + cols
    return verified.select(*cols)


def best_match(
    pairs: DataFrame,
    left_col: str = "name_a",
    right_col: str = "name_b",
    dist_col: str = "edit_dist",
) -> DataFrame:
    """Per-left-entity argmin over verified pairs: the single best
    right match (smallest distance, ties broken by the right value for
    determinism). One window shuffle on the left key. Symmetric pair
    sets should be mirrored by the caller first if every entity must
    appear on the left.
    """
    w = Window.partitionBy(left_col).orderBy(
        F.col(dist_col).asc(), F.col(right_col).asc()
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def entity_clusters(pairs: DataFrame, rounds: int = 3) -> DataFrame:
    """Matched pairs ``(name_a, name_b)`` → entity clusters: the
    transitive-closure step every production ER pipeline runs after
    pair verification (A≈B and B≈C put A, B, C in ONE cluster even
    though A–C never met in any block). Implemented as connected
    components over the match graph
    (``operators.graph.connected_components_pointer_jump`` — min-label
    propagate + pointer jump, so ``rounds`` rounds cover chain
    diameters ~2^(rounds+1)−2, far beyond any plausible name-variant
    chain), with the lexicographically smallest member as the
    deterministic cluster id.

    Returns ``(entity, cluster_id, cluster_size)`` for every entity
    that appears in some pair (singletons are their own clusters by
    definition and carry no information — the caller left-joins this
    table and coalesces to self). One extra keyed shuffle for the
    size; label min/comparisons work on any orderable type, strings
    included.
    """
    from blockchain_data_engineering_spark.operators.graph import (
        connected_components_pointer_jump,
    )

    from blockchain_data_engineering_spark.cache import finalize

    # the pair pipeline (blocking joins + comparator) feeds the CC
    # loop's edge AND node derivations — persist it once or every
    # reference re-runs the verification joins
    edges = (
        pairs.select(F.col("name_a").alias("src"), F.col("name_b").alias("dst"))
        .persist()
    )
    # read twice: label projection + cluster sizes
    cc = connected_components_pointer_jump(edges, rounds=rounds).persist()
    sizes = cc.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    out = cc.join(sizes, "label").select(
        F.col("node").alias("entity"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )
    return finalize(out, cc, edges)
