"""Fuzzy string matching: edit-distance similarity join via FastSS
deletion neighborhoods (extension; the reference has no string
matching of any kind).

Entity-resolution primitive: two strings with Levenshtein distance
<= k share at least one common variant obtainable by deleting <= k
characters from each (the FastSS result, public knowledge: take any
optimal alignment; for each substitution delete the aligned char from
BOTH sides, for each insert/delete delete the extra char from ONE
side — at most k deletions per side yield a common string). The
candidate join is therefore a plain equi-join on generated deletion
variants — no all-pairs comparison ever happens. Verification runs
the exact integer DP (levenshtein) on candidates only; integer output
means the cross-engine oracle needs no rounding care at all.

Scale design:
- **Pre-aggregation by name** (r5, VERDICT r4 ask #4): variants are
  generated once per DISTINCT name, not per row — real entity tables
  duplicate names heavily, and duplicate rows previously generated
  duplicate variant sets and duplicate candidate-join traffic. Rows
  rejoin by name after the name-level neighbor mass is computed, so
  a corpus with duplication factor d shrinks the variant index, the
  shuffle, and the verify volume by ~d each.
- Each distinct name of length L explodes to at most L+1 variants at
  k=1 and ~L^2/2 at k=2, so the index is O(distinct-names x L^k);
  the variant equi-join is hash-partitioned and AQE's skew-join
  splits hot variants (common names).
- The join key is the variant's 64-bit hash, not the string: the
  shuffle carries 8 bytes per key; a hash collision only ADDS a
  candidate the exact verify kills, so losslessness is unaffected
  (proven by the brute-force oracle on the registered queries).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["deletion_variants", "deletion_variants_k2", "fuzzy_neighbor_counts"]


def _delete_one(name: Column, j: Column) -> Column:
    """``name`` with 1-based position j removed — the single shared
    definition of the deletion expression (three inline copies of
    this positional arithmetic used to exist; an off-by-one fix to
    one would have silently left the k=1 and k=2 indexes
    disagreeing)."""
    return F.concat(
        F.substring(name, F.lit(1), j - 1),
        name.substr(j + 1, F.length(name)),
    )


def deletion_variants(name: Column) -> Column:
    """Distinct single-deletion variants of ``name``, plus the string
    itself (position 0 = keep)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.length(name)),
            lambda j: F.when(j == 0, name).otherwise(_delete_one(name, j)),
        )
    )


def _delete_two(name: Column, p: Column, q: Column) -> Column:
    """``name`` with 1-based positions p < q removed."""
    return F.concat(
        F.substring(name, F.lit(1), p - 1),
        F.substring(name, p + 1, q - p - 1),
        name.substr(q + 1, F.length(name)),
    )


def deletion_variants_k2(name: Column) -> Column:
    """Distinct variants of ``name`` with AT MOST two characters
    deleted (includes the string itself and every single-deletion
    variant, so a k=2 index also catches distance-0/1 matches).

    Generated as a flattened (p, q) grid with 0 = "no deletion":
    (0,0) keeps the string, (p,p) deletes one char, (p,q<p... skipped)
    — q ranges from p upward so each unordered deletion set appears
    once; array_distinct collapses the duplicates that repeated
    characters produce (deleting either of two adjacent zeros is the
    same string, which is what keeps the index small on low-entropy
    keys).
    """
    return F.array_distinct(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.length(name)),
                lambda p: F.transform(
                    F.sequence(p, F.length(name)),
                    lambda q: F.when((p == 0) & (q == 0), name)
                    .when(p == 0, _delete_one(name, q))
                    .when(p == q, _delete_one(name, p))
                    .otherwise(_delete_two(name, p, q)),
                ),
            )
        )
    )


def fuzzy_neighbor_counts(
    df: DataFrame,
    id_col: str,
    name_col: str,
    *,
    max_distance: int = 1,
) -> DataFrame:
    """Per-row count of OTHER rows whose ``name_col`` is within
    ``max_distance`` (1 or 2) Levenshtein edits — including rows with
    the identical name (distance 0).

    Emits (id, n_similar) for every row with >= 1 fuzzy neighbor.

    Shape: dedup to distinct names (+ multiplicity), FastSS variant
    equi-join + exact verify at NAME level, then the per-name
    neighbor mass ``(own_count - 1) + sum(neighbor_counts)`` fans
    back out to ids with one join. All pair work scales with distinct
    names; row duplication only affects the narrow per-name exchanges
    and the final fan-back join.
    """
    if max_distance not in (1, 2):
        raise NotImplementedError(
            "deletion neighborhood depth is wired for k in {1, 2}; "
            "deeper k needs larger multi-deletion variant grids and "
            "is deliberately rejected rather than silently scanning "
            "all pairs"
        )
    variants_of = deletion_variants if max_distance == 1 else deletion_variants_k2
    from ..engine import fanout_repartition

    base = df.select(
        F.col(id_col).alias("__id"), F.col(name_col).alias("__nm")
    )
    names = base.groupBy("__nm").agg(F.count("*").cast("long").alias("__cnt"))
    # explicit-N exchanges (guide §2.5 / the fanout_repartition
    # rationale in engine.py), each defeating AQE's byte-based
    # coalesce, which folded this KB-sized but CPU-heavy work to one
    # task: (a) on the NAME, below the distinct it already clusters,
    # ahead of the (interpreted, O(L²)-per-name) deletion-variant
    # explode — stacked on the ``names`` aggregate instead, it would
    # be a second exchange whenever the cores differ from
    # shuffle.partitions; (b) on the VARIANT HASH ahead of the
    # levenshtein self-join, whose two sides are both these
    # exchanges, so the planner re-sizes them in place (to
    # shuffle.partitions when larger) and adds none
    idx = fanout_repartition(
        fanout_repartition(base.select("__nm"), "__nm")
        .distinct()
        .select("__nm", F.explode(variants_of(F.col("__nm"))).alias("__v"))
        .select("__nm", F.xxhash64("__v").alias("__vh")),
        "__vh",
    )
    l, r = idx.alias("l"), idx.alias("r")
    # the DP verify runs BEFORE the dedup exchange: a pair sharing m
    # variants (plus hash-collision false candidates) would otherwise
    # shuffle m copies with both name strings through distinct() only
    # to be discarded after (review finding); post-filter, the
    # distinct carries surviving name pairs only
    # shuffle_hash hint, twice over: (a) the variant index is
    # O(corpus x L) — at scale it must never be broadcast, and AQE's
    # small-SF broadcast choice would hide that; (b) measured 4x: the
    # BroadcastHashJoin evaluates the residual join condition
    # (levenshtein) on its non-codegen path — 8.1s vs 2.1s for the
    # same join volume at sf0.1
    pairs = (
        l.join(
            r.hint("shuffle_hash"),
            (F.col("l.__vh") == F.col("r.__vh"))
            & (F.col("l.__nm") < F.col("r.__nm")),
        )
        .filter(
            F.levenshtein(F.col("l.__nm"), F.col("r.__nm")) <= max_distance
        )
        .select(
            F.col("l.__nm").alias("nm_a"),
            F.col("r.__nm").alias("nm_b"),
        )
        .distinct()
    )
    neigh = (
        pairs.select(F.col("nm_a").alias("__nm"), F.col("nm_b").alias("__onm"))
        .unionAll(
            pairs.select(F.col("nm_b").alias("__nm"), F.col("nm_a").alias("__onm"))
        )
        .join(
            names.select(
                F.col("__nm").alias("__onm"), F.col("__cnt").alias("__ocnt")
            ),
            "__onm",
        )
        .groupBy("__nm")
        .agg(F.sum("__ocnt").alias("__others"))
    )
    per_name = names.join(neigh, "__nm", "left").select(
        "__nm",
        (
            F.col("__cnt") - F.lit(1) + F.coalesce(F.col("__others"), F.lit(0))
        ).alias("n_similar"),
    )
    return (
        base.join(per_name, "__nm")
        .filter(F.col("n_similar") > 0)
        .select(F.col("__id").alias("id"), F.col("n_similar"))
    )
