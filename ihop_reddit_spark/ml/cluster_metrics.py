"""Cluster-comparison metrics (SURVEY §2.10, M9-M10).

Reference: ``ihop/clustering.py:96-350`` computes contingency / MI / entropy /
VOI / ARI / NMI / homogeneity driver-side in numpy+sklearn over dict
labelings. Here the pipeline is Spark end-to-end until the final k×k table:

1. Align the two labelings (U2 join — intersection or union universe with
   missing=−1, ``ihop/clustering.py:40-42, 163-175``).
2. One ``cube(c1, c2)`` aggregate (+ optional weight): ``grouping_id``
   separates the joint contingency cells, both marginals and the total.
3. One global aggregate over that cube yields, per level, Σ n·log₂n (the
   entropies, with MI = H(U) + H(V) − H(U,V)) and Σ C(cnt, 2) (the pair
   counts) — the table itself never needs to be dense or driver-sized;
   the whole computation is one Spark action returning one row.
4. Greedy maximum matching (M10) on the collected k×k table — inherently
   sequential, k≈hundreds, driver by design.

Log base 2 throughout, matching the reference's VOI
(``ihop/clustering.py:139-146``); ratio metrics (NMI, homogeneity,
completeness, V-measure) are base-independent.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.setops import key_alignment

MISSING_CLUSTER = -1


def align_labelings(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_label: str = "c1",
    right_label: str = "c2",
    universe: str = "intersection",
) -> DataFrame:
    """(key, c1, c2) over the intersection or union of the two key sets;
    union fills missing labels with −1 (reference semantics)."""
    how = {"intersection": "inner", "union": "full_outer"}[universe]
    out = key_alignment(
        left.select(key, left_label),
        right.select(key, right_label),
        key,
        how,
        fill={left_label: MISSING_CLUSTER, right_label: MISSING_CLUSTER},
    )
    return out


def comparison_metrics(
    aligned: DataFrame,
    left_label: str = "c1",
    right_label: str = "c2",
    weight_col: str | None = None,
) -> dict[str, float]:
    """One pass over the contingency cube → every comparison metric.

    Returns mutual_info, entropy_left/right, voi, nmi (arithmetic mean
    normalization, sklearn default), homogeneity, completeness, v_measure,
    rand_index, adjusted_rand_index. Weighted variants (reference's weighted
    VOI) via ``weight_col``; pair-counting metrics (rand/ARI) are only
    defined for unit weights and use raw counts regardless.
    """
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    # grouping_id: 0 joint cell, 1 left marginal, 2 right marginal, 3 total
    cube = aligned.cube(left_label, right_label).agg(
        F.sum(w).alias("n"),
        F.count(F.lit(1)).alias("cnt"),
        F.grouping_id().alias("g"),
    )
    n, cnt, g = F.col("n"), F.col("cnt"), F.col("g")
    levels = range(3)
    row = cube.agg(
        *[F.sum(F.when(g == lv, n * F.log2(n))).alias(f"nlogn{lv}") for lv in levels],
        *[F.sum(F.when(g == lv, cnt * (cnt - 1) / 2.0)).alias(f"pairs{lv}") for lv in levels],
        F.max(F.when(g == 3, n)).alias("N"),
        F.max(F.when(g == 3, cnt)).alias("CNT"),
    ).first()
    n_total, cnt_total = float(row["N"]), float(row["CNT"])

    def entropy(lv: int) -> float:
        # H = −Σ (n/N)·log₂(n/N) = log₂N − Σ n·log₂n / N
        return math.log2(n_total) - (row[f"nlogn{lv}"] or 0.0) / n_total

    h_joint, h_left, h_right = entropy(0), entropy(1), entropy(2)
    mi = h_left + h_right - h_joint

    # pair-counting metrics from raw counts (unit-weight semantics)
    sum_ij, sum_a, sum_b = (row[f"pairs{lv}"] or 0.0 for lv in levels)
    total_pairs = cnt_total * (cnt_total - 1) / 2.0

    rand = (
        (total_pairs + 2 * sum_ij - sum_a - sum_b) / total_pairs
        if total_pairs
        else 1.0
    )
    expected = (sum_a * sum_b) / total_pairs if total_pairs else 0.0
    max_index = 0.5 * (sum_a + sum_b)
    ari = (
        (sum_ij - expected) / (max_index - expected)
        if (max_index - expected)
        else 1.0
    )

    mean_h = (h_left + h_right) / 2.0
    homogeneity = mi / h_left if h_left else 1.0
    completeness = mi / h_right if h_right else 1.0
    v_measure = (
        2 * homogeneity * completeness / (homogeneity + completeness)
        if (homogeneity + completeness)
        else 0.0
    )
    return {
        "mutual_info": mi,
        "entropy_left": h_left,
        "entropy_right": h_right,
        "voi": h_left + h_right - 2 * mi,
        "nmi": mi / mean_h if mean_h else 1.0,
        "homogeneity": homogeneity,
        "completeness": completeness,
        "v_measure": v_measure,
        "rand_index": rand,
        "adjusted_rand_index": ari,
    }


def greedy_max_match(contingency_rows: list[tuple]) -> dict:
    """M10 — greedy argmax pairing of clusters from (c1, c2, n) rows
    (``ihop/clustering.py:318-350``): repeatedly take the largest remaining
    cell, pair its row/col, until one side is exhausted. Driver-side by
    design (k×k, sequential)."""
    remaining = sorted(contingency_rows, key=lambda r: (-r[2], r[0], r[1]))
    used_left: set = set()
    used_right: set = set()
    pairs = []
    for c1, c2, n in remaining:
        if c1 in used_left or c2 in used_right:
            continue
        pairs.append((c1, c2, n))
        used_left.add(c1)
        used_right.add(c2)
    all_left = {r[0] for r in contingency_rows}
    all_right = {r[1] for r in contingency_rows}
    return {
        "pairs": pairs,
        "unpaired_left": sorted(all_left - used_left),
        "unpaired_right": sorted(all_right - used_right),
    }
