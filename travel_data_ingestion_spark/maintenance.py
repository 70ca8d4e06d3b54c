"""Table layout: the Z-order curve value (``zorder_value``) that zo01's
data-skipping contract grades.
"""

from __future__ import annotations


def zorder_value(cols, bits: int = 16, boundaries=None):
    """Column expression: interleaved-bit Z-value over ``cols``.

    Each column is first mapped to a ``bits``-wide bucket index via its
    quantile boundaries (rank-space, so skewed distributions still fill
    the curve), then the bit planes are interleaved. Pure built-in
    expressions — codegen'd, no UDF, no shuffle of its own.

    ``boundaries`` is {col: sorted list of 2**bits - 1 cut points}
    (quantiles from ``approxQuantile``, or exact equal-width cuts as
    zo01 uses); required.

    ``bits * len(cols)`` must fit in 63 bits: plane 63 is the LONG sign
    bit, and an interleaved value reaching it flips negative — rows in
    the top half of the leading bucket range would then sort BEFORE the
    lowest buckets and the file min/max rectangles stop pruning.
    Raises instead of silently inverting the curve.
    """
    from pyspark.sql import functions as F

    if bits * len(cols) > 63:
        raise ValueError(
            f"zorder_value: bits*len(cols) = {bits * len(cols)} exceeds 63 — "
            "the interleave would overflow into the long sign bit; "
            "lower bits (e.g. bits=63//len(cols))"
        )
    ranks = []
    for c in cols:
        # bucket index = count of quantile cuts <= value (rank-space)
        arr = F.array(*[F.lit(float(x)) for x in boundaries[c]])
        b = F.aggregate(
            arr,
            F.lit(0),
            lambda acc, cut: acc + F.when(F.col(c).cast("double") >= cut, 1).otherwise(0),
        )
        ranks.append(b.cast("long"))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, r in enumerate(ranks):
            bit = F.shiftright(r, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * len(ranks) + j)
    return z

