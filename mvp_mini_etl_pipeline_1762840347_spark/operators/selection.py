"""Distributed order-statistic selection WITHOUT a global sort.

``SELECT value ORDER BY value LIMIT 1 OFFSET rank-1`` -- the exact
k-th smallest element -- is the primitive behind exact medians,
trimmed means, winsor bounds, and percentile cut-offs.  The naive
Spark forms are both scale-killers: a global ``orderBy`` shuffles and
sorts the full table; an unpartitioned ``row_number()`` window moves
it through ONE reducer.

This operator runs the classic iterative histogram-narrowing
selection instead (the median-of-histograms algorithm), steered from
the driver: each round bins every query's candidate range into
``bins`` equi-width buckets with ONE map-side-combinable aggregation,
collects the <= ``bins`` x queries histogram rows, and picks each
query's bucket and residual rank in exact Python-int arithmetic.  The
next round's plan carries those bounds as literals.  Rounds stop when
every chosen bucket is one value wide: that value IS the order
statistic, so no final window pass sorts a sliver.

Why the driver steers: the earlier form kept bucket bounds and
residual ranks in broadcast frames so the whole selection was one
lazily composed plan, but every round's bounds then ran as its own
broadcast/subquery job -- 12 of the 15 jobs one
``token_weighted_median_len`` call ran (sf0.1, 4 cores), each on
nested-loop joins and DECIMAL bound arithmetic.  A driver round-trip
of a few hundred rows costs less than one such job.

Multiple ranks (e.g. the two trim points of a trimmed mean, or a
whole percentile grid) resolve in the SAME passes: queries that share
a candidate range share its histogram, and every round is one scan
however many ranks ride along.  When ``v`` itself carries a ``qid``
column, each query selects over ONLY its own group's rows -- exact
per-group percentiles (p95 per tenant/event type) in the same passes.

At 100 TB: ⌈log_bins(hi − lo + 1)⌉ scans of ``v``, each with
constant-size partial state, and at most ``bins`` x queries rows sent
to the driver per round (256 bins resolve any 32-bit range in 4
rounds, any 64-bit one in 8).  The per-row cost is one CASE branch
per active candidate range.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LONG_MAX = (1 << 63) - 1


def _bin(lo: int, hi: int, bw: int) -> Column:
    """Bucket of ``c`` in ``[lo, hi]`` at width ``bw`` (``c - lo``
    integer-divided).  ``c - lo`` fits a BIGINT whenever the range
    does; a range wider than the BIGINT domain (only when ``lo < 0``)
    takes the DECIMAL form for the rows where the subtraction would
    overflow, so every realistic dataset stays on the all-long path
    and nothing ever rounds through a double (past 2^53 a double
    cannot tell neighbouring values apart)."""
    c = F.col("c")
    fast = F.call_function("div", c - F.lit(lo), F.lit(bw))
    if hi - lo <= _LONG_MAX:
        return fast
    wide = F.call_function(
        "div", c.cast("decimal(38,0)") - F.lit(lo), F.lit(bw)
    ).cast("bigint")
    return F.when(c <= F.lit(_LONG_MAX + lo), fast).otherwise(wide)


def rank_select(
    v: DataFrame,
    ranks: Mapping[str, int | None],
    bounds: tuple[int | None, int | None] | Mapping[str, tuple[int, int]],
    bins: int = 256,
    weight: str | None = None,
) -> dict[str, int]:
    """Return ``{qid: value}``: for each rank query, the rank-th
    smallest ``c`` among the rows the query selects over.

    ``v``: a DataFrame with a BIGINT column ``c`` (integer domain --
    use cents / scaled integers for money), optionally a BIGINT
    ``weight`` column, and optionally a ``qid`` column.  WITHOUT a
    ``qid`` column every rank query runs over all of ``v``; WITH one,
    query ``qid`` selects over only the rows whose ``v.qid`` matches
    (grouped selection -- per-group exact percentiles).  Every round
    scans ``v``, so the caller should ``localCheckpoint`` a
    scan-derived ``v``.

    ``ranks``: ``{qid: rank}`` with 1-based ranks in ``[1, total]``
    (row count, or total weight when weighted) of the query's rows.
    In the ungrouped case ``qid`` is just a label; in the grouped case
    it must match ``v.qid`` values.  A rank that is None or below 1,
    or one past the query's total, selects nothing: its qid is absent
    from the result (the empty-input case).

    ``bounds``: the value range as Python ints, read from the
    aggregate the caller already runs for the ranks -- ``(lo, hi)``
    shared by every query (ungrouped), or ``{qid: (lo, hi)}``
    (grouped).  Any superset of the true range selects identical
    values; a None bound (no rows) selects nothing.

    ``weight``: optional positive-BIGINT weight column in ``v``.
    Ranks are then in WEIGHT units: the result is the smallest value
    whose cumulative weight (values ordered ascending) reaches
    ``rank`` -- e.g. rank = total_weight/2 gives the weighted median
    ("the median token's document", not the median document, when
    weighting doc lengths by token count).  Unweighted selection is
    the weight-1 special case; histogram state stays constant-size
    either way.
    """
    grouped = "qid" in v.columns
    # qid -> [lo, hi, residual rank] while the query is unresolved
    live: dict[str, list[int]] = {}
    for q, rank in ranks.items():
        lo, hi = bounds.get(q, (None, None)) if grouped else bounds
        if rank is not None and rank >= 1 and lo is not None and hi is not None:
            live[q] = [lo, hi, rank]
    done = {q: st[0] for q, st in live.items() if st[0] == st[1]}
    live = {q: st for q, st in live.items() if st[0] != st[1]}
    w = F.col(weight) if weight else F.lit(1).cast("bigint")

    def _range(q: str, st: list[int]) -> tuple:
        return (q if grouped else None, st[0], st[1])

    while live:
        # one histogram per distinct candidate range (ungrouped
        # queries descend one bucket tree, so their ranges at the
        # same depth are equal or disjoint); key = range * bins + bin
        ranges = list(dict.fromkeys(_range(q, st) for q, st in live.items()))
        index = {r: i for i, r in enumerate(ranges)}
        key = None
        for i, (g, lo, hi) in enumerate(ranges):
            bw = (hi - lo + bins) // bins
            cond = F.col("c").between(F.lit(lo), F.lit(hi))
            if grouped:
                cond = (F.col("qid") == F.lit(g)) & cond
            val = F.lit(i * bins) + _bin(lo, hi, bw)
            key = F.when(cond, val) if key is None else key.when(cond, val)
        hist: dict[int, list[tuple[int, int]]] = {}
        for k, n in (
            v.groupBy(key.alias("k")).agg(F.sum(w).alias("n")).collect()
        ):
            if k is not None:  # rows outside every candidate range
                hist.setdefault(k // bins, []).append((k % bins, n))
        for q, st in list(live.items()):
            lo, hi, rank = st
            bw = (hi - lo + bins) // bins
            before = 0
            del live[q]
            for b, n in sorted(hist.get(index[_range(q, st)], [])):
                if before + n >= rank:
                    new_lo, new_hi = lo + b * bw, min(hi, lo + (b + 1) * bw - 1)
                    if new_lo == new_hi:
                        done[q] = new_lo
                    else:
                        live[q] = [new_lo, new_hi, rank - before]
                    break
                before += n
    return done
