"""Shared IVF / IVF-PQ pipeline stages (integer-exact doctrine).

The trained ANN family — ``ann_ivf_kmeans_topk``,
``ivf_pq_kmeans_adc_topk``, ``ivf_pq_residual_adc_topk``
(queries/advanced.py) and :func:`operators.clustering.ivf_kmeans_topk`
— share four stages that used to live as near-identical inline copies
(VERDICT r10 "Next round" #8: lifting them cuts drift risk before the
next variant; OPQ rotation slots in as "rotate, then
:func:`subvectors`").  Every helper follows the repo's integer
doctrine: vectors are pre-quantized to BIGINT micro-coordinates,
distances are BIGINT squared-L2 (``clustering.d2_int_expr``), argmins
tie-break on the id, so results are bit-identical across engines and
physical orderings.

Scale contract (unchanged from the inlined forms): centroid and
codebook tables are control-plane-sized and BROADCAST; the corpus
side never shuffles for scoring (crossJoin against a broadcast is
map-side); assignment collapses map-side via min_by partial
aggregation; probes are a per-QUERY window (|queries| rows, never
corpus-partitioned); the ADC candidate set is bounded by the
probed-cluster semi-join.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from kcidb_spark.operators.clustering import d2_int_expr


def coarse_score(
    vecs: DataFrame, cdf: DataFrame, carry: Sequence[str] = ()
) -> DataFrame:
    """(id, *carry, [cq if carried], c_id, d2): every vector scored
    against every BROADCAST centroid — the shared input of assignment
    and probing.  ``vecs``: (id, q array<bigint>); ``cdf``: (c_id,
    cq array<bigint>).  ``carry`` lists extra columns to keep ("q"
    for exact rescoring, "cq" for residual encoding)."""
    cols = ["id", *[c for c in carry if c != "cq"]]
    if "cq" in carry:
        cols.append("cq")
    return vecs.crossJoin(F.broadcast(cdf)).select(
        *cols, "c_id", F.expr(d2_int_expr("q", "cq")).alias("d2")
    )


def coarse_assign(
    scored_c: DataFrame, carry: Sequence[str] = ()
) -> DataFrame:
    """(id, c_id, *carry): nearest-centroid assignment — min_by with
    c_id tie-break, a map-side partial aggregation (the k candidate
    rows per vector collapse before any exchange)."""
    aggs = [F.min_by("c_id", F.struct("d2", "c_id")).alias("c_id")]
    aggs += [F.first(c).alias(c) for c in carry]
    return scored_c.groupBy("id").agg(*aggs)


def coarse_probes(
    scored_c: DataFrame,
    n_queries: int,
    nprobe: int,
    carry: Sequence[str] = (),
) -> DataFrame:
    """(q_id, c_id, *carry): each query's ``nprobe`` nearest coarse
    clusters — a window over |queries| × |centroids| rows (both
    control-plane dials), partitioned per query."""
    w = W.partitionBy("id").orderBy("d2", "c_id")
    return (
        scored_c.filter(F.col("id") < n_queries)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select(F.col("id").alias("q_id"), "c_id", *carry)
    )


def subvectors(
    df: DataFrame,
    id_cols: Sequence[str],
    vec_col: str,
    n_subs: int,
    subdim: int,
    out_col: str = "q",
) -> DataFrame:
    """(s, *id_cols, out_col): the PQ subvector explode — vector →
    ``n_subs`` slices of ``subdim``, subspace id first so per-subspace
    training/encoding groups by a leading key."""
    return df.select(
        *id_cols,
        F.explode(F.expr(f"sequence(0, {n_subs - 1})")).alias("s"),
        vec_col,
    ).select(
        F.col("s").cast("bigint").alias("s"),
        *id_cols,
        F.expr(
            f"slice({vec_col}, s * {subdim} + 1, {subdim})"
        ).alias(out_col),
    )


def d2_int(a, b) -> int:
    """Exact BIGINT squared L2 on the driver — the Python twin of
    :func:`clustering.d2_int_expr` (Python ints are
    arbitrary-precision, so the value is identical to Spark's BIGINT
    arithmetic on every in-range input).

    Length-match precondition ASSERTED (ADVICE r15): the in-plan form
    null-pads via zip_with (a mismatched pair aggregates to NULL and
    fails loudly downstream), while Python's zip would silently
    truncate — the driver-side routing would then quietly diverge
    from the in-plan form instead of failing the same way."""
    if len(a) != len(b):
        raise ValueError(
            f"d2_int: length mismatch {len(a)} vs {len(b)} — malformed "
            f"vector (the in-plan zip_with form fails loudly on these; "
            f"the driver-side twin must too)"
        )
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def route_int_driver(qrows, cents, nprobe: int):
    """[(q_id, c_id)] in per-query (d2, c_id) order, ``nprobe`` per
    query — the driver-side twin of :func:`coarse_probes` over
    driver-held integer centroids (identical argmin and tie-break:
    ``row_number() over (order by d2, c_id) <= nprobe``).  ``qrows``:
    [(q_id, q list)].  Control-plane-sized output by contract
    (queries are request-scale; centroids k·dim)."""
    pairs = []
    for qid, q in qrows:
        near = sorted(
            (d2_int(q, cq), int(c_id)) for c_id, cq in cents
        )[:nprobe]
        pairs.extend((qid, c) for _, c in near)
    return pairs


def pq_dt_driver(qrows, books, n_subs: int, subdim: int):
    """[(q_id, s, m, d)] — the driver-side twin of
    ``pq_score(subvectors(...), bdf)`` over driver-held codebooks:
    per query and book entry, the exact BIGINT d2 of the query's s-th
    subvector against codeword (s, m); book rows with s outside
    [0, n_subs) are omitted exactly like the subvectors join dropped
    them.  |queries|·S·M rows — control-plane-sized."""
    rows = []
    for qid, q in qrows:
        for s, m, bq in books:
            s = int(s)
            if not (0 <= s < n_subs):
                continue
            sub = q[s * subdim:(s + 1) * subdim]
            rows.append((qid, s, int(m), d2_int(sub, bq)))
    return rows


def subspace_codes_sql(
    books, n_subs: int, subdim: int, vec_col: str = "q"
) -> list:
    """[(s, SQL text)]: each subspace's PQ code of ``vec_col`` as the
    in-row ``array_min(array(struct(d2, m)...)).m`` argmin over that
    subspace's literal codewords, ascending s; subspaces absent from
    the books (or ≥ ``n_subs``) are omitted.  The nearest-centroid
    twin is clustering._argmin_centroid_sql."""
    from kcidb_spark.operators.clustering import (
        _int_array_sql,
        d2_int_expr,
    )

    by_s: dict[int, list] = {}
    for s, m, bq in books:
        by_s.setdefault(int(s), []).append((int(m), bq))
    out = []
    for s in sorted(k for k in by_s if k < n_subs):
        sub = f"slice({vec_col}, {s * subdim + 1}, {subdim})"
        entries = [
            f"struct({d2_int_expr(sub, _int_array_sql(bq))} as d,"
            f" cast({m} as bigint) as m)"
            for m, bq in sorted(by_s[s])
        ]
        out.append((s, f"array_min(array({', '.join(entries)})).m"))
    return out


def inrow_codes_sql(
    books, n_subs: int, subdim: int, vec_col: str = "q"
) -> str:
    """SQL text: the full PQ encoding of ``vec_col`` as ONE generator
    expression — ``inline(array(struct(s, m), ...))`` with each
    subspace's code the in-row ``array_min(struct(d2, m)).m`` argmin
    over that subspace's literal codewords.  Row-for-row identical to
    ``pq_assign_codes(pq_score(subvectors(...), bdf))``: subspaces
    absent from the books are omitted (the inner join dropped them),
    tie-breaks are min(struct(d2, m)).  Replaces an explode ×S, a
    broadcast join and an (id, s)-keyed exchange with a projection in
    the scan task."""
    terms = [
        f"struct(cast({s} as bigint) as s, {code} as m)"
        for s, code in subspace_codes_sql(books, n_subs, subdim, vec_col)
    ]
    if not terms:
        # Empty codebook → zero code rows per input row via a TYPED
        # empty inline (a bare array() is VOID and fails analysis) —
        # exactly what the old inner join against an empty book
        # produced (empty-corpus sweep pins this).
        return "inline(cast(array() as array<struct<s: bigint, m: bigint>>))"
    return f"inline(array({', '.join(terms)}))"


def pq_score(subs: DataFrame, bdf: DataFrame) -> DataFrame:
    """(s, id, m, d2): every subvector scored against every BROADCAST
    codeword — shared input of code assignment AND (for the
    raw-vector PQ form, whose query table is cluster-independent) the
    ADC distance table."""
    return subs.join(F.broadcast(bdf), on="s").select(
        "s", "id", "m", F.expr(d2_int_expr("q", "bq")).alias("d2")
    )


def pq_assign_codes(scored_b: DataFrame) -> DataFrame:
    """(id, s, m): nearest-codeword encoding — min_by partial agg,
    same shape as coarse assignment one level down."""
    return scored_b.groupBy("id", "s").agg(
        F.min_by("m", F.struct("d2", "m")).alias("m")
    )


def adc_topk(
    n_codes: DataFrame,
    probes: DataFrame,
    dt: DataFrame,
    k: int,
    dt_keys: Sequence[str] = ("q_id", "s", "m"),
) -> DataFrame:
    """(q_id, n_id, adc_micro, rk ≤ k): the ADC search — candidates
    from the probed-cluster semi-join (broadcast probes), per-entry
    integer distances from the broadcast table ``dt`` (keyed
    ``dt_keys``: add c_id for residual/IVFADC tables), summed
    order-independently per (q, n), ranked per query."""
    w_rank = W.partitionBy("q_id").orderBy("adc_micro", "n_id")
    return (
        n_codes.join(F.broadcast(probes), on="c_id")
        .filter(F.col("n_id") != F.col("q_id"))
        .join(F.broadcast(dt), on=list(dt_keys))
        .groupBy("q_id", "n_id")
        .agg(F.sum("d").alias("adc_micro"))
        .withColumn("rk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rk") <= k)
    )
