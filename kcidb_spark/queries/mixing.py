"""Corpus-assembly queries: temperature mixing, curriculum length
buckets, cross-document boilerplate detection, sliding event-time
windows, and PQ-compressed ANN search (ADC).

These extend the LLM-data-pipeline surface (SURVEY §2.10): after
dedup/quality/packing, a training corpus is *mixed* (per-language
sampling temperatures), *curriculum-bucketed* (length strata), and
swept for *boilerplate* (n-grams shared across many documents — the
cross-doc analog of text_repetition's within-doc signal).

Exactness: every hashed value is integer arithmetic, a single
correctly-rounded IEEE op chain (sqrt/divide on identical operands),
or a floor-scaled integer of such a chain — see ``_exact`` for why
double *sums* are never hashed directly.
"""

from __future__ import annotations

from textwrap import dedent

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kcidb_spark.operators.similarity import dot_expr
from kcidb_spark.queries._exact import as_money, int_sum, oracle_int_sum
from kcidb_spark.queries.oracle_sql import float_ivf_ctes, ranked, with_
from kcidb_spark.queries.pipeline import _NORM_SQL, _norm_text
from kcidb_spark.queries.ranking import _PACK_WINDOW as _PACK_WINDOW_REF
from kcidb_spark.queries.registry import register
from kcidb_spark.queries.relational import _utc
from kcidb_spark.tables import table

# ---------------------------------------------------------------------------
# Corpus mixing: temperature-scaled per-language sampling weights
# ---------------------------------------------------------------------------


@register(
    "corpus_mix_weights",
    oracle=dedent("""
        WITH g AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars
            FROM documents GROUP BY lang
        ),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
        SELECT lang, n_docs, n_chars,
               CAST(floor(1000000 * (n_docs / n_total)) AS BIGINT)
                   AS share_ppm,
               CAST(floor(1000000 * sqrt(n_docs / n_total)) AS BIGINT)
                   AS mix_ppm
        FROM g CROSS JOIN t
    """),
    tags=("pipeline", "mixing"),
)
def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling weights at temperature alpha=0.5 — the
    multilingual-corpus rebalancing step (upweight tail languages by
    sampling proportional to n^alpha instead of n).  ``mix_ppm`` is
    the unnormalized temperature share floor(1e6·sqrt(n_g/N)); the
    normalizing constant is a trivial driver-side scalar, kept out of
    the hashed output because a *sum of doubles* is aggregation-order
    dependent while sqrt/divide on identical operands are bit-stable.

    Plan: one partial-aggregable groupBy + a broadcast 1-row total —
    two scans collapse into one via Catalyst exchange reuse is not
    needed: both aggs are metadata-cheap count/sum scans.
    """
    docs = table(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    t = docs.agg(F.count(F.lit(1)).alias("n_total"))
    share = F.col("n_docs") / F.col("n_total")
    return g.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        "n_chars",
        F.floor(F.lit(1000000) * share).cast("long").alias("share_ppm"),
        F.floor(F.lit(1000000) * F.sqrt(share)).cast("long").alias("mix_ppm"),
    )


#: UniMax dials: each language contributes at most _UNIMAX_EPOCHS
#: passes over its own data, and the total training budget is
#: _UNIMAX_BUDGET tokens.  Sized so the sf0.01 gate corpus exercises
#: BOTH regimes at once (2 languages cap-bound, 3 sharing the
#: remainder with a nonzero modulo), and the sf0.001 sweep hits the
#: third branch (budget exceeds the whole corpus → everyone capped);
#: production dials are trillions of tokens and N≈4.
_UNIMAX_EPOCHS = 2
_UNIMAX_BUDGET = 38_000


@register(
    "corpus_unimax_budget",
    oracle=dedent(f"""
        WITH counts AS (
            SELECT lang,
                   CAST(sum(length(string_split({_NORM_SQL}, ' ')))
                        AS BIGINT) AS n_tokens
            FROM documents GROUP BY lang
        ),
        ord AS (
            SELECT lang, n_tokens,
                   n_tokens * {_UNIMAX_EPOCHS} AS cap,
                   CAST(row_number() OVER (
                       ORDER BY n_tokens * {_UNIMAX_EPOCHS}, lang
                   ) AS BIGINT) AS i,
                   CAST(coalesce(sum(n_tokens * {_UNIMAX_EPOCHS}) OVER (
                       ORDER BY n_tokens * {_UNIMAX_EPOCHS}, lang
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS csum_before,
                   CAST(count(*) OVER () AS BIGINT) AS L
            FROM counts
        ),
        flagged AS (
            SELECT *,
                   CASE WHEN cap * (L - i + 1)
                             <= {_UNIMAX_BUDGET} - csum_before
                        THEN 1 ELSE 0 END AS bound
            FROM ord
        ),
        kstar AS (
            SELECT CAST(coalesce(sum(bound), 0) AS BIGINT) AS k,
                   CAST(coalesce(sum(CASE WHEN bound = 1 THEN cap END),
                                 0) AS BIGINT) AS capped_sum,
                   CAST(max(L) AS BIGINT) AS L
            FROM flagged
        )
        SELECT f.lang, f.n_tokens, f.cap,
               CASE WHEN f.bound = 1 THEN f.cap
                    ELSE ({_UNIMAX_BUDGET} - k.capped_sum) // (k.L - k.k)
                         + CASE WHEN f.i - k.k
                                     <= ({_UNIMAX_BUDGET} - k.capped_sum)
                                        % (k.L - k.k)
                                THEN 1 ELSE 0 END
               END AS alloc_tokens
        FROM flagged f CROSS JOIN kstar k
    """),
    tags=("pipeline", "mixing"),
)
def corpus_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151):
    spread a total token budget UNIFORMLY across languages, except no
    language repeats its own corpus more than {_UNIMAX_EPOCHS} epochs
    — the principled multilingual mix that neither starves tail
    languages (proportional sampling) nor over-epochs them
    (temperature sampling with a hot tail).  Waterfilling, closed
    form: sort languages by cap = epochs·n ascending; language i is
    cap-BOUND iff cap_i·(langs − i + 1) ≤ budget − Σ_{{j<i}} cap_j (the
    condition is monotone down the sort, so it needs no recursion —
    once a language is unbound, all larger ones are); the unbound
    share the remainder by integer division, the modulo distributed
    one token each to the first ``remainder mod m`` unbound languages
    in sort order.  Pure BIGINT arithmetic end to end — an allocation
    differing by ±1 token between engines would hash-mismatch, so the
    floor/modulo split IS the cross-engine contract.

    Scale shape: one partial-agg scan to per-language token masses
    (≤ |langs| rows), then every window runs over that control-plane
    table — the corpus is touched exactly once."""
    toks = table(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.split(_norm_text(F.col("text")), " ")).alias("nt"),
    )
    counts = toks.groupBy("lang").agg(
        F.sum("nt").cast("long").alias("n_tokens")
    )
    w_ord = W.orderBy(F.col("cap"), F.col("lang"))
    ord_ = counts.withColumn(
        "cap", (F.col("n_tokens") * _UNIMAX_EPOCHS).cast("long")
    ).select(
        "lang", "n_tokens", "cap",
        F.row_number().over(w_ord).cast("long").alias("i"),
        F.coalesce(
            F.sum("cap").over(
                w_ord.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("long").alias("csum_before"),
        F.count(F.lit(1)).over(
            W.partitionBy().rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).cast("long").alias("L"),
    )
    flagged = ord_.withColumn(
        "bound",
        (
            F.col("cap") * (F.col("L") - F.col("i") + 1)
            <= F.lit(_UNIMAX_BUDGET) - F.col("csum_before")
        ).cast("int"),
    )
    kstar = flagged.agg(
        F.coalesce(F.sum("bound"), F.lit(0)).cast("long").alias("k"),
        F.coalesce(
            F.sum(F.when(F.col("bound") == 1, F.col("cap"))), F.lit(0)
        ).cast("long").alias("capped_sum"),
        F.max("L").alias("L2"),
    )
    rem = F.lit(_UNIMAX_BUDGET) - F.col("capped_sum")
    m = F.col("L2") - F.col("k")
    alloc = F.when(F.col("bound") == 1, F.col("cap")).otherwise(
        F.expr(f"({_UNIMAX_BUDGET} - capped_sum) div (L2 - k)")
        + F.when(
            F.col("i") - F.col("k") <= rem % m, F.lit(1)
        ).otherwise(F.lit(0))
    )
    return (
        flagged.crossJoin(F.broadcast(kstar))
        .select(
            "lang", "n_tokens", "cap",
            alloc.cast("long").alias("alloc_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Curriculum: power-of-two document-length strata
# ---------------------------------------------------------------------------


@register(
    "length_bucket_hist",
    oracle=dedent("""
        SELECT CAST(length(bin(n_chars)) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE n_chars > 0
        GROUP BY bucket
    """),
    tags=("pipeline", "curriculum"),
)
def length_bucket_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum strata: documents bucketed by
    floor(log2(n_chars))+1, computed as the *bit length* of the
    integer (``length(bin(n))``) so the boundary cases are exact
    integer ops on both engines — ``log2`` itself is libm territory
    and not bit-portable.  Map-side projection + one partial-agg
    shuffle of ≤64 bucket rows; this is the batch-assembly histogram
    that sizes per-stratum packing quotas.
    """
    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return (
        docs.groupBy(
            F.length(F.bin(F.col("n_chars"))).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate: n-grams shared across documents (cross-doc repetition)
# ---------------------------------------------------------------------------

_BP_N = 5
_BP_MIN_DF = 2


@register(
    "boilerplate_ngram_ratio",
    oracle=dedent(f"""
        WITH toks AS (
            SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t
            FROM documents
        ),
        hs AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, length(t) - {_BP_N - 1}),
                       i -> md5(array_to_string(
                                list_slice(t, i, i + {_BP_N - 1}), ' ')))
                       AS ghs
            FROM toks WHERE length(t) >= {_BP_N}
        ),
        grams AS (SELECT DISTINCT doc_id, unnest(ghs) AS gh FROM hs),
        dfreq AS (SELECT gh, CAST(count(*) AS BIGINT) AS df
                  FROM grams GROUP BY gh)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN df >= {_BP_MIN_DF} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_boiler,
               sum(CASE WHEN df >= {_BP_MIN_DF} THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE) AS boiler_ratio
        FROM grams JOIN dfreq USING (gh)
        GROUP BY doc_id
    """),
    tags=("pipeline", "quality"),
)
def boilerplate_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate: the fraction of a document's
    distinct {_BP_N}-grams that appear in ≥{_BP_MIN_DF} documents —
    the corpus-level repetition signal (headers, navigation chrome,
    license blurbs) that within-doc text_repetition cannot see.

    Scale shape: explode the *index sequence* and slice per index
    (exploding a transform()-built array is ~40× slower — measured,
    see operators/dedup.py), hash each gram to a fixed-width md5 so
    the shuffles carry 32-byte keys instead of raw 5-gram text.  The
    document-frequency count is a window over ``gh``, NOT a self-join
    against a groupBy — a join would make the explode subtree appear
    twice in the DAG and Spark would recompute the 5-gram scan from
    parquet both times (measured 2× wall here; a persist would trade
    that for corpus-sized executor memory).  Pipeline is linear:
    explode once → distinct (shuffle 1) → df window (shuffle 2) →
    doc rollup (shuffle 3), each partial-agg-friendly.  Ultra-common
    grams skew the window key — AQE's skew-split handles the hot
    bucket.
    """
    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id", F.split(_norm_text(F.col("text")), " ").alias("t")
    ).filter(F.size("t") >= _BP_N)
    grams = (
        toks.select(
            "doc_id",
            F.explode(F.expr(f"sequence(1, size(t) - {_BP_N - 1})")).alias("i"),
            "t",
        )
        .select(
            "doc_id",
            F.md5(F.expr(f"concat_ws(' ', slice(t, i, {_BP_N}))")).alias("gh"),
        )
        .distinct()
    )
    with_df = grams.withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("gh"))
    )
    boiler = F.sum(
        F.when(F.col("df") >= _BP_MIN_DF, 1).otherwise(0)
    )
    return (
        with_df.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            boiler.cast("long").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_boiler",
            (F.col("n_boiler") / F.col("n_grams")).alias("boiler_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# T9 — sliding (hopping) event-time windows
# ---------------------------------------------------------------------------

_SLIDE_SIZE_US = 600_000_000  # 10 minutes
_SLIDE_HOP_US = 300_000_000  # 5 minutes


@register(
    "t9_sliding_window",
    oracle=dedent(f"""
        WITH e AS (
            SELECT event_type, value,
                   (epoch_us(ts) // {_SLIDE_HOP_US}) * {_SLIDE_HOP_US} AS a_us
            FROM events
        ),
        w AS (
            SELECT event_type, value,
                   make_timestamp(a_us - k * {_SLIDE_HOP_US}) AS window_start
            FROM e CROSS JOIN (
                SELECT unnest(generate_series(
                    0, {_SLIDE_SIZE_US // _SLIDE_HOP_US - 1})) AS k)
        )
        SELECT window_start, event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               {oracle_int_sum('value', 100)} / 100.0 AS sum_value
        FROM w
        GROUP BY window_start, event_type
    """),
    tags=("T8", "streaming"),
)
def t9_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10-minute windows hopping every 5 (each event lands in
    size/hop = 2 windows) — the hopping-window companion to
    t8_tumbling_window; the same ``F.window(size, slide)`` expression
    is the Structured Streaming form with a watermark bounding state.
    ``F.window`` is a *generator*: the 1→2 row expansion happens
    inside the project before the partial agg, so the shuffle carries
    already-combined (window, type) partials, not doubled events.
    """
    _utc(spark)
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            int_sum(F.col("value"), 100).alias("_sv"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            as_money(F.col("_sv"), 100).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# T10 — native session windows (dynamic-gap event-time sessions)
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 1_800_000_000  # 30 minutes


@register(
    "t10_session_window",
    oracle=dedent(f"""
        WITH ordered AS (
            SELECT user_id, ts, value, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR date_diff('microsecond',
                                          lag(ts) OVER w, ts)
                                >= {_SESSION_GAP_US}
                        THEN 1 ELSE 0 END AS ns
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, value,
                   SUM(ns) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS sid
            FROM ordered
        )
        SELECT user_id, min(ts) AS session_start,
               CAST(count(*) AS BIGINT) AS n_events,
               {oracle_int_sum('value', 100)} / 100.0 AS sum_value
        FROM sess GROUP BY user_id, sid
    """),
    tags=("T8", "streaming"),
)
def t10_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows: ``F.session_window(ts, gap)`` merges
    events closer than 30 minutes into one session per user — the
    third event-time window family after tumbling (t8) and hopping
    (t9), and the batch twin of the streaming sessionizer in
    streaming/windows.py (which uses applyInPandasWithState for
    *dynamic* per-key gaps).  Unlike w_sessionize's lag+cumsum
    formulation, session_window is a first-class Catalyst operator:
    in streaming mode it carries mergeable state, in batch it
    compiles to sort-within-partition + linear merge — one shuffle
    on user_id, no window-function pass.

    Boundary semantics (oracle parity): a session spans [first_ts,
    last_ts + gap), end exclusive — an event exactly ``gap`` after
    the previous one starts a NEW session, hence the oracle's
    ``>= {_SESSION_GAP_US}`` µs island flag.
    """
    _utc(spark)
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            int_sum(F.col("value"), 100).alias("_sv"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            as_money(F.col("_sv"), 100).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ: asymmetric-distance (ADC) top-k over PQ codes
# ---------------------------------------------------------------------------

_ADC_SUBS = 8
_ADC_DIMS = 8
_ADC_CODES = 8
_ADC_CENTROIDS = 4
_ADC_QUERIES = 4
_ADC_K = 5
_ADC_SCALE = 1_000_000


def _adc_nprobe_oracle(nprobe: int) -> str:
    def d2(a: str, b: str) -> str:
        return (
            f"CAST(floor({_ADC_SCALE} * (list_dot_product({a}, {a})"
            f" - 2 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}))) AS BIGINT)"
        )

    return with_(
        float_ivf_ctes(
            _ADC_CENTROIDS, _ADC_QUERIES, nprobe, order=d2("v", "cv")
        ) + [dedent(f"""
        subs AS (
            SELECT vec_id, s,
                   v[s*{_ADC_DIMS}+1 : s*{_ADC_DIMS}+{_ADC_DIMS}] AS sub
            FROM vecs CROSS JOIN (
                SELECT unnest(generate_series(0, {_ADC_SUBS - 1})) AS s)
        ),
        cbook AS (
            SELECT vec_id AS m, s, sub AS cw FROM subs
            WHERE vec_id < {_ADC_CODES}
        ),
        codes AS (
            SELECT vec_id, s, m FROM (
                SELECT subs.vec_id, subs.s, cbook.m,
                       row_number() OVER (
                           PARTITION BY subs.vec_id, subs.s
                           ORDER BY {d2("sub", "cw")}, cbook.m) AS rn
                FROM subs JOIN cbook ON subs.s = cbook.s
            ) WHERE rn = 1
        ),
        dt AS (
            SELECT q.vec_id AS q_id, q.s, cbook.m,
                   {d2("qsub", "cw")} AS d
            FROM (SELECT vec_id, s, sub AS qsub FROM subs
                  WHERE vec_id < {_ADC_QUERIES}) q
            JOIN cbook ON q.s = cbook.s
        ),
        adc AS (
            SELECT dt.q_id, codes.vec_id AS n_id,
                   CAST(sum(dt.d) AS BIGINT) AS adc_micro
            FROM codes
            JOIN assign na ON codes.vec_id = na.vec_id
            JOIN probes qa ON qa.c_id = na.c_id
            JOIN dt ON dt.q_id = qa.q_id AND dt.s = codes.s
                   AND dt.m = codes.m
            WHERE codes.vec_id != qa.q_id
            GROUP BY dt.q_id, codes.vec_id
        )""")],
        ranked(
            "q_id, n_id, adc_micro", "q_id", "adc_micro, n_id", "rk",
            _ADC_K, "adc",
        ),
    )


@register(
    "ivf_pq_adc_topk", oracle=_adc_nprobe_oracle(1),
    tags=("similarity", "ivf"),
)
def ivf_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (Jégou et al. 2011, §IV): queries scan only their
    coarse cluster, and distances are *asymmetric* — exact query
    subvectors against the neighbors' PQ codewords via a per-query
    distance table (ADC), so the corpus side needs only its
    {_ADC_SUBS}-byte codes, never the raw vectors.  This completes the
    ann_ivf_topk → pq_encode chain: IVF prunes the search space, PQ
    compresses what remains ~{_ADC_SUBS * _ADC_DIMS * 4 // _ADC_SUBS}×.

    Scale shape: centroids, codebooks, and the Q×{_ADC_SUBS}×{_ADC_CODES}
    distance table are all tiny → broadcast; the corpus-side work is
    the code lookup join keyed (s, m) after the cluster semi-join, one
    (q,n)-keyed integer-sum shuffle, then WindowGroupLimit top-k.
    Distances are floor-scaled to BIGINT micros *per (s,m) entry*, so
    the 8-term ADC sum is integer-associative — bit-identical under
    any aggregation order (a raw double sum would not be).
    """
    return _adc_search(spark, sf_dir, nprobe=1)


_ADC_NPROBE = 2


@register(
    "ivf_pq_adc_nprobe_topk",
    oracle=_adc_nprobe_oracle(_ADC_NPROBE),
    tags=("similarity", "ivf"),
)
def ivf_pq_adc_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC search probing {_ADC_NPROBE} coarse clusters per
    query — the recall dial on the compressed-domain path (same ADC
    distance tables; the candidate set is the union of the probed
    clusters' members, still O(nprobe·cluster) code lookups, never
    the corpus)."""
    return _adc_search(spark, sf_dir, nprobe=_ADC_NPROBE)


def _adc_search(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    d2 = "{dot_aa} - 2 * {dot_ab} + {dot_bb}"

    def _d2(a: str, b: str) -> F.Column:
        return F.expr(
            f"cast(floor({_ADC_SCALE} * ("
            + d2.format(
                dot_aa=dot_expr(a, a),
                dot_ab=dot_expr(a, b),
                dot_bb=dot_expr(b, b),
            )
            + ")) as bigint)"
        )

    emb = table(spark, sf_dir, "embeddings", spread=True)
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = vecs.filter(F.col("vec_id") < _ADC_CENTROIDS).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv")
    )
    assign = (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "c_id", "v", _d2("v", "cv").alias("d"))
        .groupBy("vec_id")
        .agg(F.min_by("c_id", F.struct("d", "c_id")).alias("c_id"))
    )
    subs = vecs.select(
        "vec_id",
        F.explode(F.expr(f"sequence(0, {_ADC_SUBS - 1})")).alias("s"),
        "v",
    ).select(
        "vec_id", "s",
        F.expr(f"slice(v, s*{_ADC_DIMS}+1, {_ADC_DIMS})").alias("sub"),
    )
    cbook = subs.filter(F.col("vec_id") < _ADC_CODES).select(
        F.col("vec_id").alias("m"), "s", F.col("sub").alias("cw")
    )
    codes = (
        subs.join(F.broadcast(cbook), on="s")
        .select("vec_id", "s", "m", _d2("sub", "cw").alias("d"))
        .groupBy("vec_id", "s")
        .agg(F.min_by("m", F.struct("d", "m")).alias("m"))
    )
    dt = (
        subs.filter(F.col("vec_id") < _ADC_QUERIES)
        .withColumnRenamed("sub", "qsub")
        .join(F.broadcast(cbook), on="s")
        .select(
            F.col("vec_id").alias("q_id"), "s", "m",
            _d2("qsub", "cw").alias("d"),
        )
    )
    if nprobe == 1:
        q_probe = assign.filter(F.col("vec_id") < _ADC_QUERIES).select(
            F.col("vec_id").alias("q_id"), "c_id"
        )
    else:
        # Top-nprobe centroids per QUERY — a window over the tiny
        # query×centroid frame only (ordering (d, c_id) matches the
        # min_by struct order of the nprobe=1 assignment).
        w_probe = W.partitionBy("q_id").orderBy("d", "c_id")
        q_probe = (
            vecs.filter(F.col("vec_id") < _ADC_QUERIES)
            .crossJoin(F.broadcast(cents))
            .select(
                F.col("vec_id").alias("q_id"), "c_id",
                _d2("v", "cv").alias("d"),
            )
            .withColumn("rn", F.row_number().over(w_probe))
            .filter(F.col("rn") <= nprobe)
            .select("q_id", "c_id")
        )
    n_codes = codes.join(assign, on="vec_id").withColumnRenamed(
        "vec_id", "n_id"
    )
    w_rank = W.partitionBy("q_id").orderBy("adc_micro", "n_id")
    return (
        n_codes.join(F.broadcast(q_probe), on="c_id")
        .filter(F.col("n_id") != F.col("q_id"))
        .join(F.broadcast(dt), on=["q_id", "s", "m"])
        .groupBy("q_id", "n_id")
        .agg(F.sum("d").alias("adc_micro"))
        .withColumn("rk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rk") <= _ADC_K)
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch anti-joined against the corpus index
# ---------------------------------------------------------------------------


@register(
    "dedup_incremental",
    oracle=dedent(f"""
        WITH d AS (
            SELECT doc_id, md5({_NORM_SQL}) AS th,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS g
            FROM documents
        )
        SELECT doc_id, th FROM d
        WHERE g < '4' AND NOT EXISTS (
            SELECT 1 FROM d c WHERE c.g >= '4' AND c.th = d.th)
    """),
    tags=("dedup", "pipeline"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: the day-N batch (a deterministic
    ~25% key-hash slice stands in for it) keeps only documents whose
    normalized-text fingerprint is absent from the already-ingested
    corpus — the anti-join every append-only corpus runs per
    ingestion cycle, complementing dedup_exact's full-corpus pass.

    Scale shape: LEFT ANTI on the 32-byte fingerprint; both sides
    project to (hash[, id]) before the join so the shuffle carries
    fingerprints, not text.  The corpus side is the big one, so it is
    PRE-FILTERED with a broadcast semi-join against the day batch's
    fingerprint set before the anti-join: only corpus rows whose
    fingerprint appears in the day batch can affect an anti-join
    result, so the filter is exact (a Bloom filter with zero false
    positives), evaluated MAP-SIDE against the broadcast hash set —
    the corpus index contributes only matching fingerprints to the
    join instead of shuffling in full.  At 100 TB that turns the
    per-ingest cost from O(index) shuffle into O(index scan +
    matches); a day batch too large to broadcast falls back to the
    *bucketed* fingerprint index (operators/bucketing.py), where the
    anti-join is zero-shuffle sort-merge against pre-bucketed files.
    """
    docs = table(spark, sf_dir, "documents", spread=True)
    with_h = docs.select(
        "doc_id",
        F.md5(_norm_text(F.col("text"))).alias("th"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("g"),
    )
    new = with_h.filter(F.col("g") < "4").select("doc_id", "th")
    corpus = with_h.filter(F.col("g") >= "4").select("th")
    day_keys = new.select("th").distinct()
    corpus_hits = corpus.join(F.broadcast(day_keys), on="th", how="left_semi")
    return new.join(corpus_hits, on="th", how="left_anti").select("doc_id", "th")


def _fp_split(spark: SparkSession, sf_dir: str):
    """(new-batch, corpus) fingerprint frames of the incremental-dedup
    scenario: a deterministic ~25% doc-id-hash slice plays the day-N
    batch, the rest the already-ingested corpus."""
    docs = table(spark, sf_dir, "documents", spread=True)
    with_h = docs.select(
        "doc_id",
        F.md5(_norm_text(F.col("text"))).alias("th"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("g"),
    )
    new = with_h.filter(F.col("g") < "4").select("doc_id", "th")
    corpus = with_h.filter(F.col("g") >= "4").select("th").distinct()
    return new, corpus


def _fp_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Session-owned index location: keyed by applicationId so a
    concurrent process building the same sf's index cannot
    mode=overwrite a directory this session's probe scan is reading,
    and external tmp cleaning of another session's tree cannot break
    this one's cached probe (ADVICE r9).  The sf component is a hash
    of the NORMALIZED FULL path — two sf_dirs sharing a basename in
    one session must not collide (ADVICE r10)."""
    import hashlib
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        "kcidb_spark_fpindex",
        spark.sparkContext.applicationId,
        hashlib.sha256(
            os.path.realpath(sf_dir).encode()
        ).hexdigest()[:16],
    )


#: (applicationId, index path) pairs built THIS session — the probe
#: entry reuses a same-session index and rebuilds otherwise, so the
#: build cost is always paid (and visible) somewhere in every session,
#: never silently amortized across bench runs.
_FP_INDEX_BUILT: set = set()


def _ensure_fp_index(spark: SparkSession, sf_dir: str) -> str:
    idx_path = _fp_index_path(spark, sf_dir)
    from kcidb_spark.operators.bucketing import write_fingerprint_index

    _, corpus = _fp_split(spark, sf_dir)
    write_fingerprint_index(corpus, idx_path, key="th")
    _FP_INDEX_BUILT.add((spark.sparkContext.applicationId, idx_path))
    return idx_path


@register(
    "fpindex_build",
    oracle=dedent(f"""
        SELECT DISTINCT md5({_NORM_SQL}) AS th
        FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '4'
    """),
    tags=("dedup", "pipeline", "index"),
)
def fpindex_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-cycle index BUILD, split from the probe for honest bench
    attribution (VERDICT r8 "Next round" #6 — the combined entry's
    wall was ~2/3 rebuild): write the corpus fingerprint set as a
    range-partitioned parquet index with per-file-sized footer blooms
    (operators/bucketing.write_fingerprint_index), then read the index
    BACK and return its content — the oracle certifies the full
    write→read round trip, not just the plan.  A real pipeline pays
    this once per ingest cycle and probes many times; here the probe
    entry reuses a same-session index so (build wall + probe wall) ≈
    the old combined wall and the probe alone shows the bloom-prune
    win."""
    idx_path = _ensure_fp_index(spark, sf_dir)
    return spark.read.parquet(idx_path).select("th").distinct()


@register(
    "dedup_incremental_indexed",
    oracle=dedent(f"""
        WITH d AS (
            SELECT doc_id, md5({_NORM_SQL}) AS th,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS g
            FROM documents
        )
        SELECT doc_id, th FROM d
        WHERE g < '4' AND NOT EXISTS (
            SELECT 1 FROM d c WHERE c.g >= '4' AND c.th = d.th)
    """),
    tags=("dedup", "pipeline", "index"),
)
def dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental routed through the PERSISTED fingerprint
    index: the already-ingested corpus's fingerprints live in a
    range-partitioned parquet index with per-file-sized footer blooms
    (built by the ``fpindex_build`` entry; rebuilt here if this
    session hasn't built one — the cost is always paid in-session,
    never carried over from a previous run), and the day batch probes
    it (probe_index_new_keys): a ≤512-key batch becomes a literal IN
    predicate PUSHED INTO the index scan — row groups whose
    stats/blooms exclude every probe key are never read — and a
    larger batch (this one, at sf ≥ 0.1) a broadcast LEFT SEMI
    pre-filter, identical semantics either way (the inline bound is
    the JVM's, see operators/bucketing._MAX_INLIST).  Same anti-join
    semantics as dedup_incremental (identical oracle); what changes
    is WHERE the pruning happens.  At 100 TB the per-ingest index
    cost drops from "scan the index" to "read the row groups whose
    blooms fire".  The pushed-IN plan itself is asserted in
    tests/test_skew_bucketing.py; this entry pins the RESULT against
    the cross-engine oracle.
    """
    from kcidb_spark.operators.bucketing import probe_index_new_keys

    new, _ = _fp_split(spark, sf_dir)
    idx_path = _fp_index_path(spark, sf_dir)
    if (spark.sparkContext.applicationId, idx_path) not in _FP_INDEX_BUILT:
        idx_path = _ensure_fp_index(spark, sf_dir)
    return probe_index_new_keys(spark, idx_path, new, key="th").select(
        "doc_id", "th"
    )


def _neardup_incremental_oracle() -> str:
    from kcidb_spark.queries.pipeline import _SIG_SQL

    return dedent(f"""
        WITH {_SIG_SQL},
        g AS (
            SELECT doc_id,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS g
            FROM documents
        ),
        cand AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l
            JOIN g gl ON gl.doc_id = l.doc_id AND gl.g < '4'
            JOIN bands r ON l.band = r.band AND l.key = r.key
            JOIN g gr ON gr.doc_id = r.doc_id AND gr.g >= '4'
        ),
        shingle_set AS (
            SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh
        ),
        sizes AS (
            SELECT doc_id, count(*) AS n FROM shingle_set GROUP BY doc_id
        ),
        dup AS (
            SELECT DISTINCT i.a FROM (
                SELECT c.a, c.b, count(*) AS n_inter
                FROM cand c
                JOIN shingle_set sa ON sa.doc_id = c.a
                JOIN shingle_set sb ON sb.doc_id = c.b AND sb.s = sa.s
                GROUP BY c.a, c.b
            ) i
            JOIN sizes na ON na.doc_id = i.a
            JOIN sizes nb ON nb.doc_id = i.b
            WHERE 3 * i.n_inter >= na.n + nb.n
        )
        SELECT d.doc_id, d.lang
        FROM documents d
        JOIN g ON g.doc_id = d.doc_id AND g.g < '4'
        WHERE d.doc_id NOT IN (SELECT a FROM dup)
    """)


@register(
    "dedup_incremental_neardup",
    oracle=_neardup_incremental_oracle(),
    tags=("dedup", "minhash", "pipeline", "index"),
)
def dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR-duplicate half of the ingest cycle — dedup_incremental
    checks the day batch against the corpus by exact fingerprint; this
    entry checks it by MinHash/LSH + exact-Jaccard verify, the
    FineWeb/CCNet-style fuzzy gate an ingest pipeline runs alongside
    the exact one (a re-crawled page with a new timestamp defeats the
    md5 but not the shingle set).  A day-batch document is ACCEPTED
    iff no corpus document shares an LSH band bucket AND verifies at
    Jaccard ≥ 1/2 over distinct 3-shingles.

    Scale shape: signatures are a pure projection over one corpus
    scan (no explode), the only exchanges are the band-key equi-join
    (bucket-sized, never all-pairs — the day side is a fraction of a
    bucket) and the candidate-bounded verify joins (shingle sets are
    built ONLY for docs appearing in a candidate pair); the accept
    step is a broadcast-able anti-join on the matched-id set.  The
    boundary is integer arithmetic: 3·|∩| ≥ |A| + |B| ⇔
    |∩|/|A∪B| ≥ 1/2 — never a float threshold.  In production the
    corpus band keys live in a persisted index like fpindex_build's
    (same write_fingerprint_index layout keyed band||key); this entry
    certifies the join semantics those probes must reproduce."""
    from kcidb_spark.cache import scoped_persist
    from kcidb_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures,
        shingled,
    )

    docs = table(spark, sf_dir, "documents", spread=True)
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    sig = scoped_persist(
        minhash_signatures(docs, n_hashes=8).withColumn("g", gate)
    )
    bands = lsh_bands(sig, n_hashes=8, n_bands=2, carry=("g",))
    bn = bands.filter(F.col("g") < "4").select(
        "band", "key", F.col("doc_id").alias("a")
    )
    bc = bands.filter(F.col("g") >= "4").select(
        "band", "key", F.col("doc_id").alias("b")
    )
    cand = scoped_persist(
        bn.join(bc, on=["band", "key"]).select("a", "b").distinct()
    )
    cand_ids = (
        cand.select(F.col("a").alias("doc_id"))
        .unionByName(cand.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    sh = scoped_persist(
        shingled(
            docs.join(F.broadcast(cand_ids), on="doc_id", how="left_semi")
        ).select("doc_id", F.array_distinct("shingles").alias("sh"))
    )
    matched = (
        cand.join(
            sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sa")),
            on="a",
        )
        .join(
            sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("sb")),
            on="b",
        )
        .filter(
            3 * F.size(F.array_intersect("sa", "sb"))
            >= F.size("sa") + F.size("sb")
        )
        .select(F.col("a").alias("doc_id"))
        .distinct()
    )
    return (
        docs.filter(gate < "4")
        .join(F.broadcast(matched), on="doc_id", how="left_anti")
        .select("doc_id", "lang")
    )


def _ingest_corpus_oracle() -> str:
    from kcidb_spark.queries.pipeline import _SIG_SQL

    return dedent(f"""
        WITH {_SIG_SQL},
        g AS (
            SELECT doc_id,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS g,
                   md5({_NORM_SQL}) AS th
            FROM documents
        ),
        exact_dup AS (
            SELECT DISTINCT n.doc_id FROM g n
            JOIN g c ON c.g >= '4' AND c.th = n.th
            WHERE n.g < '4'
        ),
        cand AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l
            JOIN g gl ON gl.doc_id = l.doc_id AND gl.g < '4'
            JOIN bands r ON l.band = r.band AND l.key = r.key
            JOIN g gr ON gr.doc_id = r.doc_id AND gr.g >= '4'
        ),
        shingle_set AS (
            SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh
        ),
        sizes AS (
            SELECT doc_id, count(*) AS n FROM shingle_set GROUP BY doc_id
        ),
        near_dup AS (
            SELECT DISTINCT i.a AS doc_id FROM (
                SELECT c.a, c.b, count(*) AS n_inter
                FROM cand c
                JOIN shingle_set sa ON sa.doc_id = c.a
                JOIN shingle_set sb ON sb.doc_id = c.b AND sb.s = sa.s
                GROUP BY c.a, c.b
            ) i
            JOIN sizes na ON na.doc_id = i.a
            JOIN sizes nb ON nb.doc_id = i.b
            WHERE 3 * i.n_inter >= na.n + nb.n
        )
        SELECT d.doc_id, d.lang,
               CASE WHEN d.doc_id IN (SELECT doc_id FROM exact_dup)
                    THEN 'exact'
                    WHEN d.doc_id IN (SELECT doc_id FROM near_dup)
                    THEN 'near'
                    ELSE 'accept' END AS verdict
        FROM documents d
        JOIN g ON g.doc_id = d.doc_id AND g.g < '4'
    """)


@register(
    "pipeline_ingest_corpus",
    oracle=_ingest_corpus_oracle(),
    tags=("dedup", "minhash", "pipeline", "composed"),
)
def pipeline_ingest_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole ingest-cycle dedup stack as ONE lazy DAG — what a
    crawl-refresh run executes per batch: every day-batch document is
    labelled ``exact`` (normalized fingerprint already in the corpus),
    ``near`` (survives the exact gate but an LSH candidate verifies at
    Jaccard ≥ 1/2), or ``accept`` — the composed form of
    dedup_incremental + dedup_incremental_neardup, proving the two
    gates fuse without a materialization barrier between them (the
    near gate's candidate set is already restricted to exact-gate
    survivors, so the expensive verify runs on the smallest possible
    pair set).

    Returning the VERDICT rather than the survivor set is the
    production shape: an ingest ledger records why each document was
    dropped (dedup telemetry drives crawl-frequency decisions), and
    the oracle certifies the full three-way labelling, not just the
    accept list."""
    from kcidb_spark.cache import scoped_persist
    from kcidb_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures,
        shingled,
    )

    docs = table(spark, sf_dir, "documents", spread=True)
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    keyed = scoped_persist(
        docs.select(
            "doc_id", "lang", "text",
            gate.alias("g"),
            F.md5(_norm_text(F.col("text"))).alias("th"),
        )
    )
    new = keyed.filter(F.col("g") < "4")
    corpus_th = keyed.filter(F.col("g") >= "4").select("th").distinct()
    exact_dup = (
        new.join(corpus_th, on="th", how="left_semi")
        .select("doc_id")
        .distinct()
    )
    sig = scoped_persist(
        minhash_signatures(keyed, n_hashes=8).join(
            keyed.select("doc_id", "g"), on="doc_id"
        )
    )
    bands = lsh_bands(sig, n_hashes=8, n_bands=2, carry=("g",))
    # The near gate only needs to JUDGE exact-gate survivors, but the
    # label set covers all three classes, so candidates are generated
    # for the full day side and the exact label wins in the verdict
    # CASE (same precedence as the oracle's).
    bn = bands.filter(F.col("g") < "4").select(
        "band", "key", F.col("doc_id").alias("a")
    )
    bc = bands.filter(F.col("g") >= "4").select(
        "band", "key", F.col("doc_id").alias("b")
    )
    cand = scoped_persist(
        bn.join(bc, on=["band", "key"]).select("a", "b").distinct()
    )
    cand_ids = (
        cand.select(F.col("a").alias("doc_id"))
        .unionByName(cand.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    sh = scoped_persist(
        shingled(
            keyed.join(F.broadcast(cand_ids), on="doc_id", how="left_semi")
        ).select("doc_id", F.array_distinct("shingles").alias("sh"))
    )
    near_dup = (
        cand.join(
            sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sa")),
            on="a",
        )
        .join(
            sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("sb")),
            on="b",
        )
        .filter(
            3 * F.size(F.array_intersect("sa", "sb"))
            >= F.size("sa") + F.size("sb")
        )
        .select(F.col("a").alias("doc_id"))
        .distinct()
    )
    verdict = F.when(F.col("_ex").isNotNull(), "exact").when(
        F.col("_nr").isNotNull(), "near"
    ).otherwise("accept")
    return (
        new.select("doc_id", "lang")
        .join(
            F.broadcast(exact_dup.withColumn("_ex", F.lit(1))),
            on="doc_id",
            how="left",
        )
        .join(
            F.broadcast(near_dup.withColumn("_nr", F.lit(1))),
            on="doc_id",
            how="left",
        )
        .select("doc_id", "lang", verdict.alias("verdict"))
    )


# ---------------------------------------------------------------------------
# Quality gate: drop the per-language bottom quartile (integer-exact)
# ---------------------------------------------------------------------------


@register(
    "quality_percentile_filter",
    oracle=dedent("""
        SELECT doc_id, lang, n_chars, rk FROM (
            SELECT doc_id, lang, n_chars,
                   CAST(row_number() OVER (
                       PARTITION BY lang ORDER BY n_chars, doc_id
                   ) AS BIGINT) AS rk,
                   count(*) OVER (PARTITION BY lang) AS cnt
            FROM documents
        ) WHERE rk > cnt // 4
    """),
    tags=("pipeline", "quality"),
)
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language bottom-quartile drop: rank documents by length
    inside each language and discard the shortest ⌊n/4⌋ — the
    relative quality gate (absolute thresholds misfire across
    languages; quantile gates self-calibrate per stratum).

    The quartile boundary is *pure integer arithmetic* — exact rank
    vs count, keep ``rk > cnt div 4`` — because percent_rank()'s
    (rk-1)/(n-1) division lands on engine-specific double formatting
    only special-cases avoid; integers don't argue.  The rank is
    DISTRIBUTED (operators/rank.py): a lang-partitioned window would
    sort each language in ONE task — a multi-TB sort when one
    language is half the crawl (VERDICT r9 finding #1); the bucketed
    two-phase form bounds every task at |stratum|/P rows.
    """
    from kcidb_spark.operators.rank import stratified_row_number

    docs = table(spark, sf_dir, "documents")
    ranked = stratified_row_number(
        docs.select("doc_id", "lang", "n_chars"),
        "lang",
        "n_chars",
    )
    return (
        ranked.filter(F.col("rk") > F.floor(F.col("cnt") / 4))
        .select("doc_id", "lang", "n_chars", "rk")
    )


# ---------------------------------------------------------------------------
# End-to-end corpus assembly: quality → dedup → mix → pack in one DAG
# ---------------------------------------------------------------------------


@register(
    "pipeline_assemble_corpus",
    oracle=dedent(f"""
        WITH normed AS (
            SELECT doc_id, lang, n_chars, {_NORM_SQL} AS norm
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, lang, norm,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY n_chars, doc_id) AS rk,
                   count(*) OVER (PARTITION BY lang) AS cnt
            FROM normed
        ),
        q AS (
            SELECT doc_id, lang, norm, md5(norm) AS th
            FROM ranked WHERE rk > cnt // 4
        ),
        keepers AS (
            SELECT th, min(doc_id) AS keep_id FROM q GROUP BY th
        ),
        dd AS (
            SELECT q.doc_id, q.lang, q.norm
            FROM q JOIN keepers
              ON q.th = keepers.th AND q.doc_id = keepers.keep_id
        ),
        s AS (
            SELECT doc_id, lang, norm FROM dd
            WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                  < CASE WHEN lang = 'en' THEN '8' ELSE '4' END
        ),
        toks AS (
            SELECT doc_id, lang,
                   CAST(length(string_split(norm, ' ')) AS BIGINT) AS n
            FROM s
        ),
        cum AS (
            SELECT doc_id, lang, n,
                   SUM(n) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS c
            FROM toks
        )
        SELECT doc_id, lang, n AS n_tokens,
               CAST(c - n AS BIGINT) AS start_offset,
               CAST(floor((c - n) / {_PACK_WINDOW_REF}) AS BIGINT)
                   AS window_id
        FROM cum
    """),
    tags=("pipeline", "composed"),
)
def pipeline_assemble_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus assembly line as ONE lazy DAG —
    per-language bottom-quartile quality gate → exact dedup (keep the
    smallest id per normalized-text fingerprint) → temperature-mix
    stratified sampling (en downweighted) → sequence packing into
    {_PACK_WINDOW_REF}-token windows via the distributed prefix scan.
    This is the composed form of quality_percentile_filter +
    dedup_exact + sample_stratified + seq_pack_windows, proving the
    stages fuse without materialization barriers between them.

    Scale shape: the quality gate ranks via the bucketed two-phase
    form (operators/rank.py — no single-task stratum sort); dedup is
    a fingerprint-keyed partial-agg + keeper join (the q frame is
    scoped-persisted — it feeds both sides without recomputing the
    tokenize); the sample gate is a map-side filter costing nothing;
    packing adds one bucket shuffle + a ≤64-row broadcast.  One
    parquet scan feeds everything (plan-audited: every later stage
    reads the cached frames, never the file), and each stage's
    columns are pruned as soon as the next no longer needs them.
    """
    from kcidb_spark.cache import scoped_persist
    from kcidb_spark.operators.rank import stratified_drop_leading
    from kcidb_spark.operators.scan import distributed_cumsum

    docs = table(spark, sf_dir, "documents", spread=True)
    normed = docs.select(
        "doc_id", "lang", "n_chars", _norm_text(F.col("text")).alias("norm")
    )
    q = scoped_persist(
        stratified_drop_leading(normed, "lang", "n_chars", den=4)
        .select("doc_id", "lang", "norm", F.md5("norm").alias("th"))
    )
    keepers = q.groupBy("th").agg(F.min("doc_id").alias("keep_id"))
    dd = q.join(
        keepers,
        (q["th"] == keepers["th"]) & (q["doc_id"] == keepers["keep_id"]),
    ).select(q["doc_id"], q["lang"], q["norm"])
    s = dd.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        < F.when(F.col("lang") == "en", "8").otherwise("4")
    )
    toks = s.select(
        "doc_id", "lang",
        F.size(F.split("norm", " ")).cast("long").alias("n"),
    )
    cum = distributed_cumsum(toks, "doc_id", "n", out_col="c")
    start = F.col("c") - F.col("n")
    return cum.select(
        "doc_id", "lang",
        F.col("n").alias("n_tokens"),
        start.alias("start_offset"),
        F.floor(start / _PACK_WINDOW_REF).cast("long").alias("window_id"),
    )


# ---------------------------------------------------------------------------
# BPE-style merge statistics: adjacent-pair frequencies
# ---------------------------------------------------------------------------

_BPE_TOPK = 20


@register(
    "bpe_adjacent_pairs",
    oracle=dedent(f"""
        WITH toks AS (
            SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t
            FROM documents
        ),
        pairs AS (
            SELECT t[i] || ' ' || t[i+1] AS pair
            FROM toks CROSS JOIN LATERAL (
                SELECT unnest(generate_series(1, length(t) - 1)) AS i)
            WHERE length(t) >= 2
        )
        SELECT pair, CAST(count(*) AS BIGINT) AS n
        FROM pairs GROUP BY pair
        ORDER BY n DESC, pair
        LIMIT {_BPE_TOPK}
    """),
    tags=("pipeline", "tokenize"),
)
def bpe_adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting step of one BPE merge iteration: frequencies of
    adjacent token pairs across the corpus, top-{_BPE_TOPK} — the
    statistic a tokenizer-training loop computes per merge (the argmax
    pair becomes the next merge rule; token_count_bpe applies the
    resulting vocabulary downstream).

    Scale shape: explode the index sequence (not a transform-built
    array), project the pair, partial-agg map-side (the pair
    distribution is Zipfian — the hot pairs combine before the
    shuffle), one exchange, TakeOrderedAndProject for the top-k —
    never a global sort.
    """
    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        F.split(_norm_text(F.col("text")), " ").alias("t")
    ).filter(F.size("t") >= 2)
    pairs = toks.select(
        F.explode(F.expr("sequence(1, size(t) - 1)")).alias("i"), "t"
    ).select(
        F.concat_ws(
            " ", F.element_at("t", F.col("i")),
            F.element_at("t", F.col("i") + 1),
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(_BPE_TOPK)
    )


@register(
    "bpe_train_merges",
    # No SQL oracle: the merge sequence is data-dependently iterative
    # (each round's input is the previous round's rewrite) — the
    # executable specification lives in tests/test_bpe.py, where the
    # Spark loop must reproduce a pure-Python reference BPE trainer
    # rule-for-rule, tie-breaks included.
    tags=("pipeline", "tokenize", "iterative"),
    schema="rank int, round int, left string, right string,"
    " merged string, pair_freq bigint",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE tokenizer training (Sennrich et al., arXiv:1508.07909)
    over the documents corpus: 8 merge rounds on the Zipf-compressed
    (word, freq) table.  The corpus is scanned ONCE; each round
    shuffles only the word table and brings exactly one row (the
    argmax pair) to the driver — the k-means-style driver-held tiny
    state pattern.  See operators/bpe.py for the 100 TB cost model.
    """
    from kcidb_spark.operators.bpe import bpe_train

    docs = table(spark, sf_dir, "documents", spread=True)
    return bpe_train(docs, n_merges=8)


@register(
    "unigram_train_vocab",
    # No SQL oracle (EM trainer, data-dependently iterative) — the
    # executable specification is tests/test_unigram.py: Viterbi
    # segmentation pinned optimal against brute-force enumeration,
    # the trainer pinned piece-for-piece against an independent
    # pure-Python reference.
    tags=("pipeline", "tokenize", "iterative"),
    schema="rank int, piece string, logprob double, count bigint",
)
def unigram_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (SentencePiece's unigram model,
    Kudo 2018, arXiv:1804.10959 — hard-EM simplification) over the
    documents corpus: substring-seeded vocabulary, EM rounds of
    frequency-weighted Viterbi counts over the Zipf-compressed
    (word, freq) table, gradual pruning to the target size with the
    single-character closure guarantee.  The corpus is scanned ONCE;
    every EM round touches only the word table (Arrow-batched DP —
    Python on the vocabulary-sized working set, never the corpus),
    and the driver holds only the vocabulary itself.  See
    operators/unigram.py."""
    from kcidb_spark.operators.unigram import unigram_train

    docs = table(spark, sf_dir, "documents", spread=True)
    return unigram_train(docs, vocab_size=64, n_rounds=2)


@register(
    "unigram_encode_pieces",
    # No SQL oracle (Viterbi segmentation under a trained vocabulary
    # is not SQL-expressible) — segmentation optimality is pinned
    # against brute-force enumeration in tests/test_unigram.py; this
    # entry's declared schema is pinned by test_empty_corpus.py and
    # the per-doc piece hash makes any segmentation drift visible in
    # the driver's rows-only value record.
    tags=("pipeline", "tokenize"),
    schema="doc_id bigint, n_pieces int, pieces_hash string",
)
def unigram_encode_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE under the trained unigram vocabulary — the other half
    of the tokenizer lifecycle (unigram_train_vocab learns it, this
    applies it corpus-wide): train the same 64-piece vocabulary, then
    Viterbi-segment every document.  Emits the per-doc piece count
    and an md5 over the piece sequence (compact, deterministic — the
    full pieces array would dominate the result without adding
    information).

    Scale shape: the vocabulary is driver-held by definition (it IS
    the tokenizer), broadcast to an Arrow-batched ``mapInPandas``
    with a per-worker word→segmentation memo (Zipf makes the memo hit
    rate ≈ 1); the JVM side tokenizes, Python only segments — zero
    shuffle at any corpus size."""
    from kcidb_spark.operators.unigram import unigram_encode, unigram_train

    docs = table(spark, sf_dir, "documents", spread=True)
    vocab = [
        (r["piece"], r["logprob"])
        for r in unigram_train(docs, vocab_size=64, n_rounds=2).collect()
    ]
    return unigram_encode(docs, vocab).select(
        "doc_id",
        "n_pieces",
        F.md5(F.concat_ws("\u0001", "pieces")).alias("pieces_hash"),
    )


# ---------------------------------------------------------------------------
# Deterministic global shuffle → shard assignment (the training-data
# writer's last step)
# ---------------------------------------------------------------------------

_SHARD_SEED = "r8"
_N_SHARDS = 8
_HEX = "0123456789abcdef"


@register(
    "shard_global_shuffle",
    oracle=dedent(f"""
        SELECT doc_id, shard_id, shuffle_key,
               CAST(row_number() OVER (
                   PARTITION BY shard_id
                   ORDER BY shuffle_key, doc_id
               ) AS BIGINT) AS pos
        FROM (
            SELECT doc_id,
                   md5('{_SHARD_SEED}:' || CAST(doc_id AS VARCHAR))
                       AS shuffle_key,
                   CAST((instr('{_HEX}', substring(md5('{_SHARD_SEED}:'
                            || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                        + (instr('{_HEX}', substring(md5('{_SHARD_SEED}:'
                            || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                        AS BIGINT) % {_N_SHARDS} AS shard_id
            FROM documents
        )
    """),
    tags=("pipeline", "shuffle"),
)
def shard_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle → (shard_id, pos): the
    final step of training-data prep.  Source corpora are highly
    order-correlated (crawl batches, per-site runs); training wants
    i.i.d.-looking example order, and the order must be REPRODUCIBLE
    (resume a run, re-produce a dataset card) — so the permutation
    key is ``md5(seed:doc_id)``, never ``rand()``.

    Shard = first two key hex digits (mapped through ``instr`` — the
    one hex→int construct with identical name/semantics in both
    engines) mod n_shards; position = per-shard rank over the key.
    At 100 TB this is exactly one hash-partitioned exchange on
    shard_id with partition-local sorts (the window never spans
    shards), and n_shards scales with the cluster, not the corpus —
    each shard's sort is bounded by corpus/n_shards.  A writer then
    emits shard files with ``partitionBy(shard_id)`` + the in-shard
    order already materialized."""
    docs = table(spark, sf_dir, "documents")
    key = F.md5(
        F.concat(F.lit(_SHARD_SEED + ":"), F.col("doc_id").cast("string"))
    )
    w_pos = W.partitionBy("shard_id").orderBy("shuffle_key", "doc_id")
    return (
        docs.select("doc_id", key.alias("shuffle_key"))
        .withColumn(
            "shard_id",
            (
                (
                    F.expr(f"instr('{_HEX}', substring(shuffle_key, 1, 1))")
                    - 1
                )
                * 16
                + (
                    F.expr(f"instr('{_HEX}', substring(shuffle_key, 2, 1))")
                    - 1
                )
            ).cast("long")
            % _N_SHARDS,
        )
        .select(
            "doc_id",
            "shard_id",
            "shuffle_key",
            F.row_number().over(w_pos).cast("long").alias("pos"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order layout: two-dimensional scan pruning (operators/layout.py)
# ---------------------------------------------------------------------------


def _zorder_oracle() -> str:
    from kcidb_spark.operators.layout import zorder_key_sql

    zexpr = zorder_key_sql("user_id", "(epoch_us(ts) // 1000000)")
    return dedent(f"""
        SELECT event_id, user_id,
               CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t_sec,
               CAST({zexpr} AS BIGINT) AS zkey
        FROM events
    """)


@register(
    "zorder_key_assign",
    oracle=_zorder_oracle(),
    tags=("layout", "scan"),
)
def zorder_key_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (z-order) key over (user_id, event-time seconds) — the
    write-side layout key behind two-dimensional parquet pruning
    (Delta/Iceberg ZORDER BY, hypertable chunking): range-partitioning
    and sorting by this key makes every file a small rectangle of the
    (user, time) plane, so footer min/max stats prune box queries on
    EITHER dimension (operators/layout.py; candidate-file counts
    measured straight from parquet footers in tests/test_layout.py).
    The interleave is five shift-or-mask steps per column, pure long
    arithmetic in whole-stage codegen, bit-identical in DuckDB —
    epoch seconds via integer floor-division of microseconds, never a
    float epoch() cast."""
    from kcidb_spark.operators.layout import zorder_key
    from kcidb_spark.queries.relational import _utc

    _utc(spark)
    ev = table(spark, sf_dir, "events")
    t_sec = F.unix_timestamp("ts").alias("t_sec")
    return ev.select(
        "event_id",
        "user_id",
        t_sec,
        zorder_key(F.col("user_id"), F.unix_timestamp("ts")).alias(
            "zkey"
        ),
    )


def _hilbert_oracle() -> str:
    from kcidb_spark.operators.layout import hilbert_oracle_ctes

    ctes = hilbert_oracle_ctes(
        "n", "event_id, user_id, t_sec", "hx", "hy"
    )
    return dedent(f"""
        WITH b AS (
            SELECT CAST(min(user_id) AS BIGINT) AS umin,
                   CAST(max(user_id) AS BIGINT) AS umax,
                   CAST(min(epoch_us(ts) // 1000000) AS BIGINT) AS tmin,
                   CAST(max(epoch_us(ts) // 1000000) AS BIGINT) AS tmax
            FROM events
        ),
        n AS (
            SELECT event_id, user_id,
                   CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t_sec,
                   CAST(floor((user_id - umin) * 65535
                              / greatest(1, umax - umin)) AS BIGINT) AS hx,
                   CAST(floor((epoch_us(ts) // 1000000 - tmin) * 65535
                              / greatest(1, tmax - tmin)) AS BIGINT) AS hy
            FROM events CROSS JOIN b
        ),
        {ctes}
        SELECT event_id, user_id, t_sec, d AS hkey FROM hs0
    """)


@register(
    "hilbert_key_assign",
    oracle=_hilbert_oracle(),
    tags=("layout", "scan"),
)
def hilbert_key_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve key over (user_id, event-time seconds) — the
    better-locality alternative to zorder_key_assign's Morton
    interleave (every unit step of the Hilbert curve is
    axis-adjacent; Morton jumps diagonally at quadrant seams), the
    clustering option Iceberg added beside z-order for exactly this
    reason.  Both dimensions are min/max-normalized to 16 bits (one
    broadcast bounds row — the same pricing agg hilbert_layout
    pays), then the xy→d transform runs as a runtime loop in ONE
    aggregate() HOF expression (operators/layout.hilbert_expr —
    unrolling 16 rotate-and-flip levels as nested columns would grow
    the Catalyst tree exponentially).  All BIGINT shift/mask/CASE
    arithmetic; the DuckDB oracle replays the identical levels as 16
    CTE steps, so the keys are bit-certified, and the normalization
    divisions are the same two exact-operand double ops in both
    engines (truncation == floor on non-negatives).
    tests/test_layout.py fuzzes the key against the textbook
    pure-Python transform and measures candidate-file counts for
    box queries under hilbert_layout vs zorder_layout."""
    from kcidb_spark.operators.layout import hilbert_expr
    from kcidb_spark.queries.relational import _utc

    _utc(spark)
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("user_id").cast("long").alias("umin"),
        F.max("user_id").cast("long").alias("umax"),
        F.min(F.unix_timestamp("ts")).alias("tmin"),
        F.max(F.unix_timestamp("ts")).alias("tmax"),
    )
    n = (
        ev.select(
            "event_id", "user_id",
            F.unix_timestamp("ts").alias("t_sec"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_id",
            "user_id",
            "t_sec",
            F.floor(
                (F.col("user_id") - F.col("umin"))
                * 65535
                / F.greatest(F.lit(1), F.col("umax") - F.col("umin"))
            ).cast("long").alias("hx"),
            F.floor(
                (F.col("t_sec") - F.col("tmin"))
                * 65535
                / F.greatest(F.lit(1), F.col("tmax") - F.col("tmin"))
            ).cast("long").alias("hy"),
        )
    )
    return n.select(
        "event_id",
        "user_id",
        "t_sec",
        F.expr(hilbert_expr("hx", "hy")).alias("hkey"),
    )


# ---------------------------------------------------------------------------
# Temperature-mix ALLOCATION — the integer completion of
# corpus_mix_weights (whose docstring keeps the normalizing constant
# out of the hash because a sum of DOUBLES is aggregation-order
# dependent; summing floor'd integer weights is not)
# ---------------------------------------------------------------------------


@register(
    "corpus_temperature_mix",
    oracle=dedent("""
        WITH g AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source
        ),
        w AS (
            SELECT source, n_docs,
                   CAST(floor(sqrt(n_docs) * 1048576) AS BIGINT) AS wq
            FROM g
        ),
        t AS (
            SELECT CAST(sum(wq) AS BIGINT) AS wsum,
                   CAST(sum(n_docs) // 2 AS BIGINT) AS budget
            FROM w
        ),
        base AS (
            SELECT source, n_docs, wq, wsum, budget,
                   (budget * wq) // wsum AS alloc0,
                   (budget * wq) % wsum AS rem,
                   budget - CAST(sum((budget * wq) // wsum)
                                 OVER () AS BIGINT) AS leftover
            FROM w CROSS JOIN t
        )
        SELECT source, n_docs, wq AS weight_q20,
               CAST(alloc0 + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc
        FROM (
            SELECT *, CAST(row_number() OVER (
                       ORDER BY rem DESC, source) AS BIGINT) AS rnk
            FROM base
        )
    """),
    tags=("pipeline", "mixing"),
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampling ALLOCATION at alpha = 0.5 (the
    multilingual rebalance of mBERT/XLM-R: sample ∝ n^alpha): turn
    per-source temperature weights into EXACT integer document
    budgets summing to the total budget (floor(N/2) here), via
    largest-remainder apportionment.

    corpus_mix_weights ships the unnormalized weights and documents
    WHY it stops there: Σ of double weights is aggregation-order
    dependent, so a hashed allocation can't be built on it.  The
    integer route can: each weight is floor(sqrt(n)·2^20) — IEEE
    sqrt is correctly ROUNDED by spec, multiplication by 2^20 is
    exact, floor is deterministic — and the SUM of those BIGINTs is
    order-free.  Base shares are budget·w div Σw; the ≤|sources|
    leftover units go to the largest integer remainders
    (budget·w mod Σw, ties to source asc) — the Hamilton method, all
    in BIGINT, so Σ alloc = budget exactly and every engine agrees
    bit-for-bit.

    Plan: ONE partial-agg corpus scan to ≤|sources| rows; every
    window after that (the leftover count, the remainder rank) runs
    on the control-plane frame — same posture as
    corpus_unimax_budget.

    BIGINT headroom (ADVICE r12 — same doctrine note as bm25_topk's
    ``22·tf·S``): the base share's ``budget · wq`` needs
    (N div 2) · floor(sqrt(max_n) · 2^20) < 2^63, i.e. N^1.5 < 2^44
    for a single dominant source — the corpus must stay under ~6.6e8
    documents.  Past that, rescale EITHER factor before the divide
    and the allocation is unchanged: drop the 2^20 quantization
    scale to 2^10 (alloc0 = budget·wq div Σwq is scale-invariant;
    only remainder TIE ORDER among near-equal sources can shift,
    the same class of tie the scale already arbitrates), or divide
    budget and wq by a common 2^s first."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents", spread=True)
    w = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs")) * F.lit(1048576))
        .cast("long")
        .alias("wq"),
    )
    t = w.agg(
        F.sum("wq").cast("long").alias("wsum"),
        F.expr("sum(n_docs) div 2").alias("budget"),
    )
    base = (
        w.crossJoin(F.broadcast(t))
        .withColumn("alloc0", F.expr("(budget * wq) div wsum"))
        .withColumn("rem", F.expr("(budget * wq) % wsum"))
        .withColumn(
            "leftover",
            F.col("budget")
            - F.sum("alloc0").over(W.partitionBy()).cast("long"),
        )
    )
    rnk = F.row_number().over(
        W.partitionBy().orderBy(F.desc("rem"), F.asc("source"))
    )
    return (
        base.withColumn("rnk", rnk.cast("long"))
        .select(
            "source",
            "n_docs",
            F.col("wq").alias("weight_q20"),
            (
                F.col("alloc0")
                + F.when(F.col("rnk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc"),
        )
    )
