"""Corpus ranking / curation queries: TF-IDF-style term salience,
vocabulary OOV-rate scoring, and semantic (embedding-cluster) dedup.

Cross-engine exactness rule for this module: transcendental functions
are NOT bit-portable between the JVM and C libm (``ln(3.0)`` differs
in the last ulp — probed), so every hashed score here is either pure
integer arithmetic or a SINGLE correctly-rounded IEEE division of
integers, which every engine rounds identically.  Classic
``tf·ln(N/df)`` ranking is monotone in ``tf·N/df`` for fixed tf sign,
so the rational score preserves the ranking semantics without the
libm dependency.
"""

from __future__ import annotations

from textwrap import dedent

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kcidb_spark.queries.pipeline import _NORM_SQL, _norm_text
from kcidb_spark.queries.registry import register
from kcidb_spark.tables import table

_TFIDF_K = 5
_VOCAB_K = 20
_SEM_CENTROIDS = 8
_SEM_TAU = 0.35


@register(
    "tfidf_top_terms",
    oracle=dedent(f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS w
            FROM documents
        ),
        tf AS (
            SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY doc_id, w
        ),
        dft AS (
            SELECT w, CAST(count(*) AS BIGINT) AS df_docs
            FROM tf GROUP BY w
        ),
        n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf)
        SELECT doc_id, term, tf, df_docs, score, rank
        FROM (
            SELECT tf.doc_id, tf.w AS term, tf.tf, dft.df_docs,
                   (tf.tf * n.n_docs) / CAST(dft.df_docs AS DOUBLE) AS score,
                   CAST(row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY (tf.tf * n.n_docs)
                                / CAST(dft.df_docs AS DOUBLE) DESC, tf.w
                   ) AS BIGINT) AS rank
            FROM tf JOIN dft ON tf.w = dft.w CROSS JOIN n
        )
        WHERE rank <= {_TFIDF_K}
    """),
    tags=("pipeline", "ranking"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} salient terms per document by rational TF-IDF
    (``tf·N/df`` — same ranking as ``tf·ln(N/df)``, see module
    docstring).  The canonical keyword-extraction / topic-salience
    pass of a corpus curation pipeline.

    Plan: token explode → (doc, term) partial-agg count → per-term
    document frequency (second partial-agg, input already one row per
    (doc, term)) → term-keyed join back (AQE-broadcast here; at
    100 TB the term dictionary shuffles hash-partitioned and
    heavy-hitter skew is AQE-split) → per-doc top-k through a rank
    window that compiles to WindowGroupLimit, so only k rows per doc
    survive the final exchange.  N arrives via a broadcast 1-row
    aggregate — no driver-side count() action.
    """
    from kcidb_spark.cache import scoped_persist

    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id", F.explode(F.split(_norm_text(F.col("text")), " ")).alias("w")
    )
    # tf fans out to THREE consumers (df, N, join) — persist or the
    # tokenize+count subtree recomputes per consumer.
    tf = scoped_persist(
        toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df_docs"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    score = (F.col("tf") * F.col("n_docs")) / F.col("df_docs").cast("double")
    w_rank = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("w"))
    return (
        tf.join(dft, on="w")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= _TFIDF_K)
        .select(
            "doc_id", F.col("w").alias("term"), "tf", "df_docs",
            "score", "rank",
        )
    )


@register(
    "vocab_oov_rate",
    oracle=dedent(f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS w
            FROM documents
        ),
        vocab AS (
            SELECT w FROM toks GROUP BY w
            ORDER BY count(*) DESC, w LIMIT {_VOCAB_K}
        )
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(*) FILTER (WHERE v.w IS NULL) AS BIGINT) AS n_oov,
               count(*) FILTER (WHERE v.w IS NULL)
                   / CAST(count(*) AS DOUBLE) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON t.w = v.w
        GROUP BY t.doc_id
    """),
    tags=("pipeline", "ranking"),
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-{k} vocabulary — the rare-token quality signal (a portable
    stand-in for LM-perplexity scoring, whose ``ln`` is not
    bit-portable; high OOV-rate ⇔ high perplexity under a unigram
    cap).  Vocabulary selection is deterministic: count desc, term
    asc.

    Plan: one token explode feeds both sides; the vocabulary is a
    partial-agg + distributed top-k (TakeOrdered — never a global
    sort), broadcast back, so the per-doc pass is a map-side hash
    probe + one groupBy(doc_id) shuffle.  OOV rate is one exact
    integer division.
    """
    from kcidb_spark.cache import scoped_persist

    docs = table(spark, sf_dir, "documents", spread=True)
    # The exploded token frame feeds both the vocab top-k and the
    # per-doc probe — persist so the explode runs once.
    toks = scoped_persist(
        docs.select(
            "doc_id",
            F.explode(F.split(_norm_text(F.col("text")), " ")).alias("w"),
        )
    )
    vocab = (
        toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(_VOCAB_K)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), on="w", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("in_vocab").isNull()).alias("n_oov"),
        )
        .select(
            "doc_id", "n_tokens", "n_oov",
            (F.col("n_oov") / F.col("n_tokens").cast("double"))
            .alias("oov_rate"),
        )
    )


def _semdedup_oracle() -> str:
    cos = (
        "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b}))), 4)"
    )
    return dedent(f"""
        WITH vecs AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        cents AS (
            SELECT vec_id AS c_id, v AS cv FROM vecs
            WHERE vec_id < (SELECT GREATEST({_SEM_CENTROIDS},
                                CAST(CEIL(SQRT(count(*))) AS BIGINT))
                            FROM vecs)
        ),
        assign AS (
            SELECT vec_id, c_id, v FROM (
                SELECT vecs.vec_id, cents.c_id, vecs.v,
                       row_number() OVER (
                           PARTITION BY vecs.vec_id
                           ORDER BY {cos.format(a="vecs.v", b="cents.cv")}
                                    DESC, cents.c_id
                       ) AS rn
                FROM vecs CROSS JOIN cents
            ) WHERE rn = 1
        )
        SELECT a.vec_id, a.c_id AS cluster,
               CAST(NOT EXISTS (
                   SELECT 1 FROM assign e
                   WHERE e.c_id = a.c_id AND e.vec_id < a.vec_id
                     AND {cos.format(a="e.v", b="a.v")} >= {_SEM_TAU}
               ) AS BOOLEAN) AS is_kept
        FROM assign a
    """)


@register(
    "semdedup_prune", oracle=_semdedup_oracle(), tags=("dedup", "similarity")
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster embeddings to their nearest
    centroid, then within each cluster drop every vector that has an
    EARLIER (lower-id) cluster-mate with cosine ≥ τ={_SEM_TAU} — the
    deterministic keep-first rule.  Output keeps every vector with its
    cluster and the keep/drop verdict so downstream filters stay a
    semi-join.

    Scale shape: centroid assignment is a broadcast cross join (zero
    corpus shuffle, same as ann_ivf_topk); the pairwise stage
    equi-joins ON CLUSTER, so comparisons are bucket-local — n²/k per
    cluster.  k GROWS WITH THE CORPUS as ⌈√n⌉ (computed engine-side
    from a 1-row broadcast count, identically in the DuckDB oracle):
    cluster size and centroid fan-out both scale as √n, keeping total
    pair work n^1.5 instead of n² — the 10× rehearsal
    (tools/scale_rehearsal.py) measured the fixed-k version at 95×
    wall for 10× rows, the √n version near-linear.  SemDeDup used 50k
    clusters at LAION scale, the same bounded-bucket argument.
    The argmax centroid is a ``min_by`` partial agg, not a window —
    map-side combine shrinks the shuffle from N·k rows to N and skips
    the per-key sort; the assignment frame is scoped-persisted because
    it feeds THREE consumers (both pair-join sides + the verdict join)
    and would otherwise recompute the N·k cosine scan each time
    (measured ~2.5× wall here).  Cosines round to 4 decimals on both
    engines before the threshold compare (dot products fold
    sequentially → bit-identical; see operators/similarity.cosine_expr).
    """
    from kcidb_spark.cache import scoped_persist
    from kcidb_spark.operators.similarity import dot_expr

    emb = table(spark, sf_dir, "embeddings", spread=True)
    # Norms precomputed ONCE per vector and carried (same doubles —
    # sqrt + division unchanged): the N·k assignment scan and the
    # cluster-local pair verify otherwise re-derive sqrt(v·v) per
    # pair, 3 dot products per comparison instead of 1.
    vecs = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("nrm", F.expr(f"sqrt({dot_expr('v', 'v')})"))
    k = vecs.agg(
        F.greatest(
            F.lit(_SEM_CENTROIDS).cast("long"),
            F.ceil(F.sqrt(F.count(F.lit(1)))).cast("long"),
        ).alias("__k")
    )
    cents = (
        vecs.crossJoin(F.broadcast(k))
        .filter(F.col("vec_id") < F.col("__k"))
        .select(
            F.col("vec_id").alias("c_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
    )
    neg_sim_then_id = F.struct(
        (-F.expr(f"round({dot_expr('v', 'cv')} / (nrm * cn), 4)")).alias("a"),
        F.col("c_id").alias("b"),
    )
    assign = scoped_persist(
        vecs.crossJoin(F.broadcast(cents))
        .groupBy("vec_id")
        .agg(
            F.min_by("c_id", neg_sim_then_id).alias("c_id"),
            F.any_value(F.col("v")).alias("v"),
            F.any_value(F.col("nrm")).alias("nrm"),
        )
    )
    earlier = assign.select(
        F.col("vec_id").alias("e_id"), "c_id",
        F.col("v").alias("ev"), F.col("nrm").alias("en"),
    )
    dropped = (
        assign.join(earlier, on="c_id")
        .filter(F.col("e_id") < F.col("vec_id"))
        .filter(
            F.expr(f"round({dot_expr('ev', 'v')} / (en * nrm), 4)")
            >= _SEM_TAU
        )
        .select("vec_id")
        .distinct()
    )
    return assign.join(dropped.withColumn("_d", F.lit(True)),
                       on="vec_id", how="left").select(
        "vec_id",
        F.col("c_id").alias("cluster"),
        F.col("_d").isNull().alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# Training-stream assembly: sequence packing, PQ codes, sampling
# ---------------------------------------------------------------------------

_PACK_WINDOW = 512
_PQ_SUBS = 8
_PQ_DIMS = 8
_PQ_CODES = 8


@register(
    "seq_pack_windows",
    oracle=dedent(f"""
        WITH toks AS (
            SELECT doc_id,
                   CAST(length(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n
            FROM documents
        ),
        cum AS (
            SELECT doc_id, n,
                   SUM(n) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS c
            FROM toks
        )
        SELECT doc_id, n AS n_tokens,
               CAST(c - n AS BIGINT) AS start_offset,
               CAST(floor((c - n) / {_PACK_WINDOW}) AS BIGINT) AS window_id
        FROM cum
    """),
    tags=("pipeline", "packing"),
)
def seq_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training-stream assembly: concatenate the
    corpus token stream in doc_id order and cut it into
    {_PACK_WINDOW}-token context windows; each document reports its
    global start offset and the window its first token lands in.

    The global running total is a distributed two-phase prefix scan
    (operators/scan.distributed_cumsum) — NEVER a bare
    ``Window.orderBy`` with no partition key, which collapses the
    whole corpus into one task.  Cost at any scale: one bucket-keyed
    shuffle + a broadcast of ≤64 bucket offsets; all arithmetic is
    integer-exact.
    """
    from kcidb_spark.operators.scan import distributed_cumsum

    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id",
        F.size(F.split(_norm_text(F.col("text")), " ")).cast("long").alias("n"),
    )
    cum = distributed_cumsum(toks, "doc_id", "n", out_col="c")
    start = F.col("c") - F.col("n")
    return cum.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        start.alias("start_offset"),
        F.floor(start / _PACK_WINDOW).cast("long").alias("window_id"),
    )


def _pq_oracle() -> str:
    d2 = (
        "list_dot_product(sub, sub) - 2 * list_dot_product(sub, cw)"
        " + list_dot_product(cw, cw)"
    )
    return dedent(f"""
        WITH vecs AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        subs AS (
            SELECT vec_id, s, v[s*{_PQ_DIMS}+1 : s*{_PQ_DIMS}+{_PQ_DIMS}] AS sub
            FROM vecs CROSS JOIN (
                SELECT unnest(generate_series(0, {_PQ_SUBS - 1})) AS s)
        ),
        codes AS (
            SELECT vec_id AS m, s, sub AS cw FROM subs
            WHERE vec_id < {_PQ_CODES}
        ),
        best AS (
            SELECT vec_id, s, m FROM (
                SELECT subs.vec_id, subs.s, codes.m,
                       row_number() OVER (
                           PARTITION BY subs.vec_id, subs.s
                           ORDER BY {d2}, codes.m
                       ) AS rn
                FROM subs JOIN codes ON subs.s = codes.s
            ) WHERE rn = 1
        )
        SELECT vec_id,
               string_agg(CAST(m AS VARCHAR), ',' ORDER BY s) AS pq_codes
        FROM best GROUP BY vec_id
    """)


@register("pq_encode", oracle=_pq_oracle(), tags=("similarity", "quantize"))
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization encode (Jégou et al. 2011): split each
    {_PQ_SUBS * _PQ_DIMS}-dim embedding into {_PQ_SUBS} subvectors and
    replace each with the id of its nearest codeword — the memory-
    compression layer under IVF-PQ ANN indexes (64 dims → {_PQ_SUBS}
    bytes here).  Codebooks are the first {_PQ_CODES} vectors'
    subvectors (deterministic stand-in for per-subspace k-means —
    operators/clustering.kmeans_lloyd trains real ones at production).

    Scale shape: codebooks are tiny → broadcast; the encode pass is a
    per-row explode of {_PQ_SUBS} subvectors, an in-executor argmin
    (min_by partial-agg), and one vec_id-keyed reassembly shuffle.
    Squared distances expand to dot products computed by the same
    sequential fold on both engines → bit-identical, ties break on
    codeword id.
    """
    from kcidb_spark.operators.similarity import dot_expr

    d2 = F.expr(
        f"{dot_expr('sub', 'sub')} - 2 * {dot_expr('sub', 'cw')}"
        f" + {dot_expr('cw', 'cw')}"
    )
    emb = table(spark, sf_dir, "embeddings", spread=True)
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    subs = vecs.select(
        "vec_id",
        F.explode(F.expr(f"sequence(0, {_PQ_SUBS - 1})")).alias("s"),
        "v",
    ).select(
        "vec_id", "s",
        F.expr(f"slice(v, s*{_PQ_DIMS}+1, {_PQ_DIMS})").alias("sub"),
    )
    codes = subs.filter(F.col("vec_id") < _PQ_CODES).select(
        F.col("vec_id").alias("m"), "s", F.col("sub").alias("cw")
    )
    best = (
        subs.join(F.broadcast(codes), on="s")
        .select("vec_id", "s", "m", d2.alias("d2"))
        .groupBy("vec_id", "s")
        .agg(F.min_by("m", F.struct("d2", "m")).alias("m"))
    )
    return (
        best.groupBy("vec_id")
        .agg(F.collect_list(F.struct("s", "m")).alias("sm"))
        .select(
            "vec_id",
            F.expr(
                "concat_ws(',', transform(array_sort(sm),"
                " x -> cast(x.m as string)))"
            ).alias("pq_codes"),
        )
    )


@register(
    "sample_stratified",
    oracle=dedent("""
        SELECT doc_id, lang FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
              < CASE WHEN lang = 'en' THEN '8' ELSE '4' END
    """),
    tags=("pipeline", "sampling"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language keep rates
    (en: 8/16, others: 4/16) applied through the same key-hash gate as
    sample_by_hash — the language-rebalancing step of corpus mixing
    (downsample the dominant language, keep the tail).  Map-side
    filter, zero shuffle, reproducible under any partitioning."""
    docs = table(spark, sf_dir, "documents")
    return docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        < F.when(F.col("lang") == "en", "8").otherwise("4")
    ).select("doc_id", "lang")


@register(
    "group_sample_topn",
    oracle=dedent("""
        SELECT doc_id, lang, rk FROM (
            SELECT doc_id, lang,
                   CAST(row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS BIGINT) AS rk
            FROM documents
        ) WHERE rk <= 10
    """),
    tags=("pipeline", "sampling"),
)
def group_sample_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sample (10 docs per language) — the
    deterministic reservoir: rank by key hash inside each group and
    keep the first n.  Unlike ``sampleBy`` fractions, the output size
    is exact per group and identical across engines/runs.  Compiles to
    WindowGroupLimit: only 10 rows per group survive each partial
    window, so the shuffle carries ~n·groups rows, not the corpus."""
    docs = table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: lexical + semantic legs fused by reciprocal rank
# ---------------------------------------------------------------------------

_RRF_C = 60          # the standard RRF constant (Cormack et al. 2009)
_RRF_QUERIES = 5     # doc_id/vec_id < 5 — the standard query workload
_RRF_LEG_K = 10      # per-leg shortlist depth
_RRF_FINAL_K = 5     # fused top-k


@register(
    "hybrid_rrf_topk",
    oracle=dedent(f"""
        WITH toks AS (
            SELECT DISTINCT doc_id,
                   unnest(string_split({_NORM_SQL}, ' ')) AS w
            FROM documents
        ),
        lex AS (
            SELECT q_id, n_id,
                   CAST(row_number() OVER (
                       PARTITION BY q_id ORDER BY ovl DESC, n_id
                   ) AS BIGINT) AS r_lex
            FROM (
                SELECT q.doc_id AS q_id, t.doc_id AS n_id,
                       count(*) AS ovl
                FROM toks q JOIN toks t ON q.w = t.w
                WHERE q.doc_id < {_RRF_QUERIES} AND t.doc_id <> q.doc_id
                GROUP BY q.doc_id, t.doc_id
            ) QUALIFY r_lex <= {_RRF_LEG_K}
        ),
        vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        sem AS (
            SELECT q_id, n_id,
                   CAST(row_number() OVER (
                       PARTITION BY q_id ORDER BY sim DESC, n_id
                   ) AS BIGINT) AS r_sem
            FROM (
                SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                       round(list_dot_product(q.v, n.v)
                             / (sqrt(list_dot_product(q.v, q.v))
                                * sqrt(list_dot_product(n.v, n.v))),
                             4) AS sim
                FROM vecs q CROSS JOIN vecs n
                WHERE q.vec_id < {_RRF_QUERIES}
                  AND n.vec_id <> q.vec_id
            ) QUALIFY r_sem <= {_RRF_LEG_K}
        )
        SELECT q_id, n_id, r_lex, r_sem, rrf, rk FROM (
            SELECT COALESCE(lex.q_id, sem.q_id) AS q_id,
                   COALESCE(lex.n_id, sem.n_id) AS n_id,
                   lex.r_lex, sem.r_sem,
                   CASE
                     WHEN r_lex IS NOT NULL AND r_sem IS NOT NULL THEN
                       CAST(({2 * _RRF_C} + r_lex + r_sem) AS DOUBLE)
                       / (({_RRF_C} + r_lex) * ({_RRF_C} + r_sem))
                     WHEN r_lex IS NOT NULL THEN
                       CAST(1 AS DOUBLE) / ({_RRF_C} + r_lex)
                     ELSE CAST(1 AS DOUBLE) / ({_RRF_C} + r_sem)
                   END AS rrf,
                   CAST(row_number() OVER (
                       PARTITION BY COALESCE(lex.q_id, sem.q_id)
                       ORDER BY CASE
                         WHEN r_lex IS NOT NULL AND r_sem IS NOT NULL THEN
                           CAST(({2 * _RRF_C} + r_lex + r_sem) AS DOUBLE)
                           / (({_RRF_C} + r_lex) * ({_RRF_C} + r_sem))
                         WHEN r_lex IS NOT NULL THEN
                           CAST(1 AS DOUBLE) / ({_RRF_C} + r_lex)
                         ELSE CAST(1 AS DOUBLE) / ({_RRF_C} + r_sem)
                       END DESC, COALESCE(lex.n_id, sem.n_id)
                   ) AS BIGINT) AS rk
            FROM lex FULL JOIN sem
              ON lex.q_id = sem.q_id AND lex.n_id = sem.n_id
        ) WHERE rk <= {_RRF_FINAL_K}
    """),
    tags=("pipeline", "ranking", "similarity"),
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — the fusion layer every modern RAG/search
    stack puts above its index pair: a LEXICAL leg (distinct-token
    overlap through a term-keyed join — the inverted-index shape) and
    a SEMANTIC leg (exact cosine over the embedding column) each
    produce a top-{_RRF_LEG_K} shortlist per query, fused by
    reciprocal-rank fusion (Cormack et al. 2009):
    ``score = Σ_legs 1/({_RRF_C} + rank)``, a candidate missing from
    a leg contributing nothing.

    Cross-engine exactness (module doctrine): RRF scores are computed
    as ONE division of integer expressions per candidate —
    ``1/a + 1/b`` rewritten to ``(a + b)/(a·b)`` — so every score is
    a single correctly-rounded IEEE operation on exact integers, and
    the fused ranking hashes identically on both engines; rank ties
    break on n_id.

    Scale shape: the lexical leg is a term-keyed join (posting-list
    join; heavy terms are the classic skew — at 100 TB the term
    dictionary is df-capped upstream, the tfidf/boilerplate entries'
    posture) feeding a map-side partial count; the semantic leg here
    is the exact-cosine baseline (broadcast {_RRF_QUERIES} queries —
    swap in any certified ANN entry for the 100 TB path: RRF only
    needs RANKS, which is why serving tiers love it); both legs end
    in WindowGroupLimit top-{_RRF_LEG_K} windows, and the fusion
    joins two ≤ queries×{_RRF_LEG_K}-row frames — control-plane
    sized."""
    from kcidb_spark.operators.similarity import dot_expr

    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(_norm_text(F.col("text")), " ")).alias("w"),
    ).distinct()
    q_toks = toks.filter(F.col("doc_id") < _RRF_QUERIES).select(
        F.col("doc_id").alias("q_id"), "w"
    )
    w_lex = W.partitionBy("q_id").orderBy(F.desc("ovl"), F.asc("n_id"))
    lex = (
        q_toks.join(toks, on="w")
        .filter(F.col("doc_id") != F.col("q_id"))
        .groupBy("q_id", F.col("doc_id").alias("n_id"))
        .agg(F.count(F.lit(1)).alias("ovl"))
        .withColumn("r_lex", F.row_number().over(w_lex).cast("long"))
        .filter(F.col("r_lex") <= _RRF_LEG_K)
        .select("q_id", "n_id", "r_lex")
    )

    emb = table(spark, sf_dir, "embeddings", spread=True)
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q_vecs = vecs.filter(F.col("vec_id") < _RRF_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    sim = F.expr(
        f"round({dot_expr('qv', 'v')} / (sqrt({dot_expr('qv', 'qv')})"
        f" * sqrt({dot_expr('v', 'v')})), 4)"
    )
    w_sem = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    sem = (
        vecs.crossJoin(F.broadcast(q_vecs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("n_id"), sim.alias("sim"))
        .withColumn("r_sem", F.row_number().over(w_sem).cast("long"))
        .filter(F.col("r_sem") <= _RRF_LEG_K)
        .select("q_id", "n_id", "r_sem")
    )

    rrf = (
        f"CASE WHEN r_lex IS NOT NULL AND r_sem IS NOT NULL THEN"
        f" CAST(({2 * _RRF_C} + r_lex + r_sem) AS DOUBLE)"
        f" / (({_RRF_C} + r_lex) * ({_RRF_C} + r_sem))"
        f" WHEN r_lex IS NOT NULL THEN"
        f" CAST(1 AS DOUBLE) / ({_RRF_C} + r_lex)"
        f" ELSE CAST(1 AS DOUBLE) / ({_RRF_C} + r_sem) END"
    )
    w_rrf = W.partitionBy("q_id").orderBy(F.desc("rrf"), F.asc("n_id"))
    return (
        lex.join(sem, on=["q_id", "n_id"], how="full_outer")
        .withColumn("rrf", F.expr(rrf))
        .withColumn("rk", F.row_number().over(w_rrf).cast("long"))
        .filter(F.col("rk") <= _RRF_FINAL_K)
        .select("q_id", "n_id", "r_lex", "r_sem", "rrf", "rk")
    )


# ---------------------------------------------------------------------------
# BM25 (rational, micro-bit) — the classic lexical ranker
# ---------------------------------------------------------------------------

_BM25_QUERIES = 5
_BM25_K = 5
#: floor(term_score · 2^20) — multiplication by a power of two is
#: EXACT in IEEE doubles (exponent shift), so the only rounding in a
#: term score is its two correctly-rounded divisions.
_BM25_SCALE = 1 << 20

#: Shared SQL text for one term's micro-bit BM25 score.  Rational
#: forms of the classic components (module doctrine — transcendental
#: log is not bit-portable):
#: * idf  := (2N + 2)/(2df + 1)  — the Lucene always-positive shape
#:   1 + (N − df + 0.5)/(df + 0.5) with its +0.5s cleared to
#:   integers; monotone decreasing in df.
#: * sat  := tf·(k1 + 1)/(tf + k1·(1 − b + b·len/avglen)) at the
#:   standard k1 = 1.2, b = 0.75, with avglen = S/N substituted and
#:   the fractions cleared: 22·tf·S / (10·tf·S + 3·S + 9·len·N) —
#:   numerator and denominator pure BIGINT.
#: Each factor is ONE correctly-rounded division of exact integers,
#: their product one correctly-rounded multiplication, the 2^20
#: scaling exact, the floor deterministic — so the summed BIGINT
#: score hashes identically cross-engine under any aggregation order.
_BM25_TERM_MICRO = (
    "CAST(floor("
    " (CAST(2 * {N} + 2 AS DOUBLE) / (2 * {df} + 1))"
    " * (CAST(22 * {tf} * {S} AS DOUBLE)"
    "    / (10 * {tf} * {S} + 3 * {S} + 9 * {len} * {N}))"
    " * {scale}) AS BIGINT)"
)


def _bm25_base(spark: SparkSession, sf_dir: str):
    """(tf, tot, qterms, qws) — the shared BM25 model base of
    bm25_topk / bm25_prf_expansion, restructured for fewer exchanges
    (guide §2.4; r16):

    * ``tf`` carries ``len`` THROUGH the (doc, term) aggregation —
      ``len = size(split(text)) = Σ_w tf`` is computable BEFORE the
      explode (the r15 _tok_tf_len precedent, value-identical to the
      old ``dlen`` sum by construction), and len is functionally
      dependent on doc_id so adding it to the grouping key changes no
      group.  This deletes the doc-length join (one exchange + one
      broadcast per run) from the match chain entirely.
    * ``tot`` aggregates the per-doc (max len) rows — same (n, s) as
      the old dlen aggregate: every doc has ≥1 token (split('') is
      ['']), so the doc set is identical.
    * ``qterms``: the request-scale distinct (q_id, w) set, COLLECTED
      once from the persisted tf and re-fed as an Arrow literal
      (LocalRelation) — its two broadcast consumers no longer run a
      build job, and the distinct-exchange is gone.  ``qws`` is the
      sorted distinct term list for InSet restrictions.
    """
    from kcidb_spark.cache import scoped_persist
    from kcidb_spark.localrel import local_df

    docs = table(spark, sf_dir, "documents", spread=True)
    arr = F.split(_norm_text(F.col("text")), " ")
    # len as BIGINT: F.size is INT, and the score's 9*len*N term would
    # otherwise be INT arithmetic that overflows at corpus scale.
    toks = docs.select(
        "doc_id", F.size(arr).cast("long").alias("len"),
        F.explode(arr).alias("w"),
    )
    tf = scoped_persist(
        toks.groupBy("doc_id", "len", "w").agg(
            F.count(F.lit(1)).cast("long").alias("tf")
        )
    )
    dl = tf.groupBy("doc_id").agg(F.max("len").alias("len"))
    tot = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("len").cast("long").alias("s"),
    )
    qterm_rows = sorted(
        {
            (int(r["doc_id"]), r["w"])
            for r in tf.filter(F.col("doc_id") < _BM25_QUERIES)
            .select("doc_id", "w")
            .collect()
        }
    )
    qterms = local_df(spark, qterm_rows, "q_id long, w string")
    qws = sorted({w for _, w in qterm_rows})
    return tf, tot, qterms, qws


@register(
    "bm25_topk",
    oracle=dedent(f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS w
            FROM documents
        ),
        tf AS (
            SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY doc_id, w
        ),
        dlen AS (
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf
            GROUP BY doc_id
        ),
        dft AS (
            SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(len) AS BIGINT) AS s
            FROM dlen
        ),
        qterms AS (
            SELECT DISTINCT doc_id AS q_id, w FROM toks
            WHERE doc_id < {_BM25_QUERIES}
        )
        SELECT q_id, n_id, score_micro, rk FROM (
            SELECT q_id, n_id, score_micro,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY score_micro DESC, n_id
                   ) AS BIGINT) AS rk
            FROM (
                SELECT q.q_id, tf.doc_id AS n_id,
                       CAST(sum({_BM25_TERM_MICRO.format(
                           N='tot.n', df='dft.df', tf='tf.tf',
                           S='tot.s', len='dlen.len',
                           scale=_BM25_SCALE)}) AS BIGINT)
                           AS score_micro
                FROM qterms q
                JOIN tf ON tf.w = q.w AND tf.doc_id <> q.q_id
                JOIN dft ON dft.w = tf.w
                JOIN dlen ON dlen.doc_id = tf.doc_id
                CROSS JOIN tot
                GROUP BY q.q_id, tf.doc_id
            )
        ) WHERE rk <= {_BM25_K}
    """),
    tags=("pipeline", "ranking"),
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical ranking (Robertson/Spärck Jones), rational
    micro-bit form — the classic retrieval scorer underneath every
    keyword search leg (the serious version of hybrid_rrf_topk's
    overlap leg; swap it in there for Lucene-grade hybrid search).
    Query = each of the first {_BM25_QUERIES} documents' distinct
    token sets; candidates score the standard
    ``Σ_terms idf(w) · tf-saturation(tf, len)`` with both factors in
    rational form (see _BM25_TERM_MICRO) and each term score floored
    to BIGINT micro-bits, so the per-candidate sum is
    aggregation-order-free and the whole ranking hashes identically
    against DuckDB.

    Plan: tokenize → (doc, term) tf partial agg (persisted: feeds
    doc-length, df, AND the match join) → term-keyed join of query
    terms against postings (the inverted-index shape; df-capped
    upstream at 100 TB — heavy terms are the classic skew, same
    posture as tfidf) → per-(q, candidate) BIGINT sum (map-side
    partial) → per-query WindowGroupLimit top-{_BM25_K}.  N and S
    ride a broadcast 1-row aggregate; doc lengths join candidate-
    keyed.  BIGINT headroom: 22·tf·S needs tf·S < 4·10^17 — at
    planet scale rescale S to mega-tokens (same doctrine note as the
    sketch entries)."""
    tf, tot, qterms, qws = _bm25_base(spark, sf_dir)
    # df only for consumed terms (guide §2.3 — unchanged since r15);
    # the restriction is now an InSet on the collected query terms
    # instead of a broadcast semi-join, dropping that broadcast's
    # build job from every run.  Identical df values for every term
    # downstream consumes (string equality either way).
    dft_q = (
        tf.filter(F.col("w").isin(qws))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    term_micro = _BM25_TERM_MICRO.format(
        N="n", df="df", tf="tf", S="s", len="len", scale=_BM25_SCALE
    )
    w_rank = W.partitionBy("q_id").orderBy(
        F.desc("score_micro"), F.asc("n_id")
    )
    return (
        tf.filter(F.col("w").isin(qws))
        .withColumnRenamed("doc_id", "n_id")
        .join(F.broadcast(qterms), on="w")
        .filter(F.col("n_id") != F.col("q_id"))
        .join(F.broadcast(dft_q), on="w")
        .crossJoin(F.broadcast(tot))
        .groupBy("q_id", "n_id")
        .agg(F.sum(F.expr(term_micro)).cast("long").alias("score_micro"))
        .withColumn("rk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rk") <= _BM25_K)
        .select("q_id", "n_id", "score_micro", "rk")
    )


# ---------------------------------------------------------------------------
# Pseudo-relevance feedback — query expansion over the BM25 top docs
# ---------------------------------------------------------------------------

_PRF_DOCS = 3     # pseudo-relevant set size (BM25 top-k per query)
_PRF_TERMS = 5    # expansion terms returned per query

#: One (doc, term) expansion contribution in micro-bits:
#: floor(tf · idf · 2^20) with the same rational idf as BM25 — one
#: correctly-rounded division, one multiplication (tf exact as a
#: double), the exact 2^20 scaling, floor to BIGINT; summed over the
#: ≤{_PRF_DOCS} pseudo-relevant docs as integers (order-free).
_PRF_TERM_MICRO = (
    "CAST(floor("
    " (CAST(2 * {N} + 2 AS DOUBLE) / (2 * {df} + 1))"
    " * {tf} * {scale}) AS BIGINT)"
)


@register(
    "bm25_prf_expansion",
    oracle=dedent(f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS w
            FROM documents
        ),
        tf AS (
            SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY doc_id, w
        ),
        dlen AS (
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf
            GROUP BY doc_id
        ),
        dft AS (
            SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(len) AS BIGINT) AS s
            FROM dlen
        ),
        qterms AS (
            SELECT DISTINCT doc_id AS q_id, w FROM toks
            WHERE doc_id < {_BM25_QUERIES}
        ),
        prf AS (
            SELECT q_id, n_id FROM (
                SELECT q.q_id, tf.doc_id AS n_id,
                       CAST(sum({_BM25_TERM_MICRO.format(
                           N='tot.n', df='dft.df', tf='tf.tf',
                           S='tot.s', len='dlen.len',
                           scale=_BM25_SCALE)}) AS BIGINT)
                           AS score_micro
                FROM qterms q
                JOIN tf ON tf.w = q.w AND tf.doc_id <> q.q_id
                JOIN dft ON dft.w = tf.w
                JOIN dlen ON dlen.doc_id = tf.doc_id
                CROSS JOIN tot
                GROUP BY q.q_id, tf.doc_id
            ) QUALIFY row_number() OVER (
                PARTITION BY q_id ORDER BY score_micro DESC, n_id
            ) <= {_PRF_DOCS}
        )
        SELECT q_id, term, weight_micro, rk FROM (
            SELECT q_id, term, weight_micro,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY weight_micro DESC, term
                   ) AS BIGINT) AS rk
            FROM (
                SELECT prf.q_id, tf.w AS term,
                       CAST(sum({_PRF_TERM_MICRO.format(
                           N='tot.n', df='dft.df', tf='tf.tf',
                           scale=_BM25_SCALE)}) AS BIGINT)
                           AS weight_micro
                FROM prf
                JOIN tf ON tf.doc_id = prf.n_id
                JOIN dft ON dft.w = tf.w
                CROSS JOIN tot
                WHERE NOT EXISTS (
                    SELECT 1 FROM qterms q
                    WHERE q.q_id = prf.q_id AND q.w = tf.w
                )
                GROUP BY prf.q_id, tf.w
            )
        ) WHERE rk <= {_PRF_TERMS}
    """),
    tags=("pipeline", "ranking"),
)
def bm25_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback QUERY EXPANSION (Rocchio/RM-style):
    run BM25, take each query's top-{_PRF_DOCS} documents as the
    pseudo-relevant set, and rank the NEW terms those documents
    contribute (anti-joined against the query's own vocabulary) by
    Σ_docs tf·idf in micro-bits — the classic recall-repair loop a
    search stack runs before its second retrieval pass.  Same
    exactness doctrine as bm25_topk: every term weight is one
    correctly-rounded division and multiplication floored to BIGINT,
    so the summed weights and therefore the expansion ranking
    hash-match DuckDB.

    Plan: the bm25 subtree (tf persisted once, feeding length/df/
    match/expansion joins) → per-query WindowGroupLimit top-{_PRF_DOCS}
    (a ≤ queries×{_PRF_DOCS}-row control-plane frame, broadcast into
    the expansion join) → candidate-doc tf scan keyed by the
    pseudo-relevant ids → LEFT ANTI join on the query vocabulary →
    integer partial-agg sum → per-query WindowGroupLimit
    top-{_PRF_TERMS}."""
    from kcidb_spark.cache import scoped_persist

    tf, tot, qterms, qws = _bm25_base(spark, sf_dir)
    # Same df posture as bm25_topk (guide §2.3/§3.1): qterms are
    # request-scale, so they ride a literal broadcast; df aggregates
    # run only over the term sets a join actually consumes — query
    # terms (an InSet restriction) for the match pass, the
    # pseudo-relevant docs' terms (broadcast semi-filter) for the
    # expansion pass — so neither pass shuffles the vocabulary.
    dft_q = (
        tf.filter(F.col("w").isin(qws))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    bm25_micro = _BM25_TERM_MICRO.format(
        N="n", df="df", tf="tf", S="s", len="len", scale=_BM25_SCALE
    )
    w_doc = W.partitionBy("q_id").orderBy(
        F.desc("score_micro"), F.asc("n_id")
    )
    prf = (
        tf.filter(F.col("w").isin(qws))
        .withColumnRenamed("doc_id", "n_id")
        .join(F.broadcast(qterms), on="w")
        .filter(F.col("n_id") != F.col("q_id"))
        .join(F.broadcast(dft_q), on="w")
        .crossJoin(F.broadcast(tot))
        .groupBy("q_id", "n_id")
        .agg(F.sum(F.expr(bm25_micro)).cast("long").alias("score_micro"))
        .withColumn("rn", F.row_number().over(w_doc))
        .filter(F.col("rn") <= _PRF_DOCS)
        .select("q_id", "n_id")
    )
    prf_micro = _PRF_TERM_MICRO.format(
        N="n", df="df", tf="tf", scale=_BM25_SCALE
    )
    w_term = W.partitionBy("q_id").orderBy(
        F.desc("weight_micro"), F.asc("term")
    )
    # prf is control-plane-sized (queries × PRF_DOCS rows) and its
    # subtree is the whole BM25 scoring pass — persist it, because the
    # expansion consumes it TWICE (term-set restriction + candidate
    # scan) and an unpersisted reuse would replay the scoring subtree
    # per consumer (guide §5).
    prf = scoped_persist(prf)
    prf_tf = F.broadcast(prf).join(
        tf.withColumnRenamed("doc_id", "n_id"), on="n_id"
    )
    dft_c = (
        tf.join(
            F.broadcast(prf_tf.select("w").distinct()), on="w"
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    cand = (
        prf_tf
        .join(F.broadcast(qterms), on=["q_id", "w"], how="left_anti")
        .join(F.broadcast(dft_c), on="w")
        .crossJoin(F.broadcast(tot))
    )
    return (
        cand.groupBy("q_id", F.col("w").alias("term"))
        .agg(F.sum(F.expr(prf_micro)).cast("long").alias("weight_micro"))
        .withColumn("rk", F.row_number().over(w_term).cast("long"))
        .filter(F.col("rk") <= _PRF_TERMS)
        .select("q_id", "term", "weight_micro", "rk")
    )
