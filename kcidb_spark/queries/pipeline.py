"""Large-scale training-data pipeline operators over documents/embeddings.

These go beyond the reference's own surface (BASELINE.json north star):
deduplication (exact, normalized, MinHash), text analysis (token stats,
quality scoring, token frequency), and similarity search (brute-force
cosine top-k).  Every operator is expressed with JVM-side built-ins
(no Python UDFs in the hot path) and carries a DuckDB oracle.

Scale notes:
  * fingerprint dedup is a single hash-partitioned groupBy — the
    canonical 100 TB exact-dedup plan;
  * MinHash signatures stream through explode → partial-agg min() per
    seed, so the shuffle carries (doc_id, 8 hashes), not the shingles;
  * brute-force KNN broadcasts the (small) query side so the corpus
    side never shuffles; an IVF/LSH-bucketed variant is the scale path
    for large query sets (see operators/).
"""

from __future__ import annotations

from textwrap import dedent

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kcidb_spark.cache import scoped_persist
from kcidb_spark.queries.oracle_sql import cosine
from kcidb_spark.queries.registry import register
from kcidb_spark.tables import table

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=dedent("""
        SELECT md5(text) AS fp,
               count(*) AS n_copies,
               min(doc_id) AS keeper_id
        FROM documents
        GROUP BY 1
    """),
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content fingerprint → hash-partitioned groupBy.

    At 100 TB the md5 is computed map-side and only (fp, doc_id) tuples
    shuffle; keeper selection is min() so it is deterministic.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper_id"))
    )


@register(
    "dedup_soft_weights",
    oracle=dedent("""
        WITH d AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+',
                                           ' ', 'g'))) AS fp
            FROM documents
        )
        SELECT doc_id, fp,
               CAST(count(*) OVER (PARTITION BY fp) AS BIGINT)
                   AS n_copies,
               CAST(1000000 // count(*) OVER (PARTITION BY fp)
                    AS BIGINT) AS weight_ppm
        FROM d
    """),
    tags=("dedup", "sampling"),
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup: keep every copy but downweight it by its
    duplicate-cluster size (weight = 1/n_copies, in ppm) — the
    reweight-instead-of-drop alternative (the "soft dedup" recipe in
    recent pretraining-data work)
    a training pipeline uses when duplicates carry signal (popular
    pages ARE seen more at inference) but must not dominate the
    gradient.  Each cluster's total sampling mass becomes ~1 document
    regardless of its copy count.

    Scale shape: ONE exchange — the window partitions by the
    fingerprint, whose groups are duplicate-cluster-sized (tiny), so
    unlike a stratum window this shape is safe at any scale; the
    weight is integer ppm (floor division), so the hash certifies the
    exact quantization."""
    docs = table(spark, sf_dir, "documents")
    w = W.partitionBy("fp")
    return (
        docs.select(
            "doc_id", F.md5(_norm_text(F.col("text"))).alias("fp")
        )
        .withColumn(
            "n_copies", F.count(F.lit(1)).over(w).cast("long")
        )
        .withColumn(
            "weight_ppm",
            F.expr("1000000 div n_copies").cast("long"),
        )
    )


def _norm_text(col: Column) -> Column:
    """Canonical text normalization: lowercase, non-alnum → space, trim."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


_NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"


@register(
    "dedup_near_normalized",
    oracle=dedent(f"""
        SELECT md5({_NORM_SQL}) AS fp,
               count(*) AS n_copies,
               min(doc_id) AS keeper_id,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        GROUP BY 1
    """),
    tags=("dedup",),
)
def dedup_near_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup on normalized text (case/punct/whitespace
    insensitive) — same single-shuffle plan as exact dedup."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(_norm_text(F.col("text"))).alias("fp"), "doc_id", "n_chars")
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_id"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


_MINHASH_SEEDS = tuple(range(8))


@register(
    "minhash_signature",
    oracle=dedent(f"""
        WITH toks AS (
            SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tokens
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   list_transform(generate_series(1, length(tokens) - 2),
                                  i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2])
                       AS shingles
            FROM toks
            WHERE length(tokens) >= 3
        )
        SELECT doc_id,
               {", ".join(f"list_min(list_transform(shingles, s -> md5('{s}:' || s))) AS h{s}" for s in _MINHASH_SEEDS)}
        FROM sh
    """),
    tags=("dedup", "minhash"),
)
def minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over 3-word shingles (8 salted md5 hashes).

    Key scale property: min() over a multiset equals min() over the
    set, so the signature is a *pure per-row array projection* —
    normalize → tokenize → shingle (array transform) → array_min of
    salted hashes — with NO explode, NO shuffle, NO aggregation.  At
    100 TB this is an embarrassingly parallel map over documents.
    LSH banding then buckets signatures for candidate-pair generation
    (operators/dedup.py).
    """
    from kcidb_spark.operators.dedup import minhash_signatures

    docs = table(spark, sf_dir, "documents", spread=True)
    return minhash_signatures(docs, n_hashes=len(_MINHASH_SEEDS))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle=dedent("""
        WITH d AS (
            SELECT lang,
                   n_chars,
                   CAST(length(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens
            FROM documents
        )
        SELECT lang,
               count(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(n_tokens) AS BIGINT) / (1.0 * count(*)) AS avg_tokens,
               CAST(SUM(n_chars) AS BIGINT) / (1.0 * count(*)) AS avg_chars
        FROM d
        GROUP BY lang
    """),
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + per-language corpus stats.

    Averages are exact-integer-sum / count → bit-stable doubles.
    """
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "lang", "n_chars", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        (F.sum("n_tokens").cast("long") / (1.0 * F.count(F.lit(1)))).alias("avg_tokens"),
        (F.sum("n_chars").cast("long") / (1.0 * F.count(F.lit(1)))).alias("avg_chars"),
    )


@register(
    "text_quality_score",
    oracle=dedent("""
        WITH d AS (
            SELECT doc_id, lang,
                   CAST(length(text) AS BIGINT) AS len,
                   CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
                   CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha_chars,
                   CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit_chars
            FROM documents
        )
        SELECT doc_id, lang, len, n_tokens,
               alpha_chars / (1.0 * len) AS alpha_ratio,
               digit_chars / (1.0 * len) AS digit_ratio,
               CASE WHEN n_tokens >= 5 AND alpha_chars > len * 0.5 THEN 1 ELSE 0 END AS quality_ok
        FROM d
    """),
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality heuristics: length, token count, alpha and
    digit ratios, and a keep/drop flag — the standard pre-training
    corpus filter shape.  All-narrow projection, no shuffle at all."""
    docs = table(spark, sf_dir, "documents")
    length = F.length("text").cast("long")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("long")
    digit = F.length(F.regexp_replace("text", "[^0-9]", "")).cast("long")
    d = docs.select(
        "doc_id",
        "lang",
        length.alias("len"),
        n_tokens.alias("n_tokens"),
        alpha.alias("alpha_chars"),
        digit.alias("digit_chars"),
    )
    return d.select(
        "doc_id",
        "lang",
        "len",
        "n_tokens",
        (F.col("alpha_chars") / (1.0 * F.col("len"))).alias("alpha_ratio"),
        (F.col("digit_chars") / (1.0 * F.col("len"))).alias("digit_ratio"),
        F.when(
            (F.col("n_tokens") >= 5) & (F.col("alpha_chars") > F.col("len") * 0.5), 1
        )
        .otherwise(0)
        .alias("quality_ok"),
    )


@register(
    "token_freq_topk",
    oracle=dedent(f"""
        WITH tok AS (
            SELECT unnest(string_split({_NORM_SQL}, ' ')) AS token
            FROM documents
        )
        SELECT token, count(*) AS n
        FROM tok
        WHERE token <> ''
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT 20
    """),
    tags=("text",),
)
def token_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency top-k (explode → groupBy → top-k).

    The explode stays JVM-side; partial aggregation collapses each
    partition's token counts before the shuffle, so the exchange
    carries one row per distinct token per partition.
    """
    docs = table(spark, sf_dir, "documents", spread=True)
    tok = docs.select(F.explode(F.split(_norm_text(F.col("text")), " ")).alias("token"))
    return (
        tok.filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------




_KNN_K = 5
_KNN_QUERIES = 10


@register(
    "knn_cosine_bruteforce",
    oracle=dedent(f"""
        WITH q AS (
            SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < {_KNN_QUERIES}
        ),
        b AS (
            SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv
            FROM embeddings
        ),
        sims AS (
            SELECT q_id, n_id, {cosine("qv", "nv")} AS sim
            FROM q, b
            WHERE q_id <> n_id
        )
        SELECT q_id, n_id, sim
        FROM (
            SELECT q_id, n_id, sim,
                   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
            FROM sims
        )
        WHERE rn <= {_KNN_K}
    """),
    tags=("similarity",),
)
def knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the exact-ANN baseline.

    The query side is broadcast, so the corpus scan is embarrassingly
    parallel with no shuffle until the final tiny per-query top-k.
    Similarity is rounded to 4 decimals *before* ranking, with n_id as
    tie-break, so the selected neighbor set is deterministic across
    engines.  The scale path (IVF buckets / LSH) lives in operators/.
    """
    from kcidb_spark.operators.similarity import cosine_topk

    emb = table(spark, sf_dir, "embeddings", spread=True)
    return cosine_topk(
        emb.filter(F.col("vec_id") < _KNN_QUERIES), emb, k=_KNN_K
    )


# ---------------------------------------------------------------------------
# MinHash LSH dedup pipeline (scale path) + exact Jaccard verify
# ---------------------------------------------------------------------------

_SIG_SQL = (
    f"toks AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tokens FROM documents),\n"
    "sh AS (SELECT doc_id, list_transform(generate_series(1, length(tokens) - 2),"
    " i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2]) AS shingles"
    " FROM toks WHERE length(tokens) >= 3),\n"
    "sig AS (SELECT doc_id, "
    + ", ".join(
        f"list_min(list_transform(shingles, s -> md5('{s}:' || s))) AS h{s}"
        for s in range(8)
    )
    + " FROM sh),\n"
    "bands AS ("
    "SELECT doc_id, 0 AS band, md5(h0 || '|' || h1 || '|' || h2 || '|' || h3) AS key FROM sig"
    " UNION ALL "
    "SELECT doc_id, 1 AS band, md5(h4 || '|' || h5 || '|' || h6 || '|' || h7) AS key FROM sig)"
)


@register(
    "lsh_candidate_pairs",
    oracle=dedent(f"""
        WITH {_SIG_SQL}
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM bands l
        JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    """),
    tags=("dedup", "minhash", "lsh"),
)
def lsh_candidate_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash→LSH candidate generation (banded bucket join).

    The n²-free near-dup plan: signatures are per-row projections,
    banding is a union of two narrow projections, and candidates come
    from an equi-join on (band, key) — shuffle volume is bucket-sized,
    never all-pairs.  At 100 TB the band join is the only exchange.
    """
    from kcidb_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = table(spark, sf_dir, "documents", spread=True)
    # Persist: the band self-join references the signature subtree on
    # both sides, and a pure projection has no exchange to reuse — the
    # cache halves the (hash-heavy) signature work.  Signature rows are
    # narrow (id + 8 hashes), so this is cheap at any corpus size; at
    # 100 TB you would write signatures to a table once instead.
    sig = scoped_persist(minhash_signatures(docs, n_hashes=8))
    return lsh_candidate_pairs(sig, n_hashes=8, n_bands=2)


@register(
    "jaccard_verify_pairs",
    oracle=dedent(f"""
        WITH {_SIG_SQL},
        cand AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l
            JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
        ),
        shingle_set AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
        sizes AS (SELECT doc_id, count(*) AS n FROM shingle_set GROUP BY doc_id),
        inter AS (
            SELECT c.a, c.b, count(*) AS n_inter
            FROM cand c
            JOIN shingle_set sa ON sa.doc_id = c.a
            JOIN shingle_set sb ON sb.doc_id = c.b AND sb.s = sa.s
            GROUP BY c.a, c.b
        )
        SELECT c.a, c.b,
               coalesce(i.n_inter, 0) AS n_inter,
               coalesce(i.n_inter, 0)
                   / CAST(na.n + nb.n - coalesce(i.n_inter, 0) AS DOUBLE) AS jaccard
        FROM cand c
        LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
        JOIN sizes na ON na.doc_id = c.a
        JOIN sizes nb ON nb.doc_id = c.b
    """),
    tags=("dedup", "jaccard"),
)
def jaccard_verify_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard — the
    verify stage of the dedup pipeline.  Jaccard is a ratio of exact
    integer counts, so values hash-match across engines bit-for-bit."""
    from kcidb_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = table(spark, sf_dir, "documents", spread=True)
    sig = scoped_persist(minhash_signatures(docs, n_hashes=8))  # see lsh_candidate_pairs_q
    cand = lsh_candidate_pairs(sig, n_hashes=8, n_bands=2)
    return jaccard_pairs(docs, cand)


def _simhash_cte(n_bits: int = 16) -> str:
    """DuckDB CTE text computing the identical n-bit SimHash as
    operators/dedup.simhash_bits — shared by the fingerprint and
    hamming-pair oracles."""
    bit_exprs = []
    for i in range(n_bits):
        ci = i // 4 + 1
        bit = 3 - (i % 4)
        vote = (
            f"CASE WHEN ((strpos('0123456789abcdef', substring(h, {ci}, 1)) - 1)"
            f" & {1 << bit}) > 0 THEN 1 ELSE -1 END"
        )
        bit_exprs.append(
            f"CASE WHEN list_sum(list_transform(hexes, h -> {vote})) > 0"
            f" THEN {1 << i} ELSE 0 END"
        )
    total = " + ".join(bit_exprs)
    return dedent(f"""
        toks AS (
            SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tokens FROM documents
        ),
        hx AS (
            SELECT doc_id,
                   list_transform(tokens, t -> substring(md5(t), 1, {n_bits // 4}))
                       AS hexes
            FROM toks
        ),
        sh AS (
            SELECT doc_id, CAST({total} AS BIGINT) AS simhash
            FROM hx
        )
    """)


def _simhash_oracle() -> str:
    return f"WITH {_simhash_cte(16)} SELECT doc_id, simhash FROM sh"


def _simhash_multi_cte(n_bits: int = 120) -> str:
    """DuckDB CTE computing the identical multi-word (60 bits/word)
    SimHash as operators/dedup.simhash_bits_multi — word columns
    sh_0, sh_1, … (flat columns, not a list: dodges the 0- vs 1-based
    list indexing split between engines)."""
    words = []
    for w in range(n_bits // 60):
        bit_exprs = []
        for i in range(60):
            g = 60 * w + i
            ci = g // 4 + 1
            bit = 3 - (g % 4)
            vote = (
                f"CASE WHEN ((strpos('0123456789abcdef', substring(h, {ci}, 1)) - 1)"
                f" & {1 << bit}) > 0 THEN 1 ELSE -1 END"
            )
            bit_exprs.append(
                f"CASE WHEN list_sum(list_transform(hexes, h -> {vote})) > 0"
                f" THEN {1 << i} ELSE 0 END"
            )
        words.append(
            f"CAST({' + '.join(bit_exprs)} AS BIGINT) AS sh_{w}"
        )
    return dedent(f"""
        toks AS (
            SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tokens FROM documents
        ),
        hx AS (
            SELECT doc_id,
                   list_transform(tokens, t -> substring(md5(t), 1, {n_bits // 4}))
                       AS hexes
            FROM toks
        ),
        sh AS (
            SELECT doc_id, {', '.join(words)}
            FROM hx
        )
    """)


@register(
    "simhash_wide_fingerprint",
    oracle=f"WITH {_simhash_multi_cte(120)} SELECT doc_id, sh_0, sh_1 FROM sh",
    tags=("dedup", "simhash"),
)
def simhash_wide_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """120-bit SimHash as two 60-bit BIGINT words — the implementation
    of the width sizing rule (SCALE.md: one 60-bit word holds to ~10⁷
    docs; the second word pushes random-collision noise to 2⁻¹²⁰ and
    halves band-bucket density at equal corpus size).  Word 0 equals
    the 60-bit fingerprint, so widening refines an existing corpus
    without re-fingerprinting.  Pure zero-shuffle projection."""
    from kcidb_spark.operators.dedup import simhash_bits_multi

    return simhash_bits_multi(
        table(spark, sf_dir, "documents", spread=True), n_bits=120
    ).select(
        "doc_id",
        F.col("simhash")[0].alias("sh_0"),
        F.col("simhash")[1].alias("sh_1"),
    )


@register(
    "simhash_wide_hamming_pairs",
    oracle=f"""WITH {_simhash_multi_cte(120)}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sh_0, b.sh_0))
                    + bit_count(xor(a.sh_1, b.sh_1)) AS BIGINT) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh_0, b.sh_0))
              + bit_count(xor(a.sh_1, b.sh_1)) <= 7
    """,
    tags=("dedup", "simhash"),
)
def simhash_wide_hamming_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs at Hamming ≤ 7 over the 120-bit two-word
    fingerprint, by 8-band pigeonhole blocking (≤7 differing bits ⇒
    some 15-bit band agrees; the oracle brute-forces all pairs).
    Same single-shuffle banded plan as the 60-bit query — what the
    extra word changes is the SIZING: collision noise 2⁻¹²⁰ and twice
    the bands over the same per-band key space, so the corpus
    ceiling moves past the ~10⁷-doc single-BIGINT rule
    (operators/dedup.simhash_hamming_pairs docstring)."""
    from kcidb_spark.operators.dedup import (
        simhash_bits_multi,
        simhash_hamming_pairs_multi,
    )

    docs = table(spark, sf_dir, "documents", spread=True)
    sig = scoped_persist(simhash_bits_multi(docs, n_bits=120))
    return simhash_hamming_pairs_multi(
        sig, n_bits=120, n_bands=8, max_hamming=7
    )


@register("simhash_fingerprint", oracle=_simhash_oracle(), tags=("dedup", "simhash"))
def simhash_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document — near-dup fingerprint where
    Hamming-close hashes mean similar token multisets.  Pure per-row
    projection (no shuffle); bits derived from md5 hex prefixes with
    string ops only, so the oracle computes the identical hash."""
    from kcidb_spark.operators.dedup import simhash16

    return simhash16(table(spark, sf_dir, "documents", spread=True))


@register(
    "simhash_hamming_pairs",
    oracle=f"""WITH {_simhash_cte(60)}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                   AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    tags=("dedup", "simhash"),
)
def simhash_hamming_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs at SimHash Hamming distance ≤ 3 over a
    60-bit fingerprint, found by 4-band blocking (pigeonhole: ≤3
    differing bits ⇒ at least one 15-bit band identical, so the
    banded join provably finds every qualifying pair — the oracle
    checks that by brute-force all-pairs).  The Spark plan's shuffle
    is band-bucket-sized, never n².

    60 bits, not 32: band keys live in a FIXED 2^(bits/4) space, so
    at 32 bits (8-bit bands, 256 keys) bucket occupancy grows
    linearly with the corpus and the in-bucket join quadratically —
    measured 2.4 s at 5 k docs → 234 s at 500 k, with the output
    drowning in random 2⁻³² collisions besides (~160 M noise pairs
    at 500 k docs).  15-bit bands keep the same pigeonhole guarantee
    with 32 k keys per band; see operators/dedup.simhash_hamming_pairs
    for the width-vs-corpus sizing rule and the skew valve."""
    from kcidb_spark.operators.dedup import simhash_bits, simhash_hamming_pairs

    docs = table(spark, sf_dir, "documents", spread=True)
    # Both sides of the banded pair join read sig — persist so the
    # md5-heavy fingerprint projection runs once, not per side.
    sig = scoped_persist(simhash_bits(docs, n_bits=60))
    return simhash_hamming_pairs(sig, n_bits=60, n_bands=4, max_hamming=3)


# ---------------------------------------------------------------------------
# Language ID + ANN buckets
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "les", "des", "est", "une"),
    "zh": ("de", "shi", "le", "he", "zai"),
}


def _langid_oracle() -> str:
    score_cols = ", ".join(
        "CAST(SUM(CASE WHEN token IN ("
        + ", ".join(f"'{m}'" for m in markers)
        + f") THEN 1 ELSE 0 END) AS BIGINT) AS s_{lang}"
        for lang, markers in _LANG_MARKERS.items()
    )
    langs = list(_LANG_MARKERS)
    pred = "CASE "
    for lang in langs:
        others = [o for o in langs if o != lang]
        cond = " AND ".join(
            f"s_{lang} >= s_{o}" for o in others
        )
        pred += f"WHEN {cond} THEN '{lang}' "
    pred += "ELSE 'und' END"
    return dedent(f"""
        WITH tok AS (
            SELECT doc_id, lang,
                   unnest(string_split({_NORM_SQL}, ' ')) AS token
            FROM documents
        ),
        scores AS (
            SELECT doc_id, lang, {score_cols}
            FROM tok
            GROUP BY doc_id, lang
        )
        SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
               {pred} AS predicted
        FROM scores
    """)


@register("lang_id_ngram", oracle=_langid_oracle(), tags=("text", "langid"))
def lang_id_ngram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic: per-language stopword hit
    counts → argmax with a fixed preference order on ties.  One
    explode + one aggregation; scores are exact integers."""
    docs = table(spark, sf_dir, "documents", spread=True)
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(_norm_text(F.col("text")), " ")).alias("token"),
    )
    aggs = [
        F.sum(F.when(F.col("token").isin(*markers), 1).otherwise(0))
        .cast("long")
        .alias(f"s_{lang}")
        for lang, markers in _LANG_MARKERS.items()
    ]
    scores = tok.groupBy("doc_id", "lang").agg(*aggs)
    langs = list(_LANG_MARKERS)
    pred = None
    for lang in langs:
        cond = None
        for o in langs:
            if o == lang:
                continue
            c = F.col(f"s_{lang}") >= F.col(f"s_{o}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    pred = pred.otherwise("und")
    return scores.select(
        "doc_id", "lang", "s_en", "s_de", "s_es", "s_fr", "s_zh",
        pred.alias("predicted"),
    )


def _ann_oracle() -> str:
    from kcidb_spark.operators.similarity import hyperplanes

    terms = []
    for i, plane in enumerate(hyperplanes(8, 64)):
        arr = "[" + ", ".join(repr(x) for x in plane) + "]"
        terms.append(
            f"CASE WHEN list_dot_product(v, {arr}) >= 0 THEN {1 << i} ELSE 0 END"
        )
    total = " + ".join(terms)
    return dedent(f"""
        WITH vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        bucketed AS (
            SELECT vec_id, CAST({total} AS BIGINT) AS bucket FROM vecs
        )
        SELECT bucket, count(*) AS n_vectors, min(vec_id) AS min_vec_id
        FROM bucketed
        GROUP BY bucket
    """)


@register("ann_lsh_buckets", oracle=_ann_oracle(), tags=("similarity", "lsh"))
def ann_lsh_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing — the ANN scale path: vectors
    sharing a bucket are candidate neighbors, so query cost is
    O(bucket), not O(corpus).  Planes come from a deterministic
    integer LCG, identical in every engine; bucketing itself is a
    zero-shuffle projection, the histogram is one tiny exchange."""
    from kcidb_spark.operators.similarity import hyperplane_buckets

    emb = table(spark, sf_dir, "embeddings", spread=True)
    b = hyperplane_buckets(emb, n_planes=8, dims=64)
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec_id")
    )


_LSH_TOPK_PLANES = 4  # 16 buckets over ~500 sf0.01 vectors
_LSH_TOPK_Q = 20
_LSH_TOPK_K = 10


def _lsh_topk_oracle(multiprobe: int) -> str:
    from kcidb_spark.operators.similarity import hyperplanes

    terms = []
    for i, plane in enumerate(hyperplanes(_LSH_TOPK_PLANES, 64)):
        arr = "[" + ", ".join(repr(x) for x in plane) + "]"
        terms.append(
            f"CASE WHEN list_dot_product(v, {arr}) >= 0"
            f" THEN {1 << i} ELSE 0 END"
        )
    total = " + ".join(terms)
    offs = [0] + [1 << i for i in range(multiprobe)]
    cos = cosine("p.qv", "m.v")
    return dedent(f"""
        WITH vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        b AS (
            SELECT vec_id, v, CAST({total} AS BIGINT) AS bucket
            FROM vecs
        ),
        probes AS (
            SELECT vec_id AS q_id, v AS qv, xor(bucket, off) AS pb
            FROM b CROSS JOIN (
                SELECT unnest({offs!r}) AS off)
            WHERE vec_id < {_LSH_TOPK_Q}
        )
        SELECT q_id, n_id, sim FROM (
            SELECT p.q_id, m.vec_id AS n_id, {cos} AS sim,
                   row_number() OVER (
                       PARTITION BY p.q_id
                       ORDER BY {cos} DESC, m.vec_id
                   ) AS rn
            FROM probes p
            JOIN b m ON m.bucket = p.pb AND m.vec_id <> p.q_id
        ) WHERE rn <= {_LSH_TOPK_K}
    """)


@register(
    "ann_lsh_topk",
    oracle=_lsh_topk_oracle(0),
    tags=("similarity", "lsh"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN search end-to-end: rank only the query's own
    sign-bucket — the fastest/lowest-recall point of the hyperplane
    family (ann_lsh_buckets is the histogram of the same bucketing;
    this is the search it enables).  ann_lsh_multiprobe_topk is the
    recall dial; tests/test_ann_recall.py measures both against
    brute force."""
    from kcidb_spark.operators.similarity import lsh_topk

    emb = table(spark, sf_dir, "embeddings", spread=True)
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return lsh_topk(
        vecs, _LSH_TOPK_Q, _LSH_TOPK_K,
        multiprobe=0, n_planes=_LSH_TOPK_PLANES,
    )


@register(
    "ann_lsh_multiprobe_topk",
    oracle=_lsh_topk_oracle(_LSH_TOPK_PLANES),
    tags=("similarity", "lsh"),
)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH search (Lv et al., VLDB 2007): each query also
    probes every bucket at Hamming distance 1 — neighbors that fall
    on the other side of one hyperplane (the dominant LSH failure
    mode) come back without building more hash tables.  Probe set is
    deterministic (all single-bit flips), so the DuckDB oracle
    recomputes it exactly."""
    from kcidb_spark.operators.similarity import lsh_topk

    emb = table(spark, sf_dir, "embeddings", spread=True)
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return lsh_topk(
        vecs, _LSH_TOPK_Q, _LSH_TOPK_K,
        multiprobe=_LSH_TOPK_PLANES, n_planes=_LSH_TOPK_PLANES,
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing.  The decode stub is deterministic (payload =
# UTF-8 text bytes), so the non-binary rollup IS oracle-checkable: the
# synthetic documents are pure ASCII (asserted per sf), hence byte
# values == codepoints and DuckDB can recompute the stub's byte-sum
# checksum char-by-char.
# ---------------------------------------------------------------------------


@register(
    "multimodal_features",
    oracle=dedent("""
        SELECT CASE CAST(doc_id % 3 AS INTEGER)
                   WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
               END AS modality,
               CAST(count(*) AS BIGINT) AS n_media,
               CAST(sum(length(text)) AS BIGINT) AS total_bytes,
               CAST(min(COALESCE(list_sum(list_transform(
                        range(1, length(text)+1), i -> unicode(text[i]))), 0)
                        % 2147483648) AS BIGINT) AS min_checksum
        FROM documents
        GROUP BY modality
    """),
    tags=("multimodal", "pandas-udf"),
)
def multimodal_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns → Arrow-batched feature extraction
    (mapInPandas) → per-modality rollup.  The decode step is a
    deterministic stub (codecs aren't in this container); the schema,
    batch shape, and partitioning are the real 100 TB plumbing."""
    from kcidb_spark.operators.multimodal import extract_features, to_media_table

    docs = table(spark, sf_dir, "documents", spread=True)
    feats = extract_features(to_media_table(docs))
    return feats.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("checksum").alias("min_checksum"),
    )


def _phash_cte(n_px: int = 61, n_bits: int = 60, perturb: bool = False,
               twin_where: str = "TRUE") -> str:
    """Shared pixel→aHash/dHash CTE chain replaying
    operators/multimodal.decode_gray_stub + phash_signatures exactly:
    image rows are doc_id % 3 = 0 (to_media_table's round-robin), the
    pure-ASCII guard makes byte k == codepoint of char k+1, pixel i is
    the point sample at byte ``(i * len) // n_px``, and both hashes
    are the same strict integer comparisons the Spark side unrolls.
    ``perturb`` adds the dedup entries' planted near-dup twin per
    image (global +7 brightness, pixel 30 spiked +50) before hashing;
    ``twin_where`` restricts which images get a twin (the incremental
    entry plants twins for a deterministic half of the day batch)."""
    src = "px"
    twin = ""
    if perturb:
        src = "px2"
        twin = f"""px2 AS (
            SELECT doc_id, i, p FROM px
            UNION ALL
            SELECT doc_id + 1000000000, i,
                   p + 7 + CASE WHEN i = 30 THEN 50 ELSE 0 END
            FROM px
            WHERE {twin_where}
        ),
        """
    return dedent(f"""
        px AS (
            SELECT doc_id, CAST(i AS INTEGER) AS i,
                   unicode(substr(text,
                       CAST((i * strlen(text)) // {n_px} AS INTEGER) + 1,
                       1)) AS p
            FROM documents, range({n_px}) t(i)
            WHERE doc_id % 3 = 0
              AND strlen(text) = length(text) AND strlen(text) > 0
        ),
        {twin}psum AS (
            SELECT doc_id,
                   SUM(CASE WHEN i < {n_bits} THEN p ELSE 0 END) AS tot
            FROM {src} GROUP BY doc_id
        ),
        ah AS (
            SELECT {src}.doc_id,
                   CAST(SUM(CASE WHEN i < {n_bits} AND p * {n_bits} > tot
                            THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
                        AS BIGINT) AS ahash
            FROM {src} JOIN psum ON {src}.doc_id = psum.doc_id
            GROUP BY {src}.doc_id
        ),
        dh AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN nxt > p
                            THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
                        AS BIGINT) AS dhash
            FROM (
                SELECT doc_id, i, p,
                       lead(p) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
                FROM {src}
            ) g
            WHERE i < {n_bits}
            GROUP BY doc_id
        )
    """).strip()


@register(
    "phash_image_signatures",
    oracle=f"""WITH {_phash_cte()}
        SELECT ah.doc_id AS media_id, ahash, dhash
        FROM ah JOIN dh ON ah.doc_id = dh.doc_id
    """,
    tags=("multimodal", "dedup", "pandas-udf"),
)
def phash_image_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash signatures (aHash + dHash, 60-bit BIGINTs) for
    every IMAGE row: JVM modality filter → Arrow-batched grayscale
    point-sampling through the injected decode seam → one codegen'd
    integer-threshold projection.  The deterministic stub decode over
    pure-ASCII payloads makes the full hash oracle-replayable; a real
    PIL decode swaps into ``decode_gray_stub`` with no plan change
    (operators/multimodal.py)."""
    from kcidb_spark.operators.multimodal import (
        phash_signatures,
        sample_gray_pixels,
        to_media_table,
    )

    docs = table(spark, sf_dir, "documents", spread=True).filter(
        (F.octet_length("text") == F.length("text"))
        & (F.length("text") > 0)
    )
    return phash_signatures(sample_gray_pixels(to_media_table(docs)))


@register(
    "phash_dedup_pairs",
    oracle=f"""WITH {_phash_cte(perturb=True)}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        FROM dh a JOIN dh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    """,
    tags=("multimodal", "dedup"),
)
def phash_dedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE pairs at dHash Hamming ≤ 3 via the
    certified 4-band pigeonhole blocking (≤3 differing bits ⇒ some
    15-bit band agrees, so the banded join provably equals the
    brute-force all-pairs oracle — same guarantee, same machinery as
    simhash_hamming_pairs).

    The corpus is each image PLUS a planted near-dup twin
    (media_id + 10⁹): a global +7 brightness shift with one pixel
    spiked +50 — the perturbation class perceptual hashing exists to
    survive.  Both hashes are provably invariant to the uniform shift
    (dHash compares adjacent samples; aHash's multiplicative mean
    test ``px·n > Σ`` cancels a constant added to every sample), so
    each twin lands at Hamming ≤ 2 of its original — ≤ 2, not 0,
    because the spiked pixel flips up to two adjacent dHash
    comparisons, exercising the distance threshold rather than
    degenerating to exact-hash equality.  Twin pixels are
    deliberately NOT byte-clamped: saturation at 255 would break the
    shift-invariance algebra and the exact oracle replay; a real
    decoder clamps, a hash oracle must not."""
    from kcidb_spark.operators.multimodal import (
        phash_hamming_pairs,
        phash_signatures,
        sample_gray_pixels,
        to_media_table,
    )

    docs = table(spark, sf_dir, "documents", spread=True).filter(
        (F.octet_length("text") == F.length("text"))
        & (F.length("text") > 0)
    )
    px = sample_gray_pixels(to_media_table(docs))
    twin = px.select(
        (F.col("media_id") + F.lit(1_000_000_000)).alias("media_id"),
        F.expr(
            "transform(px, (x, i) -> x + 7 + IF(i = 30, 50, 0))"
        ).alias("px"),
    )
    # Both sides of the banded join read the signatures, and the
    # pixel decode is a Python (Arrow) stage — persist so it runs
    # once, not per side.
    sig = scoped_persist(phash_signatures(px.unionByName(twin)))
    return phash_hamming_pairs(sig, hash_col="dhash", n_bands=4, max_hamming=3)


_PHASH_DAY_GATE = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'"


@register(
    "phash_dedup_incremental",
    oracle=f"""WITH {_phash_cte(perturb=True,
                                twin_where=_PHASH_DAY_GATE
                                + " AND doc_id % 2 = 0")},
        g AS (
            SELECT doc_id, dhash,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS gate
            FROM dh
        )
        SELECT d.doc_id AS media_id, d.dhash AS dhash FROM g d
        WHERE d.doc_id < 1000000000 AND d.gate < '4'
          AND NOT EXISTS (
              SELECT 1 FROM g c
              WHERE (c.doc_id >= 1000000000 OR c.gate >= '4')
                AND bit_count(xor(d.dhash, c.dhash)) <= 3
          )
    """,
    tags=("multimodal", "dedup"),
)
def phash_dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image edition of the INCREMENTAL ingest gate
    (dedup_incremental_neardup's cycle, perceptual-hash edition): a
    day batch of images (md5-gate < '4') is accepted iff no CORPUS
    image sits within dHash Hamming ≤ 3 — the re-encoded/re-posted
    image case the exact byte fingerprint misses.  Banded pigeonhole
    blocking day-vs-corpus then in-row bit-count verify, provably
    equal to the oracle's NOT-EXISTS brute force (max_hamming <
    n_bands).  The corpus side carries a planted brightness twin for
    the EVEN half of the day batch, so the gate demonstrably rejects
    exactly the re-posts and passes the rest — accept/reject both
    non-trivially exercised at every SF.  At scale the corpus bands
    live in a persisted band||key index (fpindex_build's layout);
    this entry certifies the join semantics those probes reproduce
    (operators/multimodal.phash_incremental_accepts)."""
    from kcidb_spark.operators.multimodal import (
        phash_incremental_accepts,
        phash_signatures,
        sample_gray_pixels,
        to_media_table,
    )

    docs = table(spark, sf_dir, "documents", spread=True).filter(
        (F.octet_length("text") == F.length("text"))
        & (F.length("text") > 0)
    )
    # The decode (Arrow stage) feeds the signature pass AND the twin
    # construction — persist the pixels, recompute the cheap
    # codegen'd hash projections.
    px = scoped_persist(sample_gray_pixels(to_media_table(docs)))
    sig = phash_signatures(px).select("media_id", "dhash")
    gate = F.substring(F.md5(F.col("media_id").cast("string")), 1, 1)
    day = sig.filter(gate < "4")
    twin_px = px.filter(
        (F.substring(F.md5(F.col("media_id").cast("string")), 1, 1) < "4")
        & (F.col("media_id") % 2 == 0)
    ).select(
        (F.col("media_id") + F.lit(1_000_000_000)).alias("media_id"),
        F.expr(
            "transform(px, (x, i) -> x + 7 + IF(i = 30, 50, 0))"
        ).alias("px"),
    )
    corpus = sig.filter(gate >= "4").unionByName(
        phash_signatures(twin_px).select("media_id", "dhash")
    )
    return phash_incremental_accepts(day, corpus)


# ---------------------------------------------------------------------------
# Composed corpus-cleaning pipeline: filter → quality → exact dedup
# ---------------------------------------------------------------------------


@register(
    "pipeline_clean_corpus",
    oracle=dedent(f"""
        WITH feat AS (
            SELECT doc_id,
                   md5({_NORM_SQL}) AS fp,
                   CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                       AS n_tokens,
                   length(text) AS len,
                   length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha
            FROM documents
            WHERE lang = 'en'
        )
        SELECT fp,
               min(doc_id) AS keeper_id,
               count(*) AS n_copies,
               min_by(n_tokens, doc_id) AS n_tokens
        FROM feat
        WHERE n_tokens >= 5 AND alpha > len * 0.5
        GROUP BY fp
    """),
    tags=("pipeline", "dedup", "text"),
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard pre-training cleaning pass as ONE composed plan:
    language filter → quality gate (token count, alpha ratio) →
    exact dedup on normalized text, keeping the lowest doc_id.

    Everything before the final groupBy is a narrow projection, so
    the whole pipeline is map-side until the single fingerprint
    shuffle — the shape that holds at 100 TB: filters prune first
    (pushed to the scan), hashes are computed only for surviving
    rows, and only (fp, doc_id, n_tokens) tuples cross the wire.
    """
    docs = table(spark, sf_dir, "documents")
    length = F.length("text").cast("long")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("long")
    feat = docs.filter(F.col("lang") == "en").select(
        "doc_id",
        F.md5(_norm_text(F.col("text"))).alias("fp"),
        n_tokens.alias("n_tokens"),
        length.alias("len"),
        alpha.alias("alpha"),
    )
    kept = feat.filter(
        (F.col("n_tokens") >= 5) & (F.col("alpha") > F.col("len") * 0.5)
    )
    return kept.groupBy("fp").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.expr("min_by(n_tokens, doc_id)").alias("n_tokens"),
    )


_N_AGREE_SQL = " + ".join(
    f"CAST(sa.h{i} = sb.h{i} AS INTEGER)" for i in range(8)
)


@register(
    "jaccard_estimate_minhash",
    oracle=dedent(f"""
        WITH {_SIG_SQL},
        cand AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l
            JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
        )
        SELECT c.a, c.b,
               CAST({_N_AGREE_SQL} AS BIGINT) AS n_agree,
               CAST({_N_AGREE_SQL} AS BIGINT) / 8.0 AS jaccard_est
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a
        JOIN sig sb ON sb.doc_id = c.b
    """),
    tags=("dedup", "minhash", "sketch"),
)
def jaccard_estimate_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-only similarity: estimate Jaccard for each LSH candidate
    pair as the fraction of agreeing MinHash components — E[h_a = h_b]
    IS the Jaccard similarity, so no shingle set is ever re-touched.

    This is the true 100 TB verify path: exact Jaccard
    (jaccard_verify_pairs) re-explodes candidate documents' shingles,
    which is fine for LSH-sized candidate sets but dominates when
    candidates are plentiful; the estimate joins two 9-column
    signature rows per pair — narrow, broadcast-friendly, and
    entirely integer arithmetic (n_agree/8.0 is one exact IEEE
    division, bit-stable across engines).
    """
    from kcidb_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = table(spark, sf_dir, "documents", spread=True)
    # Both signatures ride through the band join (carry=) as ONE
    # 128-byte binary column per side: unhex halves each md5 to 16
    # bytes (injective, so slice equality == hex-string equality) and
    # concat packs all 8, so the band-key shuffle moves one compact
    # value instead of 16 scalar strings.  ONE shuffle total, no
    # signature persist, no re-join of the signature frame per side
    # (carrying the 16 raw h* columns measured 2× slower; the r01
    # re-join form paid a persist materialization on top).
    sig = minhash_signatures(docs, n_hashes=8).withColumn(
        "sig", F.unhex(F.concat(*[F.col(f"h{i}") for i in range(8)]))
    )
    cand = lsh_candidate_pairs(
        sig, n_hashes=8, n_bands=2, carry=("sig",), materialize_bands=True
    )
    n_agree = sum(
        F.when(
            F.expr(
                f"substring(a_sig, {1 + 16 * i}, 16)"
                f" = substring(b_sig, {1 + 16 * i}, 16)"
            ),
            1,
        ).otherwise(0)
        for i in range(8)
    )
    return cand.select(
        "a",
        "b",
        n_agree.cast("long").alias("n_agree"),
        (n_agree.cast("long") / F.lit(8.0)).alias("jaccard_est"),
    )


# ---------------------------------------------------------------------------
# Vector quantization: float32 embeddings → int8 + per-vector scale
# ---------------------------------------------------------------------------


@register(
    "vec_quantize_int8",
    oracle=dedent("""
        WITH d AS (
            SELECT vec_id, label,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS mx,
                   embedding
            FROM embeddings
        )
        SELECT vec_id, label, mx,
               array_to_string(list_transform(embedding,
                   x -> CAST(CAST(floor(CAST(x AS DOUBLE)
                        / (CASE WHEN mx = 0 THEN 1.0 ELSE mx END)
                        * 127.0 + 0.5) AS INTEGER) AS VARCHAR)), ',') AS q8
        FROM d
    """),
    tags=("similarity", "quantize"),
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    standard 4× storage/bandwidth cut before ANN indexing at scale.
    Per vector: scale = max |x|, q_i = floor(x/scale·127 + 0.5).

    Pure per-row projection (zero shuffle, embarrassingly parallel);
    SQL-text lambdas keep it codegen'd (see operators/dedup.py perf
    note).  Cross-engine exactness: float32 → double casts are exact,
    both engines then run the identical double ops, and floor(+0.5)
    rounding avoids the half-even/half-up divergence of round().

    The registry output serializes q8 as a comma-joined string (and
    drops the raw embedding): int8 codes are small exact integers, so
    the text form is lossless, and the driver's pandas canonicalization
    can sort/hash flat strings where it cannot hash list cells
    (VERDICT.md r1 "What's wrong" §1).
    """
    emb = table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.expr(
            "array_max(transform(embedding, x -> abs(cast(x as double))))"
        ).alias("mx"),
    )
    return d.select(
        "vec_id",
        "label",
        "mx",
        F.expr(
            "array_join(transform(embedding, x -> cast(cast(floor(cast(x as double)"
            " / (CASE WHEN mx = 0.0 THEN 1.0 ELSE mx END)"
            " * 127.0 + 0.5) AS INT) AS STRING)), ',')"
        ).alias("q8"),
    )


# ---------------------------------------------------------------------------
# Text quality: repetition ratio, Gopher-style rule gate, decontamination
# ---------------------------------------------------------------------------


@register(
    "text_repetition",
    oracle=dedent(f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS w
            FROM documents
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT w) AS BIGINT) AS n_distinct,
               1.0 - count(DISTINCT w) / CAST(count(*) AS DOUBLE)
                   AS repetition
        FROM toks
        GROUP BY doc_id
    """),
    tags=("pipeline", "quality"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token repetition ratio per document — the duplicate-content
    quality signal (high ratio → boilerplate/spam; the within-document
    twin of corpus-level dedup).

    One explode + one two-level agg (count + countDistinct over the
    doc_id partition); the ratio is a pure integer-count division, so
    it hash-matches DuckDB bit-for-bit.  At 100 TB: partial counts
    merge map-side; no token string ever leaves its executor except
    under the doc_id hash — the same single-shuffle shape as
    text_token_stats.
    """
    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id", F.explode(F.split(_norm_text(F.col("text")), " ")).alias("w")
    )
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("w").alias("n_distinct"),
        (
            F.lit(1.0)
            - F.countDistinct("w") / F.count(F.lit(1)).cast("double")
        ).alias("repetition"),
    )


@register(
    "quality_gopher_rules",
    oracle=dedent("""
        WITH feat AS (
            SELECT doc_id,
                   CAST(length(string_split_regex(trim(text), '\\s+'))
                        AS BIGINT) AS n_tokens,
                   CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                        AS BIGINT) AS n_chars,
                   CAST(length(list_filter(
                        string_split_regex(trim(text), '\\s+'),
                        w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
                        AS n_alpha_words
            FROM documents
        )
        SELECT doc_id, n_tokens,
               n_chars / CAST(n_tokens AS DOUBLE) AS mean_word_len,
               n_alpha_words / CAST(n_tokens AS DOUBLE) AS alpha_word_frac,
               CAST(n_tokens BETWEEN 50 AND 100000
                    AND n_chars / CAST(n_tokens AS DOUBLE)
                        BETWEEN 3.0 AND 10.0
                    AND n_alpha_words / CAST(n_tokens AS DOUBLE) > 0.8
                    AS BOOLEAN) AS passes
        FROM feat
    """),
    tags=("pipeline", "quality"),
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021, "Scaling
    Language Models" §A1.1 repurposed as public-heuristic thresholds):
    token count in [50, 100k], mean word length in [3, 10], >80% of
    words containing an alphabetic character.

    Pure per-row projection — zero shuffle, embarrassingly parallel at
    any scale.  All ratios are integer/IEEE-exact divisions; the
    booleans therefore hash-match across engines.  The word filter is
    a SQL-text lambda (JVM-evaluated, not a Python UDF).
    """
    docs = table(spark, sf_dir, "documents", spread=True)
    n_tokens = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    n_chars = F.length(F.regexp_replace("text", r"\s+", "")).cast("long")
    n_alpha = F.expr(
        "cast(size(filter(split(trim(text), '\\\\s+'),"
        " w -> w rlike '[A-Za-z]')) as bigint)"
    )
    feat = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        n_alpha.alias("n_alpha_words"),
    )
    mean_wl = F.col("n_chars") / F.col("n_tokens").cast("double")
    alpha_frac = F.col("n_alpha_words") / F.col("n_tokens").cast("double")
    return feat.select(
        "doc_id",
        "n_tokens",
        mean_wl.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        (
            F.col("n_tokens").between(50, 100000)
            & mean_wl.between(3.0, 10.0)
            & (alpha_frac > 0.8)
        ).alias("passes"),
    )


@register(
    "contamination_ngram",
    oracle=dedent(f"""
        WITH toks AS (
            SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tokens
            FROM documents
        ),
        bench AS (
            SELECT DISTINCT md5(array_to_string(tokens[1:8], ' ')) AS g
            FROM toks WHERE doc_id < 5 AND length(tokens) >= 8
        ),
        grams AS (
            SELECT doc_id, md5(array_to_string(tokens[i:i+7], ' ')) AS g
            FROM (
                SELECT doc_id, tokens,
                       unnest(generate_series(1, length(tokens) - 7)) AS i
                FROM toks WHERE length(tokens) >= 8
            )
        )
        SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
        FROM grams gr
        JOIN bench b ON gr.g = b.g
        GROUP BY gr.doc_id
    """),
    tags=("pipeline", "decontamination"),
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by 8-gram overlap: count, per
    document, how many of its normalized 8-grams appear in a benchmark
    gram set (here: the leading 8-gram of docs 0–4, making the check
    self-verifying on synthetic data; in production the benchmark set
    comes from eval suites).

    The 100 TB shape: the benchmark gram set is tiny → broadcast
    semi-equi-join, so corpus grams stream map-side and only matching
    (doc_id, gram) pairs reach the one groupBy shuffle.  Grams are
    md5'd before the join — fixed-width keys, no long token strings on
    the wire.
    """
    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id", F.split(_norm_text(F.col("text")), " ").alias("tokens")
    ).filter(F.size("tokens") >= 8)
    bench = (
        toks.filter(F.col("doc_id") < 5)
        .select(
            F.md5(F.concat_ws(" ", F.slice("tokens", 1, 8))).alias("g")
        )
        .distinct()
    )
    grams = toks.select(
        "doc_id",
        F.explode(F.expr("sequence(1, size(tokens) - 7)")).alias("i"),
        "tokens",
    ).select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.expr("slice(tokens, i, 8)"))).alias("g"),
    )
    return (
        grams.join(F.broadcast(bench), on="g", how="inner")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )


# ---------------------------------------------------------------------------
# Corpus plumbing: chunking, deterministic sampling, PII, vector norms
# ---------------------------------------------------------------------------


@register(
    "doc_chunking",
    oracle=dedent(f"""
        WITH toks AS (
            SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tokens
            FROM documents
        )
        SELECT doc_id, i AS chunk_idx,
               CAST(len(tokens[(i-1)*128+1 : i*128]) AS INTEGER)
                   AS n_tokens,
               md5(array_to_string(tokens[(i-1)*128+1 : i*128], ' '))
                   AS chunk_fp
        FROM (
            SELECT doc_id, tokens,
                   unnest(generate_series(
                       1, CAST(ceil(length(tokens) / 128.0) AS BIGINT))) AS i
            FROM toks
        )
    """),
    tags=("pipeline", "chunking"),
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence chunking for training: split each document's token
    stream into 128-token chunks (last chunk ragged), emitting
    (doc_id, chunk_idx, n_tokens, chunk fingerprint).

    Pure projection + in-row explode — no shuffle at all; every chunk
    is derived from its own document's row, so 100 TB chunks at input
    parallelism.  Fingerprints stand in for chunk text in the output
    (fixed-width, hash-comparable); a writer stage would emit the
    token slice itself.
    """
    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id", F.split(_norm_text(F.col("text")), " ").alias("tokens")
    )
    return (
        toks.select(
            "doc_id", "tokens",
            F.explode(
                F.expr(
                    "sequence(1, cast(ceil(size(tokens) / 128.0) as bigint))"
                )
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.expr("size(slice(tokens, (chunk_idx-1)*128+1, 128))").alias(
                "n_tokens"
            ),
            F.md5(
                F.concat_ws(
                    " ", F.expr("slice(tokens, (chunk_idx-1)*128+1, 128)")
                )
            ).alias("chunk_fp"),
        )
    )


@register(
    "sample_by_hash",
    oracle=dedent("""
        SELECT doc_id, lang
        FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'a'
    """),
    tags=("pipeline", "sampling"),
)
def sample_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/16 corpus sample by content-independent key
    hash — the reproducible-sampling primitive every corpus experiment
    needs (same rows on every run, every engine, any partitioning;
    unlike ``df.sample`` which is seed- and partition-dependent).

    Pure pushdown-friendly filter projection; at 100 TB the md5 is
    computed map-side and the sample never shuffles.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "a"
    ).select("doc_id", "lang")


#: PII fixture rows (crafted — synthetic docs carry no PII, so the
#: redaction semantics are proven on inline golden inputs).
_PII_ROWS = (
    (1, "contact me at alice@example.org or bob.smith+x@sub.example.co.uk"),
    (2, "no pii here, just text about e-mail etiquette"),
    (3, "dial +1-555-123-4567 or 555 987 6543 today"),
    (4, "mixed: carol@test.io and 555-000-1111 in one line"),
)

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "[+]?[0-9][0-9 -]{6,}[0-9]"


@register(
    "pii_redact",
    oracle=dedent(f"""
        WITH t(id, s) AS (VALUES
            {", ".join("(%d, '%s')" % (i, s.replace("'", "''")) for i, s in _PII_ROWS)})
        SELECT id,
               CAST(len(regexp_extract_all(s, '{_EMAIL_RE}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(s, '{_PHONE_RE}')) AS BIGINT)
                   AS n_phones,
               regexp_replace(regexp_replace(s, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
        FROM t
    """),
    tags=("pipeline", "pii"),
    bench=False,  # golden-values semantics proof
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count + redact emails and phone-shaped numbers
    (the standard pre-training privacy pass).  Patterns restricted to
    syntax shared by Java regex and RE2 so both engines execute the
    identical automaton.  As a projection it runs map-side at any
    scale; counts let a pipeline report redaction rates per shard."""
    df = spark.createDataFrame(list(_PII_ROWS), "id int, s string")
    email, phone = _EMAIL_RE, _PHONE_RE
    return df.select(
        "id",
        F.expr(f"cast(size(regexp_extract_all(s, '{email}', 0)) as bigint)")
        .alias("n_emails"),
        F.expr(f"cast(size(regexp_extract_all(s, '{phone}', 0)) as bigint)")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("s", email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("redacted"),
    )


@register(
    "vec_l2_norm",
    oracle=dedent("""
        WITH d AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        )
        SELECT vec_id, label,
               sqrt(list_dot_product(v, v)) AS l2_norm,
               list_max(list_transform(v, x -> abs(x)))
                   / sqrt(list_dot_product(v, v)) AS max_abs_normalized
        FROM d
    """),
    tags=("similarity", "normalize"),
)
def vec_l2_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms + the largest normalized component per embedding — the
    normalization pass before cosine ANN (post-normalization, cosine =
    dot, which removes a sqrt from every pair comparison at query
    time).

    Zero-shuffle projection; the dot product is a sequential in-row
    fold (operators/similarity.dot_expr), bit-comparable with DuckDB's
    list_dot_product, so doubles hash-match exactly.
    """
    from kcidb_spark.operators.similarity import dot_expr

    emb = table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    norm = F.expr(f"sqrt({dot_expr('v', 'v')})")
    return d.select(
        "vec_id",
        "label",
        norm.alias("l2_norm"),
        (
            F.expr("array_max(transform(v, x -> abs(x)))") / norm
        ).alias("max_abs_normalized"),
    )


@register(
    "lsh_candidate_pairs_capped",
    oracle=dedent(f"""
        WITH {_SIG_SQL},
        capped AS (
            SELECT doc_id, band, key FROM (
                SELECT doc_id, band, key,
                       row_number() OVER (
                           PARTITION BY band, key ORDER BY doc_id
                       ) AS rn
                FROM bands
            ) WHERE rn <= 4
        )
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM capped l
        JOIN capped r
          ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    """),
    tags=("dedup", "minhash", "lsh", "scale-valve"),
)
def lsh_candidate_pairs_capped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates with the ``max_bucket`` spam-flood safety valve
    engaged (SCALE.md rehearsal finding: pair volume grows as
    Σ bucket², so one pathological bucket of N byte-similar documents
    costs N² pairs): buckets truncate to their 4 lowest doc_ids before
    the pair join, bounding any bucket's contribution at 4² while
    keeping exactly the survivors exact-style dedup would keep.  The
    oracle reproduces the cap with a ROW_NUMBER window, certifying the
    truncation semantics cross-engine."""
    from kcidb_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = table(spark, sf_dir, "documents", spread=True)
    sig = minhash_signatures(docs, n_hashes=8)
    return lsh_candidate_pairs(sig, n_hashes=8, n_bands=2, max_bucket=4)


# ---------------------------------------------------------------------------
# Round-6 text-quality / substring-dedup additions
# ---------------------------------------------------------------------------

#: The normalized alphabet (everything _NORM_SQL can emit).
_DIVERSITY_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789 "


def _char_count_sql(c: str) -> str:
    ch = "' '" if c == " " else f"'{c}'"
    return f"(length(n) - length(replace(n, {ch}, '')))"


@register(
    "text_char_diversity",
    oracle=dedent(f"""
        WITH d AS (SELECT doc_id, {_NORM_SQL} AS n FROM documents),
        s AS (
            SELECT doc_id, CAST(length(n) AS BIGINT) AS n_chars,
                   CAST({" + ".join(f"{_char_count_sql(c)} * {_char_count_sql(c)}" for c in _DIVERSITY_CHARS)} AS BIGINT)
                       AS sum_sq
            FROM d WHERE length(n) > 0
        )
        SELECT doc_id, n_chars, sum_sq,
               CAST(n_chars * n_chars - sum_sq AS BIGINT)
                   / CAST(n_chars * n_chars AS DOUBLE) AS gini_diversity
        FROM s
    """),
    tags=("text", "quality"),
)
def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Gini–Simpson diversity per document:
    1 − Σ(n_c/N)² over the normalized alphabet — low diversity flags
    degenerate documents (one repeated character/word, padding spam)
    that length or stopword filters miss.

    Exactness: counts are ``length − length(replace(..))`` integers
    (the alphabet is closed under _NORM, so N = length); the score is
    ONE division of two exact BIGINTs — bit-stable cross-engine (the
    repo's float rule, queries/_exact.py).  Plan: pure projection,
    37 replace/length pairs fused into one WholeStageCodegen over the
    scan — zero shuffle at any scale.
    """
    docs = table(spark, sf_dir, "documents", spread=True)
    d = docs.select("doc_id", _norm_text(F.col("text")).alias("n"))
    counts = [
        F.expr(_char_count_sql(c)).cast("long") for c in _DIVERSITY_CHARS
    ]
    n = F.length("n").cast("long")
    sum_sq = sum(c * c for c in counts)
    return (
        d.filter(F.length("n") > 0)
        .select(
            "doc_id",
            n.alias("n_chars"),
            sum_sq.alias("sum_sq"),
            ((n * n - sum_sq).cast("bigint")
             / (n * n).cast("double")).alias("gini_diversity"),
        )
    )


@register(
    "quality_token_rarity",
    oracle=dedent(f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS token
            FROM documents
        ),
        t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
        freq AS (
            SELECT token, CAST(count(*) AS BIGINT) AS f
            FROM t GROUP BY token
        )
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(f) AS BIGINT) AS sum_freq,
               CAST(sum(f) AS BIGINT) / CAST(count(*) AS DOUBLE)
                   AS mean_token_freq
        FROM t JOIN freq USING (token)
        GROUP BY t.doc_id
    """),
    tags=("text", "quality"),
)
def quality_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality proxy without floats: score each document by
    the mean CORPUS FREQUENCY of its tokens — the exact-integer stand-in
    for mean log-probability (documents of rare/garbage tokens score
    low, boilerplate scores high; the ranking is what the filter
    thresholds).  True −log p would hinge on libm rounding and fail
    bit-identical cross-engine comparison; Σfreq and n are exact
    BIGINTs and the mean is ONE exact division.

    Plan: one explode → token-key partial-agg (vocab-sized exchange,
    Zipf-bounded) → shuffle join back on token → per-doc agg.  At
    100 TB the freq side is vocab-sized (millions of rows, not
    corpus-sized) — broadcastable when it fits, AQE decides.
    """
    docs = table(spark, sf_dir, "documents", spread=True)
    tok = docs.select(
        "doc_id",
        F.explode(F.split(_norm_text(F.col("text")), " ")).alias("token"),
    ).filter(F.col("token") != "")
    freq = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    return (
        tok.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("f").cast("long").alias("sum_freq"),
        )
        .select(
            "doc_id", "n_tokens", "sum_freq",
            (F.col("sum_freq") / F.col("n_tokens").cast("double"))
            .alias("mean_token_freq"),
        )
    )


_SPAN_K = 8  # tokens per rolling window


@register(
    "dedup_substring_spans",
    oracle=dedent(f"""
        WITH toks AS (
            SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tokens
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, length(tokens) - {_SPAN_K - 1}),
                       i -> md5(list_aggregate(list_slice(tokens, i, i + {_SPAN_K - 1}), 'string_agg', ' '))
                   ) AS spans
            FROM toks WHERE length(tokens) >= {_SPAN_K}
        ),
        sp AS (SELECT doc_id, unnest(spans) AS h FROM sh),
        nd AS (
            SELECT h, count(DISTINCT doc_id) AS nd FROM sp GROUP BY h
        )
        SELECT sp.doc_id,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared,
               CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   / CAST(count(*) AS DOUBLE) AS shared_frac
        FROM sp JOIN nd USING (h)
        GROUP BY sp.doc_id
    """),
    tags=("dedup", "substring"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup signal: the fraction of each document's
    {k}-token rolling windows that also occur verbatim in another
    document — the per-document statistic behind substring-level
    dedup policies (drop/trim documents whose text is largely copied
    even when no whole-document near-dup exists; the training-data
    alternative to suffix-array dedup, computed as pure dataflow).

    Plan: in-row window hashes (md5 over each token slice — the
    shingle machinery at k={k}), one explode, token-hash partial-agg
    for cross-doc counts (exchange carries one row per distinct span
    hash per partition), semi-aggregated join back, per-doc rollup.
    Shuffle ∝ corpus token count — inherent to exact substring
    matching — with every exchange narrowed to 32-char hashes.
    All-integer outputs + one exact division.
    """.format(k=_SPAN_K)
    from kcidb_spark.operators.dedup import shingled

    sh = shingled(
        table(spark, sf_dir, "documents", spread=True), k=_SPAN_K
    )
    sp = sh.select(
        "doc_id",
        F.explode(F.transform("shingles", F.md5)).alias("h"),
    )
    nd = sp.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    shared = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).cast("long")
    return (
        sp.join(nd, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            shared.alias("n_shared"),
        )
        .select(
            "doc_id", "n_windows", "n_shared",
            (F.col("n_shared") / F.col("n_windows").cast("double"))
            .alias("shared_frac"),
        )
    )
