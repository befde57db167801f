"""DuckDB oracle SQL: the shared builders, and the serving-store oracles.

Every oracle-bearing registry entry carries one complete, standalone
SQL string; this module is where those strings are made.  The many
oracles are composed from a few low-level pieces (the shape of
"Building Advanced SQL Analytics From Low-Level Plan Operators",
SIGMOD 2021), each spelled once:

* :func:`cosine` — the 4-decimal-rounded cosine every float family
  ranks by;
* :func:`md5_in` / :func:`md5_group` / :func:`live` — the md5-range
  arrival groups and the standard tombstone slice;
* :func:`float_ivf_ctes` / :func:`float_ivf_topk` / :func:`sem_leg` —
  the float-IVF chain (vecs, cents, assign, probes, ranked members);
* :func:`grid_v_cte`, :func:`lloyd_ctes`, :func:`km_coarse_ctes`,
  :func:`pq_model_ctes` — the integer grid and its unrolled Lloyd
  rounds (coarse quantizer and per-subspace codebooks);
* :func:`bm25_ctes` / :func:`bm25_scores` / :func:`lex_leg` — the BM25
  statistics chain under a visibility rule;
* :data:`_RRF_CASE` / :func:`rrf_fusion` — reciprocal-rank fusion.

Builders take only what their users differ in (member filter, query
bound, nprobe, per-round visibility).  The workload constants they
share live here too, so the query modules import them from this leaf
module and no import cycle arises.  :data:`_RRF_CASE` and
:func:`bm25_term_micro` are also the engine's text (ranking.rrf_fuse,
the BM25 scorers): one spelling, two engines.
"""

from __future__ import annotations

from textwrap import dedent

# ---------------------------------------------------------------------------
# Workload constants
# ---------------------------------------------------------------------------

#: Float and integer IVF: the lowest-id vectors are the (initial)
#: centroids, the lowest-id vectors also ask the queries.
_IVF_CENTROIDS = 8
_IVF_QUERIES = 5
_IVF_K = 3
#: Fixed Lloyd round count — unrolled verbatim in the oracle's CTEs.
_KM_ROUNDS = 3
#: Integer quantization: x → floor((x + 1) · 2^20); the +1 offset
#: keeps every coordinate positive so the integer-mean truncation is
#: sign-free, and L2 argmins are translation-invariant.
_KM_SCALE = 1 << 20
_KM_NPROBE = 2
#: Product-quantization geometry for the TRAINED path: 64-dim vectors
#: → 8 subspaces × 8 dims, 8 codewords per subspace, 2 Lloyd rounds
#: per subspace (unrolled verbatim in the oracle; the production dial
#: is 256 codewords × ~25 rounds — the construction is round-count
#: agnostic).
_PQK_SUBS = 8
_PQK_SUBDIM = 8
_PQK_CODES = 8
_PQK_ROUNDS = 2

#: Bounded training sample of the store retrain: every 3rd id plus the
#: first k (so Lloyd's lowest-k-ids init is always present) — the
#: FAISS posture (train on ~2^16 vectors at any corpus size), made
#: deterministic so the DuckDB oracle can replay it.
_RETRAIN_SAMPLE = f"(vec_id % 3 = 0 OR vec_id < {_IVF_CENTROIDS})"

#: Deterministic 3-way arrival split of the serving stores by
#: md5(id) first hex char — covers every id exactly once.
_T21_RANGES = ("012345", "6789ab", "cdef")
#: Overlapping arrival ranges (each hex prefix lands in 1-2 batches):
#: the re-crawl shape where a later batch replays vectors an earlier
#: one already ingested — what compaction's last-write-wins dedup is
#: FOR (LSM ordering: the newest ingested copy is the one served,
#: matching the probes' ``lsm.latest``).
_COMPACT_RANGES = ("01234567", "456789ab", "89abcdef")
#: The standard tombstone slice: md5 second hex char 0-3 (~25%).
_TOMB_CHARS = "0123"

_BM25_QUERIES = 5
_BM25_K = 5
#: floor(term_score · 2^20) — multiplication by a power of two is
#: EXACT in IEEE doubles (exponent shift), so the only rounding in a
#: term score is its two correctly-rounded divisions.
_BM25_SCALE = 1 << 20

_RRF_C = 60          # the standard RRF constant (Cormack et al. 2009)
_HYB_LEG_K = 10      # per-leg shortlist depth (hybrid_rrf_topk's)
_HYB_FINAL_K = 5     # fused top-k
_HYB_QUERIES = 5     # doc_id/vec_id < 5 — the standard workload

# ---------------------------------------------------------------------------
# Shared SQL text (oracle AND engine)
# ---------------------------------------------------------------------------

#: One term's micro-bit BM25 score.  Rational forms of the classic
#: components (transcendental log is not bit-portable):
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


def bm25_term_micro(
    N: str = "tot.n", df: str = "dft.df", tf: str = "tf.tf",
    S: str = "tot.s", len: str = "dlen.len",  # noqa: A002
) -> str:
    """:data:`_BM25_TERM_MICRO` over the given column references (the
    defaults are the oracle chain's; the engine passes bare names)."""
    return _BM25_TERM_MICRO.format(
        N=N, df=df, tf=tf, S=S, len=len, scale=_BM25_SCALE
    )


#: Reciprocal-rank fusion of ranks ``r_lex`` / ``r_sem`` (either may
#: be NULL): ``1/(c + a) + 1/(c + b)`` rewritten to ONE division of
#: integers, ``(2c + a + b)/((c + a)(c + b))`` — a single correctly-
#: rounded IEEE operation, so both engines fuse bit-identically.
_RRF_CASE = (
    f"CASE WHEN r_lex IS NOT NULL AND r_sem IS NOT NULL THEN"
    f" CAST(({2 * _RRF_C} + r_lex + r_sem) AS DOUBLE)"
    f" / (({_RRF_C} + r_lex) * ({_RRF_C} + r_sem))"
    f" WHEN r_lex IS NOT NULL THEN"
    f" CAST(1 AS DOUBLE) / ({_RRF_C} + r_lex)"
    f" ELSE CAST(1 AS DOUBLE) / ({_RRF_C} + r_sem) END"
)

# ---------------------------------------------------------------------------
# Generic pieces
# ---------------------------------------------------------------------------


def with_(ctes: list, body: str) -> str:
    """One standalone statement: ``WITH`` the CTE list, then ``body``."""
    return "WITH " + ",\n".join(ctes) + "\n" + body


def ranked(
    cols: str, part: str, order: str, col: str, k: int, src: str
) -> str:
    """``cols`` of the FROM item ``src`` plus ``col``, the BIGINT
    row_number over ``part`` by ``order``, cut at ``k``."""
    return dedent(f"""
        SELECT {cols},
               CAST(row_number() OVER (PARTITION BY {part}
                                       ORDER BY {order}) AS BIGINT) AS {col}
        FROM {src}
        QUALIFY {col} <= {k}""")


def rounds_cte(first: int = 0) -> str:
    """``rounds(probe_round)``: the serve-during-ingest probe rounds
    ``first`` .. last arrival batch."""
    return (
        "rounds AS (SELECT unnest(generate_series("
        f"{first}, {len(_T21_RANGES) - 1})) AS probe_round)"
    )


def _and(pred: str) -> str:
    return f"\n             AND {pred}" if pred else ""


def cosine(a: str, b: str) -> str:
    """Cosine of two DOUBLE[] columns, rounded to 4 decimals — the
    ranking key every float family certifies."""
    return (
        f"round(list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))), 4)"
    )


def md5_in(id_col: str, chars, pos: int = 1, negate: bool = False) -> str:
    """md5(id)'s ``pos``-th hex char is (not) one of ``chars``."""
    lits = ", ".join(repr(c) for c in chars)
    op = "NOT IN" if negate else "IN"
    return f"substr(md5(CAST({id_col} AS VARCHAR)), {pos}, 1) {op} ({lits})"


def md5_group(id_col: str, ranges=_T21_RANGES, last_wins: bool = False) -> str:
    """Index of the range of ``ranges`` holding md5(id)'s first hex
    char: the first match, the last range taking every other char —
    or, with ``last_wins``, the LAST range containing it (overlapping
    ranges: the newest batch holding the id)."""
    idx = list(enumerate(ranges))
    whens = " ".join(
        f"WHEN {md5_in(id_col, chars)} THEN {i}"
        for i, chars in (reversed(idx) if last_wins else idx[:-1])
    )
    tail = "" if last_wins else f" ELSE {len(ranges) - 1}"
    return f"CASE {whens}{tail} END"


def live(id_col: str) -> str:
    """``id_col`` is outside the standard tombstone slice."""
    return md5_in(id_col, _TOMB_CHARS, pos=2, negate=True)


# ---------------------------------------------------------------------------
# Float IVF: vecs → cents → assign → probes → ranked members
# ---------------------------------------------------------------------------


def float_ivf_ctes(
    cents=_IVF_CENTROIDS, queries=_IVF_QUERIES, nprobe: int | None = None,
    cols: dict | None = None, order: str | None = None,
) -> list:
    """``vecs`` (DOUBLE[] v plus ``cols`` name → SQL), ``cents`` (the
    vectors with id < ``cents``), ``assign`` (each vector's nearest
    centroid) and, with ``nprobe``, ``probes`` (each query's
    ``nprobe`` nearest).  Nearest = highest 4-decimal cosine, c_id
    tie-break — or ascending ``order`` where given (the ADC family's
    scaled d2).  ``cols`` ride through assign and probes."""
    cols = cols or {}
    order = order or f"{cosine('vecs.v', 'cents.cv')} DESC"
    extra = "".join(
        f", {e}" if e == n else f", {e} AS {n}" for n, e in cols.items()
    )
    keep = "".join(f", {n}" for n in cols)
    carry = "".join(f", vecs.{n}" for n in cols)

    def nearest(where: str) -> str:
        return dedent(f"""
                SELECT vecs.vec_id, cents.c_id, vecs.v{carry},
                       row_number() OVER (
                           PARTITION BY vecs.vec_id
                           ORDER BY {order}, cents.c_id
                       ) AS rn
                FROM vecs CROSS JOIN cents{where}""")

    ctes = [
        f"vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v{extra}"
        " FROM embeddings)",
        f"cents AS (SELECT vec_id AS c_id, v AS cv FROM vecs"
        f" WHERE vec_id < {cents})",
        f"assign AS (SELECT vec_id, c_id, v{keep} FROM ({nearest('')}\n)"
        " WHERE rn = 1)",
    ]
    if nprobe is not None:
        where = f"\n                WHERE vecs.vec_id < {queries}"
        ctes.append(
            f"probes AS (SELECT vec_id AS q_id, c_id, v AS qv{keep}"
            f" FROM ({nearest(where)}\n) WHERE rn <= {nprobe})"
        )
    return ctes


def _probe_join(member: str, rounds: bool) -> str:
    src = "rounds r CROSS JOIN probes p" if rounds else "probes p"
    return (
        f"FROM {src}\n"
        "            JOIN assign m ON m.c_id = p.c_id AND m.vec_id <> p.q_id"
        + _and(member)
    )


def float_ivf_topk(
    member: str = "", rounds: bool = False, lead: str = ""
) -> str:
    """Each query's top-k members (cosine DESC, n_id) of its probed
    clusters, ``member`` ANDed into the candidate join; ``rounds``
    ranks per probe round (``r``), ``lead`` prefixes output columns."""
    pr = "probe_round, " if rounds else ""
    sim = cosine("p.qv", "m.v")
    return dedent(f"""
        SELECT {lead}{pr}q_id, n_id, sim FROM (
            SELECT {'r.' if rounds else ''}{pr}p.q_id, m.vec_id AS n_id,
                   {sim} AS sim,
                   row_number() OVER (
                       PARTITION BY {'r.' if rounds else ''}{pr}p.q_id
                       ORDER BY {sim} DESC, m.vec_id
                   ) AS rn
            {_probe_join(member, rounds)}
        ) WHERE rn <= {_IVF_K}""")


def ivf_probe_oracle(
    nprobe: int, member: str = "", cols: dict | None = None,
    lead: str = "",
) -> str:
    """The float-IVF nprobe search: the standard queries' top-k over
    their ``nprobe`` probed clusters, ``member`` filtering candidates."""
    return with_(
        float_ivf_ctes(nprobe=nprobe, cols=cols),
        float_ivf_topk(member=member, lead=lead),
    )


def sem_leg(member: str = "", rounds: bool = False) -> str:
    """``sem``: the float-IVF probe as a hybrid leg — distinct
    candidates ranked ``r_sem`` (sim DESC, n_id), top _HYB_LEG_K."""
    pr = "probe_round, " if rounds else ""
    src = dedent(f"""(
            SELECT DISTINCT {'r.' if rounds else ''}{pr}p.q_id,
                   m.vec_id AS n_id, {cosine('p.qv', 'm.v')} AS sim
            {_probe_join(member, rounds)}
        )""")
    return "sem AS (" + ranked(
        f"{pr}q_id, n_id", f"{pr}q_id", "sim DESC, n_id", "r_sem",
        _HYB_LEG_K, src,
    ) + "\n)"


# ---------------------------------------------------------------------------
# Integer grid and unrolled Lloyd rounds
# ---------------------------------------------------------------------------


def grid_v_cte(
    arr: str = "CAST(embedding AS DOUBLE[])", src: str = "embeddings",
    cols: str = "",
) -> str:
    """``v(vec_id, q{cols})``: ``arr`` on the integer grid
    floor((x + 1)·2^20)."""
    return dedent(f"""
        v AS (
            SELECT vec_id,
                   list_transform({arr},
                                  x -> CAST(floor((x + 1.0) * {_KM_SCALE})
                                            AS BIGINT)) AS q{cols}
            FROM {src}
        )""")


def vx_cte(keep: tuple = ()) -> str:
    """``vx``: v in long form (vec_id, ``keep``, pos, x)."""
    k = "".join(f"{c}, " for c in keep)
    return dedent(f"""
        vx AS (
            SELECT vec_id, {k}unnest(generate_series(1, length(q))) AS pos,
                   unnest(q) AS x
            FROM v
        )""")


def sub_cte(name: str, src: str, head: str = "vec_id") -> str:
    """``name``: ``src``'s long-form coordinates split into PQ
    subspaces (s, spos)."""
    return dedent(f"""
        {name} AS (
            SELECT {head},
                   CAST((pos - 1) // {_PQK_SUBDIM} AS BIGINT) AS s,
                   CAST((pos - 1) % {_PQK_SUBDIM} + 1 AS BIGINT) AS spos,
                   x
            FROM {src}
        )""")


def _space(book: bool) -> tuple:
    """(centroid id, position column, group columns) of a model."""
    return ("m", "spos", ("s",)) if book else ("c_id", "pos", ())


def init_cte(name: str, src: str, k: int, book: bool = False) -> str:
    """``name``: the lowest-``k``-id vectors of ``src`` as the initial
    centroids (codewords with ``book``)."""
    cid, pos, grp = _space(book)
    g = "".join(f"{c}, " for c in grp)
    return (
        f"{name} AS (SELECT {g}vec_id AS {cid}, {pos}, x FROM {src}"
        f" WHERE vec_id < {k})"
    )


def l2_cte(name: str, src: str, cents: str, book: bool = False,
           keep: tuple = ()) -> str:
    """``name``: BIGINT squared L2 of every ``src`` vector (subvector
    with ``book``) against every centroid of ``cents``."""
    cid, pos, grp = _space(book)
    g = "".join(f"{src}.{c}, " for c in (*keep, *grp))
    on = " AND ".join(f"{src}.{c} = c.{c}" for c in (*grp, pos))
    return dedent(f"""
        {name} AS (
            SELECT {src}.vec_id, {g}c.{cid},
                   CAST(sum(({src}.x - c.x) * ({src}.x - c.x)) AS BIGINT) AS d2
            FROM {src} JOIN {cents} c ON {on}
            GROUP BY {src}.vec_id, {g}c.{cid}
        )""")


def argmin_cte(name: str, dist: str, book: bool = False,
               keep: tuple = ()) -> str:
    """``name``: each vector's (subvector's) nearest centroid in
    ``dist`` — d2, then id tie-break."""
    cid, _, grp = _space(book)
    cols = ", ".join(("vec_id", *keep, *grp, cid))
    part = ", ".join(("vec_id", *grp))
    return dedent(f"""
        {name} AS (
            SELECT {cols} FROM (
                SELECT {cols},
                       row_number() OVER (PARTITION BY {part}
                                          ORDER BY d2, {cid}) AS rn
                FROM {dist}
            ) WHERE rn = 1
        )""")


def probes_cte(name: str, dist: str) -> str:
    """``name(q_id, c_id)``: each query's _KM_NPROBE nearest clusters
    in ``dist``."""
    return dedent(f"""
        {name} AS (
            SELECT vec_id AS q_id, c_id FROM (
                SELECT vec_id, c_id,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d2, c_id) AS rn
                FROM {dist} WHERE vec_id < {_IVF_QUERIES}
            ) WHERE rn <= {_KM_NPROBE}
        )""")


def mean_cte(name: str, assign: str, src: str, book: bool = False) -> str:
    """``name``: the integer means (``//``) of ``src`` grouped by the
    assignment ``assign`` — one Lloyd update."""
    cid, pos, grp = _space(book)
    g = "".join(f"a.{c}, " for c in grp)
    on = " AND ".join(f"a.{c} = {src}.{c}" for c in ("vec_id", *grp))
    return dedent(f"""
        {name} AS (
            SELECT {g}a.{cid}, {src}.{pos},
                   CAST(sum({src}.x) // count(*) AS BIGINT) AS x
            FROM {assign} a JOIN {src} ON {on}
            GROUP BY {g}a.{cid}, {src}.{pos}
        )""")


def lloyd_ctes(src: str, k: int, rounds: int, book: bool = False) -> list:
    """Lowest-``k``-id init then ``rounds`` unrolled integer Lloyd
    rounds over ``src``: every intermediate is integer-exact, so the
    trained model matches the engine's bit for bit.  Coarse rounds are
    ``d{r}``/``a{r}``/``c{r}``, codebook rounds (per subspace s)
    ``pe{r}``/``pa{r}``/``b{r}``; the model is ``c{rounds}`` /
    ``b{rounds}``."""
    d, a, c = ("pe", "pa", "b") if book else ("d", "a", "c")
    ctes = [init_cte(f"{c}0", src, k, book)]
    for r in range(1, rounds + 1):
        ctes += [
            l2_cte(f"{d}{r}", src, f"{c}{r - 1}", book),
            argmin_cte(f"{a}{r}", f"{d}{r}", book),
            mean_cte(f"{c}{r}", f"{a}{r}", src, book),
        ]
    return ctes


def coarse_assign_ctes(cents: str, names=("dfin", "afin", "probes"),
                       keep: tuple = ()) -> list:
    """Distances of every vector to ``cents``, the corpus assignment
    and the queries' probes under it."""
    d, a, p = names
    return [
        l2_cte(d, "vx", cents, keep=keep),
        argmin_cte(a, d, keep=keep),
        probes_cte(p, d),
    ]


def km_coarse_ctes(sample: str = "") -> list:
    """The shared coarse-Lloyd prefix: the grid ``v``, ``vx``,
    _KM_ROUNDS Lloyd rounds — over the ``sample`` predicate's rows
    (``tvx``) where given, the store retrain's bounded sample — then
    ``dfin``/``afin`` (corpus assignment) and ``probes`` (per-query
    top-nprobe clusters)."""
    ctes = [grid_v_cte(), vx_cte()]
    src = "vx"
    if sample:
        ctes.append(f"tvx AS (SELECT * FROM vx WHERE {sample})")
        src = "tvx"
    return (
        ctes + lloyd_ctes(src, _IVF_CENTROIDS, _KM_ROUNDS)
        + coarse_assign_ctes(f"c{_KM_ROUNDS}")
    )


def d2_rescore(cand: str, rounds: bool = False) -> tuple[list, str]:
    """(ctes, body): the ``cand`` CTE's (q_id, n_id) pairs rescored by
    exact BIGINT d2 over ``vx``, top-k per query (and probe round)."""
    pr = "probe_round, " if rounds else ""
    cpr = "c.probe_round, " if rounds else ""
    scored = dedent(f"""
        scoredk AS (
            SELECT {cpr}c.q_id, c.n_id,
                   CAST(sum((qx.x - nx.x) * (qx.x - nx.x)) AS BIGINT) AS d2
            FROM cand c
            JOIN vx qx ON qx.vec_id = c.q_id
            JOIN vx nx ON nx.vec_id = c.n_id AND nx.pos = qx.pos
            GROUP BY {cpr}c.q_id, c.n_id
        )""")
    body = dedent(f"""
        SELECT {pr}q_id, n_id, d2 FROM scoredk
        QUALIFY row_number() OVER (PARTITION BY {pr}q_id
                                   ORDER BY d2, n_id) <= {_IVF_K}""")
    return [cand, scored], body


_KM_CAND = dedent("""
    cand AS (
        SELECT p.q_id, m.vec_id AS n_id
        FROM probes p
        JOIN afin m ON m.c_id = p.c_id AND m.vec_id <> p.q_id
    )""")


def km_topk_oracle(sample: str = "") -> str:
    """Coarse-Lloyd prefix (trained on ``sample`` where given), probed
    candidates, exact-d2 top-k."""
    ctes, body = d2_rescore(_KM_CAND)
    return with_(km_coarse_ctes(sample=sample) + ctes, body)


def book_assign_ctes(books: str) -> list:
    """``pefin`` (subvector d2 to ``books``), ``codes`` (the corpus
    encoding) and ``dt`` (the queries' ADC distance tables)."""
    return [
        l2_cte("pefin", "sx", books, book=True),
        argmin_cte("codes", "pefin", book=True),
        "dt AS (SELECT vec_id AS q_id, s, m, d2 AS d FROM pefin"
        f" WHERE vec_id < {_IVF_QUERIES})",
    ]


def pq_model_ctes(
    c_rounds: int, b_rounds: int, sample: str = "", v: list | None = None
) -> list:
    """The trained (or, at 0 rounds, generation-0 static) IVF-PQ model
    and its use: grid, ``sx`` subvectors, coarse Lloyd (``c_rounds``)
    and codebook Lloyd (``b_rounds``) — over the ``sample`` rows
    (``tvx``/``tsx``) where given — then the corpus assignment and
    probes (``afin``/``probes``), codes and query distance tables
    (``codes``/``dt``), ready for an ADC consumer."""
    ctes = [*(v or [grid_v_cte()]), vx_cte(), sub_cte("sx", "vx")]
    cx, bx = "vx", "sx"
    if sample:
        ctes += [
            f"tvx AS (SELECT * FROM vx WHERE {sample})",
            f"tsx AS (SELECT * FROM sx WHERE {sample})",
        ]
        cx, bx = "tvx", "tsx"
    return (
        ctes
        + lloyd_ctes(cx, _IVF_CENTROIDS, c_rounds)
        + lloyd_ctes(bx, _PQK_CODES, b_rounds, book=True)
        + coarse_assign_ctes(f"c{c_rounds}")
        + book_assign_ctes(f"b{b_rounds}")
    )


def adc_topk(member: str = "", rounds: bool = False, lead: str = "") -> tuple:
    """(cte, body): ``adc`` sums the distance-table entries of each
    probed candidate's codes (``member`` ANDed into the candidate
    join, per probe round with ``rounds``); top-k by (adc, n_id)."""
    pr = "probe_round, " if rounds else ""
    rpr = "r.probe_round, " if rounds else ""
    src = "rounds r CROSS JOIN probes p" if rounds else "probes p"
    member = _and(member)
    adc = dedent(f"""
        adc AS (
            SELECT {rpr}p.q_id, cd.vec_id AS n_id,
                   CAST(sum(dt.d) AS BIGINT) AS adc_micro
            FROM {src}
            JOIN afin na ON na.c_id = p.c_id AND na.vec_id <> p.q_id{member}
            JOIN codes cd ON cd.vec_id = na.vec_id
            JOIN dt ON dt.q_id = p.q_id AND dt.s = cd.s AND dt.m = cd.m
            GROUP BY {rpr}p.q_id, cd.vec_id
        )""")
    body = ranked(
        f"{lead}{pr}q_id, n_id, adc_micro", f"{pr}q_id",
        "adc_micro, n_id", "rk", _IVF_K, "adc",
    )
    return adc, body


# ---------------------------------------------------------------------------
# BM25 statistics chain
# ---------------------------------------------------------------------------


def bm25_ctes(queries: int, visible: str = "", rounds: bool = False) -> list:
    """toks, tf, dlen, dft, tot, qterms.  ``visible`` restricts the
    corpus (statistics included) to the docs it admits; ``rounds``
    makes df/N/S per probe round over md5 groups ≤ round (``vis`` is
    then the per-round postings; needs :func:`rounds_cte` first)."""
    from kcidb_spark.queries.pipeline import _NORM_SQL

    where = f" WHERE {visible}" if visible else ""
    ctes = [
        f"toks AS (SELECT doc_id, unnest(string_split({_NORM_SQL}, ' '))"
        " AS w FROM documents)",
        "tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf"
        f" FROM toks{where} GROUP BY doc_id, w)",
        "dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf"
        " GROUP BY doc_id)",
    ]
    if rounds:
        ctes += [
            "vis AS (SELECT r.probe_round, t.doc_id, t.w, t.tf"
            " FROM rounds r JOIN tf t"
            f" ON {md5_group('t.doc_id')} <= r.probe_round)",
            "dft AS (SELECT probe_round, w, CAST(count(*) AS BIGINT) AS df"
            " FROM vis GROUP BY probe_round, w)",
            "tot AS (SELECT r.probe_round, CAST(count(*) AS BIGINT) AS n,"
            " CAST(sum(d.len) AS BIGINT) AS s FROM rounds r JOIN dlen d"
            f" ON {md5_group('d.doc_id')} <= r.probe_round"
            " GROUP BY r.probe_round)",
        ]
    else:
        ctes += [
            "dft AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf"
            " GROUP BY w)",
            "tot AS (SELECT CAST(count(*) AS BIGINT) AS n,"
            " CAST(sum(len) AS BIGINT) AS s FROM dlen)",
        ]
    ctes.append(
        "qterms AS (SELECT DISTINCT doc_id AS q_id, w FROM toks"
        f" WHERE doc_id < {queries})"
    )
    return ctes


def bm25_scores(member: str = "", rounds: bool = False) -> str:
    """FROM item: each (query, candidate)'s BIGINT score_micro over
    the :func:`bm25_ctes` chain, ``member`` ANDed into the match."""
    pr = "tf.probe_round, " if rounds else ""
    src = "vis tf" if rounds else "tf"
    dft_on = " AND dft.probe_round = tf.probe_round" if rounds else ""
    tot = (
        "JOIN tot ON tot.probe_round = tf.probe_round" if rounds
        else "CROSS JOIN tot"
    )
    return dedent(f"""(
            SELECT {pr}q.q_id, tf.doc_id AS n_id,
                   CAST(sum({bm25_term_micro()}) AS BIGINT) AS score_micro
            FROM qterms q
            JOIN {src} ON tf.w = q.w AND tf.doc_id <> q.q_id{_and(member)}
            JOIN dft ON dft.w = tf.w{dft_on}
            JOIN dlen ON dlen.doc_id = tf.doc_id
            {tot}
            GROUP BY {pr}q.q_id, tf.doc_id
        )""")


def bm25_oracle(visible: str = "", lead: str = "") -> str:
    """BM25 top-k of the standard queries over the docs ``visible``
    admits (statistics included)."""
    return with_(
        bm25_ctes(_BM25_QUERIES, visible),
        ranked(
            f"{lead}q_id, n_id, score_micro", "q_id",
            "score_micro DESC, n_id", "rk", _BM25_K, bm25_scores(),
        ),
    )


def lex_leg(member: str = "", rounds: bool = False) -> str:
    """``lex``: the BM25 scores as a hybrid leg, ranked ``r_lex``, top
    _HYB_LEG_K."""
    pr = "probe_round, " if rounds else ""
    return "lex AS (" + ranked(
        f"{pr}q_id, n_id", f"{pr}q_id", "score_micro DESC, n_id", "r_lex",
        _HYB_LEG_K, bm25_scores(member, rounds),
    ) + "\n)"


def rrf_fusion(k: int, rounds: bool = False) -> str:
    """``lex`` FULL JOIN ``sem`` fused by :data:`_RRF_CASE`, top-``k``
    per query (and probe round)."""
    keys = ("probe_round", "q_id", "n_id") if rounds else ("q_id", "n_id")
    co = {c: f"COALESCE(lex.{c}, sem.{c})" for c in keys}
    return dedent(f"""
        SELECT {', '.join(f'{co[c]} AS {c}' for c in keys)},
               lex.r_lex, sem.r_sem, {_RRF_CASE} AS rrf,
               CAST(row_number() OVER (
                   PARTITION BY {', '.join(co[c] for c in keys[:-1])}
                   ORDER BY {_RRF_CASE} DESC, {co['n_id']}
               ) AS BIGINT) AS rk
        FROM lex FULL JOIN sem
          ON {' AND '.join(f'lex.{c} = sem.{c}' for c in keys)}
        QUALIFY rk <= {k}""")


# ---------------------------------------------------------------------------
# The serving-store oracles (registry entries of streaming_exec)
# ---------------------------------------------------------------------------

#: Members visible at watermark 1: md5 groups 0-1.
_AT_WM1 = _T21_RANGES[0] + _T21_RANGES[1]


def _t20_oracle() -> str:
    """Batch replay of the assignment the drained store must hold:
    every vector at its nearest static centroid (cosine, 4-decimal
    round, c_id tie-break) — the same argmin ann_ivf_* certify, here
    checked through a WRITE → partitioned store → READ round trip."""
    return with_(float_ivf_ctes(), "SELECT vec_id, c_id FROM assign")


def _t21_oracle() -> str:
    """Batch replay of the interleaved serve-during-ingest run: probe
    round r (fired after ingest batch r committed) must rank exactly
    the vectors of batches 0..r — the md5-prefix groups — in the
    probed clusters, under the same static centroids/queries as the
    IVF family."""
    return with_(
        float_ivf_ctes(nprobe=2, cols={"b": md5_group("vec_id")})
        + [rounds_cte()],
        float_ivf_topk(member="m.b <= r.probe_round", rounds=True),
    )


def _compact_oracle() -> str:
    """Every vector at its nearest static centroid, tagged with the
    LAST overlapping batch holding it — the last-write-wins winner
    compaction keeps."""
    group = md5_group("vec_id", _COMPACT_RANGES, last_wins=True)
    return with_(
        float_ivf_ctes(cols={"src_batch": group}),
        "SELECT vec_id, c_id, CAST(src_batch AS BIGINT) AS src_batch"
        " FROM assign",
    )


def _serve_deletes_oracle() -> str:
    """The nprobe-2 oracle with tombstoned vectors excluded from the
    MEMBER side (erase-everywhere semantics): tombstone set = md5
    second hex char in 0-3 (~25% of the corpus, deterministic)."""
    return ivf_probe_oracle(2, live("m.vec_id"))


def _as_of_oracle() -> str:
    """The t21 visibility rule frozen at watermark 1: members are the
    vectors of ingest groups 0-1 only, even though batch 2 is
    committed in the store the entry builds."""
    return ivf_probe_oracle(
        2, md5_in("m.vec_id", _AT_WM1),
        lead="CAST(1 AS BIGINT) AS probe_round, ",
    )


def _retrain_oracle() -> str:
    """Unrolled replay of the retrain pipeline: quantize, Lloyd-train
    {_KM_ROUNDS} rounds ON THE BOUNDED SAMPLE (the same deterministic
    sample the transaction takes), assign EVERY stored vector to the
    trained centroids (the re-encoded generation), probe the queries'
    nprobe nearest trained clusters, exact-d2 top-k — the
    ann_ivf_kmeans_topk oracle with the training restricted to the
    sample."""
    return km_topk_oracle(sample=_RETRAIN_SAMPLE)


def _t23_oracle() -> str:
    """Batch replay of the interleaved lexical serve: probe round r
    (fired after ingest batch r committed) scores BM25 with EVERY
    statistic — df, N, S — computed over exactly the documents of
    batches 0..r (the md5-prefix groups), in the certified micro-bit
    arithmetic of bm25_topk."""
    return with_(
        [rounds_cte()] + bm25_ctes(_BM25_QUERIES, rounds=True),
        ranked(
            "probe_round, q_id, n_id, score_micro", "probe_round, q_id",
            "score_micro DESC, n_id", "rk", _BM25_K,
            bm25_scores(rounds=True),
        ),
    )


def _hybrid_serve_oracle() -> str:
    """Batch replay of the hybrid probe at watermark 1: the lexical
    leg is bm25_topk restricted to the documents of ingest groups 0-1
    (statistics included), the semantic leg is the nprobe-2 IVF probe
    restricted to the same groups' vectors (the ann_probe_as_of
    visibility rule), fused by the certified integer-exact RRF."""
    return with_(
        float_ivf_ctes(queries=_HYB_QUERIES, nprobe=2)
        + [sem_leg(md5_in("m.vec_id", _AT_WM1))]
        + bm25_ctes(_HYB_QUERIES, md5_in("doc_id", _AT_WM1))
        + [lex_leg()],
        rrf_fusion(_HYB_FINAL_K),
    )


def _bm25_deletes_oracle() -> str:
    """bm25_topk with the tombstoned ~25% of documents (md5 second
    hex char 0-3 — the ann_serve_with_deletes set, lexical edition)
    excluded from BOTH the candidate side and the statistics: the
    entry compacts after the delete, and compaction recomputes df/N/S
    from surviving postings, so the oracle is simply BM25 over the
    surviving corpus.  Query docs are the probe workload's and may
    themselves be deleted (a deleted doc can still ask)."""
    return bm25_oracle(visible=live("doc_id"))


def _t24_oracle() -> str:
    """Batch replay of retrain-while-serving: probe round 0 ranks
    batch-0 members under the STATIC generation-0 centroids; the
    retrain fires after ingest batch 1, so rounds 1 and 2 rank the
    re-encoded visible members (groups ≤ r) under the Lloyd-trained
    centroids — training restricted to the bounded sample OF THE
    MEMBERS VISIBLE AT RETRAIN TIME (groups 0-1), which is what makes
    this the online verb and not a batch rebuild."""
    cand = dedent("""
        cand AS (
            SELECT CAST(0 AS BIGINT) AS probe_round,
                   p.q_id, m.vec_id AS n_id
            FROM probes_s p
            JOIN afin_s m ON m.c_id = p.c_id AND m.vec_id <> p.q_id
             AND m.b = 0
            UNION ALL
            SELECT r.probe_round, p.q_id, m.vec_id AS n_id
            FROM rounds r
            CROSS JOIN probes_t p
            JOIN afin_t m ON m.c_id = p.c_id AND m.vec_id <> p.q_id
             AND m.b <= r.probe_round
        )""")
    ctes, body = d2_rescore(cand, rounds=True)
    return with_(
        [
            grid_v_cte(cols=f", {md5_group('vec_id')} AS b"),
            vx_cte(keep=("b",)),
            init_cte("cs", "vx", _IVF_CENTROIDS),
            f"tvx AS (SELECT * FROM vx WHERE {_RETRAIN_SAMPLE} AND b <= 1)",
        ]
        + lloyd_ctes("tvx", _IVF_CENTROIDS, _KM_ROUNDS)
        + coarse_assign_ctes("cs", ("ds", "afin_s", "probes_s"), ("b",))
        + coarse_assign_ctes(
            f"c{_KM_ROUNDS}", ("dt", "afin_t", "probes_t"), ("b",)
        )
        + [rounds_cte(1)] + ctes,
        body,
    )


def _t25_oracle() -> str:
    """Batch replay of ONLINE hybrid serving: probe round r fuses a
    BM25 leg computed over exactly the documents of batches 0..r
    (statistics included — the _t23_oracle visibility rule) with an
    IVF nprobe-2 leg over exactly the vectors of batches 0..r (the
    _t21_oracle rule), by the certified integer-exact RRF."""
    return with_(
        [rounds_cte()]
        + float_ivf_ctes(
            queries=_HYB_QUERIES, nprobe=2, cols={"b": md5_group("vec_id")}
        )
        + [sem_leg("m.b <= r.probe_round", rounds=True)]
        + bm25_ctes(_HYB_QUERIES, rounds=True)
        + [lex_leg(rounds=True)],
        rrf_fusion(_HYB_FINAL_K, rounds=True),
    )


def _pqc_serve_oracle(
    trained: bool,
    v: list | None = None,
    wm: int | None = None,
    member: str = "",
) -> str:
    """Unrolled encode→probe replay of the PQ store at full
    visibility: the model chain — generation-0 static (lowest-id
    vectors / their subvectors, exactly init_pq_store's input) or,
    ``trained``, BOTH trainers replayed on the deterministic retrain
    sample — then the probed-cluster ADC top-k with the committed
    watermark as probe_round.  ``v`` swaps the grid CTE for a chain
    ending in ``v(vec_id, q)`` (the rotated store's hook); ``wm``
    overrides the probe_round literal (entries whose last transaction
    is a delete advance past the ingest batches); ``member`` is ANDed
    into the candidate join (the deletes entry excludes the
    tombstoned slice from the MEMBER side only — a deleted vector can
    still ask queries)."""
    if wm is None:
        wm = len(_T21_RANGES) - 1
    rounds = _KM_ROUNDS if trained else 0
    adc, body = adc_topk(member, lead=f"CAST({wm} AS BIGINT) AS probe_round, ")
    return with_(
        pq_model_ctes(
            rounds, rounds, _RETRAIN_SAMPLE if trained else "", v
        ) + [adc],
        body,
    )


def _pqc_rotated_oracle() -> str:
    from kcidb_spark.queries.advanced import _rot_v_ctes

    return _pqc_serve_oracle(trained=False, v=_rot_v_ctes())


def _pqc_deletes_oracle() -> str:
    """The static-model PQ serve oracle with the standard tombstone
    slice excluded from the MEMBER side only, probed at the delete's
    watermark — the ann_serve_with_deletes shape in the compressed
    domain."""
    return _pqc_serve_oracle(
        trained=False, wm=len(_T21_RANGES), member=live("na.vec_id")
    )


def _t26_oracle() -> str:
    """Batch replay of the interleaved compressed-domain serve: probe
    round r (fired after ingest batch r committed) ADC-ranks, under
    the STATIC generation-0 model, exactly the candidates of md5-
    prefix groups 0..r — the static PQ chain with the candidate set
    windowed by round."""
    adc, body = adc_topk(
        f"{md5_group('na.vec_id')} <= r.probe_round", rounds=True
    )
    return with_(pq_model_ctes(0, 0) + [rounds_cte(), adc], body)


def _rebucket_oracle() -> str:
    """BM25 over the full corpus with exact statistics — what the
    post-migration probe must serve: rebucketing is internal routing
    (a partition-layout change), so the oracle is the plain
    full-visibility BM25 recompute with probe_round = the committed
    watermark; any bucket-count dependence in the results would
    hash-mismatch here."""
    return bm25_oracle(
        lead=f"CAST({len(_T21_RANGES) - 1} AS BIGINT) AS probe_round, "
    )


def _hybrid_deletes_oracle() -> str:
    """The hybrid probe at FULL visibility with the standard ~25%
    tombstone set excluded from the CANDIDATES of both legs: the
    lexical statistics still count the deleted documents (no
    compaction has folded — the Lucene staleness trade
    probe_postings_bm25 documents), while the candidate sets exclude
    them immediately — on BOTH legs at the same watermark, which is
    the property one torn publish would break."""
    return with_(
        float_ivf_ctes(queries=_HYB_QUERIES, nprobe=2)
        + [sem_leg(live("m.vec_id"))]
        + bm25_ctes(_HYB_QUERIES)
        + [lex_leg(live("tf.doc_id"))],
        rrf_fusion(_HYB_FINAL_K),
    )
