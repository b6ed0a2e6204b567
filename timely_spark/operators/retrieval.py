"""BM25 scoring — the retrieval primitive for corpus curation.

Retrieval-based curation is a standing need at 100 TB: score every
document against a probe query (a benchmark prompt, a quality exemplar,
a takedown text) and act on the ranked result — the lexical sibling of
the embedding-space ANN stack in ``operators/similarity.py``. The
reference has no retrieval tier (its lookups are key-structured,
server/.../store/MetaQuery-style); this follows the Robertson/Zaragoza
BM25 formulation with the Lucene (+1) idf.

Spark-first scale shape: ONE corpus-linear token explode feeding ONE
per-doc aggregation that computes the doc length AND each query
term's tf as conditional sums in the same pass (a handful of terms —
the conditional columns cost nothing map-side), so the corpus is
tokenized exactly once and the only corpus-sized shuffle is the
groupBy(doc) exchange, which the corpus-statistics aggregate (N,
avgdl, per-term df — one broadcastable scalar row) REUSES
(ReusedExchange; no second scan, no driver collect). No shuffle
carries text; the shuffle keys are doc ids plus small ints.

Floats: scores are rounded to 4 dp with the repo's +1e-9 half-boundary
nudge on BOTH engine sides (the classifier_score / fir protocol) —
idf's ln() is the one term whose last-ulp behavior differs between the
JVM and libm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import per_query_topk
from .text import TOKEN_RE, tokens

BM25_K1 = 1.2
BM25_B = 0.75

# Above this many DISTINCT terms the wide-aggregate plan (one
# conditional-sum column per term) is abandoned for the row-shaped
# plan: hundreds of __tf/__df columns blow up codegen method size and
# analyzer time, where a (doc, term) row shape degrades gracefully
# (ADVICE r10). 96 doubles comfortably inside the 64 KB codegen-method
# ceiling observed for ncells*dim Column trees (BASELINE.md notes).
WIDE_TERMS_MAX = 96


def _query_terms(query: str) -> list[str]:
    """The ONE tokenizer contract applied to the probe query,
    deduplicated, order-preserving (BM25 sums over distinct terms)."""
    import re

    out: list[str] = []
    for t in re.findall(TOKEN_RE, query.lower()):
        if t not in out:
            out.append(t)
    return out


def bm25_scores(
    docs: DataFrame,
    query: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(id, n_terms_hit, score) for every document matching >= 1 query
    term: score = sum over query terms of

        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    with idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)) — Lucene's
    shifted idf (always positive). dl is the doc's FULL token count and
    avgdl the corpus mean over ALL docs (zero-token docs included),
    both from the same single-pass aggregate. Non-matching docs emit no
    row (at 100 TB the result is query-selective, not corpus-sized);
    an empty corpus therefore yields an empty result. ``score`` is
    rounded to 4 dp (+1e-9 nudge); ties in downstream top-k
    consumption must re-break on the id."""
    terms = _query_terms(query)
    if not terms:
        raise ValueError("query tokenizes to no terms")
    if len(terms) > WIDE_TERMS_MAX:
        # graceful degradation for free-text probes with hundreds of
        # distinct terms (ADVICE r10): the row-shaped multi-query plan
        # with a single query, projected back to this function's schema
        return _bm25_rowshape(
            docs, [("q", terms)], text_col, id_col, k1, b
        ).select(id_col, "n_terms_hit", "score")
    # explode_outer so zero-token docs still emit one (NULL-token) row
    # and count toward N / avgdl; F.count skips the NULL so dl == 0
    ex = docs.select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("__t")
    )
    perdoc = ex.groupBy(id_col).agg(
        F.count("__t").alias("__dl"),
        *[
            F.sum(
                F.when(F.col("__t") == F.lit(t), 1).otherwise(0)
            ).alias(f"__tf{i}")
            for i in range(len(terms))
            for t in [terms[i]]
        ],
    )
    # corpus statistics: ONE scalar row (N, total tokens, per-term df)
    # over the same grouped frame — Catalyst reuses the groupBy(doc)
    # exchange, so the corpus is scanned and tokenized exactly once
    stats = perdoc.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__dl").alias("__total"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("int")).alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )
    j = perdoc.crossJoin(F.broadcast(stats))
    avgdl = F.col("__total").cast("double") / F.col("__n")

    def term_score(i: int):
        dfc = F.col(f"__df{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("__n").cast("double") - dfc + F.lit(0.5))
            / (dfc + F.lit(0.5))
        )
        tf = F.col(f"__tf{i}")
        return (
            idf
            * tf
            * F.lit(k1 + 1.0)
            / (
                tf
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / avgdl)
            )
        )

    # balanced pairwise sum — keeps the Add chain shallow for long
    # queries (canonicalization-depth lesson, BASELINE.md engineering
    # notes); a zero-tf term contributes exactly 0.0
    def bal(lo: int, hi: int):
        if hi - lo == 1:
            return term_score(lo)
        mid = (lo + hi) // 2
        return bal(lo, mid) + bal(mid, hi)

    hit = bal(0, len(terms))
    n_hit = sum(
        (F.col(f"__tf{i}") > 0).cast("int") for i in range(len(terms))
    )
    return (
        j.select(
            F.col(id_col),
            n_hit.cast("long").alias("n_terms_hit"),
            F.round(hit + F.lit(1e-9), 4).alias("score"),
        )
        .filter(F.col("n_terms_hit") > 0)
    )


def bm25_scores_sql(
    query: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin of :func:`bm25_scores` — same tokenizer contract
    (TOKENS_SQL), same Lucene idf, same rounding nudge."""
    from .text import TOKENS_SQL

    terms = _query_terms(query)
    if not terms:
        raise ValueError("query tokenizes to no terms")
    toks = TOKENS_SQL.format(c=text_col)
    # the tokenizer charset [a-z0-9'] admits apostrophes ("don't") —
    # double them so the SQL string literals stay well-formed
    term_list = ", ".join("'{}'".format(t.replace("'", "''")) for t in terms)
    return f"""
WITH ex AS (SELECT {id_col}, unnest({toks}) AS t FROM {table}),
dl AS (SELECT d.{id_col}, coalesce(l.dl, 0) AS dl
       FROM {table} d LEFT JOIN (SELECT {id_col}, count(*) AS dl
                                 FROM ex GROUP BY 1) l USING ({id_col})),
stats AS (SELECT count(*) AS n, coalesce(sum(dl), 0) AS total FROM dl),
tf AS (SELECT {id_col}, t, count(*) AS tf FROM ex
       WHERE t IN ({term_list}) GROUP BY 1, 2),
df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
s AS (SELECT tf.{id_col},
             ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * {k1 + 1.0}
             / (tf.tf + {k1} * ({1.0 - b} + {b} * dl.dl
                                / (CAST(stats.total AS DOUBLE) / stats.n)))
               AS ts
      FROM tf JOIN df USING (t) JOIN dl USING ({id_col})
      CROSS JOIN stats)
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_terms_hit,
       round(sum(ts) + 1e-9, 4) AS score
FROM s GROUP BY 1"""


def _parse_queries(queries) -> list[tuple[str, list[str]]]:
    """Normalize a {query_id: text} dict (or (id, text) pair list) to
    ordered (query_id, distinct-terms) tuples under the ONE tokenizer
    contract; rejects empty-term queries and duplicate ids loudly."""
    items = list(queries.items()) if isinstance(queries, dict) else list(queries)
    if not items:
        raise ValueError("no queries given")
    seen: set[str] = set()
    out: list[tuple[str, list[str]]] = []
    for qid, text in items:
        if qid in seen:
            raise ValueError(f"duplicate query id: {qid!r}")
        seen.add(qid)
        terms = _query_terms(text)
        if not terms:
            raise ValueError(f"query {qid!r} tokenizes to no terms")
        out.append((qid, terms))
    return out


def _bm25_term_score(tf, dfc, n, dl, avgdl, k1: float, b: float):
    """One term's BM25 contribution as a Column expression (Lucene +1
    idf) — shared by the wide and row-shaped plans so the two paths are
    bit-identical before rounding."""
    idf = F.log(
        F.lit(1.0) + (n.cast("double") - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))
    )
    return (
        idf
        * tf
        * F.lit(k1 + 1.0)
        / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl))
    )


def _bm25_rowshape(
    docs: DataFrame,
    qterms: list[tuple[str, list[str]]],
    text_col: str,
    id_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """(query_id, id, n_terms_hit, score) for every (doc, query) with
    >= 1 term hit — the row-shaped batched plan.

    Scale shape: the corpus is tokenized twice (once for dl / corpus
    stats, once map-side-pruned to the UNION of all query terms for
    tf), but NO shuffle carries text and every join except dl is
    broadcast: df (one row per union term) and the (term -> query)
    fan-out map are both query-sized. The (doc, term) tf frame is
    union-term-selective, so the dl equi-join and the (doc, query)
    aggregation shuffle rows proportional to matches, not the corpus.
    Preferred over the wide plan past WIDE_TERMS_MAX distinct terms,
    where per-term aggregate columns stop fitting codegen."""
    union_terms = []
    for _, ts in qterms:
        for t in ts:
            if t not in union_terms:
                union_terms.append(t)
    ex = docs.select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("__t")
    )
    dl = ex.groupBy(id_col).agg(F.count("__t").alias("__dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__dl").alias("__total")
    )
    tf = (
        ex.filter(F.col("__t").isin(union_terms))
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    df_ = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    spark = docs.sparkSession
    qt = spark.createDataFrame(
        [(qid, t) for qid, ts in qterms for t in ts], ["query_id", "__t"]
    )
    avgdl = F.col("__total").cast("double") / F.col("__n")
    scored = (
        tf.join(F.broadcast(df_), "__t")
        .join(F.broadcast(qt), "__t")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__s",
            _bm25_term_score(
                F.col("__tf"),
                F.col("__df"),
                F.col("__n"),
                F.col("__dl"),
                avgdl,
                k1,
                b,
            ),
        )
        .groupBy("query_id", id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.round(F.sum("__s") + F.lit(1e-9), 4).alias("score"),
        )
    )
    return scored


def _topk_per_query(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """Per-query top-k by (ROUNDED score DESC, id ASC) — both engines
    order identically, ties re-break on the id — with a long ``rank``."""
    return per_query_topk(scored, k, "score", "query_id", id_col).withColumn(
        "rank", F.col("rank").cast("long")
    )


def bm25_topk(
    docs: DataFrame,
    queries,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(query_id, id, n_terms_hit, score, rank) — the top ``k`` BM25
    hits for EACH of N probe queries in ONE corpus pass (the batched
    lexical sibling of the ANN stack's multi-query shape: a real
    curation run scores hundreds of benchmark prompts / quality
    exemplars / takedown texts, and one pass per probe would rescan the
    corpus N times).

    ``queries`` is {query_id: text} (or (id, text) pairs). Plan: with
    <= WIDE_TERMS_MAX distinct terms across ALL queries, the single
    tokenize-explode feeds one groupBy(doc) aggregate computing dl plus
    one conditional tf column per UNION term (terms shared between
    queries are counted once); corpus stats reuse that exchange; each
    query's score is then a per-row expression over its own terms, and
    the per-doc row unpivots to (query, score) structs only for queries
    the doc actually hits. Past the threshold the row-shaped plan
    (_bm25_rowshape) takes over. Top-k is the salted two-phase window
    (_topk_per_query). ``rank`` is 1-based, dense within a query by
    construction (row_number), ordered by (score DESC, id ASC)."""
    qterms = _parse_queries(queries)
    union_terms: list[str] = []
    for _, ts in qterms:
        for t in ts:
            if t not in union_terms:
                union_terms.append(t)
    if len(union_terms) > WIDE_TERMS_MAX:
        scored = _bm25_rowshape(docs, qterms, text_col, id_col, k1, b)
        return _topk_per_query(scored, id_col, k)

    idx = {t: i for i, t in enumerate(union_terms)}
    ex = docs.select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("__t")
    )
    # r12: SQL-string rendering of the wide builders (one F.expr per
    # aggregate / per query struct) — the py4j-per-node Column form cost
    # seconds of pure driver time per call at the 20-probe batch shape;
    # trees identical (D-suffixed doubles, balanced-sum bracketing,
    # same _bm25_term_score grouping). See hybrid_topk for the measured
    # attribution.
    perdoc = ex.groupBy(id_col).agg(
        F.count("__t").alias("__dl"),
        *[
            F.expr(
                f"sum(CASE WHEN __t = {_slit(t)} THEN 1 ELSE 0 END)"
            ).alias(f"__tf{i}")
            for i, t in enumerate(union_terms)
        ],
    )
    stats = perdoc.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__dl").alias("__total"),
        *[
            F.expr(f"sum(CAST((__tf{i} > 0) AS INT))").alias(f"__df{i}")
            for i in range(len(union_terms))
        ],
    )
    j = perdoc.crossJoin(F.broadcast(stats))

    def term_sql(i: int) -> str:
        idf = (
            f"LN(1.0D + (CAST(__n AS DOUBLE) - __df{i} + 0.5D)"
            f" / (__df{i} + 0.5D))"
        )
        return (
            f"(({idf} * __tf{i} * {_dlit(k1 + 1.0)})"
            f" / (__tf{i} + {_dlit(k1)} * ({_dlit(1.0 - b)}"
            f" + {_dlit(b)} * __dl / (CAST(__total AS DOUBLE) / __n))))"
        )

    def q_struct_sql(qid: str, ts: list[str]) -> str:
        ids = [idx[t] for t in ts]
        bm = _bal_sql([term_sql(i) for i in ids])
        n_hit = " + ".join(f"CAST((__tf{i} > 0) AS INT)" for i in ids)
        return (
            f"named_struct('query_id', {_slit(qid)}, "
            f"'n_terms_hit', CAST(({n_hit}) AS BIGINT), "
            f"'score', ROUND(({bm}) + 1e-09D, 4))"
        )

    # unpivot to (doc, query) rows, keeping only actual hits — the
    # exploded frame is match-selective, never |docs| x |queries|
    arr = (
        "filter(array("
        + ", ".join(q_struct_sql(qid, ts) for qid, ts in qterms)
        + "), s -> s.n_terms_hit > 0)"
    )
    scored = (
        j.select(F.col(id_col), F.explode(F.expr(arr)).alias("__q"))
        .select(
            F.col("__q.query_id").alias("query_id"),
            F.col(id_col),
            F.col("__q.n_terms_hit").alias("n_terms_hit"),
            F.col("__q.score").alias("score"),
        )
    )
    return _topk_per_query(scored, id_col, k)


def bm25_topk_sql(
    queries,
    k: int = 10,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin of :func:`bm25_topk` — same tokenizer contract, same
    Lucene idf and rounding nudge, rank over the ROUNDED score with the
    same (score DESC, id ASC) tie-break."""
    from .text import TOKENS_SQL

    qterms = _parse_queries(queries)
    union_terms: list[str] = []
    for _, ts in qterms:
        for t in ts:
            if t not in union_terms:
                union_terms.append(t)
    toks = TOKENS_SQL.format(c=text_col)

    def lit(s: str) -> str:
        return "'{}'".format(s.replace("'", "''"))

    term_list = ", ".join(lit(t) for t in union_terms)
    qt_rows = ", ".join(
        f"({lit(qid)}, {lit(t)})" for qid, ts in qterms for t in ts
    )
    return f"""
WITH ex AS (SELECT {id_col}, unnest({toks}) AS t FROM {table}),
dl AS (SELECT d.{id_col}, coalesce(l.dl, 0) AS dl
       FROM {table} d LEFT JOIN (SELECT {id_col}, count(*) AS dl
                                 FROM ex GROUP BY 1) l USING ({id_col})),
stats AS (SELECT count(*) AS n, coalesce(sum(dl), 0) AS total FROM dl),
qt(query_id, t) AS (VALUES {qt_rows}),
tf AS (SELECT {id_col}, t, count(*) AS tf FROM ex
       WHERE t IN ({term_list}) GROUP BY 1, 2),
df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
s AS (SELECT qt.query_id, tf.{id_col},
             CAST(count(*) AS BIGINT) AS n_terms_hit,
             round(sum(ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                       * tf.tf * {k1 + 1.0}
                       / (tf.tf + {k1} * ({1.0 - b} + {b} * dl.dl
                          / (CAST(stats.total AS DOUBLE) / stats.n))))
                   + 1e-9, 4) AS score
      FROM tf JOIN df USING (t) JOIN qt USING (t)
      JOIN dl USING ({id_col}) CROSS JOIN stats
      GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, {id_col}) AS rank
      FROM s)
SELECT query_id, {id_col}, n_terms_hit, score, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {k}"""


def _query_hash_sums(text: str, dim: int = 32) -> tuple[list[int], int]:
    """Driver-side twin of similarity._hashed_sums for a probe query's
    token multiset (repeats kept — the embedding is over occurrences,
    unlike BM25's distinct-term sum): per-dimension ±1 md5-sign sums
    plus the exact integer squared norm. A query is a few words, so the
    sums inline as literals — zero extra corpus work, and hashlib.md5
    reproduces the engines' md5 bit-for-bit."""
    import hashlib
    import re

    sums = [0] * dim
    for t in re.findall(TOKEN_RE, text.lower()):
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        for d in range(dim):
            sums[d] += 1 - 2 * ((h >> d) & 1)
    return sums, sum(s * s for s in sums)


def _bal(exprs):
    """Balanced Add tree over a non-empty list of Columns (the
    canonicalization-depth lesson — see similarity._bal_sum)."""
    n = len(exprs)
    if n == 1:
        return exprs[0]
    return _bal(exprs[: n // 2]) + _bal(exprs[n // 2:])


# _bal_sql (the SQL-string twin of _bal) lives in similarity next to
# _bal_sum — one definition of the balanced bracketing for both modules.
from .similarity import _bal_sql  # noqa: E402


def _slit(s: str) -> str:
    """SQL single-quoted string literal (tokenizer charset admits
    apostrophes — double them)."""
    return "'" + s.replace("'", "''") + "'"


def _dlit(v: float) -> str:
    """SQL DOUBLE literal: repr + D suffix. Plain decimal SQL literals
    parse as DECIMAL, which would silently change every downstream
    type; repr is shortest-round-trip so the parsed double is
    bit-identical to the F.lit(float) it replaces."""
    return repr(float(v)) + "D"


def hybrid_topk(
    docs: DataFrame,
    queries,
    k: int = 10,
    k_fuse: int = 20,
    rrf_k: int = 60,
    dim: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(query_id, id, rrf_score, bm25_rank, emb_rank, rank) — hybrid
    retrieval: reciprocal-rank fusion (Cormack et al. 2009) of the BM25
    ranking and the hashed-embedding cosine ranking, per probe query,
    in ONE corpus pass. This is the standard modern curation recipe —
    lexical recall for exact terminology, embedding recall for
    paraphrase — and the capstone over bm25_topk + the ANN stack's
    text->vector seam (similarity.hashed_text_embedding).

    Scale shape: ONE tokenize-explode feeds ONE groupBy(doc) aggregate
    computing the doc length, every union query term's tf AND the
    ``dim`` md5-sign embedding sums together (all plain conditional
    sums — codegen, map-side combinable); corpus stats reuse that
    exchange. Query-side embedding sums are exact integers computed
    driver-side and inlined (a probe is a few words). Both rankings
    run through the salted two-phase top-k (_topk_per_query), so no
    window partition ever sorts more than 32 * k_fuse rows per query;
    the fusion join keys are (query, doc) over two <= |queries| *
    k_fuse frames.

    RRF: score = sum over rankings of 1 / (rrf_k + rank), ranks capped
    at k_fuse (a doc absent from a ranking contributes 0); rounded to
    6 dp (+1e-9 nudge), final order (rrf_score DESC, id ASC). Cosine
    ranks on the 6-dp rounded cosine of exact-integer dot / norms —
    deterministic on both engines; docs with cosine <= 0 or zero-norm
    never enter the embedding ranking."""
    qterms = _parse_queries(queries)
    union_terms: list[str] = []
    for _, ts in qterms:
        for t in ts:
            if t not in union_terms:
                union_terms.append(t)
    qsums = {qid: _query_hash_sums(text, dim) for qid, text in (
        list(queries.items()) if isinstance(queries, dict) else list(queries)
    )}
    if len(union_terms) > WIDE_TERMS_MAX:
        # row-shaped fallback (VERDICT r11 #4, mirroring _bm25_rowshape):
        # past the codegen-safe per-term column budget the LEXICAL leg
        # goes row-shaped; the embedding sign sums are a FIXED
        # ``dim``-column aggregate (they never grow with the probe
        # batch), so that leg keeps its wide shape. Costs one extra
        # corpus tokenize pass vs the single-pass wide plan — the
        # degradation is graceful, identical results (identity-tested
        # at the boundary), instead of the r11 hard ValueError.
        bm_scored = _bm25_rowshape(docs, qterms, text_col, id_col, k1, b)
        emb_scored = _hybrid_emb_rowshape(
            docs, [(qid, qsums[qid]) for qid, _ in qterms], dim,
            text_col, id_col,
        )
        bm_ranked = _topk_per_query(
            bm_scored.select("query_id", id_col, "score"), id_col, k_fuse
        ).select("query_id", id_col, F.col("rank").alias("bm25_rank"))
        em_ranked = _topk_per_query(emb_scored, id_col, k_fuse).select(
            "query_id", id_col, F.col("rank").alias("emb_rank")
        )
        return _rrf_fuse(bm_ranked, em_ranked, id_col, k, rrf_k)
    idx = {t: i for i, t in enumerate(union_terms)}
    ex = docs.select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("__t")
    )
    h = F.conv(F.substring(F.md5("__t"), 1, 8), 16, 10).cast("long")
    # r12 (guide §5, the driver): the wide plan's column builders are
    # rendered as SQL strings (one F.expr per aggregate / per query
    # struct) instead of per-node Column calls — constructing the
    # ~3k-node tree through py4j measured 4.3-4.6 s of pure DRIVER
    # time per call (JVM analysis+optimization 0.5 s; execution
    # unchanged). The strings reproduce the exact same expression
    # trees: D-suffixed double literals (plain SQL decimals parse as
    # DECIMAL), explicit parentheses mirroring the Column operator
    # grouping, and the same balanced-sum bracketing (_bal_sql — the
    # canonicalization-depth lesson applies to parser output too).
    perdoc = ex.select(id_col, F.col("__t"), h.alias("__h")).groupBy(
        id_col
    ).agg(
        F.count("__t").alias("__dl"),
        *[
            F.expr(
                f"sum(CASE WHEN __t = {_slit(t)} THEN 1 ELSE 0 END)"
            ).alias(f"__tf{i}")
            for i, t in enumerate(union_terms)
        ],
        *[
            F.expr(f"sum(1 - 2 * (shiftright(__h, {d}) & 1))").alias(
                f"__e{d}"
            )
            for d in range(dim)
        ],
    )
    stats = perdoc.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__dl").alias("__total"),
        *[
            F.expr(f"sum(CAST((__tf{i} > 0) AS INT))").alias(f"__df{i}")
            for i in range(len(union_terms))
        ],
    )
    j = perdoc.crossJoin(F.broadcast(stats))
    doc_norm2 = F.expr(
        "COALESCE("
        + _bal_sql([f"(__e{d} * __e{d})" for d in range(dim)])
        + ", 0)"
    )

    def term_sql(i: int) -> str:
        # _bm25_term_score rendered: ((idf * tf) * (k1+1)) / (tf + k1 *
        # ((1-b) + ((b * dl) / avgdl))) with avgdl inlined
        idf = (
            f"LN(1.0D + (CAST(__n AS DOUBLE) - __df{i} + 0.5D)"
            f" / (__df{i} + 0.5D))"
        )
        return (
            f"(({idf} * __tf{i} * {_dlit(k1 + 1.0)})"
            f" / (__tf{i} + {_dlit(k1)} * ({_dlit(1.0 - b)}"
            f" + {_dlit(b)} * __dl / (CAST(__total AS DOUBLE) / __n))))"
        )

    def q_struct_sql(qid: str, ts: list[str]) -> str:
        ids = [idx[t] for t in ts]
        bm = _bal_sql([term_sql(i) for i in ids])
        n_hit = " + ".join(f"CAST((__tf{i} > 0) AS INT)" for i in ids)
        qs, q2 = qsums[qid]
        dot_terms = [f"({qs[d]} * __e{d})" for d in range(dim) if qs[d]]
        if q2 > 0 and dot_terms:
            dot = "COALESCE(" + _bal_sql(dot_terms) + ", 0)"
            cos = (
                f"CASE WHEN (__norm2 > 0) AND ({dot} > 0) THEN "
                f"ROUND(CAST({dot} AS DOUBLE)"
                f" / SQRT(CAST((__norm2 * {q2}) AS DOUBLE))"
                f" + 1e-09D, 6) END"
            )
        else:  # zero-norm query: no embedding ranking
            cos = "CAST(NULL AS DOUBLE)"
        return (
            f"named_struct('query_id', {_slit(qid)}, "
            f"'n_hit', CAST(({n_hit}) AS BIGINT), "
            f"'bm', ROUND(({bm}) + 1e-09D, 4), "
            f"'cos', ({cos}))"
        )

    arr = (
        "filter(array("
        + ", ".join(q_struct_sql(qid, ts) for qid, ts in qterms)
        + "), s -> s.n_hit > 0 OR s.cos IS NOT NULL)"
    )
    scored = (
        j.withColumn("__norm2", doc_norm2)
        .select(F.col(id_col), F.explode(F.expr(arr)).alias("__q"))
        .select(
            F.col("__q.query_id").alias("query_id"),
            F.col(id_col),
            F.col("__q.n_hit").alias("n_hit"),
            F.col("__q.bm").alias("bm"),
            F.col("__q.cos").alias("cos"),
        )
    )
    # the two rankings below self-join this frame (full outer fusion);
    # without a persist Spark duplicates the whole corpus aggregate per
    # branch (plan audit measured 4 scans / 14 exchanges). scored is
    # match-selective (<= |queries| x matched docs), so caching it is
    # the correct 100 TB shape: ONE corpus pass materializes the
    # query-sized frame, both rankings and the fusion read the cache.
    scored = scored.persist()
    try:
        return _hybrid_fuse(scored, id_col, k, k_fuse, rrf_k)
    finally:
        # the fused result is localCheckpoint-ed (eager) inside
        # _hybrid_fuse, so the cache is consumed by the time we get
        # here — unpersisting now prevents a per-call cached-frame
        # leak across a long curation session (ADVICE r11).
        scored.unpersist()


def _hybrid_emb_rowshape(docs, qsums_items, dim, text_col, id_col):
    """Embedding leg of the >WIDE_TERMS_MAX fallback: (query_id, id,
    score=cosine) for every doc with a POSITIVE cosine against the
    query's md5-sign embedding. The per-doc sign sums stay a FIXED
    ``dim``-column aggregate (fallback pressure comes from the tf
    block, never from here), and the per-query cosines reuse the wide
    plan's exact expressions — identical rounding, identical nulls."""
    ex = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("__t"))
    h = F.conv(F.substring(F.md5("__t"), 1, 8), 16, 10).cast("long")
    base = (
        ex.select(id_col, h.alias("__h"))
        .groupBy(id_col)
        .agg(
            *[
                F.sum(
                    F.lit(1)
                    - F.lit(2)
                    * F.shiftright(F.col("__h"), d).bitwiseAND(F.lit(1))
                ).alias(f"__e{d}")
                for d in range(dim)
            ]
        )
    )
    norm2 = F.coalesce(
        _bal([F.col(f"__e{d}") * F.col(f"__e{d}") for d in range(dim)]),
        F.lit(0),
    )
    structs = []
    for qid, (qs, q2) in qsums_items:
        dot_terms = [
            F.lit(qs[d]) * F.col(f"__e{d}") for d in range(dim) if qs[d]
        ]
        if q2 <= 0 or not dot_terms:
            continue  # zero-norm query: no embedding ranking (wide parity)
        dot = F.coalesce(_bal(dot_terms), F.lit(0))
        cos = F.when(
            (F.col("__norm2") > 0) & (dot > 0),
            F.round(
                dot.cast("double")
                / F.sqrt((F.col("__norm2") * F.lit(q2)).cast("double"))
                + F.lit(1e-9),
                6,
            ),
        )
        structs.append(
            F.struct(F.lit(qid).alias("query_id"), cos.alias("score"))
        )
    if not structs:  # every probe zero-norm: empty, contract-typed
        return docs.select(
            F.lit(qsums_items[0][0]).alias("query_id"),
            F.col(id_col),
            F.lit(0.0).alias("score"),
        ).limit(0)
    return (
        base.withColumn("__norm2", norm2)
        .select(
            F.col(id_col),
            F.explode(
                F.filter(
                    F.array(*structs), lambda s: s["score"].isNotNull()
                )
            ).alias("__q"),
        )
        .select(
            F.col("__q.query_id").alias("query_id"),
            F.col(id_col),
            F.col("__q.score").alias("score"),
        )
    )


def _hybrid_fuse(scored, id_col, k, k_fuse, rrf_k):
    """Rank both legs off the persisted match frame, fuse, and EAGERLY
    materialize the query-sized result (localCheckpoint) so the caller
    holds a lineage-free frame and the corpus cache can be released."""
    bm_ranked = _topk_per_query(
        scored.filter(F.col("n_hit") > 0).select(
            "query_id", id_col, F.col("bm").alias("score")
        ),
        id_col,
        k_fuse,
    ).select("query_id", id_col, F.col("rank").alias("bm25_rank"))
    em_ranked = _topk_per_query(
        scored.filter(F.col("cos").isNotNull()).select(
            "query_id", id_col, F.col("cos").alias("score")
        ),
        id_col,
        k_fuse,
    ).select("query_id", id_col, F.col("rank").alias("emb_rank"))
    return _rrf_fuse(bm_ranked, em_ranked, id_col, k, rrf_k)


def _rrf_fuse(bm_ranked, em_ranked, id_col, k, rrf_k):
    """Reciprocal-rank fusion of the two ranked legs (shared by the
    wide single-pass plan and the row-shaped fallback): score = sum of
    1/(rrf_k + rank) over rankings, absent rank contributes 0; the
    query-sized result eagerly materializes (localCheckpoint) so the
    caller holds a lineage-free frame."""
    fused = (
        bm_ranked.join(em_ranked, ["query_id", id_col], "full_outer")
        .withColumn(
            "score",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(rrf_k) + F.col("bm25_rank")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(rrf_k) + F.col("emb_rank")),
                    F.lit(0.0),
                )
                + F.lit(1e-9),
                6,
            ),
        )
    )
    return (
        _topk_per_query(fused, id_col, k)
        .select(
            "query_id",
            id_col,
            F.col("score").alias("rrf_score"),
            "bm25_rank",
            "emb_rank",
            "rank",
        )
        .localCheckpoint(eager=True)
    )


def hybrid_topk_sql(
    queries,
    k: int = 10,
    k_fuse: int = 20,
    rrf_k: int = 60,
    dim: int = 32,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin of :func:`hybrid_topk` — identical tokenizer, BM25
    formula, md5-sign sums (similarity._sums_sql idiom), inlined
    query-side integer sums, rounding and tie-breaks."""
    from .text import TOKENS_SQL

    qterms = _parse_queries(queries)
    union_terms: list[str] = []
    for _, ts in qterms:
        for t in ts:
            if t not in union_terms:
                union_terms.append(t)
    qsums = {qid: _query_hash_sums(text, dim) for qid, text in (
        list(queries.items()) if isinstance(queries, dict) else list(queries)
    )}
    toks = TOKENS_SQL.format(c=text_col)

    def lit(s: str) -> str:
        return "'{}'".format(s.replace("'", "''"))

    term_list = ", ".join(lit(t) for t in union_terms)
    qt_rows = ", ".join(
        f"({lit(qid)}, {lit(t)})" for qid, ts in qterms for t in ts
    )
    sign = "CAST(from_hex(substr(md5(t), 1, 8)) AS BIT)::UINTEGER"
    esums = ", ".join(
        f"sum(1 - 2 * CAST((({sign}) >> {d}) & 1 AS BIGINT)) AS e{d}"
        for d in range(dim)
    )
    norm2 = " + ".join(f"e{d}*e{d}" for d in range(dim))
    cos_rows = []
    for qid, (qs, q2) in qsums.items():
        if q2 <= 0:
            continue
        dot = " + ".join(
            f"({qs[d]})*e{d}" for d in range(dim) if qs[d]
        ) or "0"
        cos_rows.append(
            f"SELECT {lit(qid)} AS query_id, {id_col},"
            f" round(CAST({dot} AS DOUBLE)"
            f" / sqrt(CAST(({norm2}) * {q2} AS DOUBLE)) + 1e-9, 6) AS cos,"
            f" {dot} AS dot, {norm2} AS n2 FROM sums"
        )
    cos_union = " UNION ALL ".join(cos_rows) if cos_rows else (
        f"SELECT NULL AS query_id, NULL AS {id_col}, NULL AS cos,"
        " 0 AS dot, 0 AS n2 WHERE FALSE"
    )
    return f"""
WITH ex AS (SELECT {id_col}, unnest({toks}) AS t FROM {table}),
dl AS (SELECT d.{id_col}, coalesce(l.dl, 0) AS dl
       FROM {table} d LEFT JOIN (SELECT {id_col}, count(*) AS dl
                                 FROM ex GROUP BY 1) l USING ({id_col})),
stats AS (SELECT count(*) AS n, coalesce(sum(dl), 0) AS total FROM dl),
qt(query_id, t) AS (VALUES {qt_rows}),
tf AS (SELECT {id_col}, t, count(*) AS tf FROM ex
       WHERE t IN ({term_list}) GROUP BY 1, 2),
df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
s AS (SELECT qt.query_id, tf.{id_col},
             round(sum(ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                       * tf.tf * {k1 + 1.0}
                       / (tf.tf + {k1} * ({1.0 - b} + {b} * dl.dl
                          / (CAST(stats.total AS DOUBLE) / stats.n))))
                   + 1e-9, 4) AS score
      FROM tf JOIN df USING (t) JOIN qt USING (t)
      JOIN dl USING ({id_col}) CROSS JOIN stats
      GROUP BY 1, 2),
bm AS (SELECT query_id, {id_col},
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, {id_col})
                AS bm25_rank
       FROM s QUALIFY bm25_rank <= {k_fuse}),
sums AS (SELECT {id_col}, {esums} FROM ex GROUP BY 1),
cosall AS ({cos_union}),
em AS (SELECT query_id, {id_col},
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, {id_col}) AS emb_rank
       FROM cosall WHERE dot > 0 AND n2 > 0
       QUALIFY emb_rank <= {k_fuse}),
fused AS (SELECT coalesce(bm.query_id, em.query_id) AS query_id,
                 coalesce(bm.{id_col}, em.{id_col}) AS {id_col},
                 round(coalesce(1.0 / ({rrf_k} + bm25_rank), 0.0)
                       + coalesce(1.0 / ({rrf_k} + emb_rank), 0.0)
                       + 1e-9, 6) AS rrf_score,
                 CAST(bm25_rank AS BIGINT) AS bm25_rank,
                 CAST(emb_rank AS BIGINT) AS emb_rank
          FROM bm FULL JOIN em
            ON bm.query_id = em.query_id AND bm.{id_col} = em.{id_col}),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, {id_col})
        AS rank
      FROM fused)
SELECT query_id, {id_col}, rrf_score, bm25_rank, emb_rank,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {k}"""
