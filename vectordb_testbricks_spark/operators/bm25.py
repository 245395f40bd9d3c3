"""BM25 full-text search (SURVEY.md §2.4 V7).

Reference semantics: a collection-level *function* maps a text field to a
``sparse_bm25`` SPARSE_FLOAT_VECTOR output field (schema.py:336-346,
schema_matrix_2_6.yaml:65-69); searching that field with metric BM25 and a
raw-string query returns top-k scored documents
(validate_phase_dml_dql.py:332-369; Turbopuffer analogue tpuffer/fts_query.go).

Spark design — BM25 as a weights table + one ranking path:

    tf(doc, term, dl)  per-row array expression + one explode  [NO shuffle]
    df(term), N, avgdl one groupBy over distinct doc-terms     [one shuffle]
    w(doc, term)       tf ⋈ stats, one broadcast join          [NO shuffle]
                       = idf(t) · tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))
    score(q, d) = Σ_{t∈q} w(d, t)

``bm25_weights`` derives the (id, term, w) relation — the analogue of
Milvus's server-computed ``sparse_bm25`` field — and ``bm25_search_many``
ranks over it: filter the weights to the query's terms FIRST (an ``In``
predicate that reaches the tf scan, then a broadcast join on a handful of
terms), then partial-aggregate the per-doc sum. Fixture and unloaded
callers pass tf/stats (or nothing) and the weights are derived lazily
inside the request plan; a loaded manager collection passes the weights
it made resident at ``load()`` for the current commit, with n_docs and
avgdl folded to literals (manager.CollectionManager.load).
idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene/Milvus BM25 variant).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectordb_testbricks_spark.exprlang import compile_expr
from vectordb_testbricks_spark.materialize import estimated_rows

K1 = 1.2
B = 0.75

#: Matched-stream row bound below which the contrib aggregate may share
#: one exchange with the top-k window (see bm25_search_many): the
#: one-exchange path drops map-side partial aggregation, which is only
#: safe when the un-aggregated (query, doc, term) match stream is small.
#: Each (doc, query-term-occurrence) pair matches at most once, so
#: corpus rows × Σ|query terms| bounds the stream.
BOUNDED_ONE_EXCHANGE_MAX = 2_000_000


def _tokens(docs: DataFrame, id_col: str, text_col: str,
            analyzer: dict | None = None) -> DataFrame:
    """(id, _toks) — persisted token barrier (HOF lambdas don't CSE; plan
    equality means tf and stats share one cached materialization; a
    different analyzer produces a different plan → its own cache entry)."""
    from vectordb_testbricks_spark.functions.text import materialized_tokens
    return materialized_tokens(docs, id_col, text_col,
                               analyzer_params=analyzer)


def term_frequencies(docs: DataFrame, id_col: str, text_col: str,
                     analyzer: dict | None = None) -> DataFrame:
    """The materialized BM25 'function field': (id, term, tf, dl).
    ``analyzer`` is the field's reference-shape analyzer_params.

    Row-local tf: for each distinct token, count its occurrences in the doc's
    own array — one projection + one explode, zero shuffles (the earlier
    explode→groupBy×2→join shape shuffled the token stream three times)."""
    tk = _tokens(docs, id_col, text_col, analyzer)
    toks = F.col("_toks")
    pairs = F.transform(
        F.array_distinct(toks),
        lambda u: F.struct(
            u.alias("term"),
            F.size(F.filter(toks, lambda x: x == u)).alias("tf")))
    return (tk.select(id_col, F.size(toks).alias("dl"),
                      F.explode(pairs).alias("p"))
            .select(id_col, F.col("p.term").alias("term"),
                    F.col("p.tf").alias("tf"), "dl"))


def corpus_stats(docs: DataFrame, id_col: str, text_col: str,
                 analyzer: dict | None = None) -> DataFrame:
    """(term, df_t, n_docs, avgdl) — the tiny IDF side, broadcastable.
    One groupBy over per-doc distinct terms; N/avgdl from doc lengths alone
    (no token explosion)."""
    tk = _tokens(docs, id_col, text_col, analyzer)
    totals = tk.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.avg(F.size("_toks")).alias("avgdl"))
    df_t = (tk.select(F.explode(F.array_distinct(F.col("_toks"))).alias("term"))
            .groupBy("term").agg(F.count(F.lit(1)).alias("df_t")))
    return df_t.crossJoin(F.broadcast(totals))


def bm25_contrib(n: Column | None = None,
                 avgdl: Column | None = None) -> Column:
    """Per-(doc, term) BM25 contribution over (tf, dl, df_t) and the corpus
    totals ``n``/``avgdl`` (default: the columns ``n_docs``/``avgdl``)."""
    n = F.col("n_docs") if n is None else n
    avgdl = F.col("avgdl") if avgdl is None else avgdl
    idf = F.log(1.0 + (n - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5))
    tf_part = (F.col("tf") * (K1 + 1.0)) / (
        F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / avgdl))
    return idf * tf_part


def bm25_weights(tf_df: DataFrame, stats: DataFrame, id_col: str,
                 totals: tuple[int, float | None] | None = None
                 ) -> DataFrame:
    """(id, term, w): each (doc, term)'s BM25 contribution — the
    ``sparse_bm25`` function field. ``stats`` is (term, df_t, n_docs,
    avgdl), or just (term, df_t) when ``totals`` = (n_docs, avgdl) carries
    the folded corpus totals, which then enter the expression as
    literals."""
    cols = (None, None) if totals is None else (
        F.lit(totals[0]).cast("long"), F.lit(totals[1]).cast("double"))
    return (tf_df.join(F.broadcast(stats), "term")
            .select(id_col, "term", bm25_contrib(*cols).alias("w")))


def bm25_search(docs: DataFrame, query_text: str, id_col: str, text_col: str,
                k: int = 10, flt: str | Column | None = None,
                tf_df: DataFrame | None = None,
                stats: DataFrame | None = None,
                analyzer: dict | None = None) -> DataFrame:
    """V7: top-k documents for a raw-string query (query_id = 0).

    Pass pre-built ``tf_df``/``stats`` to reuse the ingest-time tables (the
    production path); otherwise they are derived on the fly. ``analyzer``
    (reference analyzer_params shape) applies to both corpus and query —
    pre-built tables must have been built with the same analyzer.
    Returns (query_id, <id_col>, score, rank), ties broken by id.
    """
    return bm25_search_many(docs, [query_text], id_col, text_col, k=k,
                            flt=flt, tf_df=tf_df, stats=stats,
                            analyzer=analyzer)


def bm25_search_many(docs: DataFrame, query_texts: list[str], id_col: str,
                     text_col: str, k: int = 10,
                     flt: str | Column | None = None,
                     tf_df: DataFrame | None = None,
                     stats: DataFrame | None = None,
                     analyzer: dict | None = None,
                     n_docs: int | None = None,
                     weights: DataFrame | None = None) -> DataFrame:
    """V7 at the reference's operating shape — nq query strings per call
    (search_permanently.py:99-101 drives batches of query vectors; the FTS
    analogue is a batch of raw strings). ``query_id`` = position in
    ``query_texts``.

    ``weights`` is a ready (id, term, w) relation (:func:`bm25_weights`,
    e.g. a loaded collection's resident table); without it the weights
    are derived in the request plan from ``tf_df``/``stats`` (or from
    ``docs``). Either way one ranking path runs over them.

    One text is one query: its analyzed terms filter the weights as
    literals, a repeated term contributes one row per occurrence, the
    per-doc sum is a partial aggregate over one exchange on the id, and
    the top k is a take-ordered limit (search._ranked) — no query
    relation, no broadcast, no exchange on query_id. A batch carries
    query_id as a *relation attribute*, never a literal: a foldable
    query_id would let Catalyst constant-fold the top-k window's partition
    spec away (WindowExec "No Partition Defined"), and a batch's ranking
    must stay partitioned by query.

    Size regime of a batch: the corpus is ``docs``' row count as Catalyst
    estimates it (materialize.estimated_rows), or ``n_docs`` when the
    caller knows it exactly (a loaded collection's folded count). When
    rows × Σ|query term occurrences| ≤ :data:`BOUNDED_ONE_EXCHANGE_MAX`
    — each (doc, term occurrence) matches at most once, so this bounds
    the matched (query, doc, term) stream — the contrib aggregate is
    re-keyed by ``repartition("query_id")`` so the aggregate's clustered
    distribution on (query_id, id) AND the top-k window's distribution
    on (query_id) ride ONE exchange instead of two (guide §2.4).
    Dropping map-side partial aggregation
    is what the bound pays for; on an unknown or at-scale corpus the
    classic partial-agg two-exchange plan is kept — there the matched
    stream is the posting-match stream and shipping it raw would be a
    scale regression (r12 "not yet optimized" #3).
    """
    corpus = docs
    if flt is not None:
        pred = flt if isinstance(flt, Column) else compile_expr(flt, docs)
        docs = docs.filter(pred)
        # stats must reflect the filtered corpus
        tf_df = stats = weights = None
    if weights is None:
        if tf_df is None:
            tf_df = term_frequencies(docs, id_col, text_col, analyzer)
        if stats is None:
            stats = corpus_stats(docs, id_col, text_col, analyzer)
        weights = bm25_weights(tf_df, stats, id_col)
    # tokenize each query DRIVER-side with the same analyzer (py_tokenize
    # is the Column path's exact twin); duplicate terms count once per
    # occurrence (standard BM25 treats query tf multiplicatively; Milvus
    # sums per occurrence — we keep each occurrence). Literal terms buy
    # two things over the previous in-plan tokenize: one fewer Spark job
    # per search, and an isin() prefilter whose In(term, ...) predicate
    # REACHES THE tf SCAN (through the weights join) — on a parquet tf
    # sidecar at corpus scale this prunes row groups by min/max stats
    # instead of probing every posting through the broadcast join (plan
    # guard: tests/test_plans.py).
    from vectordb_testbricks_spark.functions.text import (
        analyzer_kwargs, py_tokenize)
    from vectordb_testbricks_spark.operators import search
    kw = analyzer_kwargs(analyzer)
    qterms = [py_tokenize(text, **kw) for text in query_texts]
    all_terms = sorted({t for terms in qterms for t in terms})
    # every query analyzed to zero terms: nothing can match (isin with an
    # empty list is invalid, so short-circuit explicitly)
    weights = weights.filter(
        F.col("term").isin(all_terms) if all_terms else F.lit(False))
    if len(qterms) == 1:
        # one query: its terms are the literals above. A term the query
        # repeats contributes one row per occurrence, as the join below
        # emits them, so each doc's sum adds the same values in the same
        # order
        contribs = weights.select(id_col, "w")
        repeats = {t: c for t, c in Counter(qterms[0]).items() if c > 1}
        if repeats:
            n = F.lit(1)
            for t, c in repeats.items():
                n = F.when(F.col("term") == t, c).otherwise(n)
            contribs = weights.select(
                id_col, F.explode(F.array_repeat("w", n)).alias("w"))
        scored = (contribs.groupBy(id_col).agg(F.sum("w").alias("score"))
                  .select(F.lit(0).alias("query_id"), id_col, "score"))
        return search._ranked(scored, id_col, asc=False, k=k, single=True)
    qterm_rows = [(qid, t) for qid, terms in enumerate(qterms)
                  for t in terms]
    qterms_df = search.local_relation(docs.sparkSession, qterm_rows,
                                      "query_id int, term string")
    contribs = (weights.join(F.broadcast(qterms_df), "term")
                .select("query_id", id_col, "w"))
    rows = estimated_rows(corpus) if n_docs is None else n_docs
    if (rows is not None
            and rows * max(len(qterm_rows), 1) <= BOUNDED_ONE_EXCHANGE_MAX):
        contribs = contribs.repartition("query_id")
    scored = (contribs.groupBy("query_id", id_col)
              .agg(F.sum("w").alias("score")))
    return search._ranked(scored, id_col, asc=False, k=k)
