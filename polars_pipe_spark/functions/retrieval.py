"""Sparse lexical retrieval over a document table.

BM25 the Spark-native way: the corpus-side statistics (document
frequency, document length, corpus size / average length) are plain
aggregations; the query side is a handful of terms, so every join that
touches per-term metadata broadcasts. The only shuffles that scale with
the corpus are the tokenize→explode term-frequency aggregation and the
per-document score reduction — both keyed on doc id, both map-side
combinable.

Determinism policy (oracle parity): each per-term partial score is
rounded to 6 decimals and summed as DECIMAL, so the per-document total
is independent of partitioning/addition order and matches DuckDB's SQL
evaluation exactly. (Raw double accumulation would be order-dependent.)

No reference implementation (`/root/reference` has no retrieval surface);
this is part of the LLM-data-pipeline extension alongside
``functions/text.py`` tokenisation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_pipe_spark.functions.text import token_count, tokens
from polars_pipe_spark.materialize import materialize


def bm25_scores(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    queries: DataFrame,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    doc_cols: dict | None = None,
) -> DataFrame:
    """Per-(query, document) BM25 for a batch of bag-of-words queries.

    ``queries`` is a small ``(query_id, term)`` frame — broadcast into
    both the token filter and the per-query fan-out, so the only
    corpus-scaled shuffles are the term-frequency aggregation and the
    per-(query, doc) score reduction (both map-side combinable).

    idf uses the Lucene-style non-negative form
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``; document frequency is global
    per term, shared across queries.

    ``doc_cols`` ({name: Column-over-docs}) attaches extra per-document
    expressions (rerank's quality/length features) to the scored frame.
    They are computed in the candidate-pruned feature projection — once
    per candidate document, never inside the explode (see the Generate
    projection-placement note in the body) — and joined back on doc id.

    Returns ``(query_id, <id_col>, bm25 DECIMAL(18,6), *doc_cols)`` for
    every doc matching at least one of the query's terms.
    """
    doc_cols = doc_cols or {}
    terms = queries.select("term").distinct()
    # The explode carries NOTHING but (id, term). Carrying per-doc
    # feature expressions (dl, quality, …) through the Generate is a
    # trap: Spark plans non-generator expressions of the same select in
    # a Project ABOVE the Generate, so every feature re-evaluates per
    # exploded TOKEN row — measured 5× wall-clock on q129 (14.0s vs
    # 2.7s) with tokenisation cost O(doc_len) per token, i.e. quadratic
    # per document. Late materialisation below fixes it structurally.
    tok = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    ).join(F.broadcast(terms), "term")
    # materialise the term-filtered tf frame (r14): it is consumed twice —
    # the candidate-id derivation below and the feature join back — and
    # WITHOUT the cache the whole tokenize+explode+aggregate pipeline
    # plans (and runs) once per consumer: the captured q129 plan showed
    # the documents scan + Generate + term-filter + two-stage aggregate
    # duplicated wholesale (no exchange reuse: the two branches prune to
    # different column sets, de-canonicalising the subtrees). The frame
    # itself is tiny — one row per (candidate doc, matched term), already
    # pruned by the broadcast term filter — so the cache fill is cheap
    # and the second corpus-wide tokenizing pass disappears.
    tf = materialize(tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    # Late materialisation: tokenize-heavy per-doc features (dl + caller
    # doc_cols) run ONCE per *candidate* document — the semi-join prunes
    # the feature projection to docs matching ≥1 term, so non-candidates
    # never pay regex and no expression sits above a Generate. AQE
    # broadcasts the candidate id set when first-stage pruning keeps it
    # small (the common case); a stopword-heavy query batch degrades to
    # an ordinary shuffle join on id, never to per-token recompute.
    cand = tf.select(id_col).distinct()
    feats = docs.join(cand, id_col, "left_semi").select(
        F.col(id_col),
        token_count(text_col).alias("dl"),
        *[c.alias(n) for n, c in doc_cols.items()],
    )
    tf = tf.join(feats, id_col)
    corpus = docs.select(token_count(text_col).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # document frequency as a window count over term, NOT a groupBy +
    # broadcast self-join: the self-join form replans tf's whole lineage
    # (column pruning de-canonicalises the branches, defeating exchange
    # reuse — a second full tokenizing corpus scan in the executed plan).
    # The window shuffles the already term-filtered tf frame once; an
    # unordered partition-count window needs no sort.
    from pyspark.sql import Window  # noqa: PLC0415

    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    term_score = F.round(idf * norm, 6).cast("decimal(14,6)")
    return (
        tf.join(F.broadcast(queries), "term")
        .crossJoin(F.broadcast(corpus))
        .groupBy("query_id", id_col)
        # DECIMAL(18,6) out, with the oracle casting to the SAME (p,s) on
        # its side: cross-engine decimal comparison is only safe when both
        # engines cast to one explicit type — engine-default precision/scale
        # rules differ and a dtype-tagged canonicaliser hashes them apart
        # (the real q13 lesson, r3 verdict).  The sum of scale-6 decimals
        # is exact; prefer BIGINT/DOUBLE outputs for new queries.
        .agg(
            F.sum(term_score).cast("decimal(18,6)").alias("bm25"),
            *[F.first(n).alias(n) for n in doc_cols],
        )
    )


def bm25_topk(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` documents for ONE bag-of-words query under BM25 — the
    single-query wrapper over :func:`bm25_scores`. The final top-k plans
    as TakeOrderedAndProject (per-partition top-k + driver merge)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    queries = docs.sparkSession.createDataFrame(
        [(0, t) for t in query_terms], "query_id int, term string"
    )
    scored = bm25_scores(docs, text_col, id_col, queries, k1=k1, b=b).drop(
        "query_id"
    )
    return scored.orderBy(F.desc("bm25"), id_col).limit(k)


def rerank_topk(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    queries: DataFrame,
    *,
    k: int = 10,
    w_bm25: float = 0.6,
    w_quality: float = 0.3,
    w_len: float = 0.1,
) -> DataFrame:
    """Two-stage retrieval: BM25 first stage, then a cross-encoder-style
    rerank blending per-query-max-normalised BM25 with document quality
    and a length prior — the feature-join shape a learned reranker at
    100 TB uses (scores broadcast/joined per candidate, never per-corpus).

    rerank = round6(w_bm25 * bm25/max_bm25(query)
                    + w_quality * quality_score
                    + w_len * min(n_tokens/200, 1))

    The rank window partitions by query_id over the CANDIDATE set (docs
    matching ≥1 query term), which first-stage pruning keeps far below
    corpus size. Ties break on doc id; output is top-``k`` per query.

    The quality/length features go through bm25_scores' ``doc_cols`` —
    computed once per CANDIDATE document in the semi-join-pruned feature
    projection (late materialisation), so the corpus-wide tokenizing
    pass happens exactly once and heavy feature regex only touches docs
    that survived first-stage pruning.  The per-query max
    is a window max over the SAME query_id partitioning the rank window
    uses, not a groupBy + broadcast self-join: the self-join form plans
    the whole bm25 lineage twice (column pruning de-canonicalises the
    two branches, so the exchanges never reuse — measured 6 corpus scans
    in the executed plan), while the two same-keyed windows share one
    exchange and the candidate frame is evaluated exactly once.
    """
    from pyspark.sql import Window

    from polars_pipe_spark.functions.text import quality_score

    s = bm25_scores(
        docs, text_col, id_col, queries,
        doc_cols={
            "quality": quality_score(text_col),
            "ntok": token_count(text_col).cast("double"),
        },
    )
    w_qmax = Window.partitionBy("query_id")
    scored = s.withColumn(
        "qmax", F.max("bm25").over(w_qmax)
    ).withColumn(
        "rerank",
        F.round(
            F.col("bm25").cast("double") / F.col("qmax").cast("double") * w_bm25
            + F.col("quality") * w_quality
            + F.least(F.col("ntok") / 200.0, F.lit(1.0)) * w_len,
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rerank").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", id_col, "bm25", "rerank", "rk")
    )
