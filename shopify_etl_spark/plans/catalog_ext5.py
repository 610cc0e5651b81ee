"""Round-13 extension queries: the product-quantization retrieval family
(VERDICT r12 #1/#2/#8) — trained PQ codes with ADC search, the composed
IVF-PQ (IVFADC) probe-bounded search with exact re-rank, and its
residual-encoding variant.

Same contract as catalog.py: every ``@register`` pairs a Spark builder
with a DuckDB oracle that recomputes the FULL pipeline in SQL — here
that means the per-subspace Lloyd training itself is unrolled into CTEs
(the ``trained_ivf_topk`` / ``retrieval_trained_search`` precedent), so
the codebooks, the codes, the ADC distances and the final ranking are
all value-checked cross-engine, not just composition-checked.

Determinism discipline shared by every query in this file:

* inits are the k smallest ids (SQL-reproducible, zero randomness);
* every argmin/argmax ties on the centroid/code id, every top-k on the
  row id;
* both engines do the same double arithmetic on the same values
  (float32 parquet widens exactly to double on both sides), so the
  only cross-engine divergence channel is summation order at ~1e-16 —
  ties at that scale require exactly-equal real values, which the id
  tie-breaks then resolve identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table, register

# ---------------------------------------------------------------------------
# Unrolled-Lloyd SQL helpers (PQ: per-subspace Euclidean; coarse: cosine
# with MEAN centroids — unlike catalog_ext2's sum-direction spherical
# helper, the mean scale matters here because residual encoding subtracts
# the centroid VALUES, not just ranks against their direction).
# ---------------------------------------------------------------------------


def _pq_iter_sql(prev: str, assign: str, nxt: str, dsub: int) -> str:
    """One unrolled PQ-Lloyd iteration over ALL subspaces at once: the
    ``sub`` CTE holds (vec_id, j, s=subvector); assignment is argmin
    squared-L2 against ``prev``'s (j, cid, c) rows (tie-break cid), the
    update is the per-(j, cid) elementwise mean, and empty cells carry
    their previous centroid — exactly ``operators/pq.py::pq_train``."""
    return f"""
    {assign} AS (
      SELECT vec_id, j, s, cid FROM (
        SELECT p.vec_id, p.j, p.s, c.cid,
               row_number() OVER (PARTITION BY p.vec_id, p.j
                 ORDER BY list_sum(list_transform(range(1, {dsub + 1}),
                          i -> (p.s[i] - c.c[i]) * (p.s[i] - c.c[i]))) ASC,
                          c.cid) AS rn
        FROM sub p JOIN {prev} c ON c.j = p.j
      ) WHERE rn = 1
    ),
    {nxt}_upd AS (
      SELECT j, cid, list(m ORDER BY i) AS c FROM (
        SELECT a.j, a.cid, t.i, SUM(a.s[t.i]) / COUNT(*) AS m
        FROM {assign} a CROSS JOIN range(1, {dsub + 1}) t(i)
        GROUP BY a.j, a.cid, t.i
      ) GROUP BY j, cid
    ),
    {nxt} AS MATERIALIZED (
      SELECT j, cid, c FROM {nxt}_upd
      UNION ALL
      SELECT pc.j, pc.cid, pc.c FROM {prev} pc
      WHERE NOT EXISTS (SELECT 1 FROM {nxt}_upd u
                        WHERE u.j = pc.j AND u.cid = pc.cid)
    )"""


def _kmeans_mean_iter_sql(prev: str, assign: str, nxt: str, dim: int) -> str:
    """One unrolled cosine-Lloyd iteration with MEAN-of-unit-vectors
    centroids (``operators/clustering.py::kmeans_fit`` divides the fold
    by n; catalog_ext2's helper keeps the raw sum, which has the same
    DIRECTION but not the same values — fine for ranking, wrong for the
    residual subtraction this family needs)."""
    return f"""
    {assign} AS (
      SELECT vec_id, u, cid FROM (
        SELECT p.vec_id, p.u, c.cid,
               row_number() OVER (PARTITION BY p.vec_id
                 ORDER BY list_cosine_similarity(p.u, c.c) DESC, c.cid) AS rn
        FROM unit p CROSS JOIN {prev} c
      ) WHERE rn = 1
    ),
    {nxt}_upd AS (
      SELECT cid, list(m ORDER BY i) AS c FROM (
        SELECT a.cid, t.i, SUM(a.u[t.i]) / COUNT(*) AS m
        FROM {assign} a CROSS JOIN range(1, {dim + 1}) t(i)
        GROUP BY a.cid, t.i
      ) GROUP BY cid
    ),
    {nxt} AS MATERIALIZED (
      SELECT cid, c FROM {nxt}_upd
      UNION ALL
      SELECT pc.cid, pc.c FROM {prev} pc
      WHERE NOT EXISTS (SELECT 1 FROM {nxt}_upd u WHERE u.cid = pc.cid)
    )"""


# shared SQL fragments: 64-dim embeddings, m=4 subspaces of 16 dims, k=16
# codes per subspace, 2 Lloyd iterations, 8 smallest-id queries
_SUB_FROM = (
    "SELECT vec_id, t.j, list_slice({src}, t.j * 16 + 1, t.j * 16 + 16) AS s"
    "\n      FROM {frame} CROSS JOIN range(0, 4) t(j)"
)

_PQ_B0 = """
    b0 AS MATERIALIZED (
      SELECT j,
             CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id)
                  AS INTEGER) - 1 AS cid,
             s AS c
      FROM sub
      WHERE vec_id IN (SELECT vec_id FROM {frame} ORDER BY vec_id LIMIT 16)
    )"""

_PQ_CODES = """
    codes AS MATERIALIZED (
      SELECT vec_id, j, cid FROM (
        SELECT p.vec_id, p.j, c.cid,
               row_number() OVER (PARTITION BY p.vec_id, p.j
                 ORDER BY list_sum(list_transform(range(1, 17),
                          i -> (p.s[i] - c.c[i]) * (p.s[i] - c.c[i]))) ASC,
                          c.cid) AS rn
        FROM sub p JOIN b2 c ON c.j = p.j
      ) WHERE rn = 1
    )"""

_UNIT_CTE = """
    unit AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[], x -> x /
               sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                            y -> y * y)))) AS u
      FROM embeddings
    )"""


@register(
    "pq_adc_topk",
    oracle=f"""
    WITH sub AS MATERIALIZED (
      {_SUB_FROM.format(src="embedding::DOUBLE[]", frame="embeddings")}
    ),{_PQ_B0.format(frame="embeddings")},{_pq_iter_sql("b0", "pa1", "b1", 16)},{_pq_iter_sql("b1", "pa2", "b2", 16)},{_PQ_CODES},
    q AS (SELECT vec_id AS query_id FROM embeddings ORDER BY vec_id LIMIT 8),
    tbl AS MATERIALIZED (
      SELECT s.vec_id AS query_id, b.j, b.cid,
             list_sum(list_transform(range(1, 17),
                      i -> (s.s[i] - b.c[i]) * (s.s[i] - b.c[i]))) AS d
      FROM sub s JOIN q ON q.query_id = s.vec_id
      JOIN b2 b ON b.j = s.j
    ),
    adc AS (
      SELECT t.query_id, e.vec_id AS neighbor_id, SUM(t.d) AS adc_dist
      FROM codes e JOIN tbl t ON t.j = e.j AND t.cid = e.cid
      GROUP BY t.query_id, e.vec_id
    )
    SELECT query_id, neighbor_id, ROUND(adc_dist, 4) AS adc_dist
    FROM (
      SELECT query_id, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist ASC, neighbor_id) AS rn
      FROM adc
    ) WHERE rn <= 10
    """,
    doc="Product quantization end-to-end (VERDICT r12 #1): TRAIN the m=4 "
    "per-subspace k=16 codebooks on the embeddings table (2 Lloyd "
    "iterations, smallest-id init — the oracle re-trains them with "
    "unrolled per-subspace CTEs), PQ-encode the corpus (one Arrow GEMM "
    "pass, codebooks in the closure), then ADC top-10 for the 8 "
    "smallest-id queries: each query's m×k distance table broadcasts and "
    "the corpus-sized scoring is pure JVM zip_with/element_at lookups. "
    "At 100 TB the codes are 32x smaller than the vectors and training "
    "shuffles only O(batches × m × k) partial rows. "
    "operators/pq.py::pq_train,pq_assign,pq_topk.",
)
def pq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pq
    from ..operators.materialize import checkpoint_tracked

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = checkpoint_tracked(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("ev")
        )
    )
    books, _hist = pq.pq_train(
        vecs, vec_col="ev", id_col="vec_id", m=4, k=16, iters=2, init_by="id"
    )
    codes = pq.pq_assign(
        vecs, books, vec_col="ev", id_col="vec_id"
    ).withColumnRenamed("vec_id", "neighbor_id")
    queries = vecs.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("qv")
    )
    return pq.pq_topk(queries, codes, books, k=10)


# the coarse-quantizer CTE chain shared by both composed searches:
# unit vectors -> 8-cell mean-centroid cosine k-means (2 iters, smallest-
# id init) -> final cell assignment + the 8 smallest-id queries' 2-cell
# probes (same cosine geometry, ties on cid)
_COARSE_SQL = f"""{_UNIT_CTE},
    c0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1
               AS cid, u AS c
      FROM (SELECT vec_id, u FROM unit ORDER BY vec_id LIMIT 8)
    ),{_kmeans_mean_iter_sql("c0", "ka1", "c1", 64)},{_kmeans_mean_iter_sql("c1", "ka2", "c2", 64)},
    cells AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.vec_id
                 ORDER BY list_cosine_similarity(p.u, c.c) DESC, c.cid)
                 AS rn
        FROM unit p CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id FROM unit ORDER BY vec_id LIMIT 8),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(u.u, c.c) DESC, c.cid)
                 AS rn
        FROM q JOIN unit u ON u.vec_id = q.query_id CROSS JOIN c2 c
      ) WHERE rn <= 2
    )"""

# shortlist-20 then exact-L2 re-rank to top-5 — shared tail
_RERANK_SQL = """
    short AS (
      SELECT query_id, neighbor_id, adc_dist FROM (
        SELECT adc.*, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc_dist ASC, neighbor_id) AS rn
        FROM adc
      ) WHERE rn <= 20
    ),
    rr AS (
      SELECT s.query_id, s.neighbor_id, s.adc_dist,
             list_sum(list_transform(range(1, 65),
                      i -> (qu.u[i] - eu.u[i]) * (qu.u[i] - eu.u[i])))
               AS exact_sqdist
      FROM short s
      JOIN unit qu ON qu.vec_id = s.query_id
      JOIN unit eu ON eu.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, ROUND(adc_dist, 4) AS adc_dist,
           ROUND(exact_sqdist, 4) AS exact_sqdist
    FROM (
      SELECT rr.*, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY exact_sqdist ASC, neighbor_id) AS rn
      FROM rr
    ) WHERE rn <= 5
    """


def _coarse_spark(spark: SparkSession, sf_dir: str):
    """Shared Spark front half: checkpointed unit-vector frame, trained
    8-cell coarse quantizer, cell assignments (vector riding along),
    and the 8 smallest-id queries."""
    from ..operators import clustering, similarity
    from ..operators.materialize import checkpoint_tracked

    emb = load_table(spark, sf_dir, "embeddings")
    ev = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(ev, F.lit(0.0), lambda a, x: a + x * x))
    unit = checkpoint_tracked(
        emb.select("vec_id", F.transform(ev, lambda x: x / norm).alias("u"))
    )
    cents, _hist = clustering.kmeans_fit(
        unit, vec_col="u", id_col="vec_id", k=8, iters=2, init_by="id"
    )
    cents_df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(cents)], "cid int, cv array<double>"
    )
    cells = similarity.ivf_assign(
        unit, cents_df, corpus_id="vec_id", corpus_vec="u", keep_cols=("u",)
    )
    queries = unit.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qv")
    )
    return unit, cents, cents_df, cells, queries


@register(
    "ivf_pq_search",
    oracle=f"""
    WITH {_COARSE_SQL},
    sub AS MATERIALIZED (
      {_SUB_FROM.format(src="u", frame="unit")}
    ),{_PQ_B0.format(frame="unit")},{_pq_iter_sql("b0", "pa1", "b1", 16)},{_pq_iter_sql("b1", "pa2", "b2", 16)},{_PQ_CODES},
    tbl AS MATERIALIZED (
      SELECT s.vec_id AS query_id, b.j, b.cid,
             list_sum(list_transform(range(1, 17),
                      i -> (s.s[i] - b.c[i]) * (s.s[i] - b.c[i]))) AS d
      FROM sub s JOIN q ON q.query_id = s.vec_id
      JOIN b2 b ON b.j = s.j
    ),
    adc AS (
      SELECT p.query_id, e.vec_id AS neighbor_id, SUM(t.d) AS adc_dist
      FROM probes p
      JOIN cells x ON x.cid = p.cid
      JOIN codes e ON e.vec_id = x.vec_id AND e.vec_id <> p.query_id
      JOIN tbl t ON t.query_id = p.query_id AND t.j = e.j
                AND t.cid = e.cid
      GROUP BY p.query_id, e.vec_id
    ),{_RERANK_SQL}""",
    doc="IVF-PQ composed search (VERDICT r12 #2, the IVFADC layout): "
    "L2-normalize the corpus, TRAIN the 8-cell coarse quantizer (cosine "
    "Lloyd, 2 iters, smallest-id init), assign cells, TRAIN the m=4/k=16 "
    "product quantizer on the unit vectors, encode, then search: each of "
    "the 8 queries probes its 2 nearest cells, ADC-scores ONLY those "
    "cells' codes (the probe bound — |corpus|/4 candidates per query, "
    "asserted by the plan's broadcast cell join), shortlists 20 and "
    "re-ranks with exact L2 on the stored vectors (ADC+R) for the final "
    "top-5. The oracle re-derives BOTH trained quantizers with unrolled "
    "Lloyd CTEs and replays probe/ADC/shortlist/re-rank in SQL. "
    "operators/pq.py::ivf_pq_topk + clustering.kmeans_fit + "
    "similarity.ivf_assign.",
)
def ivf_pq_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pq

    unit, _cents, cents_df, cells, queries = _coarse_spark(spark, sf_dir)
    books, _hist = pq.pq_train(
        unit, vec_col="u", id_col="vec_id", m=4, k=16, iters=2, init_by="id"
    )
    codes = pq.pq_assign(
        cells, books, vec_col="u", id_col="vec_id",
        keep_cols=("centroid_id",),
    ).withColumnRenamed("vec_id", "neighbor_id")
    return pq.ivf_pq_topk(
        queries, codes, books, cents_df, k=5, n_probes=2, shortlist=20,
        rerank_vecs=unit.withColumnRenamed("vec_id", "neighbor_id"),
        exclude_self=True,
    )


@register(
    "residual_pq_search",
    oracle=f"""
    WITH {_COARSE_SQL},
    resid AS MATERIALIZED (
      SELECT x.vec_id,
             list_transform(range(1, 65), i -> u.u[i] - c.c[i]) AS r
      FROM cells x JOIN unit u ON u.vec_id = x.vec_id
      JOIN c2 c ON c.cid = x.cid
    ),
    sub AS MATERIALIZED (
      {_SUB_FROM.format(src="r", frame="resid")}
    ),{_PQ_B0.format(frame="resid")},{_pq_iter_sql("b0", "pa1", "b1", 16)},{_pq_iter_sql("b1", "pa2", "b2", 16)},{_PQ_CODES},
    qrs AS (
      SELECT p.query_id, p.cid AS pcell, t.j,
             list_slice(list_transform(range(1, 65),
                        i -> qu.u[i] - c.c[i]),
                        t.j * 16 + 1, t.j * 16 + 16) AS s
      FROM probes p JOIN unit qu ON qu.vec_id = p.query_id
      JOIN c2 c ON c.cid = p.cid
      CROSS JOIN range(0, 4) t(j)
    ),
    tblr AS MATERIALIZED (
      SELECT qrs.query_id, qrs.pcell, b.j, b.cid,
             list_sum(list_transform(range(1, 17),
                      i -> (qrs.s[i] - b.c[i]) * (qrs.s[i] - b.c[i])))
               AS d
      FROM qrs JOIN b2 b ON b.j = qrs.j
    ),
    adc AS (
      SELECT p.query_id, e.vec_id AS neighbor_id, SUM(t.d) AS adc_dist
      FROM probes p
      JOIN cells x ON x.cid = p.cid
      JOIN codes e ON e.vec_id = x.vec_id AND e.vec_id <> p.query_id
      JOIN tblr t ON t.query_id = p.query_id AND t.pcell = p.cid
                 AND t.j = e.j AND t.cid = e.cid
      GROUP BY p.query_id, e.vec_id
    ),{_RERANK_SQL}""",
    doc="Residual IVF-PQ (VERDICT r12 stretch #8, the IVFADC paper's "
    "variant proper): identical coarse chain to ivf_pq_search, but the "
    "product quantizer trains on and encodes the RESIDUALS x - cent[cell] "
    "(pooled across cells, roughly zero-centered, so the same m*k code "
    "budget resolves the within-cell displacement the coarse step "
    "already localized), and each query's ADC table is built from "
    "q - cent[probed cell] — one table per (query, probe) pair, still a "
    "broadcast. Search tail (probe bound, shortlist 20, exact re-rank "
    "top-5) identical. operators/pq.py::pq_assign_residual,ivf_pq_topk.",
)
def residual_pq_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pq

    from ..operators.materialize import checkpoint_tracked

    unit, cents, cents_df, cells, queries = _coarse_spark(spark, sf_dir)
    cents_arr = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
    )
    # checkpointed: pq_train consumes this frame iters+1 times (init
    # collect + one pass per Lloyd iteration) — without it each pass
    # re-executes the ivf_assign argmax window over the corpus
    resid = checkpoint_tracked(cells.select(
        "vec_id",
        F.zip_with(
            "u",
            F.element_at(cents_arr, F.col("centroid_id") + 1),
            lambda a, b: a - b,
        ).alias("r"),
    ))
    books, _hist = pq.pq_train(
        resid, vec_col="r", id_col="vec_id", m=4, k=16, iters=2, init_by="id"
    )
    codes = pq.pq_assign_residual(
        cells, books, cents, vec_col="u", id_col="vec_id"
    ).withColumnRenamed("vec_id", "neighbor_id")
    return pq.ivf_pq_topk(
        queries, codes, books, cents_df, k=5, n_probes=2, shortlist=20,
        rerank_vecs=unit.withColumnRenamed("vec_id", "neighbor_id"),
        residual=True, exclude_self=True,
    )


@register(
    "maxsim_late_interaction",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE length(text) > 0
    ), s AS (
      SELECT doc_id, text,
             unnest(generate_series(0, greatest(n - 40 - 1, 0), 120))
               AS cstart
      FROM d
    ), chunks AS (
      SELECT doc_id, cstart // 120 AS chunk_idx,
             substr(text, cstart + 1, 160) AS chunk_text
      FROM s
    ), emb AS MATERIALIZED (
      SELECT doc_id, chunk_idx,
             list_transform(range(1, 17),
                 j -> CAST(ascii(substr(md5(chunk_text), j, 1)) - 77
                           AS DOUBLE)) AS ev
      FROM chunks
    ), q AS (
      SELECT doc_id AS query_doc, chunk_idx, ev AS qv
      FROM emb WHERE doc_id < 3
    ), best AS (
      SELECT q.query_doc, q.chunk_idx, e.doc_id,
             MAX(list_cosine_similarity(q.qv, e.ev)) AS best_sim
      FROM q JOIN emb e ON e.doc_id <> q.query_doc
      GROUP BY q.query_doc, q.chunk_idx, e.doc_id
    ), scored AS (
      SELECT query_doc, doc_id, SUM(best_sim) AS score
      FROM best GROUP BY query_doc, doc_id
    )
    SELECT query_doc, doc_id, ROUND(score, 4) AS maxsim_score
    FROM (
      SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_doc
               ORDER BY score DESC, doc_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="Late-interaction (MaxSim / ColBERT-family) retrieval: documents "
    "and queries are BAGS of chunk vectors (char windows 160/40 + the "
    "hash_embed stub — the model-encoder seam); score(q,d) = sum over "
    "query chunks of the max cosine against d's chunks, so one long "
    "document aspect can't dominate the way single-vector pooling "
    "lets it. Query side (3 docs' chunks) broadcasts; the per-"
    "(query-chunk, doc) max and per-(query, doc) sum are partial-"
    "aggregated; top-5 per query with (score desc, doc) tie-break. At "
    "100 TB an ANN prefilter bounds the cross-score per query chunk and "
    "this operator scores the candidate union unchanged. "
    "operators/similarity.py::maxsim_topk + text.char_chunk_documents.",
)
def maxsim_late_interaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity
    from ..operators.materialize import checkpoint_tracked
    from ..operators.text import char_chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunks = char_chunk_documents(docs, chunk_chars=160, overlap=40)
    emb = checkpoint_tracked(
        chunks.select(
            "doc_id", "chunk_idx",
            similarity.hash_embed("chunk_text").alias("ev"),
        )
    )
    q = emb.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_doc"), "chunk_idx",
        F.col("ev").alias("qv"),
    )
    return similarity.maxsim_topk(q, emb, k=5, exclude_self=True)


@register(
    "mrl_truncated_search",
    oracle=r"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_slice(embedding::DOUBLE[], 1, 16) AS p
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, p AS qp
      FROM e ORDER BY vec_id LIMIT 8
    ), short AS (
      SELECT query_id, neighbor_id, ps FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(q.qp, e.p) AS ps,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(q.qp, e.p) DESC,
                          e.vec_id) AS rn
        FROM q JOIN e ON e.vec_id <> q.query_id
      ) WHERE rn <= 20
    ), rer AS (
      SELECT s.query_id, s.neighbor_id, s.ps,
             list_cosine_similarity(q.qv, e.v) AS fs
      FROM short s JOIN e ON e.vec_id = s.neighbor_id
      JOIN q ON q.query_id = s.query_id
    )
    SELECT query_id, neighbor_id, ROUND(ps, 4) AS prefix_sim,
           ROUND(fs, 4) AS cosine_sim
    FROM (
      SELECT rer.*, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY fs DESC, neighbor_id) AS rn
      FROM rer
    ) WHERE rn <= 5
    """,
    doc="Matryoshka-style truncated-dimension retrieval (MRL): first "
    "pass ranks by cosine over the FIRST 16 of 64 dims (an MRL-trained "
    "embedding packs coarse semantics into the prefix — 4x fewer "
    "first-pass FLOPs and, with a columnar layout, 4x less bandwidth), "
    "keeps a 20-candidate shortlist, then re-ranks with full-dimension "
    "cosine for the final top-5. The two-stage funnel every "
    "dimension-adaptive serving stack runs; both query frames "
    "broadcast, the re-rank join is shortlist-sized. "
    "operators/similarity.py::truncated_rerank_topk.",
)
def mrl_truncated_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity
    from ..operators.materialize import checkpoint_tracked

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = checkpoint_tracked(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("cv")
        )
    )
    queries = vecs.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("query_id"), F.col("cv").alias("qv")
    )
    return similarity.truncated_rerank_topk(
        queries, vecs.withColumnRenamed("vec_id", "neighbor_id"),
        prefix_dim=16, shortlist=20, k=5, exclude_self=True,
    )


# ---------------------------------------------------------------------------
# Non-PQ quantization paths: trained int8 scalar quantization (asymmetric
# search) and trained binary quantization (Hamming shortlist + exact
# re-rank) — operators/quantization.py.
# ---------------------------------------------------------------------------


@register(
    "sq_int8_search",
    oracle=r"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), dims AS (SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)),
    grid AS MATERIALIZED (
      SELECT i, mn,
             CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS st
      FROM (SELECT d.i, MIN(e.v[d.i]) AS mn, MAX(e.v[d.i]) AS mx
            FROM e CROSS JOIN dims d GROUP BY d.i)
    ), deq AS MATERIALIZED (
      SELECT vec_id, list(xhat ORDER BY i) AS xhat FROM (
        SELECT e.vec_id, g.i,
               g.mn + GREATEST(0, LEAST(255,
                 CAST(FLOOR((e.v[g.i] - g.mn) / g.st + 0.5) AS INT)))
                 * g.st AS xhat
        FROM e CROSS JOIN grid g)
      GROUP BY vec_id
    ), q AS (SELECT vec_id AS query_id, v AS qv
             FROM e ORDER BY vec_id LIMIT 8),
    d AS (
      SELECT q.query_id, x.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65),
               i -> (q.qv[i] - x.xhat[i]) * (q.qv[i] - x.xhat[i])))
               AS sq_dist
      FROM q CROSS JOIN deq x WHERE x.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, ROUND(sq_dist, 4) AS sq_dist
    FROM (SELECT d.*, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY sq_dist ASC, neighbor_id) AS rn FROM d)
    WHERE rn <= 10
    """,
    doc="Trained int8 scalar quantization with ASYMMETRIC search (Faiss "
    "SQ8 / Lucene int8 semantics): ONE aggregate pass learns the per-"
    "dimension [min,max] grid (128 scalars to the driver), encoding is a "
    "zero-shuffle clamp/floor projection (4x compression), and search "
    "keeps the query in float against dequantized candidates — "
    "dequantize-and-accumulate fused into one codegen'd fold, top-10 "
    "per query with (dist, id) tie-breaks. The oracle re-trains the "
    "grid, re-encodes and re-ranks entirely in SQL; floor(x+0.5) on "
    "both sides removes the HALF_UP/half-away rounding-mode divergence. "
    "operators/quantization.py::sq_train,sq_encode,sq_topk.",
)
def sq_int8_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import quantization as qz
    from ..operators.materialize import checkpoint_tracked

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = checkpoint_tracked(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("ev")
        )
    )
    mins, maxs = qz.sq_train(vecs, "ev", 64)
    codes = qz.sq_encode(
        vecs, mins, maxs, "ev", "vec_id"
    ).withColumnRenamed("vec_id", "neighbor_id")
    queries = vecs.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("qv")
    )
    return qz.sq_topk(queries, codes, mins, maxs, k=10)


@register(
    "bq_hamming_search",
    oracle=r"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), dims AS (SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)),
    thr AS MATERIALIZED (
      SELECT d.i, AVG(e.v[d.i]) AS m
      FROM e CROSS JOIN dims d GROUP BY d.i
    ), packed AS MATERIALIZED (
      SELECT vec_id, list(word ORDER BY w) AS bits FROM (
        SELECT e.vec_id, (t.i - 1) // 32 AS w,
               SUM(CASE WHEN e.v[t.i] >= t.m
                   THEN (1::BIGINT << ((t.i - 1) % 32))
                   ELSE 0 END) AS word
        FROM e CROSS JOIN thr t
        GROUP BY e.vec_id, (t.i - 1) // 32)
      GROUP BY vec_id
    ), q AS (SELECT vec_id AS query_id, bits AS qbits
             FROM packed ORDER BY vec_id LIMIT 8),
    ham AS (
      SELECT q.query_id, p.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, 3),
               i -> CAST(bit_count(xor(q.qbits[i], p.bits[i])) AS BIGINT)))
               AS BIGINT) AS hamming
      FROM q CROSS JOIN packed p WHERE p.vec_id <> q.query_id
    ), short AS (
      SELECT query_id, neighbor_id, hamming FROM (
        SELECT ham.*, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY hamming ASC, neighbor_id) AS rn FROM ham)
      WHERE rn <= 50
    ), rr AS (
      SELECT s.query_id, s.neighbor_id, s.hamming,
             list_sum(list_transform(range(1, 65),
                      i -> qe.v[i] * ne.v[i]))
             / (sqrt(list_sum(list_transform(range(1, 65),
                      i -> qe.v[i] * qe.v[i])))
                * sqrt(list_sum(list_transform(range(1, 65),
                      i -> ne.v[i] * ne.v[i])))) AS cosine_sim
      FROM short s JOIN e qe ON qe.vec_id = s.query_id
      JOIN e ne ON ne.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, hamming,
           ROUND(cosine_sim, 4) AS cosine_sim
    FROM (SELECT rr.*, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id) AS rn FROM rr)
    WHERE rn <= 5
    """,
    doc="Trained binary quantization (1 bit/dim vs per-dimension MEAN "
    "thresholds, packed into 32-bit words — 1<<31 stays portably "
    "positive in a BIGINT on both engines) with the production funnel: "
    "Hamming shortlist-50 from the packed codes (XOR + bit_count word "
    "fold, pure JVM) then exact-cosine re-rank to top-5 touching floats "
    "only for the |queries|x50 survivors (recall@5 vs exact cosine measured 0.775 at 50, 0.975 at 100 on the no-cluster gaussian corpus — the worst case for sign codes). 32x compression; Hamming "
    "tracks angular distance by the Charikar hyperplane bound. "
    "operators/quantization.py::bq_train,bq_encode,bq_hamming_rerank.",
)
def bq_hamming_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import quantization as qz
    from ..operators.materialize import checkpoint_tracked

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = checkpoint_tracked(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("ev")
        )
    )
    thr = qz.bq_train(vecs, "ev", 64)
    packed = qz.bq_encode(
        vecs, thr, "ev", "vec_id"
    ).withColumnRenamed("vec_id", "neighbor_id")
    qp = qz.bq_encode(
        vecs.orderBy("vec_id").limit(8), thr, "ev", "vec_id"
    ).select(F.col("vec_id").alias("query_id"), "bits")
    return qz.bq_hamming_rerank(qp, packed, vecs, k=5, shortlist=50)


# ---------------------------------------------------------------------------
# Trained linear quality probe (operators/classifier.py): distill the
# Gopher-style composite gate into a 4-term linear scorer via full-batch
# GD — the training itself unrolled into SQL below, one CTE per step.
# ---------------------------------------------------------------------------


def _gd_iter_sql(prev: str, nxt: str, lr: float) -> str:
    """One unrolled full-batch GD step on the squared loss: the residual
    ``r = w·z − y`` re-derived inline per sum (GROUP BY keeps the 1-row
    weight frame's columns as keys — qualified, because DuckDB binds
    unqualified GROUP BY names to SELECT aliases first)."""
    return f"""
    {nxt} AS (
      SELECT w.w0 - {lr} * (2.0 * SUM(
               (w.w0 + w.w1*z1 + w.w2*z2 + w.w3*z3 - y)) / w.n) AS w0,
             w.w1 - {lr} * (2.0 * SUM(
               (w.w0 + w.w1*z1 + w.w2*z2 + w.w3*z3 - y) * z1) / w.n) AS w1,
             w.w2 - {lr} * (2.0 * SUM(
               (w.w0 + w.w1*z1 + w.w2*z2 + w.w3*z3 - y) * z2) / w.n) AS w2,
             w.w3 - {lr} * (2.0 * SUM(
               (w.w0 + w.w1*z1 + w.w2*z2 + w.w3*z3 - y) * z3) / w.n) AS w3,
             w.n AS n
      FROM z CROSS JOIN {prev} w
      GROUP BY w.w0, w.w1, w.w2, w.w3, w.n
    )"""


_PROBE_ITERS = 16
_PROBE_LR = 0.4

_PROBE_CHAIN = ",".join(
    _gd_iter_sql(f"w{i}", f"w{i + 1}", _PROBE_LR) for i in range(_PROBE_ITERS)
)


@register(
    "quality_probe_distill",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), b AS (
      SELECT doc_id, w,
             CASE WHEN len(w) >= 2
                  THEN list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i + 1])
                  ELSE [] END AS bg
      FROM t WHERE len(w) > 0
    ), f AS MATERIALIZED (
      SELECT doc_id,
             CAST(len(w) AS DOUBLE) AS x1,
             len(list_filter(w, x -> x IN ('the','a','of','and','to')))
               / len(w) AS x2,
             len(list_distinct(w)) / len(w) AS x3,
             (len(w) >= 20 AND len(w) <= 5000
              AND len(list_distinct(w)) / len(w) >= 0.35
              AND COALESCE(list_max(list_transform(list_distinct(bg),
                    x -> len(list_filter(bg, y -> y = x))))
                    / NULLIF(len(bg), 0) <= 0.20, TRUE)
              AND len(list_filter(w, x -> x IN ('the','a','of','and','to')))
                    / len(w) >= 0.01) AS keep
      FROM b
    ), stats AS (
      SELECT COUNT(*) AS n,
             SUM(x1) AS s1, SUM(x2) AS s2, SUM(x3) AS s3,
             SUM(x1*x1) AS q1, SUM(x2*x2) AS q2, SUM(x3*x3) AS q3
      FROM f
    ), mu AS (
      SELECT n, s1 / n AS mu1, s2 / n AS mu2, s3 / n AS mu3, q1, q2, q3
      FROM stats
    ), norm AS MATERIALIZED (
      SELECT n, mu1, mu2, mu3,
             CASE WHEN q1 / n - mu1 * mu1 > 0
                  THEN sqrt(q1 / n - mu1 * mu1) ELSE 1.0 END AS sd1,
             CASE WHEN q2 / n - mu2 * mu2 > 0
                  THEN sqrt(q2 / n - mu2 * mu2) ELSE 1.0 END AS sd2,
             CASE WHEN q3 / n - mu3 * mu3 > 0
                  THEN sqrt(q3 / n - mu3 * mu3) ELSE 1.0 END AS sd3
      FROM mu
    ), z AS MATERIALIZED (
      SELECT doc_id, keep, CAST(keep AS DOUBLE) AS y,
             (x1 - m.mu1) / m.sd1 AS z1,
             (x2 - m.mu2) / m.sd2 AS z2,
             (x3 - m.mu3) / m.sd3 AS z3
      FROM f CROSS JOIN norm m
    ), w0 AS (
      SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3,
             (SELECT n FROM norm) AS n
    ),{_PROBE_CHAIN}
    SELECT z.doc_id,
           ROUND(w.w0 + w.w1*z.z1 + w.w2*z.z2 + w.w3*z.z3, 4) AS score,
           (w.w0 + w.w1*z.z1 + w.w2*z.z2 + w.w3*z.z3) >= 0.5 AS pred_keep,
           z.keep AS keep
    FROM z CROSS JOIN w{_PROBE_ITERS} w
    """,
    doc="Trained linear quality probe (fastText-distillation analog): "
    "the teacher is the engine's own Gopher-style composite gate — whose "
    "repetitive_bigram rule costs a full bigram fold per document — and "
    "the student is a 4-term linear scorer over three CHEAP features "
    "(token count, stopword ratio, distinct ratio), trained by 16 "
    "full-batch GD steps on the squared loss over standardized features "
    "(zero init, lr 0.4 — no transcendentals, so the oracle re-runs the "
    "ENTIRE training as 16 unrolled CTEs and value-checks weights "
    "through to per-doc scores). Featurize+label is ONE corpus "
    "projection (checkpointed; each GD step aggregates the tiny feature "
    "frame, 4 doubles to the driver per step). Learns past the 0.664 "
    "base rate to 0.758 teacher agreement at sf0.01 — at 100 TB the "
    "student scores every document for the cost of a dot product. "
    "operators/classifier.py::quality_probe_frame,probe_train,"
    "probe_score.",
)
def quality_probe_distill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import classifier as C
    from ..operators.materialize import checkpoint_tracked

    docs = load_table(spark, sf_dir, "documents")
    frame = checkpoint_tracked(C.quality_probe_frame(docs))
    mus, sds, n = C.feature_stats(frame)
    w = C.probe_train(
        frame, mus, sds, n, iters=_PROBE_ITERS, lr=_PROBE_LR
    )
    scored = C.probe_score(frame, w, mus, sds)
    return scored.select(
        "doc_id",
        F.round("score", 4).alias("score"),
        "pred_keep",
        "keep",
    )


@register(
    "arith_lossless_jpeg_stats",
    # Geometry AND the decoded-pixel sum regenerated in SQL — lossless
    # means the pixels ARE SQL-recoverable, the same value-exact
    # discipline as lossless_jpeg_stats. Blanket-TRUE flags backed by an
    # exhaustive pre-ship sweep over the synthesis-key domain (lcm of
    # all periods = 4620 keys, zero failures on both flags).
    oracle="""
    WITH p AS (
      SELECT doc_id AS d, 8 + doc_id % 7 AS w, 6 + doc_id % 5 AS h,
             CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 END AS prec,
             1 + doc_id % 7 AS pred,
             1 + 2 * (doc_id % 2) AS nch,
             CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 11 ELSE 0 END
               AS rst
      FROM documents
    ), px AS (
      SELECT p.d, p.w, p.h, p.prec, p.pred, p.nch, p.rst,
             ((p.d * 31 + r.r * 17 + c.c * 7 + k.k * 13)
               % CASE WHEN p.prec = 16 THEN 65536 ELSE 256 END) AS v
      FROM p, UNNEST(range(p.h)) AS r(r), UNNEST(range(p.w)) AS c(c),
           UNNEST(range(p.nch)) AS k(k)
    )
    SELECT d AS asset_id,
           CAST(ANY_VALUE(w) AS BIGINT) AS width,
           CAST(ANY_VALUE(h) AS BIGINT) AS height,
           CAST(ANY_VALUE(prec) AS BIGINT) AS prec_bits,
           CAST(ANY_VALUE(pred) AS BIGINT) AS predictor,
           CAST(ANY_VALUE(nch) AS BIGINT) AS n_channels,
           CAST(ANY_VALUE(rst) AS BIGINT) AS restart_mcus,
           CAST(SUM(v) AS BIGINT) AS sample_sum,
           TRUE AS matches_source,
           TRUE AS agrees_with_huffman_path
    FROM px GROUP BY d
    """,
    doc="Arithmetic-lossless JPEG gate (SOF11 — r13), completing the "
    "non-hierarchical T.81 mode matrix: deterministic raster synthesis "
    "-> REAL predictive encode entropy-coded by the QM-coder with the "
    "H.1.2 two-dimensional conditioning model (25 Da/Db classification "
    "contexts + dual magnitude bin sets, the 158-bin statistics area) "
    "-> real decode -> EXACT equality flags + the decoded pixels' "
    "integer sum, recomputed from the synthesis formula in SQL. "
    "Exercises all 7 predictors, 8/16-bit, gray/3-channel, interleaved "
    "and one-scan-per-component, restart intervals (coder + statistics "
    "+ class grids + prediction anchor reset per segment) and "
    "non-default DAC conditioning; agrees_with_huffman_path pins the "
    "SOF3 and SOF11 entropy layers against each other on every key. "
    "Zero shuffles: one narrow mapInPandas chain. "
    "operators/jpeg_codec.py (encode_jpeg_lossless_arith, "
    "_decode_scan_lossless_arith), operators/multimodal.py::"
    "arith_lossless_jpeg_stats.",
)
def arith_lossless_jpeg_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.arith_lossless_jpeg_stats(docs)


@register(
    "hier_jpeg_stats",
    # Value-exact like lossless_jpeg_stats: the differential lossless
    # refinement corrects every sample, so even over a LOSSY baseline
    # base the decode equals the source and the pixel sum is
    # SQL-recoverable. Blanket-TRUE flag backed by an exhaustive
    # pre-ship sweep over the synthesis-key domain (lcm = 2520 keys,
    # zero failures).
    oracle="""
    WITH p AS (
      SELECT doc_id AS d, 16 + doc_id % 9 AS w, 16 + doc_id % 7 AS h,
             CASE WHEN doc_id % 8 = 1 THEN 16 ELSE 8 END AS prec,
             1 + 2 * (doc_id % 2) AS nch,
             CASE WHEN doc_id % 4 = 0 AND doc_id % 3 = 0 THEN 2
                  ELSE 1 + doc_id % 3 END AS lv,
             CASE doc_id % 4 WHEN 0 THEN 'baseline'
                             WHEN 2 THEN 'lossless_arith'
                             ELSE 'lossless' END AS base,
             doc_id % 12 IN (2, 8) AS dct
      FROM documents
    ), px AS (
      SELECT p.d, p.w, p.h, p.prec, p.nch, p.lv, p.base, p.dct,
             ((p.d * 31 + r.r * 17 + c.c * 7 + k.k * 13)
               % CASE WHEN p.prec = 16 THEN 65536 ELSE 256 END) AS v
      FROM p, UNNEST(range(p.h)) AS r(r), UNNEST(range(p.w)) AS c(c),
           UNNEST(range(p.nch)) AS k(k)
    )
    SELECT d AS asset_id,
           CAST(ANY_VALUE(w) AS BIGINT) AS width,
           CAST(ANY_VALUE(h) AS BIGINT) AS height,
           CAST(ANY_VALUE(prec) AS BIGINT) AS prec_bits,
           CAST(ANY_VALUE(nch) AS BIGINT) AS n_channels,
           CAST(ANY_VALUE(lv) AS BIGINT) AS levels,
           ANY_VALUE(base) AS base_mode,
           ANY_VALUE(dct) AS dct_rung,
           CAST(SUM(v) AS BIGINT) AS sample_sum,
           TRUE AS matches_source
    FROM px GROUP BY d
    """,
    doc="Hierarchical JPEG gate (T.81 Annex J — r13): deterministic "
    "raster synthesis -> REAL DHP/EXP pyramid encode (baseline-lossy / "
    "SOF3 / SOF11 base frames x SOF7/SOF15 differential lossless "
    "refinements, plus LOSSY differential sequential-DCT intermediate "
    "rungs — SOF5 Huffman / SOF13 QM — on the dct_rung keys, corrected "
    "exactly by the finest lossless rung; 1-3 levels, gray/RGB, "
    "8/16-bit, all predictors "
    "cycled) -> real decode (EXP reference expansion per J.1.1.2, "
    "mod-2^16 differential accumulation) -> EXACT equality flag + the "
    "decoded pixels' integer sum recomputed from the synthesis formula "
    "in SQL — the refinement frame corrects every sample, so the gate "
    "stays value-exact even over a lossy base. Zero shuffles: one "
    "narrow mapInPandas chain. operators/jpeg_codec.py "
    "(encode_jpeg_hierarchical, _exp_expand, finalize_frame), "
    "operators/multimodal.py::hier_jpeg_stats.",
)
def hier_jpeg_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.hier_jpeg_stats(docs)


# ---------------------------------------------------------------------------
# ANN-prefiltered late interaction: the IVF-bounded MaxSim serving shape
# (operators/similarity.py::maxsim_pruned_topk). The fixed pure-salt
# codebook and its SQL VALUES twin come from catalog_ext4's retrieval
# chain.
# ---------------------------------------------------------------------------

from .catalog_ext4 import _RET_CENT_SQL, _retrieval_centroid_frame  # noqa: E402


@register(
    "maxsim_pruned_search",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE length(text) > 0
    ), s AS (
      SELECT doc_id, text,
             unnest(generate_series(0, greatest(n - 40 - 1, 0), 120))
               AS cstart
      FROM d
    ), chunks AS (
      SELECT doc_id, cstart // 120 AS chunk_idx,
             substr(text, cstart + 1, 160) AS chunk_text
      FROM s
    ), emb AS MATERIALIZED (
      SELECT doc_id, chunk_idx,
             list_transform(range(1, 17),
                 j -> CAST(ascii(substr(md5(chunk_text), j, 1)) - 77
                           AS DOUBLE)) AS ev
      FROM chunks
    ), cents AS (
      SELECT * FROM (VALUES {_RET_CENT_SQL}) AS t(cid, cv)
    ), assign AS MATERIALIZED (
      SELECT doc_id, chunk_idx, ev, cid FROM (
        SELECT e.doc_id, e.chunk_idx, e.ev, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.doc_id, e.chunk_idx
                   ORDER BY list_cosine_similarity(e.ev,
                       CAST(c.cv AS DOUBLE[])) DESC, c.cid) AS rn
        FROM emb e CROSS JOIN cents c
      ) WHERE rn = 1
    ), q AS (
      SELECT doc_id AS query_doc, chunk_idx, ev AS qv
      FROM emb WHERE doc_id < 3
    ), probes AS (
      SELECT query_doc, chunk_idx, qv, cid FROM (
        SELECT q.query_doc, q.chunk_idx, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_doc, q.chunk_idx
                   ORDER BY list_cosine_similarity(q.qv,
                       CAST(c.cv AS DOUBLE[])) DESC, c.cid) AS rn
        FROM q CROSS JOIN cents c
      ) WHERE rn <= 2
    ), best AS (
      SELECT p.query_doc, p.chunk_idx, a.doc_id,
             MAX(list_cosine_similarity(p.qv, a.ev)) AS best_sim
      FROM probes p
      JOIN assign a ON a.cid = p.cid AND a.doc_id <> p.query_doc
      GROUP BY p.query_doc, p.chunk_idx, a.doc_id
    ), scored AS (
      SELECT query_doc, doc_id, SUM(best_sim) AS score
      FROM best GROUP BY query_doc, doc_id
    )
    SELECT query_doc, doc_id, ROUND(score, 4) AS maxsim_score
    FROM (
      SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_doc
               ORDER BY score DESC, doc_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="ANN-prefiltered late interaction — the 100 TB MaxSim serving "
    "shape the exhaustive maxsim_late_interaction only promises: each "
    "QUERY CHUNK probes its 2 nearest cells of the fixed 8-cell IVF "
    "codebook and MaxSim-scores ONLY the corpus chunks assigned there "
    "(|corpus|·n_probes/n_cells candidates per query chunk instead of "
    "the full chunk table); per-(query-chunk, doc) max and per-(query, "
    "doc) sum aggregate the candidate union, top-5 per query with "
    "(score desc, doc) tie-breaks. Cell assignments come from "
    "ivf_assign over the checkpointed chunk+embed frame — at scale the "
    "prefilter reads the committed index, never re-assigns. The probe "
    "frame broadcasts; the corpus joins it by CELL with a broadcast "
    "hash join, never a cross. operators/similarity.py::"
    "maxsim_pruned_topk,ivf_assign + text.char_chunk_documents.",
)
def maxsim_pruned_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity
    from ..operators.materialize import checkpoint_tracked
    from ..operators.text import char_chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunks = char_chunk_documents(docs, chunk_chars=160, overlap=40)
    emb = checkpoint_tracked(
        chunks.select(
            "doc_id", "chunk_idx",
            similarity.hash_embed("chunk_text").alias("ev"),
        )
    )
    cells = similarity.ivf_assign(
        emb.select(
            F.concat_ws(":", "doc_id", "chunk_idx").alias("ck"),
            "doc_id", "ev",
        ),
        _retrieval_centroid_frame(spark),
        corpus_id="ck", corpus_vec="ev",
        cent_id="cid", cent_vec="cv", keep_cols=("doc_id", "ev"),
    )
    q = emb.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_doc"), "chunk_idx",
        F.col("ev").alias("qv"),
    )
    return similarity.maxsim_pruned_topk(
        q, cells, _retrieval_centroid_frame(spark),
        k=5, n_probes=2, exclude_self=True,
    )
