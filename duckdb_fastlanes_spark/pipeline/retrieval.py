"""Retrieval-pipeline composites over documents + embeddings.

Beyond-reference extensions (the reference engine has no retrieval surface;
SURVEY.md §7 build-plan step 5 extends the similarity family): the two
operators a retrieval-corpus / training-data pipeline runs on top of the
primitives this repo already has —

- hybrid sparse+dense retrieval with reciprocal-rank fusion (RRF, Cormack &
  Clarke's classic formula): BM25 keyword leg over ``documents.text`` fused
  with a cosine ANN leg over ``embeddings`` by 1/(k + rank);
- DSIR-style importance weighting (Xie et al. 2023, public): per-document
  log importance weight between a target distribution (here: docs from
  source 'src0') and the raw corpus over hashed unigram buckets — the
  "sample raw data that looks like the target" resampling score.

Determinism contract (driver hash): every ranking key and per-token term is
quantized to integer micro-units BEFORE any cross-row sum, so both engines
aggregate exact BIGINTs (float summation order differs between engines);
ranks are ROW_NUMBER with id tiebreaks; absent-leg ranks are 0, never NULL
(pandas nullable-int reprs differ between the two bridges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_fastlanes_spark.pipeline.similarity import QUERY_VEC_ID
from duckdb_fastlanes_spark.pipeline.text import BM25_B, BM25_K1, BM25_TERMS
from duckdb_fastlanes_spark.registry import register

RRF_K = 60  # standard RRF dampening constant
LEG_TOPK = 20  # candidates taken from each leg before fusion
FUSED_TOPK = 15

#: shared BM25 scored-docs SQL (mirrors text_bm25_topk's oracle, which the
#: sparse leg re-ranks) — per-doc integer micro-unit score su
_BM25_SU_CTES = f"""
    toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (
        SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot_dl FROM dl
    ),
    tf AS (
        SELECT doc_id, w, count(*) AS tf FROM toks
        WHERE w IN {BM25_TERMS!r} GROUP BY 1, 2
    ),
    dft AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
    bm25 AS (
        SELECT t.doc_id,
               CAST(sum(CAST(round(
                   ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (t.tf * (1.0 + {BM25_K1}))
                   / (t.tf + {BM25_K1} * (1.0 - {BM25_B}
                      + {BM25_B} * l.dl
                        / (CAST(s.tot_dl AS DOUBLE) / s.n_docs)))
                   * 1000000) AS BIGINT)) AS BIGINT) AS su
        FROM tf t JOIN dft d USING (w) JOIN dl l USING (doc_id)
        CROSS JOIN stats s
        GROUP BY t.doc_id
    )
"""


@register(
    "retrieval_hybrid_rrf",
    oracle=f"""
    WITH {_BM25_SU_CTES},
    sparse AS (
        SELECT id, r FROM (
            SELECT doc_id AS id,
                   row_number() OVER (ORDER BY su DESC, doc_id) AS r
            FROM bm25)
        WHERE r <= {LEG_TOPK}
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = {QUERY_VEC_ID}),
    cos AS (
        SELECT v.vec_id,
               CAST(round(list_cosine_similarity(v.e, q.qe) * 1000000)
                    AS BIGINT) AS cu
        FROM v, q WHERE v.vec_id <> {QUERY_VEC_ID}
    ),
    dense AS (
        SELECT id, r FROM (
            SELECT vec_id AS id,
                   row_number() OVER (ORDER BY cu DESC, vec_id) AS r
            FROM cos)
        WHERE r <= {LEG_TOPK}
    )
    SELECT coalesce(s.id, d.id) AS id,
           coalesce(s.r, 0) AS sparse_rank,
           coalesce(d.r, 0) AS dense_rank,
           round(coalesce(1.0 / ({RRF_K} + s.r), 0)
                 + coalesce(1.0 / ({RRF_K} + d.r), 0), 6) AS rrf
    FROM sparse s FULL OUTER JOIN dense d ON s.id = d.id
    ORDER BY rrf DESC, id
    LIMIT {FUSED_TOPK}
    """,
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 sparse leg over documents.text + cosine dense
    leg over embeddings (doc_id ≡ vec_id in the corpus), fused by reciprocal
    rank: rrf = Σ_legs 1/({RRF_K} + rank), top {FUSED_TOPK}.

    Scale shape: each leg ends in a TakeOrderedAndProject (top-{LEG_TOPK} by
    an exact integer score, id tiebreak) — no global sort, no global-window
    row_number over the corpus; ranks are assigned on the ≤{LEG_TOPK}-row
    leg results (single tiny partition by construction). The fusion join is
    {LEG_TOPK}×{LEG_TOPK} rows. At 100 TB the legs are the expensive part
    and both are linear scans + top-k; fusion cost is constant.
    """
    from duckdb_fastlanes_spark.catalog import sql_q

    # single-parse SQL body (r7): ~40 Py4J relational calls -> one JVM
    # parse; every fractional literal carries the D suffix so arithmetic
    # stays IEEE double (a bare 0.5 parses as DECIMAL in SQL text and
    # would change the micro-unit rounding)
    return sql_q(
        spark,
        sf_dir,
        f"""
        WITH toks AS (
            SELECT doc_id,
                   explode(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS w
            FROM documents),
        dl AS (SELECT doc_id, count(1) AS dl FROM toks GROUP BY doc_id),
        stats AS (SELECT count(1) AS n_docs, sum(dl) AS tot_dl FROM dl),
        tf AS (SELECT doc_id, w, count(1) AS tf
               FROM toks WHERE w IN {BM25_TERMS!r} GROUP BY doc_id, w),
        dft AS (SELECT w, count(1) AS df FROM tf GROUP BY w),
        bm25 AS (
            SELECT /*+ BROADCAST(dft), BROADCAST(stats) */ tf.doc_id,
                   sum(CAST(round(
                       log(1.0D + (n_docs - df + 0.5D) / (df + 0.5D))
                       * (tf * (1.0D + {BM25_K1}D))
                       / (tf + {BM25_K1}D * (1.0D - {BM25_B}D
                          + {BM25_B}D * dl / (CAST(tot_dl AS DOUBLE) / n_docs)))
                       * 1000000) AS BIGINT)) AS su
            FROM tf JOIN dft ON tf.w = dft.w
                    JOIN dl ON tf.doc_id = dl.doc_id
                    CROSS JOIN stats
            GROUP BY tf.doc_id),
        sparse AS (
            SELECT id, row_number() OVER (ORDER BY su DESC, id) AS r_sparse
            FROM (SELECT doc_id AS id, su FROM bm25
                  ORDER BY su DESC, doc_id LIMIT {LEG_TOPK})),
        v AS (SELECT vec_id, CAST(embedding AS array<double>) AS e
              FROM embeddings),
        cos AS (
            SELECT vec_id,
                   CAST(round(aggregate(zip_with(v.e, q.qe, (x, y) -> x * y),
                                        0D, (acc, x) -> acc + x)
                       / (sqrt(aggregate(v.e, 0D, (acc, x) -> acc + x * x))
                          * sqrt(aggregate(q.qe, 0D, (acc, x) -> acc + x * x)))
                       * 1000000) AS BIGINT) AS cu
            FROM (SELECT * FROM v WHERE vec_id <> {QUERY_VEC_ID}) v
            CROSS JOIN (SELECT e AS qe FROM v
                        WHERE vec_id = {QUERY_VEC_ID}) q),
        dense AS (
            SELECT id, row_number() OVER (ORDER BY cu DESC, id) AS r_dense
            FROM (SELECT vec_id AS id, cu FROM cos
                  ORDER BY cu DESC, vec_id LIMIT {LEG_TOPK}))
        SELECT id,
               coalesce(r_sparse, 0) AS sparse_rank,
               coalesce(r_dense, 0) AS dense_rank,
               round(coalesce(1.0D / ({RRF_K} + r_sparse), 0.0D)
                     + coalesce(1.0D / ({RRF_K} + r_dense), 0.0D), 6) AS rrf
        FROM sparse FULL OUTER JOIN dense USING (id)
        ORDER BY rrf DESC, id
        LIMIT {FUSED_TOPK}
        """,
    )


DSIR_BUCKETS = 256
DSIR_TARGET_SOURCE = "src0"
DSIR_TOPK = 25

#: md5-prefix bucket — the same hex-prefix integer decode both engines share
#: in sampling/_BUCKET_SQL and dedup_simhash
_B_DUCK = f"CAST(concat('0x', substr(md5(w), 1, 4)) AS INTEGER) % {DSIR_BUCKETS}"


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents
    ),
    db AS (
        SELECT doc_id, {_B_DUCK} AS b, count(*) AS tf
        FROM toks GROUP BY 1, 2
    ),
    raw AS (SELECT b, CAST(sum(tf) AS BIGINT) AS rc FROM db GROUP BY 1),
    rawtot AS (SELECT CAST(sum(rc) AS BIGINT) AS rt FROM raw),
    tgt AS (
        SELECT {_B_DUCK} AS b, count(*) AS tc
        FROM toks WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY 1
    ),
    tgttot AS (SELECT CAST(sum(tc) AS BIGINT) AS tt FROM tgt),
    lr AS (
        SELECT r.b,
               ln((coalesce(t.tc, 0) + 0.5)
                  / (g.tt + 0.5 * {DSIR_BUCKETS}))
               - ln((r.rc + 0.5) / (w.rt + 0.5 * {DSIR_BUCKETS})) AS lr
        FROM raw r LEFT JOIN tgt t ON t.b = r.b
        CROSS JOIN rawtot w CROSS JOIN tgttot g
    )
    SELECT d.doc_id,
           CAST(sum(d.tf) AS BIGINT) AS n_toks,
           round(CAST(sum(CAST(round(d.tf * l.lr * 1000000) AS BIGINT))
                      AS BIGINT) / 1000000.0, 4) AS log_weight
    FROM db d JOIN lr l ON l.b = d.b
    GROUP BY d.doc_id
    ORDER BY log_weight DESC, d.doc_id
    LIMIT {DSIR_TOPK}
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling scores: per-document log importance weight
    log p_target(doc)/p_raw(doc) under hashed-unigram bag-of-words models
    ({DSIR_BUCKETS} md5 buckets, add-0.5 smoothing), target = docs from
    source '{DSIR_TARGET_SOURCE}'. Top {DSIR_TOPK} raw docs that look most
    like the target — the Xie et al. 2023 data-selection recipe with the
    n-gram model reduced to unigrams so it stays whole-stage-codegen.

    Scale shape: one explode + (doc, bucket) partial-agg shuffle (the
    map-side combine collapses tokens before the exchange), bucket stats
    aggregate to ≤{DSIR_BUCKETS} rows and broadcast back; the per-doc sum is
    an exact integer (terms quantized to micro-units per (doc, bucket) row).
    No driver loops, no UDFs; the importance model itself is data, not code.
    """
    return (
        dsir_doc_weights(spark, sf_dir)
        .select("doc_id", "n_toks", "log_weight")
        .orderBy(F.col("log_weight").desc(), "doc_id")
        .limit(DSIR_TOPK)
    )


def dsir_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-docs DSIR weights: (doc_id, source, n_toks, log_weight). Split out
    of the registered top-k so tests can assert the KL invariant (per-token
    mean weight over target docs = KL(p̂_t‖p̂_r) ≥ 0 by construction, since
    p̂_t is fitted on exactly those token counts)."""
    from duckdb_fastlanes_spark.catalog import sql_q

    # single-parse SQL body (r7); fractional literals carry D so the log
    # ratio stays IEEE double end-to-end (bare 0.5 would parse as DECIMAL)
    return sql_q(
        spark,
        sf_dir,
        f"""
        WITH toks AS (
            SELECT doc_id, source,
                   explode(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS w
            FROM documents),
        db AS (
            SELECT doc_id, source,
                   CAST(conv(substring(md5(w), 1, 4), 16, 10) AS INT)
                     % {DSIR_BUCKETS} AS b,
                   count(1) AS tf
            FROM toks GROUP BY 1, 2, 3),
        raw AS (SELECT b, sum(tf) AS rc FROM db GROUP BY b),
        rawtot AS (SELECT sum(rc) AS rt FROM raw),
        tgt AS (
            SELECT CAST(conv(substring(md5(w), 1, 4), 16, 10) AS INT)
                     % {DSIR_BUCKETS} AS b,
                   count(1) AS tc
            FROM toks WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY 1),
        tgttot AS (SELECT sum(tc) AS tt FROM tgt),
        lr AS (
            SELECT /*+ BROADCAST(tgt), BROADCAST(rawtot), BROADCAST(tgttot) */
                   raw.b,
                   log((coalesce(tc, 0) + 0.5D)
                       / (tt + 0.5D * {DSIR_BUCKETS}))
                   - log((rc + 0.5D) / (rt + 0.5D * {DSIR_BUCKETS})) AS lr
            FROM raw LEFT JOIN tgt ON raw.b = tgt.b
            CROSS JOIN rawtot CROSS JOIN tgttot)
        SELECT /*+ BROADCAST(lr) */ doc_id, source,
               sum(tf) AS n_toks,
               round(sum(CAST(round(tf * lr * 1000000) AS BIGINT))
                     / 1000000.0D, 4) AS log_weight
        FROM db JOIN lr ON db.b = lr.b
        GROUP BY doc_id, source
        """,
    )
