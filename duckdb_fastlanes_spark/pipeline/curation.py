"""Training-corpus curation operators beyond dedup/quality: sequence packing,
benchmark-contamination detection, PII redaction, repetition profiling,
deterministic stratified sampling, temperature-based domain mixing, and int8
embedding quantization.

These are the remaining first-class steps of a large-scale LLM data pipeline
(BASELINE.json extension mandate) that round 1 had not yet covered. Scale
notes per operator:

- ``pack_sequences``: packing is *per source shard* (window partitioned by
  ``source``), so a 1000-executor run packs shards independently — no global
  sort, no single-partition window. Chunk-by-offset ("concat then split")
  semantics, the standard pretraining packer.
- ``contamination_ngram``: the eval-set shingle dictionary is tiny relative to
  the corpus → broadcast to every executor; the train side streams through a
  map-side hash probe, never shuffling the text.
- ``pii_redact``: pure projection (regex + md5), whole-stage codegen, no
  shuffle.
- ``repetition_profile``: two partial-aggregated shuffles keyed by
  (doc_id, word) then doc_id — both combine map-side.
- ``sample_stratified``: hash-based Bernoulli thinning is a stateless
  projection — deterministic across retries/executors, unlike ``rand()``.
- ``mixture_temperature``: per-domain aggregate (bounded cardinality) + two
  scalar cross-joins; everything after the first agg is broadcast-sized.
- ``embedding_quantize_int8``: per-row array math, no shuffle; the int8 form
  is what a 100 TB embedding store would actually persist (4× smaller than
  float32, plus a per-vector scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.registry import register

#: context length (in tokens) for sequence packing — small so sf0.001 still
#: produces multi-bin sources; the operator is CTX-agnostic
PACK_CTX = 512

#: modulus picking the held-out "benchmark" docs for contamination checks
EVAL_MOD = 97

#: shingle-overlap ratio above which a training doc counts as contaminated
CONTAM_THRESHOLD = 0.05

#: per-language sampling rates for deterministic stratified thinning
#: (downsample the majority language, keep the tail)
STRATA_RATES = {"en": 0.25, "es": 0.5, "de": 0.5, "fr": 0.5, "zh": 0.9}

#: temperature for domain-mixture reweighting (w ∝ p^(1/T))
MIX_TEMPERATURE = 2.0

_TOKENS = r"[a-z0-9]+"


_ORACLE_N_TOKENS = f"len(regexp_extract_all(lower(text), '{_TOKENS}'))"


@register(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT source, doc_id, {_ORACLE_N_TOKENS} AS n_tokens
        FROM documents
    ),
    offs AS (
        SELECT source, doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        FROM toks
    )
    SELECT source,
           CAST(floor(start_off / {PACK_CTX}) AS BIGINT) AS bin_id,
           count(*)      AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           min(doc_id)   AS first_doc,
           max(doc_id)   AS last_doc
    FROM offs
    GROUP BY 1, 2
    ORDER BY source, bin_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: concatenate each source shard's docs
    in doc_id order and split into PACK_CTX-token bins (a doc belongs to the
    bin its start offset falls in). Returns per-bin occupancy so downstream
    writers can emit one packed sequence per (source, bin_id)."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        f"""
        WITH offs AS (
            SELECT source, doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS start_off
            FROM (SELECT source, doc_id,
                         size(regexp_extract_all(lower(text), '{_TOKENS}', 0))
                           AS n_tokens
                  FROM documents))
        SELECT source, floor(start_off / {PACK_CTX}) AS bin_id,
               count(1) AS n_docs, sum(n_tokens) AS bin_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM offs
        GROUP BY source, floor(start_off / {PACK_CTX})
        ORDER BY source, bin_id
        """,
    )


def _contam_oracle() -> str:
    from duckdb_fastlanes_spark.pipeline import dedup as dd

    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({dd._ORACLE_SHINGLES}) AS shingle
        FROM (SELECT doc_id, {dd._ORACLE_WORDS} AS w FROM documents)
        WHERE len(w) >= 3
    ),
    eval_sh AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % {EVAL_MOD} = 0
    ),
    train AS (
        SELECT doc_id, shingle FROM sh WHERE doc_id % {EVAL_MOD} <> 0
    )
    SELECT t.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overlap,
           round(CAST(sum(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS overlap_ratio,
           CAST(sum(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) >= {CONTAM_THRESHOLD} AS contaminated
    FROM train t LEFT JOIN eval_sh e USING (shingle)
    GROUP BY 1
    """


@register("contamination_ngram", oracle=_contam_oracle())
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: hold out every EVAL_MOD-th doc as the
    "benchmark set", build its distinct 3-gram shingle dictionary (broadcast),
    and score every training doc by the fraction of its shingles that appear in
    the dictionary. Same shingle definition as the dedup family (dedup.py), so
    the two operators share candidate machinery in a real pipeline."""
    from duckdb_fastlanes_spark.pipeline.dedup import _shingle_rows

    # r11 (guide §2.4, plans/r11/contamination_ngram_*): the former SQL
    # body's `sh` CTE (distinct doc_id/shingle) fed two consumers — eval
    # dictionary and train scoring — so CTE inlining ran the tokenize +
    # shingle-explode + distinct pipeline twice. The distinct frame now
    # lazily checkpoints once (its own exchange materializes it in the
    # same job); both legs read the cached rows. Expressions unchanged.
    sh = _shingle_rows(table(spark, sf_dir, "documents")).localCheckpoint(eager=False)
    eval_sh = (
        sh.where(f"doc_id % {EVAL_MOD} = 0")
        .select("shingle")
        .distinct()
        .selectExpr("shingle", "1 AS hit")
    )
    hits = (
        sh.where(f"doc_id % {EVAL_MOD} <> 0")
        .join(F.broadcast(eval_sh), "shingle", "left")
        .select("doc_id", "hit")
    )
    return hits.groupBy("doc_id").agg(
        F.expr("count(1)").alias("n_shingles"),
        F.expr("sum(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END)").alias("n_overlap"),
        F.expr(
            "round(CAST(sum(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END)"
            " AS DOUBLE) / count(1), 4)"
        ).alias("overlap_ratio"),
        F.expr(
            "CAST(sum(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END)"
            f" AS DOUBLE) / count(1) >= {CONTAM_THRESHOLD}"
        ).alias("contaminated"),
    )


@register(
    "pii_redact",
    oracle="""
    SELECT c_custkey,
           substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12)     AS pseudonym,
           regexp_replace(c_name, '[0-9]+', '<ID>', 'g')      AS name_redacted,
           len(regexp_extract_all(c_name, '[0-9]+'))          AS n_redactions
    FROM customer
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII handling: replace identifier digit-runs with a placeholder and
    derive a stable pseudonym (truncated md5 of the key) so redacted records
    stay joinable. Pure projection — codegen'd, shuffle-free, scale-linear."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 12).alias("pseudonym"),
        F.regexp_replace("c_name", r"[0-9]+", "<ID>").alias("name_redacted"),
        F.size(F.regexp_extract_all("c_name", F.lit(r"[0-9]+"), F.lit(0))).alias(
            "n_redactions"
        ),
    )


@register(
    "repetition_profile",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '{_TOKENS}')) AS word
        FROM documents
    ),
    counts AS (
        SELECT doc_id, word, count(*) AS cnt FROM words GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           count(*)  AS n_distinct_words,
           round(CAST(count(*) AS DOUBLE) / sum(cnt), 4)  AS distinct_ratio,
           round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 4)  AS top_word_ratio,
           CAST(max(cnt) AS DOUBLE) / sum(cnt) >= 0.08    AS is_repetitive
    FROM counts
    GROUP BY 1
    """,
)
def repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/boilerplate detection: per-document vocabulary-diversity
    ratio and most-frequent-word mass. Low distinct_ratio or high
    top_word_ratio is the standard signal for generated/boilerplate text.
    Two map-side-combining aggregations; the text never shuffles."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        f"""
        SELECT doc_id, sum(cnt) AS n_words, count(1) AS n_distinct_words,
               round(CAST(count(1) AS DOUBLE) / sum(cnt), 4) AS distinct_ratio,
               round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 4) AS top_word_ratio,
               CAST(max(cnt) AS DOUBLE) / sum(cnt) >= 0.08D AS is_repetitive
        FROM (SELECT doc_id, word, count(1) AS cnt
              FROM (SELECT doc_id,
                           explode(regexp_extract_all(lower(text),
                                                      '{_TOKENS}', 0)) AS word
                    FROM documents)
              GROUP BY doc_id, word)
        GROUP BY doc_id
        """,
    )


def _strata_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {rate}" for lang, rate in STRATA_RATES.items()
    )
    return f"CASE lang {whens} ELSE 1.0 END"


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang,
           round(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 / 4294967295.0, 6) AS u,
           CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 / 4294967295.0 < {_strata_case_sql()} AS sampled
    FROM documents
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for domain mixing: md5(doc_id) → a
    uniform u ∈ [0,1), kept iff u < the stratum's rate. Hash-based (not
    rand()) so the sample is reproducible across retries, executors, and
    engines — a requirement for resumable 100 TB pipeline runs."""
    from duckdb_fastlanes_spark.catalog import sql_q

    u_sql = ("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
             " AS BIGINT) / 4294967295.0D")
    return sql_q(
        spark,
        sf_dir,
        f"""
        SELECT doc_id, lang,
               round({u_sql}, 6) AS u,
               {u_sql} < {_strata_case_sql()} AS sampled
        FROM documents
        """,
    )


@register(
    "mixture_temperature",
    oracle=f"""
    WITH per_src AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum({_ORACLE_N_TOKENS}) AS BIGINT) AS src_tokens
        FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(src_tokens) AS total_tokens FROM per_src),
    p AS (
        SELECT source, n_docs, src_tokens,
               CAST(src_tokens AS DOUBLE) / (SELECT total_tokens FROM tot) AS p
        FROM per_src
    ),
    z AS (SELECT sum(pow(p, 1.0 / {MIX_TEMPERATURE})) AS z FROM p)
    SELECT source, n_docs, src_tokens,
           round(p, 6) AS p,
           round(pow(p, 1.0 / {MIX_TEMPERATURE}) / (SELECT z FROM z), 6) AS weight,
           round(pow(p, 1.0 / {MIX_TEMPERATURE}) / (SELECT z FROM z) / p, 4) AS sample_factor
    FROM p
    ORDER BY source
    """,
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (the multilingual-sampling trick):
    per-source token share p_i → sampling weight ∝ p_i^(1/T), T=MIX_TEMPERATURE.
    T>1 upsamples tail domains, downsamples the head. sample_factor is the
    per-domain repeat/thin rate a sampler would apply. After the first
    aggregate everything is broadcast-sized scalar math."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        f"""
        WITH per_src AS (
            SELECT source, count(1) AS n_docs,
                   sum(size(regexp_extract_all(lower(text), '{_TOKENS}', 0)))
                     AS src_tokens
            FROM documents GROUP BY source),
        p_df AS (
            SELECT /*+ BROADCAST(tot) */ per_src.*,
                   CAST(src_tokens AS DOUBLE) / total_tokens AS p
            FROM per_src CROSS JOIN
                 (SELECT sum(src_tokens) AS total_tokens FROM per_src) tot),
        z AS (SELECT sum(pow(p, {1.0 / MIX_TEMPERATURE}D)) AS z FROM p_df)
        SELECT /*+ BROADCAST(z) */ source, n_docs, src_tokens,
               round(p, 6) AS p,
               round(pow(p, {1.0 / MIX_TEMPERATURE}D) / z, 6) AS weight,
               round(pow(p, {1.0 / MIX_TEMPERATURE}D) / z / p, 4)
                 AS sample_factor
        FROM p_df CROSS JOIN z
        ORDER BY source
        """,
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    sc AS (
        SELECT vec_id, vec,
               list_max(list_transform(vec, x -> abs(x))) / 127.0 AS scale
        FROM v
    )
    SELECT vec_id,
           len(vec) AS n_dims,
           round(scale, 6) AS scale,
           CAST(list_max(list_transform(vec, x -> abs(floor(x / scale + 0.5)))) AS BIGINT)
               AS q_max,
           round(list_max(list_transform(vec,
                 x -> abs(floor(x / scale + 0.5) * scale - x))), 6)
               AS max_abs_err
    FROM sc
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization: symmetric per-vector scaling
    (scale = max|x|/127, q = round(x/scale)) with reconstruction-error audit.
    The persisted form for a 100 TB embedding store — 4× smaller, and the
    max_abs_err column is the quality gate a pipeline would alert on.
    Row-local array math: no shuffle, codegen'd, scale-linear."""
    from duckdb_fastlanes_spark.catalog import sql_q

    # floor(x/scale + 0.5), not round(): both engines' round() differ in
    # the half-rule on doubles, while floor/+/÷ are exact IEEE. scale_raw
    # is computed in the inner SELECT so the outer "scale" alias (the
    # rounded value) can never be lateral-alias-rebound into the lambdas.
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT vec_id, size(vec) AS n_dims,
               round(scale_raw, 6) AS scale,
               CAST(array_max(transform(vec,
                        x -> abs(floor(x / scale_raw + 0.5D)))) AS BIGINT)
                 AS q_max,
               round(array_max(transform(vec,
                        x -> abs(floor(x / scale_raw + 0.5D) * scale_raw - x))),
                     6) AS max_abs_err
        FROM (SELECT vec_id,
                     CAST(embedding AS array<double>) AS vec,
                     array_max(transform(CAST(embedding AS array<double>),
                                         x -> abs(x))) / 127.0D AS scale_raw
              FROM embeddings)
        """,
    )


_SPLIT_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100"
)


@register(
    "dq_split_divergence",
    oracle=f"""
    WITH toks AS (
        SELECT CASE WHEN {_SPLIT_BUCKET_SQL} < 50 THEN 'a' ELSE 'b' END AS split,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ),
    per_term AS (
        SELECT term,
               sum(CASE WHEN split = 'a' THEN 1 ELSE 0 END) AS cnt_a,
               sum(CASE WHEN split = 'b' THEN 1 ELSE 0 END) AS cnt_b
        FROM toks GROUP BY term
    ),
    tot AS (
        SELECT CAST(sum(cnt_a) AS BIGINT) AS tot_a,
               CAST(sum(cnt_b) AS BIGINT) AS tot_b,
               count(*) AS v
        FROM per_term
    ),
    probs AS (
        SELECT (cnt_a + 1.0) / (tot_a + v) AS p,
               (cnt_b + 1.0) / (tot_b + v) AS q
        FROM per_term, tot
    )
    SELECT round(sum(p * ln(p / q)), 6) AS kl_ab,
           round(0.5 * sum(abs(p - q)), 6) AS tvd,
           (SELECT v FROM tot) AS vocab_size,
           (SELECT tot_a FROM tot) AS n_tokens_a,
           (SELECT tot_b FROM tot) AS n_tokens_b
    FROM probs
    """,
)
def dq_split_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two hash-splits of the corpus: unigram
    KL(A‖B) with add-one smoothing over the joint vocabulary, plus total
    variation distance. The gate a training pipeline runs before trusting a
    train/eval split — a drifted split (KL or TVD spiking) means the eval set
    no longer represents the training distribution.

    Scale shape: one token-explode feeding ONE (term)-keyed aggregate with
    both splits as conditional sums (no per-split scans, no outer join over
    the vocab); totals are a second aggregate over the already-tiny term
    table, broadcast back as scalars. Everything after the first shuffle is
    vocab-sized. Floating sums are over ~vocab doubles → rounded to 6 dp on
    both engines (order-invariant at double precision for sums this size).
    """
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH toks AS (
            SELECT CASE WHEN CAST(conv(substring(md5(CAST(doc_id AS STRING)),
                                       1, 4), 16, 10) AS INT) % 100 < 50
                        THEN 'a' ELSE 'b' END AS split,
                   explode(regexp_extract_all(lower(text), '[a-z0-9]+', 0))
                     AS term
            FROM documents),
        per_term AS (
            SELECT term,
                   sum(CASE WHEN split = 'a' THEN 1 ELSE 0 END) AS cnt_a,
                   sum(CASE WHEN split = 'b' THEN 1 ELSE 0 END) AS cnt_b
            FROM toks GROUP BY term),
        tot AS (SELECT sum(cnt_a) AS tot_a, sum(cnt_b) AS tot_b,
                       count(1) AS v
                FROM per_term),
        probs AS (
            SELECT /*+ BROADCAST(tot) */
                   (cnt_a + 1.0D) / (tot_a + v) AS p,
                   (cnt_b + 1.0D) / (tot_b + v) AS q
            FROM per_term CROSS JOIN tot),
        div AS (
            SELECT round(sum(p * log(p / q)), 6) AS kl_ab,
                   round(0.5D * sum(abs(p - q)), 6) AS tvd
            FROM probs)
        SELECT /*+ BROADCAST(tot) */ kl_ab, tvd,
               v AS vocab_size, tot_a AS n_tokens_a, tot_b AS n_tokens_b
        FROM div CROSS JOIN tot
        """,
    )


@register(
    "curriculum_buckets",
    oracle="""
    WITH scored AS (
        SELECT doc_id, n_chars,
               ntile(4) OVER (ORDER BY n_chars, doc_id) AS bucket
        FROM documents
    )
    SELECT bucket, count(*) AS n_docs,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM scored GROUP BY bucket ORDER BY bucket
    """,
)
def curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum assignment: quartile buckets over a difficulty proxy
    (document length), ntile over the (n_chars, doc_id) total order — the
    stage gates a curriculum-training data loader reads in sequence. The
    global ntile needs one ordered pass; at 100 TB swap in percentile-bound
    bucketing (approx quantiles → broadcast range table), which this query's
    output contract (bucket, count, min, max) already matches."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "n_chars",
        F.ntile(4).over(Window.orderBy("n_chars", "doc_id")).alias("bucket"),
    )
    return (
        scored.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bucket")
    )
