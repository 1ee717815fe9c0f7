"""Dataset-engineering queries for a training-data pipeline.

The operations a 100 TB pretraining-corpus build needs beyond dedup /
similarity (queries/llm.py): deterministic train/val/test splitting,
stratified per-group sampling, and the composed filter→dedup→split prep
pipeline. All are *hash-deterministic* (cross-engine md5, see
operators/texthash.py) rather than RNG-sampled, so every one is
oracle-checkable and — more importantly at scale — reproducible and
re-runnable: a re-ingested document lands in the same split on every run,
with no sampling-state to persist.

Scale notes: the split is a stateless per-row projection (no shuffle);
stratified sampling is one window shuffle on the stratum key; the prep
pipeline is two shuffles (dedup key, then final rollup) regardless of
corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.operators.texthash import hash60, hash60_sql
from binance_etl_clickhouse_spark.queries.registry import register
from binance_etl_clickhouse_spark.tables import load_table as _t


def _split_col(key):
    """Deterministic 80/10/10 split from a 60-bit key hash."""
    b = hash60(key.cast("string")) % 100
    return (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    )


def _split_sql(expr: str) -> str:
    return (
        f"CASE WHEN {hash60_sql(f'CAST({expr} AS VARCHAR)')} % 100 < 80 THEN 'train' "
        f"WHEN {hash60_sql(f'CAST({expr} AS VARCHAR)')} % 100 < 90 THEN 'val' "
        "ELSE 'test' END"
    )


# ---------------------------------------------------------------------------
# Hash-based train/val/test split: stateless, shuffle-free, stable under
# re-ingestion (same doc_id -> same split forever).
# ---------------------------------------------------------------------------
@register(
    "dataset_split_hash",
    f"""
    SELECT {_split_sql('doc_id')} AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY split
    """,
    survey_ref="training-data: deterministic hash split (projection, no shuffle)",
)
def dataset_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", _split_col(F.col("doc_id")))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Stratified sampling: deterministic top-N per stratum ordered by content
# hash (uniform within stratum, no RNG). One window shuffle on the stratum.
# ---------------------------------------------------------------------------
@register(
    "stratified_sample_per_lang",
    f"""
    SELECT doc_id, lang, rn
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang ORDER BY {hash60_sql('text')}, doc_id
             ) AS rn
      FROM documents
    ) t WHERE rn <= 20
    """,
    survey_ref="training-data: stratified per-group sample (deterministic)",
)
def stratified_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(hash60("text"), "doc_id")
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
    )


# ---------------------------------------------------------------------------
# Token-budget packing: fill each language's training-mixture budget with
# documents in deterministic (content-hash) order — the "sample X tokens
# from source Y" mixture op. A doc is kept iff its running token total
# still fits the budget. One window shuffle on the stratum key; the
# running sum is a streaming frame within sorted partitions.
# ---------------------------------------------------------------------------
TOKEN_BUDGET = 2000


@register(
    "token_budget_pack",
    f"""
    SELECT doc_id, lang, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
               PARTITION BY lang ORDER BY {hash60_sql('text')}, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM documents
    ) t WHERE cum_tokens <= {TOKEN_BUDGET}
    """,
    survey_ref="training-data: per-source token-budget mixture packing",
)
def token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy(hash60("text"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            n_tok.alias("n_tokens"),
            F.sum(n_tok).over(w).cast("long").alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
    )


# ---------------------------------------------------------------------------
# Leakage-safe split: hash the near-dup CLUSTER id, not the doc id, so
# near-duplicates always land in the same split — the standard guard
# against train/test contamination through paraphrases/re-posts. Costs the
# clustering (bounded label-propagation rounds) + one equi-join of the
# label table back to the corpus.
# ---------------------------------------------------------------------------


def _leakage_safe_oracle() -> str:
    # same recursive transitive-closure clusters as the neardup_clusters
    # oracle, then the shared hash-split expression over the cluster id
    from binance_etl_clickhouse_spark.queries.llm import _SH_CTE

    return f"""
    WITH RECURSIVE {_SH_CTE.strip()},
    pairs AS (SELECT d1, d2 FROM jac WHERE j >= 0.5),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION
      SELECT d2 AS a, d1 AS b FROM pairs
    ),
    reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM documents
      UNION
      SELECT e.a AS node, r.lbl FROM reach r JOIN edges e ON e.b = r.node
    ),
    canon AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT doc_id, cluster_id, {_split_sql('cluster_id')} AS split
    FROM canon
    """


@register(
    "leakage_safe_split",
    _leakage_safe_oracle(),
    survey_ref="training-data: contamination-safe split (near-dups co-travel)",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.operators import neardup

    docs = _t(spark, sf_dir, "documents")
    pairs = neardup.ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    clusters = neardup.neardup_clusters(docs, pairs)
    return clusters.select(
        "doc_id", "cluster_id", _split_col(F.col("cluster_id")).alias("split")
    )


# ---------------------------------------------------------------------------
# Composed prep pipeline: quality gate -> exact dedup (keep lowest doc_id
# per canonical text) -> hash split -> per-(split, lang) corpus stats.
# The end-to-end shape of a pretraining-corpus build, in one plan.
# ---------------------------------------------------------------------------
@register(
    "training_data_prep_pipeline",
    f"""
    WITH gated AS (
      SELECT doc_id, lang, text, n_chars FROM documents
      WHERE n_chars BETWEEN 40 AND 4000
        AND len(string_split(text, ' ')) >= 8
    ),
    deduped AS (
      SELECT doc_id, lang, n_chars FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    )
    SELECT {_split_sql('doc_id')} AS split, lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM deduped
    GROUP BY split, lang
    """,
    survey_ref="training-data: filter -> exact-dedup -> split -> stats, one plan",
)
def training_data_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    gated = docs.filter(
        F.col("n_chars").between(40, 4000)
        & (F.size(F.split(F.col("text"), " ")) >= 8)
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )
    return (
        deduped.withColumn("split", _split_col(F.col("doc_id")))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding-window chunking: each document becomes overlapping fixed-width
# token windows (the standard context-window prep for LLM training samples).
# Pure JVM-side projection — sequence of window starts, slice per start,
# posexplode — no UDF and no shuffle: output scales with tokens, not docs²,
# and each task chunks only its own partition's documents.
# ---------------------------------------------------------------------------
_CHUNK_WIDTH = 64
_CHUNK_STRIDE = 48


@register(
    "chunk_sliding_windows",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    )
    SELECT doc_id,
           (gs - 1) // {_CHUNK_STRIDE} AS span_id,
           array_to_string(w[gs:gs + {_CHUNK_WIDTH - 1}], ' ') AS span_text,
           len(w[gs:gs + {_CHUNK_WIDTH - 1}]) AS n_span_tokens
    FROM t, unnest(range(1, len(w) + 1, {_CHUNK_STRIDE})) AS g(gs)
    """,
    survey_ref="dataset engineering: sliding context-window chunking",
)
def chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.operators.texthash import tokens

    docs = _t(spark, sf_dir, "documents")
    w = tokens("text")
    starts = F.sequence(F.lit(1), F.size(w), F.lit(_CHUNK_STRIDE))
    spans = F.transform(starts, lambda s: F.concat_ws(" ", F.slice(w, s, _CHUNK_WIDTH)))
    return docs.select(
        "doc_id", F.posexplode(spans).alias("span_id", "span_text")
    ).select(
        "doc_id",
        F.col("span_id").cast("long").alias("span_id"),
        "span_text",
        F.size(F.split("span_text", " ")).cast("long").alias("n_span_tokens"),
    )


# ---------------------------------------------------------------------------
# Length-bucketed inference batching: group docs of similar token length and
# number them into fixed-size batches — the dynamic-batching prep that keeps
# padding waste bounded by the bucket width. Order within a bucket is the
# content hash (deterministic, engine-independent, resumable); batch ids are
# a row_number projection, no data movement beyond one shuffle on bucket.
# ---------------------------------------------------------------------------
_LB_BUCKET_W = 32
_LB_BATCH = 16


@register(
    "length_bucket_batches",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {hash60_sql("'lb:' || CAST(doc_id AS VARCHAR)")} AS ord
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(n_tokens // {_LB_BUCKET_W} AS INTEGER) AS bucket,
           CAST((row_number() OVER (PARTITION BY n_tokens // {_LB_BUCKET_W}
                                    ORDER BY ord, doc_id) - 1)
                // {_LB_BATCH} AS BIGINT) AS batch_id
    FROM d
    """,
    survey_ref="dataset engineering: length-bucketed batch assignment",
)
def length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.operators.texthash import tokens

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        hash60(F.concat(F.lit("lb:"), F.col("doc_id").cast("string"))).alias("ord"),
    )
    bucket = (F.col("n_tokens") / _LB_BUCKET_W).cast("long")
    w = Window.partitionBy(bucket).orderBy("ord", "doc_id")
    return d.select(
        "doc_id",
        "n_tokens",
        bucket.cast("int").alias("bucket"),
        ((F.row_number().over(w) - 1) / _LB_BATCH).cast("long").alias("batch_id"),
    )


# ---------------------------------------------------------------------------
# Deterministic global shuffle + sharding: the training-order primitive.
# Pretraining readers want the corpus in a reproducible pseudo-random order,
# sharded so N loader workers stream disjoint files. RNG-free: the order IS
# the 60-bit hash of (doc_id, seed), so every engine/run/cluster size
# produces the identical permutation, and changing the seed string re-deals
# a fresh epoch order with no state. One shuffle on the shard key; each
# shard's position window sorts only its own partition (no global window).
# ---------------------------------------------------------------------------
_N_SHARDS = 16
_SHUFFLE_SEED = "epoch0"


@register(
    "training_shuffle_shards",
    f"""
    SELECT doc_id, shard, pos
    FROM (
      SELECT doc_id,
             CAST({hash60_sql(f"CAST(doc_id AS VARCHAR) || ':{_SHUFFLE_SEED}'")} % {_N_SHARDS} AS INT) AS shard,
             row_number() OVER (
               PARTITION BY CAST({hash60_sql(f"CAST(doc_id AS VARCHAR) || ':{_SHUFFLE_SEED}'")} % {_N_SHARDS} AS INT)
               ORDER BY {hash60_sql(f"CAST(doc_id AS VARCHAR) || ':{_SHUFFLE_SEED}'")}, doc_id
             ) AS pos
      FROM documents
    ) t
    """,
    survey_ref="training-data: deterministic global shuffle + shard assignment",
)
def training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = hash60(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":{_SHUFFLE_SEED}"))
    )
    d = docs.select(
        "doc_id", h.alias("__h"), (h % _N_SHARDS).cast("int").alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("__h", "doc_id")
    return d.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-Res): k docs
# per source, selection probability proportional to n_chars, with the
# uniforms derived from md5 of the doc id — so the sampled SET is exactly
# reproducible (oracle-checkable, resumable, cluster-size-independent).
# One window shuffle on the source key; row_number plans as WindowGroupLimit.
# ---------------------------------------------------------------------------
_WS_K = 20


@register(
    "weighted_sample_per_source",
    f"""
    SELECT doc_id, source, n_chars, sample_key, rn
    FROM (
      SELECT doc_id, source, n_chars, sample_key,
             row_number() OVER (
               PARTITION BY source ORDER BY sample_key DESC, doc_id
             ) AS rn
      FROM (
        SELECT doc_id, source, n_chars,
               round(pow(
                 {hash60_sql("'wsam:' || CAST(doc_id AS VARCHAR)")} / {float(1 << 60)},
                 1.0 / CAST(n_chars AS DOUBLE)
               ), 9) AS sample_key
        FROM documents WHERE n_chars > 0
      )
    ) t WHERE rn <= {_WS_K}
    """,
    survey_ref=(
        "training-data: weighted sampling without replacement per source "
        "(Efraimidis-Spirakis A-Res, hash-deterministic)"
    ),
)
def weighted_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.operators.corpus import weighted_sample_wor

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample_wor(
        docs, k=_WS_K, weight_col="n_chars", group_col="source"
    )


# ---------------------------------------------------------------------------
# Prep pipeline v2 — the round-3 operators composed end-to-end, ONE plan:
#   gate (length bounds) -> EXACT substring dedup (alignment-free; a full
#   duplicate doc ends up >50% removed and is dropped, subsuming v1's md5
#   exact-dedup stage) -> corpus-unigram LM scoring -> per-language
#   adaptive quality gate (drop the bottom LM tercile, CCNet-style) ->
#   deterministic split + per-(split, lang) stats over the tokens that
#   actually survived dedup.
# The oracle composes the same stages from the shared CTE generators, so
# the driver hash pins the full five-stage pipeline, not just each stage.
# ---------------------------------------------------------------------------
def _prep_v2_oracle() -> str:
    from binance_etl_clickhouse_spark.queries.corpus import _substring_dedup_ctes

    return f"""
    WITH gated AS (
      SELECT doc_id, lang, text FROM documents
      WHERE n_chars BETWEEN 40 AND 4000
        AND len(string_split(text, ' ')) >= 8
    ),
    {_substring_dedup_ctes('gated')},
    survivors AS (
      SELECT s.doc_id, g.lang, s.n_tokens, s.n_removed
      FROM sub s JOIN gated g USING (doc_id)
      WHERE s.n_removed * 2 <= s.n_tokens
    ),
    tf AS (
      SELECT doc_id, t AS term, count(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM gated)
      GROUP BY doc_id, t
    ),
    cnt AS (SELECT term, sum(tf)::BIGINT AS cnt FROM tf GROUP BY term),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM cnt),
    lm AS (
      SELECT tf.doc_id,
             round(sum(tf.tf * ln(cnt.cnt / tot.total)) / sum(tf.tf), 6) AS avg_logp
      FROM tf JOIN cnt USING (term) CROSS JOIN tot
      GROUP BY tf.doc_id
    ),
    surv_lm AS (SELECT s.*, lm.avg_logp FROM survivors s JOIN lm USING (doc_id)),
    th AS (
      SELECT lang, round(quantile_cont(avg_logp, 1.0/3), 6) AS t_lo
      FROM surv_lm GROUP BY lang
    )
    SELECT {_split_sql('doc_id')} AS split, lang,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens - n_removed)::BIGINT AS kept_tokens
    FROM surv_lm JOIN th USING (lang)
    WHERE avg_logp >= th.t_lo
    GROUP BY split, lang
    """


@register(
    "training_data_prep_pipeline_v2",
    _prep_v2_oracle(),
    survey_ref=(
        "training-data: gate -> substring dedup -> LM score -> adaptive "
        "quality gate -> split, one composed plan"
    ),
)
def training_data_prep_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.operators import corpus as corpus_ops
    from binance_etl_clickhouse_spark.operators.texthash import tokens

    docs = _t(spark, sf_dir, "documents")
    gated = docs.filter(
        F.col("n_chars").between(40, 4000)
        & (F.size(F.split(F.col("text"), " ")) >= 8)
    ).select("doc_id", "lang", "text")
    sub = corpus_ops.substring_dedup(gated, min_len=12)
    survivors = (
        sub.filter(F.col("n_removed") * 2 <= F.col("n_tokens"))
        .join(gated.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_tokens", "n_removed")
    )
    total = gated.select(
        F.sum(F.size(tokens("text"))).cast("long").alias("t")
    ).first()["t"]
    lm = corpus_ops.unigram_logprob(gated, total_tokens=int(total)).select(
        "doc_id", "avg_logp"
    )
    surv_lm = survivors.join(lm, "doc_id")
    th = surv_lm.groupBy("lang").agg(
        F.round(F.percentile("avg_logp", F.lit(1.0 / 3)), 6).alias("t_lo")
    )
    return (
        surv_lm.join(F.broadcast(th), "lang")
        .filter(F.col("avg_logp") >= F.col("t_lo"))
        .withColumn("split", _split_col(F.col("doc_id")))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("n_tokens") - F.col("n_removed"))
            .cast("long")
            .alias("kept_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Prep pipeline v3 — the round-6 storm guards composed into the flagship:
# exact dedup collapses byte-identical storms UPSTREAM of minhash (their
# band-bucket evictions are perfectly correlated, so the cap alone cannot
# protect them) -> CAPPED minhash-LSH near-dup pairs (band_cap bounds
# verify work at buckets x cap^2; evictions observable through the
# Observation pass-through and minhash_band_overflow, pytest-pinned on a
# storm fixture) -> near-dup clustering, keep each cluster's
# canonical (minimum id) -> substring dedup -> Gopher rule quality gate ->
# leakage-safe split keyed on the near-dup CLUSTER id (for survivors the
# cluster id is their own id, but the key documents the invariant: had any
# near-dup co-traveled instead of being dropped, it would land in the same
# split). This is the composition a real 100 TB prep run executes; every
# stage is individually driver-proven, the composition is hash-pinned here.
# ---------------------------------------------------------------------------
_V3_BAND_CAP = 4


def _prep_v3_oracle() -> str:
    from binance_etl_clickhouse_spark.operators.corpus import (
        GOPHER_BOUNDS,
        GOPHER_STOPWORDS,
    )
    from binance_etl_clickhouse_spark.operators.neardup import LSH_BANDS
    from binance_etl_clickhouse_spark.operators.texthash import (
        hash31_sql,
        minhash_perm_sql,
        shingles_sql,
    )
    from binance_etl_clickhouse_spark.queries.corpus import _substring_dedup_ctes

    mh_exprs = ",\n      ".join(
        f"min({minhash_perm_sql(j, 'hv')}) AS mh{j}" for j in range(2 * LSH_BANDS)
    )
    band_list = ", ".join(
        f"md5(concat_ws(',', {t}, mh{2 * t}, mh{2 * t + 1}))" for t in range(LSH_BANDS)
    )
    stop_sql = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    min_w, max_w, min_ml, max_ml, max_share, min_uniq, min_stop = GOPHER_BOUNDS
    return f"""
    WITH RECURSIVE
    fp AS (
      SELECT md5(lower(trim(text))) AS fingerprint, min(doc_id) AS canonical_id
      FROM documents GROUP BY 1
    ),
    exact AS (
      SELECT d.doc_id, d.lang, d.text FROM documents d
      JOIN fp ON d.doc_id = fp.canonical_id
    ),
    sh AS (SELECT doc_id, unnest({shingles_sql("text", 3)}) AS s FROM exact),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT d1, d2, c * 1.0 / (s1.n + s2.n - c) AS j
      FROM common JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
    ),
    h AS (SELECT doc_id, {hash31_sql("s")} AS hv FROM sh),
    mh AS (SELECT doc_id,
      {mh_exprs}
      FROM h GROUP BY doc_id),
    bands AS (SELECT doc_id, unnest([{band_list}]) AS bv FROM mh),
    capped AS (
      SELECT doc_id, bv FROM (
        SELECT doc_id, bv,
               row_number() OVER (PARTITION BY bv ORDER BY doc_id) AS rnk
        FROM bands
      ) WHERE rnk <= {_V3_BAND_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM capped a JOIN capped b ON a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    pairs AS (SELECT d1, d2 FROM cand JOIN jac USING (d1, d2) WHERE j >= 0.5),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2 AS a, d1 AS b FROM pairs
    ),
    reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM exact
      UNION
      SELECT e.a AS node, r.lbl FROM reach r JOIN edges e ON e.b = r.node
    ),
    clus AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node),
    ndv AS (
      SELECT e.doc_id, e.lang, e.text, c.cluster_id
      FROM exact e JOIN clus c USING (doc_id) WHERE c.doc_id = c.cluster_id
    ),
    {_substring_dedup_ctes('ndv')},
    surv AS (
      SELECT doc_id, n_tokens, n_removed FROM sub
      WHERE n_removed * 2 <= n_tokens
    ),
    tfq AS (
      SELECT doc_id, t AS term, count(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM ndv)
      GROUP BY doc_id, t
    ),
    perq AS (
      SELECT doc_id,
             sum(tf)::BIGINT AS n_words,
             count(*)::BIGINT AS n_unique,
             max(tf)::BIGINT AS max_tf,
             sum(length(term) * tf)::BIGINT AS sum_len,
             sum(CASE WHEN term IN ({stop_sql}) THEN tf ELSE 0 END)::BIGINT
               AS stop_hits
      FROM tfq GROUP BY doc_id
    ),
    gq AS (
      SELECT doc_id FROM (
        SELECT doc_id, n_words,
               round(sum_len / CAST(n_words AS DOUBLE), 6) AS mean_word_len,
               round(n_unique / CAST(n_words AS DOUBLE), 6) AS unique_frac,
               round(max_tf / CAST(n_words AS DOUBLE), 6) AS top_word_share,
               stop_hits
        FROM perq
      ) WHERE (n_words BETWEEN {min_w} AND {max_w})
          AND (mean_word_len BETWEEN {min_ml!r} AND {max_ml!r})
          AND (top_word_share <= {max_share!r})
          AND (unique_frac >= {min_uniq!r})
          AND (stop_hits >= {min_stop})
    )
    SELECT {_split_sql('n.cluster_id')} AS split, n.lang,
           count(*)::BIGINT AS n_docs,
           sum(s.n_tokens - s.n_removed)::BIGINT AS kept_tokens
    FROM ndv n JOIN surv s USING (doc_id) JOIN gq USING (doc_id)
    GROUP BY split, n.lang
    """


@register(
    "training_data_prep_pipeline_v3",
    _prep_v3_oracle(),
    survey_ref=(
        "training-data: exact dedup -> capped minhash near-dup clustering "
        "(storm-guarded, eviction Observation pass-through) -> substring dedup -> "
        "Gopher quality gate -> leakage-safe split, one composed pipeline"
    ),
)
def training_data_prep_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storm-guarded production prep run, end to end (r6 verdict #4).

    Stage order matters at 100 TB: exact dedup is a LINEAR hash-groupBy
    that collapses byte-identical storms before they reach minhash (where
    their evictions would correlate across all bands); the capped minhash
    then bounds verify work against the near-identical tail, with
    evictions observable via :func:`prep_pipeline_v3_frame`'s ``overflow``
    Observation pass-through; substring dedup
    and the Gopher gate are per-doc passes over the already-shrunk
    survivor set; the split keys on the near-dup cluster id so the
    leakage guarantee is structural, not incidental.
    """
    return prep_pipeline_v3_frame(_t(spark, sf_dir, "documents"))


def prep_pipeline_v3_frame(docs: DataFrame, overflow=None) -> DataFrame:
    """The v3 composition over any (doc_id, lang, text) frame — shared by
    the registered query and the bench's 10x-storm measurement
    (bench.py corpus_scale), so the flagship's scale curve is the exact
    registered semantics.

    Pass a ``pyspark.sql.Observation`` as ``overflow`` to read the capped
    minhash's eviction counts (overflow_rows / overflow_buckets /
    max_bucket) after the result is materialized; the per-bucket report is
    :func:`operators.neardup.minhash_band_overflow`. Intermediate frames
    are lineage-truncated (:func:`checkpoints.truncate`: lazy
    localCheckpoint, or eager reliable checkpoint when a checkpoint dir is
    set), NOT persist()ed, so a long-lived session calling this repeatedly
    does not accrete CacheManager entries. Block
    reclamation differs by mode: localCheckpoint blocks are executor
    memory/disk freed when the frames are garbage-collected; RELIABLE
    checkpoint files are only removed by the ContextCleaner under
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set by
    :func:`session.get_spark`; a session built elsewhere with a checkpoint
    dir but without that conf accretes one directory per truncation until
    the application exits).
    """
    from binance_etl_clickhouse_spark.checkpoints import resolve_reliable, truncate
    from binance_etl_clickhouse_spark.operators import corpus as corpus_ops
    from binance_etl_clickhouse_spark.operators import neardup

    rel = resolve_reliable(docs, None)
    canon_ids = neardup.exact_dup_canonical(docs).select(
        F.col("canonical_id").alias("doc_id")
    )
    # exact-canonical survivors feed three stages (minhash, substring,
    # gopher) — materialize them once
    exact = truncate(
        docs.join(canon_ids, "doc_id", "semi").select("doc_id", "lang", "text"),
        rel,
    )
    pairs = neardup.minhash_lsh_pairs(
        exact, k=3, threshold=0.5, band_cap=_V3_BAND_CAP, overflow=overflow
    )
    clusters = neardup.neardup_clusters(exact, pairs)
    ndv = truncate(
        exact.join(
            clusters.filter(F.col("doc_id") == F.col("cluster_id")).select(
                "doc_id", "cluster_id"
            ),
            "doc_id",
        ),
        rel,
    )
    sub = corpus_ops.substring_dedup(ndv, min_len=12)
    surv = sub.filter(F.col("n_removed") * 2 <= F.col("n_tokens"))
    gq = corpus_ops.gopher_quality_filters(ndv).filter("keep").select("doc_id")
    return (
        ndv.select("doc_id", "lang", "cluster_id")
        .join(surv.select("doc_id", "n_tokens", "n_removed"), "doc_id")
        .join(gq, "doc_id")
        .withColumn("split", _split_col(F.col("cluster_id")))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("n_tokens") - F.col("n_removed"))
            .cast("long")
            .alias("kept_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Canonical text normalization + normalized exact dedup. Normalization
# (lowercase, strip non-alphanumerics, collapse runs of spaces, trim) is
# the pass every ingest pipeline runs before exact dedup so trivial
# formatting variants collapse to one canonical form. The dedup key is the
# 60-bit hash of the normalized text — the form that shuffles 8 bytes per
# row at 100 TB instead of the document body. One window over the hash
# gives group sizes + first-occurrence canonicals in a single shuffle.
# NOTE DuckDB's regexp_replace is first-match-only by default — the oracle
# needs the 'g' flag to match Spark's replace-all semantics.
# ---------------------------------------------------------------------------
@register(
    "normalize_dedup_docs",
    f"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS norm
      FROM documents
    ),
    h AS (
      SELECT doc_id, len(norm)::BIGINT AS norm_len, {hash60_sql('norm')} AS hkey
      FROM n
    )
    SELECT doc_id, norm_len,
           count(*) OVER (PARTITION BY hkey)::BIGINT AS group_size,
           (row_number() OVER (PARTITION BY hkey ORDER BY doc_id) = 1) AS is_canonical
    FROM h
    """,
    survey_ref="dedup: canonical normalization + hash-keyed exact dedup",
)
def normalize_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    h = docs.select(
        "doc_id",
        F.length(norm).cast("long").alias("norm_len"),
        hash60(norm).alias("hkey"),
    )
    w = Window.partitionBy("hkey")
    wo = Window.partitionBy("hkey").orderBy("doc_id")
    return h.select(
        "doc_id",
        "norm_len",
        F.count("*").over(w).cast("long").alias("group_size"),
        (F.row_number().over(wo) == 1).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Curriculum ordering: bucket documents into difficulty stages (terciles of
# a difficulty proxy) and interleave the stages round-robin so every
# training shard sees the full difficulty mix — the anti-sorting step after
# curriculum bucketing. Two windows, both over scalar keys; the global
# position is a single total order (at shard scale you'd band it by shard
# id first, same arithmetic).
# ---------------------------------------------------------------------------
@register(
    "curriculum_interleave",
    """
    WITH s AS (
      SELECT doc_id, lang,
             ntile(3) OVER (ORDER BY n_chars, doc_id) AS stage
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang, stage,
             row_number() OVER (PARTITION BY stage ORDER BY doc_id) AS within_rank
      FROM s
    )
    SELECT doc_id, lang, stage::BIGINT AS stage, within_rank::BIGINT AS within_rank,
           row_number() OVER (ORDER BY within_rank, stage, doc_id)::BIGINT AS global_pos
    FROM r
    """,
    survey_ref="training-data: curriculum staging + round-robin interleave",
)
def curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id",
        "lang",
        F.ntile(3).over(Window.orderBy("n_chars", "doc_id")).cast("long").alias("stage"),
    )
    r = s.withColumn(
        "within_rank",
        F.row_number().over(Window.partitionBy("stage").orderBy("doc_id")).cast("long"),
    )
    return r.withColumn(
        "global_pos",
        F.row_number()
        .over(Window.orderBy("within_rank", "stage", "doc_id"))
        .cast("long"),
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling for contrastive training pairs: each
# anchor document draws K pseudo-random negatives by hashing (anchor, j)
# onto the corpus rank space and equi-joining the rank table — the
# reproducible replacement for rand()-based sampling (same pairs on every
# run and both engines). Accidental self-draws are dropped, not redrawn
# (documented sampling-without-replacement-of-self semantics). Scale: the
# rank join is a plain equi-join on a computed key; no broadcast of the
# corpus, no rand() skew.
# ---------------------------------------------------------------------------
_NEG_K = 4


@register(
    "contrastive_negative_sample",
    f"""
    WITH r0 AS (
      SELECT doc_id, doc_id % 16 AS b,
             row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS rn
      FROM documents
    ),
    cnt AS (SELECT b, count(*) AS c FROM r0 GROUP BY b),
    offs AS (
      SELECT b, coalesce(sum(c) OVER (ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM cnt
    ),
    ranked AS (
      SELECT r0.doc_id, offs.off + r0.rn - 1 AS rnk FROM r0 JOIN offs USING (b)
    ),
    n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
    draws AS (
      SELECT d.doc_id AS anchor_id, j,
             {hash60_sql("d.doc_id::VARCHAR || ':' || j::VARCHAR")} % max(n.n_docs)
               OVER () AS target
      FROM documents d CROSS JOIN n, range(1, {_NEG_K + 1}) t(j)
    )
    SELECT anchor_id, j::BIGINT AS j, ranked.doc_id AS neg_doc_id
    FROM draws JOIN ranked ON ranked.rnk = draws.target
    WHERE draws.anchor_id % 7 = 0 AND ranked.doc_id <> draws.anchor_id
    """,
    survey_ref="training-data: deterministic hash-based negative sampling join",
)
def contrastive_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    # two-phase global numbering: row_number within doc_id%16 buckets
    # (distributed windows) + cumulative bucket offsets (a 16-row frame) —
    # the dense 0..N-1 bijection without a single-task global sort
    b = (F.col("doc_id") % 16).alias("b")
    r0 = docs.select("doc_id", b).withColumn(
        "rn", F.row_number().over(Window.partitionBy("b").orderBy("doc_id"))
    )
    cnt = r0.groupBy("b").agg(F.count("*").alias("c"))
    woff = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offs = cnt.select("b", F.coalesce(F.sum("c").over(woff), F.lit(0)).alias("off"))
    ranked = r0.join(F.broadcast(offs), "b").select(
        "doc_id", (F.col("off") + F.col("rn") - 1).alias("rnk")
    )
    draws = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select(F.col("doc_id").alias("anchor_id"))
        .select(
            "anchor_id",
            F.explode(F.array(*[F.lit(j) for j in range(1, _NEG_K + 1)])).alias("j"),
        )
        .select(
            "anchor_id",
            F.col("j").cast("long").alias("j"),
            (
                hash60(
                    F.concat(
                        F.col("anchor_id").cast("string"),
                        F.lit(":"),
                        F.col("j").cast("string"),
                    )
                )
                % n_docs
            ).alias("target"),
        )
    )
    return (
        draws.join(ranked, draws.target == ranked.rnk)
        .filter(F.col("doc_id") != F.col("anchor_id"))
        .select("anchor_id", "j", F.col("doc_id").alias("neg_doc_id"))
    )


# ---------------------------------------------------------------------------
# Stratified k-fold assignment: exact per-stratum balance (round-robin over
# a deterministic hash order), not approximate hash-bucketing — folds
# differ in size by at most 1 within every stratum, which is what
# cross-validated eval over skewed language mixes actually requires.
# Scale shape: one window shuffle on the stratum key (same as
# stratified_sample_per_lang); fold assignment is a projection on the rank.
# ---------------------------------------------------------------------------
_KFOLD = 5


@register(
    "stratified_kfold_assign",
    f"""
    SELECT lang, fold, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS total_chars
    FROM (
      SELECT lang, n_chars,
             (row_number() OVER (
                PARTITION BY lang ORDER BY {hash60_sql('text')}, doc_id
              ) - 1) % {_KFOLD} AS fold
      FROM documents
    ) GROUP BY lang, fold
    """,
    survey_ref="training-data: stratified k-fold assignment (exact per-stratum balance, deterministic hash order)",
)
def stratified_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(hash60("text"), "doc_id")
    return (
        docs.withColumn("fold", (F.row_number().over(w) - 1) % _KFOLD)
        .groupBy("lang", "fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Salted two-stage aggregation: THE skew treatment for a hot grouping key
# at 100 TB (one event_type holding half the corpus would pin one reducer).
# Stage 1 groups on (key, salt) so the hot key fans across 8 reducers;
# stage 2 combines the 8 partials. The oracle is the PLAIN single-stage
# aggregate — pinning that salting is semantically invisible. Measures are
# decimal-summed so the two-stage re-association is bit-exact.
# ---------------------------------------------------------------------------
_SALT_BUCKETS = 8


@register(
    "salted_skew_agg",
    """
    SELECT event_type, count(*)::BIGINT AS n_events,
           sum(value::DECIMAL(28,6))::DOUBLE AS total_value,
           max(value) AS max_value
    FROM events GROUP BY event_type
    """,
    survey_ref="aggregation at scale: salted two-stage hot-key aggregate (semantics pinned against the plain single-stage oracle)",
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    salt = (F.col("event_id") % _SALT_BUCKETS).alias("salt")
    partial = (
        # max is order-insensitive, so it runs on the RAW double (matching the
        # oracle's max(value) exactly even past 6 decimal places); only the
        # associativity-sensitive sum goes through the decimal quantization.
        ev.select(
            "event_type",
            salt,
            F.col("value").cast("decimal(28,6)").alias("v"),
            "value",
        )
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").alias("sv"),
            F.max("value").alias("mv"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum("sv").cast("double").alias("total_value"),
        F.max("mv").alias("max_value"),
    )
