"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal — over the documents/embeddings tables, each with a DuckDB oracle
generated from the same hash constants (operators.texthash) so the engine
and oracle cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.operators import neardup, similarity, text
from binance_etl_clickhouse_spark.operators.multimodal import (
    attach_binary_content,
    extract_media_features,
    sample_frames,
)
from binance_etl_clickhouse_spark.operators.neardup import LSH_BANDS
from binance_etl_clickhouse_spark.operators.texthash import (
    hash31_sql,
    hash60_sql,
    minhash_perm_sql,
    shingles,
    shingles_sql,
)
from binance_etl_clickhouse_spark.queries.registry import register
from binance_etl_clickhouse_spark.tables import load_table as _t

# ---------------------------------------------------------------------------
# Shared oracle CTE fragments (DuckDB). sh = distinct 3-shingle inverted
# index; sizes/common = Jaccard machinery — mirrors operators.neardup.
# ---------------------------------------------------------------------------

_SH_CTE = f"""
  docs AS (SELECT doc_id, text FROM documents),
  sh AS (
    SELECT doc_id, unnest({shingles_sql("text", 3)}) AS s FROM docs
  ),
  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
  common AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  jac AS (
    SELECT d1, d2, c * 1.0 / (s1.n + s2.n - c) AS j
    FROM common
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
  )
"""


# ---------------------------------------------------------------------------
# Exact dedup: md5 content fingerprint -> canonical id per group.
# ---------------------------------------------------------------------------
@register(
    "exact_dedup_canonical",
    """
    SELECT md5(lower(trim(text))) AS fingerprint,
           min(doc_id) AS canonical_id, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
    survey_ref="dedup: exact hash-groupBy",
)
def exact_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup.exact_dup_canonical(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (k=3, tau=0.5).
# ---------------------------------------------------------------------------
@register(
    "ngram_jaccard_neardup",
    f"""
    WITH {_SH_CTE}
    SELECT d1, d2, round(j, 6) AS jaccard FROM jac WHERE j >= 0.5
    """,
    survey_ref="dedup: n-gram Jaccard",
)
def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.5
    )


@register(
    "doc_containment_pairs",
    f"""
    WITH {_SH_CTE}
    SELECT d1, d2, round(c * 1.0 / least(s1.n, s2.n), 6) AS containment
    FROM common
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE c * 1.0 / least(s1.n, s2.n) >= 0.8
    """,
    survey_ref="dedup: shingle containment pairs (asymmetric — catches subset/quote duplication Jaccard misses)",
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup.containment_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.8
    )


# ---------------------------------------------------------------------------
# Fixed-merge BPE application: the ENCODE path under a literal merge table,
# fully value-hash oracled (the trained-encode twin is
# bpe_token_counts_traced, whose merges come from the traced trainer and
# are oracled by unrolling the training rounds in the same statement).
# ---------------------------------------------------------------------------
#: (left, right) merges applied in order; common English digraphs so some
#: engage on the corpus and some no-op — both paths exercised either way
_APPLY_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("th", "e"),
    ("e", "</w>"),
    ("i", "n"),
    ("a", "n"),
    ("o", "r"),
]


def _apply_bpe_oracle() -> str:
    def merge_apply(prev_expr: str, left: str, right: str) -> str:
        # same delimiter trick as the bpe_merge_trace oracle: chr(1)/chr(2)
        # wrap each symbol so replace() is greedy-leftmost over whole
        # symbols, exactly the engine's fold semantics
        return (
            "string_split(trim(replace("
            f"array_to_string(list_transform({prev_expr}, x -> chr(1)||x||chr(2)), ''),"
            f" chr(1)||'{left}'||chr(2)||chr(1)||'{right}'||chr(2),"
            f" chr(1)||'{left}{right}'||chr(2)), chr(1)||chr(2)), chr(2)||chr(1))"
        )

    expr = "s"
    for left, right in _APPLY_MERGES:
        expr = merge_apply(expr, left, right)
    return f"""
    WITH dw AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE word <> ''
    ),
    dict AS (SELECT DISTINCT word FROM dw),
    w0 AS (
      SELECT word,
             list_append([substr(word, i, 1) for i in range(1, len(word) + 1)],
                         '</w>') AS s
      FROM dict
    ),
    seg AS (SELECT word, len({expr})::BIGINT AS n_pieces FROM w0)
    SELECT dw.doc_id, count(*)::BIGINT AS n_words,
           sum(seg.n_pieces)::BIGINT AS n_pieces,
           round(sum(seg.n_pieces) * 1.0 / count(*), 6) AS pieces_per_word
    FROM dw JOIN seg USING (word)
    GROUP BY dw.doc_id
    """


@register(
    "tokenizer_apply_bpe",
    _apply_bpe_oracle(),
    survey_ref="tokenizer: BPE encode under a fixed merge table (dictionary segment + broadcast equi-join, full value-hash oracle)",
)
def tokenizer_apply_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document under the literal ``_APPLY_MERGES`` table:
    segment the DISTINCT-word dictionary once (chained greedy-leftmost
    merge folds — pure projections, no shuffle), then one broadcast
    equi-join back to the corpus words. The corpus is scanned once no
    matter how many merges apply — the same architecture the trained
    encoder uses (operators/bpe.py encode_token_counts)."""
    from binance_etl_clickhouse_spark.operators import bpe
    from binance_etl_clickhouse_spark.operators.texthash import tokens as _tok

    docs = _t(spark, sf_dir, "documents")
    dw = (
        docs.select("doc_id", F.explode(_tok("text")).alias("word"))
        .filter(F.col("word") != "")
    )
    syms = bpe.chars_with_eow(F.col("word"))
    for left, right in _APPLY_MERGES:
        syms = bpe.merge_pair_expr(syms, left, right)
    seg = (
        dw.select("word").distinct().select("word", F.size(syms).cast("long").alias("n_pieces"))
    )
    return (
        dw.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.round(F.sum("n_pieces") / F.count(F.lit(1)), 6).alias("pieces_per_word"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup: 24 perms, 12 bands x 2 rows, exact-Jaccard verified.
# ---------------------------------------------------------------------------


def _minhash_oracle() -> str:
    mh_exprs = ",\n      ".join(
        f"min({minhash_perm_sql(j, 'hv')}) AS mh{j}" for j in range(2 * LSH_BANDS)
    )
    band_list = ", ".join(
        f"md5(concat_ws(',', {t}, mh{2 * t}, mh{2 * t + 1}))" for t in range(LSH_BANDS)
    )
    return f"""
    WITH {_SH_CTE},
    h AS (SELECT doc_id, {hash31_sql("s")} AS hv FROM sh),
    mh AS (SELECT doc_id,
      {mh_exprs}
      FROM h GROUP BY doc_id),
    bands AS (SELECT doc_id, unnest([{band_list}]) AS bv FROM mh),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT d1, d2, round(j, 6) AS jaccard
    FROM cand JOIN jac USING (d1, d2) WHERE j >= 0.5
    """


@register(
    "minhash_lsh_neardup",
    _minhash_oracle(),
    survey_ref="dedup: MinHash+LSH (shingle -> minhash -> band -> bucket-join)",
)
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # band_cap=None EXPLICITLY: this is the uncapped oracle twin (the plain
    # banded-LSH semantics the DuckDB CTE reproduces); the production
    # default is DEFAULT_BAND_CAP=64, pinned by minhash_pairs_capped.
    return neardup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.5, band_cap=None
    )


def _minhash_calibration_oracle() -> str:
    n_perm = 2 * LSH_BANDS
    mh_exprs = ",\n      ".join(
        f"min({minhash_perm_sql(j, 'hv')}) AS mh{j}" for j in range(n_perm)
    )
    band_list = ", ".join(
        f"md5(concat_ws(',', {t}, mh{2 * t}, mh{2 * t + 1}))" for t in range(LSH_BANDS)
    )
    agree = " + ".join(
        f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)" for j in range(n_perm)
    )
    return f"""
    WITH {_SH_CTE},
    h AS (SELECT doc_id, {hash31_sql("s")} AS hv FROM sh),
    mh AS (SELECT doc_id,
      {mh_exprs}
      FROM h GROUP BY doc_id),
    bands AS (SELECT doc_id, unnest([{band_list}]) AS bv FROM mh),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT cand.d1, cand.d2, ({agree}) * 1.0 / {n_perm} AS e
      FROM cand JOIN mh a ON a.doc_id = cand.d1 JOIN mh b ON b.doc_id = cand.d2
    )
    SELECT d1, d2, round(coalesce(j, 0.0), 6) AS jaccard,
           round(e, 6) AS jac_est,
           round(abs(e - coalesce(j, 0.0)), 6) AS abs_err
    FROM est LEFT JOIN jac USING (d1, d2)
    """


@register(
    "minhash_estimator_calibration",
    _minhash_calibration_oracle(),
    survey_ref="dedup: signature-agreement Jaccard estimator calibration (the streaming cross-batch verify statistic, per-pair error vs exact)",
)
def minhash_estimator_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-candidate-pair calibration of agreement/K as a Jaccard
    estimate — the EXACT statistic the streaming cross-batch dedup uses
    to verify newcomers against the signature index without re-reading
    corpus text (streaming/jobs.py stream_dedup_corpus step 3). Reports
    (exact jaccard, estimate, abs error) for every LSH candidate pair, so
    the estimator's bias on real data is measured, not assumed."""
    from binance_etl_clickhouse_spark.operators.neardup import (
        _signatures_from_shingles,
        minhash_band_values,
    )
    from binance_etl_clickhouse_spark.operators.texthash import shingles

    n_perm = 2 * LSH_BANDS
    docs = _t(spark, sf_dir, "documents")
    sh_sets = docs.select("doc_id", shingles("text", 3).alias("sh")).persist()
    sig = _signatures_from_shingles(sh_sets).persist()
    bands = minhash_band_values(sig)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.bv") == F.col("b.bv")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    s1 = sig.select(F.col("doc_id").alias("d1"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(n_perm)])
    s2 = sig.select(F.col("doc_id").alias("d2"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(n_perm)])
    agree = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(n_perm)
    )
    sh1 = sh_sets.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    sh2 = sh_sets.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect(F.col("sh1"), F.col("sh2")))
    jac = inter / (F.size("sh1") + F.size("sh2") - inter)
    est = agree * F.lit(1.0) / F.lit(n_perm)
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .join(sh1, "d1")
        .join(sh2, "d2")
        .select(
            "d1",
            "d2",
            F.round(jac, 6).alias("jaccard"),
            F.round(est, 6).alias("jac_est"),
            F.round(F.abs(est - jac), 6).alias("abs_err"),
        )
    )


def _minhash_capped_oracle(cap: int) -> str:
    mh_exprs = ",\n      ".join(
        f"min({minhash_perm_sql(j, 'hv')}) AS mh{j}" for j in range(2 * LSH_BANDS)
    )
    band_list = ", ".join(
        f"md5(concat_ws(',', {t}, mh{2 * t}, mh{2 * t + 1}))" for t in range(LSH_BANDS)
    )
    return f"""
    WITH {_SH_CTE},
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
      ) WHERE rnk <= {cap}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM capped a JOIN capped b ON a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT d1, d2, round(j, 6) AS jaccard
    FROM cand JOIN jac USING (d1, d2) WHERE j >= 0.5
    """


@register(
    "minhash_pairs_capped",
    _minhash_capped_oracle(4),
    survey_ref="dedup: MinHash+LSH with band-bucket cap (duplicate-storm guard)",
)
def minhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production duplicate-storm path: band buckets keep their first
    4 docs (by id), bounding exact-Jaccard verify work at
    buckets x cap^2; the oracle reproduces the deterministic cap."""
    return neardup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.5, band_cap=4
    )


# ---------------------------------------------------------------------------
# SimHash signatures (16-bit, frequency-weighted).
# ---------------------------------------------------------------------------


def _simhash_oracle() -> str:
    bit_sums = ",\n      ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(text.SIMHASH_BITS)
    )
    val = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(text.SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    h AS (SELECT doc_id, {hash31_sql("t")} % {1 << text.SIMHASH_BITS} AS h FROM tok),
    bits AS (SELECT doc_id,
      {bit_sums}
      FROM h GROUP BY doc_id)
    SELECT doc_id, {val} AS simhash FROM bits
    """


@register(
    "simhash_signatures",
    _simhash_oracle(),
    survey_ref="dedup: SimHash",
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.simhash(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Embedding cosine near-dup pairs (exact baseline, tau=0.45).
# ---------------------------------------------------------------------------
@register(
    "embedding_cosine_neardup",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2,
             round(list_inner_product(a.v, b.v)
                   / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6)
               AS cos_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT v1, v2, cos_sim FROM p WHERE cos_sim >= 0.45
    """,
    survey_ref="dedup: embedding-cosine near-dup",
)
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # block-pair GEMM form: exact all-pairs semantics (equivalence to the
    # expression form pinned by test) at BLAS speed — ~20x at sf0.1
    return neardup.embedding_cosine_pairs_gemm(
        _t(spark, sf_dir, "embeddings"), threshold=0.45
    )


# ---------------------------------------------------------------------------
# Brute-force cosine top-k vs the vec_id=0 query vector (ANN exact baseline).
# ---------------------------------------------------------------------------
@register(
    "ann_bruteforce_topk",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id,
           round(list_inner_product(v, qv)
                 / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))), 6)
             AS cos_sim
    FROM e CROSS JOIN q WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    survey_ref="similarity: brute-force cosine top-k",
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = v.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    sim = similarity.cosine_expr(F.col("v"), F.col("qv"))
    return (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (the scale path). The hyperplanes are deterministic
# md5-seeded constants (similarity.hyperplanes), so the oracle inlines them
# as literal arrays and recomputes the identical bucket bits in SQL; the
# multiprobe set {qbits ^ mask : popcount(mask) <= h} is equivalently
# bit_count(xor(bucket, qbucket)) <= h.
# ---------------------------------------------------------------------------

_EMB_DIM = 64  # embeddings.embedding is array<float>[64] at every SF


def _lsh_bucket_sql(n_planes: int, vcol: str = "v") -> str:
    """DuckDB twin of similarity.random_hyperplane_buckets' bucket column."""
    terms = []
    for p, plane in enumerate(similarity.hyperplanes(n_planes, _EMB_DIM)):
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        terms.append(
            f"(CASE WHEN list_inner_product({vcol}, {lit}) >= 0 THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


def _ann_lsh_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_lsh_bucket_sql(6)} AS bucket FROM e),
    q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
    SELECT vec_id,
           round(list_inner_product(v, qv)
                 / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))), 6)
             AS cos_sim
    FROM b CROSS JOIN q
    WHERE bit_count(xor(bucket::BIGINT, qb::BIGINT)) <= 2
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """


@register(
    "ann_lsh_topk",
    _ann_lsh_oracle(),
    survey_ref="similarity: sign-LSH bucketed ANN",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.lsh_topk(emb, qv, k=10)


# ---------------------------------------------------------------------------
# Text analysis: quality features, language ID, token counts, fingerprints.
# ---------------------------------------------------------------------------
@register(
    "text_quality_scores",
    f"""
    WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           length(text) AS n_chars,
           len(toks) AS n_tokens,
           len(regexp_extract_all(text, '{text.BPE_CHUNK_RE}')) AS n_bpe_chunks,
           round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS distinct_ratio,
           round(len(list_filter(toks, t -> t IN ('the', 'a'))) * 1.0 / len(toks), 6)
             AS stopword_ratio,
           round((length(text) - (len(toks) - 1)) * 1.0 / len(toks), 6) AS avg_token_len,
           round(least(len(toks) / 100.0, 1.0) * 0.4
                 + (len(list_distinct(toks)) * 1.0 / len(toks)) * 0.4
                 + (1 - len(list_filter(toks, t -> t IN ('the', 'a'))) * 1.0 / len(toks)) * 0.2,
                 6) AS quality_score
    FROM w
    """,
    survey_ref="text: quality scoring + token counting",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_features(_t(spark, sf_dir, "documents"))


@register(
    "langid_heuristic",
    """
    WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id, lang,
           round(len(list_filter(toks, t -> t IN ('the', 'a'))) * 1.0 / len(toks), 6)
             AS en_stopword_ratio,
           CASE WHEN len(list_filter(toks, t -> t IN ('the', 'a'))) * 1.0 / len(toks) >= 0.05
                THEN 'en' ELSE 'other' END AS lang_pred
    FROM w
    """,
    survey_ref="text: language-ID heuristic",
)
def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.langid_heuristic(_t(spark, sf_dir, "documents"))


@register(
    "doc_fingerprints",
    f"""
    WITH d AS (
      SELECT doc_id, md5(lower(trim(text))) AS content_fp,
             {shingles_sql("text", 3)} AS sh
      FROM documents
    )
    SELECT doc_id, content_fp,
           list_min([('0x' || substr(md5(s), 1, 15))::BIGINT for s in sh]) AS shingle_fp
    FROM d
    """,
    survey_ref="text: document fingerprinting (content md5 + min-shingle)",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.content_fingerprint("text").alias("content_fp"),
        text.min_shingle_fingerprint(shingles("text", 3)).alias("shingle_fp"),
    )


# ---------------------------------------------------------------------------
# Multimodal binary plumbing: binary column + metadata struct + Arrow-batched
# feature extraction (fake decoder; real decode is a stubbed seam).
# ---------------------------------------------------------------------------
@register(
    "multimodal_binary_features",
    """
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS digest,
           CAST(octet_length(encode(text)) % 1920 AS INTEGER) AS fake_width,
           CAST(octet_length(encode(text)) % 1080 AS INTEGER) AS fake_height
    FROM documents
    """,
    survey_ref="multimodal: binary column + mapInPandas feature extraction",
)
def multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_binary_content(_t(spark, sf_dir, "documents"))
    return extract_media_features(media)


# ---------------------------------------------------------------------------
# Frame sampling: one media row fans out to <=4 frame rows inside the
# partition (mapInPandas flat-map, no shuffle). The stub "frames" are byte
# slices of the blob; documents.text is pure ASCII so the DuckDB twin can
# express the identical slicing on VARCHAR (byte == char offsets) and both
# engines md5 the same byte sequence.
# ---------------------------------------------------------------------------
@register(
    "multimodal_frame_samples",
    """
    WITH idx AS (
      SELECT doc_id AS media_id, text,
             unnest(range(0, least(4, greatest(1, length(text) // 16)))) AS frame_idx
      FROM documents
    )
    SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(length(substring(text, frame_idx * 16 + 1, 16)) AS INT) AS n_bytes,
           md5(substring(text, frame_idx * 16 + 1, 16)) AS digest
    FROM idx
    """,
    survey_ref="multimodal: frame-sample fan-out stage (mapInPandas flat-map)",
)
def multimodal_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_binary_content(_t(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_n_bytes=16, max_frames=4)
    return frames.select(
        "media_id",
        "frame_idx",
        F.length("frame").cast("int").alias("n_bytes"),
        F.md5("frame").alias("digest"),
    )


# ---------------------------------------------------------------------------
# SimHash near-dup pairs: 60-bit signatures + banded candidate generation.
# Pigeonhole-exact: a pair within hamming <= 3 collides in at least one of
# the 4 15-bit bands, so the banded equi-join returns EXACTLY the all-pairs
# semantics (pinned by equivalence test) — but shuffles on (band, value)
# buckets (~32k per band) instead of building the O(n^2) nested-loop join.
# The oracle recomputes the identical signature from hash60 and takes the
# all-pairs form (fine at oracle scale, and structurally independent of the
# engine's banding).
# ---------------------------------------------------------------------------


def _simhash_wide_oracle() -> str:
    bit_sums = ",\n      ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(text.SIMHASH_WIDE_BITS)
    )
    val = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(text.SIMHASH_WIDE_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    h AS (SELECT doc_id, {hash60_sql("t")} AS h FROM tok),
    bits AS (SELECT doc_id,
      {bit_sums}
      FROM h GROUP BY doc_id)
    SELECT doc_id, {val} AS simhash FROM bits
    """


def _simhash_pairs_oracle() -> str:
    return f"""
    WITH sig AS ({_simhash_wide_oracle().strip()})
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@register(
    "simhash_neardup_pairs",
    _simhash_pairs_oracle(),
    survey_ref="dedup: SimHash hamming pairs (banded equi-join)",
)
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # With the toy 16-bit signature a band had 16 distinct values and banding
    # pruned nothing (measured round 1: all-pairs 2.2s vs banded 6.9s at
    # sf0.1). At production width the regime flips: 60-bit signatures give
    # ~32k buckets per 15-bit band and ~0.03% of pairs collide, so the
    # banded equi-join IS the registered (and scale-safe) default; no
    # BroadcastNestedLoopJoin anywhere in this plan (pinned in test_plans).
    sig = text.simhash_wide(_t(spark, sf_dir, "documents"))
    return neardup.simhash_banded_pairs(
        sig, max_hamming=3, n_bands=4, sig_bits=text.SIMHASH_WIDE_BITS
    )


# ---------------------------------------------------------------------------
# LSH-bucketed embedding near-dup (the 100 TB path for
# embedding_cosine_neardup): candidate pairs only within a shared sign-LSH
# bucket, then exact cosine. The oracle recomputes the same deterministic
# buckets from the inlined hyperplanes, so recall (which pairs the buckets
# catch) is itself pinned, not just precision.
# ---------------------------------------------------------------------------


def _embedding_lsh_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_lsh_bucket_sql(4)} AS bucket FROM e)
    SELECT a.vec_id AS v1, c.vec_id AS v2,
           round(list_inner_product(a.v, c.v)
                 / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(c.v, c.v))), 6)
             AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE round(list_inner_product(a.v, c.v)
                / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(c.v, c.v))), 6)
          >= 0.45
    """


@register(
    "embedding_lsh_neardup",
    _embedding_lsh_oracle(),
    survey_ref="dedup: embedding near-dup, LSH-bucketed scale path",
)
def embedding_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.operators.similarity import (
        cosine_expr,
        random_hyperplane_buckets,
    )

    emb = _t(spark, sf_dir, "embeddings")
    bucketed = random_hyperplane_buckets(emb, n_planes=4)
    v = bucketed.select(
        "vec_id", "bucket", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    a = v.select(F.col("vec_id").alias("v1"), F.col("bucket"), F.col("v").alias("va"))
    b = v.select(F.col("vec_id").alias("v2"), F.col("bucket"), F.col("v").alias("vb"))
    pair = a.join(b, ["bucket"]).filter(F.col("v1") < F.col("v2"))
    sim = cosine_expr(F.col("va"), F.col("vb"))
    return pair.select(
        "v1", "v2", F.round(sim, 6).alias("cos_sim")
    ).filter(F.col("cos_sim") >= 0.45)


# ---------------------------------------------------------------------------
# IVF ANN (second scale path): deterministic coarse k-means codebook ->
# cell-partitioned index layout -> partition-pruned probe of the nprobe
# nearest cells -> exact rerank. The training loop is deterministic (init =
# first k vectors by id, exact arithmetic, fixed iteration count), so the
# oracle UNROLLS the same k-means in SQL — init, two assign/update rounds,
# probe selection, rerank — rather than treating the iteration as
# inexpressible.
# ---------------------------------------------------------------------------

_IVF_K, _IVF_ITERS, _IVF_NPROBE = 8, 2, 3


def _sqdist_sql(a: str, b: str) -> str:
    # same elementwise (a-b)^2 sequential fold as ivf._assign_cell
    return (
        f"list_sum(list_transform(range(1, {_EMB_DIM + 1}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _kmeans_assign_cte(name: str, cent: str) -> str:
    # nearest centroid per vector; tie -> lowest cell (ivf._assign_cell
    # takes array_position's FIRST minimum)
    return f"""
    {name} AS (
      SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, {cent}.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_sqdist_sql('e.v', f'{cent}.v')}, {cent}.cell) AS rn
        FROM e CROSS JOIN {cent}
      ) WHERE rn = 1
    )"""


def _kmeans_update_cte(assigned: str, prev: str, out: str) -> str:
    # per-(cell, dim) mean, empty cells keep the previous centroid —
    # mirrors ivf.kmeans_fit's update step
    return f"""
    {out}_m AS (
      SELECT cell, i, avg(v[i]) AS m FROM {assigned}, range(1, {_EMB_DIM + 1}) t(i)
      GROUP BY cell, i
    ),
    {out}_arr AS (SELECT cell, list(m ORDER BY i) AS v FROM {out}_m GROUP BY cell),
    {out} AS (
      SELECT {prev}.cell, coalesce({out}_arr.v, {prev}.v) AS v
      FROM {prev} LEFT JOIN {out}_arr USING (cell)
    )"""


def _ann_ivf_oracle() -> str:
    iters = []
    prev = "c0"
    for it in range(1, _IVF_ITERS + 1):
        iters.append(_kmeans_assign_cte(f"a{it}", prev) + ",")
        iters.append(_kmeans_update_cte(f"a{it}", prev, f"c{it}") + ",")
        prev = f"c{it}"
    body = "\n".join(iters)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_IVF_K})
    ),
    {body}
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    probe AS (
      SELECT cell FROM {prev} CROSS JOIN q
      ORDER BY {_sqdist_sql('qv', f'{prev}.v')}, cell LIMIT {_IVF_NPROBE}
    ),
    {_kmeans_assign_cte('af', prev)}
    SELECT vec_id,
           round(list_inner_product(v, qv)
                 / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))), 6)
             AS cos_sim
    FROM af CROSS JOIN q
    WHERE cell IN (SELECT cell FROM probe)
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """


#: deterministic codebooks per (sf_dir, params) — plain Python lists with
#: no SparkContext binding, so unlike _BPE_MODELS no session guard is
#: needed. Without this, four queries (IVF / batched IVF / SemDeDup /
#: IVF-PQ) each re-run the identical collect-per-iteration k-means driver
#: loop, and the PQ pair re-runs subspace training, on every sweep.
_CODEBOOK_CACHE: dict = {}


def _ivf_codebook(spark: SparkSession, sf_dir: str):
    from binance_etl_clickhouse_spark.operators.ivf import kmeans_fit

    key = ("ivf", sf_dir, _IVF_K, _IVF_ITERS)
    if key not in _CODEBOOK_CACHE:
        _CODEBOOK_CACHE[key] = kmeans_fit(
            _t(spark, sf_dir, "embeddings"), k=_IVF_K, n_iters=_IVF_ITERS
        )
    return _CODEBOOK_CACHE[key]


def _pq_codebooks(spark: SparkSession, sf_dir: str):
    from binance_etl_clickhouse_spark.operators.pq import pq_fit

    key = ("pq", sf_dir, _PQ_M, _PQ_KSUB, _PQ_ITERS)
    if key not in _CODEBOOK_CACHE:
        _CODEBOOK_CACHE[key] = pq_fit(
            _t(spark, sf_dir, "embeddings"),
            m=_PQ_M,
            ksub=_PQ_KSUB,
            n_iters=_PQ_ITERS,
            dim=_EMB_DIM,
        )
    return _CODEBOOK_CACHE[key]


@register(
    "ann_ivf_topk",
    _ann_ivf_oracle(),
    survey_ref="similarity: IVF coarse-quantization ANN (iterative k-means)",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.buildonce import build_once
    from binance_etl_clickhouse_spark.operators.ivf import (
        ivf_topk_from_table,
        write_ivf_table,
    )

    emb = _t(spark, sf_dir, "embeddings")
    codebook = _ivf_codebook(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    # index build: write the cell-partitioned layout once per (dataset,
    # codebook); the query itself is then a partition-PRUNED read of the
    # nprobe probed cells — the scan never touches the other cells' files.
    # build_once gates reuse on Spark's _SUCCESS completeness marker and
    # serializes racing cold builders (see buildonce.py).
    path = build_once(
        "ivf",
        f"{sf_dir}:{codebook}",
        "_SUCCESS",
        lambda p: write_ivf_table(emb, codebook, p),
    )
    return ivf_topk_from_table(spark, path, codebook, qv, k=10, nprobe=_IVF_NPROBE)


# ---------------------------------------------------------------------------
# FILTERED ANN (r8): metadata predicate composed with IVF — the layout's two
# prunings stack (PartitionFilters on cell + PushedFilters on the label),
# and the probe set widens with measured selectivity so a selective filter
# cannot starve the candidate pool (naive pre-filtered IVF's failure mode).
# The oracle unrolls the identical k-means, computes the identical widened
# probe count from the same counts, and replays filter + rerank.
# ---------------------------------------------------------------------------
_FILTER_LABEL = 2
_FILTER_ALPHA = 4


def _ann_ivf_filtered_oracle() -> str:
    iters = []
    prev = "c0"
    for it in range(1, _IVF_ITERS + 1):
        iters.append(_kmeans_assign_cte(f"a{it}", prev) + ",")
        iters.append(_kmeans_update_cte(f"a{it}", prev, f"c{it}") + ",")
        prev = f"c{it}"
    body = "\n".join(iters)
    need = _FILTER_ALPHA * 10 * _IVF_K  # alpha * k * k_cells
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_IVF_K})
    ),
    {body}
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    wid AS (
      -- widened_nprobe(nprobe, k_cells, n, s, k, alpha) with
      -- s = matched / n: max(nprobe, min(k_cells, ceil(alpha*k*k_cells / matched)))
      SELECT greatest({_IVF_NPROBE},
                      least({_IVF_K},
                            CASE WHEN matched = 0 THEN {_IVF_K}
                                 ELSE CAST(ceil({need}.0 / matched) AS BIGINT)
                            END)) AS w
      FROM (SELECT count(*) FILTER (WHERE label = {_FILTER_LABEL}) AS matched
            FROM e)
    ),
    probe AS (
      SELECT cell FROM (
        SELECT {prev}.cell,
               row_number() OVER (
                 ORDER BY {_sqdist_sql('qv', f'{prev}.v')}, cell) AS rn
        FROM {prev} CROSS JOIN q
      ), wid WHERE rn <= wid.w
    ),
    {_kmeans_assign_cte('af', prev)}
    SELECT af.vec_id,
           round(list_inner_product(af.v, qv)
                 / (sqrt(list_inner_product(af.v, af.v)) * sqrt(list_inner_product(qv, qv))), 6)
             AS cos_sim
    FROM af JOIN e USING (vec_id) CROSS JOIN q
    WHERE af.cell IN (SELECT cell FROM probe) AND e.label = {_FILTER_LABEL}
    ORDER BY cos_sim DESC, af.vec_id LIMIT 10
    """


@register(
    "ann_ivf_filtered_topk",
    _ann_ivf_filtered_oracle(),
    survey_ref=(
        "similarity: metadata-FILTERED ANN over the IVF layout — "
        "PartitionFilters (cell) + PushedFilters (label) compose, probe "
        "count widens with measured selectivity so selective filters "
        "cannot starve recall"
    ),
)
def ann_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.buildonce import build_once
    from binance_etl_clickhouse_spark.operators.ivf import (
        ivf_filtered_topk_from_table,
        write_ivf_table,
    )

    emb = _t(spark, sf_dir, "embeddings")
    codebook = _ivf_codebook(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    stats = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("label") == _FILTER_LABEL).alias("matched"),
    ).first()
    path = build_once(
        "ivf",
        f"{sf_dir}:{codebook}",  # the SAME layout ann_ivf_topk reads
        "_SUCCESS",
        lambda p: write_ivf_table(emb, codebook, p),
    )
    return ivf_filtered_topk_from_table(
        spark,
        path,
        codebook,
        qv,
        predicate=F.col("label") == _FILTER_LABEL,
        selectivity=stats.matched / max(stats.n, 1),
        n_vectors=int(stats.n),
        k=10,
        nprobe=_IVF_NPROBE,
        alpha=_FILTER_ALPHA,
    )


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) matching with blocking: candidates share a snippet
# prefix or suffix block key; Levenshtein verifies candidates only. The
# oracle replicates the same blocking, so the candidate sets are identical
# by construction and parity is exact. Top-k keeps the output deterministic
# and non-empty regardless of corpus similarity structure.
# ---------------------------------------------------------------------------


@register(
    "fuzzy_snippet_pairs",
    """
    WITH s AS (SELECT doc_id, substr(lower(text), 1, 40) AS snip FROM documents),
    b AS (
      SELECT doc_id, substr(snip, 1, 8) AS k FROM s
      UNION
      SELECT doc_id, right(snip, 8) AS k FROM s
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
      FROM b a JOIN b c ON a.k = c.k AND a.doc_id < c.doc_id
    )
    SELECT d1, d2, levenshtein(s1.snip, s2.snip) AS edit_dist
    FROM cand
    JOIN s s1 ON d1 = s1.doc_id
    JOIN s s2 ON d2 = s2.doc_id
    ORDER BY edit_dist, d1, d2 LIMIT 20
    """,
    survey_ref="dedup: fuzzy edit-distance matching (blocking join + candidate-only verify)",
)
def fuzzy_snippet_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = neardup.fuzzy_blocked_pairs(
        _t(spark, sf_dir, "documents"), snippet_len=40, block_len=8
    )
    return pairs.orderBy("edit_dist", "d1", "d2").limit(20)


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup through the SAME coarse k-means partition IVF
# uses — pairwise cosine runs per cell (equi-join on cell), never corpus-
# wide; a vector is dropped iff an earlier (lower-id) same-cell vector is
# within the cosine threshold. The oracle unrolls the identical k-means and
# replays the keep rule as plain relational algebra.
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.45


def _cos_sql(a: str, b: str) -> str:
    return (
        f"list_inner_product({a}, {b})"
        f" / (sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b})))"
    )


def _semdedup_oracle() -> str:
    iters = []
    prev = "c0"
    for it in range(1, _IVF_ITERS + 1):
        iters.append(_kmeans_assign_cte(f"a{it}", prev) + ",")
        iters.append(_kmeans_update_cte(f"a{it}", prev, f"c{it}") + ",")
        prev = f"c{it}"
    body = "\n".join(iters)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_IVF_K})
    ),
    {body}
    {_kmeans_assign_cte('af', prev)},
    dropped AS (
      SELECT DISTINCT a.vec_id
      FROM af a JOIN af b ON a.cell = b.cell AND b.vec_id < a.vec_id
      WHERE round({_cos_sql('a.v', 'b.v')}, 6) >= {_SEMDEDUP_TAU}
    )
    SELECT af.vec_id, CAST(af.cell AS INTEGER) AS cell,
           (dropped.vec_id IS NULL) AS kept
    FROM af LEFT JOIN dropped USING (vec_id)
    """


@register(
    "semdedup_prune",
    _semdedup_oracle(),
    survey_ref="dedup: SemDeDup semantic dedup (k-means cells + per-cell cosine prune)",
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    codebook = _ivf_codebook(spark, sf_dir)
    return neardup.semdedup_flags(emb, codebook, threshold=_SEMDEDUP_TAU)


# ---------------------------------------------------------------------------
# ANN via product quantization (PQ): vectors compress to m per-subspace
# codes; the query scans codes + a literal lookup table (ADC), shortlists,
# and exact-reranks only the survivors. Like the IVF oracle, the per-
# subspace k-means training is deterministic, so the oracle UNROLLS it —
# per subspace: slice -> init -> assign/update rounds -> final codes ->
# query-subvector LUT — then replays the same rounded-ADC shortlist and
# exact rerank.
# ---------------------------------------------------------------------------

_PQ_M, _PQ_KSUB, _PQ_ITERS, _PQ_SHORTLIST = 4, 16, 2, 50
_PQ_DSUB = _EMB_DIM // _PQ_M


def _sqdist_sub_sql(a: str, b: str) -> str:
    # subspace-width twin of _sqdist_sql
    return (
        f"list_sum(list_transform(range(1, {_PQ_DSUB + 1}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _pq_assign_cte(name: str, src: str, cent: str) -> str:
    # nearest subspace centroid; tie -> lowest code (argmin first-minimum)
    return f"""
    {name} AS (
      SELECT vec_id, v, cell FROM (
        SELECT {src}.vec_id, {src}.v, {cent}.cell,
               row_number() OVER (PARTITION BY {src}.vec_id
                                  ORDER BY {_sqdist_sub_sql(f'{src}.v', f'{cent}.v')}, {cent}.cell) AS rn
        FROM {src} CROSS JOIN {cent}
      ) WHERE rn = 1
    )"""


def _pq_update_cte(assigned: str, prev: str, out: str) -> str:
    # per-(code, dim) mean over the subspace; empty codes keep the previous
    # centroid — mirrors ivf.kmeans_fit's update step
    return f"""
    {out}_m AS (
      SELECT cell, i, avg(v[i]) AS m FROM {assigned}, range(1, {_PQ_DSUB + 1}) t(i)
      GROUP BY cell, i
    ),
    {out}_arr AS (SELECT cell, list(m ORDER BY i) AS v FROM {out}_m GROUP BY cell),
    {out} AS (
      SELECT {prev}.cell, coalesce({out}_arr.v, {prev}.v) AS v
      FROM {prev} LEFT JOIN {out}_arr USING (cell)
    )"""


def _pq_ctes() -> tuple[str, str, str, str]:
    """(body, code_joins, lut_joins, adc_sum): the per-subspace training +
    code + LUT CTEs shared by the PQ and IVF-PQ oracles."""
    parts = []
    finals = []
    for s in range(_PQ_M):
        lo = s * _PQ_DSUB + 1
        hi = (s + 1) * _PQ_DSUB
        parts.append(f"sub{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM e),")
        parts.append(
            f"""c{s}_0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v FROM sub{s} ORDER BY vec_id LIMIT {_PQ_KSUB})
    ),"""
        )
        prev = f"c{s}_0"
        for it in range(1, _PQ_ITERS + 1):
            parts.append(_pq_assign_cte(f"a{s}_{it}", f"sub{s}", prev) + ",")
            parts.append(_pq_update_cte(f"a{s}_{it}", prev, f"c{s}_{it}") + ",")
            prev = f"c{s}_{it}"
        finals.append(prev)
        parts.append(
            _pq_assign_cte(f"af{s}_full", f"sub{s}", prev)
            + f", af{s} AS (SELECT vec_id, cell AS cell{s} FROM af{s}_full),"
        )
        parts.append(f"qsub{s} AS (SELECT qv[{lo}:{hi}] AS qv FROM q),")
        parts.append(
            f"""lut{s} AS (
      SELECT cell, {_sqdist_sub_sql(f'{finals[s]}.v', 'qsub' + str(s) + '.qv')} AS d
      FROM {finals[s]} CROSS JOIN qsub{s}
    ),"""
        )
    body = "\n".join(parts)
    code_joins = " ".join(f"JOIN af{s} USING (vec_id)" for s in range(1, _PQ_M))
    lut_joins = " ".join(f"JOIN lut{s} l{s} ON l{s}.cell = af{s}.cell{s}" for s in range(_PQ_M))
    # left-to-right sum, matching the engine's adc expression order
    adc_sum = "l0.d"
    for s in range(1, _PQ_M):
        adc_sum = f"({adc_sum} + l{s}.d)"
    return body, code_joins, lut_joins, adc_sum


_RERANK_SQL = """
    SELECT e.vec_id,
           round(list_inner_product(v, qv)
                 / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))), 6)
             AS cos_sim
    FROM e JOIN short USING (vec_id) CROSS JOIN q
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """


def _ann_pq_oracle() -> str:
    body, code_joins, lut_joins, adc_sum = _pq_ctes()
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    {body}
    adc AS (
      SELECT af0.vec_id, round({adc_sum}, 6) AS adc_dist
      FROM af0 {code_joins} {lut_joins}
    ),
    short AS (SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT {_PQ_SHORTLIST})
    {_RERANK_SQL}
    """


@register(
    "ann_pq_topk",
    _ann_pq_oracle(),
    survey_ref="similarity: product-quantization ANN (ADC shortlist + exact rerank)",
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.operators.pq import pq_encode, pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_codebooks(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    codes = pq_encode(emb, books)
    return pq_topk(codes, emb, books, qv, k=10, shortlist=_PQ_SHORTLIST)


# ---------------------------------------------------------------------------
# Combined IVF-PQ: the billion-vector read path — partition-pruned probe of
# the coarse cells, ADC over the stored byte codes inside them, exact
# rerank of the shortlist only. The oracle composes the two unrolled
# trainings (coarse k-means + m subspace k-means) and replays probe ->
# in-probe ADC -> rerank.
# ---------------------------------------------------------------------------


def _ann_ivf_pq_oracle() -> str:
    iters = []
    prev = "c0"
    for it in range(1, _IVF_ITERS + 1):
        iters.append(_kmeans_assign_cte(f"ca{it}", prev) + ",")
        iters.append(_kmeans_update_cte(f"ca{it}", prev, f"c{it}") + ",")
        prev = f"c{it}"
    coarse_body = "\n".join(iters)
    pq_body, code_joins, lut_joins, adc_sum = _pq_ctes()
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_IVF_K})
    ),
    {coarse_body}
    probe AS (
      SELECT cell FROM {prev} CROSS JOIN q
      ORDER BY {_sqdist_sql('qv', f'{prev}.v')}, cell LIMIT {_IVF_NPROBE}
    ),
    {_kmeans_assign_cte('afc', prev)},
    inprobe AS (SELECT vec_id FROM afc WHERE cell IN (SELECT cell FROM probe)),
    {pq_body}
    adc AS (
      SELECT af0.vec_id, round({adc_sum}, 6) AS adc_dist
      FROM af0 {code_joins} {lut_joins}
      JOIN inprobe ON inprobe.vec_id = af0.vec_id
    ),
    short AS (SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT {_PQ_SHORTLIST})
    {_RERANK_SQL}
    """


@register(
    "ann_ivf_pq_topk",
    _ann_ivf_pq_oracle(),
    survey_ref="similarity: combined IVF-PQ (partition-pruned probe + ADC + exact rerank)",
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.buildonce import build_once
    from binance_etl_clickhouse_spark.operators.pq import (
        ivf_pq_topk_from_table,
        write_ivf_pq_table,
    )

    emb = _t(spark, sf_dir, "embeddings")
    coarse = _ivf_codebook(spark, sf_dir)
    books = _pq_codebooks(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    # same build-once / _SUCCESS-gated reuse discipline as the IVF index
    path = build_once(
        "ivfpq",
        f"{sf_dir}:{coarse}:{books}",
        "_SUCCESS",
        lambda p: write_ivf_pq_table(emb, coarse, books, p),
    )
    return ivf_pq_topk_from_table(
        spark, path, coarse, books, qv, k=10, nprobe=_IVF_NPROBE, shortlist=_PQ_SHORTLIST
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization: the 4x storage format for a 100 TB vector
# corpus (int8 codes + per-row scale). Scalar outputs only (codes summarized
# by min/max + reconstruction MSE) so the result canonicalizes; floor(x+0.5)
# is the shared deterministic tie rule.
# ---------------------------------------------------------------------------
@register(
    "embedding_int8_quantize",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
      SELECT vec_id, v,
             -- nullif: all-zero vectors get NULL scale/metrics (matches the
             -- engine's ANSI-safe guard)
             127.0 / nullif(list_max(list_transform(v, x -> abs(x))), 0.0) AS scale
      FROM e
    ),
    q AS (
      SELECT vec_id, v, scale,
             list_transform(v, x -> CAST(floor(x * scale + 0.5) AS INTEGER)) AS qv
      FROM s
    )
    SELECT vec_id,
           list_min(qv) AS q_min,
           list_max(qv) AS q_max,
           round(scale, 6) AS scale,
           round(list_sum(list_transform(range(1, len(v) + 1),
                          i -> (v[i] - qv[i] / scale) * (v[i] - qv[i] / scale)))
                 / len(v), 12) AS recon_mse
    FROM q
    """,
    survey_ref="similarity: int8 embedding quantization (vector storage path)",
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.quantize_int8(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the Jaccard pair graph —
# pair detection -> transitive keep/drop groups (canonical id = min id
# reachable). The Spark side closes the pair graph exactly (driver
# union-find, or large-star/small-star contraction past the edge bound);
# the oracle computes the same closure as a recursive transitive-closure
# CTE. Both are exact, so the hash must match.
# ---------------------------------------------------------------------------
@register(
    "neardup_clusters",
    f"""
    WITH RECURSIVE {_SH_CTE.strip().rstrip()},
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
    canon AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT node AS doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM canon
    """,
    survey_ref="dedup: connected-component clustering (transitive canonicalization)",
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = neardup.ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    return neardup.neardup_clusters(docs, pairs)


# ---------------------------------------------------------------------------
# Benchmark decontamination: corpus documents sharing any 4-token shingle
# with a held-out eval set (deterministic cohort doc_id % 11 = 0). The
# canonical pretraining hygiene op: explode shingles on both sides, hash
# equi-join, count distinct collisions per (corpus, eval) pair. At corpus
# scale the eval side is tiny -> broadcast. NOTE: this registered
# (oracle-matched) form applies NO document-frequency cap — a stop-shingle
# appearing in most eval and corpus docs fans out |corpus| x |eval| join
# rows. The 100 TB deployment should pre-filter hot shingles exactly as
# n-gram Jaccard does (neardup._shingle_index's stop_shingle_df), mirrored
# on both sides; it is omitted here so the oracle stays a plain join.
# ---------------------------------------------------------------------------
@register(
    "benchmark_decontamination",
    f"""
    WITH ev AS (
      SELECT doc_id AS eval_id, unnest({shingles_sql("text", 4)}) AS sh
      FROM documents WHERE doc_id % 11 = 0
    ),
    corpus AS (
      SELECT doc_id, unnest({shingles_sql("text", 4)}) AS sh FROM documents
    )
    SELECT doc_id, eval_id, count(DISTINCT sh) AS n_shared
    FROM corpus c JOIN ev e USING (sh)
    WHERE doc_id <> eval_id
    GROUP BY doc_id, eval_id
    """,
    survey_ref="training-data: eval-set decontamination (shingle collision join)",
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.operators.parallel import ensure_min_parallelism

    docs = ensure_min_parallelism(_t(spark, sf_dir, "documents"))
    sh = shingles("text", 4)
    ev = (
        docs.filter(F.col("doc_id") % 11 == 0)
        .select(F.col("doc_id").alias("eval_id"), F.explode(sh).alias("sh"))
    )
    corpus = docs.select("doc_id", F.explode(sh).alias("sh"))
    return (
        corpus.join(F.broadcast(ev), "sh")
        .filter(F.col("doc_id") != F.col("eval_id"))
        .groupBy("doc_id", "eval_id")
        .agg(F.count_distinct("sh").alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# Intra-document repetition signals (Gopher-style quality filters).
# ---------------------------------------------------------------------------
@register(
    "repetition_signals",
    """
    WITH g AS (
      SELECT doc_id,
             unnest([array_to_string(string_split(text, ' ')[i:i+1], ' ')
                     for i in range(1, len(string_split(text, ' ')))]) AS gram
      FROM documents
    ), per AS (
      SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2
    )
    SELECT doc_id, sum(c)::BIGINT AS n_grams,
           round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS top_gram_ratio,
           round((sum(c) - count(*))::DOUBLE / sum(c)::DOUBLE, 6) AS dup_gram_ratio
    FROM per GROUP BY doc_id
    """,
    survey_ref="LLM text analysis: repetition/boilerplate quality signals",
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_signals(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# PII redaction. The synthetic corpus contains no organic PII (a blanket
# 0-redactions result would pass trivially), so each doc gets a
# deterministic email+phone suffix appended IN the query — identically in
# both engines — and the redactor must then find exactly those spans.
# ---------------------------------------------------------------------------
@register(
    "pii_redaction",
    """
    WITH aug AS (
      SELECT doc_id,
             text || printf(' contact user%d@example.com call 555-%04d now',
                            doc_id, doc_id % 10000) AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+'))::BIGINT AS n_emails,
           len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones,
           md5(regexp_replace(
                 regexp_replace(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
                 '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
    survey_ref="LLM text analysis: PII scrubbing (regexp_replace/count projection)",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.format_string(
                " contact user%d@example.com call 555-%04d now",
                F.col("doc_id"),
                F.col("doc_id") % 10000,
            ),
        ).alias("text"),
    )
    red = text.redact_pii(docs)
    return red.select(
        "doc_id", "n_emails", "n_phones", F.md5("text").alias("redacted_md5")
    )


# ---------------------------------------------------------------------------
# Mean-pooled centroid per label — the embedding aggregation every
# clustering/retrieval pipeline needs (class prototypes, per-source drift
# monitoring). Output is the EXPLODED (label, dim, mean) form: arrays in a
# result column would crash order-insensitive canonicalization (the
# approx_aggregates lesson), and the long form joins/filters better anyway.
# Scale: posexplode widens rows x dim, but partial aggregation collapses to
# labels x dims per map task before the single shuffle.
# ---------------------------------------------------------------------------
@register(
    "embedding_centroid_per_label",
    """
    SELECT label,
           CAST(dim - 1 AS INTEGER) AS dim,
           round(avg(x), 6) AS mean_val,
           count(*) AS n_vecs
    FROM (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    )
    GROUP BY 1, 2
    """,
    survey_ref="embedding ops: per-group mean pooling (class centroids)",
)
def embedding_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
        )
        .groupBy("label", F.col("dim").cast("int").alias("dim"))
        .agg(
            F.round(F.avg("x"), 6).alias("mean_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


# ---------------------------------------------------------------------------
# Batched exact retrieval: top-5 per query for a 5-vector query set in ONE
# corpus scan (broadcast query frame + WindowGroupLimit per-query top-k) —
# the shape real retrieval runs, vs. the single-vector baseline above.
# ---------------------------------------------------------------------------
@register(
    "ann_batch_topk",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_inner_product(e.v, q.qv)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product(q.qv, q.qv))), 6) AS cos_sim
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cos_sim, rnk FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
    survey_ref="similarity: batched exact top-k (one scan, |Q| queries)",
)
def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    return similarity.batch_topk(emb, queries, k=5)


# ---------------------------------------------------------------------------
# Batched IVF ANN: a 3-query set through the SAME cell-partitioned index —
# one partition-pruned scan of the union of probed cells, broadcast
# (query, cell) routing join, per-query WindowGroupLimit top-k. The oracle
# composes the unrolled k-means with a per-query probe ranking.
# ---------------------------------------------------------------------------
def _ann_ivf_batch_oracle() -> str:
    iters = []
    prev = "c0"
    for it in range(1, _IVF_ITERS + 1):
        iters.append(_kmeans_assign_cte(f"a{it}", prev) + ",")
        iters.append(_kmeans_update_cte(f"a{it}", prev, f"c{it}") + ",")
        prev = f"c{it}"
    body = "\n".join(iters)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_IVF_K})
    ),
    {body}
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
    probe AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, {prev}.cell,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {_sqdist_sql('q.qv', f'{prev}.v')},
                                           {prev}.cell) AS rn
        FROM {prev} CROSS JOIN q
      ) WHERE rn <= {_IVF_NPROBE}
    ),
    {_kmeans_assign_cte('af', prev)}
    SELECT query_id, vec_id, cos_sim, rnk FROM (
      SELECT p.query_id, af.vec_id,
             round(list_inner_product(af.v, q.qv)
                   / (sqrt(list_inner_product(af.v, af.v))
                      * sqrt(list_inner_product(q.qv, q.qv))), 6) AS cos_sim,
             row_number() OVER (PARTITION BY p.query_id
                                ORDER BY round(list_inner_product(af.v, q.qv)
                   / (sqrt(list_inner_product(af.v, af.v))
                      * sqrt(list_inner_product(q.qv, q.qv))), 6) DESC,
                                         af.vec_id) AS rnk
      FROM af JOIN probe p USING (cell) JOIN q USING (query_id)
    ) WHERE rnk <= 10
    """


@register(
    "ann_ivf_batch_topk",
    _ann_ivf_batch_oracle(),
    survey_ref="similarity: batched IVF ANN (one pruned scan, |Q| queries)",
)
def ann_ivf_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.buildonce import build_once
    from binance_etl_clickhouse_spark.operators.ivf import (
        ivf_batch_topk_from_table,
        write_ivf_table,
    )

    emb = _t(spark, sf_dir, "embeddings")
    codebook = _ivf_codebook(spark, sf_dir)
    qrows = emb.filter(F.col("vec_id") < 3).select("vec_id", "embedding").collect()
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows]
    # same prefix + key material as ann_ivf_topk: the two queries share
    # one built layout
    path = build_once(
        "ivf",
        f"{sf_dir}:{codebook}",
        "_SUCCESS",
        lambda p: write_ivf_table(emb, codebook, p),
    )
    return ivf_batch_topk_from_table(
        spark, path, codebook, queries, k=10, nprobe=_IVF_NPROBE
    )


# ---------------------------------------------------------------------------
# Semantic decontamination: flag corpus vectors whose max cosine against a
# broadcast eval set clears a threshold — the embedding-space complement of
# the shingle-based benchmark_decontamination (paraphrased leakage that
# shares no n-grams). Work is |corpus| x |eval| inside the scan stage; the
# only shuffle is the per-vector max (partial-aggregated map-side). max and
# HALF_UP round commute (round is monotone), so rounding before the max
# keeps oracle tie parity.
# ---------------------------------------------------------------------------
_SEMDECON_TAU = 0.6
_SEMDECON_EVAL_N = 50


@register(
    "embedding_decontamination",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ev AS (SELECT vec_id AS eval_id, v AS ev_v FROM e WHERE vec_id < {_SEMDECON_EVAL_N}),
    tr AS (SELECT vec_id, v FROM e WHERE vec_id >= {_SEMDECON_EVAL_N}),
    scored AS (
      SELECT tr.vec_id,
             max(round(list_inner_product(tr.v, ev.ev_v)
                   / (sqrt(list_inner_product(tr.v, tr.v))
                      * sqrt(list_inner_product(ev.ev_v, ev.ev_v))), 6)) AS max_cos
      FROM tr CROSS JOIN ev
      GROUP BY tr.vec_id
    )
    SELECT vec_id, max_cos,
           CAST(CASE WHEN max_cos >= {_SEMDECON_TAU} THEN 1 ELSE 0 END AS INTEGER)
             AS contaminated
    FROM scored
    """,
    survey_ref="decontamination: embedding-space eval-set leakage flag",
)
def embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") < _SEMDECON_EVAL_N).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("ev_vec")
    )
    tr = emb.filter(F.col("vec_id") >= _SEMDECON_EVAL_N)
    sim = similarity.cosine_expr(
        F.col("embedding").cast("array<double>"), F.col("ev_vec").cast("array<double>")
    )
    return (
        tr.crossJoin(F.broadcast(ev))
        .groupBy("vec_id")
        .agg(F.max(F.round(sim, 6)).alias("max_cos"))
        .select(
            "vec_id",
            "max_cos",
            (F.col("max_cos") >= F.lit(_SEMDECON_TAU)).cast("int").alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer family (operators/bpe.py). Round-0 pair statistics are one
# aggregation -> full DuckDB oracle; the trainer is genuinely ITERATIVE
# (driver-loop argmax per merge) so it registers rows-only per the driver
# contract, with an exact pure-Python oracle pinned in tests/test_bpe.py.
# ---------------------------------------------------------------------------
_BPE_TOPK = 50
_BPE_MERGES = 12

#: (app_id, sf_dir, n_merges) -> trained BpeModel. Training is
#: deterministic, so reuse is safe — without this, bpe_token_counts_traced
#: re-runs the full iterative trainer bpe_train_merges already ran
#: (~25 jobs each), and the registry-wide plan audit pays it twice more.
#: The cached words frame is an eager localCheckpoint BOUND TO ITS
#: SparkContext, so the key carries the application id: a cached model
#: from a stopped session would otherwise be served to a new one and die
#: with a dead-context error instead of retraining.
_BPE_MODELS: dict = {}


def _bpe_model(spark: SparkSession, sf_dir: str):
    from binance_etl_clickhouse_spark.operators import bpe

    key = (spark.sparkContext.applicationId, sf_dir, _BPE_MERGES)
    if key not in _BPE_MODELS:
        for dead in [k for k in _BPE_MODELS if k[0] != key[0]]:
            del _BPE_MODELS[dead]  # models of other (dead) contexts
        _BPE_MODELS[key] = bpe.train_bpe(
            _t(spark, sf_dir, "documents"), n_merges=_BPE_MERGES
        )
    return _BPE_MODELS[key]


@register(
    "bpe_pair_stats",
    f"""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), wc AS (
      SELECT word, count(*)::BIGINT AS cnt FROM words WHERE word <> '' GROUP BY word
    ), syms AS (
      SELECT cnt,
             list_append([substr(word, i, 1) for i in range(1, len(word) + 1)],
                         '</w>') AS s
      FROM wc
    ), pairs AS (
      SELECT s[i] AS left_sym, s[i + 1] AS right_sym, cnt
      FROM syms, unnest(range(1, len(s))) AS t(i)
    )
    SELECT left_sym, right_sym, sum(cnt)::BIGINT AS freq
    FROM pairs GROUP BY 1, 2
    ORDER BY freq DESC, left_sym, right_sym LIMIT {_BPE_TOPK}
    """,
    survey_ref="tokenizer training: BPE round-0 merge-candidate statistics",
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top merge candidates before any merge: adjacent-symbol pair
    frequencies over the word dictionary (chars + end-of-word marker),
    weighted by word count. Two partial-aggregated shuffles (word count,
    pair count) over vocabulary-sized frames — corpus is scanned once."""
    from binance_etl_clickhouse_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents")
    pc = bpe.pair_counts(bpe.word_counts(docs))
    return (
        pc.select(
            F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"),
            F.col("freq"),
        )
        .orderBy(F.desc("freq"), F.asc("left_sym"), F.asc("right_sym"))
        .limit(_BPE_TOPK)
    )


@register(
    "bpe_train_merges",
    None,  # iterative trainer — no single-statement SQL twin; exact
    # pure-Python oracle pinned by tests/test_bpe.py (sf0.001 by default,
    # RUN_SF001=1 upshifts to sf0.01 like the parity suite)
    survey_ref="tokenizer training: distributed BPE merge learning",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table (rank, left, right, merged, freq)."""
    from binance_etl_clickhouse_spark.operators import bpe

    return bpe.merges_df(spark, _bpe_model(spark, sf_dir))


# ---------------------------------------------------------------------------
# BPE merge TRACE with a full value-hash oracle (VERDICT r2 stretch item):
# the trainer is iterative, but each round's (argmax pair, freq) IS
# SQL-expressible, so the first N rounds unroll into CTEs the same way the
# IVF oracle unrolls k-means. Round r: pair stats over the word frame
# after r-1 merges -> argmax by (freq DESC, left, right) -> apply the
# merge. The greedy leftmost non-overlapping merge application maps
# exactly onto string replace() over a bracket-delimited symbol string
# (chr(1)/chr(2) wrap each symbol, so partial-symbol matches are
# impossible and consecutive merges chain like the reference fold:
# "a a a a" + (a,a) -> "aa aa").
# ---------------------------------------------------------------------------
_BPE_TRACE_ROUNDS = 3


def _bpe_trace_oracle(
    rounds: int = _BPE_TRACE_ROUNDS,
    round_alias: str = "round",
    with_merged: bool = False,
    min_freq: int | None = None,
) -> str:
    """Unrolled per-round BPE argmax CTE chain.

    ``min_freq`` mirrors the trainer's stop condition: a round whose best
    pair falls below it yields an EMPTY b{rd} (the WHERE filters it out
    before the LIMIT), the CROSS JOIN empties every later word frame, and
    the UNION ALL tail simply emits no rows from the stopped round on —
    exactly :func:`operators.bpe.train_bpe`'s early exit. ``with_merged``
    adds the fused-symbol column (the full merge-table schema)."""

    def merge_apply(prev: str, best: str) -> str:
        return (
            "string_split(trim(replace("
            f"array_to_string(list_transform({prev}.s, x -> chr(1)||x||chr(2)), ''),"
            f" chr(1)||{best}.l||chr(2)||chr(1)||{best}.r||chr(2),"
            f" chr(1)||{best}.l||{best}.r||chr(2)), chr(1)||chr(2)), chr(2)||chr(1))"
        )

    stop = f"WHERE freq >= {min_freq} " if min_freq is not None else ""
    ctes = []
    prev = "w0"
    for rd in range(1, rounds + 1):
        ctes.append(
            f"""p{rd} AS (
      SELECT s[i] AS l, s[i + 1] AS r, sum(cnt)::BIGINT AS freq
      FROM {prev}, unnest(range(1, len(s))) AS t(i)
      WHERE s[i] <> '</w>' GROUP BY 1, 2
    ),
    b{rd} AS (SELECT l, r, freq FROM p{rd} {stop}ORDER BY freq DESC, l, r LIMIT 1)"""
        )
        if rd < rounds:
            ctes.append(
                f"""w{rd} AS (
      SELECT cnt, {merge_apply(prev, f'b{rd}')} AS s
      FROM {prev} CROSS JOIN b{rd}
    )"""
            )
            prev = f"w{rd}"
    body = ",\n    ".join(ctes)
    merged_col = ", l || r AS merged" if with_merged else ""
    tail = "\n    UNION ALL ".join(
        f"SELECT {rd}::BIGINT AS {round_alias}, l AS left_sym, r AS right_sym"
        f"{merged_col}, freq FROM b{rd}"
        for rd in range(1, rounds + 1)
    )
    return f"""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wc AS (
      SELECT word, count(*)::BIGINT AS cnt FROM words WHERE word <> '' GROUP BY word
    ),
    w0 AS (
      SELECT cnt,
             list_append([substr(word, i, 1) for i in range(1, len(word) + 1)],
                         '</w>') AS s
      FROM wc
    ),
    {body}
    {tail}
    """


@register(
    "bpe_merge_trace",
    _bpe_trace_oracle(),
    survey_ref=(
        "tokenizer training: BPE merge trace, first rounds fully "
        "oracle-checked (unrolled per-round argmax)"
    ),
)
def bpe_merge_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First ``_BPE_TRACE_ROUNDS`` merges of the distributed trainer as a
    checkable frame (round, left_sym, right_sym, freq). Reuses the shared
    trained model — the first N merges of an N'-merge run (N' >= N) equal
    an N-round run because each round depends only on the rounds before
    it; min_freq can only stop early below the trace depth on a corpus
    too tiny to ship."""
    from binance_etl_clickhouse_spark.operators import bpe

    return (
        bpe.merges_df(spark, _bpe_model(spark, sf_dir))
        .filter(F.col("rank") <= _BPE_TRACE_ROUNDS)
        .select(
            F.col("rank").cast("long").alias("round"),
            F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"),
            F.col("freq"),
        )
    )


#: fixed merge budget for the fully-oracled trainer run (r7 verdict item 4:
#: "a fixed small merge budget (e.g. 8 merges) with each merge's
#: pair-argmax unrolled as a CTE chain"). Must stay <= _BPE_MERGES so the
#: shared cached model covers it (the first N merges of an N'-merge run
#: equal an N-merge run — each round depends only on the rounds before it).
_BPE_TRAINED_BUDGET = 8


@register(
    "bpe_train_merges_traced",
    _bpe_trace_oracle(
        rounds=_BPE_TRAINED_BUDGET,
        round_alias="rank",
        with_merged=True,
        min_freq=2,
    ),
    survey_ref=(
        "tokenizer training: fixed-budget BPE trainer, the FULL merge "
        "table value-hash oracled (per-merge argmax + min_freq stop "
        "unrolled — shrinks the rows-only carve-outs to the unbounded "
        "trainers + sketches)"
    ),
)
def bpe_train_merges_traced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed BPE trainer under a FIXED 8-merge budget, returning
    the complete merge table (rank, left_sym, right_sym, merged, freq) —
    every row the trainer's driver loop produced, hash-checked against
    the oracle's unrolled per-round argmax chain. Where ``bpe_merge_trace``
    spot-checks the first 3 argmax picks, this pins the trainer END-TO-END
    at its budget: merge application (the greedy-leftmost fold), the
    (freq DESC, left, right) tie-break, AND the ``min_freq=2`` early stop
    (the oracle's per-round WHERE empties all later rounds exactly like
    the trainer's break). The unbounded trainer (``bpe_train_merges``,
    n_merges=12 on this corpus but corpus-dependent in general) remains
    rows-only with its pure-Python pytest oracle."""
    from binance_etl_clickhouse_spark.operators import bpe

    return (
        bpe.merges_df(spark, _bpe_model(spark, sf_dir))
        .filter(F.col("rank") <= _BPE_TRAINED_BUDGET)
        .select(
            F.col("rank").cast("long").alias("rank"),
            F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"),
            F.col("merged"),
            F.col("freq"),
        )
    )


def _bpe_traced_encode_oracle(rounds: int, min_freq: int = 2) -> str:
    """Unrolled train-then-encode oracle: the same per-round argmax chain
    as :func:`_bpe_trace_oracle` (8 rounds, ``min_freq`` stop), then the
    learned merges applied in order to the DISTINCT word dictionary and
    summed per document. The word frames use ``LEFT JOIN b{{rd}} ON TRUE``
    (not CROSS JOIN) so an early-stopped round — empty ``b{{rd}}`` — is a
    merge NO-OP instead of emptying the dictionary: exactly the trainer's
    break followed by encoding under the merges learned so far."""

    def merge_apply(prev: str, best: str) -> str:
        return (
            "string_split(trim(replace("
            f"array_to_string(list_transform({prev}.s, x -> chr(1)||x||chr(2)), ''),"
            f" chr(1)||{best}.l||chr(2)||chr(1)||{best}.r||chr(2),"
            f" chr(1)||{best}.l||{best}.r||chr(2)), chr(1)||chr(2)), chr(2)||chr(1))"
        )

    ctes = []
    prev = "w0"
    for rd in range(1, rounds + 1):
        ctes.append(
            f"""p{rd} AS (
      SELECT s[i] AS l, s[i + 1] AS r, sum(cnt)::BIGINT AS freq
      FROM {prev}, unnest(range(1, len(s))) AS t(i)
      WHERE s[i] <> '</w>' GROUP BY 1, 2
    ),
    b{rd} AS (SELECT l, r, freq FROM p{rd} WHERE freq >= {min_freq}
              ORDER BY freq DESC, l, r LIMIT 1),
    w{rd} AS (
      SELECT word, cnt,
             CASE WHEN b{rd}.l IS NULL THEN {prev}.s
                  ELSE {merge_apply(prev, f'b{rd}')} END AS s
      FROM {prev} LEFT JOIN b{rd} ON TRUE
    )"""
        )
        prev = f"w{rd}"
    body = ",\n    ".join(ctes)
    return f"""
    WITH dw AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE word <> ''
    ),
    wc AS (SELECT word, count(*)::BIGINT AS cnt FROM dw GROUP BY word),
    w0 AS (
      SELECT word, cnt,
             list_append([substr(word, i, 1) for i in range(1, len(word) + 1)],
                         '</w>') AS s
      FROM wc
    ),
    {body},
    seg AS (SELECT word, len(s)::BIGINT AS n_sub FROM {prev})
    SELECT dw.doc_id, count(*)::BIGINT AS n_words,
           sum(seg.n_sub)::BIGINT AS n_bpe_tokens,
           round(sum(seg.n_sub) * 1.0 / count(*), 6) AS pieces_per_word
    FROM dw JOIN seg USING (word)
    GROUP BY dw.doc_id
    """


@register(
    "bpe_token_counts_traced",
    _bpe_traced_encode_oracle(rounds=_BPE_TRAINED_BUDGET),
    survey_ref=(
        "tokenizer training: dictionary-join BPE encoding under the "
        "traced fixed-budget trainer — train AND encode fully value-hash "
        "oracled end-to-end (r8 verdict item 5; rows-only carve-outs "
        "shrink to the unbounded trainers + sketches)"
    ),
)
def bpe_token_counts_traced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subword counts under the first ``_BPE_TRAINED_BUDGET``
    learned merges — the trained-encode twin of ``bpe_train_merges_traced``.
    Reuses the shared cached model (the first N merges of an N'-merge run
    equal an N-merge run), segments the DISTINCT-word dictionary once by
    replaying those merges as chained greedy-leftmost folds (pure
    projections over the vocabulary frame, no shuffle), then one broadcast
    equi-join back to the corpus words: the corpus is scanned once no
    matter how many merges apply, the same plan shape the unbounded
    encoder (operators/bpe.py encode_token_counts) uses at any scale."""
    from binance_etl_clickhouse_spark.operators import bpe
    from binance_etl_clickhouse_spark.operators.texthash import tokens as _tok

    docs = _t(spark, sf_dir, "documents")
    model = _bpe_model(spark, sf_dir)
    merges = [(l, r) for l, r, _f in model.merges[:_BPE_TRAINED_BUDGET]]
    dw = docs.select("doc_id", F.explode(_tok("text")).alias("word")).filter(
        F.col("word") != ""
    )
    syms = bpe.chars_with_eow(F.col("word"))
    for left, right in merges:
        syms = bpe.merge_pair_expr(syms, left, right)
    seg = (
        dw.select("word")
        .distinct()
        .select("word", F.size(syms).cast("long").alias("n_sub"))
    )
    return (
        dw.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_bpe_tokens"),
            F.round(F.sum("n_sub") / F.count(F.lit(1)), 6).alias("pieces_per_word"),
        )
    )


# ---------------------------------------------------------------------------
# IVF range search: all neighbors within a cosine radius of each query, from
# the SAME cell-partitioned layout the top-k queries use — pruned scan +
# broadcast routing join + per-row threshold; no shuffle after the scan.
# The oracle composes the unrolled k-means with the probe and the radius
# filter (no rank window — that is the point of range search).
# ---------------------------------------------------------------------------
_IVF_RANGE_R = 0.3


def _ann_ivf_range_oracle() -> str:
    iters = []
    prev = "c0"
    for it in range(1, _IVF_ITERS + 1):
        iters.append(_kmeans_assign_cte(f"a{it}", prev) + ",")
        iters.append(_kmeans_update_cte(f"a{it}", prev, f"c{it}") + ",")
        prev = f"c{it}"
    body = "\n".join(iters)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_IVF_K})
    ),
    {body}
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
    probe AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, {prev}.cell,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {_sqdist_sql('q.qv', f'{prev}.v')},
                                           {prev}.cell) AS rn
        FROM {prev} CROSS JOIN q
      ) WHERE rn <= {_IVF_NPROBE}
    ),
    {_kmeans_assign_cte('af', prev)}
    SELECT p.query_id, af.vec_id,
           round(list_inner_product(af.v, q.qv)
                 / (sqrt(list_inner_product(af.v, af.v))
                    * sqrt(list_inner_product(q.qv, q.qv))), 6) AS cos_sim
    FROM af JOIN probe p USING (cell) JOIN q USING (query_id)
    WHERE round(list_inner_product(af.v, q.qv)
                / (sqrt(list_inner_product(af.v, af.v))
                   * sqrt(list_inner_product(q.qv, q.qv))), 6) >= {_IVF_RANGE_R}
      AND af.vec_id <> p.query_id
    """


@register(
    "ann_ivf_range_search",
    _ann_ivf_range_oracle(),
    survey_ref="similarity: IVF range search (radius retrieval, pruned scan)",
)
def ann_ivf_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.buildonce import build_once
    from binance_etl_clickhouse_spark.operators.ivf import (
        ivf_range_from_table,
        write_ivf_table,
    )

    emb = _t(spark, sf_dir, "embeddings")
    codebook = _ivf_codebook(spark, sf_dir)
    qrows = emb.filter(F.col("vec_id") < 3).select("vec_id", "embedding").collect()
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows]
    # same prefix + key material as ann_ivf_topk/batch: one shared layout
    path = build_once(
        "ivf",
        f"{sf_dir}:{codebook}",
        "_SUCCESS",
        lambda p: write_ivf_table(emb, codebook, p),
    )
    return ivf_range_from_table(
        spark, path, codebook, queries, radius=_IVF_RANGE_R, nprobe=_IVF_NPROBE
    )


# ---------------------------------------------------------------------------
# PCA projection: top-4 power-iteration principal components of the
# embedding corpus. The covariance fit is ONE distributed aggregation
# (d + d^2 partial sums, independent of row count) + a fixed-iteration
# power method on the driver (pure sequential-sum Python, no numpy, so
# every inner sum runs in the same order as the oracle's list_inner_
# product). The oracle UNROLLS the identical iterations in SQL — flat
# 4096-element covariance list, per-iteration matvec via sliced inner
# products, normalization, deflation — the same full-re-derivation
# pattern as the unrolled k-means oracles, so the driver hash pins fit
# AND projection end-to-end with no fitted literals crossing engines.
# ---------------------------------------------------------------------------
_PCA_K, _PCA_ITERS = 4, 12


def _pca_oracle() -> str:
    d, d2 = _EMB_DIM, _EMB_DIM * _EMB_DIM
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""mom AS (
      SELECT idx, avg(x) AS m FROM (
        SELECT unnest([q for q in range(0, {d + d2})]) AS idx,
               unnest(v || [v[((p-1)//{d})+1] * v[((p-1)%{d})+1]
                            for p in range(1, {d2 + 1})]) AS x
        FROM e
      ) GROUP BY idx
    )""",
        "ml AS (SELECT list(m ORDER BY idx) AS a FROM mom)",
        f"""c0 AS (
      SELECT a[1 : {d}] AS mu,
             [a[{d} + p] - a[((p-1)//{d})+1] * a[((p-1)%{d})+1]
              for p in range(1, {d2 + 1})] AS c
      FROM ml
    )""",
    ]
    prev_cov = "c0"
    comp_names = []
    for comp in range(_PCA_K):
        w = f"w{comp}_0"
        # v0 = (1/sqrt(d), ...) — exactly 0.125 for d=64
        ctes.append(
            f"{w} AS (SELECT mu, c, [{1.0 / (d ** 0.5)!r} for q in range(1, {d + 1})] AS w FROM {prev_cov})"
        )
        for it in range(1, _PCA_ITERS + 1):
            u = f"u{comp}_{it}"
            wn = f"w{comp}_{it}"
            ctes.append(
                f"""{u} AS (
      SELECT mu, c,
             [list_inner_product(c[(i-1)*{d}+1 : i*{d}], w)
              for i in range(1, {d + 1})] AS u
      FROM {w}
    )"""
            )
            ctes.append(
                f"{wn} AS (SELECT mu, c, "
                f"list_transform(u, x -> x / sqrt(list_inner_product(u, u))) AS w "
                f"FROM {u})"
            )
            w = wn
        comp_names.append(w)
        if comp < _PCA_K - 1:
            lam = f"l{comp}"
            nxt = f"c{comp + 1}"
            # lam = w^T C w (hoisted once), then deflate C <- C - lam w w^T
            ctes.append(
                f"""{lam} AS (
      SELECT mu, c, w,
             list_inner_product(w,
               [list_inner_product(c[(i-1)*{d}+1 : i*{d}], w)
                for i in range(1, {d + 1})]) AS lam
      FROM {w}
    )"""
            )
            ctes.append(
                f"""{nxt} AS (
      SELECT mu,
             [c[p] - lam * w[((p-1)//{d})+1] * w[((p-1)%{d})+1]
              for p in range(1, {d2 + 1})] AS c
      FROM {lam}
    )"""
            )
            prev_cov = nxt
    selects = [
        f"""SELECT e.vec_id, {comp} AS comp,
        round(list_inner_product(e.v, t.w) - list_inner_product(t.mu, t.w), 6)
          AS pc_value
    FROM e CROSS JOIN {name} t"""
        for comp, name in enumerate(comp_names)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "embedding_pca_project",
    _pca_oracle(),
    survey_ref=(
        "embedding ops: PCA dimensionality reduction (one-pass covariance, "
        "fixed-iteration power method, fully SQL-unrolled oracle)"
    ),
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.operators.pca import fit_pca, project_pca

    emb = _t(spark, sf_dir, "embeddings")
    means, comps = fit_pca(emb, dim=_EMB_DIM, k=_PCA_K, iters=_PCA_ITERS)
    return project_pca(emb, means, comps)


# ---------------------------------------------------------------------------
# k-NN majority-vote label classifier: label the first _KNN_Q vectors by
# the majority label of their 5 nearest labeled neighbors (the rest of the
# corpus). Pure composition of the verified batched-retrieval shape: one
# corpus scan, broadcast query frame, WindowGroupLimit top-k, then a
# votes-per-label aggregate and a deterministic (votes DESC, label ASC)
# argmax window. The semi-supervised labeling pass of a curation pipeline.
# ---------------------------------------------------------------------------
_KNN_Q, _KNN_K = 20, 5


@register(
    "knn_label_classifier",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_KNN_Q}),
    c AS (SELECT vec_id, label, v FROM e WHERE vec_id >= {_KNN_Q}),
    scored AS (
      SELECT q.query_id, c.vec_id, c.label,
             round(list_inner_product(c.v, q.qv)
                   / (sqrt(list_inner_product(c.v, c.v))
                      * sqrt(list_inner_product(q.qv, q.qv))), 6) AS cos_sim
      FROM c CROSS JOIN q
    ),
    top AS (
      SELECT query_id, label FROM (
        SELECT query_id, label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rnk
        FROM scored
      ) WHERE rnk <= {_KNN_K}
    ),
    votes AS (
      SELECT query_id, label, count(*)::BIGINT AS n_votes
      FROM top GROUP BY query_id, label
    )
    SELECT query_id, label AS pred_label, n_votes FROM (
      SELECT query_id, label, n_votes,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY n_votes DESC, label) AS rn
      FROM votes
    ) WHERE rn = 1
    """,
    survey_ref=(
        "embedding ops: k-NN majority-vote labeling "
        "(batched retrieval + deterministic argmax)"
    ),
)
def knn_label_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from binance_etl_clickhouse_spark.operators.similarity import batch_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_Q).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    corpus_side = emb.filter(F.col("vec_id") >= _KNN_Q)
    top = batch_topk(corpus_side, queries, k=_KNN_K, exclude_self=False)
    votes = (
        top.join(
            emb.select("vec_id", "label"), "vec_id"
        )
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), F.col("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "n_votes")
    )


# ---------------------------------------------------------------------------
# Cluster-representative selection: the keep/drop manifest that completes
# the dedup story — pair detection -> connected components -> keep the
# BEST-QUALITY document per cluster (not the arbitrary min-id canonical),
# ties on doc_id. Composes the clusters fixpoint with the quality score;
# the oracle composes the recursive-CTE closure with the same score SQL.
# ---------------------------------------------------------------------------
@register(
    "cluster_representative_select",
    f"""
    WITH RECURSIVE {_SH_CTE.strip().rstrip()},
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
    canon AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node),
    qual AS (
      SELECT doc_id,
             round(
               least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.4
               + (len(list_distinct(string_split(text, ' ')))
                  / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.4
               + (1 - len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a')))
                      / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.2,
               6) AS quality_score
      FROM documents
    ),
    ranked AS (
      SELECT c.doc_id, c.cluster_id, q.quality_score,
             count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.quality_score DESC, c.doc_id) AS rn
      FROM canon c JOIN qual q USING (doc_id)
    )
    SELECT doc_id, cluster_id, cluster_size::BIGINT AS cluster_size,
           quality_score, rn = 1 AS keep
    FROM ranked
    """,
    survey_ref=(
        "dedup: cluster-representative selection "
        "(keep best-quality doc per near-dup cluster)"
    ),
)
def cluster_representative_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from binance_etl_clickhouse_spark.operators.text import quality_features

    docs = _t(spark, sf_dir, "documents")
    pairs = neardup.ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    clusters = neardup.neardup_clusters(docs, pairs)
    qual = quality_features(docs).select("doc_id", "quality_score")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    return (
        clusters.join(qual, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "quality_score",
            (F.col("rn") == 1).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# k-means cluster quality: per-cell size, mean distance-to-centroid, and the
# Davies-Bouldin ratio R_i = max_{j != i} (S_i + S_j) / d(c_i, c_j) — the
# fitness check a corpus-clustering pass (SemDeDup cells, IVF codebooks)
# runs before trusting the partition. Reuses the SAME deterministic
# codebook as the IVF family (cached), so the oracle unrolls the identical
# k-means and recomputes every statistic from scratch. The pairwise-
# centroid stage is a k x k frame (k=8) — the BroadcastNestedLoopJoin there
# touches centroid rows only, never the corpus (audited in the plan tests).
# ---------------------------------------------------------------------------
def _kmeans_quality_oracle() -> str:
    iters = []
    prev = "c0"
    for it in range(1, _IVF_ITERS + 1):
        iters.append(_kmeans_assign_cte(f"a{it}", prev) + ",")
        iters.append(_kmeans_update_cte(f"a{it}", prev, f"c{it}") + ",")
        prev = f"c{it}"
    body = "\n".join(iters)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_IVF_K})
    ),
    {body}
    {_kmeans_assign_cte('af', prev)},
    s AS (
      SELECT af.cell, count(*)::BIGINT AS n_vectors,
             avg(sqrt({_sqdist_sql('af.v', f'{prev}.v')})) AS s
      FROM af JOIN {prev} USING (cell)
      GROUP BY af.cell
    ),
    pc AS (SELECT s.cell, s.n_vectors, s.s, {prev}.v FROM s JOIN {prev} USING (cell)),
    r AS (
      SELECT a.cell,
             max((a.s + b.s) / sqrt({_sqdist_sql('a.v', 'b.v')})) AS r
      FROM pc a JOIN pc b ON a.cell <> b.cell
      GROUP BY a.cell
    )
    SELECT pc.cell::INT AS cell, pc.n_vectors, round(pc.s, 6) AS avg_dist,
           round(r.r, 6) AS db_ratio
    FROM pc JOIN r USING (cell)
    """


@register(
    "kmeans_cluster_quality",
    _kmeans_quality_oracle(),
    survey_ref="clustering: k-means per-cell stats + Davies-Bouldin ratio",
)
def kmeans_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_clickhouse_spark.operators.ivf import _as_double

    emb = _t(spark, sf_dir, "embeddings")
    cent = _ivf_codebook(spark, sf_dir)
    v = _as_double("embedding")
    dists = []
    for c in cent:
        cv = F.array(*[F.lit(float(x)) for x in c])
        diff = F.zip_with(v, cv, lambda a, b: (a - b) * (a - b))
        dists.append(F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x))
    # stage the k-distance array once: argmin + min + sqrt(min) would
    # otherwise each re-evaluate all k 64-dim folds (subtree duplication)
    staged = emb.select("vec_id", F.array(*dists).alias("darr"))
    assigned = staged.select(
        "vec_id",
        (F.array_position("darr", F.array_min("darr")) - 1).cast("int").alias("cell"),
        F.sqrt(F.array_min("darr")).alias("dist"),
    )
    s = assigned.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_vectors"), F.avg("dist").alias("s")
    )
    centdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cent)],
        "cell int, v array<double>",
    )
    pc = s.join(F.broadcast(centdf), "cell")
    other = pc.select(
        F.col("cell").alias("cell2"), F.col("s").alias("s2"), F.col("v").alias("v2")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("v2"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    r = (
        pc.join(F.broadcast(other), F.col("cell") != F.col("cell2"))
        .groupBy("cell")
        .agg(F.max((F.col("s") + F.col("s2")) / F.sqrt(d2)).alias("r"))
    )
    return (
        pc.join(r, "cell")
        .select(
            "cell",
            "n_vectors",
            F.round("s", 6).alias("avg_dist"),
            F.round("r", 6).alias("db_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# MMR (maximal marginal relevance) diversified retrieval: greedy top-R
# selection maximizing lambda*sim(q,d) - (1-lambda)*max_{s in S} sim(d,s).
# The candidate pool is the exact cosine top-C (bounded frame, C=12); the
# greedy loop runs R=5 one-row argmax jobs over that cached pool — driver
# traffic is R single rows, never the corpus. All cosines are rounded to
# 6 dp BEFORE comparison on both engines, so the greedy argmax (and hence
# the selection) is deterministic cross-engine; the oracle unrolls the
# identical R steps as chained LIMIT-1 CTEs. At scale the pool comes from
# the IVF/LSH pruned probe instead of the brute-force scan — the greedy
# stage is pool-sized either way.
# ---------------------------------------------------------------------------
_MMR_C, _MMR_R, _MMR_L = 12, 5, 0.7


def _cos_sql(a: str, b: str) -> str:
    return (
        f"round(list_inner_product({a}, {b}) / "
        f"(sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b}))), 6)"
    )


def _mmr_oracle() -> str:
    steps = []
    prev_union = None
    for t in range(1, _MMR_R + 1):
        if t == 1:
            steps.append(f"""s1 AS (
      SELECT vec_id, v, cosq, 1 AS rank FROM cand
      ORDER BY round({_MMR_L} * cosq, 6) DESC, vec_id LIMIT 1
    )""")
            prev_union = "SELECT vec_id, v FROM s1"
        else:
            steps.append(f"""s{t} AS (
      SELECT vec_id, v, cosq, {t} AS rank FROM (
        SELECT c.vec_id, c.v, c.cosq,
               round({_MMR_L} * c.cosq - {round(1 - _MMR_L, 10)} *
                     (SELECT max({_cos_sql('c.v', 's.v')}) FROM ({prev_union}) s), 6)
                 AS sc
        FROM cand c
        WHERE c.vec_id NOT IN (SELECT vec_id FROM ({prev_union}) sel)
      ) ORDER BY sc DESC, vec_id LIMIT 1
    )""")
            prev_union += f" UNION ALL SELECT vec_id, v FROM s{t}"
    body = ",\n    ".join(steps)
    final = " UNION ALL ".join(
        f"SELECT rank, vec_id, cosq FROM s{t}" for t in range(1, _MMR_R + 1)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cand AS (
      SELECT vec_id, v, {_cos_sql('v', 'qv')} AS cosq
      FROM e CROSS JOIN q
      ORDER BY cosq DESC, vec_id LIMIT {_MMR_C}
    ),
    {body}
    SELECT rank::BIGINT AS rank, vec_id, cosq AS cos_sim FROM ({final})
    """


@register(
    "mmr_diversified_topk",
    _mmr_oracle(),
    survey_ref="retrieval: MMR diversified top-k (greedy over bounded candidate pool)",
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from decimal import ROUND_HALF_UP, Decimal

    from binance_etl_clickhouse_spark.operators.ivf import _as_double
    from binance_etl_clickhouse_spark.operators.similarity import cosine_expr

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    qarr = F.array(*[F.lit(x) for x in qvec])
    v = _as_double("embedding")
    # ONE distributed job: the candidate pool is _MMR_C rows by
    # construction (bounded collect — greedy selection needs every
    # remaining candidate rescored against the growing selected set each
    # round, so running it driver-side over <= 12 rows replaces R+1 Spark
    # jobs with zero)
    pool = (
        emb.select(
            "vec_id",
            v.alias("v"),
            F.round(cosine_expr(v, qarr), 6).alias("cosq"),
        )
        .orderBy(F.col("cosq").desc(), "vec_id")
        .limit(_MMR_C)
        .collect()
    )

    # driver-side arithmetic reproduces the Spark expressions bit-exactly:
    # dot/norm are the same sequential left-folds as
    # similarity.dot_expr/norm_expr, and _r6 mirrors F.round's
    # BigDecimal.valueOf(double) HALF_UP semantics (Decimal(repr(x)) is the
    # same shortest-roundtrip decimal)
    def _r6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    def _cos(a: list[float], b: list[float]) -> float:
        dot = 0.0
        for xy in [x * y for x, y in zip(a, b)]:
            dot = dot + xy
        na = 0.0
        for xx in [x * x for x in a]:
            na = na + xx
        nb = 0.0
        for yy in [y * y for y in b]:
            nb = nb + yy
        import math

        return dot / (math.sqrt(na) * math.sqrt(nb))

    coef = round(1 - _MMR_L, 10)
    selected: list[tuple[int, list[float], float]] = []
    chosen: set[int] = set()
    for _ in range(_MMR_R):
        best = None
        for r in pool:
            if r.vec_id in chosen:
                continue
            if not selected:
                sc = _r6(_MMR_L * r.cosq)
            else:
                maxsim = max(_r6(_cos(list(r.v), svec)) for _, svec, _ in selected)
                sc = _r6(_MMR_L * r.cosq - coef * maxsim)
            key = (-sc, r.vec_id)
            if best is None or key < best[0]:
                best = (key, r)
        row = best[1]
        selected.append((int(row.vec_id), list(row.v), float(row.cosq)))
        chosen.add(row.vec_id)
    return spark.createDataFrame(
        [(i, vid, cosq) for i, (vid, _, cosq) in enumerate(selected, start=1)],
        schema="rank long, vec_id long, cos_sim double",
    )


def _ann_recall_oracle() -> str:
    # exact leg + the identical unrolled-k-means IVF leg, then recall@k =
    # |exact@k ∩ ivf@k| / k for k in (1, 5, 10)
    iters = []
    prev = "c0"
    for it in range(1, _IVF_ITERS + 1):
        iters.append(_kmeans_assign_cte(f"a{it}", prev) + ",")
        iters.append(_kmeans_update_cte(f"a{it}", prev, f"c{it}") + ",")
        prev = f"c{it}"
    body = "\n".join(iters)
    cos = (
        "round(list_inner_product(v, qv)"
        " / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))), 6)"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_IVF_K})
    ),
    {body}
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    exact AS (
      SELECT vec_id, row_number() OVER (ORDER BY {cos} DESC, vec_id) AS r
      FROM e CROSS JOIN q WHERE vec_id <> 0
      ORDER BY {cos} DESC, vec_id LIMIT 10
    ),
    probe AS (
      SELECT cell FROM {prev} CROSS JOIN q
      ORDER BY {_sqdist_sql('qv', f'{prev}.v')}, cell LIMIT {_IVF_NPROBE}
    ),
    {_kmeans_assign_cte('af', prev)},
    ivf AS (
      SELECT vec_id, row_number() OVER (ORDER BY {cos} DESC, vec_id) AS r
      FROM af CROSS JOIN q
      WHERE cell IN (SELECT cell FROM probe) AND vec_id <> 0
      ORDER BY {cos} DESC, vec_id LIMIT 10
    ),
    hits AS (
      SELECT exact.r AS er, ivf.r AS ir FROM exact JOIN ivf USING (vec_id)
    )
    SELECT k::BIGINT AS k,
           count(CASE WHEN er <= k AND ir <= k THEN 1 END)::BIGINT AS n_hits,
           round(count(CASE WHEN er <= k AND ir <= k THEN 1 END) * 1.0 / k, 6) AS recall
    FROM (SELECT unnest([1, 5, 10]) AS k) ks LEFT JOIN hits ON true
    GROUP BY k
    """


@register(
    "ann_recall_at_k",
    _ann_recall_oracle(),
    survey_ref="similarity eval: IVF recall@k against the exact top-k (index-quality monitoring)",
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{1,5,10} of the partition-pruned IVF index against the
    brute-force exact neighbors — the index-quality metric a production
    ANN deployment tracks continuously (an index rebuilt on drifted data
    silently loses recall; this query is the monitor). Both legs rank by
    (cos DESC, vec_id), so the metric is deterministic."""
    from pyspark.sql import Window as W

    from binance_etl_clickhouse_spark.buildonce import build_once
    from binance_etl_clickhouse_spark.operators.ivf import (
        ivf_topk_from_table,
        write_ivf_table,
    )

    emb = _t(spark, sf_dir, "embeddings")
    codebook = _ivf_codebook(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = build_once(
        "ivf",
        f"{sf_dir}:{codebook}",
        "_SUCCESS",
        lambda p: write_ivf_table(emb, codebook, p),
    )
    rank = W.orderBy(F.col("cos_sim").desc(), "vec_id")
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = v.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    exact = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(similarity.cosine_expr(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
        .withColumn("er", F.row_number().over(rank))
    )
    ivf = (
        ivf_topk_from_table(spark, path, codebook, qv, k=11, nprobe=_IVF_NPROBE)
        .filter(F.col("vec_id") != 0)
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
        .withColumn("ir", F.row_number().over(rank))
    )
    hits = exact.join(ivf.select("vec_id", "ir"), "vec_id").select("er", "ir")
    ks = spark.range(1).select(F.explode(F.array(F.lit(1), F.lit(5), F.lit(10))).alias("k"))
    # Left-join the k frame against the aggregated hit counts so the monitor
    # still emits one row per k with n_hits=0 when the IVF and exact top-10
    # are disjoint — exactly the case where it must report (a bare
    # crossJoin(hits).groupBy would emit 0 rows on an empty hits frame).
    per_k = (
        ks.crossJoin(F.broadcast(hits))
        .groupBy("k")
        .agg(
            F.sum(
                F.when((F.col("er") <= F.col("k")) & (F.col("ir") <= F.col("k")), 1).otherwise(0)
            ).cast("long").alias("n_hits")
        )
    )
    return (
        ks.join(per_k, "k", "left")
        .select(
            F.col("k").cast("long").alias("k"),
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k"), 6).alias("recall"),
        )
    )
