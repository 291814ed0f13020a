"""Training-data-pipeline queries: dedup, similarity search, text analysis,
multimodal column plumbing — the north-star extensions (SURVEY §7.2 step 5)
over the ``documents`` and ``embeddings`` tables.

Oracle-parity notes: token/shingle semantics are mirrored exactly in DuckDB
SQL (regex split + empty filter + distinct 3-grams); md5/sha256 agree across
engines; cosine/jaccard values are ROUND(.,6) so fold order can't flip the
hash. MinHash-LSH and SimHash queries are verified against brute-force
oracles where the data's similarity gap makes LSH recall deterministic
(near-dup pairs here sit at jaccard >= 0.95; banding catches those with
probability ~1-1e-6 given 8 bands x 4 rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.functions.text import (
    LANG_STOPWORDS,
    bpe_ish_tokens,
    fingerprint,
    lang_id,
    ngram_shingles,
    quality_features,
    quality_score,
    token_count,
    tokens,
)
from taxi_data_datapipeline_spark.operators.dedup import (
    blocked_jaccard_pairs,
    exact_dedup,
    hamming_pairs,
    minhash_lsh_pairs,
    simhash_dedup,
)
from taxi_data_datapipeline_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    lsh_topk,
    norm,
    similarity_join,
    similarity_join_blas,
)
from taxi_data_datapipeline_spark.queries import load, register, shared

# Shared DuckDB snippets mirroring functions/text.py exactly.
_SQL_TOKS = r"list_filter(string_split_regex(text, '\s+'), t -> t != '')"
_SQL_GRAMS = f"""
CASE WHEN len({_SQL_TOKS}) >= 3
     THEN list_distinct(list_transform(
              generate_series(1, len({_SQL_TOKS}) - 2),
              i -> {_SQL_TOKS}[i] || ' ' || {_SQL_TOKS}[i+1] || ' ' || {_SQL_TOKS}[i+2]))
     ELSE [array_to_string({_SQL_TOKS}, ' ')]
END
"""
_SQL_JACCARD = (
    "ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)"
    " / len(list_distinct(list_concat(a.grams, b.grams))), 6)"
)


# --- deduplication -----------------------------------------------------------


@register(
    "dedup_exact",
    r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (normalized-text) duplicate groups — hash groupBy, one shuffle."""
    return exact_dedup(load(spark, sf_dir, "documents", fan_out=True))


# Memoized verified-pairs table: minhash_lsh_dedup, dedup_groups_cc,
# dedup_groups_cc_star, and cluster_split all consume the IDENTICAL
# verified MinHash-LSH pair set over documents (32 perms, 8 bands,
# J>=0.5) — shingling + 32 hash mins + banding + exact verification,
# recomputed four times in a suite run. Materialize once per session
# with localCheckpoint (reference-tracked cleanup; eager, so the
# iterative CC consumers re-read a materialized table instead of
# re-deriving the whole LSH chain each label-propagation round).
def lsh_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        return minhash_lsh_pairs(
            load(spark, sf_dir, "documents", fan_out=True),
            num_perm=32,
            bands=8,
            jaccard_threshold=0.5,
        ).localCheckpoint(eager=True)

    return shared(spark, sf_dir, "lsh_pairs", build)


# The exact (lang, length-bucket)-blocked J >= 0.05 ground-truth pair
# table is consumed by THREE registered queries (ngram_jaccard_blocked,
# jaccard_threshold_sweep, lsh_s_curve) — share one checkpointed,
# answer-sized build per session.
def blocked_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        docs = load(spark, sf_dir, "documents", fan_out=True).withColumn(
            "lenb", F.expr("n_chars DIV 100")
        )
        return blocked_jaccard_pairs(
            docs, block_cols=["lang", "lenb"], threshold=0.05
        ).localCheckpoint(eager=True)

    return shared(spark, sf_dir, "blocked_pairs", build)


@register(
    "minhash_lsh_dedup",
    f"""
WITH g AS (SELECT doc_id, {_SQL_GRAMS} AS grams FROM documents)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {_SQL_JACCARD} AS jaccard
  FROM g a JOIN g b ON a.doc_id < b.doc_id)
WHERE jaccard >= 0.5
""",
)
def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH banding (8x4) + exact verification at jaccard>=0.5.

    Oracle is the brute-force all-pairs scan: valid because verified pairs
    here sit far above the banding recall cliff (see module doc).
    """
    return lsh_pairs_cached(spark, sf_dir)


@register(
    "ngram_jaccard_blocked",
    f"""
WITH g AS (SELECT doc_id, lang, n_chars // 100 AS lenb, {_SQL_GRAMS} AS grams
           FROM documents)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {_SQL_JACCARD} AS jaccard
  FROM g a JOIN g b
    ON a.lang = b.lang AND a.lenb = b.lenb AND a.doc_id < b.doc_id)
WHERE jaccard >= 0.05
""",
)
def q_ngram_jaccard_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise 3-gram Jaccard inside (lang, length-bucket) blocks —
    the bounded-quadratic ground-truth dedup tier."""
    return blocked_pairs_cached(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )


@register("simhash_pairs")  # engine-specific 64-bit hashing -> rows-only
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (hamming <= 3) with full recall: 4
    disjoint 16-bit block LSH tables — a pair within Hamming 3 agrees
    exactly on >= 1 of the 4 blocks (pigeonhole), so no true pair is
    missed. Fingerprint bits derive from xxhash64 — no cross-engine
    oracle; correctness is unit-tested (identical/near docs -> close
    fingerprints) AND the full pipeline is hash-verified through the
    portable-hash twin `simhash_pairs_checked`."""
    return simhash_dedup(load(spark, sf_dir, "documents", fan_out=True), max_hamming=3)


@register(
    "simhash_pairs_checked",
    f"""
WITH g AS (
  SELECT doc_id, unnest({_SQL_GRAMS}) AS gram FROM documents
), h AS (
  SELECT doc_id, CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT) AS hv FROM g
), bitc AS (
  SELECT doc_id, b.b AS b, SUM((hv >> b.b) & 1) AS c, COUNT(*) AS n
  FROM h, UNNEST(generate_series(0, 59)) AS b(b)
  GROUP BY doc_id, b.b
), fp AS (
  SELECT doc_id,
         SUM(CASE WHEN c * 2 > n THEN (1::BIGINT << b) ELSE 0 END) AS sh
  FROM bitc GROUP BY doc_id
), bk AS (
  SELECT doc_id, sh, t.t AS t, (sh >> (t.t * 15)) & 32767 AS bv
  FROM fp, UNNEST([0, 1, 2, 3]) AS t(t))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM bk a JOIN bk b ON a.t = b.t AND a.bv = b.bv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
""",
)
def q_simhash_pairs_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The simhash near-dup pipeline under FULL hash verification: same
    shingling, same bit-vote fingerprinting, same 4-block (15 bits each
    over the 60-bit fingerprint) pigeonhole LSH + Hamming filter as
    `simhash_pairs`, but per-shingle hashes come from a portable
    60-bit md5 derivation (first 15 hex chars as a bigint) that any engine
    reproduces — proving the ALGORITHM end-to-end, while the xxhash64
    production path keeps the cheap JVM-intrinsic hashing at scale."""
    return simhash_dedup(
        load(spark, sf_dir, "documents", fan_out=True), max_hamming=3, hash_fn="md5_60"
    )


# --- similarity search --------------------------------------------------------


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        load(spark, sf_dir, "embeddings", fan_out=True).filter(F.col("vec_id") == 0).select("embedding").first()
    )
    return list(row["embedding"])


_COS_SQL = (
    "list_dot_product(e.embedding::DOUBLE[], q.qv) /"
    " (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(q.qv, q.qv)))"
)


@register(
    "embedding_topk",
    f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, ROUND({_COS_SQL}, 6) AS cosine_sim
FROM embeddings e CROSS JOIN q
ORDER BY cosine_sim DESC, vec_id
LIMIT 10
""",
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 to vec_id=0 — the exact ANN baseline."""
    return brute_force_topk(load(spark, sf_dir, "embeddings", fan_out=True), _query_vec(spark, sf_dir), k=10)


def _srp_planes_sql(n_planes: int) -> str:
    """VALUES rows of the precomputed hyperplane components (see
    functions/srp_constants.py) for oracle-side SRP replication."""
    from taxi_data_datapipeline_spark.functions.srp_constants import SRP_COMPONENTS

    rows = []
    for p in range(n_planes):
        comps = ", ".join(repr(c) for c in SRP_COMPONENTS[p])
        rows.append(f"({p}, [{comps}]::DOUBLE[])")
    return ",\n         ".join(rows)


@register(
    "embedding_lsh_topk",
    f"""
WITH planes(p, comps) AS (
  VALUES {_srp_planes_sql(4)}
), v AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
), q AS (SELECT ev AS qv FROM v WHERE vec_id = 0),
proj AS (
  SELECT v.vec_id, pl.p, list_dot_product(v.ev, pl.comps) AS pr
  FROM v CROSS JOIN planes pl
), buckets AS (
  SELECT vec_id, SUM(CASE WHEN pr >= 0 THEN 1 << p ELSE 0 END) AS bucket
  FROM proj GROUP BY vec_id
), qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0)
SELECT v.vec_id,
       ROUND(list_dot_product(v.ev, q.qv) /
             (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(q.qv, q.qv))),
             6) AS cosine_sim
FROM v JOIN buckets b ON v.vec_id = b.vec_id CROSS JOIN q CROSS JOIN qb
WHERE b.bucket = qb.qbucket
ORDER BY cosine_sim DESC, v.vec_id
LIMIT 10
""",
)
def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via sign-random-projection buckets (4 seeded hyperplanes):
    scan only the query's bucket (~1/16 of the corpus).

    Fully hash-checked despite ANN recall < 1: the hyperplanes are
    deterministic (xxhash64(plane,dim)/2^63, precomputed constants in
    functions/srp_constants.py for the oracle side), so the oracle
    replicates the ALGORITHM — same buckets, same candidates, same
    top-10 — rather than comparing against exact ground truth."""
    return lsh_topk(
        load(spark, sf_dir, "embeddings", fan_out=True), _query_vec(spark, sf_dir), k=10, n_planes=4
    )


@register(
    "similarity_join_label",
    """
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings)
SELECT id_a, id_b, label, cosine_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
         ROUND(list_dot_product(a.ev, b.ev) /
               (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))), 6)
             AS cosine_sim
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
WHERE cosine_sim >= 0.3
""",
)
def q_similarity_join_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked all-pairs cosine join (block = label), threshold 0.3."""
    return similarity_join_blas(
        load(spark, sf_dir, "embeddings", fan_out=True), block_col="label", threshold=0.3
    )


@register(
    "embedding_norms",
    """
SELECT vec_id, label,
       ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm
FROM embeddings
""",
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector scalar surface: per-row L2 norm (codegen'd array fold)."""
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    return e.select("vec_id", "label", F.round(norm(F.col("embedding")), 6).alias("l2_norm"))


# --- text analysis ------------------------------------------------------------


@register(
    "token_stats",
    rf"""
SELECT doc_id,
       len({_SQL_TOKS}) AS n_tokens,
       len(list_filter(string_split_regex(lower(text), '[^\p{{L}}\p{{N}}]+'), t -> t != ''))
           AS n_subtokens
FROM documents
""",
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish subword-boundary tokens."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.size(bpe_ish_tokens(F.col("text"))).alias("n_subtokens"),
    )


@register(
    "quality_scores",
    rf"""
WITH f AS (
  SELECT doc_id,
         len({_SQL_TOKS}) AS n_tokens,
         length(text) AS n_chars,
         ROUND(CAST(length(text) - len({_SQL_TOKS}) + 1 AS DOUBLE) / len({_SQL_TOKS}), 6)
             AS avg_word_len,
         ROUND(CAST(length(regexp_replace(text, '[^\.,;:!\?]', '', 'g')) AS DOUBLE)
               / length(text), 6) AS punct_ratio,
         ROUND(CAST(len(list_filter({_SQL_TOKS},
                    t -> lower(t) IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE)
               / len({_SQL_TOKS}), 6) AS stopword_ratio
  FROM documents)
SELECT doc_id, n_tokens, n_chars, avg_word_len, punct_ratio, stopword_ratio,
       ROUND(
         (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END) +
         (CASE WHEN avg_word_len BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) +
         (CASE WHEN stopword_ratio >= 0.01 THEN 0.25 ELSE 0.0 END) +
         (CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END), 2) AS quality
FROM f
""",
)
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features + composite score (length / word-length /
    stopword / punctuation heuristics)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    feats = quality_features("text")
    return d.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["n_chars"].alias("n_chars"),
        feats["avg_word_len"].alias("avg_word_len"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        quality_score("text").alias("quality"),
    )


def _lang_votes_sql() -> str:
    cols = []
    for lang in sorted(LANG_STOPWORDS):
        words = ",".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        cols.append(
            f"len(list_filter(list_transform({_SQL_TOKS}, t -> lower(t)),"
            f" t -> t IN ({words}))) AS v_{lang}"
        )
    return ",\n       ".join(cols)


@register(
    "lang_id_heuristic",
    f"""
WITH v AS (SELECT doc_id, lang AS labeled_lang, {_lang_votes_sql()} FROM documents)
SELECT doc_id, labeled_lang,
       CASE WHEN GREATEST(v_de, v_en, v_es, v_fr, v_zh) = 0 THEN 'en'
            WHEN v_de = GREATEST(v_de, v_en, v_es, v_fr, v_zh) THEN 'de'
            WHEN v_en = GREATEST(v_de, v_en, v_es, v_fr, v_zh) THEN 'en'
            WHEN v_es = GREATEST(v_de, v_en, v_es, v_fr, v_zh) THEN 'es'
            WHEN v_fr = GREATEST(v_de, v_en, v_es, v_fr, v_zh) THEN 'fr'
            ELSE 'zh' END AS predicted_lang
FROM v
""",
)
def q_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (argmax, alphabetical tie-break, 'en'
    fallback) next to the labeled lang for eyeballing accuracy."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_id("text").alias("predicted_lang"),
    )


@register(
    "doc_fingerprints",
    r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
       sha256(text) AS content_sha
FROM documents
""",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized md5 fingerprint + raw sha256 content hash per document."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    return d.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fingerprint"),
        F.sha2(F.col("text"), 256).alias("content_sha"),
    )


# --- multimodal plumbing --------------------------------------------------------


@register(
    "multimodal_bytes",
    """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS content_sha,
       CASE WHEN octet_length(encode(text)) >= 256 THEN 'large' ELSE 'small' END AS size_class
FROM documents
""",
)
def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing: treat text bytes as a blob payload,
    extract typed metadata (byte length, content hash, size class) — the
    pattern image/audio columns use (see operators/multimodal.py)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    blob = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(F.col("text")).alias("n_bytes"),
        F.sha2(blob, 256).alias("content_sha"),
        F.when(F.octet_length(F.col("text")) >= 256, "large").otherwise("small").alias("size_class"),
    )


@register(
    "multimodal_features",
    """
WITH bytes AS (
  SELECT doc_id, ascii(substring(text, t.i, 1)) AS b, (t.i - 1) % 8 AS dim
  FROM documents, UNNEST(range(1, length(text) + 1)) AS t(i)
), dims AS (
  SELECT doc_id, dim, SUM(b) AS acc FROM bytes GROUP BY doc_id, dim
), tot AS (
  SELECT doc_id, SUM(acc) AS total FROM dims GROUP BY doc_id
), ff AS (
  SELECT d.doc_id,
         string_agg(CAST((acc * 1000000) // total AS VARCHAR), '|'
                    ORDER BY dim) AS feature_fp
  FROM dims d JOIN tot ON d.doc_id = tot.doc_id
  GROUP BY d.doc_id
), cnt AS (
  SELECT doc_id, b, COUNT(*) AS c FROM bytes GROUP BY doc_id, b
), ent AS (
  SELECT cnt.doc_id,
         CAST(ROUND(SUM(CAST(ROUND(
             -(CAST(c AS DOUBLE) / length(d.text))
               * log2(CAST(c AS DOUBLE) / length(d.text)), 9)
           AS DECIMAL(28,12))), 6) AS DOUBLE) AS byte_entropy
  FROM cnt JOIN documents d ON cnt.doc_id = d.doc_id
  GROUP BY cnt.doc_id
)
SELECT ff.doc_id, length(d.text) AS n_bytes, ent.byte_entropy, ff.feature_fp
FROM ff
JOIN documents d ON ff.doc_id = d.doc_id
JOIN ent ON ff.doc_id = ent.doc_id
""",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake 'decode + feature extract' over binary payloads via
    mapInPandas — exercises the real multimodal plumbing (Arrow batches,
    binary columns, typed feature vectors) with a stub decoder.

    Driver-proof output contract: the float32 feature vector is serialized
    to a fixed-point string at the query boundary (round(x*10^6) recovers
    the exact integer the operator computed, float32 error « 0.5), because
    array-typed columns are unhashable in pandas-based canonicalizers. The
    oracle recomputes histogram features + decimal-summed entropy from the
    ASCII payload characters."""
    from taxi_data_datapipeline_spark.operators.multimodal import extract_features

    d = load(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    feats = extract_features(d, payload_col="payload", id_col="doc_id")
    return feats.select(
        "doc_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "byte_entropy",
        F.concat_ws(
            "|",
            F.transform(
                "feature", lambda x: F.round(x * F.lit(1_000_000)).cast("long")
            ),
        ).alias("feature_fp"),
    )


@register(
    "multimodal_frames",
    """
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       substring(text, CAST(i * 64 + 1 AS INT), 16) AS frame
FROM documents, UNNEST(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT))) AS t(i)
""",
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (video-frame stand-in): one row per 16-char slice
    every 64 chars, via Arrow-batched mapInPandas. Both engines slice by
    Unicode codepoints, so this Pandas-UDF path is value-hash-checked
    against DuckDB (the byte-payload twin, operators/multimodal.py
    sample_frames, is unit-tested — DuckDB cannot slice BLOBs)."""
    from collections.abc import Iterator

    import pandas as pd

    def fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for _id, text in zip(pdf["doc_id"], pdf["text"]):
                for k in range(0, max(1, -(-len(text) // 64)) if text else 0):
                    ids.append(_id)
                    idxs.append(k)
                    frames.append(text[k * 64 : k * 64 + 16])
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id", "text")
    return d.mapInPandas(fn, "doc_id long, frame_idx int, frame string")


@register(
    "distinct_users_twophase",
    """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events
GROUP BY event_type
""",
)
def q_distinct_users_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact distinct count: stage 1 dedups (event_type, user_id)
    pairs — the shuffle key carries the high-cardinality user_id, so no
    single reducer owns a hot event_type's whole distinct state; stage 2
    counts the dedup'd rows per type. Same results as COUNT(DISTINCT), but
    the plan survives a key whose distinct set doesn't fit one executor.
    n_events rides stage 1 as a partial sum."""
    ev = load(spark, sf_dir, "events")
    stage1 = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    return stage1.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("c").alias("n_events"),
    )


@register(
    "embedding_ivf_topk",
    f"""
WITH planes(p, comps) AS (
  VALUES {_srp_planes_sql(16)}
), v AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
), q AS (SELECT ev AS qv FROM v WHERE vec_id = 0),
proj AS (
  SELECT v.vec_id, pl.p, list_dot_product(v.ev, pl.comps) AS pr
  FROM v CROSS JOIN planes pl
), lists AS (
  SELECT vec_id, p AS lst FROM proj
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY pr DESC, p ASC) = 1
), ql AS (SELECT lst AS qlist FROM lists WHERE vec_id = 0)
SELECT v.vec_id,
       ROUND(list_dot_product(v.ev, q.qv) /
             (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(q.qv, q.qv))),
             6) AS cosine_sim
FROM v JOIN lists l ON v.vec_id = l.vec_id CROSS JOIN q CROSS JOIN ql
WHERE l.lst = ql.qlist
ORDER BY cosine_sim DESC, v.vec_id
LIMIT 10
""",
)
def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via IVF coarse quantization (16 inverted lists from
    seeded-hyperplane argmax): scan only the query's list. The scale
    counterpart of the SRP-LSH variant — both exist because IVF probes
    degrade gracefully (top-P lists) while LSH bits compose into band
    keys for pair generation.

    Fully hash-checked despite ANN recall < 1: the oracle replicates the
    deterministic quantizer (precomputed hyperplane constants, argmax with
    ties to the lower list index) and therefore the exact candidate set."""
    from taxi_data_datapipeline_spark.operators.similarity import ivf_topk

    return ivf_topk(
        load(spark, sf_dir, "embeddings", fan_out=True), _query_vec(spark, sf_dir), k=10, n_lists=16
    )


_SQL_QUALITY = rf"""
SELECT doc_id, text,
       ROUND(
         (CASE WHEN len({_SQL_TOKS}) BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END) +
         (CASE WHEN ROUND(CAST(length(text) - len({_SQL_TOKS}) + 1 AS DOUBLE)
                          / len({_SQL_TOKS}), 6) BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) +
         (CASE WHEN ROUND(CAST(len(list_filter({_SQL_TOKS},
                    t -> lower(t) IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE)
               / len({_SQL_TOKS}), 6) >= 0.01 THEN 0.25 ELSE 0.0 END) +
         (CASE WHEN ROUND(CAST(length(regexp_replace(text, '[^\.,;:!\?]', '', 'g')) AS DOUBLE)
               / length(text), 6) <= 0.2 THEN 0.25 ELSE 0.0 END), 2) AS quality
FROM documents
"""


@register(
    "curation_pipeline",
    rf"""
WITH q AS ({_SQL_QUALITY}),
kept AS (
  SELECT doc_id, text, quality FROM q WHERE quality >= 0.75),
dedup AS (
  SELECT MIN(doc_id) AS doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
         COUNT(*) AS n_copies,
         MAX(quality) AS quality
  FROM kept
  GROUP BY 2)
SELECT d.doc_id, d.fingerprint, d.n_copies, d.quality,
       len({_SQL_TOKS}) AS n_tokens
FROM dedup d JOIN documents ON d.doc_id = documents.doc_id
""",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation in ONE plan: quality-score filter
    (keep >= 0.75) -> exact dedup on normalized fingerprint (keep min id)
    -> re-attach token counts for the kept representatives. The operators
    compose as plain DataFrames — Catalyst pipelines the filter into the
    scan and shares the shuffle between dedup groupBy and the final join."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    scored = docs.select(
        "doc_id", "text", quality_score("text").alias("quality")
    ).filter(F.col("quality") >= 0.75)
    dedup = (
        scored.select(
            "doc_id", "quality", fingerprint(F.col("text")).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.max("quality").alias("quality"),
        )
    )
    return dedup.join(
        docs.select("doc_id", token_count("text").alias("n_tokens")),
        "doc_id",
    ).select("doc_id", "fingerprint", "n_copies", "quality", "n_tokens")


@register(
    "train_val_split",
    """
WITH assigned AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
           AS bucket
  FROM documents)
SELECT doc_id,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM assigned
""",
)
def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by hashing the
    stable document id (md5 prefix mod 100) — the reproducible,
    engine-independent way to split a training corpus: no RNG state, no
    reshuffling when the corpus grows, any engine recomputes the same
    split. (Spark's sample()/sampleBy() are seeded per-partition and NOT
    stable across engines or repartitioning.)"""
    d = load(spark, sf_dir, "documents", fan_out=True)
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    return d.select(
        "doc_id",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )


@register(
    "embedding_near_dup",
    """
WITH RECURSIVE v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.ev, b.ev) /
                 (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))), 6)
               AS cosine_sim
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
  WHERE cosine_sim >= 0.45),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
walk AS (
  SELECT u AS node, u AS comp FROM edges
  UNION
  SELECT e.u, w.comp FROM edges e JOIN walk w ON e.v = w.node
  WHERE w.comp < e.u)
SELECT node, MIN(comp) AS comp FROM walk GROUP BY node
""",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate GROUPS: blocked BLAS cosine pairs at
    >= 0.92 -> connected components -> (vector, component-representative).
    The embedding-space final tier of the dedup ladder (exact -> MinHash
    -> SimHash -> semantic)."""
    from taxi_data_datapipeline_spark.operators.graphs import connected_components

    pairs = similarity_join_blas(
        load(spark, sf_dir, "embeddings", fan_out=True), block_col="label", threshold=0.45
    ).select("id_a", "id_b")
    return connected_components(pairs, src="id_a", dst="id_b")


# --- corpus assembly (packing / mixing / sampling) ---------------------------


@register(
    "sequence_packing",
    rf"""
WITH t AS (
  SELECT doc_id, lang, len({_SQL_TOKS}) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS cum_before
  FROM t)
SELECT lang, CAST(cum_before // 512 AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
FROM c GROUP BY lang, pack_id
""",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: concatenate documents per language
    stream in stable doc_id order and chunk the token stream into 512-token
    packs; each doc is assigned the pack where it starts (exclusive running
    token count // budget). This is the streaming-concat packing used in
    practice — expressible as one window cumsum + groupBy, so it scales as
    a single sort-shuffle per stream instead of a stateful scan. Returns
    per-pack occupancy stats (docs, tokens).
    """
    d = load(spark, sf_dir, "documents", fan_out=True)
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    n_tok = token_count("text")
    return (
        d.select("doc_id", "lang", n_tok.alias("n_tokens"))
        .withColumn("cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .groupBy("lang", F.floor(F.col("cum_before") / 512).alias("pack_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
        )
    )


@register(
    "repetition_ratio",
    rf"""
WITH g AS (
  SELECT doc_id,
         len({_SQL_TOKS}) AS n_toks,
         len(list_distinct({_SQL_TOKS})) AS n_distinct_toks,
         CASE WHEN len({_SQL_TOKS}) >= 3 THEN len({_SQL_TOKS}) - 2 ELSE 1 END
             AS n_grams,
         len({_SQL_GRAMS}) AS n_distinct_grams
  FROM documents)
SELECT doc_id,
       ROUND(1 - CAST(n_distinct_toks AS DOUBLE) / n_toks, 6) AS dup_token_ratio,
       ROUND(1 - CAST(n_distinct_grams AS DOUBLE) / n_grams, 6) AS dup_trigram_ratio
FROM g
""",
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher-style quality signal): fraction of
    duplicated tokens and duplicated word trigrams. High values flag
    boilerplate / spam for the curation gate. Pure array expressions inside
    the scan projection — no shuffle at all (and no per-position re-
    tokenization: shingles come from the linear zip_with builder)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    toks = tokens("text")
    n_toks = F.size(toks)
    n_grams = F.when(n_toks >= 3, n_toks - 2).otherwise(1)
    n_distinct_grams = F.size(ngram_shingles("text", 3))
    return d.select(
        "doc_id",
        F.round(
            1 - F.size(F.array_distinct(toks)).cast("double") / n_toks, 6
        ).alias("dup_token_ratio"),
        F.round(1 - n_distinct_grams.cast("double") / n_grams, 6).alias(
            "dup_trigram_ratio"
        ),
    )


@register(
    "stratified_sample",
    """
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
SELECT doc_id, lang FROM ranked WHERE rn <= 50
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: a fixed per-language quota (50
    docs) drawn in md5(doc_id) order — uniform-ish, RNG-free, reproducible
    on any engine and stable under corpus growth/repartitioning (unlike
    sample()/sampleBy(), which are seeded per-partition). One window
    shuffle on the stratum key; rank short-circuits per partition."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 50)
        .select("doc_id", "lang")
    )


@register(
    "source_mix",
    """
SELECT d.source, d.lang, COUNT(*) AS n_docs,
       CAST(SUM(CAST(d.n_chars AS DECIMAL(18,0))) AS BIGINT) AS total_chars,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM documents), 6) AS doc_frac
FROM documents d
GROUP BY d.source, d.lang
""",
)
def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture report: per (source, language) document counts, total
    characters, and fraction of the corpus — the balancing input for
    data-mixture tuning. The global total is a broadcast 1-row join (no
    driver collect), same pattern as q11's scalar threshold."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    total = d.agg(F.count("*").alias("total_docs"))
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("bigint").alias(
                "total_chars"
            ),
        )
        .join(F.broadcast(total))
        .select(
            "source",
            "lang",
            "n_docs",
            "total_chars",
            F.round(F.col("n_docs").cast("double") / F.col("total_docs"), 6).alias(
                "doc_frac"
            ),
        )
    )


@register(
    "vocab_topk",
    rf"""
WITH words AS (
  SELECT lower(unnest({_SQL_TOKS})) AS word FROM documents)
SELECT word, COUNT(*) AS freq
FROM words
GROUP BY word
ORDER BY freq DESC, word
LIMIT 200
""",
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: explode (lateral view) of the token array ->
    frequency count -> deterministic top-200. The tokenizer-vocab builder
    for BPE training. explode is generated per scan partition (no shuffle);
    the word groupBy is the single exchange, and the top-k plans as
    TakeOrderedAndProject — no global sort of the vocabulary at 100 TB."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    return (
        d.select(F.explode(tokens("text")).alias("w"))
        .select(F.lower(F.col("w")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word"))
        .limit(200)
    )


@register(
    "map_funcs",
    """
SELECT user_id,
       COUNT(DISTINCT event_type) AS n_types,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase_cnt
FROM events
GROUP BY user_id
""",
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed columns: per-user event profile built as a real
    map<string,bigint> via map_from_entries(collect_list(struct)), then
    consumed with size() / element_at(). The oracle states the same
    semantics relationally — proving the map construction round-trips.
    (Map columns themselves are kept out of the output: map key order is
    engine-specific, scalars extracted from them are not.)"""
    e = load(spark, sf_dir, "events")
    per_type = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    profile = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))
        ).alias("profile")
    )
    return profile.select(
        "user_id",
        F.size("profile").cast("bigint").alias("n_types"),
        F.coalesce(F.element_at("profile", "purchase"), F.lit(0)).alias(
            "purchase_cnt"
        ),
    )


@register(
    "text_scrub",
    r"""
SELECT doc_id,
       LENGTH(text) - LENGTH(regexp_replace(text, '\b(spark|hash|merge)\b', '', 'g'))
         AS scrubbed_chars,
       LENGTH(regexp_extract_all(text, '\b(spark|hash|merge)\b')) AS n_hits,
       regexp_replace(text, '\b(spark|hash|merge)\b', '[REDACTED]', 'g') AS scrubbed
FROM documents
""",
)
def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-based redaction pass — the PII-scrub stage of a training
    pipeline (emails / phone numbers / IDs become [REDACTED]). The
    synthetic corpus contains no digits or @-tokens, so a deny-list of
    terms stands in for the PII patterns; the machinery (global regex
    replace + hit counting, all JVM-side codegen, zero UDFs) is
    identical. Word-boundary `\b` and alternation parse the same in
    Java regex (Spark) and RE2 (DuckDB); counting is done by length
    delta + match-list length so both engines agree without a
    regexp_count builtin."""
    pat = r"\b(spark|hash|merge)\b"
    d = load(spark, sf_dir, "documents", fan_out=True)
    return d.select(
        "doc_id",
        (
            F.length("text") - F.length(F.regexp_replace("text", pat, ""))
        ).alias("scrubbed_chars"),
        F.size(F.regexp_extract_all("text", F.lit(pat), 0)).cast("long").alias("n_hits"),
        F.regexp_replace("text", pat, "[REDACTED]").alias("scrubbed"),
    )


@register(
    "chunk_split",
    r"""
WITH d AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS tok
  FROM documents
)
SELECT doc_id, source,
       t.k AS chunk_idx,
       array_to_string(tok[t.k * 64 + 1 : t.k * 64 + 64], ' ') AS chunk_text,
       len(tok[t.k * 64 + 1 : t.k * 64 + 64]) AS n_tokens
FROM d, UNNEST(range(0, CAST(ceil(len(tok) / 64.0) AS INT))) AS t(k)
""",
)
def q_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking: split every document into 64-token
    pieces — the context-window preparation step that feeds sequence
    packing (its dual: chunking splits long docs, packing concatenates
    short ones).

    Pure built-ins: sequence -> transform -> slice -> explode, all
    whole-stage-codegen, no shuffle at all (narrow op — chunks stay on
    the producer partition). tests/test_udtf.py proves a Python UDTF
    produces the identical relation — the escape hatch for chunkers
    that need a real tokenizer — but the built-in form IS the engine
    path: no Python round-trip at 100 TB."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    n_chunks = F.ceil(F.size(F.col("tok")) / F.lit(64.0)).cast("int")
    chunk = lambda k: F.slice(F.col("tok"), k * 64 + 1, 64)  # noqa: E731
    return (
        docs.select("doc_id", "source", toks.alias("tok"))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.when(
                    F.size("tok") > 0,
                    F.transform(
                        F.sequence(F.lit(0), n_chunks - 1),
                        lambda k: F.struct(
                            k.alias("chunk_idx"),
                            F.concat_ws(" ", chunk(k)).alias("chunk_text"),
                            F.size(chunk(k)).cast("long").alias("n_tokens"),
                        ),
                    ),
                ).otherwise(F.array())
            ).alias("c"),
        )
        .select("doc_id", "source", "c.chunk_idx", "c.chunk_text", "c.n_tokens")
    )


@register(
    "kmeans_assign",
    """
WITH c AS (
  SELECT vec_id AS k, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 8
), d AS (
  SELECT e.vec_id, c.k,
         list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
           - 2 * list_dot_product(e.embedding::DOUBLE[], c.cv)
           + list_dot_product(c.cv, c.cv) AS d2
  FROM embeddings e CROSS JOIN c
), a AS (
  SELECT vec_id, arg_min(k, d2) AS cluster, MIN(d2) AS d2min
  FROM d GROUP BY vec_id
)
SELECT cluster, COUNT(*) AS n_points,
       ROUND(CAST(SUM(CAST(ROUND(sqrt(d2min), 9) AS DECIMAL(28,12))) AS DOUBLE)
             / COUNT(*), 6) AS avg_dist
FROM a GROUP BY cluster
""",
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment step (the inner loop of Lloyd's algorithm,
    and the partitioner behind IVF ANN indexes): every embedding goes to
    its nearest of 8 fixed centroids; report cluster sizes and mean
    distance. Centroids are the vec_id<8 rows — deterministic, no
    trained model; a full Lloyd iteration = this + a centroid-mean
    groupBy, loopable exactly like operators/graphs.py does for CC.

    The distance to every centroid is a codegen'd in-order double fold
    (operators/similarity.py:dot — no UDF); argmin is array_min over
    (distance, k) structs, so the k tie-break matches the oracle's
    arg_min. Centroids ride into the plan as literals: at 100 TB the
    assignment is a single mapper pass, no join, no shuffle until the
    tiny per-cluster aggregate."""
    from taxi_data_datapipeline_spark.operators.similarity import dot

    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    cents = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).collect()
    }
    ev = F.col("embedding")
    self_dot = dot(ev, ev)
    alts = []
    for k in sorted(cents):
        cv = F.array(*[F.lit(x) for x in cents[k]])
        d2 = self_dot - 2 * dot(ev, cv) + F.lit(sum(x * x for x in cents[k]))
        alts.append(F.struct(d2.alias("d2"), F.lit(k).alias("k")))
    best = F.array_min(F.array(*alts))
    a = emb.select(best.alias("best")).select(
        F.col("best.k").alias("cluster"),
        F.round(F.sqrt(F.col("best.d2")), 9).cast("decimal(28,12)").alias("dist"),
    )
    return a.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("dist").cast("double") / F.count(F.lit(1)), 6).alias("avg_dist"),
    )


@register("kmeans_iterate")  # float fold order is engine-specific -> rows-only;
# differential-tested against a NumPy reference in tests/test_clustering.py
def q_kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three full Lloyd iterations (operators/clustering.py): the
    iterative big brother of `kmeans_assign`. Driver traffic per
    iteration is exactly the k x dim centroid matrix; assignment is a
    literal-centroid mapper pass and the update is one
    posexplode-groupBy. Returns final cluster sizes + mean distance."""
    from taxi_data_datapipeline_spark.operators.clustering import lloyd_kmeans

    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    assigned, _hist = lloyd_kmeans(emb, k=4, iters=3)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.avg(F.sqrt(F.col("d2"))), 6).alias("avg_dist"),
    )


_SPLIT_SQL = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)


@register(
    "contamination_check",
    f"""
WITH s AS (
  SELECT doc_id, {_SQL_GRAMS} AS grams,
         CASE WHEN {_SPLIT_SQL} < 80 THEN 'train' ELSE 'eval' END AS split
  FROM documents
), train_grams AS (
  SELECT DISTINCT UNNEST(grams) AS gram FROM s WHERE split = 'train'
), val_hits AS (
  SELECT v.doc_id, g.gram
  FROM (SELECT doc_id, UNNEST(grams) AS gram FROM s WHERE split = 'eval') v
  JOIN train_grams g USING (gram)
), v_all AS (
  SELECT doc_id, len(grams) AS n_grams FROM s WHERE split = 'eval'
)
SELECT v_all.doc_id,
       v_all.n_grams,
       COALESCE(h.n_hit, 0) AS n_contaminated,
       ROUND(COALESCE(h.n_hit, 0) * 1.0 / v_all.n_grams, 6) AS contamination_ratio
FROM v_all
LEFT JOIN (SELECT doc_id, COUNT(DISTINCT gram) AS n_hit FROM val_hits GROUP BY 1) h
  ON v_all.doc_id = h.doc_id
""",
)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination scan: for every eval-split document, how
    many of its distinct 3-gram shingles also appear anywhere in the
    train split — the leakage detector every LLM data pipeline runs
    before trusting a benchmark number (same shingle basis as the dedup
    ladder, same hash split as `train_val_split`).

    Shape: explode eval shingles once, LEFT SEMI join against the
    distinct train-shingle set on the shingle hash, re-aggregate per
    doc. The train set never re-joins per pair — cost is
    O(shingles + matches), and the shingle join key is uniformly
    hash-distributed so no skew. At 100 TB the train-gram set is the
    big side: it stays shuffle-partitioned and the eval side (always
    the small split) streams against it."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint") % 100
    s = d.select(
        "doc_id",
        ngram_shingles("text", 3).alias("grams"),
        F.when(bucket < 80, "train").otherwise("eval").alias("split"),
    )
    train_grams = (
        s.filter(F.col("split") == "train")
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    v = s.filter(F.col("split") == "eval")
    # ONE eval shingle pass: explode_outer keeps zero-gram docs (their
    # null gram never matches, n_grams counts non-nulls), and a
    # left-mark join against the train set yields the per-doc total AND
    # hit count in the same aggregate — the former plan shingled the
    # eval split twice and joined the two halves back on doc_id.
    # Shingles are distinct per doc, so count(mark) == the old
    # countDistinct over the semi-join; identical values.
    ev_grams = v.select("doc_id", F.explode_outer("grams").alias("gram"))
    marked = ev_grams.join(
        train_grams.withColumn("_hit", F.lit(1)).hint("shuffle_hash"),
        "gram",
        "left",
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("gram").cast("long").alias("n_grams"),
            F.count("_hit").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.col("n_hit").alias("n_contaminated"),
            F.round(F.col("n_hit") / F.col("n_grams"), 6).alias(
                "contamination_ratio"
            ),
        )
    )


@register(
    "bloom_contamination_screen",
    f"""
WITH s AS (
  SELECT doc_id, source, {_SQL_GRAMS} AS grams,
         {_SPLIT_SQL} AS b
  FROM documents),
eval_grams AS (
  SELECT DISTINCT UNNEST(grams) AS gram FROM s WHERE b < 2),
bloom AS (
  SELECT DISTINCT
         CAST(('0x' || substring(md5(gram || '|' || CAST(j.j AS VARCHAR)), 1, 8))
              AS BIGINT) % 65536 AS pos
  FROM eval_grams, LATERAL unnest(generate_series(0, 2)) AS j(j)),
train_grams AS (
  SELECT DISTINCT source, UNNEST(grams) AS gram FROM s WHERE b >= 2),
probe AS (
  SELECT t.source, t.gram,
         CAST(('0x' || substring(md5(t.gram || '|' || CAST(j.j AS VARCHAR)), 1, 8))
              AS BIGINT) % 65536 AS pos
  FROM train_grams t, LATERAL unnest(generate_series(0, 2)) AS j(j)),
cand AS (
  SELECT p.source, p.gram
  FROM probe p JOIN bloom USING (pos)
  GROUP BY p.source, p.gram
  HAVING COUNT(DISTINCT p.pos) = 3),
flags AS (
  SELECT c.source, c.gram,
         CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM cand c LEFT JOIN eval_grams e ON c.gram = e.gram)
SELECT tg.source,
       COUNT(*) AS n_train_grams,
       COALESCE(MAX(f.n_cand), 0) AS n_candidate,
       COALESCE(MAX(f.n_conf), 0) AS n_confirmed,
       COALESCE(MAX(f.n_cand), 0) - COALESCE(MAX(f.n_conf), 0) AS n_false_pos,
       ROUND((COALESCE(MAX(f.n_cand), 0) - COALESCE(MAX(f.n_conf), 0)) * 1.0
             / COUNT(*), 6) AS fp_rate
FROM train_grams tg
LEFT JOIN (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_cand,
         CAST(SUM(hit) AS BIGINT) AS n_conf
  FROM flags GROUP BY source) f ON tg.source = f.source
GROUP BY tg.source
""",
)
def q_bloom_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination screening with an explicit Bloom filter
    (Bloom CACM'70; the screen TogetherAI/RedPajama-class pipelines run
    before the exact pass): the eval split's shingles populate a
    k=3-hash, m=65536-bit filter; every train-split shingle probes it;
    only probe survivors (all 3 positions set) pay the exact
    verification join. Reported per source: candidate count, confirmed
    contamination, and the realized false-positive rate — the
    filter-quality audit that tells you whether m needs to grow.

    Engine mapping: the filter IS a distinct-position table joined by
    position — semantically identical to broadcasting a bitset (what a
    cluster deployment would ship via Spark's own bloom-filter join
    pushdown, pinned in tests/test_runtime_filter.py), but expressed as
    data so the oracle can reproduce it bit-for-bit. Probes explode to
    (gram, position) rows, join the position set, and survive on
    matched-count == 3; survivors alone hit the exact eval-gram join —
    cost O(shingles + matches), never O(train x eval). Hashes are md5
    slices, identical in both engines."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint") % 100
    s = d.select(
        "doc_id",
        "source",
        ngram_shingles("text", 3).alias("grams"),
        bucket.alias("b"),
    )

    def pos(col, j):
        return (
            F.conv(
                F.substring(F.md5(F.concat(col, F.lit(f"|{j}"))), 1, 8), 16, 10
            ).cast("bigint")
            % 65536
        )

    # NB: the distinct gram tables are deliberately NOT checkpointed —
    # both consumers sit above the distinct's exchange, which AQE reuses
    # at runtime (checkpointing measured +0.8 s of barrier overhead).
    eval_grams = (
        s.filter(F.col("b") < 2).select(F.explode("grams").alias("gram")).distinct()
    )
    bloom = (
        eval_grams.select(
            F.explode(
                F.array(*[pos(F.col("gram"), j) for j in range(3)])
            ).alias("pos")
        )
        .distinct()
        .localCheckpoint(eager=False)  # answer-sized (<= 65536 rows)
    )
    train_grams = (
        s.filter(F.col("b") >= 2)
        .select("source", F.explode("grams").alias("gram"))
        .distinct()
    )
    probe = train_grams.select(
        "source",
        "gram",
        F.explode(F.array(*[pos(F.col("gram"), j) for j in range(3)])).alias("pos"),
    )
    cand = (
        probe.join(F.broadcast(bloom), "pos")
        .groupBy("source", "gram")
        .agg(F.countDistinct("pos").alias("npos"))
        .filter(F.col("npos") == 3)
        .select("source", "gram")
    )
    flags = cand.join(
        eval_grams.withColumn("hit", F.lit(1)), "gram", "left"
    ).select("source", F.coalesce(F.col("hit"), F.lit(0)).alias("hit"))
    per_source = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand"),
        F.sum("hit").cast("bigint").alias("n_conf"),
    )
    return (
        train_grams.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_train_grams"))
        .join(F.broadcast(per_source), "source", "left")
        .select(
            "source",
            "n_train_grams",
            F.coalesce(F.col("n_cand"), F.lit(0)).alias("n_candidate"),
            F.coalesce(F.col("n_conf"), F.lit(0)).alias("n_confirmed"),
            (
                F.coalesce(F.col("n_cand"), F.lit(0))
                - F.coalesce(F.col("n_conf"), F.lit(0))
            ).alias("n_false_pos"),
            F.round(
                (
                    F.coalesce(F.col("n_cand"), F.lit(0))
                    - F.coalesce(F.col("n_conf"), F.lit(0))
                )
                / F.col("n_train_grams"),
                6,
            ).alias("fp_rate"),
        )
    )


@register(
    "embedding_quantize",
    """
WITH q AS (
  SELECT vec_id,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
           AS scale
  FROM embeddings
), qd AS (
  SELECT e.vec_id, q.scale,
         list_transform(e.embedding::DOUBLE[],
                        x -> CAST(FLOOR(x / q.scale + 0.5) AS INT)) AS qvec,
         e.embedding::DOUBLE[] AS ev
  FROM embeddings e JOIN q ON e.vec_id = q.vec_id
)
SELECT vec_id,
       ROUND(scale, 9) AS scale,
       qvec[1] AS q0, qvec[2] AS q1,
       list_max(list_transform(qvec, x -> abs(x))) AS max_q,
       CAST(SUM(CAST(FLOOR(abs(ev[t.i] - qvec[t.i] * scale)
                           * 1099511627776.0) AS BIGINT))
            // len(qvec) AS BIGINT) AS mean_abs_err_fp40
FROM qd, UNNEST(range(1, len(qvec) + 1)) AS t(i)
GROUP BY vec_id, scale, qvec
""",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage
    op that turns a 100 TB float32 vector store into 25 TB: per-vector
    scale = max|x|/127, q = round(x/scale), plus reconstruction-error
    stats. `floor(x/s + 0.5)` instead of round() because Spark/NumPy
    round half-to-even while DuckDB rounds half-away — floor(+0.5) is
    bit-identical everywhere. All map-side array math (transform /
    aggregate folds), zero shuffles; error terms sum as rounded decimals
    per the parity convention."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    ev = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(ev, lambda x: F.abs(x))) / F.lit(127.0)
    d = emb.select("vec_id", ev.alias("ev"), scale.alias("scale"))
    qvec = F.transform(
        F.col("ev"),
        lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int"),
    )
    d = d.withColumn("qvec", qvec)
    # Fixed-point term encoding: multiplying by 2^40 is an exact exponent
    # shift in IEEE doubles and FLOOR is exact, so both engines produce the
    # SAME integer per term — no per-term ROUND boundary disagreements
    # (ROUND(double, 9) differs between Spark's BigDecimal HALF_UP and
    # DuckDB's float path on a large fraction of arbitrary doubles).
    err_terms = F.zip_with(
        F.col("ev"),
        F.col("qvec"),
        lambda x, q: F.floor(
            F.abs(x - q.cast("double") * F.col("scale")) * F.lit(float(2**40))
        ).cast("long"),
    )
    d = d.withColumn(
        "mean_abs_err_fp40",
        (
            F.aggregate(err_terms, F.lit(0).cast("long"), lambda acc, x: acc + x)
            / F.size("qvec")
        ).cast("long"),
    )
    return d.select(
        "vec_id",
        F.round(F.col("scale"), 9).alias("scale"),
        F.element_at("qvec", 1).alias("q0"),
        F.element_at("qvec", 2).alias("q1"),
        F.array_max(F.transform("qvec", lambda x: F.abs(x))).alias("max_q"),
        "mean_abs_err_fp40",
    )


@register(
    "zipf_fit",
    rf"""
WITH tf AS (
  SELECT lower(x) AS term, COUNT(*) AS c
  FROM (SELECT UNNEST({_SQL_TOKS}) AS x FROM documents)
  GROUP BY 1
), ranked AS (
  SELECT term, c,
         ROW_NUMBER() OVER (ORDER BY c DESC, term) AS r
  FROM tf
), top AS (
  SELECT CAST(ROUND(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(28,12)) AS x,
         CAST(ROUND(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(28,12)) AS y
  FROM ranked WHERE r <= 100
), s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9)
                       AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9)
                       AS DECIMAL(28,12))) AS DOUBLE) AS sxx
  FROM top
)
SELECT n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
FROM s
""",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: least-squares slope of
    ln(freq) vs ln(rank) for the top-100 terms (natural text ~ -1;
    template/spam corpora deviate — a one-number corpus health check).

    Vocabulary counts are one explode+groupBy; the top-100 is taken with
    orderBy().limit() — physical plan `TakeOrderedAndProject`, per-partition
    top-k heaps + a 100-row merge, NOT a global sort (at web-corpus scale
    the vocabulary is 10^8+ terms; a partition-less ranking window would
    pull all of it into one partition). Ranks are then assigned by a
    window over the already-bounded 100-row result (single-partition by
    construction, so the lit-partition spec is exact). The regression is
    the exact-decimal moment-sum pattern of `stats_moments`, so shuffle
    order cannot move the hash. ln() terms round to 9 before summing (the
    engines' libm may differ in the last ulp)."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    tf = (
        docs.select(F.explode(toks).alias("x"))
        .select(F.lower("x").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy(F.lit(0)).orderBy(F.col("c").desc(), F.col("term"))
    top = (
        tf.orderBy(F.col("c").desc(), F.col("term"))
        .limit(100)
        .withColumn("r", F.row_number().over(w))
        .select(
            F.round(F.log(F.col("r").cast("double")), 9)
            .cast("decimal(28,12)")
            .alias("x"),
            F.round(F.log(F.col("c").cast("double")), 9)
            .cast("decimal(28,12)")
            .alias("y"),
        )
    )
    xd, yd = F.col("x").cast("double"), F.col("y").cast("double")
    s = top.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.round(xd * yd, 9).cast("decimal(28,12)")).cast("double").alias("sxy"),
        F.sum(F.round(xd * xd, 9).cast("decimal(28,12)")).cast("double").alias("sxx"),
    )
    return s.select(
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    )


@register(
    "psi_source_drift",
    """
WITH b AS (
  SELECT source, LEAST(CAST(n_chars // 100 AS INT), 5) AS bin FROM documents
), per_source AS (
  SELECT source, bin, COUNT(*) AS c FROM b GROUP BY 1, 2
), totals AS (
  SELECT source, SUM(c) AS n FROM per_source GROUP BY 1
), gdist AS (
  SELECT bin, SUM(c) AS gc FROM per_source GROUP BY 1
), gtot AS (
  SELECT SUM(gc) AS gn FROM gdist
), grid AS (
  SELECT t.source, g.bin, t.n, g.gc, gt.gn,
         COALESCE(p.c, 0) AS c
  FROM totals t CROSS JOIN gdist g CROSS JOIN gtot gt
  LEFT JOIN per_source p ON p.source = t.source AND p.bin = g.bin
), terms AS (
  SELECT source,
         CAST(ROUND(((c + 1.0) / (n + 6.0) - (gc + 1.0) / (gn + 6.0))
                    * ln(((c + 1.0) / (n + 6.0)) / ((gc + 1.0) / (gn + 6.0))), 9)
              AS DECIMAL(28,12)) AS term
  FROM grid
)
SELECT source, ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi
FROM terms GROUP BY source
""",
)
def q_psi_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's length distribution
    against the corpus-wide distribution — the drift detector that flags
    a crawl source whose content shifted (PSI > 0.2 = investigate).
    Laplace-smoothed bin fractions avoid ln(0) on empty bins; per-bin
    terms round to 9 and sum as decimals. Everything aggregates to
    (source x 6 bins) before any math — the raw table is touched once."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    bin_ = F.least(F.expr("n_chars DIV 100").cast("int"), F.lit(5))
    per_source = (
        d.select("source", bin_.alias("bin"))
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
        # Three consumers (totals, global marginal, grid join) would each
        # re-derive this aggregate — i.e. re-SCAN the corpus. It is
        # (sources x bins) tiny, so materialize it once (the CC-operator
        # pattern, operators/graphs.py): one scan total at any scale.
        .localCheckpoint(eager=True)
    )
    totals = per_source.groupBy("source").agg(F.sum("c").alias("n"))
    glob = per_source.groupBy("bin").agg(F.sum("c").alias("gc"))
    gtot = glob.agg(F.sum("gc").alias("gn"))
    grid = (
        totals.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(gtot))
        .join(per_source, ["source", "bin"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    pa = (F.col("c") + 1.0) / (F.col("n") + 6.0)
    pg = (F.col("gc") + 1.0) / (F.col("gn") + 6.0)
    term = F.round((pa - pg) * F.log(pa / pg), 9).cast("decimal(28,12)")
    return (
        grid.select("source", term.alias("term"))
        .groupBy("source")
        .agg(F.round(F.sum("term").cast("double"), 6).alias("psi"))
    )


@register(
    "multimodal_features_checked",
    """
WITH bytes AS (
  SELECT doc_id, ascii(substring(text, t.i, 1)) AS b, (t.i - 1) % 8 AS dim
  FROM documents, UNNEST(range(1, length(text) + 1)) AS t(i)
), dims AS (
  SELECT doc_id, dim, SUM(b) AS acc FROM bytes GROUP BY doc_id, dim
), tot AS (
  SELECT doc_id, SUM(acc) AS total FROM dims GROUP BY doc_id
), ff AS (
  SELECT d.doc_id,
         CAST(MAX(CASE WHEN dim = 0 THEN (acc * 1000000) // total END) AS BIGINT) AS f0,
         CAST(MAX(CASE WHEN dim = 1 THEN (acc * 1000000) // total END) AS BIGINT) AS f1,
         CAST(MAX(CASE WHEN dim = 2 THEN (acc * 1000000) // total END) AS BIGINT) AS f2,
         CAST(MAX(CASE WHEN dim = 3 THEN (acc * 1000000) // total END) AS BIGINT) AS f3,
         CAST(MAX(CASE WHEN dim = 4 THEN (acc * 1000000) // total END) AS BIGINT) AS f4,
         CAST(MAX(CASE WHEN dim = 5 THEN (acc * 1000000) // total END) AS BIGINT) AS f5,
         CAST(MAX(CASE WHEN dim = 6 THEN (acc * 1000000) // total END) AS BIGINT) AS f6,
         CAST(MAX(CASE WHEN dim = 7 THEN (acc * 1000000) // total END) AS BIGINT) AS f7
  FROM dims d JOIN tot ON d.doc_id = tot.doc_id
  GROUP BY d.doc_id
), cnt AS (
  SELECT doc_id, b, COUNT(*) AS c FROM bytes GROUP BY doc_id, b
), ent AS (
  SELECT cnt.doc_id,
         CAST(ROUND(SUM(CAST(ROUND(
             -(CAST(c AS DOUBLE) / length(d.text))
               * log2(CAST(c AS DOUBLE) / length(d.text)), 9)
           AS DECIMAL(28,12))), 6) AS DOUBLE) AS byte_entropy
  FROM cnt JOIN documents d ON cnt.doc_id = d.doc_id
  GROUP BY cnt.doc_id
)
SELECT ff.doc_id, length(d.text) AS n_bytes,
       f0, f1, f2, f3, f4, f5, f6, f7,
       ent.byte_entropy
FROM ff
JOIN documents d ON ff.doc_id = d.doc_id
JOIN ent ON ff.doc_id = ent.doc_id
""",
)
def q_multimodal_features_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal feature-extraction path (Arrow-batched mapInPandas
    over binary payloads) under FULL hash verification — the parity-safe
    sibling of `multimodal_features`: projected byte-histogram features
    in exact integer fixed-point ((acc*10^6)//total — no float fold), and
    byte entropy with per-term ROUND(.,9) decimal summation (the
    bigram_surprisal convention, with Python's half-even round matching
    SQL on non-boundary transcendental terms). The oracle recomputes
    everything from the ASCII payload characters — proving the Python
    batch path byte-for-byte against SQL."""
    import math
    from collections.abc import Iterator
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    def feats(payload: bytes):
        n = len(payload)
        acc = [0] * 8
        for i, by in enumerate(payload):
            acc[i % 8] += by
        total = sum(acc)
        ff = [(a * 1_000_000) // total for a in acc] if total else [0] * 8
        counts: dict[int, int] = {}
        for by in payload:
            counts[by] = counts.get(by, 0) + 1
        ent = Decimal(0)
        for c in counts.values():
            p = c / n
            ent += Decimal(str(round(-p * math.log2(p), 9)))
        # final round in the DECIMAL domain (half-up, = SQL ROUND on
        # DECIMAL) — rounding the double flips at exact .5e-6 boundaries
        ent6 = ent.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        return n, ff, float(ent6)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _id, text in zip(pdf["doc_id"], pdf["text"]):
                n, ff, ent = feats(text.encode("utf-8"))
                rows.append((_id, n, *ff, ent))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_bytes"]
                + [f"f{k}" for k in range(8)]
                + ["byte_entropy"],
            )

    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id", "text")
    schema = (
        "doc_id long, n_bytes long, "
        + ", ".join(f"f{k} long" for k in range(8))
        + ", byte_entropy double"
    )
    return d.mapInPandas(fn, schema)


@register(
    "weighted_sample",
    """
WITH scored AS (
  SELECT doc_id, source, n_chars,
         LEAST(CAST(n_chars AS DOUBLE) / 400.0, 1.0) AS keep_p,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           / 4294967296.0 AS u
  FROM documents
)
SELECT doc_id, source, ROUND(keep_p, 6) AS keep_p
FROM scored WHERE u < keep_p
""",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling for corpus curation: each document is kept
    with probability proportional to a quality proxy (length, capped) —
    longer docs oversampled, boilerplate shards thinned. The coin flip
    is md5(doc_id)/2^32 — deterministic and ENGINE-PORTABLE (unlike
    sample()/rand(), which are seeded per-partition and unreproducible
    across engines or repartitionings — the train_val_split argument),
    so the exact sample is replayable anywhere. Map-side only: a filter,
    no shuffle. Complements `stratified_sample` (per-stratum quotas):
    this one is per-row importance."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    keep_p = F.least(F.col("n_chars").cast("double") / 400.0, F.lit(1.0))
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) / F.lit(float(2**32))
    return (
        d.withColumn("keep_p", keep_p)
        .withColumn("u", u)
        .filter(F.col("u") < F.col("keep_p"))
        .select("doc_id", "source", F.round("keep_p", 6).alias("keep_p"))
    )


@register(
    "dedup_apply",
    r"""
WITH groups AS (
  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         MIN(doc_id) AS keep_id
  FROM documents GROUP BY 1
)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN d.doc_id = g.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN d.doc_id = g.keep_id THEN 0 ELSE d.n_chars END) AS BIGINT) AS chars_saved
FROM documents d
JOIN groups g ON md5(trim(regexp_replace(lower(d.text), '\s+', ' ', 'g'))) = g.fp
GROUP BY d.source
""",
)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of exact dedup: `dedup_exact` reports duplicate
    GROUPS; this one materializes the survivorship decision (first
    doc_id per fingerprint wins) and the per-source savings report —
    what a curation run actually ships. One fingerprint groupBy + one
    window-free join back on the fingerprint; at 100 TB both shuffles
    carry the compact (fingerprint, ids) pairs, not document text."""
    from taxi_data_datapipeline_spark.functions.text import fingerprint

    d = load(spark, sf_dir, "documents", fan_out=True).withColumn(
        "fp", fingerprint(F.col("text"))
    )
    groups = d.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    return (
        d.join(groups.hint("shuffle_hash"), "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("doc_id") == F.col("keep_id"), 1).otherwise(0)
            ).alias("n_kept"),
            F.sum(
                F.when(F.col("doc_id") == F.col("keep_id"), 0).otherwise(
                    F.col("n_chars")
                )
            ).alias("chars_saved"),
        )
    )


@register(
    "fuzzy_match_blocked",
    """
WITH p AS (SELECT p_partkey, p_name, p_brand, p_size FROM part)
SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
       levenshtein(a.p_name, b.p_name) AS dist
FROM p a JOIN p b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 4
""",
)
def q_fuzzy_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string matching (record linkage): candidate pairs are
    generated only inside cheap blocking keys (brand, size), then verified
    with Wagner-Fischer edit distance — the classic blocking-then-verify
    shape that keeps the O(n^2) comparison local to blocks. Spark
    `levenshtein` and DuckDB `levenshtein` implement the same unit-cost
    edit distance, so the verification tier is fully oracle-checked. At
    100 TB the equi-join on the blocking key is an ordinary hash shuffle;
    block size bounds the quadratic term (monitor max block population the
    same way the LSH tier caps hot buckets)."""
    p = load(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_size")
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") <= 4)
    )


@register(
    "temperature_mix",
    """
WITH s AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY source
), t AS (
  SELECT source, n_docs, n_chars,
         CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER () AS raw_share,
         POWER(CAST(n_docs AS DOUBLE), 0.7)
           / SUM(POWER(CAST(n_docs AS DOUBLE), 0.7)) OVER () AS temp_share
  FROM s
)
SELECT source, n_docs, n_chars,
       ROUND(raw_share, 6) AS raw_share,
       ROUND(temp_share, 6) AS temp_share,
       ROUND(temp_share / raw_share, 6) AS upsample
FROM t
""",
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting — the corpus-mixing step of
    LLM pretraining (sampling share proportional to n^alpha, alpha=0.7,
    flattens the source distribution so small high-quality sources are
    upsampled). One groupBy to per-source counts, then the normalizing
    sums arrive via a broadcast 1-row aggregate (the scalar-broadcast
    pattern — no windowed SUM() OVER () over an unpartitioned frame, which
    would single-partition at scale; the per-source table is small but the
    plan shape stays scale-safe)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    tot = s.agg(
        F.sum("n_docs").cast("double").alias("_tot_n"),
        F.sum(F.pow(F.col("n_docs").cast("double"), F.lit(0.7))).alias("_tot_p"),
    )
    raw_share = F.col("n_docs").cast("double") / F.col("_tot_n")
    temp_share = F.pow(F.col("n_docs").cast("double"), F.lit(0.7)) / F.col("_tot_p")
    return (
        s.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars",
            F.round(raw_share, 6).alias("raw_share"),
            F.round(temp_share, 6).alias("temp_share"),
            F.round(temp_share / raw_share, 6).alias("upsample"),
        )
    )


@register(
    "decayed_event_score",
    """
WITH mx AS (SELECT MAX(ts) AS tmax FROM events),
terms AS (
  SELECT e.user_id,
         CAST(ROUND(e.value * EXP(-(EPOCH(mx.tmax) - EPOCH(e.ts)) / 604800.0), 9)
              AS DECIMAL(28,12)) AS term
  FROM events e CROSS JOIN mx
  WHERE e.event_type = 'purchase'
)
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(term) AS DOUBLE), 6) AS decayed_score
FROM terms
GROUP BY user_id
""",
)
def q_decayed_event_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score (half-life style
    weighting, tau = 7 days against the corpus max timestamp) — the
    recency-weighted aggregate behind freshness-aware sampling and user
    scoring. The anchor MAX(ts) arrives as a broadcast 1-row aggregate;
    each term is rounded then summed as DECIMAL so the float reduction is
    order-independent across partitions (the engine's cross-engine float
    convention). Single shuffle on user_id with map-side partial sums."""
    ev = load(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("_tmax"))
    # cast(timestamp as double) = fractional epoch seconds, matching
    # DuckDB EPOCH(ts) including the microsecond component (unix_timestamp
    # would truncate to whole seconds and diverge).
    decay = F.exp(
        -(F.col("_tmax").cast("double") - F.col("ts").cast("double"))
        / F.lit(604800.0)
    )
    term = F.round(F.col("value") * decay, 9).cast("decimal(28,12)")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(mx))
        .select("user_id", term.alias("term"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("term").cast("double"), 6).alias("decayed_score"),
        )
    )


# --- BM25 ranking -------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "bm25_rank",
    f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
dl AS (
  SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tc FROM toks
  WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS dfreq FROM tf GROUP BY term),
terms AS (
  -- e0 suffixes force DOUBLE literals: DuckDB parses bare 1.2 as
  -- DECIMAL(2,1) and would run exact decimal arithmetic where Spark
  -- runs IEEE doubles.
  -- single quantization straight to DECIMAL(28,12): a ROUND(9) first
  -- would emit terminating 9-digit decimals that land on .5e-6
  -- boundaries at ~1e-3 rate, re-amplifying 1-ulp LN() differences at
  -- the final ROUND(6) (the double-rounding landmine)
  SELECT tf.doc_id,
         CAST(
           LN(1.0e0 + (stats.n_docs - df.dfreq + 0.5e0) / (df.dfreq + 0.5e0))
           * (tf.tc * 2.2e0)
           / (tf.tc + 1.2e0 * (0.25e0 + 0.75e0 * dl.dlen / stats.avgdl))
           AS DECIMAL(28,12)) AS term_score
  FROM tf
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats)
SELECT doc_id,
       COUNT(*) AS n_terms_hit,
       CAST(ROUND(SUM(term_score), 6) AS DOUBLE) AS bm25
FROM terms GROUP BY doc_id
""",
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring (Robertson/Sparck Jones; k1=1.2, b=0.75) of
    every document against a fixed keyword query — the retrieval-scoring
    primitive behind corpus search and RAG-style training-data selection.

    Plan shape: one explode -> (doc, term) counts filtered to the query
    terms (the IN filter prunes the token stream before the shuffle), a
    broadcast join against the vocabulary-sized df table and the 1-row
    corpus stats aggregate, then a single groupBy(doc_id) sum. Per-term
    scores are quantized once to DECIMAL(28,12) and summed in the decimal
    domain so partition fold order can't flip the value hash, with the
    final ROUND(6) also applied to the decimal (a ROUND(9)-then-ROUND(6)
    double-rounding would re-amplify 1-ulp LN() differences). At 100 TB
    the only big shuffles are the two token-stream groupBys; both carry
    map-side partial aggregates.
    """
    docs = load(spark, sf_dir, "documents", fan_out=True)
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    # doc-sized length table and query-term tf table each feed two
    # consumers — materialize so the tokenize+explode runs twice (dl,
    # tf), not four times (8 scans / 18 Exchanges in one plan before).
    dl = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dlen"))
        .localCheckpoint(eager=True)
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dlen").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tc"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("dfreq"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfreq") + F.lit(0.5)) / (F.col("dfreq") + F.lit(0.5))
    )
    # Literals spelled as the exact doubles the oracle uses (2.2e0 etc.);
    # deriving them arithmetically (k1 + 1.0) could land one ulp off.
    tf_norm = (F.col("tc") * F.lit(2.2)) / (
        F.col("tc")
        + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dlen") / F.col("avgdl"))
    )
    term_score = (idf * tf_norm).cast("decimal(28,12)")
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl.hint("shuffle_hash"), "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", term_score.alias("term_score"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.round(F.sum("term_score"), 6).cast("double").alias("bm25"),
        )
    )


# --- PII detection / redaction ------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b555-[0-9]{4}\b"


@register(
    "pii_scrub",
    f"""
WITH contact AS (
  SELECT c_custkey, c_mktsegment,
         'user' || CAST(c_custkey AS VARCHAR) || '@example.com tel 555-'
               || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
               || ' ref ' || c_name AS blob
  FROM customer),
scrubbed AS (
  SELECT c_mktsegment,
         len(regexp_extract_all(blob, '{_PII_EMAIL}')) AS n_emails,
         len(regexp_extract_all(blob, '{_PII_PHONE}')) AS n_phones,
         length(blob)
           - length(regexp_replace(regexp_replace(blob, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                                   '{_PII_PHONE}', '[PHONE]', 'g')) AS chars_redacted
  FROM contact)
SELECT c_mktsegment,
       COUNT(*) AS n_records,
       CAST(SUM(n_emails) AS BIGINT) AS emails_found,
       CAST(SUM(n_phones) AS BIGINT) AS phones_found,
       CAST(SUM(chars_redacted) AS BIGINT) AS chars_redacted
FROM scrubbed GROUP BY c_mktsegment
""",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over free-text blobs — the scrubbing pass
    every training corpus goes through before the tokenizer. The synthetic
    tables carry no real PII, so the blob column is constructed
    deterministically from customer keys (email + phone + name), then the
    detector runs for real: regex find (count), regex redact (replace
    all), and a chars-redacted audit measuring what the scrub removed.

    Both engines run the same patterns (Java regex and RE2 agree on this
    character-class subset — no backreferences, no lookaround). The scan
    is embarrassingly parallel (no shuffle until the final per-segment
    rollup, which carries map-side partials); at 100 TB this is a pure
    map-side pass, the ideal shape.
    """
    cust = load(spark, sf_dir, "customer")
    blob = F.concat(
        F.lit("user"),
        F.col("c_custkey").cast("string"),
        F.lit("@example.com tel 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" ref "),
        F.col("c_name"),
    )
    scrubbed = cust.select(
        "c_mktsegment",
        F.regexp_count(blob, F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(blob, F.lit(_PII_PHONE)).alias("n_phones"),
        (
            F.length(blob)
            - F.length(
                F.regexp_replace(
                    F.regexp_replace(blob, _PII_EMAIL, "[EMAIL]"),
                    _PII_PHONE,
                    "[PHONE]",
                )
            )
        ).alias("chars_redacted"),
    )
    return scrubbed.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("n_emails").alias("emails_found"),
        F.sum("n_phones").alias("phones_found"),
        F.sum("chars_redacted").alias("chars_redacted"),
    )


# --- mutual information -------------------------------------------------------


@register(
    "mutual_information",
    """
WITH joint AS (
  SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY lang, source),
n AS (SELECT SUM(c) AS n FROM joint),
ml AS (SELECT lang, SUM(c) AS cl FROM joint GROUP BY lang),
ms AS (SELECT source, SUM(c) AS cs FROM joint GROUP BY source),
terms AS (
  SELECT CAST(
           (CAST(j.c AS DOUBLE) / n.n)
           * LN((CAST(j.c AS DOUBLE) * n.n)
                / (CAST(ml.cl AS DOUBLE) * ms.cs)) AS DECIMAL(28,12)) AS term
  FROM joint j JOIN ml USING (lang) JOIN ms USING (source) CROSS JOIN n)
SELECT COUNT(*) AS n_cells,
       CAST(ROUND(SUM(term), 6) AS DOUBLE) AS mi_nats
FROM terms
""",
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) in nats — the dependence measure
    used to audit whether corpus metadata dimensions are redundant (high
    MI: one stratification suffices) or independent (low MI: sample over
    the cross product). Computed from the contingency table:
    I = sum_cells p(l,s) * ln(p(l,s) / (p(l) p(s))).

    One groupBy builds the joint table; the marginals and the grand total
    are re-aggregations of that (already tiny) table, broadcast back in.
    Per-cell terms are rounded then decimal-summed (order-independent
    float convention). The only corpus-sized shuffle is the first
    contingency groupBy, which carries map-side partials.
    """
    docs = load(spark, sf_dir, "documents", fan_out=True)
    joint = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("c"))
    n = joint.agg(F.sum("c").alias("n"))
    ml = joint.groupBy("lang").agg(F.sum("c").alias("cl"))
    ms = joint.groupBy("source").agg(F.sum("c").alias("cs"))
    term = (
        (F.col("c").cast("double") / F.col("n"))
        * F.log(
            (F.col("c").cast("double") * F.col("n"))
            / (F.col("cl").cast("double") * F.col("cs"))
        )
    ).cast("decimal(28,12)")
    return (
        joint.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .join(F.broadcast(n))
        .select(term.alias("term"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum("term"), 6).cast("double").alias("mi_nats"),
        )
    )


@register(
    "ngram_dup_fraction",
    f"""
WITH g AS (
  SELECT doc_id, unnest({_SQL_GRAMS}) AS gram FROM documents
),
c AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY gram) AS nd FROM g
)
SELECT doc_id,
       COUNT(*) AS n_grams,
       CAST(COUNT(*) FILTER (WHERE nd >= 2) AS BIGINT) AS n_dup_grams,
       ROUND(CAST(COUNT(*) FILTER (WHERE nd >= 2) AS DOUBLE) / COUNT(*), 6)
         AS dup_fraction
FROM c
GROUP BY doc_id
""",
)
def q_ngram_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-n-gram fraction (the RefinedWeb/Dolma
    'fraction of characters in duplicated n-grams' filter, word-3-gram
    variant): a shingle that appears in >= 2 distinct documents is
    'duplicated'; each document reports what share of its distinct
    shingles are. Shingles are distinct per doc (functions/text.py:
    ngram_shingles), so a plain count per gram IS the containing-doc
    count.

    Scale shape: one explode (generated per scan partition, no shuffle),
    then a single hash-partitioned unordered window (PARTITION BY gram,
    no frame sort semantics needed beyond the partition clustering) to
    annotate each (doc, gram) with its corpus frequency, then the per-doc
    groupBy. Two shuffles total; the alternative groupBy(gram)+join-back
    moves the same exploded rows one extra time. Hot shingles (stop-word
    trigrams) are bounded by the containing-doc count and spread across
    the gram hash space.
    """
    docs = load(spark, sf_dir, "documents", fan_out=True)
    g = docs.select(
        "doc_id", F.explode(ngram_shingles("text")).alias("gram")
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    dup = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return (
        g.select("doc_id", nd.alias("nd"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            dup.cast("bigint").alias("n_dup_grams"),
            F.round(
                dup.cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_fraction"),
        )
    )


_SQL_SUBTOKS = (
    r"list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),"
    r" t -> t != '')"
)


@register(
    "oov_rate",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_SUBTOKS}) AS tok FROM documents
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS freq FROM tok GROUP BY tok
    ORDER BY freq DESC, tok LIMIT 500)
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov,
       ROUND(CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE)
             / COUNT(*), 6) AS oov_rate
FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.doc_id
""",
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-500 sub-word vocab
    (deterministic freq-then-token ordering), then measure each
    document's out-of-vocabulary token-occurrence rate — the standard
    pre-training sanity check that a tokenizer's vocab fits the corpus.

    Scale shape: the vocab build is one shuffle ending in
    TakeOrderedAndProject (per-partition top-k heaps, no global sort);
    the 500-row vocab then BROADCASTS into the occurrence stream, so the
    coverage pass costs one map-side join + the per-doc groupBy. The
    corpus is never shuffled by token for the join.
    """
    docs = load(spark, sf_dir, "documents", fan_out=True)
    tok = docs.select(
        "doc_id", F.explode(bpe_ish_tokens(F.col("text"))).alias("tok")
    )
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(500)
        .select("tok")
    )
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return (
        tok.join(
            F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "tok", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            oov.cast("bigint").alias("n_oov"),
            F.round(oov.cast("double") / F.count(F.lit(1)), 6).alias(
                "oov_rate"
            ),
        )
    )


@register(
    "negative_pairs",
    """
WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
cand AS (
  SELECT e.vec_id,
         (e.vec_id * 1103 + j.j * 7919) % n.n AS partner_id,
         e.label AS label_a
  FROM embeddings e
  CROSS JOIN (SELECT unnest([1, 2]) AS j) j
  CROSS JOIN n),
pairs AS (
  SELECT c.vec_id, c.partner_id, c.label_a, p.label AS label_b,
         ROUND(list_dot_product(a.embedding::DOUBLE[], p.embedding::DOUBLE[])
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[]))),
               6) AS cosine_sim
  FROM cand c
  JOIN embeddings p ON c.partner_id = p.vec_id
  JOIN embeddings a ON c.vec_id = a.vec_id
  WHERE c.partner_id != c.vec_id)
SELECT vec_id, partner_id, label_a, label_b, cosine_sim
FROM pairs
WHERE label_a != label_b
""",
)
def q_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-pair sampling for contrastive training:
    each vector proposes 2 pseudo-random partners via a multiplicative
    hash over the id space (no RNG state — any engine and any rerun
    derives the same pairs, and the corpus growing only adds pairs),
    keeps cross-label ones, and scores them with the exact in-order
    cosine. The hash-partner construction replaces the cartesian
    sample-join a naive implementation would do: candidate generation is
    a map-side expression, and the only joins are two hash joins back to
    the embedding table on its key — at 100 TB that is two
    shuffle-by-key passes (or broadcast if one side is a dim), never an
    all-pairs blowup.

    The count scalar rides in as a broadcast 1-row aggregate
    (the idiomatic scalar-broadcast pattern, not a driver collect).
    """
    from taxi_data_datapipeline_spark.operators.similarity import cosine

    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    n = emb.agg(F.count(F.lit(1)).alias("n"))
    cand = (
        emb.select("vec_id", F.col("label").alias("label_a"))
        .join(F.broadcast(n))
        .select(
            "vec_id",
            "label_a",
            F.explode(
                F.array(
                    (F.col("vec_id") * 1103 + 1 * 7919) % F.col("n"),
                    (F.col("vec_id") * 1103 + 2 * 7919) % F.col("n"),
                )
            ).alias("partner_id"),
        )
        .filter(F.col("partner_id") != F.col("vec_id"))
    )
    a = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"))
    b = emb.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("eb"),
    )
    return (
        cand.join(a, cand["vec_id"] == a["a_id"])
        .join(b, cand["partner_id"] == b["b_id"])
        .filter(F.col("label_a") != F.col("label_b"))
        .select(
            "vec_id",
            "partner_id",
            "label_a",
            "label_b",
            F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("cosine_sim"),
        )
    )


@register(
    "equidepth_buckets",
    """
WITH edges AS (
  SELECT quantile_cont(n_chars,
           [0.1e0,0.2e0,0.3e0,0.4e0,0.5e0,0.6e0,0.7e0,0.8e0,0.9e0]) AS es
  FROM documents),
b AS (
  SELECT n_chars,
         1 + len(list_filter(es, e -> n_chars > e)) AS bucket
  FROM documents CROSS JOIN edges)
SELECT bucket,
       COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM b
GROUP BY bucket
""",
)
def q_equidepth_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of document lengths — the
    scale-correct formulation: a global ntile() would sort the whole
    corpus in ONE partition, so instead the 9 decile edges are computed
    by a single-pass percentile aggregate (1-row result), BROADCAST back
    (idiomatic scalar-broadcast, no collect), and each row buckets
    itself with an array fold over the edge list. One agg + one map-side
    bucketing pass + one small groupBy; at 100 TB swap the exact
    percentile for approx_percentile and keep the identical shape.
    """
    docs = load(spark, sf_dir, "documents", fan_out=True)
    fracs = [i / 10 for i in range(1, 10)]
    edges = docs.agg(
        F.percentile("n_chars", F.array(*[F.lit(p) for p in fracs])).alias("es")
    )
    bucket = F.lit(1) + F.aggregate(
        F.col("es"),
        F.lit(0),
        lambda acc, e: acc + F.when(F.col("n_chars") > e, 1).otherwise(0),
    )
    return (
        docs.select("n_chars")
        .join(F.broadcast(edges))
        .select("n_chars", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


@register(
    "embedding_standardize",
    """
WITH du AS (
  SELECT vec_id, i.i AS dim,
         CAST(FLOOR(embedding[i.i]::DOUBLE * 1048576) AS BIGINT) AS xu
  FROM embeddings,
       LATERAL unnest(generate_series(1, len(embedding))) AS i(i)),
stats AS (
  SELECT dim, COUNT(*) AS n,
         SUM(xu) AS s,
         SUM(xu * xu) AS ss
  FROM du GROUP BY dim)
SELECT d.vec_id, d.dim,
       ROUND(CAST(s.n * d.xu - s.s AS DOUBLE)
             / sqrt(CAST(s.n * (s.n * s.ss - s.s * s.s) AS DOUBLE)), 6)
         AS z
FROM du d JOIN stats s ON d.dim = s.dim
""",
)
def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature standardization (per-dimension z-score) of the embedding
    table — the preprocessing pass in front of clustering/ANN. Exactness
    recipe: components enter BIGINT fixed-point (floor to 2^-20 units),
    per-dimension sufficient statistics (n, sum, sum-of-squares) are
    exact integer sums, and z = (n*x - s) / sqrt(n*(n*ss - s^2)) — the
    algebra keeps everything integer until one sqrt and one division, so
    both engines emit bit-identical doubles before the display round.

    Scale shape: posexplode is generated map-side; the dim-stats groupBy
    produces one row per dimension (tiny — broadcasts back for the
    z-join); output stays exploded (vec_id, dim, z) so no array column
    reaches the driver hasher. The moment sums run in DECIMAL(38,0)
    from the start — n*ss exceeds int64 past ~10^3 vectors at this unit
    scale, and decimal sums stay exact and order-independent to ~10^38.
    """
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    du = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("dim0", "x"),
    ).select(
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * F.lit(1048576.0)).alias("xu"),
    )
    # Moments in DECIMAL(38,0): exact, order-independent, and immune to
    # the int64 overflow n*ss hits past ~10^3 vectors (DuckDB's SUM(BIGINT)
    # widens to int128 natively; Spark needs the explicit decimal).
    dec = "decimal(38,0)"
    stats = du.groupBy("dim").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("xu").cast(dec)).alias("s"),
        F.sum((F.col("xu") * F.col("xu")).cast(dec)).alias("ss"),
    )
    z = (F.col("n") * F.col("xu") - F.col("s")).cast("double") / F.sqrt(
        (F.col("n") * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))).cast(
            "double"
        )
    )
    return (
        du.join(F.broadcast(stats), "dim")
        .select("vec_id", "dim", F.round(z, 6).alias("z"))
    )


def _kmeans_units_oracle(k: int = 4, iters: int = 3) -> str:
    steps = []
    prev = "c0"
    for t in range(1, iters + 1):
        steps.append(
            f"""d{t} AS (
  SELECT d.vec_id, c.cid, SUM((d.xu - c.cu) * (d.xu - c.cu)) AS d2
  FROM du d JOIN {prev} c ON d.dim = c.dim
  GROUP BY d.vec_id, c.cid),
a{t} AS (
  SELECT vec_id, cid AS cluster, d2 FROM (
    SELECT vec_id, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d{t}) WHERE rn = 1),
c{t} AS (
  SELECT a.cluster AS cid, d.dim, SUM(d.xu) // COUNT(*) AS cu
  FROM a{t} a JOIN du d ON a.vec_id = d.vec_id
  GROUP BY a.cluster, d.dim)"""
        )
        prev = f"c{t}"
    fin = iters + 1
    steps.append(
        f"""d{fin} AS (
  SELECT d.vec_id, c.cid, SUM((d.xu - c.cu) * (d.xu - c.cu)) AS d2
  FROM du d JOIN {prev} c ON d.dim = c.dim
  GROUP BY d.vec_id, c.cid),
a{fin} AS (
  SELECT vec_id, cid AS cluster, d2 FROM (
    SELECT vec_id, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d{fin}) WHERE rn = 1)"""
    )
    steps_sql = ",\n".join(steps)
    return f"""
WITH xu AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(FLOOR(x * 1048576) AS BIGINT)) AS v
  FROM embeddings),
du AS (
  SELECT vec_id, i.i AS dim, v[i.i] AS xu
  FROM xu, LATERAL unnest(generate_series(1, len(v))) AS i(i)),
c0 AS (SELECT vec_id AS cid, dim, xu AS cu FROM du WHERE vec_id < {k}),
{steps_sql}
SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, CAST(d2 AS BIGINT) AS d2u
FROM a{fin}
"""


# kmeans_units and semdedup run the IDENTICAL fixed-point Lloyd chain
# (k=4, 3 iterations over embeddings); the final assignment is row-count
# = corpus, so checkpoint it once per session and share — without this,
# every downstream action replays all three iterations through the lazy
# lineage.
def kmeans_units_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxi_data_datapipeline_spark.operators.clustering import (
        lloyd_kmeans_units,
    )

    def build() -> DataFrame:
        emb = load(spark, sf_dir, "embeddings", fan_out=True)
        return lloyd_kmeans_units(emb).localCheckpoint(eager=True)

    return shared(spark, sf_dir, "kmeans_units", build)


@register("kmeans_units", _kmeans_units_oracle())
def q_kmeans_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point Lloyd k-means (k=4, 3 iterations) with a FULL
    value-hash oracle: the SQL unrolls every assign/update round as
    chained CTEs over exact integer arithmetic, so an iterative
    clustering algorithm gets the same bit-for-bit cross-engine check
    as any relational query (operators/clustering.py:lloyd_kmeans_units
    for the semantics and per-iteration scale shape). The float-domain
    production path stays ``kmeans_iterate``; this twin proves the
    iteration logic itself. Assignment chain memoized and shared with
    `semdedup` (kmeans_units_cached)."""
    out = kmeans_units_cached(spark, sf_dir)
    return out.select(
        "vec_id", F.col("cluster").cast("bigint").alias("cluster"), "d2u"
    )


@register(
    "dsir_importance",
    f"""
WITH tok AS (
  SELECT doc_id, lang = 'en' AS tgt, unnest({_SQL_TOKS}) AS w
  FROM documents),
counts AS (
  SELECT w,
         SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
  FROM tok GROUP BY w),
tots AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr,
         COUNT(*) AS v
  FROM counts),
terms AS (
  SELECT w,
         CAST(ROUND(LN(CAST((c.ct + 1) * (t.nr + t.v) AS DOUBLE)
                       / CAST((c.cr + 1) * (t.nt + t.v) AS DOUBLE)), 9)
              AS DECIMAL(28,12)) AS term
  FROM counts c CROSS JOIN tots t),
scored AS (
  SELECT k.doc_id, CAST(SUM(m.term) AS DOUBLE) AS importance,
         COUNT(*) AS n_tokens
  FROM tok k JOIN terms m ON k.w = m.w
  WHERE NOT k.tgt
  GROUP BY k.doc_id)
SELECT doc_id, importance, n_tokens
FROM scored
ORDER BY importance DESC, doc_id
LIMIT 150
""",
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (Xie et al., "Data Selection for Language
    Models via Importance Resampling", NeurIPS 2023): score every RAW
    document by how target-like its token distribution is — per-token
    log-ratio ln(p_target(w)/p_raw(w)) under add-1-smoothed unigram LMs
    (the paper's hashed-n-gram features, with the n-gram hashing
    degenerate at this vocab size), summed per document; the top-scored
    raw docs are the ones importance resampling admits into the
    training mix. Target = the 'en' slice, raw = everything else.

    Exactness (the engine's rounded-transcendental convention, as in
    logistic_gd's sigmoid and token_entropy): each per-VOCAB-WORD
    log-ratio is computed once from identical integer counts — the
    IEEE division of two exactly-represented products, then LN, then
    ROUND(.,9) -> DECIMAL, so last-ulp libm differences between engines
    are quantized away BEFORE the per-document summation, which is an
    exact decimal fold. Output importance is one final decimal->double
    cast; top-150 ties break on doc_id.

    Scale shape: the vocabulary table (counts + terms) is
    aggregate-sized and broadcast back onto the token stream — one
    explode, one groupBy(w), one broadcast join, one groupBy(doc); at
    100 TB the vocab table is the only state and the paper's hashed
    features cap it at a fixed width."""
    from taxi_data_datapipeline_spark.functions.text import tokens

    docs = load(spark, sf_dir, "documents", fan_out=True)
    tok = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("tgt"),
        F.explode(tokens("text")).alias("w"),
    )
    counts = tok.groupBy("w").agg(
        F.sum(F.when(F.col("tgt"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("tgt"), 0).otherwise(1)).alias("cr"),
    )
    tots = counts.agg(
        F.sum("ct").cast("bigint").alias("nt"),
        F.sum("cr").cast("bigint").alias("nr"),
        F.count(F.lit(1)).alias("v"),
    )
    terms = counts.crossJoin(F.broadcast(tots)).select(
        "w",
        F.round(
            F.log(
                ((F.col("ct") + 1) * (F.col("nr") + F.col("v"))).cast("double")
                / ((F.col("cr") + 1) * (F.col("nt") + F.col("v"))).cast("double")
            ),
            9,
        )
        .cast("decimal(28,12)")
        .alias("term"),
    )
    return (
        tok.filter(~F.col("tgt"))
        .join(F.broadcast(terms), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("term").cast("double").alias("importance"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .orderBy(F.col("importance").desc(), "doc_id")
        .limit(150)
    )


# SemDeDup threshold as an exact rational: cos >= 3/10 compared via
# 100*dot^2 >= 9*|a|^2*|b|^2 with dot > 0 — no float cosine anywhere.
_SEMDEDUP_NUM, _SEMDEDUP_DEN = 9, 100


@register(
    "semdedup",
    _kmeans_units_oracle().rsplit("SELECT vec_id", 1)[0]
    + f""",
n2 AS (
  SELECT vec_id, SUM(xu * xu) AS n2 FROM du GROUP BY vec_id),
dup AS (
  SELECT y.vec_id
  FROM a4 x JOIN a4 y
    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  JOIN du dx ON dx.vec_id = x.vec_id
  JOIN du dy ON dy.vec_id = y.vec_id AND dy.dim = dx.dim
  JOIN n2 nx ON nx.vec_id = x.vec_id
  JOIN n2 ny ON ny.vec_id = y.vec_id
  GROUP BY x.vec_id, y.vec_id, nx.n2, ny.n2
  HAVING SUM(dx.xu * dy.xu) > 0
     AND {_SEMDEDUP_DEN} * SUM(dx.xu * dy.xu) * SUM(dx.xu * dy.xu)
         >= {_SEMDEDUP_NUM} * nx.n2 * ny.n2)
SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM a4 a LEFT JOIN (SELECT DISTINCT vec_id FROM dup) d
  ON a.vec_id = d.vec_id
""",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv 2303.09540): semantic deduplication
    of an embedding corpus by CLUSTERING FIRST, then comparing pairs
    only WITHIN clusters — k-means bounds the quadratic cosine stage to
    per-cluster blocks, which is the whole trick that makes semantic
    dedup feasible at corpus scale (k grows with the corpus, cluster
    size stays ~constant, total pair work stays ~linear). Keep rule =
    the paper's greedy: a vector is dropped when a LOWER-id vector in
    its cluster is cosine-similar above the threshold.

    Exactness: clustering is the fixed-point `lloyd_kmeans_units` chain
    (same unrolled-CTE oracle as `kmeans_units`), and the cosine test
    cos >= 3/10 is evaluated as the exact integer inequality
    100*dot^2 >= 9*|a|^2*|b|^2 (dot > 0) over the 2^-20-unit vectors —
    products reach ~2^92 (HUGEINT in DuckDB; exact-integer recheck on
    the Spark side); the OUTPUT stays BIGINT, so the driver hasher never
    sees a wide type. No float decides any boundary: the full cluster ->
    pairwise -> survivorship chain is value-hash checked.

    Scale shape: ONE shuffle on cluster feeding a grouped-map Gram
    matrix per cluster block (exact int64 matmul,
    operators/clustering.py:cluster_block_semdedup — 13x the former
    per-pair array-lambda expression), and an EXISTS-style left anti
    pattern for survivorship. At 100 TB: k ~ corpus/500 keeps blocks
    ~constant-sized so groups fit executors, the cluster id is the
    shuffle key, and hot clusters get the same fanout cap treatment as
    LSH buckets."""
    from taxi_data_datapipeline_spark.operators.clustering import (
        cluster_block_semdedup,
        lloyd_kmeans_units,
    )

    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    # Paper-faithful k scaling: k grows with the corpus so CLUSTER SIZE
    # stays ~constant (~500 vectors) and the within-cluster pairwise
    # stage stays ~linear in total — with a fixed k the clusters grow
    # with the data and the pair stage is quadratic (measured: 10x data
    # made 100x pair work before this). The count() is one
    # metadata-cheap action; at sf<=0.1 the formula resolves to k=4,
    # exactly the constant the unrolled SQL oracle bakes in, so the
    # sf0.01 gate compares identical algorithms. Count the RAW scan, not
    # the fanned-out frame — Spark answers it from parquet row-group
    # metadata without executing the repartition.
    k = max(4, load(spark, sf_dir, "embeddings").count() // 500)
    if k == 4:
        km = kmeans_units_cached(spark, sf_dir).select("vec_id", "cluster")
    else:
        km = lloyd_kmeans_units(emb, k=int(k)).select("vec_id", "cluster")
    xu = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(float(1 << 20))).cast(
                "long"
            ),
        ).alias("v"),
    )
    # Within-cluster pairwise stage as one grouped-map Gram matrix per
    # cluster block (exact int64 matmul + exact-integer boundary
    # recheck) — bit-identical dup set to the former zip_with/aggregate
    # pair expression, 13x faster (operators/clustering.py).
    pairs = cluster_block_semdedup(
        km.join(xu, "vec_id"), num=_SEMDEDUP_NUM, den=_SEMDEDUP_DEN
    ).withColumn("dup", F.lit(0).cast("bigint"))
    return km.join(pairs, "vec_id", "left").select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.coalesce(F.col("dup"), F.lit(1)).cast("bigint").alias("kept"),
    )


@register(
    "inverted_index",
    f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({_SQL_SUBTOKS}) AS term FROM documents
),
idx AS (
  SELECT term,
         COUNT(*) AS df,
         list_sort(list(doc_id)) AS postings
  FROM tok GROUP BY term)
SELECT term, df,
       array_to_string(postings[1:20], ',') AS head_postings
FROM idx
WHERE df >= 5
""",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (term -> document-frequency + posting list),
    the retrieval-side storage structure behind BM25/TF-IDF: explode
    distinct (doc, term) pairs, one groupBy(term) collecting sorted
    postings. Rare terms (df < 5) are left to the long tail; the
    emitted posting HEAD (first 20 doc ids) is serialized to a string at
    the query boundary (driver hashers can't hash list cells —
    landmine 13). At corpus scale the posting lists for stop-word terms
    are the classic skew case: real deployments cap or skip them exactly
    like this df-band does, and the groupBy carries map-side partial
    collect_set segments.
    """
    docs = load(spark, sf_dir, "documents", fan_out=True)
    tok = docs.select(
        "doc_id", F.explode(bpe_ish_tokens(F.col("text"))).alias("term")
    ).distinct()
    return (
        tok.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sort_array(F.collect_list("doc_id")).alias("postings"),
        )
        .filter(F.col("df") >= 5)
        .select(
            "term",
            "df",
            F.concat_ws(
                ",", F.slice(F.col("postings"), 1, 20).cast("array<string>")
            ).alias("head_postings"),
        )
    )


@register(
    "knn_join",
    """
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id < 8),
c AS (
  SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv, label FROM embeddings),
scored AS (
  SELECT q.q_id, c.c_id, c.label,
         ROUND(list_dot_product(q.qv, c.cv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cosine_sim
  FROM q CROSS JOIN c
  WHERE q.q_id != c.c_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine_sim DESC, c_id) AS rk
  FROM scored)
SELECT q_id, c_id, label, cosine_sim, rk
FROM ranked WHERE rk <= 3
""",
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN join: top-3 cosine neighbors for EACH of a set of query
    vectors in one pass — the production shape of similarity search
    (embedding_topk is the single-query tier; the LSH/IVF queries are
    the sublinear tier). The query set BROADCASTS into the corpus scan
    (queries are the small side by construction), each scan row scores
    against all broadcast queries map-side, and per-query top-k comes
    from one window over the scored stream partitioned by query id —
    rank ties broken by candidate id. At 100 TB: corpus scanned once
    regardless of query-set size; the shuffle carries only
    (n_queries x candidates) scored rows.
    """
    from taxi_data_datapipeline_spark.operators.similarity import cosine

    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv"), "label"
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            "label",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_sim").desc(), "c_id"
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 3
    )


@register(
    "multimodal_resize",
    """
SELECT doc_id,
       256 AS out_len,
       CASE WHEN length(text) >= 256 THEN 0
            ELSE 256 - length(text) END AS n_pad,
       sha256(substr(text, 1, 256)) AS head_sha
FROM documents
""",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-stage plumbing under full verification: run the
    Arrow-batched binary resize (operators/multimodal.py:
    resize_payloads — truncate/zero-pad to 256 bytes, the deterministic
    stand-in for decode+resample) and characterize its ACTUAL binary
    output — total length, pad bytes added, sha256 of the content head —
    so the mapInPandas path itself is what the oracle checks (the
    oracle states the same facts from the char domain; payloads are
    UTF-8 text bytes as in `multimodal_bytes`)."""
    from taxi_data_datapipeline_spark.operators.multimodal import (
        resize_payloads,
    )

    d = load(spark, sf_dir, "documents", fan_out=True)
    resized = resize_payloads(
        d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")),
        target_len=256,
    )
    src = d.select("doc_id", F.octet_length(F.col("text")).alias("n_b"))
    return (
        resized.join(src, "doc_id")
        .select(
            "doc_id",
            F.octet_length("resized").alias("out_len"),
            F.when(F.col("n_b") >= 256, 0)
            .otherwise(256 - F.col("n_b"))
            .alias("n_pad"),
            F.sha2(
                F.substring(F.col("resized"), 1, 256).substr(
                    F.lit(1), F.least(F.col("n_b"), F.lit(256))
                ),
                256,
            ).alias("head_sha"),
        )
    )


# pq_encode and pq_adc_topk both train the identical codebook and code
# matrix; memoize the (du, codebook, assignment) triple per (session,
# sf_dir, params) so the second consumer reuses the trained chain
# instead of re-running both Lloyd iterations. The trained codebook is
# checkpointed inside (tiny), so training executes once; du/assignment
# stay lazy — they are scan-sized and deterministic.
def _pq_train_encode(
    spark: SparkSession, sf_dir: str, k: int = 4, sub_dims: int = 8, iters: int = 2
):
    """Shared PQ machinery: returns (du, final codebook, final assignment)
    where du = (vec_id, sub, sdim, xu) fixed-point subvector units,
    codebook = (sub, cid, sdim, cu), assignment = (vec_id, sub, code, d2)."""

    def build():
        emb = load(spark, sf_dir, "embeddings", fan_out=True)
        du = (
            emb.select(
                "vec_id", F.posexplode(F.col("embedding")).alias("pos", "x")
            )
            .select(
                "vec_id",
                (F.col("pos") / sub_dims).cast("int").alias("sub"),
                F.pmod(F.col("pos"), F.lit(sub_dims)).alias("sdim"),
                F.floor(F.col("x").cast("double") * F.lit(1048576.0)).alias("xu"),
            )
        )
        sq = F.sum(
            (F.col("xu") - F.col("cu")) * (F.col("xu") - F.col("cu"))
        ).cast("long")

        def assign_to(codebook):
            d2 = (
                du.join(F.broadcast(codebook), ["sub", "sdim"])
                .groupBy("vec_id", "sub", "cid")
                .agg(sq.alias("d2"))
            )
            w = Window.partitionBy("vec_id", "sub").orderBy("d2", "cid")
            return (
                d2.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("vec_id", "sub", F.col("cid").alias("code"), "d2")
            )

        cb = du.filter(F.col("vec_id") < k).select(
            "sub", F.col("vec_id").alias("cid"), "sdim", F.col("xu").alias("cu")
        )
        for _ in range(iters):
            assign = assign_to(cb)
            cb = (
                assign.join(du, ["vec_id", "sub"])
                .groupBy("sub", F.col("code").alias("cid"), "sdim")
                .agg(F.expr("SUM(xu) div COUNT(*)").alias("cu"))
            )
        # The trained codebook is k*subspaces*sub_dims rows (~256):
        # checkpoint it eagerly so the two Lloyd iterations execute ONCE
        # per session and every consumer's plan starts from the
        # materialized 256-row table instead of replaying the training
        # lineage per action.
        cb = cb.localCheckpoint(eager=True)
        return (du, cb, assign_to(cb))

    return shared(spark, sf_dir, "pq_train", build, k, sub_dims, iters)


def _pq_oracle(
    k: int = 4, sub_dims: int = 8, iters: int = 2, tail: str | None = None
) -> str:
    steps = []
    prev = "c0"
    for t in range(1, iters + 1):
        steps.append(
            f"""d{t} AS (
  SELECT d.vec_id, d.sub, c.cid,
         SUM((d.xu - c.cu) * (d.xu - c.cu)) AS d2
  FROM du d JOIN {prev} c ON d.sub = c.sub AND d.sdim = c.sdim
  GROUP BY d.vec_id, d.sub, c.cid),
a{t} AS (
  SELECT vec_id, sub, cid AS code, d2 FROM (
    SELECT vec_id, sub, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2, cid) AS rn
    FROM d{t}) WHERE rn = 1),
c{t} AS (
  SELECT a.sub, a.code AS cid, d.sdim,
         SUM(d.xu) // COUNT(*) AS cu
  FROM a{t} a JOIN du d ON a.vec_id = d.vec_id AND a.sub = d.sub
  GROUP BY a.sub, a.code, d.sdim)"""
        )
        prev = f"c{t}"
    fin = iters + 1
    steps.append(
        f"""d{fin} AS (
  SELECT d.vec_id, d.sub, c.cid,
         SUM((d.xu - c.cu) * (d.xu - c.cu)) AS d2
  FROM du d JOIN {prev} c ON d.sub = c.sub AND d.sdim = c.sdim
  GROUP BY d.vec_id, d.sub, c.cid),
a{fin} AS (
  SELECT vec_id, sub, cid AS code, d2 FROM (
    SELECT vec_id, sub, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2, cid) AS rn
    FROM d{fin}) WHERE rn = 1)"""
    )
    steps_sql = ",\n".join(steps)
    tail_sql = tail or (
        "SELECT vec_id, sub, code, CAST(d2 AS BIGINT) AS recon_d2u\n"
        f"FROM a{iters + 1}"
    )
    return f"""
WITH xu AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(FLOOR(x * 1048576) AS BIGINT)) AS v
  FROM embeddings),
du AS (
  SELECT vec_id,
         (i.i - 1) // {sub_dims} AS sub,
         (i.i - 1) % {sub_dims} AS sdim,
         v[i.i] AS xu
  FROM xu, LATERAL unnest(generate_series(1, len(v))) AS i(i)),
c0 AS (
  SELECT sub, vec_id AS cid, sdim, xu AS cu FROM du WHERE vec_id < {k}),
{steps_sql}
{tail_sql}
"""


@register("pq_encode", _pq_oracle())
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the ANN-index compression tier behind IVF-PQ,
    Jegou/Douze/Schmid TPAMI 2011): split each embedding into 8-dim
    subvectors, train a tiny per-subspace codebook with 2 fixed-point
    Lloyd iterations (seeds = the first k vectors' subvectors), and
    encode every vector as one code per subspace with its reconstruction
    error. All arithmetic is BIGINT fixed-point (2^-20 units, truncating
    centroid division), so the whole train+encode loop has a full
    unrolled-CTE oracle — same discipline as `kmeans_units`, generalized
    by carrying the subspace id through every join/group.

    Scale shape: posexplode to (vec, subspace, dim) units is map-side;
    each iteration is one shuffle to per-(subspace, code, dim) sums (the
    codebook — k * subspaces * sub_dims rows, broadcasts back for the
    next assignment); encoding output stays exploded (vec_id, sub,
    code) — the PQ code matrix a 100 TB ANN index stores.
    """
    du, cb, assign = _pq_train_encode(spark, sf_dir)
    return assign.select(
        "vec_id", "sub", "code", F.col("d2").alias("recon_d2u")
    )


@register(
    "langid_confusion",
    f"""
WITH v AS (SELECT doc_id, lang AS labeled_lang, {_lang_votes_sql()} FROM documents),
pred AS (
  SELECT labeled_lang,
         CASE WHEN GREATEST(v_de, v_en, v_es, v_fr, v_zh) = 0 THEN 'en'
              WHEN v_de = GREATEST(v_de, v_en, v_es, v_fr, v_zh) THEN 'de'
              WHEN v_en = GREATEST(v_de, v_en, v_es, v_fr, v_zh) THEN 'en'
              WHEN v_es = GREATEST(v_de, v_en, v_es, v_fr, v_zh) THEN 'es'
              WHEN v_fr = GREATEST(v_de, v_en, v_es, v_fr, v_zh) THEN 'fr'
              ELSE 'zh' END AS predicted_lang
  FROM v),
cells AS (
  SELECT labeled_lang, predicted_lang, COUNT(*) AS n
  FROM pred GROUP BY 1, 2),
tot AS (SELECT labeled_lang, SUM(n) AS row_n FROM cells GROUP BY 1)
SELECT c.labeled_lang, c.predicted_lang, c.n,
       ROUND(CAST(c.n AS DOUBLE) / t.row_n, 6) AS row_share
FROM cells c JOIN tot t ON c.labeled_lang = t.labeled_lang
""",
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix for the stopword-vote
    language ID: (labeled, predicted) cell counts with row-normalized
    shares — the model-eval aggregate every labeling pipeline reports.
    One groupBy to the cell table; per-row totals re-aggregate the cells
    and broadcast back. Shares are one double division, rounded once.
    """
    d = load(spark, sf_dir, "documents", fan_out=True)
    pred = d.select(
        F.col("lang").alias("labeled_lang"),
        lang_id("text").alias("predicted_lang"),
    )
    cells = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cells.groupBy("labeled_lang").agg(F.sum("n").alias("row_n"))
    return cells.join(F.broadcast(tot), "labeled_lang").select(
        "labeled_lang",
        "predicted_lang",
        "n",
        F.round(F.col("n").cast("double") / F.col("row_n"), 6).alias(
            "row_share"
        ),
    )


_ADC_TAIL = """q AS (
  SELECT sub, sdim, xu AS qxu FROM du WHERE vec_id = 0),
lut AS (
  SELECT c.sub, c.cid, SUM((q.qxu - c.cu) * (q.qxu - c.cu)) AS d2
  FROM c2 c JOIN q ON c.sub = q.sub AND c.sdim = q.sdim
  GROUP BY c.sub, c.cid),
score AS (
  SELECT a.vec_id, SUM(l.d2) AS adc_d2u
  FROM a3 a JOIN lut l ON a.sub = l.sub AND a.code = l.cid
  WHERE a.vec_id != 0
  GROUP BY a.vec_id)
SELECT vec_id, CAST(adc_d2u AS BIGINT) AS adc_d2u
FROM score ORDER BY adc_d2u, vec_id LIMIT 20"""


@register("pq_adc_topk", _pq_oracle(tail=", " + _ADC_TAIL))
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the actual IVF-PQ
    search step: the query vector builds a (subspace, code) -> distance
    LOOKUP TABLE against the trained codebook (k * subspaces rows, all
    integer), and every database vector is scored by summing 8 table
    lookups over its codes instead of touching its 64 floats. The LUT
    broadcasts; scoring is one join + groupBy over the code matrix; the
    top-20 plans as TakeOrderedAndProject. Exact to the last bit, so the
    full train -> encode -> search chain is value-hash oracle-checked.
    """
    du, cb, assign = _pq_train_encode(spark, sf_dir)
    q = du.filter(F.col("vec_id") == 0).select(
        "sub", "sdim", F.col("xu").alias("qxu")
    )
    # Rename the LUT's keys: assign and lut both descend from the SAME
    # checkpointed codebook, so joining on same-named columns would trip
    # Spark's ambiguous-self-join detector.
    lut = (
        cb.join(F.broadcast(q), ["sub", "sdim"])
        .groupBy(
            F.col("sub").alias("lut_sub"), F.col("cid").alias("lut_cid")
        )
        .agg(
            F.sum((F.col("qxu") - F.col("cu")) * (F.col("qxu") - F.col("cu")))
            .cast("long")
            .alias("lut_d2")
        )
    )
    return (
        assign.filter(F.col("vec_id") != 0)
        .join(
            F.broadcast(lut),
            (assign["sub"] == lut["lut_sub"])
            & (assign["code"] == lut["lut_cid"]),
        )
        .groupBy("vec_id")
        .agg(F.sum("lut_d2").cast("bigint").alias("adc_d2u"))
        .orderBy("adc_d2u", "vec_id")
        .limit(20)
    )


@register(
    "cdc_chunking",
    """
SELECT doc_id,
       length(text) AS n_chars,
       CASE WHEN length(text) >= 16
            THEN len(list_filter(generate_series(1, length(text) - 15),
                     i -> substr(md5(substr(text, i, 16)), 1, 1) = '0'))
            ELSE 0 END + 1 AS n_chunks,
       ROUND(CAST(length(text) AS DOUBLE) /
             (CASE WHEN length(text) >= 16
                   THEN len(list_filter(generate_series(1, length(text) - 15),
                            i -> substr(md5(substr(text, i, 16)), 1, 1) = '0'))
                   ELSE 0 END + 1), 6) AS avg_chunk_len
FROM documents
""",
)
def q_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rolling-hash boundary detection
    behind storage-level dedup, rsync, and FastCDC): a chunk boundary
    falls wherever the hash of the 16-char window starting at a position
    has a '0' first hex digit (p = 1/16 -> ~16-char expected chunks).
    Content-defined boundaries survive insertions/deletions — unlike
    fixed-size blocks, an edit only reshuffles its own chunk. Everything
    is a map-side array expression inside the scan projection (no
    shuffle until the implicit ordering of output); the oracle evaluates
    the identical per-position window hash.
    """
    docs = load(spark, sf_dir, "documents", fan_out=True)
    boundaries = F.expr(
        "CASE WHEN length(text) >= 16 THEN "
        "size(filter(sequence(1, length(text) - 15), "
        "i -> substring(md5(substring(text, i, 16)), 1, 1) = '0')) "
        "ELSE 0 END"
    )
    n_chunks = (boundaries + 1).alias("n_chunks")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_chunks,
        F.round(
            F.length("text").cast("double") / (boundaries + 1), 6
        ).alias("avg_chunk_len"),
    )


# --- cross-document span dedup (C4-style line dedup) --------------------------


@register(
    "line_dedup",
    r"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS tok
  FROM documents
), spans AS (
  SELECT doc_id, t.k AS span_idx,
         md5(array_to_string(tok[t.k * 8 + 1 : t.k * 8 + 8], ' ')) AS fp
  FROM d, UNNEST(range(0, CAST(ceil(len(tok) / 8.0) AS INT))) AS t(k)
), ranked AS (
  SELECT doc_id, span_idx,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, span_idx) AS rn
  FROM spans)
SELECT doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
FROM ranked GROUP BY doc_id
""",
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span deduplication (the C4 'deduplicate repeated
    lines across the corpus' pass, Raffel et al. 2020 §2.2, adapted to
    8-token spans since the synthetic docs carry no newlines): every
    disjoint 8-token span is fingerprinted, the corpus-wide FIRST
    occurrence (doc_id, span order) survives, and every later repeat is
    marked for removal. Output is the per-document survivorship report
    the curation run logs.

    Distinct from the intra-document `repetition_ratio` (one doc's own
    repeats) and doc-level `dedup_exact` (whole-text fingerprints): this
    operator's key is the SPAN, so boilerplate shared across different
    documents is caught. Plan: span explode is map-side; the only
    shuffle is the fingerprint window (same key a groupBy-dedup would
    shuffle on), then a doc_id re-aggregation — at 100 TB both keys are
    high-cardinality and skew-free (md5 fingerprints)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    n_spans = F.ceil(F.size(F.col("tok")) / F.lit(8.0)).cast("int")
    span = lambda k: F.slice(F.col("tok"), k * 8 + 1, 8)  # noqa: E731
    spans = (
        d.select("doc_id", toks.alias("tok"))
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("tok") > 0,
                    F.transform(
                        F.sequence(F.lit(0), n_spans - 1),
                        lambda k: F.struct(
                            k.alias("span_idx"),
                            F.md5(F.concat_ws(" ", span(k))).alias("fp"),
                        ),
                    ),
                ).otherwise(F.array())
            ).alias("s"),
        )
        .select("doc_id", "s.span_idx", "s.fp")
    )
    w = Window.partitionBy("fp").orderBy("doc_id", "span_idx")
    ranked = spans.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
        F.sum((F.col("rn") != 1).cast("long")).alias("n_removed"),
    )


# --- exact duplicated-substring spans (overlapping k-grams + islands) ----------


_SPAN_K = 8  # token-gram length; duplicated runs >= K tokens are guaranteed hit


@register(
    "dup_span_islands",
    rf"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS tok
  FROM documents),
g AS (
  SELECT doc_id, t.p AS p,
         md5(array_to_string(tok[t.p + 1 : t.p + {_SPAN_K}], ' ')) AS fp
  FROM d, UNNEST(range(0, GREATEST(len(tok) - {_SPAN_K - 1}, 0))) AS t(p)),
dup AS (SELECT fp FROM g GROUP BY fp HAVING COUNT(*) > 1),
dp AS (SELECT g.doc_id, g.p FROM g JOIN dup ON g.fp = dup.fp),
isl AS (
  SELECT doc_id, p,
         MAX(p + {_SPAN_K - 1}) OVER (
           PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM dp),
lab AS (
  SELECT doc_id, p,
         CAST(SUM(CASE WHEN prev_end IS NULL OR p > prev_end + 1
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY p
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
  FROM isl),
final AS (
  SELECT doc_id, island,
         MIN(p) AS start_tok,
         MAX(p) + {_SPAN_K - 1} AS end_tok
  FROM lab GROUP BY doc_id, island)
SELECT doc_id, island, start_tok, end_tok,
       end_tok - start_tok + 1 AS dup_tokens
FROM final
""",
)
def q_dup_span_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicated-substring spans (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 — the
    ExactSubstr pass), re-expressed relationally: every OVERLAPPING
    8-token gram is fingerprinted; a position is duplicated when its
    gram occurs >= 2 times anywhere in the corpus (cross- or intra-
    document, exactly the suffix-array criterion); per document the
    duplicated positions merge into MAXIMAL spans by the gaps-and-islands
    pattern (running MAX of span-end over the position order; a new
    island starts where a position clears the previous reach). Any
    duplicated run of >= K tokens is guaranteed detected, and the
    reported [start_tok, end_tok] is its exact extent — the span the
    ExactSubstr pass would cut, where `line_dedup`'s DISJOINT spans only
    report block-aligned repeats and winnowing only fingerprints.

    The suffix array of the paper is a single-machine structure; the
    relational equivalent — gram explode, one groupBy(fp) HAVING count>1,
    a fp semi join to recover positions, one per-doc window — is all
    shuffle-bounded with high-cardinality md5 keys, which is the shape
    that distributes. At 100 TB the gram table is the big intermediate
    (n_tokens rows); it never materializes wider than (doc_id, p, fp)
    and both shuffles partial-aggregate map-side.

    Reference scope note: the reference engine has no text operators;
    this extends the dedup family (SURVEY.md LLM-pipeline tier)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    k = _SPAN_K
    n_pos = F.size(F.col("tok")) - (k - 1)
    grams = (
        d.select("doc_id", toks.alias("tok"))
        .select(
            "doc_id",
            F.explode(
                F.when(
                    n_pos > 0,
                    F.transform(
                        F.sequence(F.lit(0), n_pos - 1),
                        lambda p: F.struct(
                            p.cast("long").alias("p"),
                            F.md5(
                                F.concat_ws(" ", F.slice(F.col("tok"), p + 1, k))
                            ).alias("fp"),
                        ),
                    ),
                ).otherwise(F.array())
            ).alias("g"),
        )
        .select("doc_id", "g.p", "g.fp")
    )
    dup_fps = grams.groupBy("fp").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") > 1
    )
    dpos = grams.join(dup_fps.select("fp").hint("shuffle_hash"), "fp", "semi").select("doc_id", "p")
    w_ord = Window.partitionBy("doc_id").orderBy("p")
    prev_end = F.max(F.col("p") + (k - 1)).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    lab = dpos.withColumn(
        "island",
        F.sum(
            F.when(
                prev_end.isNull() | (F.col("p") > prev_end + 1), 1
            ).otherwise(0)
        )
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"),
    )
    return (
        lab.groupBy("doc_id", "island")
        .agg(
            F.min("p").alias("start_tok"),
            (F.max("p") + (k - 1)).alias("end_tok"),
        )
        .select(
            "doc_id",
            "island",
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok") + 1).alias("dup_tokens"),
        )
    )


# --- winnowing document fingerprints ------------------------------------------


@register(
    "winnowing_fingerprints",
    """
WITH g AS (
  SELECT doc_id, i.i AS pos,
         CAST(('0x' || substring(md5(substring(text, i.i, 8)), 1, 5))
              AS BIGINT) * 2097152 + (2097151 - i.i) AS combined
  FROM documents,
       LATERAL unnest(generate_series(1, length(text) - 7)) AS i(i)
  WHERE length(text) >= 8
), sel AS (
  SELECT doc_id, pos,
         MIN(combined) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
           AS fp_sel
  FROM g
), fps AS (
  SELECT DISTINCT doc_id, fp_sel FROM sel WHERE pos >= 16
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_fingerprints FROM fps GROUP BY doc_id
), grams AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id
)
SELECT grams.doc_id, grams.n_grams,
       COALESCE(per_doc.n_fingerprints, 0) AS n_fingerprints,
       (COALESCE(per_doc.n_fingerprints, 0) * 1000000) // grams.n_grams
         AS density_ppm
FROM grams LEFT JOIN per_doc ON grams.doc_id = per_doc.doc_id
""",
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprinting (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS plagiarism-detector algorithm): hash every
    8-char k-gram, slide a 16-gram window, and select each window's
    MINIMUM hash (rightmost on ties) — the selected (hash, position)
    set is the document's fingerprint, guaranteeing any shared substring
    of length >= k + w - 1 = 23 chars is detected between documents.

    Cross-engine portability: hash and tie-break are packed into ONE
    integer so the window aggregate is a plain MIN over BIGINT on both
    engines — 20-bit md5-prefix hash * 2^21 + (2^21-1-pos); minimizing
    prefers the smaller hash, then the RIGHTMOST position, exactly the
    winnowing rule. The k-gram table is built map-side as an array
    expression (no text duplication per row); the only shuffle is the
    per-document window (partition = doc), then hash-aggs. Output:
    per-doc fingerprint density in exact ppm (integer division — no
    float rounding)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    grams = (
        d.filter(F.length("text") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - 7),
                    lambda i: F.struct(
                        i.alias("pos"),
                        (
                            F.conv(
                                F.substring(F.md5(F.substring("text", i, 8)), 1, 5),
                                16,
                                10,
                            ).cast("bigint")
                            * 2097152
                            + (F.lit(2097151) - i)
                        ).alias("combined"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", "g.pos", "g.combined")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-15, Window.currentRow)
    )
    sel = grams.withColumn("fp_sel", F.min("combined").over(w))
    fps = (
        sel.filter(F.col("pos") >= 16)
        .select("doc_id", "fp_sel")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fingerprints"))
    )
    per_doc = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return per_doc.join(fps.hint("shuffle_hash"), "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_fingerprints", F.lit(0)).alias("n_fingerprints"),
        F.expr("(coalesce(n_fingerprints, 0) * 1000000) DIV n_grams").alias(
            "density_ppm"
        ),
    )


# --- deterministic weighted source interleave ---------------------------------


@register(
    "mix_interleave",
    """
WITH s AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), w AS (
  SELECT source, n_docs,
         CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS wt
  FROM s
), slots AS (
  SELECT source, wt, k.k AS k,
         (k.k * 1000000000000) // wt AS key_int
  FROM w, UNNEST(generate_series(1, 100)) AS k(k)
), ordered AS (
  SELECT source, k, key_int
  FROM slots ORDER BY key_int, source, k LIMIT 100
)
SELECT ROW_NUMBER() OVER (ORDER BY key_int, source, k) AS position,
       source, k AS nth_from_source
FROM ordered
""",
)
def q_mix_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted source interleaving — the data-mixing
    scheduler of LLM pretraining: source s with weight w_s occupies the
    training-order slots k/w_s (k = 1, 2, ...), so merging all sources'
    arithmetic sequences yields a stream where every prefix contains
    each source in proportion to its weight (low-discrepancy, no RNG —
    a rerun is byte-identical). Weights here are sqrt(n_docs)
    (temperature alpha = 0.5, flattening the source distribution like
    `temperature_mix`); the first 100 global slots are reported.

    Cross-engine exactness: SQRT is IEEE-correctly-rounded (unlike
    POWER), FLOOR makes the weight an integer, and the slot key is the
    integer division k*10^12 DIV w — no float comparisons anywhere in
    the ordering, ties broken (source, k). Per-position assignment is
    O(1) arithmetic, so at scale each worker computes its own slice of
    the schedule with zero coordination; the global TOP-100 here is a
    TakeOrdered over 20 sources x 100 candidate slots, and the ranking
    window runs over the bounded 100-row result (the zipf_fit
    convention), never the corpus."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    w = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "source",
            F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("bigint").alias("wt"),
        )
    )
    slots = w.select(
        "source",
        F.explode(F.sequence(F.lit(1), F.lit(100))).alias("k"),
        "wt",
    ).select(
        "source",
        "k",
        F.expr("(k * 1000000000000) DIV wt").alias("key_int"),
    )
    ordered = slots.orderBy("key_int", "source", "k").limit(100)
    win = Window.orderBy("key_int", "source", "k")
    return ordered.select(
        F.row_number().over(win).alias("position"),
        "source",
        F.col("k").alias("nth_from_source"),
    )


# --- pandas UDF API tiers under full oracles ----------------------------------


@register(
    "pandas_grouped_agg",
    """
WITH c AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(SUM(cents) AS BIGINT) // COUNT(*) AS mean_cents
FROM c GROUP BY event_type
""",
)
def q_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPED_AGG pandas_udf tier (Arrow-batched vectorized UDAF)
    under a FULL oracle: per-event-type count / integer-cents total /
    integer mean computed inside pandas — int64 sums are fold-order
    independent, so the Python tier is bit-identical to the SQL tier
    (the float-sum trap that forces rows-only checks elsewhere does not
    apply). This is the API tier for custom aggregations Spark lacks;
    the engine convention stays: quantize to integers BEFORE the
    aggregate, never sum doubles.

    Mechanics note: under ``from __future__ import annotations`` the
    Series -> scalar type hints pandas_udf uses to infer GROUPED_AGG
    become strings evaluated in the MODULE namespace, so the functions
    are built by a helper whose module imports pandas at top level."""
    from taxi_data_datapipeline_spark.operators.pandas_tiers import (
        cents_count,
        cents_sum,
    )

    ev = load(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
    )
    return (
        c.groupBy("event_type")
        .agg(
            cents_count("cents").alias("n_events"),
            cents_sum("cents").alias("total_cents"),
        )
        .select(
            "event_type",
            "n_events",
            "total_cents",
            F.expr("total_cents DIV n_events").alias("mean_cents"),
        )
    )


@register(
    "pandas_grouped_zscore",
    """
WITH c AS (
  SELECT event_id, event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events),
w AS (
  SELECT event_id, event_type, cents,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         CAST(SUM(cents) OVER (PARTITION BY event_type) AS BIGINT) AS s,
         CAST(SUM(cents * cents) OVER (PARTITION BY event_type) AS BIGINT)
           AS ss
  FROM c)
SELECT event_id, event_type,
       CASE WHEN n * ss - s * s = 0 THEN 0
            ELSE CAST(FLOOR((cents * n - s) * 1048576.0
                            / SQRT(CAST(n * ss - s * s AS DOUBLE)))
                      AS BIGINT) END AS z_units
FROM w
""",
)
def q_pandas_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandas (grouped-map) tier under a FULL oracle:
    per-event-type z-score normalization where each group arrives as one
    pandas frame — the escape hatch for group-local logic no window
    expresses (sklearn transforms, per-entity model scoring).

    Cross-engine exactness from the engine's fixed-point playbook:
    moments accumulate as int64 (order-free), and the z-score algebra is
    rearranged to ONE double op chain shared by both engines —
    z = (x*n - s) / sqrt(n*ss - s^2), scaled by 2^20 and floored
    (sqrt is IEEE-correctly-rounded, unlike pow, so identical integer
    inputs give identical doubles). Zero-variance groups emit 0. At
    scale each group must fit one worker's memory — the documented
    applyInPandas contract; the window-function twin in the oracle is
    the unbounded-cardinality formulation."""
    import math

    import pandas as pd

    ev = load(spark, sf_dir, "events")
    c = ev.select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = pdf["cents"].to_numpy()
        n = len(cents)
        s = int(cents.sum())
        ss = int((cents * cents).sum())
        var_num = n * ss - s * s
        if var_num == 0:
            z = [0] * n
        else:
            root = math.sqrt(float(var_num))
            z = [
                int(math.floor((int(x) * n - s) * 1048576.0 / root))
                for x in cents
            ]
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "z_units": z,
            }
        )

    return c.groupBy("event_type").applyInPandas(
        zscore, "event_id long, event_type string, z_units long"
    )


@register(
    "pandas_scalar_bucket",
    """
WITH c AS (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events)
SELECT cents // 500 AS bucket, COUNT(*) AS n
FROM c GROUP BY bucket
""",
)
def q_pandas_scalar_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALAR pandas_udf tier (Arrow-vectorized row function) under a
    FULL oracle — completing the Python API matrix (scalar pandas_udf /
    GROUPED_AGG pandas_udf / applyInPandas / mapInPandas / mapInArrow /
    applyInPandasWithState / UDTF / SQL UDF / DataSource, each proven
    result-identical to a built-in or oracle twin). The UDF floordivs
    int64 cents into 500-cent buckets — integer vectorized arithmetic,
    so the Python tier cannot drift from the SQL tier. The aggregate
    after it is pure built-in; only the bucketing rides Arrow, which is
    exactly how a production plan should scope its Python: the smallest
    vectorizable expression, never the aggregation."""
    from taxi_data_datapipeline_spark.operators.pandas_tiers import fare_bucket

    ev = load(spark, sf_dir, "events")
    c = ev.select(
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents")
    )
    return (
        c.select(fare_bucket("cents").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "multimodal_bmp_roundtrip",
    """
WITH px AS (
  SELECT doc_id, i.i AS idx,
         CAST(('0x' || substr(md5(text || ':' || CAST(i.i // 16 AS VARCHAR)),
                              (i.i % 16) * 2 + 1, 2)) AS BIGINT) AS v
  FROM documents, LATERAL unnest(generate_series(0, 47)) AS i(i))
SELECT doc_id, CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
       CAST(198 AS INT) AS n_bytes,
       CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(SUM(idx * v) AS BIGINT) AS weighted_sum
FROM px GROUP BY doc_id
""",
)
def q_multimodal_bmp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL image-codec round-trip under full oracle verification — no
    Pillow, no stub: each document synthesizes a deterministic 8x6
    grayscale image (md5-derived pixels), ENCODES it as an actual
    24-bit BI_RGB BMP (bottom-up rows, 4-byte padding, BGR — pure
    numpy/struct, operators/multimodal.py:encode_bmp24), DECODES the
    bytes back, and reports dimensions + pixel checksums computed from
    the DECODED array only. The SQL oracle recomputes the checksums
    from the same md5 pixel stream: a hash match proves header layout,
    row order, padding, and channel handling are all correct (the
    position-WEIGHTED sum catches a decoder that mis-handles bottom-up
    order or stride, which a plain sum would miss). The plumbing is the
    standard Arrow-batched mapInPandas tier; at 100 TB the same stage
    decodes real scanned payloads instead of synthesizing them."""
    from taxi_data_datapipeline_spark.operators.multimodal import bmp_roundtrip

    return bmp_roundtrip(load(spark, sf_dir, "documents", fan_out=True))


@register(
    "multimodal_wav_roundtrip",
    """
WITH raw AS (
  SELECT doc_id, i.i AS idx,
         CAST(('0x' || substr(md5(text || '~' || CAST((2 * i.i) // 16 AS VARCHAR)),
                              ((2 * i.i) % 16) * 2 + 1, 2)) AS BIGINT)
       + 256 * CAST(('0x' || substr(md5(text || '~' || CAST((2 * i.i + 1) // 16 AS VARCHAR)),
                              ((2 * i.i + 1) % 16) * 2 + 1, 2)) AS BIGINT) AS v
  FROM documents, LATERAL unnest(generate_series(0, 63)) AS i(i)),
sv AS (
  SELECT doc_id, idx,
         CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS s
  FROM raw),
lagged AS (
  SELECT doc_id, s,
         LAG(s) OVER (PARTITION BY doc_id ORDER BY idx) AS prev
  FROM sv)
SELECT doc_id,
       CAST(64 AS INT) AS n_samples,
       CAST(8000 AS INT) AS sample_rate,
       CAST(8 AS INT) AS duration_ms,
       CAST(MAX(ABS(s)) AS INT) AS peak,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND (s >= 0) != (prev >= 0)
                     THEN 1 ELSE 0 END) AS INT) AS zero_crossings,
       CAST(SUM(s * s) AS BIGINT) AS energy
FROM lagged GROUP BY doc_id
""",
)
def q_multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL audio-codec round-trip under full oracle verification: each
    document synthesizes a deterministic 64-sample int16 PCM clip,
    ENCODES it as an actual RIFF/WAVE file (canonical 44-byte header,
    PCM mono 16-bit LE), DECODES it back by walking RIFF chunks, and
    reports the audio-profile integers (duration, peak, zero crossings,
    exact energy) from the DECODED samples only — the features audio
    curation filters on (clipping, silence, noisiness). The SQL oracle
    recomputes everything from the same md5 sample stream, so a hash
    match proves chunk walking, sample width, and LITTLE-ENDIAN
    two's-complement handling (a byte-order bug flips peak/energy; a
    chunk-offset bug shifts every sample). Sibling of
    multimodal_bmp_roundtrip; operators/multimodal.py:encode_wav16."""
    from taxi_data_datapipeline_spark.operators.multimodal import wav_roundtrip

    return wav_roundtrip(load(spark, sf_dir, "documents", fan_out=True))


@register(
    "multimodal_png_roundtrip",
    """
WITH px AS (
  SELECT doc_id, i.i AS idx,
         CAST(('0x' || substr(md5(text || '#' || CAST(i.i // 16 AS VARCHAR)),
                              (i.i % 16) * 2 + 1, 2)) AS BIGINT) AS v
  FROM documents, LATERAL unnest(generate_series(0, 47)) AS i(i))
SELECT doc_id, CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
       CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(SUM(idx * v) AS BIGINT) AS weighted_sum
FROM px GROUP BY doc_id
""",
)
def q_multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL compressed-image round-trip under full oracle verification —
    stdlib zlib, no Pillow: each document synthesizes a deterministic
    8x6 grayscale image (md5-derived pixels), ENCODES it as an actual
    spec-compliant PNG whose scanlines cycle through ALL FIVE filter
    types (None/Sub/Up/Average/Paeth — operators/multimodal.py:
    encode_png8), DECODES the bytes back (signature + per-chunk CRC
    verification, multi-IDAT chunk walk, filter reversal), and reports
    dimensions + pixel checksums computed from the DECODED array only.
    The SQL oracle recomputes the checksums from the same md5 pixel
    stream: a hash match proves zlib framing, chunk layout, and every
    filter's inverse are correct (the position-WEIGHTED sum catches a
    decoder that mis-handles stride or the Average floor-division,
    which a plain sum would miss). Completes the r4 BMP/WAV codec trio;
    `HAS_PIL` now gates only JPEG. The plumbing is the standard
    Arrow-batched mapInPandas tier; at 100 TB the same stage decodes
    real crawled payloads instead of synthesizing them."""
    from taxi_data_datapipeline_spark.operators.multimodal import png_roundtrip

    return png_roundtrip(load(spark, sf_dir, "documents", fan_out=True))


@register(
    "multimodal_resize_real",
    """
WITH px AS (
  SELECT doc_id, o.o AS oidx,
         16 * (o.o // 4) + 2 * (o.o % 4) AS sidx
  FROM documents, LATERAL unnest(generate_series(0, 11)) AS o(o)),
v AS (
  SELECT doc_id, oidx,
         CAST(('0x' || substr(md5(text || '@' || CAST(sidx // 16 AS VARCHAR)),
                              (sidx % 16) * 2 + 1, 2)) AS BIGINT) AS val
  FROM px JOIN documents USING (doc_id))
SELECT doc_id, CAST(4 AS INT) AS width, CAST(3 AS INT) AS height,
       CAST(SUM(val) AS BIGINT) AS pixel_sum,
       CAST(SUM(oidx * val) AS BIGINT) AS weighted_sum
FROM v GROUP BY doc_id
""",
)
def q_multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL image-resize stage under full oracle verification — the
    upgrade of the byte-truncation resize stand-in now that the engine
    has its own codecs: synthesize an 8x6 grayscale PNG per document
    (md5 pixel stream, operators/multimodal.py:synth_png_payloads),
    DECODE it, nearest-neighbor resample to 4x3 (src = floor(dst *
    in/out) — for 8x6 -> 4x3 exactly every second pixel), RE-ENCODE as
    PNG (operators/multimodal.py:resize_image_payloads), decode again
    and emit checksums of the final array (image_checksums). The SQL
    oracle computes the same resample in pure integer index arithmetic
    on the md5 stream (out pixel o reads source index 16*(o DIV 4) +
    2*(o MOD 4)), so a hash match verifies decode -> resample -> encode
    -> decode end-to-end, including the index mapping. Three chained
    Arrow-batched mapInPandas stages — the exact production shape of a
    multimodal decode/transform/encode pipeline; at 100 TB each stage
    is embarrassingly parallel over payload rows."""
    from taxi_data_datapipeline_spark.operators.multimodal import (
        image_checksums,
        resize_image_payloads,
        synth_png_payloads,
    )

    docs = load(spark, sf_dir, "documents", fan_out=True)
    payloads = synth_png_payloads(docs)
    resized = resize_image_payloads(payloads, out_w=4, out_h=3)
    return image_checksums(resized, payload_col="resized")


@register(
    "multimodal_wav_resample",
    """
WITH raw AS (
  SELECT doc_id, i.i AS oidx, 2 * i.i AS sidx
  FROM documents, LATERAL unnest(generate_series(0, 31)) AS i(i)),
bytes AS (
  SELECT r.doc_id, r.oidx,
         CAST(('0x' || substr(md5(d.text || '~' || CAST((2 * r.sidx) // 16 AS VARCHAR)),
                              ((2 * r.sidx) % 16) * 2 + 1, 2)) AS BIGINT)
       + 256 * CAST(('0x' || substr(md5(d.text || '~' || CAST((2 * r.sidx + 1) // 16 AS VARCHAR)),
                              ((2 * r.sidx + 1) % 16) * 2 + 1, 2)) AS BIGINT) AS v
  FROM raw r JOIN documents d USING (doc_id)),
sv AS (
  SELECT doc_id, oidx,
         CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS s
  FROM bytes)
SELECT doc_id,
       CAST(32 AS INT) AS n_samples,
       CAST(4000 AS INT) AS sample_rate,
       CAST(MAX(ABS(s)) AS INT) AS peak,
       CAST(SUM(s * s) AS BIGINT) AS energy,
       CAST(SUM(oidx * s) AS BIGINT) AS weighted_sum
FROM sv GROUP BY doc_id
""",
)
def q_multimodal_wav_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL audio-resample stage under full oracle verification — the
    WAV twin of multimodal_resize_real: synthesize a 64-sample 8 kHz
    PCM clip per document (operators/multimodal.py:synth_wav_payloads),
    DECODE it (RIFF chunk walk), nearest-neighbor resample to 4 kHz
    (out sample i reads source index 2i — sample-drop downsampling),
    RE-ENCODE at the new rate (resample_wav_payloads), decode again and
    emit the audio-profile integers of the final stream (wav_checksums:
    count, rate, peak, exact energy, position-weighted sum — the
    weighted sum catches an off-by-one in the index mapping that peak
    and energy can miss). The SQL oracle reproduces the resample in
    pure integer index arithmetic on the md5 sample stream, verifying
    decode -> resample -> encode -> decode end-to-end including the new
    header's sample rate. Three chained Arrow-batched mapInPandas
    stages, embarrassingly parallel over payload rows at 100 TB."""
    from taxi_data_datapipeline_spark.operators.multimodal import (
        resample_wav_payloads,
        synth_wav_payloads,
        wav_checksums,
    )

    docs = load(spark, sf_dir, "documents", fan_out=True)
    payloads = synth_wav_payloads(docs)
    resampled = resample_wav_payloads(payloads, out_rate=4000)
    return wav_checksums(resampled, payload_col="resampled")


# --- Neyman allocation for stratified sampling --------------------------------


@register(
    "neyman_allocation",
    """
WITH s AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0)) * n_chars) AS DECIMAL(38,0))
           AS sxx
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs,
         CAST(FLOOR(SQRT(CAST(n_docs * sxx - sx * sx AS DOUBLE))
                    / n_docs * 1048576e0) AS BIGINT) AS std_units,
         n_docs * CAST(FLOOR(SQRT(CAST(n_docs * sxx - sx * sx AS DOUBLE))
                    / n_docs * 1048576e0) AS BIGINT) AS weight
  FROM s),
tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS total_w,
               CAST(SUM(CAST(FLOOR(1000 * weight / (SELECT CAST(SUM(weight) AS BIGINT) FROM w))
                        AS BIGINT)) AS BIGINT) AS base_sum
        FROM w),
q AS (
  SELECT w.source, w.n_docs, w.std_units, w.weight,
         (1000 * w.weight) // tot.total_w AS base_quota,
         (1000 * w.weight) % tot.total_w AS remainder,
         tot.total_w
  FROM w CROSS JOIN tot),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY remainder DESC, source) AS rk,
         CAST(1000 - SUM(base_quota) OVER () AS BIGINT) AS leftover
  FROM q)
SELECT source, n_docs, std_units,
       CAST(base_quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS allocation
FROM ranked
""",
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (variance-optimal) allocation of a 1000-doc sampling budget
    across sources: stratum h gets budget * N_h*S_h / sum(N*S) — the
    allocation that minimizes the estimator variance for a fixed budget
    (Neyman 1934), the statistically-correct upgrade over proportional
    stratified sampling when strata differ in spread (here: n_chars).

    Exactness: stdev comes from DECIMAL(38,0) moments through one
    IEEE-exact SQRT, floored to fixed-point units; the apportionment is
    LARGEST-REMAINDER (Hamilton) in pure integer arithmetic — base
    quota = (B*w) DIV W, remainders ranked as the exact integers
    (B*w) MOD W with a source tiebreak — so allocations sum to the
    budget EXACTLY and both engines agree bit-for-bit (no float shares,
    no double rounding). The ranking window runs over the ~20-row
    stratum table, never the corpus."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            F.col("n_chars").cast("decimal(38,0)") * F.col("n_chars")
        ).alias("sxx"),
    )
    var_n = (F.col("n_docs") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    std_units = F.floor(
        F.sqrt(var_n) / F.col("n_docs") * F.lit(1048576.0)
    ).cast("bigint")
    w = s.select(
        "source",
        "n_docs",
        std_units.alias("std_units"),
        (F.col("n_docs") * std_units).alias("weight"),
    )
    tot = w.agg(F.sum("weight").cast("bigint").alias("total_w"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "std_units",
        F.expr("(1000 * weight) DIV total_w").alias("base_quota"),
        F.expr("(1000 * weight) % total_w").alias("remainder"),
    )
    win = Window.orderBy(F.col("remainder").desc(), "source")
    ranked = q.select(
        "*",
        F.row_number().over(win).alias("rk"),
        (F.lit(1000) - F.sum("base_quota").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )).cast("bigint").alias("leftover"),
    )
    return ranked.select(
        "source",
        "n_docs",
        "std_units",
        (
            F.col("base_quota")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).cast("bigint").alias("allocation"),
    )


# --- feature-store point-in-time join -----------------------------------------


@register(
    "point_in_time_join",
    """
WITH feat AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         COUNT(*) OVER w AS prior_orders,
         CAST(COALESCE(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                AS BIGINT)) OVER w, 0) AS BIGINT)
           AS prior_revenue_cents,
         CAST(COALESCE(MAX(o_orderdate) OVER w, DATE '1900-01-01') AS DATE)
           AS last_order_date
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT o_orderkey, o_custkey, prior_orders, prior_revenue_cents,
       last_order_date
FROM feat
""",
)
def q_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature attachment — the feature-store
    operation behind every leakage-free training set: each label event
    (an order) gets its customer's history features computed STRICTLY
    BEFORE the event ((date, orderkey)-ordered frame ending at
    1 PRECEDING — the current row can never see itself or its future,
    which is exactly the train/serve-skew bug PIT joins exist to
    prevent). Features: prior order count, prior revenue (exact decimal
    cents), last-order date (epoch sentinel for first orders).

    One shuffle on the entity key serves all features; at 100 TB this
    is the same plan with the label table as the driving side —
    contrast with a naive join against a "current features" table,
    which silently leaks the future into training rows."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1)).over(w).alias("prior_orders"),
        F.coalesce(F.sum(cents).over(w), F.lit(0)).cast("bigint").alias(
            "prior_revenue_cents"
        ),
        F.coalesce(
            F.max("o_orderdate").over(w), F.lit("1900-01-01").cast("date")
        ).cast("date").alias("last_order_date"),
    )


# --- length-bucketed batching -------------------------------------------------


@register(
    "length_bucketing",
    """
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
           AS n_tokens
  FROM documents),
b AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens <= 1 THEN 0
              ELSE CAST(CEIL(LOG2(CAST(n_tokens AS DOUBLE))) AS INT) END
           AS bucket
  FROM t)
SELECT bucket,
       CAST(POWER(2, bucket) AS BIGINT) AS bucket_max_len,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
       CAST(COUNT(*) * CAST(POWER(2, bucket) AS BIGINT) - SUM(n_tokens)
            AS BIGINT) AS padding_waste
FROM b GROUP BY bucket
""",
)
def q_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching report — the padding-efficiency step of
    LLM training data prep: documents bucket by token count into
    power-of-2 bins (a batch pads every sequence to the bin ceiling),
    and the report quantifies the exact token waste per bin
    (n_docs * bin_ceiling - sum_tokens) — the number that justifies
    bucketed batching over naive max-length padding. LOG2/POWER on
    exact integer inputs hit exact IEEE values (log2 of an int is only
    compared through CEIL, and a power-of-2 boundary value like 64
    yields exactly 6.0 in every IEEE libm since log2 is required
    correctly-rounded for powers of two); all reported quantities are
    exact integers. Map-side tokenize + one hash-agg."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    n = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""))
    bucket = (
        F.when(n <= 1, 0)
        .otherwise(F.ceil(F.log2(n.cast("double"))))
        .cast("int")
    )
    t = d.select(n.alias("n_tokens"), bucket.alias("bucket"))
    bmax = F.pow(F.lit(2.0), F.col("bucket")).cast("bigint")
    return (
        t.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
        .select(
            "bucket",
            bmax.alias("bucket_max_len"),
            "n_docs",
            "sum_tokens",
            "max_tokens",
            (F.col("n_docs") * bmax - F.col("sum_tokens"))
            .cast("bigint")
            .alias("padding_waste"),
        )
    )


# --- matryoshka (truncated-dimension) embedding recall ------------------------


@register(
    "matryoshka_recall",
    """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
), q AS (
  SELECT vec_id AS qid, ev AS qv FROM v WHERE vec_id < 8
), sims AS (
  SELECT q.qid, v.vec_id,
         ROUND(list_dot_product(v.ev, q.qv)
               / (sqrt(list_dot_product(v.ev, v.ev))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS full_sim,
         ROUND(list_dot_product(v.ev[1:16], q.qv[1:16])
               / (sqrt(list_dot_product(v.ev[1:16], v.ev[1:16]))
                  * sqrt(list_dot_product(q.qv[1:16], q.qv[1:16]))), 6)
           AS trunc_sim
  FROM v CROSS JOIN q
), ranked AS (
  SELECT qid, vec_id,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY full_sim DESC, vec_id) AS rk_full,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY trunc_sim DESC, vec_id) AS rk_trunc
  FROM sims)
SELECT qid,
       CAST(SUM(CASE WHEN rk_full <= 10 AND rk_trunc <= 10
                     THEN 1 ELSE 0 END) AS BIGINT) AS overlap_at_10
FROM ranked GROUP BY qid
""",
)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-dimension retrieval evaluation (the MRL
    question: how much recall does serving only the first 16 of 64
    embedding dimensions cost?): for 8 query vectors, compute exact
    top-10 by full-dimension cosine and by first-16-dim cosine, and
    report their overlap per query — the number that decides whether
    the cheap truncated index is good enough for first-stage retrieval.

    Both rankings come from ONE corpus x query pass (the slice adds a
    second in-order dot product per row, no second scan); per-query
    windows partition on qid. Determinism: rank keys are ROUND(.,6)
    cosines (in-order double folds, identical on both engines) with
    vec_id tiebreaks."""
    from taxi_data_datapipeline_spark.operators.similarity import cosine

    v = load(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", F.col("embedding").alias("ev")
    )
    q = (
        v.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("qid"), F.col("ev").alias("qv"))
    )
    sims = v.crossJoin(F.broadcast(q)).select(
        "qid",
        "vec_id",
        F.round(cosine(F.col("ev"), F.col("qv")), 6).alias("full_sim"),
        F.round(
            cosine(F.slice("ev", 1, 16), F.slice("qv", 1, 16)), 6
        ).alias("trunc_sim"),
    )
    wf = Window.partitionBy("qid").orderBy(F.col("full_sim").desc(), "vec_id")
    wt = Window.partitionBy("qid").orderBy(F.col("trunc_sim").desc(), "vec_id")
    ranked = sims.select(
        "qid",
        "vec_id",
        F.row_number().over(wf).alias("rk_full"),
        F.row_number().over(wt).alias("rk_trunc"),
    )
    return ranked.groupBy("qid").agg(
        F.sum(
            ((F.col("rk_full") <= 10) & (F.col("rk_trunc") <= 10)).cast("long")
        ).alias("overlap_at_10")
    )


# --- dedup threshold tuning curve ---------------------------------------------


@register(
    "jaccard_threshold_sweep",
    f"""
WITH g AS (SELECT doc_id, lang, n_chars // 100 AS lenb, {_SQL_GRAMS} AS grams
           FROM documents),
p AS (
  SELECT {_SQL_JACCARD} AS jaccard
  FROM g a JOIN g b
    ON a.lang = b.lang AND a.lenb = b.lenb AND a.doc_id < b.doc_id),
banded AS (
  SELECT CAST(FLOOR(jaccard * 20e0) AS INT) AS band, COUNT(*) AS c
  FROM p WHERE jaccard >= 0.05 GROUP BY 1),
spine AS (SELECT t.t AS band FROM (SELECT unnest(generate_series(1, 20)) AS t) t)
SELECT spine.band,
       ROUND(spine.band * 0.05, 2) AS threshold,
       CAST(COALESCE(SUM(b2.c), 0) AS BIGINT) AS pairs_at_or_above
FROM spine LEFT JOIN banded b2 ON b2.band >= spine.band
GROUP BY spine.band
""",
)
def q_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup threshold tuning curve: how many near-dup pairs survive
    at every candidate Jaccard cutoff (0.05 steps) — the plot a corpus
    owner reads before committing to a threshold (too low merges
    distinct documents, too high leaves boilerplate). Built from the
    EXACT blocked ground-truth pair set (same machinery as
    ngram_jaccard_blocked), banded into 20 buckets, with the cumulative
    pairs >= t obtained by joining a 20-row threshold spine against the
    aggregate-sized band table — never a second pass over pairs and
    never a global window. Band edges are FLOOR(j*20) on identical
    doubles; counts exact integers."""
    pairs = blocked_pairs_cached(spark, sf_dir).select("jaccard")
    banded = (
        pairs.select(F.floor(F.col("jaccard") * 20).cast("int").alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    spine = spark.range(1, 21).select(F.col("id").cast("int").alias("band"))
    return (
        spine.join(
            F.broadcast(banded).withColumnRenamed("band", "b2"),
            F.col("b2") >= F.col("band"),
            "left",
        )
        .groupBy("band")
        .agg(
            F.round(F.col("band") * 0.05, 2).alias("threshold"),
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias(
                "pairs_at_or_above"
            ),
        )
        .select("band", "threshold", "pairs_at_or_above")
    )


# --- LSH screen evaluation + nucleus vocabulary coverage ----------------------

# Portable minhash via the classic universal-hash family (Broder '97 /
# Carter-Wegman): ONE md5 per gram -> 28-bit base hash h (7 hex chars; a
# per-seed md5 would cost num_perm x the hashing), then num_perm affine
# permutations m_i = (a_i*h + b_i) mod p with p prime < 2^28 so a_i*h fits
# int64 exactly on both engines. Constants are Python-generated ONCE and
# embedded in both the Spark plan and the oracle SQL — zero parity risk.
_LSH_EVAL_PERMS = 32
_LSH_EVAL_BANDS = 8
_LSH_EVAL_ROWS = _LSH_EVAL_PERMS // _LSH_EVAL_BANDS
_LSH_EVAL_P = 268435399  # largest prime below 2^28
_LSH_EVAL_AB = [
    (
        (i * 2654435761 + 1) % _LSH_EVAL_P or 1,
        (i * 40503 + 17) % _LSH_EVAL_P,
    )
    for i in range(_LSH_EVAL_PERMS)
]
_SQL_PHASH28 = "CAST(('0x' || substring(md5(gram), 1, 7)) AS BIGINT)"

_SQL_LSH_EVAL_MINS = ",\n         ".join(
    f"MIN(({a} * h + {b}) % {_LSH_EVAL_P}) AS m{i}"
    for i, (a, b) in enumerate(_LSH_EVAL_AB)
)
_SQL_LSH_EVAL_BANDKEYS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, md5(concat_ws('|', '{b}', {ms})) AS key FROM sig".format(
        b=b,
        ms=", ".join(f"m{b * _LSH_EVAL_ROWS + r}" for r in range(_LSH_EVAL_ROWS)),
    )
    for b in range(_LSH_EVAL_BANDS)
)


@register(
    "lsh_screen_eval",
    f"""
WITH g AS MATERIALIZED (SELECT doc_id, {_SQL_GRAMS} AS grams FROM documents),
e AS MATERIALIZED (SELECT doc_id, unnest(grams) AS gram FROM g),
eh AS (SELECT doc_id, {_SQL_PHASH28} AS h FROM e),
sig AS (
  SELECT doc_id,
         {_SQL_LSH_EVAL_MINS}
  FROM eh GROUP BY doc_id),
bk AS (
{_SQL_LSH_EVAL_BANDKEYS}),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b ON a.key = b.key AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, len(grams) AS s FROM g),
pc AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
  FROM e x JOIN e y ON x.gram = y.gram AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id),
truth AS MATERIALIZED (
  SELECT p.doc_a, p.doc_b
  FROM pc p JOIN sz a ON p.doc_a = a.doc_id JOIN sz b ON p.doc_b = b.doc_id
  WHERE ROUND(CAST(p.c AS DOUBLE) / (a.s + b.s - p.c), 6) >= 0.5),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
tp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_true_positives
  FROM cand c JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
SELECT n_truth, n_candidates, n_true_positives,
       CAST(1000000 * n_true_positives // NULLIF(n_candidates, 0) AS BIGINT)
         AS precision_ppm,
       CAST(1000000 * n_true_positives // NULLIF(n_truth, 0) AS BIGINT)
         AS recall_ppm
FROM nt, nc, tp
""",
)
def q_lsh_screen_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH candidate screen against EXACT
    ground truth — the "measure, don't guess" evaluation a corpus owner
    runs before trusting a banding configuration at 100 TB.

    Candidates: a portable-hash twin of the production banding
    (32 permutations, 8 bands x 4 rows — `operators/dedup.py`), with the
    classic universal-hash minhash family (Broder '97): one 28-bit md5
    base hash per shingle + embedded-constant affine permutations mod a
    prime — any engine reproduces the exact candidate set (same
    checked-twin strategy as `simhash_pairs_checked`).

    Ground truth: all pairs with exact 3-gram Jaccard >= 0.5, computed
    ENTIRELY from the gram inverted index: shingle sets are distinct, so
    the per-pair shared-gram count c IS |A intersect B| and Jaccard is the
    pure arithmetic c/(sa+sb-c) — no array intersection, no pair needs
    its gram sets co-located. Lossless for any threshold > 0 (J > 0
    implies >= 1 shared gram) and bounded by gram co-occurrence
    (1.3 M pair instances at sf0.1), never an n^2/2 cross join — the
    oracle applies the identical formulation.

    Output: one row of counts + precision/recall in ppm (integer DIV —
    truncating on both engines). At 100 TB this runs on a sample; the
    plan shape (hash-agg signatures, bucket self-join, bounded
    inverted-index truth) is scale-stable."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    grams = docs.select(
        "doc_id", ngram_shingles("text", 3).alias("grams")
    ).localCheckpoint(eager=True)
    e = grams.select("doc_id", F.explode("grams").alias("gram"))
    eh = e.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("gram")), 1, 7), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    sig = eh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_LSH_EVAL_P)).alias(
                f"m{i}"
            )
            for i, (a, b) in enumerate(_LSH_EVAL_AB)
        ]
    )
    band_keys = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"m{b * _LSH_EVAL_ROWS + r}") for r in range(_LSH_EVAL_ROWS)],
            )
        )
        for b in range(_LSH_EVAL_BANDS)
    ]
    bk = sig.select("doc_id", F.explode(F.array(*band_keys)).alias("key"))
    cand = (
        bk.alias("a")
        .join(
            bk.alias("b").hint("shuffle_hash"),
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pc = (
        e.alias("x")
        .join(
            e.alias("y").hint("shuffle_hash"),
            (F.col("x.gram") == F.col("y.gram"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sz = grams.select("doc_id", F.size("grams").alias("s"))
    truth = (
        pc.join(sz.alias("sa").hint("shuffle_hash"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sz.alias("sb").hint("shuffle_hash"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(
            F.round(
                F.col("c").cast("double")
                / (F.col("sa.s") + F.col("sb.s") - F.col("c")),
                6,
            )
            >= 0.5
        )
        .select("doc_a", "doc_b")
    )
    n_t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_c = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_tp = cand.join(truth.hint("shuffle_hash"), ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_true_positives")
    )
    return (
        n_t.crossJoin(n_c)
        .crossJoin(n_tp)
        .select(
            "n_truth",
            "n_candidates",
            "n_true_positives",
            F.when(
                F.col("n_candidates") > 0,
                F.expr("1000000 * n_true_positives DIV n_candidates"),
            ).alias("precision_ppm"),
            F.when(
                F.col("n_truth") > 0,
                F.expr("1000000 * n_true_positives DIV n_truth"),
            ).alias("recall_ppm"),
        )
    )


@register(
    "nucleus_vocab_coverage",
    rf"""
WITH words AS (
  SELECT source, lower(unnest({_SQL_TOKS})) AS word FROM documents),
freqs AS (
  SELECT source, word, COUNT(*) AS freq FROM words GROUP BY source, word),
tot AS (
  SELECT source, CAST(SUM(freq) AS BIGINT) AS total_tokens,
         COUNT(*) AS n_words
  FROM freqs GROUP BY source),
cum AS (
  SELECT source, freq,
         CAST(SUM(freq) OVER (PARTITION BY source
              ORDER BY freq DESC, word
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
  FROM freqs)
SELECT t.source, t.total_tokens, t.n_words,
       CAST(SUM(CASE WHEN cum.c - cum.freq < (95 * t.total_tokens + 99) // 100
                     THEN 1 ELSE 0 END) AS BIGINT) AS vocab_p95
FROM cum JOIN tot t ON cum.source = t.source
GROUP BY t.source, t.total_tokens, t.n_words
""",
)
def q_nucleus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) vocabulary coverage per source: the smallest
    frequency-ranked vocabulary prefix covering >= 95% of the source's
    token mass — the tokenizer-budget / OOV-planning statistic computed
    before committing a vocab size for training.

    Minimal-k selection without an argmin pass: a row belongs to the
    nucleus iff the cumulative mass BEFORE it (c - freq) is still short
    of ceil(0.95 * total), so vocab_p95 is a plain conditional SUM over
    the cumulative frame. The window is partitioned by source and runs
    over the AGGREGATE-sized (source, word) frequency table — bounded by
    vocab size, not corpus size — the same windows-over-aggregates rule
    the engine applies everywhere. All arithmetic integer (ceil as
    (95*T+99) DIV 100; both engines truncate)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    freqs = (
        d.select("source", F.explode(tokens("text")).alias("w"))
        .select("source", F.lower(F.col("w")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    tot = freqs.groupBy("source").agg(
        F.sum("freq").alias("total_tokens"), F.count(F.lit(1)).alias("n_words")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("freq").desc(), F.col("word"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = freqs.select("source", "freq", F.sum("freq").over(w).alias("c"))
    return (
        cum.join(F.broadcast(tot), "source")
        .groupBy("source", "total_tokens", "n_words")
        .agg(
            F.sum(
                F.when(
                    F.col("c") - F.col("freq")
                    < F.expr("(95 * total_tokens + 99) DIV 100"),
                    1,
                ).otherwise(0)
            ).alias("vocab_p95")
        )
    )


@register(
    "rolling_origin_cv",
    """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS cents
  FROM orders GROUP BY 1),
idx AS (
  SELECT day, cents,
         ROW_NUMBER() OVER (ORDER BY day) AS i,
         COUNT(*) OVER () AS n
  FROM daily),
folds AS (SELECT UNNEST([1, 2, 3]) AS fold),
assign AS (
  SELECT f.fold,
         CASE WHEN i.i <= (i.n * (5 + f.fold)) // 10 THEN 'train'
              WHEN i.i <= LEAST((i.n * (5 + f.fold)) // 10 + i.n // 10, i.n)
              THEN 'test' END AS role,
         i.day, i.cents
  FROM idx i, folds f)
SELECT fold, role,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       MIN(day) AS first_day, MAX(day) AS last_day,
       CAST(SUM(cents) AS DOUBLE) / 100 AS revenue
FROM assign WHERE role IS NOT NULL
GROUP BY fold, role
""",
)
def q_rolling_origin_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin (expanding-window) cross-validation folds for
    time-series models: fold k trains on the first (50+10k)% of days and
    tests on the following 10% — the temporally-sound alternative to
    random K-fold, which leaks the future into training. Assignment is
    pure rank arithmetic on the day index (integer division, no RNG), so
    folds are reproducible on any engine and stable as history grows
    only by appending. Output is the per-fold/role day span and revenue
    mass, i.e. the exact cut sheet a training job consumes. The daily
    rollup shuffles once; the day-index window runs over the tiny daily
    frame, and fold fan-out is a 3-row broadcast cross join.

    The limit(36600) below the window is a DECLARED bound, not a
    truncation: the window's input is one row per calendar day (a
    century of history stays under it), and stating the bound in the
    plan is what keeps the global day-index window out of the
    unbounded-single-partition class the plan audit rejects."""
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("decimal(38,0)")).alias(
                "cents"
            )
        )
        .limit(36600)
    )
    w = Window.orderBy("day")
    idx = daily.select(
        "day",
        "cents",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    folds = spark.range(1, 4).select(F.col("id").cast("int").alias("fold"))
    cut = F.expr("(n * (5 + fold)) DIV 10")
    hi = F.least(cut + F.expr("n DIV 10"), F.col("n"))
    assign = idx.crossJoin(F.broadcast(folds)).select(
        "fold",
        F.when(F.col("i") <= cut, F.lit("train"))
        .when(F.col("i") <= hi, F.lit("test"))
        .alias("role"),
        "day",
        "cents",
    )
    return (
        assign.filter(F.col("role").isNotNull())
        .groupBy("fold", "role")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
            (F.sum("cents").cast("double") / 100).alias("revenue"),
        )
    )


@register(
    "token_budget_mix",
    """
WITH s AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY source
), sh AS (
  SELECT source, chars,
         ROUND(POWER(CAST(chars AS DOUBLE), 0.7)
               / SUM(POWER(CAST(chars AS DOUBLE), 0.7)) OVER (), 6) AS share
  FROM s
), base AS (
  SELECT source, chars, share,
         CAST(FLOOR(1000000 * share) AS BIGINT) AS alloc_base,
         1000000 * share - FLOOR(1000000 * share) AS rem
  FROM sh
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr,
         1000000 - SUM(alloc_base) OVER () AS leftover
  FROM base
)
SELECT source, chars, share,
       alloc_base,
       CAST(CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
       alloc_base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS alloc_final
FROM ranked
""",
)
def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation across sources by temperature-weighted
    largest-remainder apportionment: each source's share is
    chars^0.7 / sum(chars^0.7) (the multilingual-mixing temperature that
    upsamples small sources), the 1M-token budget is floored per source,
    and the leftover tokens go one-by-one to the largest fractional
    remainders — the classic Hamilton method, which guarantees the
    allocations sum EXACTLY to the budget (pinned by the unit test; a
    naive round() can over- or under-spend). Shares are rounded to 6
    decimals before any integer arithmetic (the engine's
    rounded-transcendental convention) so the floor boundary is the
    same bit pattern in both engines. Planning-table sized: one shuffle
    to the per-source rollup, then window math over a handful of rows.
    The limit(10000) declares that bound — apportionment is defined
    over the SOURCE CATALOG (a dimension), never over facts, and the
    declared bound keeps the global remainder-ranking window out of
    the unbounded-single-partition class the plan audit rejects."""
    d = load(spark, sf_dir, "documents")
    s = (
        d.groupBy("source")
        .agg(F.sum("n_chars").cast("bigint").alias("chars"))
        .limit(10000)
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pw = F.pow(F.col("chars").cast("double"), F.lit(0.7))
    sh = s.select(
        "source",
        "chars",
        F.round(pw / F.sum(pw).over(wall), 6).alias("share"),
    )
    base = sh.select(
        "source",
        "chars",
        "share",
        F.floor(F.lit(1000000) * F.col("share")).cast("long").alias("alloc_base"),
        (
            F.lit(1000000) * F.col("share")
            - F.floor(F.lit(1000000) * F.col("share"))
        ).alias("rem"),
    )
    ranked = base.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "source"))
        .alias("rr"),
        (F.lit(1000000) - F.sum("alloc_base").over(wall)).alias("leftover"),
    )
    extra = F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
    return ranked.select(
        "source",
        "chars",
        "share",
        "alloc_base",
        extra.cast("long").alias("extra"),
        (F.col("alloc_base") + extra).alias("alloc_final"),
    )


@register(
    "embedding_centroid_drift",
    """
WITH comp AS (
  SELECT label, t.i AS pos,
         CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000) AS BIGINT) AS xi
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
),
cent AS (
  SELECT label, pos,
         CAST(round(CAST(SUM(xi) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mi
  FROM comp GROUP BY label, pos
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(a.mi * b.mi) AS BIGINT) AS dot_ab,
         CAST(SUM(a.mi * a.mi) AS BIGINT) AS dot_aa,
         CAST(SUM(b.mi * b.mi) AS BIGINT) AS dot_bb
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT label_a, label_b,
       ROUND(CAST(dot_ab AS DOUBLE)
             / sqrt(CAST(dot_aa AS DOUBLE) * CAST(dot_bb AS DOUBLE)), 6)
         AS centroid_cosine
FROM pairs
""",
)
def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid cosine matrix — the embedding-space drift
    monitor (are two sources/models/snapshots converging or diverging?).
    Everything that crosses rows is EXACT integer: components scale to
    micro-units before the per-(label, dim) sum, centroids round back to
    integer micro-units, and the pairwise dot products sum int64 —
    only the final cosine divides as double (then ROUND 6), so the
    whole matrix value-hashes across engines despite being float math
    in spirit. Scale shape: posexplode shuffles labels x dims rows (not
    vectors x dims — the component sum is map-side combined); the pair
    join runs over the centroid table (labels x dims rows), so cost is
    O(labels^2 x dims) independent of corpus size."""
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    comp = e.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    ).select(
        "label",
        (F.col("pos") + 1).alias("pos"),
        F.round(F.col("x") * 1000000).cast("long").alias("xi"),
    )
    cent = comp.groupBy("label", "pos").agg(
        F.round(F.sum("xi").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("mi")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("mi").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("mi").alias("mb")
    )
    pairs = (
        a.join(b, ["pos"])
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("ma") * F.col("mb")).cast("long").alias("dot_ab"),
            F.sum(F.col("ma") * F.col("ma")).cast("long").alias("dot_aa"),
            F.sum(F.col("mb") * F.col("mb")).cast("long").alias("dot_bb"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(
            F.col("dot_ab").cast("double")
            / F.sqrt(
                F.col("dot_aa").cast("double") * F.col("dot_bb").cast("double")
            ),
            6,
        ).alias("centroid_cosine"),
    )


@register(
    "langid_cohens_kappa",
    f"""
WITH v AS (SELECT lang AS labeled, {{votes}} FROM documents),
pred AS (
  SELECT labeled,
         CASE WHEN GREATEST(v_de, v_en, v_es, v_fr, v_zh) = 0 THEN 'en'
              WHEN v_de = GREATEST(v_de, v_en, v_es, v_fr, v_zh) THEN 'de'
              WHEN v_en = GREATEST(v_de, v_en, v_es, v_fr, v_zh) THEN 'en'
              WHEN v_es = GREATEST(v_de, v_en, v_es, v_fr, v_zh) THEN 'es'
              WHEN v_fr = GREATEST(v_de, v_en, v_es, v_fr, v_zh) THEN 'fr'
              ELSE 'zh' END AS predicted
  FROM v),
cells AS (
  SELECT labeled, predicted, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2),
rows_m AS (SELECT labeled AS cls, CAST(SUM(n) AS BIGINT) AS rn FROM cells GROUP BY 1),
cols_m AS (SELECT predicted AS cls, CAST(SUM(n) AS BIGINT) AS cn FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(CASE WHEN labeled = predicted THEN n ELSE 0 END) AS BIGINT)
           AS agree
  FROM cells),
chance AS (
  SELECT CAST(SUM(r.rn * c.cn) AS BIGINT) AS chance_num
  FROM rows_m r JOIN cols_m c ON r.cls = c.cls)
SELECT t.nn AS n_docs, t.agree,
       ROUND(CAST(t.agree AS DOUBLE) / CAST(t.nn AS DOUBLE), 6) AS po,
       ROUND(CAST(ch.chance_num AS DOUBLE)
             / (CAST(t.nn AS DOUBLE) * CAST(t.nn AS DOUBLE)), 6) AS pe,
       ROUND((CAST(t.agree AS DOUBLE) / CAST(t.nn AS DOUBLE)
              - CAST(ch.chance_num AS DOUBLE)
                / (CAST(t.nn AS DOUBLE) * CAST(t.nn AS DOUBLE)))
             / (1.0 - CAST(ch.chance_num AS DOUBLE)
                / (CAST(t.nn AS DOUBLE) * CAST(t.nn AS DOUBLE))), 6) AS kappa
FROM tot t, chance ch
""".format(votes=_lang_votes_sql()),
)
def q_langid_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the stopword-vote language ID against the
    labeled lang column — chance-corrected agreement, the scalar that
    `langid_confusion`'s matrix rolls up to (raw accuracy flatters any
    classifier on a skewed label mix; kappa subtracts the agreement the
    margins alone would produce). Confusion cells reduce to one tiny
    table; row/column margins and the kappa arithmetic are all exact
    integers until three double divisions of identical shape in both
    engines (ROUND 6)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    cells = (
        d.select(
            F.col("lang").alias("labeled"),
            lang_id("text").alias("predicted"),
        )
        .groupBy("labeled", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows_m = cells.groupBy(F.col("labeled").alias("cls")).agg(
        F.sum("n").cast("long").alias("rn")
    )
    cols_m = cells.groupBy(F.col("predicted").alias("cls")).agg(
        F.sum("n").cast("long").alias("cn")
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.when(F.col("labeled") == F.col("predicted"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    chance = (
        rows_m.join(cols_m, "cls")
        .agg(F.sum(F.col("rn") * F.col("cn")).cast("long").alias("chance_num"))
    )
    nn_d = F.col("nn").cast("double")
    po = F.col("agree").cast("double") / nn_d
    pe = F.col("chance_num").cast("double") / (nn_d * nn_d)
    return tot.crossJoin(chance).select(
        F.col("nn").alias("n_docs"),
        "agree",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


def _image_hash_oracle(sig: str, modulus: int, ctes: str) -> str:
    """DuckDB oracle of a perceptual-hash near-dup query: the word render
    (pixel ``idx`` = md5 bucket mod ``modulus``, ``v`` = clipped count),
    then the query's own ``ctes``, which end in the signature CTE ``sig``
    with 16-bit bands b0..b3, then the 4-band pigeonhole candidates and
    their hamming <= 3 filter."""
    return f"""
WITH words AS (
  SELECT doc_id, w.w AS word
  FROM documents, LATERAL unnest(string_split(text, ' ')) AS w(w)
  WHERE w.w <> ''),
px AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(word), 1, 8)) AS BIGINT) % {modulus} AS idx,
         LEAST(CAST(COUNT(*) AS BIGINT) * 24, 255) AS v
  FROM words GROUP BY 1, 2),
{ctes}cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
         b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
  FROM (
    SELECT a.doc_id AS ida, b.doc_id AS idb FROM {sig} a JOIN {sig} b
      ON a.b0 = b.b0 AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id, b.doc_id FROM {sig} a JOIN {sig} b
      ON a.b1 = b.b1 AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id, b.doc_id FROM {sig} a JOIN {sig} b
      ON a.b2 = b.b2 AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id, b.doc_id FROM {sig} a JOIN {sig} b
      ON a.b3 = b.b3 AND a.doc_id < b.doc_id) p
  JOIN {sig} a ON a.doc_id = p.ida
  JOIN {sig} b ON b.doc_id = p.idb)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
          + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
    + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) <= 3
"""


@register(
    "multimodal_ahash_dedup",
    _image_hash_oracle(
        "ah",
        256,
        """tot AS (
  SELECT doc_id, CAST(SUM(v) AS BIGINT) AS total FROM px GROUP BY doc_id),
blocks AS (
  SELECT doc_id,
         ((idx // 16) // 2) * 8 + ((idx % 16) // 2) AS blk,
         CAST(SUM(v) AS BIGINT) AS bs
  FROM px GROUP BY 1, 2),
bits AS (
  SELECT b.doc_id, b.blk,
         CASE WHEN b.bs * 64 > t.total THEN 1 ELSE 0 END AS bit
  FROM blocks b JOIN tot t USING (doc_id)),
ah AS MATERIALIZED (
  SELECT d.doc_id,
         CAST(COALESCE(SUM(CASE WHEN blk < 16 THEN bit << (blk - 0) ELSE 0 END), 0) AS INT) AS b0,
         CAST(COALESCE(SUM(CASE WHEN blk >= 16 AND blk < 32 THEN bit << (blk - 16) ELSE 0 END), 0) AS INT) AS b1,
         CAST(COALESCE(SUM(CASE WHEN blk >= 32 AND blk < 48 THEN bit << (blk - 32) ELSE 0 END), 0) AS INT) AS b2,
         CAST(COALESCE(SUM(CASE WHEN blk >= 48 THEN bit << (blk - 48) ELSE 0 END), 0) AS INT) AS b3
  FROM documents d LEFT JOIN bits b USING (doc_id) GROUP BY d.doc_id),
""",
    ),
)
def q_multimodal_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE detection by perceptual average-hash — the
    visual twin of the text near-dup ladder and the standard first
    screen in multimodal corpus dedup (identical re-encodes, crops of
    flat regions, brightness-shifted copies all collapse to small
    hamming distances). Each document's synthesized image round-trips
    the REAL BMP codec (operators/multimodal.py:ahash_table), the
    decoded pixels reduce to a 64-bit aHash in exact integer
    arithmetic, and pairs within hamming <= 3 surface via
    ``hamming_pairs``' 4-block pigeonhole: a <=3-bit difference cannot
    touch all 4 blocks, so block-equality candidates are LOSSLESS (the
    simhash_pairs argument, applied to images).

    Scale shape: one mapInPandas codec pass, one self-join keyed on
    (block, 16-bit value), verification only on candidates — never
    all-pairs. The oracle's b0..b3 are the same 16-bit blocks."""
    from taxi_data_datapipeline_spark.operators.multimodal import ahash_table

    d = load(spark, sf_dir, "documents", fan_out=True)
    return hamming_pairs(ahash_table(d), max_hamming=3, bits=64)


# --- Reciprocal-rank fusion (hybrid retrieval) ---------------------------------


# floor(1e9 / (60 + rank)) for ranks 1..20 — the RRF k=60 weights
# (Cormack et al. SIGIR'09) as exact integer nano-units, computed ONCE
# driver-side and inlined into BOTH engines.
_RRF_W = {r: 10**9 // (60 + r) for r in range(1, 21)}


def _rrf_oracle() -> str:
    w_rows = ", ".join(f"({r}, {w})" for r, w in _RRF_W.items())
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
dense0 AS (
  SELECT vec_id, ROUND({_COS_SQL}, 6) AS cs
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
  ORDER BY cs DESC, vec_id LIMIT 20),
dense AS (
  SELECT vec_id AS id,
         ROW_NUMBER() OVER (ORDER BY cs DESC, vec_id) AS drank
  FROM dense0),
s AS (SELECT doc_id, {_SQL_GRAMS} AS grams FROM documents),
g0 AS (SELECT DISTINCT UNNEST(grams) AS gram FROM s WHERE doc_id = 0),
gd AS (SELECT DISTINCT doc_id, UNNEST(grams) AS gram FROM s WHERE doc_id <> 0),
ov0 AS (
  SELECT gd.doc_id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM gd JOIN g0 USING (gram) GROUP BY 1
  ORDER BY cnt DESC, doc_id LIMIT 20),
sparse AS (
  SELECT doc_id AS id,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, doc_id) AS srank
  FROM ov0),
w(rk, wu) AS (VALUES {w_rows}),
fused AS (
  SELECT COALESCE(d.id, sp.id) AS doc_id, d.drank, sp.srank,
         CAST(COALESCE(wd.wu, 0) + COALESCE(ws.wu, 0) AS BIGINT) AS rrf_units
  FROM dense d FULL OUTER JOIN sparse sp ON d.id = sp.id
  LEFT JOIN w wd ON wd.rk = d.drank
  LEFT JOIN w ws ON ws.rk = sp.srank)
SELECT doc_id, CAST(drank AS INT) AS dense_rank,
       CAST(srank AS INT) AS sparse_rank, rrf_units
FROM fused ORDER BY rrf_units DESC, doc_id LIMIT 10
"""


@register("rrf_hybrid_rank", _rrf_oracle())
def q_rrf_hybrid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack, Clarke &
    Buettcher SIGIR'09; the default hybrid-search combiner in
    Elasticsearch/OpenSearch and most RAG stacks): a DENSE ranker
    (exact cosine top-20 to the query embedding) and a SPARSE ranker
    (shared-3-gram count top-20 to the query document) each vote
    1/(60+rank); the fused top-10 surfaces documents that neither
    ranker alone would pick. RRF needs no score calibration between
    rankers — only ranks — which is exactly why it composes a float
    cosine with an integer term-overlap safely.

    Determinism: both rank lists order by (score, id) with the score
    already rounded to the oracle's 6 places; the 1/(60+r) weights are
    inlined integer nano-units (the NDCG convention), so fusion is an
    exact integer sum and the final top-10 needs no float comparison
    at all.

    Scale shape: the dense side is the brute-force baseline
    (TakeOrderedAndProject, per-partition heaps — swap in the IVF/LSH
    tiers for large corpora); the sparse side is explode -> semi-join
    on the query's grams -> count, O(corpus grams + matches). Fusion
    itself joins two 20-row frames against a 20-row literal table."""
    from taxi_data_datapipeline_spark.operators.similarity import cosine

    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    qv = _query_vec(spark, sf_dir)
    q = F.array(*[F.lit(float(x)) for x in qv])
    dense0 = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(cosine(F.col("embedding"), q), 6).alias("cs"))
        .orderBy(F.col("cs").desc(), "vec_id")
        .limit(20)
    )
    dense = dense0.select(
        F.col("vec_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("cs").desc(), "vec_id"))
        .alias("drank"),
    )
    d = load(spark, sf_dir, "documents", fan_out=True)
    grams = d.select("doc_id", ngram_shingles("text", 3).alias("grams"))
    g0 = (
        grams.filter(F.col("doc_id") == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    gd = (
        grams.filter(F.col("doc_id") != 0)
        .select("doc_id", F.explode("grams").alias("gram"))
        .distinct()
    )
    ov0 = (
        gd.join(F.broadcast(g0), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "doc_id")
        .limit(20)
    )
    sparse = ov0.select(
        F.col("doc_id").alias("sid"),
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "doc_id"))
        .alias("srank"),
    )
    w = spark.createDataFrame(list(_RRF_W.items()), "rk int, wu bigint")
    wd = w.select(F.col("rk").alias("dk"), F.col("wu").alias("wdu"))
    ws = w.select(F.col("rk").alias("sk"), F.col("wu").alias("wsu"))
    fused = (
        dense.join(sparse, F.col("id") == F.col("sid"), "full_outer")
        .join(F.broadcast(wd), F.col("dk") == F.col("drank"), "left")
        .join(F.broadcast(ws), F.col("sk") == F.col("srank"), "left")
        .select(
            F.coalesce(F.col("id"), F.col("sid")).alias("doc_id"),
            F.col("drank").cast("int").alias("dense_rank"),
            F.col("srank").cast("int").alias("sparse_rank"),
            (F.coalesce(F.col("wdu"), F.lit(0)) + F.coalesce(F.col("wsu"), F.lit(0)))
            .cast("bigint")
            .alias("rrf_units"),
        )
    )
    return fused.orderBy(F.col("rrf_units").desc(), "doc_id").limit(10)


# --- Fairness / bias audit -----------------------------------------------------


@register(
    "fairness_parity_audit",
    """
WITH j AS (
  SELECT d.source, CASE WHEN e.label < 5 THEN 1 ELSE 0 END AS pos
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS np
  FROM j GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(np) AS BIGINT) AS tp FROM g),
ref AS (
  SELECT CAST(np AS DOUBLE) / n AS ref_rate FROM g
  ORDER BY CAST(np AS DOUBLE) / n DESC, source LIMIT 1)
SELECT source, n, np AS n_pos,
       ROUND(CAST(np AS DOUBLE) / n, 6) AS pos_rate,
       ROUND(CAST(np AS DOUBLE) / n - CAST(tot.tp AS DOUBLE) / tot.tn, 6)
         AS parity_diff,
       ROUND((CAST(np AS DOUBLE) / n) / ref.ref_rate, 6) AS disparate_impact,
       CAST(CASE WHEN (CAST(np AS DOUBLE) / n) / ref.ref_rate < 0.8
                 THEN 1 ELSE 0 END AS INT) AS four_fifths_flag
FROM g CROSS JOIN tot CROSS JOIN ref
""",
)
def q_fairness_parity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of the labeled corpus BEFORE it trains
    anything: per source group, the positive-class rate (label < 5),
    the statistical parity difference vs the corpus rate, and the
    disparate-impact ratio vs the best-off group, flagged against the
    EEOC four-fifths rule (Barocas & Selbst '16; the standard
    pre-training bias screen — a source whose positive rate is < 80%
    of the reference group's will push any model trained on the mix
    toward the same skew).

    Determinism: counts are exact integers; each reported number is a
    fixed chain of IEEE divisions (correctly rounded identically in
    both engines) rounded once; the reference group is picked by
    (rate DESC, source) with the rate itself a single division —
    cross-engine stable ordering.

    Scale shape: one data-sized equi-join (documents x embeddings on
    id) feeding a groups-bounded aggregate; the reference rate is a
    TakeOrdered(1) broadcast, the totals a 1-row broadcast."""
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id", "source")
    e = load(spark, sf_dir, "embeddings", fan_out=True).select(
        F.col("vec_id"), (F.col("label") < 5).cast("int").alias("pos")
    )
    g = (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("np"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("tn"), F.sum("np").cast("bigint").alias("tp")
    )
    rate = F.col("np").cast("double") / F.col("n")
    ref = (
        g.select(rate.alias("ref_rate"), "source")
        .orderBy(F.col("ref_rate").desc(), "source")
        .limit(1)
        .select("ref_rate")
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ref))
        .select(
            "source",
            "n",
            F.col("np").alias("n_pos"),
            F.round(rate, 6).alias("pos_rate"),
            F.round(
                rate - F.col("tp").cast("double") / F.col("tn"), 6
            ).alias("parity_diff"),
            F.round(rate / F.col("ref_rate"), 6).alias("disparate_impact"),
            F.when(rate / F.col("ref_rate") < 0.8, 1)
            .otherwise(0)
            .cast("int")
            .alias("four_fifths_flag"),
        )
    )
