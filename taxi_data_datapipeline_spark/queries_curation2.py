"""Round-12 curation breadth (VERDICT r11 next-round #5): corpus-health
reporting (per-source dedup rates, tokenizer fertility), smoothed n-gram
LM upgrades over the add-1 ``bigram_perplexity`` (Good-Turing
count-of-counts, interpolated Kneser-Ney), contamination-adjacent n-gram
novelty scoring, and an LSH banding S-curve calibration table pairing
``minhash_estimate_error`` with the band/row design choice.

Every query follows the engine's cross-engine conventions (module
docstring of ``queries.py``): identical aliases on both sides, exact
integer arithmetic until the final divisions, ROUND(.,6) on derived
doubles, ROUND(.,9)->DECIMAL(28,12) on float folds so sums are
fold-order-free, unique-key tie-breaks on every top-k, and SHUFFLE_HASH
pins on every join where BOTH sides are corpus-derived (the SCALING.md
round-11 rule — never let a statistics estimate pick broadcast there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.functions.text import (
    bpe_ish_tokens,
    fingerprint,
    ngram_shingles,
    tokens,
)
from taxi_data_datapipeline_spark.operators.iterate import iterate, round_rows
from taxi_data_datapipeline_spark.queries import load, register
from taxi_data_datapipeline_spark.queries_data import (
    _SQL_GRAMS,
    _SQL_JACCARD,
    _SQL_TOKS,
)

# Normalized-text fingerprint, shared with dedup_exact's oracle.
_SQL_FP = r"md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))"


# --- per-source dedup health -------------------------------------------------


@register(
    "dedup_rate_by_domain",
    rf"""
WITH fp AS (
  SELECT source, {_SQL_FP} AS fingerprint FROM documents),
tot AS (
  SELECT source, fingerprint,
         COUNT(*) AS c,
         SUM(COUNT(*)) OVER (PARTITION BY fingerprint) AS cluster_sz
  FROM fp GROUP BY source, fingerprint)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN cluster_sz > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_docs,
       CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       ROUND(CAST(SUM(CASE WHEN cluster_sz > 1 THEN c ELSE 0 END) AS DOUBLE)
             / SUM(c), 6) AS dup_rate
FROM tot GROUP BY source
""",
)
def q_dedup_rate_by_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate-rate rollup — the first table a curation run
    reports: how much of each source is exact-duplicate mass (including
    CROSS-source copies: a doc counts as dup when its normalized
    fingerprint appears anywhere else in the corpus, which is why the
    cluster size is a window over fingerprint, not a per-source count).

    Scale shape: one shuffle to (source, fingerprint) counts, one
    hash-partitioned window over fingerprint for the global cluster
    size (no join back to the corpus — the window replaces the
    corpus-vs-counts join that would otherwise need a shuffle_hash
    pin), one final per-source rollup over an aggregate-sized input."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    fs = (
        d.select("source", fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("source", "fingerprint")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    clustered = fs.withColumn(
        "cluster_sz", F.sum("c").over(Window.partitionBy("fingerprint"))
    )
    dup_c = F.when(F.col("cluster_sz") > 1, F.col("c")).otherwise(F.lit(0))
    return clustered.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum(dup_c).cast("long").alias("dup_docs"),
        F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
        F.round(
            F.sum(dup_c).cast("double") / F.sum("c"), 6
        ).alias("dup_rate"),
    )


# --- tokenizer fertility -----------------------------------------------------


@register(
    "tokenizer_fertility",
    rf"""
WITH base AS (
  SELECT lang, source,
         len({_SQL_TOKS}) AS n_words,
         len(list_filter(string_split_regex(lower(text), '[^\p{{L}}\p{{N}}]+'),
                         t -> t != '')) AS n_subtoks,
         length(text) AS n_chars
  FROM documents)
SELECT lang, source,
       CAST(SUM(n_words) AS BIGINT) AS words,
       CAST(SUM(n_subtoks) AS BIGINT) AS subtokens,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       ROUND(CAST(SUM(n_subtoks) AS DOUBLE) / SUM(n_words), 6) AS fertility,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_subtoks), 6) AS chars_per_subtoken
FROM base GROUP BY lang, source
""",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by (lang, source) — the compression-rate table
    every tokenizer change is judged by: sub-tokens per whitespace word
    (fertility; higher = the tokenizer fragments this slice more) and
    characters per sub-token. A language whose fertility is 2x the
    corpus mean pays 2x the sequence length for the same text — the
    standard argument for rebalancing tokenizer training data.

    The sub-tokenizer is the engine's BPE-precursor regex
    (functions/text.py:bpe_ish_tokens); counts are per-row integers that
    fold in one map-side-combined groupBy — a single shuffle at any
    scale."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    base = d.select(
        "lang",
        "source",
        F.size(tokens("text")).alias("n_words"),
        F.size(bpe_ish_tokens(F.col("text"))).alias("n_subtoks"),
        F.length("text").alias("n_chars"),
    )
    return base.groupBy("lang", "source").agg(
        F.sum("n_words").cast("long").alias("words"),
        F.sum("n_subtoks").cast("long").alias("subtokens"),
        F.sum("n_chars").cast("long").alias("chars"),
        F.round(
            F.sum("n_subtoks").cast("double") / F.sum("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_subtoks"), 6
        ).alias("chars_per_subtoken"),
    )


# --- Good-Turing count-of-counts smoothing -----------------------------------


@register(
    "good_turing_smoothing",
    rf"""
WITH toks AS (
  SELECT lower(t.t) AS w
  FROM (SELECT {_SQL_TOKS} AS tok FROM documents) d,
       UNNEST(d.tok) AS t(t)),
wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
cc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_types FROM wc GROUP BY c),
head AS (SELECT c, n_types FROM cc ORDER BY c ASC LIMIT 32),
nbr AS (
  SELECT c, n_types,
         COALESCE(LAG(c) OVER (ORDER BY c), 0) AS prev_c,
         LEAD(c) OVER (ORDER BY c) AS next_c
  FROM head),
z AS (
  SELECT c, n_types,
         ROUND(CAST(2 * n_types AS DOUBLE) / (next_c - prev_c), 6) AS z
  FROM nbr WHERE next_c IS NOT NULL),
pts AS (
  SELECT c, n_types, z,
         CAST(ROUND(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(28,12)) AS x,
         CAST(ROUND(ln(z), 9) AS DECIMAL(28,12)) AS y
  FROM z),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9)
                       AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9)
                       AS DECIMAL(28,12))) AS DOUBLE) AS sxx
  FROM pts)
SELECT p.c, p.n_types, p.z,
       ROUND((s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx), 6)
         AS loglog_slope
FROM pts p CROSS JOIN s
""",
)
def q_good_turing_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple Good-Turing (Gale & Sampson) smoothing inputs over the
    corpus unigram frequency spectrum: the count-of-counts table N_c for
    the 32 SMALLEST counts present, gap-corrected into Gale's
    Z-transform Z_c = 2 N_c / (next_c - prev_c) (classic GT's
    N_{{c+1}}/N_c needs ADJACENT integer counts, which real — and this
    synthetic — corpora don't have once counts thin out; the Z-value is
    the standard fix), plus the log-log regression slope ln Z ~ ln c
    whose smoothed line replaces raw N_c in the LGT estimator. The
    slope < -1 check is the usual sanity gate before applying SGT.

    Scale shape: corpus -> word counts (one shuffle) -> count-of-counts
    (second shuffle over a vocabulary-sized input). The 32-count head is
    a TakeOrderedAndProject (per-partition heaps, no global sort), and
    every window after it runs over that LIMIT-bounded input — the
    zipf_fit idiom, no unbounded single-partition stage. The regression
    is the exact-decimal moment-sum pattern; ln() terms round to 9
    before summing."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    wc = (
        d.select(F.explode(tokens("text")).alias("t"))
        .select(F.lower("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cc = wc.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    head = cc.orderBy(F.col("c").asc()).limit(32)
    w = Window.partitionBy(F.lit(0)).orderBy("c")
    z = (
        head.withColumn("prev_c", F.coalesce(F.lag("c").over(w), F.lit(0)))
        .withColumn("next_c", F.lead("c").over(w))
        .filter(F.col("next_c").isNotNull())
        .select(
            "c",
            "n_types",
            F.round(
                (2 * F.col("n_types")).cast("double")
                / (F.col("next_c") - F.col("prev_c")),
                6,
            ).alias("z"),
        )
    )
    pts = z.select(
        "c",
        "n_types",
        "z",
        F.round(F.log(F.col("c").cast("double")), 9)
        .cast("decimal(28,12)")
        .alias("x"),
        F.round(F.log("z"), 9).cast("decimal(28,12)").alias("y"),
    )
    xd, yd = F.col("x").cast("double"), F.col("y").cast("double")
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.round(xd * yd, 9).cast("decimal(28,12)")).cast("double").alias("sxy"),
        F.sum(F.round(xd * xd, 9).cast("decimal(28,12)")).cast("double").alias("sxx"),
    )
    slope = F.round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
        6,
    )
    return pts.crossJoin(F.broadcast(s)).select(
        "c", "n_types", "z", slope.alias("loglog_slope")
    )


# --- n-gram novelty against the train shard ----------------------------------


@register(
    "ngram_novelty_score",
    rf"""
WITH d AS (
  SELECT doc_id, text,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 10 AS bucket
  FROM documents),
shingled AS (SELECT doc_id, bucket, {_SQL_GRAMS} AS grams FROM d),
train_g AS (
  SELECT DISTINCT g.g AS gram
  FROM shingled, UNNEST(grams) AS g(g) WHERE bucket < 8),
eval_g AS (
  SELECT doc_id, g.g AS gram
  FROM shingled, UNNEST(grams) AS g(g) WHERE bucket >= 8)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN t.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       ROUND(CAST(SUM(CASE WHEN t.gram IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS novelty
FROM eval_g e LEFT JOIN train_g t ON e.gram = t.gram
GROUP BY e.doc_id
""",
)
def q_ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty against the train shard — the
    document-level memorization/contamination signal: documents hash-
    split 80/20 (the bigram_perplexity convention), and each eval doc
    reports what fraction of its distinct 3-gram shingles never occur in
    ANY train document. novelty ~ 0 means the eval doc is (near-)covered
    by training text — a leaked or boilerplate document; novelty ~ 1
    means genuinely held-out content. The same statistic aggregated over
    an external benchmark is the standard decontamination audit.

    Scale shape: both the eval gram stream and the distinct train-gram
    table scale with the corpus, so the membership probe is a
    SHUFFLE_HASH left join pinned per the SCALING.md round-11 rule
    (a statistics estimate must never pick broadcast here), followed by
    a per-doc rollup."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint") % 10
    shingled = d.select(
        "doc_id",
        bucket.alias("bucket"),
        ngram_shingles("text").alias("grams"),
    )
    train_g = (
        shingled.filter(F.col("bucket") < 8)
        .select(F.explode("grams").alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    eval_g = shingled.filter(F.col("bucket") >= 8).select(
        "doc_id", F.explode("grams").alias("gram")
    )
    joined = eval_g.join(train_g.hint("shuffle_hash"), "gram", "left")
    novel = F.when(F.col("hit").isNull(), 1).otherwise(0)
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(novel).cast("long").alias("n_novel"),
        F.round(F.sum(novel).cast("double") / F.count(F.lit(1)), 6).alias(
            "novelty"
        ),
    )


# --- interpolated Kneser-Ney bigram LM ---------------------------------------


@register(
    "kneser_ney_bigram",
    rf"""
WITH toks AS (
  SELECT doc_id, t.i AS pos, lower(tok[t.i]) AS w
  FROM (SELECT doc_id, {_SQL_TOKS} AS tok FROM documents) dd,
       UNNEST(range(1, len(tok) + 1)) AS t(i)),
bg AS (
  SELECT a.w AS w1, b.w AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
h AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n_after
      FROM c12 GROUP BY w1),
cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_before FROM c12 GROUP BY w2),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM c12)
SELECT c12.w1, c12.w2, c12.c AS c_bigram,
       ROUND((0.75 * h.n_after) / h.c1, 6) AS lambda_w1,
       ROUND(CAST(cont.n_before AS DOUBLE) / t.tt, 6) AS p_cont,
       ROUND(((CAST(c12.c AS DOUBLE) - 0.75) / h.c1)
             + (((0.75 * h.n_after) / h.c1)
                * (CAST(cont.n_before AS DOUBLE) / t.tt)), 6) AS kn_prob
FROM c12 JOIN h ON c12.w1 = h.w1
         JOIN cont ON c12.w2 = cont.w2
         CROSS JOIN t
ORDER BY kn_prob DESC, c12.w1, c12.w2
LIMIT 30
""",
)
def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities — the smoothing that
    add-1 (`bigram_perplexity`) and Good-Turing both approximate from
    below: absolute discount D = 0.75 off every observed bigram count,
    redistributed via the CONTINUATION probability (how many distinct
    histories precede w2, not how often w2 occurs — the "San Francisco"
    correction). kn_prob = (c-D)/c(w1) + lambda(w1) * P_cont(w2); the
    top-30 bigrams by smoothed probability ship with both interpolation
    components. D = 0.75 is exactly binary-representable, every input to
    the double divisions is an exact integer, and both engines evaluate
    the identically-parenthesized IEEE chain, so the rounded values are
    engine-exact.

    Scale shape: the bigram count table and both marginal tables are
    vocabulary-squared / vocabulary-sized — all corpus-derived, so both
    probability joins are SHUFFLE_HASH-pinned per the SCALING.md rule;
    the 1-row type total broadcasts; the top-30 is TakeOrderedAndProject
    (per-partition heaps), never a global sort."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    toks = F.transform(tokens("text"), lambda t: F.lower(t))
    base = d.select("doc_id", toks.alias("toks"))
    m = F.greatest(F.lit(0), F.size("toks") - 1)
    pairs = F.zip_with(
        F.slice("toks", 1, m),
        F.slice("toks", 2, m),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bg = base.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    # vocab^2-bounded count table, FOUR consumers (h, cont, t, final
    # join) — materialize so the tokenize+explode+groupBy runs once.
    c12 = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    h = c12.groupBy("w1").agg(
        F.sum("c").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n_after"),
    )
    cont = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_before")
    )
    t = c12.agg(F.count(F.lit(1)).cast("long").alias("tt"))
    lam = (F.lit(0.75) * F.col("n_after")) / F.col("c1")
    p_cont = F.col("n_before").cast("double") / F.col("tt")
    kn = ((F.col("c").cast("double") - F.lit(0.75)) / F.col("c1")) + (
        lam * p_cont
    )
    return (
        c12.join(h.hint("shuffle_hash"), "w1")
        .join(cont.hint("shuffle_hash"), "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            F.col("c").alias("c_bigram"),
            F.round(lam, 6).alias("lambda_w1"),
            F.round(p_cont, 6).alias("p_cont"),
            F.round(kn, 6).alias("kn_prob"),
        )
        .orderBy(F.col("kn_prob").desc(), "w1", "w2")
        .limit(30)
    )


# --- MinHash-LSH banding S-curve calibration ---------------------------------

# (bands, rows-per-band) designs for a 24-permutation signature; the
# S-curve p(s) = 1 - (1 - s^r)^b is what the banding choice actually
# trades off (steepness vs threshold location), and this table scores
# every design against the corpus's OWN observed similarity distribution.
_SCURVE_CONFIGS = [(24, 1), (12, 2), (8, 3), (6, 4), (4, 6), (2, 12)]


def _chain_sql(term: str, n: int) -> str:
    """Left-associated n-fold product — one IEEE evaluation order on both
    engines, so they compute bit-identical doubles (pow() implementations
    may differ; a multiply chain can't)."""
    out = term
    for _ in range(n - 1):
        out = f"({out} * {term})"
    return out


def _scurve_aggs(one: str = "1.0", half: str = "0.5") -> list[str]:
    """SQL text of the pair-table aggregate: n_pairs, n_hi and each design's
    e_all/e_hi/e_lo moments. ``one`` and ``half`` spell the constants 1 and
    0.5 for the engine: a bare ``1.0`` is a DECIMAL in Spark SQL, so Spark
    passes ``1.0D``/``0.5D``."""
    aggs = [
        "CAST(COUNT(*) AS BIGINT) AS n_pairs",
        f"CAST(COUNT(CASE WHEN jaccard >= {half} THEN 1 END) AS BIGINT) AS n_hi",
    ]
    for b, r in _SCURVE_CONFIGS:
        sr = _chain_sql("jaccard", r)
        p = f"CAST(ROUND(({one} - {_chain_sql(f'({one} - {sr})', b)}), 9) AS DECIMAL(28,12))"
        key = f"{b}_{r}"
        aggs += [
            f"CAST(SUM({p}) AS DOUBLE) AS e_all_{key}",
            f"CAST(SUM(CASE WHEN jaccard >= {half} THEN {p}"
            f" ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE) AS e_hi_{key}",
            f"CAST(SUM(CASE WHEN jaccard < {half} THEN {p}"
            f" ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE) AS e_lo_{key}",
        ]
    return aggs


def _scurve_row(b: int, r: int) -> list[str]:
    """SQL text of design (b, r)'s output row over the aggregate."""
    key = f"{b}_{r}"
    return [
        str(b), str(r), "n_pairs", "n_hi", f"ROUND(e_all_{key}, 6)",
        f"ROUND(e_hi_{key} / n_hi, 6)", f"ROUND(e_lo_{key}, 6)",
    ]


_SCURVE_COLUMNS = (
    "bands", "rows_per_band", "n_pairs", "n_hi", "exp_detected", "hi_recall",
    "lo_fp_mass",
)


def _scurve_sql() -> str:
    agg_cols = ",\n  ".join(_scurve_aggs())
    union = "\nUNION ALL\n".join(
        "SELECT "
        + ", ".join(f"{e} AS {c}" for e, c in zip(_scurve_row(b, r), _SCURVE_COLUMNS))
        + " FROM agg"
        for b, r in _SCURVE_CONFIGS
    )
    return f"""
WITH g AS (SELECT doc_id, lang, n_chars // 100 AS lenb, {_SQL_GRAMS} AS grams
           FROM documents),
pairs AS (
  SELECT jaccard FROM (
    SELECT {_SQL_JACCARD} AS jaccard
    FROM g a JOIN g b
      ON a.lang = b.lang AND a.lenb = b.lenb AND a.doc_id < b.doc_id)
  WHERE jaccard >= 0.05),
agg AS (
  SELECT {agg_cols}
  FROM pairs)
{union}
"""


@register("lsh_s_curve", _scurve_sql())
def q_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding-design calibration: for each (bands, rows-per-band)
    split of a 24-permutation MinHash signature, the S-curve detection
    probability p(s) = 1 - (1 - s^r)^b evaluated against the corpus's
    OWN observed pair-similarity distribution (the exact blocked 3-gram
    Jaccard pairs of `ngram_jaccard_blocked`, threshold 0.05). Per
    design: expected detected pairs overall, expected recall among true
    near-dups (s >= 0.5), and the expected false-positive candidate
    mass from sub-threshold pairs — the table that picks b x r before a
    production LSH run, pairing `minhash_estimate_error` (signature
    accuracy) with the banding choice itself.

    Cross-engine exactness: s is the already-rounded exact Jaccard;
    s^r and (1-s^r)^b are LEFT-ASSOCIATED multiply chains emitted from
    the same generator on both sides (pow() may differ between libms —
    a fixed multiply chain cannot); per-pair probabilities round to 9
    and sum as DECIMAL, so the fold is order-free.

    Scale shape: ONE pass over the pair table computes all 6 designs'
    moments in a single map-side-combined aggregate (no per-config
    re-scan); one stack() unpivots the 6 output rows from the 1-row
    aggregate. Pair generation itself is the bounded-quadratic blocked
    join, already audited in ngram_jaccard_blocked. Both the aggregate
    and the unpivot are the oracle's own SQL text (``_scurve_aggs``,
    ``_scurve_row``), parsed once by the JVM."""
    from taxi_data_datapipeline_spark.queries_data import blocked_pairs_cached

    rows = ", ".join(e for b, r in _SCURVE_CONFIGS for e in _scurve_row(b, r))
    return (
        blocked_pairs_cached(spark, sf_dir)
        .selectExpr(*_scurve_aggs(one="1.0D", half="0.5D"))
        .selectExpr(
            f"stack({len(_SCURVE_CONFIGS)}, {rows}) AS ({', '.join(_SCURVE_COLUMNS)})"
        )
    )


# --- perceptual difference-hash (dHash) image dedup ---------------------------


@register(
    "dhash_gradient_dedup",
    """
WITH words AS (
  SELECT doc_id, w.w AS word
  FROM documents, LATERAL unnest(string_split(text, ' ')) AS w(w)
  WHERE w.w <> ''),
px AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(word), 1, 8)) AS BIGINT) % 288 AS idx,
         LEAST(CAST(COUNT(*) AS BIGINT) * 24, 255) AS v
  FROM words GROUP BY 1, 2),
bsum AS (
  SELECT doc_id,
         ((idx // 18) // 2) * 9 + ((idx % 18) // 2) AS blk,
         CAST(SUM(v) AS BIGINT) AS bs
  FROM px GROUP BY 1, 2),
grid AS (
  SELECT d.doc_id, g.g AS blk, COALESCE(b.bs, 0) AS bs
  FROM documents d CROSS JOIN UNNEST(generate_series(0, 71)) AS g(g)
  LEFT JOIN bsum b ON b.doc_id = d.doc_id AND b.blk = g.g),
bits AS (
  SELECT l.doc_id, (l.blk // 9) * 8 + (l.blk % 9) AS k,
         CASE WHEN l.bs > r.bs THEN 1 ELSE 0 END AS bit
  FROM grid l JOIN grid r ON l.doc_id = r.doc_id AND r.blk = l.blk + 1
  WHERE l.blk % 9 < 8),
dh AS MATERIALIZED (
  SELECT doc_id,
         CAST(COALESCE(SUM(CASE WHEN k < 16 THEN bit << (k - 0) ELSE 0 END), 0) AS INT) AS b0,
         CAST(COALESCE(SUM(CASE WHEN k >= 16 AND k < 32 THEN bit << (k - 16) ELSE 0 END), 0) AS INT) AS b1,
         CAST(COALESCE(SUM(CASE WHEN k >= 32 AND k < 48 THEN bit << (k - 32) ELSE 0 END), 0) AS INT) AS b2,
         CAST(COALESCE(SUM(CASE WHEN k >= 48 THEN bit << (k - 48) ELSE 0 END), 0) AS INT) AS b3
  FROM bits GROUP BY doc_id),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
         b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
  FROM (
    SELECT a.doc_id AS ida, b.doc_id AS idb FROM dh a JOIN dh b
      ON a.b0 = b.b0 AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id, b.doc_id FROM dh a JOIN dh b
      ON a.b1 = b.b1 AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id, b.doc_id FROM dh a JOIN dh b
      ON a.b2 = b.b2 AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id, b.doc_id FROM dh a JOIN dh b
      ON a.b3 = b.b3 AND a.doc_id < b.doc_id) p
  JOIN dh a ON a.doc_id = p.ida
  JOIN dh b ON b.doc_id = p.idb)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
          + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
    + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) <= 3
""",
)
def q_dhash_gradient_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image detection by perceptual DIFFERENCE-hash — the
    gradient-signature companion to `multimodal_ahash_dedup`: bit (r, c)
    encodes whether block (r, c) is brighter than its right neighbor, so
    the signature survives the global brightness/contrast shifts that
    flip every mean-threshold aHash bit at once (the standard reason
    production image dedup runs BOTH screens). The per-document image is
    the deterministic word-histogram render (18x16 — one extra block
    column buys 8 gradient bits per row) round-tripped through the real
    BMP codec (operators/multimodal.py:dhash_bands); pairs within
    hamming <= 3 surface via the same 4-band pigeonhole candidate
    generator, whose band-equality joins are lossless for that radius.

    Scale shape: one mapInPandas codec pass, four self-joins keyed on
    16-bit bands, verification on candidates only — never all-pairs;
    the signature table is answer-sized and checkpointed once."""
    from taxi_data_datapipeline_spark.operators.multimodal import dhash_bands

    d = load(spark, sf_dir, "documents", fan_out=True)
    dh = dhash_bands(d).localCheckpoint(eager=False)
    left = dh.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{j}").alias(f"a{j}") for j in range(4)],
    )
    right = dh.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{j}").alias(f"c{j}") for j in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"c{j}"))) for j in range(4)
    ).cast("int")
    cands = None
    for j in range(4):
        c = (
            left.join(
                right,
                (F.col(f"a{j}") == F.col(f"c{j}"))
                & (F.col("doc_a") < F.col("doc_b")),
            )
            .select("doc_a", "doc_b", hamming.alias("hamming"))
            .filter(F.col("hamming") <= 3)
        )
        cands = c if cands is None else cands.unionByName(c)
    return cands.distinct()


# --- perceptual DCT-hash (pHash) image dedup ----------------------------------


def _phash_oracle() -> str:
    from taxi_data_datapipeline_spark.operators.multimodal import (
        dct_basis_8x32,
    )

    basis_rows = ", ".join(
        f"({u}, {r}, {coef})"
        for u, row in enumerate(dct_basis_8x32())
        for r, coef in enumerate(row)
    )
    return f"""
WITH words AS (
  SELECT doc_id, w.w AS word
  FROM documents, LATERAL unnest(string_split(text, ' ')) AS w(w)
  WHERE w.w <> ''),
px AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(word), 1, 8)) AS BIGINT) % 1024 AS idx,
         LEAST(CAST(COUNT(*) AS BIGINT) * 24, 255) AS v
  FROM words GROUP BY 1, 2),
basis(u, r, coef) AS (VALUES {basis_rows}),
d1 AS (
  SELECT p.doc_id, b.u, p.idx % 32 AS c,
         CAST(SUM(b.coef * p.v) AS BIGINT) AS s
  FROM px p JOIN basis b ON b.r = p.idx // 32
  GROUP BY 1, 2, 3),
d2 AS (
  SELECT d.doc_id, d.u, b.u AS v2,
         CAST(SUM(b.coef * d.s) AS BIGINT) AS coef
  FROM d1 d JOIN basis b ON b.r = d.c
  GROUP BY 1, 2, 3),
s63 AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN u = 0 AND v2 = 0 THEN 0 ELSE coef END) AS BIGINT)
           AS tot
  FROM d2 GROUP BY doc_id),
bits AS (
  SELECT d.doc_id, d.u * 8 + d.v2 AS k,
         CASE WHEN d.u = 0 AND d.v2 = 0 THEN 0
              WHEN 63 * d.coef > s.tot THEN 1 ELSE 0 END AS bit
  FROM d2 d JOIN s63 s USING (doc_id)),
ph AS MATERIALIZED (
  SELECT d.doc_id,
         CAST(COALESCE(SUM(CASE WHEN k < 16 THEN bit << (k - 0) ELSE 0 END), 0) AS INT) AS b0,
         CAST(COALESCE(SUM(CASE WHEN k >= 16 AND k < 32 THEN bit << (k - 16) ELSE 0 END), 0) AS INT) AS b1,
         CAST(COALESCE(SUM(CASE WHEN k >= 32 AND k < 48 THEN bit << (k - 32) ELSE 0 END), 0) AS INT) AS b2,
         CAST(COALESCE(SUM(CASE WHEN k >= 48 THEN bit << (k - 48) ELSE 0 END), 0) AS INT) AS b3
  FROM documents d LEFT JOIN bits b USING (doc_id) GROUP BY d.doc_id),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
         b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
  FROM (
    SELECT a.doc_id AS ida, b.doc_id AS idb FROM ph a JOIN ph b
      ON a.b0 = b.b0 AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id, b.doc_id FROM ph a JOIN ph b
      ON a.b1 = b.b1 AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id, b.doc_id FROM ph a JOIN ph b
      ON a.b2 = b.b2 AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id, b.doc_id FROM ph a JOIN ph b
      ON a.b3 = b.b3 AND a.doc_id < b.doc_id) p
  JOIN ph a ON a.doc_id = p.ida
  JOIN ph b ON b.doc_id = p.idb)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
          + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
    + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) <= 3
"""


@register("phash_dct_dedup", _phash_oracle())
def q_phash_dct_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image detection by perceptual DCT-hash — the third
    complementary screen of the image-dedup ladder (aHash = mean
    threshold, dHash = gradient, pHash = low-frequency spectrum): each
    document's deterministic 32x32 render round-trips the real BMP
    codec, the 8x8 low-frequency DCT block comes from a FIXED-POINT
    integer basis inlined identically into both engines (no libm cos at
    query time — the multiply-chain discipline applied to a matrix
    product), and bit k compares 63*coef_k against the non-DC total in
    exact int64. Pairs within hamming <= 3 via the same lossless 4-band
    pigeonhole as the aHash/dHash queries.

    Scale shape: one mapInPandas codec+DCT pass (the 8x32 basis is a
    constant), answer-sized signature table, banded self-joins,
    verification on candidates only — never all-pairs."""
    from taxi_data_datapipeline_spark.operators.multimodal import phash_bands

    d = load(spark, sf_dir, "documents", fan_out=True)
    ph = phash_bands(d).localCheckpoint(eager=False)
    left = ph.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{j}").alias(f"a{j}") for j in range(4)],
    )
    right = ph.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{j}").alias(f"c{j}") for j in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"c{j}"))) for j in range(4)
    ).cast("int")
    cands = None
    for j in range(4):
        c = (
            left.join(
                right,
                (F.col(f"a{j}") == F.col(f"c{j}"))
                & (F.col("doc_a") < F.col("doc_b")),
            )
            .select("doc_a", "doc_b", hamming.alias("hamming"))
            .filter(F.col("hamming") <= 3)
        )
        cands = c if cands is None else cands.unionByName(c)
    return cands.distinct()


# --- IVF nprobe/recall sweep --------------------------------------------------

_NPROBES = (1, 2, 4, 8)


def _ivf_nprobe_oracle() -> str:
    from taxi_data_datapipeline_spark.queries_data import _srp_planes_sql

    cos = (
        "list_dot_product(v.ev, q.qv) /"
        " (sqrt(list_dot_product(v.ev, v.ev))"
        " * sqrt(list_dot_product(q.qv, q.qv)))"
    )
    per_probe = []
    for P in _NPROBES:
        per_probe.append(f"""
r{P} AS (
  SELECT v.vec_id FROM v
  JOIN lists l ON v.vec_id = l.vec_id
  JOIN qrank qr ON l.lst = qr.p AND qr.rk <= {P}
  CROSS JOIN q
  WHERE v.vec_id <> 0
  ORDER BY ROUND({cos}, 6) DESC, v.vec_id LIMIT 10),
s{P} AS (
  SELECT {P} AS nprobe,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lists l
          JOIN qrank qr ON l.lst = qr.p AND qr.rk <= {P}
          WHERE l.vec_id <> 0) AS n_candidates,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM r{P} r JOIN truth t ON r.vec_id = t.vec_id) AS n_hits)""")
    heads = ",".join(per_probe)
    union = "\nUNION ALL\n".join(
        f"SELECT nprobe, n_candidates, n_hits,"
        f" ROUND(n_hits / 10.0, 6) AS recall_at_10 FROM s{P}"
        for P in _NPROBES
    )
    return f"""
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
), qrank AS (
  SELECT pl.p,
         ROW_NUMBER() OVER (
           ORDER BY list_dot_product(q.qv, pl.comps) DESC, pl.p ASC) AS rk
  FROM planes pl CROSS JOIN q
), truth AS (
  SELECT v.vec_id FROM v CROSS JOIN q WHERE v.vec_id <> 0
  ORDER BY ROUND({cos}, 6) DESC, v.vec_id LIMIT 10
),{heads}
{union}
"""


@register("ivf_nprobe_recall", _ivf_nprobe_oracle())
def q_ivf_nprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall dial, measured: for nprobe in {1, 2, 4, 8}, probe
    the query's top-P inverted lists (ranked by the query's own
    projection onto each seeded hyperplane, ties to the lower list
    index), run the exact cosine top-10 over just those lists, and score
    recall@10 against the brute-force truth — the candidates-vs-recall
    trade-off curve every IVF deployment tunes before fixing nprobe
    (pairing `embedding_ivf_topk`, which fixes nprobe=1, and
    `pq_recall_at_k`, which scores the compression axis).

    Fully hash-checked despite ANN recall < 1: quantizer, probe ranking
    and tie-breaks are deterministic and replicated exactly in the
    oracle (precomputed hyperplane constants), so the candidate sets —
    not just the recall numbers — agree bit-for-bit.

    Scale shape: the bucketed table is computed once and checkpointed
    (answer-sized signature frame); each probe level is a partition-
    pruned filter + TakeOrderedAndProject; the truth set is k rows,
    joined broadcast. Nothing all-pairs, nothing collected but scalars.
    """
    from taxi_data_datapipeline_spark.functions.srp_constants import (
        SRP_COMPONENTS,
    )
    from taxi_data_datapipeline_spark.operators.similarity import (
        cosine,
        ivf_bucket,
    )
    from taxi_data_datapipeline_spark.queries_data import _query_vec

    qv = _query_vec(spark, sf_dir)
    n_dims = len(qv)
    projq = []
    for p in range(16):
        acc = 0.0
        for x, c in zip(qv, SRP_COMPONENTS[p]):
            acc = acc + float(x) * c
        projq.append(acc)
    order = sorted(range(16), key=lambda p: (-projq[p], p))

    emb = load(spark, sf_dir, "embeddings", fan_out=True).filter(
        F.col("vec_id") != 0
    )
    bucketed = emb.withColumn(
        "_list", ivf_bucket(F.col("embedding"), n_dims, 16)
    ).localCheckpoint(eager=False)
    qarr = F.array(*[F.lit(float(x)) for x in qv])
    sim = F.round(cosine(F.col("embedding"), qarr), 6)
    truth = (
        emb.select("vec_id", sim.alias("cs"))
        .orderBy(F.col("cs").desc(), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    rows = None
    for P in _NPROBES:
        cand = bucketed.filter(F.col("_list").isin(order[:P]))
        n_c = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        ret = (
            cand.select("vec_id", sim.alias("cs"))
            .orderBy(F.col("cs").desc(), "vec_id")
            .limit(10)
            .select("vec_id")
        )
        hits = ret.join(F.broadcast(truth), "vec_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_hits")
        )
        row = n_c.crossJoin(hits).select(
            F.lit(P).alias("nprobe"),
            "n_candidates",
            "n_hits",
            F.round(F.col("n_hits") / 10.0, 6).alias("recall_at_10"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


# --- fastText-style hashed linear quality/language classifier -----------------

_FT_BUCKETS = 16
_FT_CAP = 50  # per-bucket count cap keeps |z| bounded at any doc length
_FT_LR = 8_388_608  # update divisor 2^23 (truncating int division)
_FT_ROUNDS = 2


def _ft_oracle() -> str:
    xs = ", ".join(
        f"LEAST(SUM(CASE WHEN b = {b} THEN 1 ELSE 0 END), {_FT_CAP}) AS x{b}"
        for b in range(_FT_BUCKETS)
    )
    z = " + ".join(f"u{b + 1} * x{b}" for b in range(_FT_BUCKETS))
    steps = [
        "b0 AS (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS u{i}" for i in range(_FT_BUCKETS + 1))
        + ")"
    ]
    for k in range(1, _FT_ROUNDS + 1):
        p = f"b{k - 1}"
        grads = ",\n         ".join(
            f"CAST(FLOOR(SUM(CAST(ROUND((p - y) * CAST(x{b} AS DOUBLE), 9)"
            f" AS DECIMAL(28,12))) * 1000000) AS BIGINT) AS g{b + 1}"
            for b in range(_FT_BUCKETS)
        )
        upds = ",\n         ".join(
            f"{p}.u{i} - u{k}.g{i} // {_FT_LR} AS u{i}"
            for i in range(_FT_BUCKETS + 1)
        )
        steps.append(
            f"""t{k} AS (
  SELECT y, {", ".join(f"x{b}" for b in range(_FT_BUCKETS))},
         1.0e0 / (1.0e0 + EXP(-(CAST({p}.u0 + {z} AS DOUBLE) * 1e-6))) AS p
  FROM feat CROSS JOIN {p}),
u{k} AS (
  SELECT CAST(SUM(CASE WHEN p >= 0.5e0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pred_pos,
         CAST(SUM(CASE WHEN (CASE WHEN p >= 0.5e0 THEN 1 ELSE 0 END) = y
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         CAST(FLOOR(SUM(CAST(ROUND(p - y, 9) AS DECIMAL(28,12)))
                    * 1000000) AS BIGINT) AS g0,
         {grads}
  FROM t{k}),
b{k} AS (
  SELECT {upds}
  FROM {p} CROSS JOIN u{k})"""
        )
    outs = " UNION ALL ".join(
        f"SELECT {k} AS round, u{k}.n_pred_pos, u{k}.n_correct, "
        + ", ".join(f"b{k}.u{i}" for i in range(_FT_BUCKETS + 1))
        + f" FROM u{k} CROSS JOIN b{k}"
        for k in range(1, _FT_ROUNDS + 1)
    )
    return f"""
WITH words AS (
  SELECT doc_id, y, lower(t.t) AS w
  FROM (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
               {_SQL_TOKS} AS tok
        FROM documents) dd,
       UNNEST(dd.tok) AS t(t)),
feat AS (
  SELECT doc_id, y, {xs}
  FROM (SELECT doc_id, y,
               CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT)
                 % {_FT_BUCKETS} AS b
        FROM words)
  GROUP BY doc_id, y),
{",".join(steps)}
{outs}
"""


@register("fasttext_hash_classifier", _ft_oracle())
def q_fasttext_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A fastText-style linear text classifier trained as a Spark plan —
    the hashing-trick bag-of-words (16 md5 buckets, counts capped at 50)
    feeding a logistic unit, on fastText's flagship task: language ID
    (y = lang == 'en'). Training is 2 unrolled rounds of full-batch
    gradient descent under the engine's fixed-point ML recipe
    (logistic_gd): integer micro-unit weights so the per-doc logit is
    one exact int64 dot product, per-row sigmoid terms quantized
    ROUND(.,9) -> DECIMAL before summation (fold-order-free gradients),
    and FLOOR + truncating power-of-two division keeping every updated
    weight an integer. Each round reports train accuracy (n_correct)
    and the full 17-weight state — a bit-exact cross-engine check of
    the entire training trajectory, not just the final score.

    Scale shape: the feature table is one explode + one map-side-
    combined groupBy per document; each round is a single full pass
    with a broadcast 1-row weight table (scalar-broadcast idiom). At
    100 TB the model state is 17 integers and each round is one scan."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    bucket = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("bigint")
        % _FT_BUCKETS
    )
    words = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.explode(F.transform(tokens("text"), lambda t: F.lower(t))).alias(
            "w"
        ),
    ).select("doc_id", "y", bucket.alias("b"))
    from pyspark import StorageLevel

    feat = words.groupBy("doc_id", "y").agg(
        *[
            F.least(
                F.sum(F.when(F.col("b") == b, 1).otherwise(0)), F.lit(_FT_CAP)
            ).alias(f"x{b}")
            for b in range(_FT_BUCKETS)
        ]
        # Persisted, NOT eagerly checkpointed: the training rounds run as
        # SEPARATE jobs, so AQE exchange reuse cannot help across rounds
        # and the tokenize + explode + groupBy re-ran per round. A
        # non-eager persist materializes inside round 1's own job (no
        # standalone barrier — the eager-checkpoint variant measured
        # +0.4 s of pure barrier in r12) and round 2 reads the cache;
        # unpersisted right after the loop so nothing outlives the build.
    ).persist(StorageLevel.MEMORY_AND_DISK)
    weights = [f"u{i}" for i in range(_FT_BUCKETS + 1)]
    dec = lambda c: F.round(c, 9).cast("decimal(28,12)")  # noqa: E731

    def step(state: DataFrame) -> DataFrame:
        beta = state.select(*weights)
        j = feat.crossJoin(F.broadcast(beta))
        z = F.col("u0")
        for b in range(_FT_BUCKETS):
            z = z + F.col(f"u{b + 1}") * F.col(f"x{b}")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-(z.cast("double") * F.lit(1e-6))))
        pred = (p >= 0.5).cast("int")
        upd = j.agg(
            F.sum(pred.cast("bigint")).alias("n_pred_pos"),
            F.sum((pred == F.col("y")).cast("bigint")).alias("n_correct"),
            F.floor(F.sum(dec(p - F.col("y"))) * 1000000)
            .cast("bigint")
            .alias("g0"),
            *[
                F.floor(
                    F.sum(dec((p - F.col("y")) * F.col(f"x{b}").cast("double")))
                    * 1000000
                )
                .cast("bigint")
                .alias(f"g{b + 1}")
                for b in range(_FT_BUCKETS)
            ],
        )
        return beta.crossJoin(upd).select(
            "n_pred_pos",
            "n_correct",
            *[
                (F.col(u) - F.expr(f"g{i} DIV {_FT_LR}")).alias(u)
                for i, u in enumerate(weights)
            ],
        )

    beta0 = spark.createDataFrame(
        [tuple(0 for _ in weights)], ", ".join(f"{u} bigint" for u in weights)
    )
    try:
        states = iterate(beta0, step, _FT_ROUNDS)
    finally:
        # Every round's state is checkpointed; the returned frame never
        # touches feat again. Release the cache deterministically, also
        # when a round's action raises.
        feat.unpersist()
    return round_rows(states, "n_pred_pos", "n_correct", *weights)
