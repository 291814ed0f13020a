"""Round-11 curation breadth: the LLM-training-data operators VERDICT r10
called for — substring-level exact dedup, URL canonicalization + domain
rollup, DoReMi-style mixture reweighting, a unigram-LM (SentencePiece-
style) tokenizer seed/prune pair, sketch-accuracy and ANN-recall evals,
and boilerplate/quality partitioning.

Every query follows the engine's cross-engine conventions (module
docstring of ``queries.py``): identical aliases on both sides, money/
float folds as rounded DECIMAL sums, ROUND(.,6) on derived doubles,
unique-key tie-breaks on every top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.functions.text import ngram_shingles, tokens
from taxi_data_datapipeline_spark.functions.urls import (
    TRACKING_PARAM_RE,
    canonicalize_url,
    registered_domain,
    url_host,
)
from taxi_data_datapipeline_spark.operators.dedup import blocked_jaccard_pairs
from taxi_data_datapipeline_spark.queries import load, register
from taxi_data_datapipeline_spark.queries_data import (
    _SQL_GRAMS,
    _SQL_JACCARD,
    _SQL_TOKS,
    _pq_train_encode,
)

# --- substring-level exact dedup ----------------------------------------------

_SUBSTR_K = 24  # chars: any shared exact substring >= K chars shares a K-gram
_SUBSTR_DF_CAP = 20  # stop-gram cap: grams in more docs are boilerplate noise


@register(
    "substring_dup_spans",
    f"""
WITH g AS (
  SELECT doc_id, i.i AS pos, substr(text, i.i, {_SUBSTR_K}) AS gram
  FROM documents, LATERAL unnest(generate_series(1, length(text) - {_SUBSTR_K - 1})) AS i(i)
  WHERE length(text) >= {_SUBSTR_K}),
keep AS (
  SELECT gram FROM g GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_SUBSTR_DF_CAP}),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, a.pos - b.pos AS diag
  FROM g a JOIN keep k ON a.gram = k.gram JOIN g b ON a.gram = b.gram
  WHERE a.doc_id < b.doc_id),
runs AS (
  SELECT doc_a, doc_b, diag,
         pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS island,
         1 AS one
  FROM m),
r2 AS (
  SELECT doc_a, doc_b, diag, island, COUNT(*) AS run_len
  FROM runs GROUP BY doc_a, doc_b, diag, island)
SELECT doc_a, doc_b,
       CAST(SUM(run_len) AS BIGINT) AS n_matches,
       CAST(MAX(run_len) + {_SUBSTR_K - 1} AS BIGINT) AS max_run_chars
FROM r2 GROUP BY doc_a, doc_b
""",
)
def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup — the tier between whole-document
    fingerprinting and shingle-Jaccard: any two documents sharing an exact
    substring of >= K chars necessarily share a K-char gram (pigeonhole),
    so exploding every K-gram with its position and equi-joining on the
    gram finds ALL such pairs with a plain shuffled join — no suffix
    array, no all-pairs scan. Matches on the same (pos_a - pos_b)
    diagonal with consecutive positions form islands (the classic
    gaps-and-islands window); the longest island + K-1 is the exact
    length of the longest shared run detectable at this K — the
    deduplicate-training-data "exact substring duplication" measure
    (Lee et al. 2022) without building a suffix automaton.

    Scale shape: the gram explode is map-side; one shuffle keys the
    equi-join on the 24-char gram; the stop-gram cap (df <= 20 docs)
    bounds per-key fanout exactly like the LSH hot-bucket cap, so the
    join cost is sum(df^2) over rare grams, not corpus^2. The island
    window partitions by (pair, diagonal) — thousands of tiny
    partitions, never a global sort."""
    k = _SUBSTR_K
    d = load(spark, sf_dir, "documents", fan_out=True)
    g = (
        d.filter(F.length("text") >= k)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - (k - 1))
            ).alias("pos"),
        )
        .select(
            "doc_id", "pos", F.col("text").substr(F.col("pos"), F.lit(k)).alias("gram")
        )
    )
    keep = (
        g.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _SUBSTR_DF_CAP))
        .select("gram")
    )
    # Both joins are corpus-sized on BOTH sides at scale — and Catalyst's
    # row estimate after the df-filter aggregate is optimistic enough to
    # pick a broadcast plan that then dies at the 8 GiB broadcast cap
    # (observed live at sf3: "Cannot broadcast the table that is larger
    # than 8.0 GiB: 8.5 GiB"). Pin shuffle-hash: no corpus-sized
    # broadcast, no sort, per-partition build bounded by the partition
    # count at any scale.
    gk = g.join(keep.hint("shuffle_hash"), "gram")
    a, b = gk.alias("a"), gk.alias("b")
    m = (
        a.join(b.hint("shuffle_hash"), "gram")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pos_a"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = (
        m.withColumn("island", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        F.sum("run_len").alias("n_matches"),
        (F.max("run_len") + (k - 1)).alias("max_run_chars"),
    )


# --- MinHash sketch-accuracy eval ---------------------------------------------

_MH_PERMS = 16


@register(
    "minhash_estimate_error",
    f"""
WITH d AS (SELECT doc_id, {_SQL_GRAMS} AS grams FROM documents),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {_SQL_JACCARD} AS exact_jaccard
  FROM d a JOIN d b ON a.doc_id < b.doc_id
  WHERE {_SQL_JACCARD} >= 0.3),
gr AS (SELECT doc_id, unnest(grams) AS gram FROM d),
sig AS (
  SELECT doc_id, p.p AS p,
         MIN(CAST(('0x' || substring(md5(gram || '#' || CAST(p.p AS VARCHAR)), 1, 15)) AS BIGINT)) AS mh
  FROM gr CROSS JOIN (SELECT unnest(generate_series(0, {_MH_PERMS - 1})) AS p) p
  GROUP BY doc_id, p.p),
est AS (
  SELECT p.doc_a, p.doc_b, p.exact_jaccard,
         ROUND(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / {_MH_PERMS}.0, 6) AS est_jaccard
  FROM pairs p
  JOIN sig a ON a.doc_id = p.doc_a
  JOIN sig b ON b.doc_id = p.doc_b AND a.p = b.p
  GROUP BY p.doc_a, p.doc_b, p.exact_jaccard)
SELECT doc_a, doc_b, exact_jaccard, est_jaccard,
       ROUND(ABS(est_jaccard - exact_jaccard), 6) AS abs_err
FROM est
""",
)
def q_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy eval for the MinHash dedup tier: for every pair at
    exact shingle-Jaccard >= 0.3, the 16-permutation MinHash estimate
    (fraction of agreeing signature components) next to the exact value
    and the absolute error — the calibration table that justifies the
    production LSH thresholds. Per-permutation hashing uses the portable
    md5-prefix derivation (same discipline as ``simhash_pairs_checked``)
    so the SIGNATURES themselves are reproduced bit-for-bit by the
    oracle, not just the final pair set.

    Scale shape: candidate pairs come from the exploded shared-gram join
    (full recall for any threshold > 0 — a pair with jaccard >= 0.3
    shares a gram by definition); signatures are computed only for docs
    that appear in a pair (semi-join pruned), grouped map-side to
    (doc, perm) minima, then joined to the broadcast-scale pair set."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    # The verified pair table (answer-sized: pairs at J >= 0.3) feeds the
    # id-prune union TWICE and the estimate join once — checkpoint so the
    # exploded shared-gram self-join behind it runs ONCE, not three times
    # (the un-checkpointed plan re-executed it per consumer: 24 document
    # scans / 114 Exchanges).
    pairs = (
        blocked_jaccard_pairs(d, [], threshold=0.3)
        .withColumnRenamed("jaccard", "exact_jaccard")
        .localCheckpoint(eager=True)
    )
    ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    mh = F.conv(
        F.substring(
            F.md5(F.concat(F.col("gram"), F.lit("#"), F.col("p").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    sig = (
        d.join(ids.hint("shuffle_hash"), "doc_id", "left_semi")
        .select("doc_id", F.explode(ngram_shingles("text", 3)).alias("gram"))
        .select(
            "doc_id",
            "gram",
            F.explode(F.sequence(F.lit(0), F.lit(_MH_PERMS - 1))).alias("p"),
        )
        .groupBy("doc_id", "p")
        .agg(F.min(mh).alias("mh"))
        # 16 numeric rows per participating doc, consumed by BOTH est
        # join sides — materialize so the semi-join + shingle explode +
        # 16-permutation min-hash pass runs once.
        .localCheckpoint(eager=True)
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), "p", F.col("mh").alias("mh_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), "p", F.col("mh").alias("mh_b"))
    est = (
        pairs.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), ["doc_b", "p"])
        .groupBy("doc_a", "doc_b", "exact_jaccard")
        .agg(
            F.round(
                F.sum(F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0))
                / F.lit(float(_MH_PERMS)),
                6,
            ).alias("est_jaccard")
        )
    )
    return est.select(
        "doc_a",
        "doc_b",
        "exact_jaccard",
        "est_jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6).alias(
            "abs_err"
        ),
    )


# --- URL canonicalization + domain rollup --------------------------------------

# The corpus has no URL column, so the URL table is DERIVED
# deterministically from events: four messy variants (case, www, default
# port, tracking params, param order, trailing slash, fragment) of one
# logical resource per (event_type, user_id). Both engines construct the
# SAME raw strings, so the canonicalizer itself is what the value-hash
# verifies.
_SQL_RAW_URL = """CASE CAST(event_id % 4 AS INT)
  WHEN 0 THEN 'https://WWW.' || upper(event_type || '.example' || CAST(user_id % 5 AS VARCHAR) || '.com')
              || '/items/' || CAST(user_id AS VARCHAR) || '?utm_source=feed&b=2&a=1#top'
  WHEN 1 THEN 'https://' || event_type || '.example' || CAST(user_id % 5 AS VARCHAR) || '.com:443'
              || '/items/' || CAST(user_id AS VARCHAR) || '/?a=1&b=2'
  WHEN 2 THEN 'https://www.' || event_type || '.example' || CAST(user_id % 5 AS VARCHAR) || '.com'
              || '/items/' || CAST(user_id AS VARCHAR) || '?b=2&a=1&utm_campaign=x'
  ELSE 'https://' || event_type || '.example' || CAST(user_id % 5 AS VARCHAR) || '.com'
              || '/items/' || CAST(user_id AS VARCHAR) || '?a=1&ref=home&b=2'
END"""

# DuckDB twin of functions/urls.py (regexp_replace is first-match in
# DuckDB; every pattern here is anchored, so first == only).
_SQL_CANON = rf"""
u AS (SELECT *, regexp_replace(raw_url, '#.*$', '') AS uf FROM raw),
x AS (SELECT *,
        lower(regexp_extract(uf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        regexp_replace(lower(regexp_extract(uf, '^[^:/?#]+://([^/?#]*)', 1)), '^www\.', '') AS host0,
        regexp_replace(regexp_extract(uf, '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
        array_to_string(list_sort(list_filter(
            string_split(regexp_extract(uf, '\?([^#]*)', 1), '&'),
            q -> q != '' AND NOT regexp_matches(q, '{TRACKING_PARAM_RE}'))), '&') AS qs
      FROM u),
canon AS (
  SELECT *,
         CASE WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
              WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
              ELSE host0 END AS host,
         scheme || '://'
           || (CASE WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
                    WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
                    ELSE host0 END)
           || path || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS canonical_url
  FROM x)"""


def _messy_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    root = F.concat(
        F.lit("example"), (F.col("user_id") % 5).cast("string"), F.lit(".com")
    )
    hostb = F.concat(F.col("event_type"), F.lit("."), root)
    uid = F.col("user_id").cast("string")
    m = (F.col("event_id") % 4).cast("int")
    raw = (
        F.when(
            m == 0,
            F.concat(
                F.lit("https://WWW."), F.upper(hostb), F.lit("/items/"), uid,
                F.lit("?utm_source=feed&b=2&a=1#top"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("https://"), hostb, F.lit(":443/items/"), uid,
                F.lit("/?a=1&b=2"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("https://www."), hostb, F.lit("/items/"), uid,
                F.lit("?b=2&a=1&utm_campaign=x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), hostb, F.lit("/items/"), uid,
                F.lit("?a=1&ref=home&b=2"),
            )
        )
    )
    return ev.select(F.col("event_id"), raw.alias("raw_url"))


@register(
    "url_canonical_dedup",
    f"""
WITH raw AS (SELECT event_id, {_SQL_RAW_URL} AS raw_url FROM events),
{_SQL_CANON}
SELECT canonical_url,
       COUNT(*) AS n_events,
       COUNT(DISTINCT raw_url) AS n_variants
FROM canon GROUP BY canonical_url
""",
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup after canonicalization: lowercase host, strip
    ``www.``/default port/fragment/trailing slash, drop tracking params,
    sort the survivors — then one hash groupBy on the canonical form.
    ``n_variants`` counts the distinct raw spellings each canonical URL
    collapsed (the dedup win the canonicalizer buys). All pure Column
    regex/array expressions (functions/urls.py) — no UDF, codegen-wide,
    single shuffle on the canonical key at any scale."""
    raw = _messy_urls(spark, sf_dir)
    return (
        raw.select("raw_url", canonicalize_url(F.col("raw_url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("raw_url").alias("n_variants"),
        )
    )


@register(
    "url_domain_rollup",
    f"""
WITH raw AS (SELECT event_id, {_SQL_RAW_URL} AS raw_url FROM events),
{_SQL_CANON}
SELECT regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
       COUNT(*) AS n_events,
       COUNT(DISTINCT host) AS n_hosts,
       COUNT(DISTINCT canonical_url) AS n_canonical,
       ROUND(COUNT(*) / CAST(COUNT(DISTINCT canonical_url) AS DOUBLE), 6) AS dup_factor
FROM canon GROUP BY domain
""",
)
def q_url_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level crawl accounting: registered-domain rollup of the
    canonical URL table — events, distinct hosts, distinct resources and
    the duplication factor per domain. The per-domain dup factor is the
    signal crawl schedulers and dedup-budget planners act on. One
    groupBy with two distinct aggregates (Expand plan, still a single
    shuffle); the registered-domain extraction is the same anchored
    regex on both engines."""
    raw = _messy_urls(spark, sf_dir)
    c = raw.select(
        F.col("raw_url"),
        url_host(F.col("raw_url")).alias("host"),
        canonicalize_url(F.col("raw_url")).alias("canonical_url"),
    )
    return (
        c.select(registered_domain(F.col("host")).alias("domain"), "host", "canonical_url")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("host").alias("n_hosts"),
            F.count_distinct("canonical_url").alias("n_canonical"),
            F.round(
                F.count(F.lit(1)) / F.count_distinct("canonical_url").cast("double"),
                6,
            ).alias("dup_factor"),
        )
    )


# --- DoReMi-style mixture reweighting ------------------------------------------

# Per-doc proxy loss: ln(1 + chars-per-token) — a deterministic stand-in
# for reference-model excess loss (longer tokens ~ harder text). Rounded
# to 9 then summed as DECIMAL so per-source averages are fold-order-free.
_SQL_DOC_LOSS = (
    f"CAST(ROUND(LN(1 + n_chars / (1.0 + len({_SQL_TOKS}))), 9) AS DECIMAL(28,12))"
)


def _doc_loss() -> F.Column:
    return F.round(
        F.log(F.lit(1) + F.col("n_chars") / (F.lit(1.0) + F.size(tokens("text")))),
        9,
    ).cast("decimal(28,12)")


@register(
    "doremi_domain_weights",
    f"""
WITH w AS (SELECT source, {_SQL_DOC_LOSS} AS loss FROM documents),
s AS (SELECT source, COUNT(*) AS n_docs, SUM(loss) AS loss_sum FROM w GROUP BY source),
g AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs, SUM(loss_sum) AS tot_loss,
             COUNT(*) AS n_src FROM s),
t AS (
  SELECT s.source, s.n_docs,
         ROUND(CAST(s.loss_sum AS DOUBLE) / s.n_docs, 6) AS avg_loss,
         ROUND(GREATEST(CAST(s.loss_sum AS DOUBLE) / s.n_docs
                          - CAST(g.tot_loss AS DOUBLE) / g.tot_docs, 0), 6) AS excess_loss,
         CAST(s.n_docs AS DOUBLE) / g.tot_docs AS raw_share,
         g.n_src AS n_src
  FROM s CROSS JOIN g),
u AS (SELECT *, CAST(ROUND(raw_share * EXP(excess_loss), 9) AS DECIMAL(28,12)) AS wr FROM t),
z AS (SELECT SUM(wr) AS wr_tot FROM u)
SELECT u.source, u.n_docs, u.avg_loss, u.excess_loss,
       ROUND(0.9 * CAST(u.wr AS DOUBLE) / CAST(z.wr_tot AS DOUBLE) + 0.1 / u.n_src, 6)
         AS doremi_weight
FROM u CROSS JOIN z
""",
)
def q_doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023) next to the
    ``temperature_mix`` sampler: domains whose average (proxy) loss
    exceeds the corpus average get exponentially upweighted
    (w ∝ raw_share · exp(excess_loss), eta = 1), then smoothed with a
    uniform floor (0.9·w + 0.1/K) — the paper's minimax-update shape
    with a deterministic loss stand-in, since the engine has no
    reference model. Plan: one groupBy to per-source sums; the three
    normalizers (total docs, total loss, weight mass) each arrive as a
    broadcast 1-row aggregate — the scalar-broadcast pattern, no
    unpartitioned windows."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    w = d.select("source", _doc_loss().alias("loss"))
    # source-count rows, 2 consumers (normalizer agg + weight table) —
    # each re-ran the per-doc loss pass before.
    s = w.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("loss").alias("loss_sum")
    ).localCheckpoint(eager=True)
    g = s.agg(
        F.sum("n_docs").alias("tot_docs"),
        F.sum("loss_sum").alias("tot_loss"),
        F.count(F.lit(1)).alias("n_src"),
    )
    avg_loss = F.col("loss_sum").cast("double") / F.col("n_docs")
    excess = F.round(
        F.greatest(
            avg_loss - F.col("tot_loss").cast("double") / F.col("tot_docs"), F.lit(0.0)
        ),
        6,
    )
    raw_share = F.col("n_docs").cast("double") / F.col("tot_docs")
    t = s.join(F.broadcast(g)).select(
        "source",
        "n_docs",
        F.round(avg_loss, 6).alias("avg_loss"),
        excess.alias("excess_loss"),
        raw_share.alias("raw_share"),
        "n_src",
    )
    u = t.withColumn(
        "wr",
        F.round(F.col("raw_share") * F.exp(F.col("excess_loss")), 9).cast(
            "decimal(28,12)"
        ),
    )
    z = u.agg(F.sum("wr").alias("wr_tot"))
    return u.join(F.broadcast(z)).select(
        "source",
        "n_docs",
        "avg_loss",
        "excess_loss",
        F.round(
            F.lit(0.9) * F.col("wr").cast("double") / F.col("wr_tot").cast("double")
            + F.lit(0.1) / F.col("n_src"),
            6,
        ).alias("doremi_weight"),
    )


# --- unigram-LM tokenizer (SentencePiece-style seed + prune) -------------------

_VOCAB_TOP = 50


def _top_pieces(spark: SparkSession, sf_dir: str):
    """(token-freq table, top-N piece table) shared by the vocab pair."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    # Vocabulary-sized; consumed by the piece explode AND (in the prune
    # query) the character histogram — materialize so the corpus
    # tokenize+explode+groupBy runs once per query, not per consumer.
    tf = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)
    )
    pieces = (
        tf.select(
            "tok", "freq", F.explode(F.sequence(F.lit(2), F.lit(6))).alias("l")
        )
        .filter(F.length("tok") >= F.col("l"))
        .select(
            "freq",
            F.explode(
                F.sequence(F.lit(1), F.length("tok") - F.col("l") + 1)
            ).alias("i"),
            "tok",
            "l",
        )
        .select(F.col("tok").substr(F.col("i"), F.col("l")).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("piece_freq"))
    )
    top = (
        pieces.select(
            "piece",
            "piece_freq",
            (F.col("piece_freq") * F.length("piece")).alias("score"),
        )
        .orderBy(F.desc("score"), "piece")
        .limit(_VOCAB_TOP)
        .localCheckpoint(eager=True)  # top-N rows, >= 2 consumers per query
    )
    return tf, top


_SQL_VOCAB_CTES = f"""tok AS (SELECT unnest({_SQL_TOKS}) AS tok FROM documents),
tf AS (SELECT tok, COUNT(*) AS freq FROM tok GROUP BY tok),
p AS (
  SELECT substr(tok, s.i, l.l) AS piece, CAST(SUM(freq) AS BIGINT) AS piece_freq
  FROM tf,
       LATERAL unnest(generate_series(2, 6)) AS l(l),
       LATERAL unnest(generate_series(1, length(tok) - l.l + 1)) AS s(i)
  WHERE length(tok) >= l.l
  GROUP BY 1),
top AS (
  SELECT piece, piece_freq, CAST(piece_freq * length(piece) AS BIGINT) AS score
  FROM p ORDER BY score DESC, piece LIMIT {_VOCAB_TOP})"""


@register(
    "unigram_lm_vocab",
    f"""
WITH {_SQL_VOCAB_CTES},
tot AS (SELECT CAST(SUM(piece_freq) AS BIGINT) AS t FROM top)
SELECT piece, piece_freq, score,
       ROUND(LN(CAST(piece_freq AS DOUBLE) / CAST(t AS DOUBLE)), 6) AS logprob
FROM top CROSS JOIN tot
""",
)
def q_unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer seed vocabulary (SentencePiece / Kudo 2018):
    every in-token substring of length 2-6 scored by frequency x length
    (the suffix-array seed heuristic), top-50 kept with their unigram
    log-probabilities over the selected set — the sibling of the BPE
    trio, EM-side. Plan: one shuffle to distinct-token frequencies
    (tokens repeat heavily, so the substring explode runs over the
    DISTINCT token table, not the corpus), map-side substring explode,
    one shuffle to piece counts, TakeOrderedAndProject for the top-N,
    normalizer broadcast back."""
    _, top = _top_pieces(spark, sf_dir)
    tot = top.agg(F.sum("piece_freq").alias("t"))
    return top.join(F.broadcast(tot)).select(
        "piece",
        "piece_freq",
        "score",
        F.round(
            F.log(F.col("piece_freq").cast("double") / F.col("t").cast("double")), 6
        ).alias("logprob"),
    )


@register(
    "unigram_prune_scores",
    f"""
WITH {_SQL_VOCAB_CTES},
tot AS (SELECT CAST(SUM(piece_freq) AS BIGINT) AS t FROM top),
ch AS (
  SELECT substr(tok, s.i, 1) AS c, CAST(SUM(freq) AS BIGINT) AS cf
  FROM tf, LATERAL unnest(generate_series(1, length(tok))) AS s(i)
  GROUP BY 1),
ctot AS (SELECT CAST(SUM(cf) AS BIGINT) AS ct FROM ch),
pch AS (
  SELECT t.piece, substr(t.piece, s.i, 1) AS c
  FROM top t, LATERAL unnest(generate_series(1, length(t.piece))) AS s(i)),
pc AS (
  SELECT pch.piece,
         SUM(CAST(ROUND(LN(CAST(ch.cf AS DOUBLE) / CAST(ctot.ct AS DOUBLE)), 9)
                  AS DECIMAL(28,12))) AS char_lp
  FROM pch JOIN ch ON ch.c = pch.c CROSS JOIN ctot
  GROUP BY pch.piece)
SELECT piece, piece_freq,
       ROUND(LN(CAST(piece_freq AS DOUBLE) / CAST(t AS DOUBLE)), 6) AS logp_piece,
       ROUND(CAST(char_lp AS DOUBLE), 6) AS char_logp_sum,
       ROUND(piece_freq * (ROUND(LN(CAST(piece_freq AS DOUBLE) / CAST(t AS DOUBLE)), 6)
                             - ROUND(CAST(char_lp AS DOUBLE), 6)), 6) AS keep_value
FROM top JOIN pc USING (piece) CROSS JOIN tot
ORDER BY keep_value DESC, piece LIMIT 20
""",
)
def q_unigram_prune_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram-LM PRUNE step: each candidate piece's keep-value =
    freq x (logP(piece) - sum of logP of its characters) — the loss the
    corpus would pay if the piece were dropped and respelled from
    single-character pieces (SentencePiece's vocabulary-shrink
    criterion, one EM round). Character log-probs come from the corpus
    character distribution; the per-piece char sum folds rounded
    DECIMAL terms so both engines agree bit-for-bit. Top-20 keep-values
    returned. Plan: reuses the seed-vocab chain plus one character
    histogram (tiny, broadcast both ways)."""
    tf, top = _top_pieces(spark, sf_dir)
    tot = top.agg(F.sum("piece_freq").alias("t"))
    ch = (
        tf.select(
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("tok"))).alias("i"),
            "tok",
        )
        .select(F.col("tok").substr(F.col("i"), F.lit(1)).alias("c"), "freq")
        .groupBy("c")
        .agg(F.sum("freq").alias("cf"))
    )
    ctot = ch.agg(F.sum("cf").alias("ct"))
    pch = top.select(
        "piece", F.explode(F.sequence(F.lit(1), F.length("piece"))).alias("i")
    ).select("piece", F.col("piece").substr(F.col("i"), F.lit(1)).alias("c"))
    char_lp_term = F.round(
        F.log(F.col("cf").cast("double") / F.col("ct").cast("double")), 9
    ).cast("decimal(28,12)")
    pc = (
        pch.join(F.broadcast(ch), "c")
        .join(F.broadcast(ctot))
        .groupBy("piece")
        .agg(F.sum(char_lp_term).alias("char_lp"))
    )
    logp_piece = F.round(
        F.log(F.col("piece_freq").cast("double") / F.col("t").cast("double")), 6
    )
    char_sum = F.round(F.col("char_lp").cast("double"), 6)
    return (
        top.join(pc, "piece")
        .join(F.broadcast(tot))
        .select(
            "piece",
            "piece_freq",
            logp_piece.alias("logp_piece"),
            char_sum.alias("char_logp_sum"),
            F.round(F.col("piece_freq") * (logp_piece - char_sum), 6).alias(
                "keep_value"
            ),
        )
        .orderBy(F.desc("keep_value"), "piece")
        .limit(20)
    )


# --- ANN quantization recall eval ----------------------------------------------

_RECALL_TAIL = """q AS (
  SELECT sub, sdim, xu AS qxu FROM du WHERE vec_id = 0),
lut AS (
  SELECT c.sub, c.cid, SUM((q.qxu - c.cu) * (q.qxu - c.cu)) AS d2
  FROM c2 c JOIN q ON c.sub = q.sub AND c.sdim = q.sdim
  GROUP BY c.sub, c.cid),
score AS (
  SELECT a.vec_id, SUM(l.d2) AS adc_d2u
  FROM a3 a JOIN lut l ON a.sub = l.sub AND a.code = l.cid
  WHERE a.vec_id != 0
  GROUP BY a.vec_id),
exact AS (
  SELECT d.vec_id, SUM((d.xu - q.qxu) * (d.xu - q.qxu)) AS d2
  FROM du d JOIN q ON d.sub = q.sub AND d.sdim = q.sdim
  WHERE d.vec_id != 0
  GROUP BY d.vec_id),
er AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY d2, vec_id) AS rank_e FROM exact),
ar AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc_d2u, vec_id) AS rank_a FROM score),
h AS (
  SELECT e.vec_id, e.rank_e, a.rank_a
  FROM er e JOIN ar a USING (vec_id)
  WHERE e.rank_e <= 20 AND a.rank_a <= 20),
ks(k) AS (VALUES (5), (10), (20))
SELECT ks.k, COUNT(h.vec_id) AS n_hits,
       ROUND(COUNT(h.vec_id) / CAST(ks.k AS DOUBLE), 6) AS recall
FROM ks LEFT JOIN h ON h.rank_e <= ks.k AND h.rank_a <= ks.k
GROUP BY ks.k"""


def _pq_recall_oracle() -> str:
    from taxi_data_datapipeline_spark.queries_data import _pq_oracle

    return _pq_oracle(tail=", " + _RECALL_TAIL)


@register("pq_recall_at_k", _pq_recall_oracle())
def q_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ-ADC index against exact fixed-point L2 ground
    truth — the eval that decides whether a quantized ANN index is good
    enough to replace the brute-force scan (pairs ``pq_adc_topk`` with
    the exact ranking the way ``embedding_topk`` anchors the LSH tier).
    All arithmetic stays in the PQ chain's BIGINT fixed-point units, so
    recall is value-hash exact across engines. The two rankings are
    20-row frames (TakeOrderedAndProject); the row_number windows run on
    those bounded frames, never on the full corpus; the k-sweep is a
    3-row broadcast nested-loop join."""
    du, cb, assign = _pq_train_encode(spark, sf_dir)
    q = du.filter(F.col("vec_id") == 0).select(
        "sub", "sdim", F.col("xu").alias("qxu")
    )
    lut = (
        cb.join(F.broadcast(q), ["sub", "sdim"])
        .groupBy(F.col("sub").alias("lut_sub"), F.col("cid").alias("lut_cid"))
        .agg(
            F.sum((F.col("qxu") - F.col("cu")) * (F.col("qxu") - F.col("cu")))
            .cast("long")
            .alias("lut_d2")
        )
    )
    adc = (
        assign.filter(F.col("vec_id") != 0)
        .join(
            F.broadcast(lut),
            (assign["sub"] == lut["lut_sub"]) & (assign["code"] == lut["lut_cid"]),
        )
        .groupBy("vec_id")
        .agg(F.sum("lut_d2").cast("bigint").alias("adc_d2u"))
        .orderBy("adc_d2u", "vec_id")
        .limit(20)
    )
    exact = (
        du.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), ["sub", "sdim"])
        .groupBy("vec_id")
        .agg(
            F.sum((F.col("xu") - F.col("qxu")) * (F.col("xu") - F.col("qxu")))
            .cast("long")
            .alias("d2")
        )
        .orderBy("d2", "vec_id")
        .limit(20)
    )
    # row_number over the 20-row top-k frames — bounded by construction.
    er = exact.withColumn(
        "rank_e", F.row_number().over(Window.orderBy("d2", "vec_id"))
    ).select("vec_id", "rank_e")
    ar = adc.withColumn(
        "rank_a", F.row_number().over(Window.orderBy("adc_d2u", "vec_id"))
    ).select("vec_id", "rank_a")
    hits = er.join(ar, "vec_id")
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(5), F.lit(10), F.lit(20))).alias("k")
    )
    return (
        ks.join(
            hits,
            (hits["rank_e"] <= ks["k"]) & (hits["rank_a"] <= ks["k"]),
            "left",
        )
        .groupBy("k")
        .agg(F.count("vec_id").alias("n_hits"))
        .select(
            "k",
            "n_hits",
            F.round(F.col("n_hits") / F.col("k").cast("double"), 6).alias("recall"),
        )
    )


# --- boilerplate detection ------------------------------------------------------


@register(
    "boilerplate_phrases",
    f"""
WITH n AS (SELECT COUNT(*) AS nd FROM documents),
g AS (SELECT doc_id, unnest({_SQL_GRAMS}) AS phrase FROM documents),
df AS (SELECT phrase, COUNT(*) AS df FROM g GROUP BY phrase)
SELECT phrase, df, ROUND(CAST(df AS DOUBLE) / nd, 6) AS df_frac
FROM df CROSS JOIN n
ORDER BY df DESC, phrase LIMIT 100
""",
)
def q_boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate phrase detection: the 100 highest-document-frequency
    word 3-grams — the template/navigation text a C4-style cleaner
    strips before training. Top-k rather than a df-fraction threshold
    because the df distribution's tail moves with corpus size (a fixed
    1% cut returns zero rows at 10x the docs) — a report that silently
    empties at scale is a broken report. Shingles are distinct per
    document (``ngram_shingles``), so a plain COUNT is the document
    frequency — no distinct aggregate needed. One explode + one groupBy
    with map-side partials; the top-100 plans as
    TakeOrderedAndProject; the corpus size broadcasts as a 1-row
    aggregate."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    n = d.agg(F.count(F.lit(1)).alias("nd"))
    df = (
        d.select(F.explode(ngram_shingles("text", 3)).alias("phrase"))
        .groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        df.join(F.broadcast(n))
        .select(
            "phrase",
            "df",
            F.round(F.col("df").cast("double") / F.col("nd"), 6).alias("df_frac"),
        )
        .orderBy(F.desc("df"), "phrase")
        .limit(100)
    )


# --- quality tercile partitioning ------------------------------------------------


@register(
    "quality_tercile_split",
    f"""
WITH w AS (
  SELECT lang, CAST({_SQL_DOC_LOSS} AS DOUBLE) AS loss FROM documents),
th AS (
  SELECT lang, ROUND(quantile_cont(loss, 1.0/3), 9) AS t1,
         ROUND(quantile_cont(loss, 2.0/3), 9) AS t2
  FROM w GROUP BY lang),
c AS (
  SELECT w.lang,
         CASE WHEN loss <= t1 THEN 1 WHEN loss <= t2 THEN 2 ELSE 3 END AS tercile,
         loss
  FROM w JOIN th USING (lang))
SELECT lang, tercile, COUNT(*) AS n_docs,
       ROUND(CAST(SUM(CAST(ROUND(loss, 9) AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*), 6) AS avg_loss
FROM c GROUP BY lang, tercile
""",
)
def q_quality_tercile_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality partitioning: per-language head/middle/tail
    terciles of the proxy-loss distribution (Wenzek et al. 2020 bucket
    documents by LM perplexity exactly this way). Exact interpolated
    percentiles give the oracle-parity thresholds; at 100 TB the
    one-line swap is approx_percentile (the thresholds join is identical
    — a broadcast of one row per language either way). Classification is
    a broadcast join + CASE; the final rollup folds rounded DECIMAL
    terms per (lang, tercile)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    w = d.select("lang", _doc_loss().cast("double").alias("loss"))
    # Thresholds round to the loss grid (9 decimals): DuckDB's
    # quantile_cont computes lo*(1-f)+hi*f, which carries last-ulp dust
    # even between two EQUAL neighbors, while Spark's percentile returns
    # the exact value — an unrounded threshold flips boundary docs.
    th = w.groupBy("lang").agg(
        F.round(F.percentile("loss", F.lit(1.0 / 3)), 9).alias("t1"),
        F.round(F.percentile("loss", F.lit(2.0 / 3)), 9).alias("t2"),
    )
    c = w.join(F.broadcast(th), "lang").select(
        "lang",
        F.when(F.col("loss") <= F.col("t1"), F.lit(1))
        .when(F.col("loss") <= F.col("t2"), F.lit(2))
        .otherwise(F.lit(3))
        .alias("tercile"),
        "loss",
    )
    return c.groupBy("lang", "tercile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.round(F.col("loss"), 9).cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_loss"),
    )


# --- embedding-quality evals (batch 2) -----------------------------------------

# Fixed-point embedding units (2^-20), the PQ chain's discipline: exact
# BIGINT arithmetic end-to-end makes every similarity value-hash exact.
_SQL_EMB_UNITS = """
xu AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(FLOOR(x * 1048576) AS BIGINT)) AS v
  FROM embeddings),
eu AS (
  SELECT vec_id, label, i.i - 1 AS pos, v[i.i] AS x
  FROM xu, LATERAL unnest(generate_series(1, len(v))) AS i(i))"""


def _emb_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    return e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("pos", "x"),
    ).select(
        "vec_id", "label", "pos",
        F.floor(F.col("x").cast("double") * F.lit(1048576.0)).alias("x"),
    )


@register(
    "mrl_dim_recall",
    f"""
WITH {_SQL_EMB_UNITS},
q AS (SELECT pos, x AS qx FROM eu WHERE vec_id = 0),
dims(d) AS (VALUES (8), (16), (32), (64)),
dist AS (
  SELECT dims.d, eu.vec_id,
         SUM((eu.x - q.qx) * (eu.x - q.qx)) AS d2
  FROM eu JOIN q ON eu.pos = q.pos CROSS JOIN dims
  WHERE eu.vec_id != 0 AND eu.pos < dims.d
  GROUP BY dims.d, eu.vec_id),
rk AS (
  SELECT d, vec_id,
         ROW_NUMBER() OVER (PARTITION BY d ORDER BY d2, vec_id) AS rank
  FROM dist),
truth AS (SELECT vec_id FROM rk WHERE d = 64 AND rank <= 10)
SELECT rk.d AS trunc_dim,
       COUNT(truth.vec_id) AS n_hits,
       ROUND(COUNT(truth.vec_id) / 10.0, 6) AS recall
FROM rk LEFT JOIN truth ON rk.vec_id = truth.vec_id
WHERE rk.rank <= 10
GROUP BY rk.d
""",
)
def q_mrl_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation eval (Kusupati et al. 2022): recall@10 of
    nearest-neighbor search run on the first {8,16,32,64} dimensions
    against the full-dimension ground truth — the table that decides how
    far an MRL embedding can be truncated before the ANN index lies. All
    distances are exact BIGINT fixed-point partial sums over the SAME
    exploded unit table (one scan, the prefix-dim filter reuses it per
    d), so recall is value-hash exact. Ranks come from per-d windows over
    the candidate set; at 100 TB each d-ranking is a TakeOrdered top-k,
    not a global sort."""
    from pyspark.sql import Window

    eu = _emb_units(spark, sf_dir)
    q = eu.filter(F.col("vec_id") == 0).select("pos", F.col("x").alias("qx"))
    dims = spark.range(1).select(
        F.explode(F.array(*[F.lit(d) for d in (8, 16, 32, 64)])).alias("d")
    )
    dist = (
        eu.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), "pos")
        .join(F.broadcast(dims), F.col("pos") < F.col("d"))
        .groupBy("d", "vec_id")
        .agg(F.sum((F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx"))).alias("d2"))
    )
    w = Window.partitionBy("d").orderBy("d2", "vec_id")
    rk = dist.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)
    truth = rk.filter(F.col("d") == 64).select(F.col("vec_id").alias("t_id"))
    return (
        rk.join(F.broadcast(truth), rk["vec_id"] == truth["t_id"], "left")
        .groupBy(F.col("d").alias("trunc_dim"))
        .agg(F.count("t_id").alias("n_hits"))
        .select(
            "trunc_dim",
            "n_hits",
            F.round(F.col("n_hits") / F.lit(10.0), 6).alias("recall"),
        )
    )


@register(
    "hard_negative_mining",
    f"""
WITH {_SQL_EMB_UNITS},
nrm AS (SELECT vec_id, SUM(x * x) AS n2 FROM eu GROUP BY vec_id),
anch AS (SELECT vec_id, label, pos, x FROM eu WHERE vec_id < 5),
dots AS (
  SELECT a.vec_id AS anchor_id, e.vec_id AS cand_id,
         MAX(a.label) AS a_label, MAX(e.label) AS c_label,
         SUM(a.x * e.x) AS dp
  FROM anch a JOIN eu e ON a.pos = e.pos AND a.vec_id != e.vec_id
  GROUP BY a.vec_id, e.vec_id),
sims AS (
  SELECT anchor_id, cand_id, (a_label = c_label) AS same,
         ROUND(dp / (SQRT(na.n2) * SQRT(nc.n2)), 6) AS sim
  FROM dots JOIN nrm na ON na.vec_id = dots.anchor_id
            JOIN nrm nc ON nc.vec_id = dots.cand_id),
best AS (
  SELECT anchor_id, cand_id, same, sim,
         ROW_NUMBER() OVER (PARTITION BY anchor_id, same
                            ORDER BY sim DESC, cand_id) AS rn
  FROM sims)
SELECT p.anchor_id,
       p.cand_id AS pos_id, p.sim AS pos_sim,
       n.cand_id AS neg_id, n.sim AS neg_sim,
       ROUND(p.sim - n.sim, 6) AS margin
FROM best p JOIN best n ON p.anchor_id = n.anchor_id
WHERE p.same AND NOT n.same AND p.rn = 1 AND n.rn = 1
""",
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (vec_id < 5), the most-similar SAME-label vector (the positive) and
    the most-similar DIFFERENT-label vector (the hard negative), with
    the triplet margin — negative margins are exactly the anchors whose
    nearest neighbor lies across the class boundary, the samples a
    contrastive curriculum wants first. Cosines are exact-BIGINT dot
    products over the shared unit table divided by sqrt of exact
    norms (one rounded double per pair). The anchor set broadcasts;
    scoring is one shuffle keyed by (anchor, candidate); the per-anchor
    argmax windows partition on (anchor, same-label) — bounded by the
    candidate count, and at scale the anchors fan out as independent
    TakeOrdered top-1s."""
    from pyspark.sql import Window

    eu = _emb_units(spark, sf_dir)
    nrm = eu.groupBy("vec_id").agg(F.sum(F.col("x") * F.col("x")).alias("n2"))
    anch = eu.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("pos").alias("apos"),
        F.col("x").alias("ax"),
    )
    dots = (
        eu.join(F.broadcast(anch), (F.col("pos") == anch["apos"]) & (F.col("vec_id") != anch["anchor_id"]))
        .groupBy("anchor_id", F.col("vec_id").alias("cand_id"))
        .agg(
            F.max("a_label").alias("a_label"),
            F.max("label").alias("c_label"),
            F.sum(F.col("ax") * F.col("x")).alias("dp"),
        )
    )
    na = nrm.select(F.col("vec_id").alias("anchor_id"), F.col("n2").alias("na2"))
    nc = nrm.select(F.col("vec_id").alias("cand_id"), F.col("n2").alias("nc2"))
    sims = (
        dots.join(F.broadcast(na), "anchor_id")
        .join(nc.hint("shuffle_hash"), "cand_id")
        .select(
            "anchor_id",
            "cand_id",
            (F.col("a_label") == F.col("c_label")).alias("same"),
            F.round(
                F.col("dp") / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nc2"))), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("anchor_id", "same").orderBy(
        F.desc("sim"), "cand_id"
    )
    best = sims.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    p = best.filter(F.col("same")).select(
        "anchor_id", F.col("cand_id").alias("pos_id"), F.col("sim").alias("pos_sim")
    )
    n = best.filter(~F.col("same")).select(
        "anchor_id", F.col("cand_id").alias("neg_id"), F.col("sim").alias("neg_sim")
    )
    return p.join(n, "anchor_id").select(
        "anchor_id",
        "pos_id",
        "pos_sim",
        "neg_id",
        "neg_sim",
        F.round(F.col("pos_sim") - F.col("neg_sim"), 6).alias("margin"),
    )


# --- text readability + class balance (batch 2) --------------------------------


@register(
    "readability_scores",
    f"""
WITH w AS (
  SELECT source,
         len({_SQL_TOKS}) AS n_words,
         1 + len(regexp_extract_all(text, '[.!?]+')) AS n_sents,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
  FROM documents),
t AS (
  SELECT source, n_words,
         CAST(ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                     - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 9)
              AS DECIMAL(28,12)) AS flesch,
         CAST(ROUND(CAST(n_syll AS DOUBLE) / n_words, 9)
              AS DECIMAL(28,12)) AS spw
  FROM w WHERE n_words > 0)
SELECT source, COUNT(*) AS n_docs,
       ROUND(CAST(SUM(flesch) AS DOUBLE) / COUNT(*), 6) AS avg_flesch,
       ROUND(CAST(SUM(spw) AS DOUBLE) / COUNT(*), 6) AS avg_syllables_per_word
FROM t GROUP BY source
""",
)
def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per source — the classic text-quality
    feature (vowel-group runs as the syllable proxy, sentence count from
    terminal punctuation with a floor of 1). Whole pipeline is regexp
    counts + one arithmetic expression per doc (map-side, codegen), one
    shuffle to per-source DECIMAL-folded averages."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    n_words = F.size(tokens("text"))
    n_sents = F.lit(1) + F.regexp_count(F.col("text"), F.lit(r"[.!?]+"))
    n_syll = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sents)
        - F.lit(84.6) * (n_syll.cast("double") / n_words),
        9,
    ).cast("decimal(28,12)")
    spw = F.round(n_syll.cast("double") / n_words, 9).cast("decimal(28,12)")
    return (
        d.filter(n_words > 0)
        .select("source", flesch.alias("flesch"), spw.alias("spw"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("flesch").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_flesch"
            ),
            F.round(F.sum("spw").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_syllables_per_word"
            ),
        )
    )


@register(
    "class_balanced_weights",
    """
WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
e AS (
  SELECT label, n,
         ROUND((1 - POWER(0.999, n)) / (1 - 0.999), 6) AS effective_n,
         CAST(ROUND((1 - 0.999) / (1 - POWER(0.999, n)), 9)
              AS DECIMAL(28,12)) AS wr
  FROM c),
z AS (SELECT SUM(wr) AS wr_tot, COUNT(*) AS k FROM e)
SELECT e.label, e.n, e.effective_n,
       ROUND(CAST(e.wr AS DOUBLE) / CAST(z.wr_tot AS DOUBLE) * z.k, 6) AS weight
FROM e CROSS JOIN z
""",
)
def q_class_balanced_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced loss weights (Cui et al. CVPR'19): per-class weight
    proportional to 1/E_n where E_n = (1 - beta^n)/(1 - beta) is the
    effective number of samples (beta = 0.999) — the re-weighting a
    long-tailed label distribution needs before training. Normalized so
    the weights average to 1 across classes. One groupBy to class
    counts; the normalizer is a broadcast 1-row aggregate; beta^n is a
    rounded transcendental, per convention."""
    e = load(spark, sf_dir, "embeddings")
    c = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    beta = F.lit(0.999)
    eff = F.round((F.lit(1.0) - F.pow(beta, F.col("n"))) / (F.lit(1.0) - beta), 6)
    wr = F.round(
        (F.lit(1.0) - beta) / (F.lit(1.0) - F.pow(beta, F.col("n"))), 9
    ).cast("decimal(28,12)")
    t = c.select("label", "n", eff.alias("effective_n"), wr.alias("wr"))
    z = t.agg(F.sum("wr").alias("wr_tot"), F.count(F.lit(1)).alias("k"))
    return t.join(F.broadcast(z)).select(
        "label",
        "n",
        "effective_n",
        F.round(
            F.col("wr").cast("double") / F.col("wr_tot").cast("double") * F.col("k"),
            6,
        ).alias("weight"),
    )
