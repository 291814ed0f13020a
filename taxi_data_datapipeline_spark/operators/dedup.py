"""Deduplication operators for document corpora.

Four tiers, each a pure DataFrame plan:

* **exact**: md5-of-normalized-text grouping — one shuffle on the hash.
* **MinHash + LSH banding**: shingle -> P minhash values -> B band keys ->
  bucket self-pairing -> exact-Jaccard verification of candidates only.
  The scale path: cost is O(corpus) + O(candidate pairs), never O(n^2).
* **SimHash**: 64-bit sign-of-weighted-bit-sums fingerprint; near-dups =
  small Hamming distance, candidates from pigeonhole blocks
  (``hamming_pairs``, the one Hamming self-join, which the perceptual
  image hashes share).
* **blocked exact Jaccard**: O(block^2) pairwise verification inside cheap
  blocking keys — the oracle-checkable ground truth for the tiers above.

Everything is built from Spark array/hash expressions (xxhash64, transform,
aggregate) — no Python UDFs anywhere, so the whole feature extraction stays
in whole-stage codegen. The MinHash/LSH tier is written as SQL text
(``lsh_buckets``, ``jaccard_sql``), which the JVM parses once per
projection instead of one Py4J round trip per ``Column`` call.

Materialization rule: only answer-sized and candidate-sized frames are
materialized (eager ``localCheckpoint``, whose block cleanup is
reference-tracked); corpus-sized frames (shingle arrays, exploded gram
rows) stream through their consumers uncached. Caching the corpus-wide
gram arrays (about 3 KB per document deserialized) hit a GC cliff between
1.6 M and 3.2 M documents. ``verify_pairs`` owns candidate verification:
the candidate-then-verify joins (MinHash LSH, prefix filter, containment,
sorted neighborhood) hand it their candidate pairs, and it re-shingles and
materializes only the documents they name. ``hamming_pairs`` materializes
its signature table (one long per document) once, for both self-join
sides.

Algorithms are the standard public constructions: MinHash resemblance
sketches (Broder, "On the resemblance and containment of documents",
SEQUENCES 1997), banding-based LSH candidate generation (Leskovec/
Rajaraman/Ullman, Mining of Massive Datasets ch. 3), and SimHash rounding
(Charikar, "Similarity estimation techniques from rounding algorithms",
STOC 2002).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.functions.text import (
    fingerprint,
    ngram_shingles,
    shingles_sql,
)
from taxi_data_datapipeline_spark.operators.pivot import sql_ident


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalized: bool = True
) -> DataFrame:
    """Exact duplicate groups: fingerprint -> (representative id, n_copies).

    Representative = min id (deterministic). One shuffle on the 128-bit
    fingerprint — uniform keys, no skew at any corpus size.
    """
    fp = fingerprint(F.col(text_col)) if normalized else F.md5(F.col(text_col))
    return (
        df.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _minhash_sql(grams: str, num_perm: int, per_row: bool = True) -> list[str]:
    """SQL text of ``num_perm`` minhash values over the shingles ``grams``.

    Permutation i is xxhash64(shingle, i) — a seeded 64-bit hash per
    shingle (i is an INT literal, the same as ``F.lit(i)``); the min over
    shingles approximates a random permutation's first element (standard
    MinHash construction). ``per_row``: ``grams`` is a row's shingle array
    and each value one array_min; otherwise ``grams`` holds one shingle per
    row and each value is a ``min`` aggregate over a group of rows.
    """
    if per_row:
        form = "array_min(transform({}, g -> xxhash64(g, {})))"
    else:
        form = "min(xxhash64({}, {}))"
    return [form.format(grams, i) for i in range(num_perm)]


def lsh_buckets(
    df: DataFrame,
    keys: list[str],
    grams: str,
    num_perm: int = 32,
    bands: int = 8,
    per_row: bool = True,
) -> DataFrame:
    """(band, bh, *keys): one LSH bucket row per band of each key's MinHash
    signature, written as SQL text (the JVM parses each projection once).

    Signature value m_i is ``_minhash_sql`` over column ``grams``: per row
    (a shingle array beside ``keys``) or aggregated per ``keys`` over an
    exploded shingle column. Band b's key bh is xxhash64 over its
    ``num_perm // bands`` consecutive values.
    """
    rows = num_perm // bands
    mins = _minhash_sql(sql_ident(grams), num_perm, per_row)
    mins = [f"{m} AS m{i}" for i, m in enumerate(mins)]
    sig = (
        df.selectExpr(*map(sql_ident, keys), *mins)
        if per_row
        else df.groupBy(*keys).agg(*map(F.expr, mins))
    )
    band_keys = ", ".join(
        f"named_struct('band', {b}, 'bh', xxhash64("
        + ", ".join(f"m{b * rows + r}" for r in range(rows))
        + "))"
        for b in range(bands)
    )
    return sig.selectExpr(f"inline(array({band_keys}))", *map(sql_ident, keys))


def minhash_signature(column: str, num_perm: int = 32, ngram: int = 3) -> Column:
    """Array of ``num_perm`` minhash values over distinct word n-grams."""
    mins = _minhash_sql(shingles_sql(column, ngram), num_perm)
    return F.expr(f"array({', '.join(mins)})")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    ngram: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_fanout: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH banding + exact verification.

    Plan shape (scale analysis in module doc):
      1. signature: map-only, codegen'd array math over each document;
      2. explode to (band_id, band_hash) -> groupBy bucket: one shuffle of
         B rows per doc (B small);
      3. buckets with >1 doc emit candidate pairs (combinations inside the
         collected bucket — buckets are tiny by construction; a hot bucket
         means near-identical docs, which ARE the answer);
      4. exact Jaccard on candidates only, via a join back to shingle sets.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.

    ``max_bucket_fanout`` is the hot-bucket (skew) guard for corpus scale:
    a bucket of k near-identical documents (boilerplate pages, license
    headers) otherwise emits k(k-1)/2 pairs — one 10M-doc template cluster
    would emit 5*10^13 pairs from a single reduce task. With a fanout cap
    F, each member pairs only with the F lowest-id members, bounding the
    bucket to O(k*F) edges. Buckets with k <= F are untouched (the cap
    degenerates to the full pair set), so small-bucket semantics — the
    design point of LSH banding — are exact; mega-clusters stay connected
    through their low-id representatives, which is what downstream
    connected-components grouping needs. None = no cap (exact everywhere).
    """
    # Explode-then-aggregate minhash: the num_perm seeded mins run as
    # codegen'd hash-aggregate columns with map-side partial aggregation —
    # vs. num_perm interpreted array traversals (each re-deriving the
    # shingle array) in the naive array_min(transform(...)) formulation.
    exploded = df.selectExpr(
        f"{sql_ident(id_col)} AS _id", f"explode({shingles_sql(text_col, ngram)}) AS gram"
    )
    buckets = lsh_buckets(exploded, ["_id"], "gram", num_perm, bands, per_row=False)
    pairs = (
        _pairs_sql("ids")
        if max_bucket_fanout is None
        else _capped_pairs_sql("ids", max_bucket_fanout)
    )
    # Candidates are bounded by banding collisions + the fanout cap.
    cands = (
        buckets.groupBy("band", "bh")
        .agg(F.collect_set("_id").alias("ids"))
        .filter("size(ids) > 1")
        .selectExpr(f"inline({pairs}) AS (doc_a, doc_b)")
        .distinct()
        .localCheckpoint(eager=True)
    )
    return verify_pairs(df, cands, "jaccard", jaccard_threshold, id_col, text_col, ngram)


def jaccard_sql(a: str, b: str) -> str:
    """SQL text of the exact Jaccard of two distinct-shingle array columns,
    rounded to 6 digits for cross-engine parity."""
    return (
        f"round(CAST(size(array_intersect({a}, {b})) AS DOUBLE)"
        f" / size(array_union({a}, {b})), 6)"
    )


def containment_sql(a: str, b: str) -> str:
    """SQL text of the containment of distinct-shingle array ``a`` in
    ``b`` (|a ∩ b| / |a|, directional), rounded to 6 digits."""
    return f"round(CAST(size(array_intersect({a}, {b})) AS DOUBLE) / size({a}), 6)"


def verify_pairs(
    docs: DataFrame,
    cands: DataFrame,
    measure: str,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
) -> DataFrame:
    """Exact verification of candidate pairs: the shared tail of every
    similarity join.

    ``cands``' first two columns name the pair (a, b); any further
    columns ride along. Only the documents a candidate names are
    re-shingled (one semi join), and that candidate-sized shingle frame is
    materialized once for both join sides. ``measure`` is ``"jaccard"``
    or ``"containment"`` (of a in b); output: cands' columns plus
    ``measure``, keeping pairs with measure >= threshold.
    """
    score = {"jaccard": jaccard_sql, "containment": containment_sql}[measure]
    a, b, *extra = cands.columns
    ids = cands.selectExpr(f"explode(array({sql_ident(a)}, {sql_ident(b)})) AS _vid").distinct()
    # ids is a distinct aggregate over a Generate (an optimistic size
    # estimate): keep the semi join shuffled.
    grams = (
        docs.join(ids.hint("shuffle_hash"), F.col(id_col) == F.col("_vid"), "left_semi")
        .selectExpr(f"{sql_ident(id_col)} AS _vid", f"{shingles_sql(text_col, ngram)} AS _grams")
        .localCheckpoint(eager=True)
    )
    # A checkpoint keeps its scan-backed size estimate (SCALING.md's
    # round-12 audit), so these joins are left to the planner and AQE.
    return (
        cands.join(grams.selectExpr(f"_vid AS {sql_ident(a)}", "_grams AS _ga"), a)
        .join(grams.selectExpr(f"_vid AS {sql_ident(b)}", "_grams AS _gb"), b)
        .selectExpr(
            *map(sql_ident, [a, b, *extra]), f"{score('_ga', '_gb')} AS {measure}"
        )
        .filter(f"{measure} >= {float(threshold)!r}D")
    )


def _capped_pairs_sql(ids: str, fanout: int) -> str:
    """SQL text of the (a,b) pairs with a<b from array column ``ids`` where
    a is one of the ``fanout`` smallest ids.

    Equal to the full pair set when the bucket has <= fanout+1 members;
    otherwise each member connects to the low-id representatives only —
    O(k*fanout) edges instead of O(k^2).
    """
    return (
        f"filter(flatten(transform(array_sort({ids}), m ->"
        f" transform(slice(array_sort({ids}), 1, {fanout}), r -> struct(r AS a, m AS b)))),"
        " p -> p.a < p.b)"
    )


def _pairs_sql(ids: str) -> str:
    """SQL text of all (a,b) combinations with a<b from array column
    ``ids``, as structs."""
    s = f"array_sort({ids})"
    return (
        f"flatten(transform(sequence(0, size({s}) - 2), i ->"
        f" transform(slice({s}, i + 2, size({s})),"
        f" x -> struct(element_at({s}, i + 1) AS a, x AS b))))"
    )


def blocked_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard inside blocking keys.

    Semantics: every same-block pair with jaccard >= threshold (threshold
    must be > 0). Instead of the naive O(block^2) self-join with per-pair
    array_intersect/array_union (quadratic in BOTH pair count and gram-set
    size), this is the classic exploded similarity join:

      1. explode distinct shingles -> (block, gram, id): one pass;
      2. self equi-join on (block, gram): only pairs that SHARE a gram ever
         materialize, and the join is a plain shuffled hash join on a
         fine-grained key — |intersection| = the per-pair match count;
      3. jaccard = inter / (|A| + |B| - inter), each side's gram count
         riding on its index rows.

    Zero-intersection pairs never appear, which is exactly right for any
    threshold > 0. Cost scales with sum over grams of df(gram)^2 within a
    block — bounded by the blocking, not by block^2 full-array scans.
    """
    # Shingling streams once into the exploded inverted index, which
    # carries each doc's gram-set size per row (sz is functionally
    # dependent on the doc id, so grouping by it yields identical groups).
    # Both self-join sides read that one exchange (exchange reuse).
    ex = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("_id"),
        ngram_shingles(text_col, ngram).alias("grams"),
    ).select(
        *block_cols, "_id", F.size("grams").alias("sz"),
        F.explode("grams").alias("gram"),
    )
    a, b = ex.alias("a"), ex.alias("b")
    # Gram-exploded self-join: both sides are the corpus-sized inverted
    # index (a Generate above the scan, whose output size Catalyst
    # under-estimates) -- pin shuffle_hash so a statistics estimate can
    # never choose broadcast (SCALING.md round-11 rule).
    inter = (
        a.join(b.hint("shuffle_hash"), [*block_cols, "gram"])
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(column: str, ngram: int = 1, bits: int = 64) -> Column:
    """SimHash fingerprint: per-feature xxhash64, sum +/-1 per bit over all
    features, sign -> bit. Returns a signed 64-bit fingerprint.

    Pure array math: for each bit position, count features with that bit
    set vs total; bit set in output iff count*2 > total.
    """
    feats = ngram_shingles(column, ngram)
    hashes = F.transform(feats, lambda g: F.xxhash64(g))
    n = F.size(hashes)
    zeros = F.array_repeat(F.lit(0).cast("long"), bits)
    # Single fold: accumulate per-bit set-counts in one array accumulator
    # (one pass over features instead of `bits` separate array traversals).
    bit_counts = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda b: F.getbit(h, b).cast("long"),
            ),
            lambda a, x: a + x,
        ),
    )
    # Packing touches the 64-slot counts array, not the features — cheap.
    out = F.lit(0).cast("long")
    for b in range(bits):
        c = F.element_at(bit_counts, b + 1)
        out = out.bitwiseOR(
            F.when(c * 2 > n, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
        )
    return out


def _feature_hash(col: Column, hash_fn: str) -> tuple[Column, int]:
    """Per-feature 64/60-bit hash. ``xxhash64`` is the production path
    (one JVM intrinsic per shingle); ``md5_60`` (first 15 hex chars of
    md5 as a bigint) is slower but PORTABLE — any engine with md5 can
    reproduce the fingerprints bit-for-bit, enabling full cross-engine
    verification of the simhash pipeline."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col), 64
    if hash_fn == "md5_60":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long"), 60
    raise ValueError(f"unknown hash_fn: {hash_fn}")


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash) via explode + hash-aggregate — the codegen-friendly
    formulation: higher-order array functions are interpreted in Spark, so
    folding 64 bits per feature inside `aggregate()` is CPU-bound on the
    expression interpreter; exploding shingles and summing 64 `getbit`
    columns keeps the whole pipeline in whole-stage codegen with map-side
    partial aggregation (shuffle = 65 longs per doc per partition)."""
    h, bits = _feature_hash(F.col("gram"), hash_fn)
    feats = df.select(
        F.col(id_col).alias("_id"),
        F.explode(ngram_shingles(text_col, ngram)).alias("gram"),
    ).select("_id", h.alias("h"))
    aggs = [F.sum(F.getbit("h", F.lit(b))).alias(f"c{b}") for b in range(bits)] + [
        F.count("*").alias("n")
    ]
    counts = feats.groupBy("_id").agg(*aggs)
    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out.bitwiseOR(
            F.when(F.col(f"c{b}") * 2 > F.col("n"), F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return counts.select("_id", out.alias("sh"))


def hamming_pairs(
    sig: DataFrame,
    max_hamming: int,
    bits: int,
    max_bucket_fanout: int | None = None,
) -> DataFrame:
    """Near-dup pairs of a signature table ``(_id, sh BIGINT)``: every
    pair (doc_a < doc_b) whose ``bits``-bit signatures differ in at most
    ``max_hamming`` bits, with its ``hamming`` distance.

    Pigeonhole candidates (the Manku/Jain/Sarma WWW'07 construction):
    the low ``bits`` bits split into ``max_hamming + 1`` disjoint blocks of
    ``bits // (max_hamming + 1)`` bits. A pair with at most
    ``max_hamming`` differing bits cannot touch every block, so it agrees
    exactly on at least one and one self-join on (block, value) finds it:
    full recall at the radius, each document exploded once per block. A
    pair agreeing on k blocks surfaces k times; the Hamming filter runs
    first, so the distinct sees answer-sized rows.

    The self-join is pinned ``shuffle_hash``: both sides scale with the
    corpus, and the build side (an aggregate or codec output under an
    ``inline``) is the class whose optimistic row estimate let a
    statistics-gated broadcast fail at sf3 (SCALING.md, round 11/12).
    The signature table (one long per document) is checkpointed lazily
    for the self-join: its first read fills the checkpoint, so it adds no
    job, and both sides read it instead of each re-running the signature
    plan (the two sides' column aliases differ, so the exchange is not
    reused). In paired probes at sf0.1 under the pin, the image tables
    read the same under a lazy and an eager checkpoint, and the SimHash
    tables read 0-12% slower in the median under the lazy one (faster in
    4 and 3 of 10 pairs in the longest probe); lazy is kept for the job
    it saves. With no checkpoint the SimHash tables read slower than under
    either checkpoint, and the image tables the same or a little faster.

    ``max_bucket_fanout`` is the hot-bucket skew guard (the same contract
    as ``minhash_lsh_pairs``): k near-identical documents share a bucket
    in every block and emit O(k^2) pairs. With a cap F each member pairs
    only with the F lowest-id members of its bucket (O(k*F) edges);
    buckets of at most F + 1 members keep the exact pair set.
    """
    width = bits // (max_hamming + 1)
    blocks = ", ".join(
        f"named_struct('t', {t}, 'bv', shiftright(sh, {t * width}) & {(1 << width) - 1})"
        for t in range(max_hamming + 1)
    )
    explode = f"inline(array({blocks}))"
    if max_bucket_fanout is None:
        keyed = sig.localCheckpoint(eager=False).selectExpr("_id", "sh", explode)
        a = keyed.selectExpr("t", "bv", "_id AS doc_a", "sh AS sh_a")
        b = keyed.selectExpr("t", "bv", "_id AS doc_b", "sh AS sh_b")
        cands = a.join(b.hint("shuffle_hash"), ["t", "bv"]).filter("doc_a < doc_b")
    else:
        # One read of the signatures, so no checkpoint. The (_id, sh)
        # structs sort and compare by _id first.
        cands = (
            sig.selectExpr("_id", "sh", explode)
            .groupBy("t", "bv")
            .agg(F.expr("collect_set(struct(_id, sh)) AS ms"))
            .selectExpr(f"inline({_capped_pairs_sql('ms', max_bucket_fanout)})")
            .selectExpr("a._id AS doc_a", "a.sh AS sh_a", "b._id AS doc_b", "b.sh AS sh_b")
        )
    return (
        cands.selectExpr("doc_a", "doc_b", "bit_count(sh_a ^ sh_b) AS hamming")
        .filter(f"hamming <= {max_hamming}")
        .distinct()
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket_fanout: int | None = None,
) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b, hamming) by SimHash over word
    3-grams: ``hamming_pairs`` over ``simhash_table``, so every pair
    within ``max_hamming`` is found (the pigeonhole guarantee; a single
    prefix bucket missed pairs whose differing bits fell in the prefix).

    ``max_bucket_fanout`` caps template clusters (the 200k-doc scale
    probe measured 1.04M hamming-0 pairs from ONE 2000-doc cluster
    uncapped); None (default) is exact everywhere, which the
    oracle-checked queries use.
    """
    _, bits = _feature_hash(F.lit(""), hash_fn)
    sig = simhash_table(df, text_col=text_col, id_col=id_col, ngram=3, hash_fn=hash_fn)
    return hamming_pairs(sig, max_hamming, bits, max_bucket_fanout)


def minhash_lsh_incremental(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    ngram: int = 3,
    jaccard_threshold: float = 0.5,
    max_old_per_bucket: int = 8,
    observation=None,
) -> DataFrame:
    """Incremental near-dup screen: candidates only BETWEEN a new batch
    and the existing corpus — the daily-ingest shape, where re-running
    the full self-join (minhash_lsh_pairs) would redo O(corpus) pair
    work to answer an O(batch) question.

    Same banding machinery as the self-join variant; the difference is
    candidate generation: per bucket, each NEW document pairs with at
    most ``max_old_per_bucket`` lowest-id OLD documents (the hot-bucket
    fanout cap, one-sided — a boilerplate bucket holding 10M old docs
    must not multiply the batch). The cap silently trades recall for
    bounded fanout, so the loss is made VISIBLE: pass a
    ``pyspark.sql.Observation`` as ``observation`` and after the first
    action its metrics report ``capped_buckets`` (buckets whose old side
    was truncated AND that contain at least one new document — a capped
    bucket with no new docs produces no candidates, so its truncation
    cannot cost batch-vs-corpus recall and must not trip the signal)
    and ``buckets`` (total candidate buckets) — zero capped buckets
    proves the screen was exhaustive.

    In production the old side's signatures/buckets would be a persisted
    table refreshed per ingest; here both sides derive in one job for
    oracle-checkability. The shingle table streams through the signature
    aggregation uncached; ``verify_pairs`` checks the candidates.

    Output: (new_doc, old_doc, jaccard >= threshold).
    """
    cols = (f"{sql_ident(id_col)} AS _gid", f"{sql_ident(text_col)} AS _text")
    tagged = old.selectExpr(*cols, "0 AS _new").unionByName(
        new.selectExpr(*cols, "1 AS _new")
    )
    exploded = tagged.selectExpr(
        "_gid", "_new", f"explode({shingles_sql('_text', ngram)}) AS gram"
    )
    buckets = lsh_buckets(
        exploded, ["_gid", "_new"], "gram", num_perm, bands, per_row=False
    )
    # Per bucket: sorted old ids (capped) x new ids -> cross candidates.
    per_bucket = buckets.groupBy("band", "bh").agg(
        F.expr("sort_array(collect_set(CASE WHEN _new = 0 THEN _gid END)) AS all_olds"),
        F.expr("collect_set(CASE WHEN _new = 1 THEN _gid END) AS news"),
    ).selectExpr(
        f"slice(all_olds, 1, {max_old_per_bucket}) AS olds",
        "news",
        f"CAST(size(all_olds) > {max_old_per_bucket} AS BIGINT) AS capped",
    )
    if observation is not None:
        # Count a truncated bucket only when it could actually cost
        # batch-vs-corpus recall: a capped bucket with ZERO new documents
        # produces no candidates, so its truncation is harmless and must not
        # poison the "zero capped buckets => screen was exhaustive" signal.
        per_bucket = per_bucket.observe(
            observation,
            F.expr("sum(capped * CAST(size(news) > 0 AS BIGINT)) AS capped_buckets"),
            F.expr("count(1) AS buckets"),
        )
    cands = (
        per_bucket.filter("size(olds) > 0 AND size(news) > 0")
        .selectExpr(
            "inline(flatten(transform(news, n ->"
            " transform(olds, o -> struct(n AS new_doc, o AS old_doc)))))"
        )
        .distinct()
        # Eager: also forces the observe() metrics above to populate on
        # the checkpoint action itself.
        .localCheckpoint(eager=True)
    )
    return verify_pairs(
        tagged, cands, "jaccard", jaccard_threshold, "_gid", "_text", ngram
    )


def ranked_gram_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """(_id, sz, gram, rn) for every document's distinct shingles, ranked
    by the GLOBAL rarity order (corpus document frequency, ties by gram
    string) — the shared substrate of every prefix-filter join. Flat
    narrow rows (never gram ARRAYS — the GC-cliff rule), so callers may
    localCheckpoint it and serve several joins from one shingling pass."""
    from pyspark.sql.window import Window

    g = df.select(
        F.col(id_col).alias("_id"),
        ngram_shingles(text_col, ngram).alias("grams"),
    )
    ex = g.select(
        "_id", F.size("grams").alias("sz"), F.explode("grams").alias("gram")
    )
    dfreq = ex.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    # Both sides corpus-scaled (exploded grams vs gram-df aggregate) and
    # the build side is a post-aggregate whose row estimate Catalyst
    # guesses optimistically -- never let statistics pick broadcast here
    # (SCALING.md round-11 rule; the substring_dup_spans sf3 failure
    # class). shuffle_hash keeps the join shuffled at every scale.
    return ex.join(dfreq.hint("shuffle_hash"), "gram").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("_id").orderBy("df", "gram")),
    ).select("_id", "sz", "gram", "rn")


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    ranked: DataFrame | None = None,
) -> DataFrame:
    """Global (blocking-free) exact-Jaccard similarity self-join via
    PREFIX FILTERING — the AllPairs/PPJoin candidate generator
    (Bayardo/Ma/Srikant WWW'07, Xiao et al. WWW'08).

    For Jaccard >= t, any qualifying pair (x, y) has
    |x ∩ y| >= t·|x ∪ y| >= t·max(|x|,|y|), so each side's overlap is at
    least α(x) = ceil(t·|x|). Order every document's shingles by a GLOBAL
    rarity order (corpus document frequency, ties by the gram string);
    if the first |x| - α(x) + 1 grams of x (its *prefix*) missed the
    intersection entirely, the intersection would fit inside the
    remaining α(x) - 1 grams — contradiction. Hence every qualifying
    pair shares a PREFIX gram, and the candidate join runs on the
    prefix-exploded index only: cost Σ_gram df_prefix(gram)^2 — driven by
    RARE grams — instead of the full-index Σ df(gram)^2 or the O(n^2)
    all-pairs scan. A length filter (min >= t·max, same overlap bound)
    drops cross-size candidates before verification.

    The threshold is a RATIONAL t = threshold_num/threshold_den so that
    α(x) = ceil(t·|x|) is computed in exact integer arithmetic
    ((num·sz + den - 1) DIV den) on every engine — a float t·sz can land
    on a representation boundary and shorten the prefix below the
    completeness bound.

    Candidate collisions then pass PPJoin's POSITION filter before any
    verification: at a qualifying pair's FIRST common gram (first in the
    global order, hence first in both documents' prefixes — found with
    two plain MINs), the overlap can be at most
    1 + min(|x| - rank_x, |y| - rank_y), which must reach the pair bound
    α(x,y) = ceil(t/(1+t)·(|x|+|y|)). ``verify_pairs`` checks the
    survivors. Output: (doc_a, doc_b, jaccard >= t), jaccard rounded to 6
    for cross-engine parity.
    """
    if ranked is None:
        ranked = ranked_gram_index(df, text_col, id_col, ngram)
    alpha = F.expr(
        f"({threshold_num} * sz + {threshold_den - 1}) DIV {threshold_den}"
    )
    pref = ranked.filter(F.col("rn") <= F.col("sz") - alpha + 1).select(
        "_id", "sz", "gram", "rn"
    )
    a = pref.select(
        F.col("_id").alias("doc_a"),
        F.col("sz").alias("sz_a"),
        F.col("rn").alias("ra"),
        "gram",
    )
    b = pref.select(
        F.col("_id").alias("doc_b"),
        F.col("sz").alias("sz_b"),
        F.col("rn").alias("rb"),
        "gram",
    )
    # First common gram per pair: the global order is shared, so the
    # min-rank collision in a IS the min-rank collision in b — two MINs
    # inside the same aggregation that replaces the naive DISTINCT.
    first = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("sz_a", "sz_b") * F.lit(threshold_den)
            >= F.greatest("sz_a", "sz_b") * F.lit(threshold_num)
        )
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.min("ra").alias("ra"), F.min("rb").alias("rb"))
    )
    alpha_pair = F.expr(
        f"({threshold_num} * (sz_a + sz_b) + {threshold_num + threshold_den - 1})"
        f" DIV {threshold_num + threshold_den}"
    )
    cands = first.filter(
        1 + F.least(F.col("sz_a") - F.col("ra"), F.col("sz_b") - F.col("rb"))
        >= alpha_pair
    ).select("doc_a", "doc_b")
    return verify_pairs(
        df, cands, "jaccard", threshold_num / threshold_den, id_col, text_col, ngram
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    ranked: DataFrame | None = None,
) -> DataFrame:
    """Directed CONTAINMENT similarity join: ordered pairs (a, b), a != b,
    with |grams(a) ∩ grams(b)| / |grams(a)| >= t — Broder's containment
    coefficient, the asymmetric cousin of Jaccard that catches a short
    document embedded inside a longer one (quoted posts, boilerplate
    wrappers, partial copies), which symmetric Jaccard misses because the
    big document's size dominates the union.

    Candidate generation is the one-sided prefix filter: containment >= t
    forces overlap >= ceil(t·|a|), so a's |a| - ceil(t·|a|) + 1 rarest
    grams (global df order, exact integer-rational threshold) must hit
    the intersection — join a-prefixes against the OTHER side's full
    inverted index. Two lossless pre-verification prunes then apply
    per pair: the size bound |b| >= ceil(t·|a|) (the intersection fits
    inside b), and the POSITION filter at the first common gram (first
    in the global order; since a common gram earlier in a's order would
    also be in b's full index, the min-rank collision IS the first
    common gram): overlap <= 1 + min(|a| - rank_a, |b| - rank_b) must
    reach ceil(t·|a|). At sf0.1 this cuts candidates 921k -> the
    verified set's neighborhood, which is what bounds the array-
    intersect verification stage (``verify_pairs``)."""
    if ranked is None:
        ranked = ranked_gram_index(df, text_col, id_col, ngram)
    alpha = F.expr(
        f"({threshold_num} * sz + {threshold_den - 1}) DIV {threshold_den}"
    )
    pref = ranked.filter(F.col("rn") <= F.col("sz") - alpha + 1).select(
        F.col("_id").alias("doc_a"),
        F.col("sz").alias("sz_a"),
        F.col("rn").alias("ra"),
        "gram",
    )
    full = ranked.select(
        F.col("_id").alias("doc_b"),
        F.col("sz").alias("sz_b"),
        F.col("rn").alias("rb"),
        "gram",
    )
    alpha_a = F.expr(
        f"({threshold_num} * sz_a + {threshold_den - 1}) DIV {threshold_den}"
    )
    # Prefix table vs full inverted index: both corpus-scaled windowed
    # frames -- shuffle_hash pin (SCALING.md round-11 rule).
    first = (
        pref.join(full.hint("shuffle_hash"), "gram")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .filter(F.col("sz_b") * F.lit(threshold_den) >= F.col("sz_a") * F.lit(threshold_num))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.min("ra").alias("ra"), F.min("rb").alias("rb"))
    )
    cands = first.filter(
        1 + F.least(F.col("sz_a") - F.col("ra"), F.col("sz_b") - F.col("rb"))
        >= alpha_a
    ).select("doc_a", "doc_b")
    return verify_pairs(
        df, cands, "containment", threshold_num / threshold_den, id_col, text_col, ngram
    )
