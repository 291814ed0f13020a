"""Edge-case unit tests for text features and dedup operators — shapes the
sf fixtures don't exercise (empty/short/whitespace-heavy docs, exact
duplicates, near-identical pairs)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.functions.text import (
    fingerprint,
    lang_id,
    ngram_shingles,
    token_count,
)
from taxi_data_datapipeline_spark.operators.dedup import (
    blocked_jaccard_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    simhash_table,
    verify_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away home "
        * 3
    )
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),  # exact dup of 1
        Row(doc_id=3, text=base + "with one extra tail phrase appended here"),
        Row(doc_id=4, text="completely different words entirely unrelated content"),
        Row(doc_id=5, text="short doc"),  # < n tokens -> whole-text shingle
        Row(doc_id=6, text="  the   quick\tbrown   fox  "),  # whitespace soup
    ]
    return spark.createDataFrame(rows)


def test_shingles_edge_cases(spark, docs):
    out = {
        r.doc_id: r.g
        for r in docs.select("doc_id", ngram_shingles("text", 3).alias("g")).collect()
    }
    assert out[5] == ["short doc"]  # sub-n doc -> single whole-text shingle
    assert "the quick brown" in out[6]  # repeated whitespace collapses in split
    assert len(out[1]) == len(set(out[1]))  # distinct
    assert set(out[1]) == set(out[2])
    texts = {
        # Splits on whitespace only: a regex read as "s+" would split on "s".
        "s": "ss\tsss s\t\tssss  sass\ts",
        "empty": "",
        "quoted": "it's a \\ back\\slash \"quoted\" it's",
    }
    frame = spark.createDataFrame(list(texts.items()), "k string, text string")
    got = {r.k: r.g for r in frame.select("k", ngram_shingles("text", 3).alias("g")).collect()}
    assert got == {
        "s": ["ss sss s", "sss s ssss", "s ssss sass", "ssss sass s"],
        "empty": [""],
        "quoted": [
            "it's a \\",
            "a \\ back\\slash",
            "\\ back\\slash \"quoted\"",
            "back\\slash \"quoted\" it's",
        ],
    }


def test_token_count_and_lang(spark, docs):
    rows = {
        r.doc_id: (r.n, r.lang)
        for r in docs.select(
            "doc_id",
            token_count("text").alias("n"),
            lang_id("text").alias("lang"),
        ).collect()
    }
    assert rows[5][0] == 2
    assert rows[6][0] == 4
    assert rows[1][1] == "en"
    assert rows[4][1] == "en"  # no stopword hits -> default


def test_exact_dedup_groups(spark, docs):
    out = exact_dedup(docs).collect()
    groups = {r.keep_id: r.n_copies for r in out}
    assert groups[1] == 2  # docs 1 and 2 collapse, min id kept
    assert sum(groups.values()) == 6


def test_minhash_finds_near_dups(spark, docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.5  # near dup
    assert all((4 not in p and 5 not in p) for p in pairs)


def test_simhash_identical_docs_equal_fingerprints(spark, docs):
    sh = {r._id: r.sh for r in simhash_table(docs).collect()}
    assert sh[1] == sh[2]
    ham_near = bin(sh[1] ^ sh[3]).count("1")
    ham_far = bin(sh[1] ^ sh[4]).count("1")
    assert ham_near < ham_far  # near dup closer than unrelated doc


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [Row(a="Hello   World"), Row(a="hello world"), Row(a=" HELLO\tWORLD ")]
    )
    fps = [r.fp for r in df.select(fingerprint(F.col("a")).alias("fp")).collect()]
    assert len(set(fps)) == 1


def test_minhash_explode_equals_naive_signature(spark, docs):
    """The codegen explode+aggregate minhash must equal the definitional
    array_min(transform(...)) signature, per permutation."""
    from taxi_data_datapipeline_spark.operators.dedup import minhash_signature

    naive = {
        r.doc_id: r.sig
        for r in docs.select(
            "doc_id", minhash_signature("text", num_perm=8).alias("sig")
        ).collect()
    }
    exploded = (
        docs.select(
            "doc_id",
            F.explode(ngram_shingles("text", 3)).alias("gram"),
        )
        .groupBy("doc_id")
        .agg(*[F.min(F.xxhash64("gram", F.lit(i))).alias(f"m{i}") for i in range(8)])
    )
    fast = {r.doc_id: [r[f"m{i}"] for i in range(8)] for r in exploded.collect()}
    assert naive == fast


def test_lsh_buckets_per_row_equals_aggregate(spark, docs):
    """Both ``lsh_buckets`` forms give the same bucket rows, and band b's
    key is xxhash64 over signature values 2b and 2b+1 (8 permutations, 4
    bands), built here with the Column API as an independent reference."""
    from taxi_data_datapipeline_spark.operators.dedup import lsh_buckets, minhash_signature

    grams = docs.select("doc_id", ngram_shingles("text", 3).alias("grams"))
    per_row = lsh_buckets(grams, ["doc_id", "grams"], "grams", 8, 4)
    exploded = grams.select("doc_id", F.explode("grams").alias("gram"))
    aggregated = lsh_buckets(exploded, ["doc_id"], "gram", 8, 4, per_row=False)
    s = F.col("s")
    reference = docs.select(
        "doc_id", minhash_signature("text", num_perm=8).alias("s")
    ).select(
        "doc_id",
        F.posexplode(F.array(*[F.xxhash64(s[2 * b], s[2 * b + 1]) for b in range(4)])).alias(
            "band", "bh"
        ),
    )

    def rows(df):
        return sorted(map(tuple, df.select("band", "bh", "doc_id").collect()))

    assert rows(per_row) == rows(aggregated) == rows(reference)
    assert len(rows(reference)) == 4 * docs.count()


def test_simhash_fold_equals_table(spark, docs):
    """The interpreted aggregate-fold simhash and the explode+hash-agg
    table formulation are the same function."""
    from taxi_data_datapipeline_spark.operators.dedup import simhash, simhash_table

    fold = {
        r.doc_id: r.sh
        for r in docs.select("doc_id", simhash("text", ngram=3).alias("sh")).collect()
    }
    table = {r._id: r.sh for r in simhash_table(docs, ngram=3).collect()}
    assert fold == table


def test_capped_fanout_exact_when_buckets_small(spark, docs):
    """With fanout >= bucket sizes the capped pair generator degenerates to
    the full pair set — identical output on the standard corpus."""
    base = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    capped = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(
            docs, jaccard_threshold=0.5, max_bucket_fanout=64
        ).collect()
    }
    assert capped == base and base  # non-empty and equal


def test_capped_fanout_bounds_hot_bucket_but_keeps_connectivity(spark):
    """A template cluster (one mega-bucket) emits O(k*fanout) edges instead
    of O(k^2), and every member still connects to a low-id representative."""
    k = 30
    tmpl = "all work and no play makes jack a dull boy " * 3
    rows = [(i, tmpl + f"suffix {i % 2}") for i in range(k)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = minhash_lsh_pairs(
        docs, jaccard_threshold=0.2, max_bucket_fanout=2
    ).collect()
    full = minhash_lsh_pairs(docs, jaccard_threshold=0.2).collect()
    assert len(full) >= k * (k - 1) / 4  # the quadratic blowup is real
    # bound is per-band-bucket: <= fanout edges per member per band
    assert len(capped) <= k * 2 * 8
    assert len(capped) < len(full) / 3  # and it actually bites
    # connectivity: every doc appears in some capped edge
    touched = {r.doc_a for r in capped} | {r.doc_b for r in capped}
    assert touched == set(range(k))


def test_simhash_block_lsh_full_recall(spark):
    """Pigeonhole guarantee: the 4-block LSH join must find EVERY pair
    within Hamming radius 3 — identical to brute-force all-pairs Hamming
    on the fingerprints. A sizeable corpus of perturbed near-dup
    templates exercises pairs whose differing bits fall in ANY block
    (the case a single 16-bit prefix bucket provably missed)."""
    from taxi_data_datapipeline_spark.operators.dedup import simhash_dedup

    words = [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
        "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    ]
    rows = []
    did = 0
    for t in range(12):  # 12 templates x 5 variants
        base = " ".join(words[(t + i) % len(words)] for i in range(30))
        for v in range(5):
            did += 1
            # small tail perturbation -> near-identical fingerprints
            rows.append(Row(doc_id=did, text=base + f" tail{t} variant {v}"))
    docs = spark.createDataFrame(rows)

    found = {
        (r.doc_a, r.doc_b)
        for r in simhash_dedup(docs, max_hamming=3).collect()
    }
    sh = {r._id: r.sh for r in simhash_table(docs, ngram=3).collect()}
    truth = {
        (a, b)
        for a in sh
        for b in sh
        if a < b and bin((sh[a] ^ sh[b]) & (2**64 - 1)).count("1") <= 3
    }
    assert truth, "fixture must produce at least one true near-dup pair"
    assert found == truth  # full recall AND no false pairs


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


@pytest.mark.parametrize("bits", [64, 60])
def test_hamming_pairs_matches_brute_force(spark, bits):
    """``hamming_pairs`` finds exactly the pairs within radius 3 of a
    brute-force all-pairs check. Hand-built signatures differ from their
    base in 1-4 bits, with flips in every block (16-bit blocks of the
    64-bit layout, 15-bit blocks of simhash_pairs_checked's 60-bit one),
    including bit 63 (negative ``sh``) in the 64-bit layout."""
    import random

    from taxi_data_datapipeline_spark.operators.dedup import hamming_pairs

    w = bits // 4
    top = bits - 1
    flips = [
        (), (), (0,), (top,), (w - 1, w), (2 * w - 1, 3 * w), (0, w, 2 * w),
        (w + 1, 2 * w + 1, top), (1, w + 2, 2 * w + 3, top),  # 4 bits: all blocks
        (top - 1, top), (3, 4, 5), (w, w + 1, w + 2, w + 3),
    ]
    rng = random.Random(7)
    sigs = {}
    for base in (rng.getrandbits(bits) for _ in range(4)):
        for f in flips:
            v = base
            for bit in f:
                v ^= 1 << bit
            sigs[len(sigs) + 1] = _signed64(v)
    assert any(v < 0 for v in sigs.values()) == (bits == 64)
    sig = spark.createDataFrame(list(sigs.items()), "_id long, sh long")
    found = {tuple(r) for r in hamming_pairs(sig, 3, bits).collect()}
    truth = set()
    for a in sigs:
        for b in sigs:
            d = bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
            if a < b and d <= 3:
                truth.add((a, b, d))
    assert {d for *_, d in truth} == {0, 1, 2, 3}
    assert found == truth


def test_simhash_capped_fanout(spark):
    """The simhash hot-bucket cap: identical documents share a bucket in
    every block. A fanout of at least k-1 keeps the exact pair set; a
    smaller fanout F keeps exactly the pairs whose lower id is one of the
    F lowest ids."""
    from taxi_data_datapipeline_spark.operators.dedup import simhash_dedup

    k = 7
    tmpl = "all work and no play makes jack a dull boy " * 3
    rows = [(i, tmpl) for i in range(1, k + 1)] + [
        (100, "completely different words entirely unrelated content here"),
        (101, "another unrelated document about a quiet river valley town"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def pairs(**kw):
        return {tuple(r) for r in simhash_dedup(docs, max_hamming=3, **kw).collect()}

    full = pairs()
    ids = list(range(1, k + 1))
    assert full == {(a, b, 0) for a in ids for b in ids if a < b}
    assert pairs(max_bucket_fanout=k - 1) == full
    assert pairs(max_bucket_fanout=2) == {p for p in full if p[0] in ids[:2]}


def test_incremental_capped_buckets_only_counts_candidate_producing(spark):
    """The capped_buckets observation counts ONLY truncated buckets that
    contain at least one NEW document: a boilerplate mega-bucket made
    entirely of OLD docs produces no candidates, so its truncation loses
    no batch-vs-corpus recall and must not trip the exhaustive-screen
    signal (ADVICE r4). With a new doc in the hot bucket the same
    truncation IS counted."""
    from pyspark.sql import Observation

    from taxi_data_datapipeline_spark.operators.dedup import (
        minhash_lsh_incremental,
    )

    boiler = "template header all pages share this exact boilerplate body text"
    other = "a quiet corner document about completely different subject matter"
    old = spark.createDataFrame(
        [Row(doc_id=i, text=boiler) for i in range(30)]
        + [Row(doc_id=100, text=other)]
    )

    # Case 1: the new batch only touches the small (uncapped) bucket; the
    # truncated boilerplate bucket holds zero new docs -> zero counted.
    # (The new doc must produce SOME candidate so the observed subtree
    # executes — with an all-empty candidate set AQE's empty-join pruning
    # can skip the observe node entirely and .get has no metrics.)
    new_far = spark.createDataFrame([Row(doc_id=1000, text=other)])
    obs1 = Observation("inc1")
    far_pairs = minhash_lsh_incremental(old, new_far, observation=obs1).count()
    assert far_pairs > 0
    assert obs1.get["capped_buckets"] == 0

    # Case 2: new doc shares the boilerplate bucket -> truncation counted.
    new_near = spark.createDataFrame([Row(doc_id=1001, text=boiler)])
    obs2 = Observation("inc2")
    out = minhash_lsh_incremental(old, new_near, observation=obs2).count()
    assert obs2.get["capped_buckets"] > 0
    assert out > 0  # the capped screen still surfaced the near-dup pairs


def test_dup_span_islands_exact_extents(spark, tmp_path):
    """ExactSubstr-style spans: duplicated >=8-token runs are reported at
    their exact maximal extent; overlapping duplicated grams merge into
    one island; unique docs report nothing."""
    run10 = " ".join(f"s{i}" for i in range(10))  # shared 10-token run
    run8 = " ".join(f"r{i}" for i in range(8))  # shared 8-token run
    rows = [
        # two copies of run8 inside one doc, split by 5 unique tokens:
        # islands [0,7] and [13,20]
        (0, run8 + " u0 u1 u2 u3 u4 " + run8),
        # run8 once more in another doc at offset 2: island [2,9]
        (1, "v0 v1 " + run8 + " v2"),
        # all-unique doc: no duplicated gram, no output rows
        (2, " ".join(f"w{i}" for i in range(12))),
        # 10-token run shared by two docs: positions 0,1,2 all duplicated
        # -> ONE island [0,9] (maximal extent, not three 8-token spans)
        (3, run10),
        (4, run10),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    from taxi_data_datapipeline_spark.queries import QUERIES

    got = {
        (r["doc_id"], r["island"]): (r["start_tok"], r["end_tok"], r["dup_tokens"])
        for r in QUERIES["dup_span_islands"](spark, str(tmp_path)).collect()
    }
    assert got == {
        (0, 1): (0, 7, 8),
        (0, 2): (13, 20, 8),
        (1, 1): (2, 9, 8),
        (3, 1): (0, 9, 10),
        (4, 1): (0, 9, 10),
    }


def test_verify_pairs_measures_threshold_and_extra_columns(spark):
    """Containment is directional, a pair exactly at the threshold is kept,
    and candidate columns past the pair ride along."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e"),  # 3 shingles, all inside doc 2
            Row(doc_id=2, text="a b c d e f g h i"),  # 7 shingles
            Row(doc_id=3, text="a b c d x"),  # shares 2 of doc 1's 3: J = 2/4
        ]
    )
    cands = spark.createDataFrame(
        [(1, 2, 7), (2, 1, 8), (1, 3, 9)], "doc_a long, doc_b long, gap long"
    )
    cont = verify_pairs(docs, cands, "containment", 0.0)
    assert cont.columns == ["doc_a", "doc_b", "gap", "containment"]
    got = {(r.doc_a, r.doc_b): (r.gap, r.containment) for r in cont.collect()}
    assert got == {(1, 2): (7, 1.0), (2, 1): (8, 0.428571), (1, 3): (9, 0.666667)}
    kept = verify_pairs(docs, cands, "containment", 0.5).collect()
    assert {(r.doc_a, r.doc_b) for r in kept} == {(1, 2), (1, 3)}

    jac = verify_pairs(docs, cands, "jaccard", 0.5)
    assert [tuple(r) for r in jac.collect()] == [(1, 3, 9, 0.5)]


def test_blocked_jaccard_pairs_builds_without_a_job(spark, docs):
    """Building the blocked join submits no Spark job: the corpus-sized
    gram index is a plan, not an eager checkpoint."""
    sc = spark.sparkContext
    sc.setJobGroup("blocked-build", "build blocked_jaccard_pairs")
    try:
        pairs = blocked_jaccard_pairs(
            docs.withColumn("one", F.lit(1)), block_cols=["one"], threshold=0.5
        )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("blocked-build") == []
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} >= {(1, 2)}
