"""Property pins for the round-12 curation batch (queries_curation2.py).

The DuckDB oracle gate proves cross-engine value equality; these tests
pin the SEMANTICS the oracle can't distinguish from a consistent mistake
— hand-computed Kneser-Ney and Good-Turing values on constructed
corpora, the perceptual-hash invariances, the S-curve's monotone
trade-offs, the IVF recall dial's monotonicity, and the zero-weight
first-round fixed point of the hashed classifier.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from taxi_data_datapipeline_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _write_docs(spark, tmp_path, docs):
    """docs = [(doc_id, text, lang, source)] -> parquet documents table."""
    rows = [(i, t, lang, src, len(t)) for i, t, lang, src in docs]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")
    return sf


def _bucket10(doc_id: int) -> int:
    """The engine's md5-mod-10 split bucket (bigram_perplexity convention)."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 10


class TestDedupRateByDomain:
    def test_cross_source_copy_counts_in_both_sources(self, spark, tmp_path):
        docs = [
            (0, "alpha beta gamma", "en", "web"),
            (1, "alpha beta gamma", "en", "books"),  # cross-source copy
            (2, "delta epsilon zeta", "en", "web"),
        ]
        sf = _write_docs(spark, tmp_path, docs)
        rows = {r["source"]: r for r in QUERIES["dedup_rate_by_domain"](spark, sf).collect()}
        assert rows["web"]["n_docs"] == 2
        assert rows["web"]["dup_docs"] == 1  # doc 0's copy lives in books
        assert rows["books"]["dup_docs"] == 1
        assert rows["web"]["dup_rate"] == 0.5
        assert rows["books"]["dup_rate"] == 1.0


class TestGoodTuring:
    def test_z_values_on_constructed_spectrum(self, spark, tmp_path):
        # counts: a,b,c ->1; d,e ->2; f ->4  =>  N_1=3, N_2=2, N_4=1
        text = "a b c d d e e f f f f"
        sf = _write_docs(spark, tmp_path, [(0, text, "en", "web")])
        rows = {r["c"]: r for r in QUERIES["good_turing_smoothing"](spark, sf).collect()}
        # last count (4) has no successor and is dropped; interior Z:
        # Z_1 = 2*3/(2-0) = 3.0 ; Z_2 = 2*2/(4-1) = 1.333333
        assert set(rows) == {1, 2}
        assert rows[1]["n_types"] == 3 and rows[1]["z"] == 3.0
        assert rows[2]["n_types"] == 2 and rows[2]["z"] == round(4 / 3, 6)

    def test_loglog_slope_constant_across_rows(self, spark):
        rows = QUERIES["good_turing_smoothing"](spark, SF).collect()
        assert len({r["loglog_slope"] for r in rows}) == 1


class TestKneserNey:
    def test_hand_computed_probability(self, spark, tmp_path):
        # bigrams: (a b) x2, (b a) x1, (b c) x1  (one doc: "a b a b c")
        # c(a.)=2, c(b.)=2; N1+(a.)=1, N1+(b.)=2; T=3 bigram types
        # P_cont(b)=1/3, P_cont(a)=1/3, P_cont(c)=1/3
        # kn(a b) = (2-.75)/2 + (.75*1/2)*(1/3) = 0.625 + 0.125 = 0.75
        # kn(b a) = (1-.75)/2 + (.75*2/2)*(1/3) = 0.125 + 0.25  = 0.375
        sf = _write_docs(spark, tmp_path, [(0, "a b a b c", "en", "web")])
        rows = {
            (r["w1"], r["w2"]): r
            for r in QUERIES["kneser_ney_bigram"](spark, sf).collect()
        }
        assert rows[("a", "b")]["kn_prob"] == 0.75
        assert rows[("b", "a")]["kn_prob"] == 0.375
        assert rows[("a", "b")]["c_bigram"] == 2

    def test_probabilities_bounded(self, spark):
        for r in QUERIES["kneser_ney_bigram"](spark, SF).collect():
            assert 0.0 < r["kn_prob"] <= 1.0
            assert 0.0 < r["lambda_w1"] < 1.0
            assert 0.0 < r["p_cont"] <= 1.0


class TestNgramNovelty:
    def test_copied_vs_fresh_eval_doc(self, spark, tmp_path):
        # find ids: train bucket < 8, eval bucket >= 8
        train_id = next(i for i in range(100) if _bucket10(i) < 8)
        eval_copy = next(
            i for i in range(100) if _bucket10(i) >= 8 and i != train_id
        )
        eval_fresh = next(
            i
            for i in range(100)
            if _bucket10(i) >= 8 and i not in (train_id, eval_copy)
        )
        text = "one two three four five six"
        docs = [
            (train_id, text, "en", "web"),
            (eval_copy, text, "en", "web"),
            (eval_fresh, "seven eight nine ten eleven twelve", "en", "web"),
        ]
        sf = _write_docs(spark, tmp_path, docs)
        rows = {r["doc_id"]: r for r in QUERIES["ngram_novelty_score"](spark, sf).collect()}
        assert rows[eval_copy]["novelty"] == 0.0
        assert rows[eval_fresh]["novelty"] == 1.0


class TestLshSCurve:
    def test_monotone_tradeoff_in_rows_per_band(self, spark):
        rows = sorted(
            QUERIES["lsh_s_curve"](spark, SF).collect(),
            key=lambda r: r["rows_per_band"],
        )
        # all designs share the pair population
        assert len({r["n_pairs"] for r in rows}) == 1
        # steeper curves (more rows per band) admit monotonically less
        # sub-threshold false-positive mass AND less overall detection
        fp = [r["lo_fp_mass"] for r in rows]
        det = [r["exp_detected"] for r in rows]
        assert fp == sorted(fp, reverse=True)
        assert det == sorted(det, reverse=True)
        for r in rows:
            assert 0.0 <= r["hi_recall"] <= 1.0


class TestPerceptualHashes:
    @pytest.mark.parametrize("qname", ["dhash_gradient_dedup", "phash_dct_dedup"])
    def test_exact_copy_is_hamming_zero_and_distinct_text_is_not_paired(
        self, spark, tmp_path, qname
    ):
        docs = [
            (0, "apple banana cherry date elderberry fig grape", "en", "web"),
            (1, "apple banana cherry date elderberry fig grape", "en", "web"),
            (2, "zebra yak xenon walrus vulture termite sloth rhino", "en", "web"),
        ]
        sf = _write_docs(spark, tmp_path, docs)
        rows = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in QUERIES[qname](spark, sf).collect()
        }
        assert rows[(0, 1)] == 0
        assert (0, 2) not in rows and (1, 2) not in rows

    def test_dct_basis_is_the_fixed_point_dct(self):
        from taxi_data_datapipeline_spark.operators.multimodal import (
            dct_basis_8x32,
        )

        b = dct_basis_8x32()
        assert len(b) == 8 and all(len(r) == 32 for r in b)
        assert all(c == 16384 for c in b[0])  # u=0: cos(0) row
        # orthogonality of distinct rows (approximate under rounding)
        dot01 = sum(x * y for x, y in zip(b[1], b[2]))
        assert abs(dot01) < 32 * 16384  # far from the self-dot 32*16384^2


class TestIvfNprobe:
    def test_recall_and_candidates_monotone(self, spark):
        rows = sorted(
            QUERIES["ivf_nprobe_recall"](spark, SF).collect(),
            key=lambda r: r["nprobe"],
        )
        assert [r["nprobe"] for r in rows] == [1, 2, 4, 8]
        cands = [r["n_candidates"] for r in rows]
        recalls = [r["recall_at_10"] for r in rows]
        assert cands == sorted(cands)
        assert recalls == sorted(recalls)
        assert all(0.0 <= r <= 1.0 for r in recalls)


class TestFasttextClassifier:
    def test_zero_weight_first_round_fixed_point(self, spark):
        rows = {r["round"]: r for r in QUERIES["fasttext_hash_classifier"](spark, SF).collect()}
        import duckdb

        n_docs, n_en = duckdb.sql(
            f"SELECT COUNT(*), SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) "
            f"FROM '{SF}/documents.parquet'"
        ).fetchone()
        # round 1 scores with the ZERO weight vector: z = 0, p = 0.5,
        # pred = 1 for every doc -> n_pred_pos = corpus size and
        # n_correct = the English count, exactly.
        assert rows[1]["n_pred_pos"] == n_docs
        assert rows[1]["n_correct"] == n_en
        # the round-1 update must actually move some weight
        assert any(rows[1][f"u{i}"] != 0 for i in range(17))

    def test_feature_cache_released_when_a_round_raises(self, spark, monkeypatch):
        """The persisted feature table is released on the error path too:
        a round whose action fails (after its aggregate has read, and so
        cached, the features) leaves no persisted RDD behind."""

        def failing_checkpoint(self, *args, **kwargs):
            self.collect()  # the round's aggregate runs and fills the cache
            raise RuntimeError("round failed")

        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keys())
        monkeypatch.setattr(type(spark.range(1)), "localCheckpoint", failing_checkpoint)
        with pytest.raises(RuntimeError, match="round failed"):
            QUERIES["fasttext_hash_classifier"](spark, SF)
        assert set(jsc.getPersistentRDDs().keys()) - before == set()


class TestTokenizerFertility:
    def test_char_budget_dominates_subtokens(self, spark):
        for r in QUERIES["tokenizer_fertility"](spark, SF).collect():
            assert r["chars"] >= r["subtokens"] >= 0
            assert r["words"] > 0
