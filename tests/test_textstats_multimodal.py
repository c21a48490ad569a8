"""Text-analysis kernels (language ID, quality, tokens, winnowing) and
multimodal binary-column plumbing."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_system_spark.functions import textstats as K
from ocr_system_spark.operators import multimodal, textstats as ops


def test_langid_on_real_phrases():
    cases = {
        "the quick brown fox jumps over the lazy dog and runs into the woods": "en",
        "le gouvernement de la république française est responsable devant le parlement": "fr",
        "el gobierno de la república española es responsable de la administración": "es",
        "die regierung der bundesrepublik deutschland ist dem parlament verantwortlich": "de",
        "我们的人民在这个大的国家中说他们有很多的东西": "zh",
        "": "und",
        "zzz qqq xxx": "und",
    }
    for text, want in cases.items():
        assert K.langid_one(text) == want, (text, K.langid_one(text))


def test_winnowing_position_robust():
    base = "the quick brown fox jumps over the lazy dog " * 4
    shifted = "PREFIX " + base
    # hash VALUES survive a position shift (positions move by len(prefix))
    fp_a = {f for _, f in K.winnow_fingerprint_one(base)}
    fp_b = {f for _, f in K.winnow_fingerprint_one(shifted)}
    # winnowing guarantees shared fingerprints for shared substrings
    overlap = len(fp_a & fp_b) / len(fp_a)
    assert overlap > 0.7, overlap
    # unrelated text shares ~nothing
    fp_c = {f for _, f in K.winnow_fingerprint_one(
        "completely different content here entirely " * 4)}
    assert len(fp_a & fp_c) / len(fp_a) < 0.1


def test_winnowing_shift_moves_positions_exactly():
    base = "the quick brown fox jumps over the lazy dog " * 4
    a = K.winnow_fingerprint_one(base)
    b = K.winnow_fingerprint_one("xyzpad " + base)
    shifted_b = {(p - 7, f) for p, f in b if p >= 7}
    # away from the edge, the selected (pos, fp) set is identical mod shift
    core_a = {(p, f) for p, f in a if 10 <= p < len(base) - 20}
    assert core_a <= shifted_b


def test_quality_features_values():
    out = K.quality_features_batch(pd.Series(["The cat, and a dog!", ""]))
    assert out["n_words"][0] == 5
    assert out["n_stopwords"][0] == 3  # 'The' (case-folded), 'and', 'a'
    assert K.quality_features_batch(pd.Series(["The cat"]))["n_stopwords"][0] == 1
    assert out["n_chars"][1] == 0


def test_token_counts_bpeish():
    out = K.token_count_batch(pd.Series(["ab12 cd, ef"]))
    # ws: ['ab12','cd,','ef']=3 ; bpeish: ab,12,cd,',',ef = 5
    assert out["ws_tokens"][0] == 3
    assert out["bpeish_tokens"][0] == 5


def test_multimodal_features_deterministic(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    media = multimodal.documents_as_media(d)
    feats = multimodal.decode_media_features(media).toPandas().sort_values("id")
    assert (feats["decoder"] == "bytestats").all()
    assert (feats["n_bytes"] > 0).all()
    assert feats["byte_entropy"].between(0, 8).all()
    again = multimodal.decode_media_features(media).toPandas().sort_values("id")
    pd.testing.assert_frame_equal(feats.reset_index(drop=True), again.reset_index(drop=True))


def test_frame_sample_shapes(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(10)
    media = multimodal.documents_as_media(d)
    frames = multimodal.frame_sample_stub(media, n_frames=4).toPandas()
    assert len(frames) == 40
    assert set(frames["frame_idx"]) == {0, 1, 2, 3}
    # frames reassemble a prefix of the original payload
    one = frames[frames["id"] == frames["id"].iloc[0]].sort_values("frame_idx")
    joined = b"".join(bytes(b) for b in one["frame"])
    orig = media.filter(F.col("id") == int(one["id"].iloc[0])).collect()[0]["media"]
    assert bytes(orig).startswith(joined[: len(joined) // 2])


def test_langid_operator_batch(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    out = ops.with_langid(d.select("doc_id", "text")).toPandas()
    # documents vocab is English-ish word soup → heuristic must be stable
    assert set(out["lang_pred"]) <= {"en", "und", "fr", "es", "de"}
    assert (out["lang_pred"] != "").all()
