"""End-to-end training-corpus pipeline: gate -> exact dedup -> near-dup
canonicalization -> split -> per-split packing, as one composition."""

import pyspark.sql.functions as F

from stellar_etl_spark.functions.dedup import minhash_candidate_pairs
from stellar_etl_spark.functions.text import fingerprint64
from stellar_etl_spark.operators.corpus import build_training_corpus

SF = "/root/testdata/sf0.001"


def test_corpus_manifest_invariants(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    m = build_training_corpus(d, min_quality=0.2, min_jaccard=0.4)
    rows = m.collect()
    assert rows, "pipeline must keep documents at these thresholds"
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids))

    # no two survivors share a content fingerprint (exact dedup held)
    surviving = d.join(m.select("doc_id"), "doc_id", "left_semi")
    fps = surviving.select(fingerprint64(F.col("text")).alias("fp"))
    assert fps.count() == fps.distinct().count()

    # no two survivors form a near-dup pair (cluster canonicalization held)
    assert minhash_candidate_pairs(surviving, min_jaccard=0.4).count() == 0

    # quality gate held
    assert all(r["quality"] >= 0.2 and r["n_tokens"] > 0 for r in rows)

    # per split: offsets tile the token axis exactly and bins follow offsets
    for split in {r["split"] for r in rows}:
        part = sorted(
            (r for r in rows if r["split"] == split), key=lambda r: r["token_offset"]
        )
        acc = 0
        for r in part:
            assert r["token_offset"] == acc
            assert r["pack_bin"] == acc // 2048
            acc += r["n_tokens"]


def test_corpus_deterministic_and_subset_stable(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    m_full = build_training_corpus(d)
    m1 = sorted(map(tuple, m_full.collect()))
    m2 = sorted(map(tuple, build_training_corpus(d).collect()))
    assert m1 == m2

    # subset stability: build on roughly half the corpus, then on the full
    # corpus. Which documents survive CAN change (dedup canonicals shift),
    # and token_offset/pack_bin re-tile — but any document surviving both
    # runs must keep its split label (a pure function of (seed, id)).
    sub = d.where(F.crc32(F.col("doc_id").cast("string")) % 2 == 0)
    split_full = {r["doc_id"]: r["split"] for r in m_full.select("doc_id", "split").collect()}
    common = [
        r
        for r in build_training_corpus(sub).select("doc_id", "split").collect()
        if r["doc_id"] in split_full
    ]
    assert common, "no surviving documents in common — vacuous test"
    assert all(r["split"] == split_full[r["doc_id"]] for r in common)


def test_pack_bins_carry_cols(spark):
    """carry_cols pass through the packer unchanged (the corpus manifest
    relies on this instead of a self-join back to its input lineage)."""
    from stellar_etl_spark.operators.packing import sequence_pack_bins

    d = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5 + 1).alias("n_tokens"),
        F.concat(F.lit("L"), (F.col("id") % 3).cast("string")).alias("lang_pred"),
        (F.col("id") % 7).cast("double").alias("quality"),
    )
    out = sequence_pack_bins(d, carry_cols=("lang_pred", "quality"))
    assert {"lang_pred", "quality"} <= set(out.columns)
    joined = out.join(d.select("doc_id", F.col("lang_pred").alias("e_lang")), "doc_id")
    assert joined.where(F.col("lang_pred") != F.col("e_lang")).count() == 0
    # pack_bin stays the integer-division of token_offset (ADVICE r5: no
    # double division drift past 2^53)
    assert (
        out.where(F.col("pack_bin") != F.expr("token_offset DIV 2048")).count() == 0
    )
