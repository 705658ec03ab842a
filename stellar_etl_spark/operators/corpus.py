"""End-to-end training-corpus construction: the composition every stage of
this package exists for —

    quality/language gate -> exact dedup -> near-dup cluster
    canonicalization -> deterministic holdout split -> per-split
    sequence packing

One call produces a per-document manifest (keep/drop with reason, split,
token offset, pack bin): the ``corpus_manifest`` registry query. Every
stage is the already-tested operator: the gate and fingerprints are one
narrow scan; exact dedup keeps the min id per normalized-content
fingerprint (one hash shuffle of (fp, id)); near-dup canonicalization
keeps one doc per connected component of the verified MinHash pair graph
(functions/dedup.py); the split is a pure function of (seed, id); packing
is the distributed two-phase prefix sum. Text never rides any shuffle
except the candidate-verify join inside pair generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from stellar_etl_spark.functions import text as textfn
from stellar_etl_spark.functions.dedup import (
    connected_components,
    minhash_candidate_pairs,
)
from stellar_etl_spark.functions.sampling import hash_split
from stellar_etl_spark.operators.packing import sequence_pack_bins


def build_training_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    langs: list[str] | None = None,
    min_jaccard: float = 0.5,
    target_tokens: int = 2048,
    split_weights: dict[str, float] | None = None,
    seed: str = "corpus-v1",
) -> DataFrame:
    """Per-document manifest: (id_col, lang_pred, n_tokens, quality, split,
    token_offset, pack_bin) for every SURVIVING document. Deterministic: a
    pure function of (input rows, parameters); re-running on a grown corpus
    keeps every prior split assignment (hash_split subset stability).

    Drop order (each reason strictly after the previous): quality/language
    gate, exact duplicate (non-min id per content fingerprint), near-dup
    non-canonical (non-min id in a MinHash/Jaccard connected component).
    """
    profile = df.select(
        F.col(id_col),
        textfn.token_count(F.col(text_col)).alias("n_tokens"),
        textfn.quality_score(F.col(text_col)).alias("quality"),
        textfn.language_id(F.col(text_col)).alias("lang_pred"),
        textfn.fingerprint64(F.col(text_col)).alias("_fp"),
    )
    gated = profile.where(
        (F.col("quality") >= min_quality) & (F.col("n_tokens") > 0)
    )
    if langs:
        gated = gated.where(F.col("lang_pred").isin(list(langs)))
    # exact dedup: min id per fingerprint survives. localCheckpoint the tiny
    # survivor relation (id + 3 scalars): it feeds BOTH the near-dup text
    # semi-join and the kept/split/pack chain, and without the cut the full
    # profile scan (the regex-heavy quality/language projection over every
    # document) executes once per consumer. eager=True: building the
    # corpus DataFrame runs this job at call time, not at the caller's
    # action. The blocks live on the executors with no lineage behind them,
    # so losing an executor afterwards fails the build instead of
    # recomputing; rerun build_training_corpus from the start.
    rn = F.row_number().over(Window.partitionBy("_fp").orderBy(id_col))
    exact = (
        gated.withColumn("_rn", rn)
        .where(F.col("_rn") == 1)
        .drop("_rn", "_fp")
        .localCheckpoint(eager=True)
    )
    # near-dup canonicalization among the exact-dedup survivors: text
    # rejoins (semi) only for the surviving ids, pair generation stays
    # bucketed LSH, and only NON-canonical members are dropped.
    surviving_text = df.join(exact.select(id_col), id_col, "left_semi")
    pairs = minhash_candidate_pairs(
        surviving_text, text_col=text_col, id_col=id_col, min_jaccard=min_jaccard
    )
    non_canonical = (
        connected_components(pairs, "id_a", "id_b")
        .where(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias(id_col))
    )
    kept = exact.join(non_canonical, id_col, "left_anti")
    split = hash_split(kept, id_col=id_col, weights=split_weights, seed=seed)
    # lang_pred/quality ride the packer's bucket shuffle as carry columns —
    # the old form joined the packed output back to `split`, which both
    # re-executed the kept lineage and added a shuffle join
    packed = sequence_pack_bins(
        split,
        token_col="n_tokens",
        id_col=id_col,
        target_tokens=target_tokens,
        group_col="split",
        carry_cols=("lang_pred", "quality"),
    )
    return packed.select(
        id_col, "lang_pred", "n_tokens", "quality", "split", "token_offset", "pack_bin"
    )
