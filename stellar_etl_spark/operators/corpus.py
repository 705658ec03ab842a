"""End-to-end training-corpus construction: the composition every stage of
this package exists for —

    quality/language gate -> exact dedup -> near-dup cluster
    canonicalization -> deterministic holdout split -> per-split
    sequence packing

One call produces a per-document manifest (keep/drop with reason, split,
token offset, pack bin) from which a shard writer can lay out training
sequences. Every stage is the already-tested operator: the gate and
fingerprints are one narrow scan; exact dedup keeps the min id per
normalized-content fingerprint (one hash shuffle of (fp, id)); near-dup
canonicalization keeps one doc per connected component of the verified
MinHash pair graph (functions/dedup.py); the split is a pure function of
(seed, id); packing is the distributed two-phase prefix sum. Text never
rides any shuffle except the candidate-verify join inside pair generation.
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
    # document) executes once per consumer.
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


def write_training_shards(
    manifest: DataFrame,
    documents: DataFrame,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> None:
    """Materialize the packed corpus: text joins the manifest ONCE (the only
    time text moves), shards land partitioned by split with rows ordered by
    their global token offset, so a sequential reader of one split streams
    documents in packing order (file order within a split is recoverable
    from min(token_offset) per file).

    Partitioning is ``repartitionByRange(split, token_offset)`` — the old
    ``repartition("split")`` hash-partitioned on a 3-value column, which
    funneled ~98% of a real corpus (the 'train' split) through ONE
    sort-and-write task: correct at test scale, THE bottleneck and an OOM
    at 100 TB. Range partitioning spreads each split over many tasks whose
    rows are contiguous in token_offset; the within-task sort leads with
    ``split`` so the writer's required child ordering on the partition
    column is already satisfied (no stacked writer Sort) even for the rare
    task straddling a split boundary.

    ``num_partitions=None`` uses the session shuffle partitioning — set it
    ~ (corpus bytes / target file size) on a real run. Values below 1 raise
    ``ValueError``."""
    if num_partitions is not None and num_partitions < 1:
        raise ValueError(f"num_partitions must be >= 1 or None, got {num_partitions}")
    joined = manifest.join(documents.select(id_col, text_col), id_col)
    n = num_partitions or int(joined.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (
        joined.repartitionByRange(n, "split", "token_offset")
        .sortWithinPartitions("split", "token_offset")
        .write.mode("overwrite")
        .partitionBy("split")
        .parquet(out_dir)
    )
