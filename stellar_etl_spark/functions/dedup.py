"""Near-duplicate detection for the training-data pipeline layer: MinHash +
LSH banding, SimHash, n-gram Jaccard, and the connected-component cluster
step after them. (Exact dedup is a group-by on ``text.normalized``; see
``plans/registry.py:q_doc_exact_dedup``.)

SimHash has one implementation, built on md5 gram hashes, so the DuckDB
oracle recomputes its exact hamming relation.

Design for 100 TB of documents:

- signatures are computed **JVM-side** (hash + higher-order array functions in
  whole-stage codegen) — no Python in the signature pass over the full corpus;
- candidate generation is an equi-join on LSH band keys (shuffle carries only
  (band_key, doc_id) pairs, not text);
- exact Jaccard verification runs only on candidate pairs (a tiny fraction of
  the corpus), again with array intersection JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from stellar_etl_spark.functions.text import normalized, rolling_hashes

# MinHash permutation i is min(xxhash64(i, shingle_hash)) — a universal-hash
# approximation of a random permutation. The production pipeline below is
# fully relational (shingle rows → per-permutation mins) because array-lambda
# higher-order functions evaluate interpreted in Spark (measured 28x slower).


def jaccard_ngrams(a: Column, b: Column, k: int = 3) -> Column:
    """Exact n-gram Jaccard similarity between two text columns."""
    ha, hb = F.array_distinct(rolling_hashes(a, k)), F.array_distinct(rolling_hashes(b, k))
    inter = F.size(F.array_intersect(ha, hb))
    union = F.size(ha) + F.size(hb) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(1.0))


def shingle_hash_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, sh) — one row per k-shingle hash, in relational form.

    This is the scale path: posexplode words → ``lead`` window → hash. Unlike
    the array/lambda form (:func:`rolling_hashes`), every step is whole-stage
    codegen; the interpreted higher-order-function evaluator never runs. Docs
    shorter than k words emit one shingle over their available words (nulls
    coalesced to position sentinels), so every doc has ≥1 shingle iff it has
    ≥1 word."""
    from pyspark.sql import Window

    words = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(normalized(F.col(text_col)), " ")).alias("pos", "w"),
    ).where(F.col("w") != "")
    h = words.select("id", "pos", F.xxhash64("w").alias("h0"))
    w = Window.partitionBy("id").orderBy("pos")
    lead_cols = [F.lead("h0", j).over(w).alias(f"h{j}") for j in range(1, k)]
    hh = h.select("id", "pos", "h0", *lead_cols)
    # full shingles, plus the single truncated shingle at pos 0 for short docs
    full = F.col(f"h{k - 1}").isNotNull()
    keep = full | ((F.col("pos") == 0) & F.col(f"h{k - 1}").isNull())
    sh = F.xxhash64(*[F.coalesce(F.col(f"h{j}"), F.lit(-(j + 1))) for j in range(k)])
    return hh.where(keep).select("id", sh.alias("sh"))


def minhash_signature_rows(
    shingles_df: DataFrame, num_perm: int = 32
) -> DataFrame:
    """(id, p, m): min-hash per permutation, from (id, sh) rows. The explode
    fans each shingle to ``num_perm`` rows but the ``min`` aggregation is
    map-side partial, so the shuffle carries only num_perm rows per doc."""
    perms = shingles_df.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.lit(num_perm - 1))).alias("p"),
        "sh",
    ).select("id", "p", F.xxhash64("p", "sh").alias("ph"))
    return perms.groupBy("id", "p").agg(F.min("ph").alias("m"))


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    k: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """MinHash/LSH near-dup pipeline, relational end-to-end:
    shingle rows → per-permutation mins → band keys → bucket self-join →
    exact Jaccard verify on candidate pairs only. Returns (id_a, id_b,
    jaccard) with id_a < id_b and jaccard >= min_jaccard.

    Shuffle budget: 1 window (by id) + 2 small aggs (≤ num_perm rows/doc) +
    the band-key equi-join + the verify joins — text payload moves only for
    verified candidates, never through the LSH."""
    rows = num_perm // bands
    # NOTE (r6 negative result, measured): rewriting this as ONE wide
    # groupBy(id) with num_perm min(xxhash64(p, sh)) aggregate columns —
    # "avoid the num_perm-fold explode" — ran 2.5x SLOWER at sf1.0
    # (doc_minhash_pairs 5.5 -> 14.1 s): 32 aggregation buffers each with
    # an embedded xxhash64 blow past what the hash-aggregate codegen
    # handles, while the row form's explode + 2-level partial aggregation
    # is fully codegen'd and its shuffle already carries only num_perm rows
    # per doc. Keep the row form.
    mins = minhash_signature_rows(shingle_hash_rows(df, text_col, id_col, k), num_perm)
    banded = (
        mins.withColumn("band", (F.col("p") / rows).cast("int"))
        .groupBy("id", "band")
        .agg(F.array_sort(F.collect_list(F.struct("p", "m"))).alias("pm"))
        .select(
            "id",
            F.xxhash64("band", F.transform(F.col("pm"), lambda x: x["m"]).cast("string")).alias(
                "band_key"
            ),
        )
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    texts = df.select(F.col(id_col).alias("tid"), F.col(text_col).alias("txt"))
    joined = (
        cands.join(texts.withColumnRenamed("tid", "id_a").withColumnRenamed("txt", "txt_a"), "id_a")
        .join(texts.withColumnRenamed("tid", "id_b").withColumnRenamed("txt", "txt_b"), "id_b")
    )
    verified = joined.select(
        "id_a", "id_b", jaccard_ngrams(F.col("txt_a"), F.col("txt_b"), k).alias("jaccard")
    )
    return verified.where(F.col("jaccard") >= min_jaccard)


# --------------------------------------------------------------------------
# SimHash: gram hashes from md5 hex halves (32+32 bits), signature kept as
# two 32-bit halves — every step is reproducible in any engine with md5 +
# bit ops, so the DuckDB oracle recomputes the exact hamming<=h relation
# (plans/registry.py builds the mirroring SQL).
# --------------------------------------------------------------------------
def shingle_text_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, gram) — one row per k-shingle OCCURRENCE, gram as text.

    Same relational shape as :func:`shingle_hash_rows` (posexplode → lead
    window, codegen) but carrying the gram string: docs shorter than k words
    emit one truncated gram of their available words (``concat_ws`` skips the
    null leads), so every doc emits >=1 gram (the empty doc's gram is '')."""
    from pyspark.sql import Window

    words = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(normalized(F.col(text_col)), " ")).alias("pos", "w"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    lead_cols = [F.lead("w", j).over(w).alias(f"w{j}") for j in range(1, k)]
    ww = words.select("id", "pos", F.col("w").alias("w0"), *lead_cols)
    full = F.col(f"w{k - 1}").isNotNull()
    keep = full | ((F.col("pos") == 0) & F.col(f"w{k - 1}").isNull())
    gram = F.concat_ws(" ", *[F.col(f"w{j}") for j in range(k)])
    return ww.where(keep).select("id", gram.alias("gram"))


def _md5_half(col: Column, start: int) -> Column:
    """32 bits of md5(col) as a long, from hex chars [start, start+8)."""
    return F.conv(F.substring(F.md5(col), start, 8), 16, 10).cast("long")


def simhash_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, sig_hi, sig_lo): 64-bit SimHash as two 32-bit halves, gram hashes
    from md5 — one groupBy with 64 map-side-partial vote sums, then bit-pack.
    Fully codegen, cross-engine reproducible."""
    gh = shingle_text_rows(df, text_col, id_col, k).select(
        "id",
        _md5_half(F.col("gram"), 1).alias("h_hi"),
        _md5_half(F.col("gram"), 9).alias("h_lo"),
    )
    vote = lambda h, b: F.sum(  # noqa: E731
        F.when(
            F.shiftrightunsigned(F.col(h), b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))
    )
    votes = gh.groupBy("id").agg(
        *[vote("h_hi", b).alias(f"vh{b}") for b in range(32)],
        *[vote("h_lo", b).alias(f"vl{b}") for b in range(32)],
    )

    def pack(prefix: str) -> Column:
        out = F.lit(0).cast("long")
        for b in range(32):
            out = out.bitwiseOR(
                F.when(F.col(f"{prefix}{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
            )
        return out

    return votes.select("id", pack("vh").alias("sig_hi"), pack("vl").alias("sig_lo"))


def _check_block_recall(max_hamming: int) -> None:
    """4x16-bit block banding guarantees recall 1 only for hamming <= 3
    (pigeonhole: 4 bit flips can land one in each block, so no block need
    match). Silently under-reporting pairs at larger radii would also fail
    the brute-force SQL oracle — reject instead."""
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4-block banding recall "
            "guarantee (<= 3); add more/smaller blocks for a larger radius"
        )


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    k: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming) for SimHash hamming <= max_hamming.

    Candidates via 4x16-bit block banding (pigeonhole: hamming <= 3 implies
    at least one equal block — recall exactly 1), verified with bit_count on
    the halves. Shuffle carries (block, id, sig) only."""
    _check_block_recall(max_hamming)
    sigs = simhash_rows(df, text_col, id_col, k)
    blocks = sigs.select(
        "id",
        "sig_hi",
        "sig_lo",
        F.posexplode(
            F.array(
                F.shiftrightunsigned(F.col("sig_hi"), 16).bitwiseAND(F.lit(0xFFFF)),
                F.col("sig_hi").bitwiseAND(F.lit(0xFFFF)),
                F.shiftrightunsigned(F.col("sig_lo"), 16).bitwiseAND(F.lit(0xFFFF)),
                F.col("sig_lo").bitwiseAND(F.lit(0xFFFF)),
            )
        ).alias("block_idx", "block_val"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (
                F.bit_count(F.col("a.sig_hi").bitwiseXOR(F.col("b.sig_hi")))
                + F.bit_count(F.col("a.sig_lo").bitwiseXOR(F.col("b.sig_lo")))
            ).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cands.where(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# --------------------------------------------------------------------------
# Cluster assignment: the step AFTER pair generation in a dedup pipeline —
# near-dup pairs form a graph; keeping one canonical doc per CONNECTED
# COMPONENT (not per pair) is what actually removes transitive duplicate
# chains (A~B, B~C, A!~C) from a training corpus.
# --------------------------------------------------------------------------
def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iters: int = 25
) -> DataFrame:
    """(id, cluster_id): connected components of the undirected pair graph,
    labeled by each component's minimum id.

    Min-label propagation: every node starts labeled with itself; each round
    lowers a node's label to the min over itself and its direct neighbors,
    converging after O(graph diameter) rounds. Near-dup components are dense
    (LSH buckets connect most members pairwise — diameter is small and does
    NOT grow with corpus size), so the loop stays short at 100 TB; each round
    is one equi-join of the edge list with the label table plus one
    map-side-combining ``min`` aggregation, both shuffled by node id. The
    round's result is ``localCheckpoint()``-ed so lineage (and the replayed
    join cascade) stays O(1) across rounds, and driver-side loop control
    reads a single converged? scalar per round — row data never collects.

    Raises after ``max_iters`` non-converged rounds instead of returning a
    partially-propagated (i.e. wrong) clustering. Nodes with no edge are not
    in the output — singletons are their own trivial cluster by definition.
    """
    # Materialize the edge list ONCE, BEFORE the self-union: `sym` is
    # re-scanned every round, and without a checkpoint the whole upstream
    # pair-generation pipeline (LSH join + Jaccard verify for near-dup
    # input) would re-execute per iteration — and a union of two un-
    # checkpointed branches would even pay that pipeline twice up front.
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint()
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = sym.select(F.col("u").alias("id")).distinct().withColumn("lbl", F.col("id"))
    prev = None  # superseded round checkpoint, unpersisted once replaced
    # max_iters propagation rounds need max_iters + 1 loop passes: detecting
    # convergence costs a round, and a component of diameter exactly
    # max_iters makes its last label change IN round max_iters.
    for _ in range(max_iters + 1):
        neigh = (
            sym.join(labels.withColumnRenamed("id", "u"), "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.min("lbl").alias("nmin"))
        )
        # sym is symmetric, so every labeled node appears as a v — the inner
        # join below drops nothing.
        upd = labels.join(neigh, "id").select(
            "id", "lbl", F.least("lbl", "nmin").alias("new_lbl")
        ).localCheckpoint()  # eager: fully materialized before prev is dropped
        changed = upd.where(F.col("new_lbl") != F.col("lbl")).limit(1).count()
        labels = upd.select("id", F.col("new_lbl").alias("lbl"))
        # The previous round's checkpoint blocks are dead now (this round's
        # labels derive from `upd`'s own truncated lineage) — drop them
        # instead of pinning up to max_iters copies of the label table in
        # executor storage. NEVER unpersist the live `upd`: a localCheckpoint
        # has no lineage to recompute from.
        if prev is not None:
            prev.unpersist()
        prev = upd
        if changed == 0:
            e.unpersist()  # the returned labels depend only on `upd`
            return labels.select("id", F.col("lbl").alias("cluster_id"))
    e.unpersist()
    if prev is not None:
        prev.unpersist()  # the last round's checkpoint is dead on the raise path too
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        "component diameter exceeds the bound; raise max_iters"
    )
