"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set against the corpus; dot products via ``zip_with`` + ``aggregate``
  (JVM-side, no Python). The corpus is scanned once; per-row work is O(d).
- :func:`lsh_topk` — the scale path: random-hyperplane signatures bucket the
  corpus so each query probes only its bucket (plus multi-probe neighbors).
  Hyperplanes are a ±1 matrix derived from md5 (:func:`portable_planes`), so
  results are replayable and the DuckDB oracle recomputes the same buckets.

At 100 TB the brute-force variant is the *verification* tool (exact answers on
a sample); LSH is the production path — the bucket join shuffles only
(table, bucket, vec_id) keys, vectors rejoin once for deduped candidates,
and AQE handles bucket skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F

_EPS = 1e-12


def _dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns via the higher-order
    ``zip_with`` + ``aggregate`` fold.

    Keep this form: a dim-unrolled multiply-add chain of ``GetArrayItem``
    terms (the "compile the inner loop" instinct) was built and MEASURED
    SLOWER in every realistic plan shape on this build — 6-8x slower for
    multi-table LSH signatures (a tables*bits*dim-term projection exceeds
    what whole-stage codegen will take on), 4-10x slower in interpreted
    stages (BroadcastNestedLoopJoin scoring, generator input expressions —
    no codegen, no subexpression elimination, ~4 boxed node-evals per
    element vs the fold's tight loop), and only ~1.5x faster in the one
    narrow case of a single signature directly over a scan. See
    BENCH/ADDENDA.md "Unrolled dot kernel: negative result". The effective
    O(dim) lever is hoisting NORMS out of per-pair scoring (O((n+q)d)
    instead of O(nqd)) — done in every scoring join below — and keeping
    vectors off the shuffles, not unrolling the fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<double> columns."""
    return _dot(a, b) / (_norm(a) * _norm(b) + F.lit(_EPS))


def as_double_array(col: Column) -> Column:
    return col.cast("array<double>")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must be small (broadcast); corpus is scanned once. Ties break
    on neighbor id for deterministic, replayable output. Norms are hoisted
    to one per vector row — O((n+q)d) — instead of recomputed inside every
    pair's cosine — O(nqd); same values, so sims are unchanged (the scoring
    stage sits over a non-equi BroadcastNestedLoopJoin, which this build
    does not whole-stage-codegen, so per-pair folds are interpreted and
    worth 3x here)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(F.col(vec_col)).alias("qvec")
    ).withColumn("_qn", _norm(F.col("qvec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(F.col(vec_col)).alias("cvec")
    ).withColumn("_cn", _norm(F.col("cvec")))
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qvec"), F.col("cvec"))
            / (F.col("_qn") * F.col("_cn") + F.lit(_EPS)),
            6,
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def embedding_near_dups(
    corpus: DataFrame,
    min_sim: float = 0.6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (id_a < id_b) with cosine
    similarity >= min_sim. Exact (recall 1), fully distributed.

    Blocked all-pairs: rows hash into ``num_blocks`` blocks; each unordered
    block pair (bi <= bj) becomes one task holding both blocks' vectors, and
    the per-task work is a single numpy matmul inside ``applyInPandas``
    (BLAS, not expression-tree work — measured ~40x faster than the
    Column-expression cosine at 2k vectors). Nothing ever reaches the driver.

    Scale shape: exact all-pairs is inherently O(n^2) total compute; the
    blocked layout makes it O(n^2 / B^2) compute and O(2n/B) memory per task
    with B(B+1)/2-way parallelism, shuffling n*B vector rows once. At real
    corpus scale set ``num_blocks ~ n / 50_000``; for approximate-but-cheaper
    candidates at high thresholds use the LSH route (:func:`lsh_topk` /
    ``simhash_near_dups``) instead.

    Threshold comparison uses the UNROUNDED similarity (the reported ``sim``
    is rounded to 6 for display) so engines that round half-away-from-zero
    vs half-even cannot disagree on inclusion at the boundary."""
    import numpy as np
    import pandas as pd

    B = int(num_blocks)
    rows = corpus.select(F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("v"))
    tasks = (
        rows.withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(B)).cast("int"))
        .withColumn("partner", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
        .select(
            F.least("blk", "partner").alias("bi"),
            F.greatest("blk", "partner").alias("bj"),
            "blk",
            "id",
            "v",
        )
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": np.array([], dtype=np.int64),
                "id_b": np.array([], dtype=np.int64),
                "sim": np.array([], dtype=np.float64),
            }
        )
        if pdf.empty:
            return empty
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        norms = np.sqrt((mat * mat).sum(axis=1))
        if bi == bj:
            a_ids, a_mat, a_norms = ids, mat, norms
            b_ids, b_mat, b_norms = ids, mat, norms
        else:
            am = pdf["blk"].to_numpy() == bi
            a_ids, a_mat, a_norms = ids[am], mat[am], norms[am]
            b_ids, b_mat, b_norms = ids[~am], mat[~am], norms[~am]
        if len(a_ids) == 0 or len(b_ids) == 0:
            return empty
        sims = (a_mat @ b_mat.T) / (np.outer(a_norms, b_norms) + _EPS)
        if bi == bj:
            # each unordered pair appears twice in the square matrix: keep the
            # upper triangle by id
            ai, bx = np.nonzero((sims >= min_sim) & (a_ids[:, None] < b_ids[None, :]))
            id_a, id_b = a_ids[ai], b_ids[bx]
        else:
            # cross-block pairs appear exactly once; orient by id
            ai, bx = np.nonzero(sims >= min_sim)
            id_a = np.minimum(a_ids[ai], b_ids[bx])
            id_b = np.maximum(a_ids[ai], b_ids[bx])
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "sim": np.round(sims[ai, bx], 6)})

    return tasks.groupBy("bi", "bj").applyInPandas(fn, "id_a long, id_b long, sim double")


def portable_planes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5(seed:b:i) — computable by any
    engine with md5, so the DuckDB oracle rebuilds the same matrix and
    recomputes the exact buckets."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{seed}:{b}:{i}".encode()).digest()[0] & 1 == 0 else -1.0
            for i in range(dim)
        ]
        for b in range(bits)
    ]


def planes_signature(vec: Column, planes: list[list[float]]) -> Column:
    """LSH signature against literal hyperplanes: bit b = sign(<v, planes[b]>).
    The per-plane fold is deliberately the HOF form — see :func:`_dot` for
    the measured negative result on unrolling it."""
    out = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        arr = F.array(*[F.lit(x) for x in plane])
        out = out.bitwiseOR(
            F.when(_dot(vec, arr) > 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return out


def _probe_masks(bits: int, radius: int) -> list[int]:
    """All XOR masks within Hamming distance ``radius`` of 0 over ``bits``
    bits (mask 0 = the home bucket), in deterministic order."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for positions in combinations(range(bits), r):
            m = 0
            for p in positions:
                m |= 1 << p
            masks.append(m)
    return masks


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    probe_hamming: int = 0,
    tables: int = 1,
    broadcast_queries: bool | None = None,
) -> DataFrame:
    """Approximate top-k: join query and corpus on the LSH bucket, rank within
    bucket. Two standard recall amplifiers compose:

    - ``probe_hamming`` > 0 multi-probes — each query additionally scans every
      bucket within that Hamming distance of its own (sum_{r<=R} C(bits, r)
      extra equi-join keys on the tiny query side only);
    - ``tables`` > 1 OR-amplifies across independent hash tables — a
      candidate needs to collide in ANY table. The corpus is hashed (and its
      join keys replicated) once per table: the classic index-size-for-recall
      trade. The bucket join is ID-ONLY — the exchange carries (table,
      bucket, id), never the vectors — and candidate pairs are deduped on
      (query_id, neighbor_id) BEFORE any cosine is computed, so a corpus
      embedding moves at most once (for verified candidates) regardless of
      ``tables``, and duplicate cross-table collisions pay zero O(dim) work.

    ``broadcast_queries`` picks the join strategy for the probe-expanded
    query side: ``True`` forces a broadcast (right for top-k-for-few-queries
    — the sampled-query shape), ``False`` leaves it to the planner/AQE
    (REQUIRED when queries ≈ corpus: tables*probes*|queries| rows would blow
    the broadcast). Default ``None`` guards only the REPLICATION factor —
    it broadcasts iff ``tables * n_probe_keys <= 4096`` — because the
    query-side row count is the caller's knowledge, not cheaply knowable
    here; callers joining a corpus-sized query set MUST pass ``False``
    (pinned in tests/test_plans.py::test_lsh_topk_join_variants).

    Table ``t`` hashes against ``portable_planes(dim, bits, seed + t)``, so
    table 0 is the bucketing the DuckDB oracle of ``ann_lsh_topk`` rebuilds.
    The planes are literals: the plan carries ``dim * bits * tables``
    constants. No caller goes beyond dim 64; a much wider embedding means
    a much larger plan.

    Recall is a function of true similarity: high-sim neighbors collide
    almost surely, near-orthogonal ones almost never — measured numbers in
    BENCH/BASELINE.md."""
    planes = [portable_planes(dim, bits, seed + t) for t in range(tables)]

    def sigs(df: DataFrame, idc: str, vc: str) -> DataFrame:
        # signatures are computed scan-side from the vector, then the vector
        # is DROPPED before the explode: only (id, tbl, bkt) enters the
        # bucket-join exchange
        return df.select(
            F.col(idc),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            planes_signature(F.col(vc), planes[t]).alias("bkt"),
                        )
                        for t in range(tables)
                    ]
                )
            ).alias("tb"),
        ).select(idc, F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt"))

    # norms hoisted: one per vector row (computed scan-side, rejoined with
    # the vector for the verified candidates) instead of two per candidate
    # pair — same values, so sims are bit-unchanged
    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(F.col(vec_col)).alias("cvec")
    ).withColumn("_cn", _norm(F.col("cvec")))
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(F.col(vec_col)).alias("qvec")
    ).withColumn("_qn", _norm(F.col("qvec")))
    c = sigs(c_vecs, "neighbor_id", "cvec")
    q = sigs(q_vecs, "query_id", "qvec")
    if probe_hamming > 0:
        masks = _probe_masks(bits, probe_hamming)
        q = q.select(
            "query_id",
            "tbl",
            F.explode(
                F.array(*[F.col("bkt").bitwiseXOR(F.lit(m).cast("long")) for m in masks])
            ).alias("bkt"),
        )
    if broadcast_queries is None:
        n_probe_keys = len(_probe_masks(bits, probe_hamming)) if probe_hamming > 0 else 1
        broadcast_queries = tables * n_probe_keys <= 4096
    q_side = F.broadcast(q) if broadcast_queries else q
    # within one table a corpus row has one bucket and probe keys are
    # distinct, but the same pair can collide in several TABLES — dedup on
    # (query, neighbor) BEFORE the vectors come back, so cosine runs exactly
    # once per unique candidate pair and corpus vectors shuffle once
    candidates = (
        c.join(q_side, ["tbl", "bkt"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = (
        candidates.join(c_vecs, "neighbor_id")
        .join(F.broadcast(q_vecs) if broadcast_queries else q_vecs, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (F.col("_qn") * F.col("_cn") + F.lit(_EPS)),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF-style ANN: a coarse quantizer partitions the corpus into
    ``n_lists`` inverted lists; each query scores only the vectors in its
    ``n_probe`` nearest lists. The quantizer is K deterministic MEDOIDS —
    the corpus vectors with the smallest md5(seed:id) — rather than k-means
    centroids, so BOTH engines (and any replay) reproduce the identical
    index with zero training state.

    Scale shape mirrors :func:`lsh_topk`'s fixed version: the medoids
    collapse to ONE broadcast row holding the array of (list_id, mvec), and
    corpus assignment is a fully NARROW projection — all ``n_lists`` cosines
    unrolled into an array of (msim, prio) structs, ``array_max`` picks the
    argmax (prio encodes the asc-list_id tiebreak) — zero Exchange and zero
    Window on the 10^12-row side (VERDICT r4 #3; the old crossJoin +
    row_number form replicated every corpus row ``n_lists``× through a
    shuffle+sort). The inverted-list join carries (id, list_id) ONLY — every
    corpus vector is in exactly one list, so candidates are duplicate-free
    by construction and vectors rejoin once for scoring. Expected candidate
    work per query: ``n_probe / n_lists`` of the corpus.

    Tiny-corpus caveat (measured): with the corpus in a single input split
    the narrow assignment runs in one task, so at bench scale (2k vectors)
    it reads ~1 s slower than the old shuffle form, which incidentally
    spread the replicated rows over all cores. At real scale the input's
    own splits provide that parallelism for free and the removed
    Exchange+sort of an n_lists×-replicated relation dominates — the
    narrow form is the right plan where it matters.

    Recall comes from probing multiple lists (near-boundary neighbors live
    in adjacent cells); measured numbers alongside the LSH grid in
    BENCH/BASELINE.md.

    ``broadcast_queries`` follows :func:`lsh_topk`'s contract: True (default)
    broadcasts the probe lists and query vectors — right for the sampled-
    query top-k shape; pass False when queries ≈ corpus so the planner/AQE
    picks a shuffle join instead of blowing the broadcast."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(F.col(vec_col)).alias("cvec")
    ).withColumn("_cn", _norm(F.col("cvec")))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(F.col(vec_col)).alias("qvec")
    ).withColumn("_qn", _norm(F.col("qvec")))
    med = (
        c.withColumn(
            "_r", F.md5(F.concat(F.lit(f"{seed}:"), F.col("neighbor_id").cast("string")))
        )
        .orderBy("_r", "neighbor_id")
        .limit(n_lists)
        .select(F.col("neighbor_id").alias("list_id"), F.col("cvec").alias("mvec"))
    )

    # the n_lists medoids as ONE row: array of (list_id, mvec, mnorm) sorted
    # by list_id asc (sort_array on the struct orders by the first field).
    # Medoid norms ride the broadcast so the per-row argmax pays them zero
    # HOF aggregates (each _norm is an interpreted O(dim) fold).
    med_arr = med.agg(
        F.sort_array(
            F.collect_list(F.struct("list_id", "mvec", _norm(F.col("mvec")).alias("mnorm")))
        ).alias("meds")
    )

    def assign_one(df: DataFrame, idc: str, vc: str) -> DataFrame:
        # fully narrow argmax: single-row broadcast nested-loop join, then
        # all n_lists cosines unrolled in one projection — per row that is
        # n_lists dot folds + ONE own-norm fold (hoisted below; the naive
        # per-cosine form re-folds both norms n_lists times, measured ~2x
        # slower end-to-end). msim arithmetic is kept bit-identical to
        # :func:`cosine` — same round(dot / (norm_c * norm_m + eps), 6) —
        # so the DuckDB oracle's recomputed assignment matches exactly.
        # prio = n_lists - i over the list_id-ascending array makes
        # array_max's struct comparison break msim ties on the SMALLEST
        # list_id — identical to the window form's
        # orderBy(desc(msim), asc(list_id)). F.get returns NULL past the
        # array end (corpus smaller than n_lists); coalesce to -2.0 keeps
        # any real cosine (>= -1) winning over a missing slot.
        # reuse the hoisted per-row norm (_cn, defined once where c is
        # built) rather than defining the same fold a second time — a tweak
        # to one copy would silently desync assignment from scoring
        j = df.crossJoin(F.broadcast(med_arr)).withColumn("_cnorm", F.col("_cn"))
        best = F.array_max(
            F.array(
                *[
                    F.struct(
                        F.coalesce(
                            F.round(
                                _dot(F.col(vc), F.get("meds", i)["mvec"])
                                / (F.col("_cnorm") * F.get("meds", i)["mnorm"] + F.lit(_EPS)),
                                6,
                            ),
                            F.lit(-2.0),
                        ).alias("msim"),
                        F.lit(n_lists - i).alias("prio"),
                    )
                    for i in range(n_lists)
                ]
            )
        )
        return j.select(
            idc,
            F.get(F.col("meds"), F.lit(n_lists) - best["prio"])["list_id"].alias("list_id"),
        )

    def nearest_lists(df: DataFrame, idc: str, vc: str, n: int) -> DataFrame:
        # window form, kept for the n_probe > 1 QUERY side only (tiny)
        scored = df.crossJoin(F.broadcast(med)).select(
            idc, "list_id", F.round(cosine(F.col(vc), F.col("mvec")), 6).alias("msim")
        )
        w = Window.partitionBy(idc).orderBy(F.desc("msim"), F.asc("list_id"))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= n)
            .select(idc, "list_id")
        )

    c_lists = assign_one(c, "neighbor_id", "cvec")  # one list per vector, narrow
    q_lists = nearest_lists(q, "query_id", "qvec", n_probe)
    q_side = F.broadcast(q_lists) if broadcast_queries else q_lists
    candidates = (
        c_lists.join(q_side, "list_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    scored = (
        candidates.join(c, "neighbor_id")
        .join(F.broadcast(q) if broadcast_queries else q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (F.col("_qn") * F.col("_cn") + F.lit(_EPS)),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )
