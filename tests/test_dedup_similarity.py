import pyspark.sql.functions as F

from stellar_etl_spark.functions.dedup import (
    jaccard_ngrams,
    minhash_candidate_pairs,
    simhash_near_dups,
    simhash_rows,
)
from stellar_etl_spark.functions.similarity import cosine_topk, lsh_topk


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    near = "the quick brown fox jumps over the lazy dog near the quiet river bank tonight"
    other = "completely different content about spark shuffle partitions and window state"
    rows = [
        (1, base),
        (2, near),                      # near-dup of 1
        (3, base.upper() + "!!!"),      # exact dup of 1 after normalization
        (4, other),
        (5, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard(spark):
    df = _docs(spark)
    pair = df.where("doc_id=1").crossJoin(df.where("doc_id=2").selectExpr("text as t2"))
    j = pair.select(jaccard_ngrams(F.col("text"), F.col("t2")).alias("j")).collect()[0]["j"]
    assert 0.7 < j < 1.0
    same = df.where("doc_id=1").select(jaccard_ngrams(F.col("text"), F.col("text")).alias("j")).collect()[0]["j"]
    assert same == 1.0


def test_minhash_finds_near_dup(spark):
    pairs = minhash_candidate_pairs(_docs(spark), min_jaccard=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert all(not (a == 4 or b == 4) for a, b in found)  # unrelated doc never pairs


def test_simhash_hamming(spark):
    df = _docs(spark)
    sigs = {
        r["id"]: (r["sig_hi"] << 32) | r["sig_lo"] for r in simhash_rows(df).collect()
    }

    def d(a, b):
        return bin(sigs[a] ^ sigs[b]).count("1")

    assert d(1, 2) < d(1, 4)  # near-dup closer than unrelated
    # the near-dup pair is found at the default radius (3)
    assert (1, 2) in {(r["id_a"], r["id_b"]) for r in simhash_near_dups(df).collect()}
    import pytest

    # radius 16 > the 4-block banding recall guarantee: raise, never
    # silently under-report
    with pytest.raises(ValueError, match="recall"):
        simhash_near_dups(df, max_hamming=16)


def test_cosine_topk_exact(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    vecs = rng.randn(30, 8).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = cosine_topk(emb, emb.where("vec_id < 2"), k=5)
    res = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got.collect()}
    # numpy oracle
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms.T
    for q in range(2):
        order = [i for i in np.argsort(-sims[q]) if i != q][:5]
        for rank, nid in enumerate(order, start=1):
            assert res[(q, rank)] == nid, (q, rank)


def test_embedding_near_dups_blocked_exact(spark):
    """Blocked all-pairs matches the numpy brute force exactly (recall 1),
    across several block counts (cross-block and same-block pairs)."""
    import numpy as np

    from stellar_etl_spark.functions.similarity import embedding_near_dups

    rng = np.random.RandomState(7)
    vecs = rng.randn(60, 8).astype("float64")
    # plant near-dups so some pairs clear the threshold
    vecs[11] = vecs[3] + 0.05 * rng.randn(8)
    vecs[42] = vecs[17] + 0.05 * rng.randn(8)
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms.T
    want = {
        (a, b)
        for a in range(60)
        for b in range(a + 1, 60)
        if sims[a, b] >= 0.6
    }
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for blocks in (1, 4, 7):
        got = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dups(emb, min_sim=0.6, num_blocks=blocks).collect()
        }
        assert got == want, blocks


def test_embedding_near_dups_distributed_plan(spark):
    """The near-dup operator must never materialize the corpus on the driver:
    no .collect()/.toPandas() in its source, and the plan is a grouped-map
    pandas exec over the block-pair shuffle."""
    import inspect

    from stellar_etl_spark.functions import similarity
    from stellar_etl_spark.functions.similarity import embedding_near_dups

    src = inspect.getsource(similarity.embedding_near_dups)
    assert ".collect(" not in src and ".toPandas(" not in src

    emb = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    plan = embedding_near_dups(emb)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_lsh_topk_recall(spark):
    import numpy as np

    rng = np.random.RandomState(1)
    base = rng.randn(40, 16).astype("float32")
    # plant a very close neighbor for vec 0
    base[1] = base[0] + rng.randn(16).astype("float32") * 0.01
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = lsh_topk(emb, emb.where("vec_id = 0"), dim=16, k=5, bits=4)
    neighbors = [r["neighbor_id"] for r in got.orderBy("rank").collect()]
    assert neighbors and neighbors[0] == 1  # the planted near-dup lands in the bucket and ranks first


def test_lsh_topk_multitable_amplifies_recall(spark):
    """OR-amplification across tables + multi-probe recovers the exact top-k
    on hard (near-orthogonal) data where a single table cannot (recall grid
    at sf0.1 in BENCH/BASELINE.md: bits=6/probe=2/tables=8 -> recall 1.0)."""
    import numpy as np

    from stellar_etl_spark.functions.similarity import cosine_topk

    rng = np.random.RandomState(3)
    base = rng.randn(80, 16).astype("float32")
    rows = [(i, [float(x) for x in base[i]]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where("vec_id < 5")
    want = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(emb, q, dim=16, k=5, bits=4, probe_hamming=1, tables=8).collect()
    }
    assert len(want & got) / len(want) >= 0.9


def test_ivf_topk_full_probe_is_exact_and_partial_probe_approximates(spark):
    """With n_probe == n_lists the probed lists cover the whole corpus, so
    IVF must equal the brute force exactly; with a partial probe it returns
    a subset-ranked approximation whose hits all appear in the exact top-k
    order. The planted near-duplicate must survive even a 1-probe search
    (it shares its twin's list by construction of the quantizer)."""
    import numpy as np

    from stellar_etl_spark.functions.similarity import cosine_topk, ivf_topk

    rng = np.random.RandomState(7)
    base = rng.randn(60, 16).astype("float32")
    base[1] = base[0] + rng.randn(16).astype("float32") * 0.01
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where("vec_id < 4")

    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in cosine_topk(emb, q, k=5).where("rank = 1").collect()
    }
    full = ivf_topk(emb, q, k=5, n_lists=8, n_probe=8)
    got_full = sorted(map(tuple, full.select("query_id", "rank", "neighbor_id").collect()))
    want = sorted(
        map(tuple, cosine_topk(emb, q, k=5).select("query_id", "rank", "neighbor_id").collect())
    )
    assert got_full == want

    partial = ivf_topk(emb, q, k=5, n_lists=8, n_probe=2)
    rows_p = partial.collect()
    assert rows_p, "partial probe returned nothing"
    # the planted twin of query 0 ranks first even at n_probe=1
    one = ivf_topk(emb, emb.where("vec_id = 0"), k=5, n_lists=8, n_probe=1).orderBy("rank").collect()
    assert one and one[0]["neighbor_id"] == 1
    assert exact[0] == 1


def test_connected_components_chain_and_islands(spark):
    """A-B-C chain collapses transitively (A!~C directly); D-E separate;
    F (no edges) absent; labels are the component min; convergence needs
    diameter rounds (chain diameter 2 here)."""
    from stellar_etl_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 4)], ["id_a", "id_b"]
    )
    got = {
        (r["id"], r["cluster_id"])
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)}


def test_connected_components_raises_past_max_iters(spark):
    from stellar_etl_spark.functions.dedup import connected_components

    # a 6-node path graph needs ~5 propagation rounds; cap at 2 must raise
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], ["id_a", "id_b"]
    )
    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=2)
    # a component whose diameter EQUALS max_iters converges (detecting
    # convergence costs one extra loop pass, not one extra allowed round)
    got = {
        (r["id"], r["cluster_id"])
        for r in connected_components(edges, max_iters=5).collect()
    }
    assert got == {(i, 1) for i in range(1, 7)}
