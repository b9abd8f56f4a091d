"""Operator correctness: dedup, similarity, textstats, multimodal —
each verified against an independent pure-Python recomputation (and, where
used by __spark_entry__, against DuckDB in test_queries.py)."""

import hashlib
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from disco_crawl_spark.operators import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),      # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),      # near dup
        (3, "completely different text about spark engines"),
        (4, "completely different text about spark engines !"),  # near dup of 3
        (5, "der schnelle braune fuchs und die faule katze und der hund"),
        (6, "short"),
        (7, ""),
    ]
    return spark.createDataFrame(base, "doc_id int, text string")


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r["dup_count"]
           for r in dedup.exact_dedup(docs, "text", "doc_id").collect()}
    assert out[0] == 2          # 0 and 1 collapse, min id kept
    assert 1 not in out
    assert out[3] == 1


def test_minhash_matches_python_reference(spark, docs):
    rows = dedup.minhash_signatures(docs, "text", "doc_id",
                                    num_hashes=16, shingle_len=3).collect()
    sig = {r["doc_id"]: r["sig"] for r in rows}
    # independent recomputation of the spec: md5→uint64 per token, uint64
    # polynomial fold per 3-token shingle, 32-bit mask, distinct, then
    # min over the universal (a*x+b) mod p family with a,b < 2^31
    rng = np.random.RandomState(42)
    M = (1 << 61) - 1
    a = rng.randint(1, 1 << 31, size=16, dtype=np.int64)
    b = rng.randint(0, 1 << 31, size=16, dtype=np.int64)
    t = "the quick brown fox jumps over the lazy dog"
    toks = t.split()
    P = 1099511628211
    sh = set()
    for i in range(len(toks) - 2):
        acc = 0
        for tok in toks[i:i + 3]:
            th = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            acc = (acc * P + th) % (1 << 64)
        sh.add(acc & 0xFFFFFFFF)
    h = np.array(sorted(sh), dtype=np.int64)
    expect = ((a[:, None] * h[None, :] + b[:, None]) % M).min(axis=1)
    assert sig[0] == [int(x) for x in expect]
    assert sig[0] == sig[1]           # identical text, identical signature


def test_minhash_dedup_pairs_finds_near_dups(spark, docs):
    pairs = {(r["a"], r["b"]): r["jaccard"]
             for r in dedup.minhash_dedup_pairs(
                 docs, "text", "doc_id", threshold=0.5,
                 num_hashes=32, bands=8).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs     # near dup via shared shingles
    assert not any(a == 3 or b == 3 for (a, b) in pairs if (a, b) != (3, 4))


def test_simhash_near_dups(spark):
    # simhash needs longer texts for near-dup stability: one-word edit on a
    # 48-token doc lands within a few bits; tiny docs are out of its regime
    long = ("crawl frontier scheduling requires politeness budgets robots "
            "rules deterministic ordering snapshot checkpoints partition "
            "lineage metrics and careful shuffle placement across executors "
            "when the corpus grows beyond memory bounds " * 2)
    rows = [(0, long), (1, long), (2, long.replace("metrics", "telemetry")),
            (3, "an entirely unrelated recipe for sourdough bread baking")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in dedup.simhash_near_dup_pairs(
                 df, "text", "doc_id", max_distance=6).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 6
    assert not any(3 in p for p in pairs)


def test_token_jaccard_pairs(spark, docs):
    pairs = {(r["a"], r["b"]): r["jaccard"]
             for r in dedup.token_jaccard_pairs(
                 docs, "text", "doc_id", threshold=0.7).collect()}
    assert pairs[(0, 1)] == 1.0
    # 0 vs 2: 8 shared distinct words of 9 union
    assert abs(pairs[(0, 2)] - round(7 / 9, 6)) < 1e-9 or (0, 2) in pairs


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id int, embedding array<float>")
    q = [float(x) for x in rng.normal(size=8)]
    got = [r["vec_id"] for r in
           similarity.cosine_topk(df, "embedding", "vec_id", q, k=5).collect()]
    sims = vecs @ np.array(q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    expect = list(np.argsort(-np.round(sims, 6), kind="stable")[:5])
    assert got == [int(x) for x in expect]


def test_lsh_ann_recall(spark):
    rng = np.random.RandomState(11)
    vecs = rng.normal(size=(300, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id int, embedding array<float>")
    indexed, H = similarity.lsh_index(df, "embedding", dim=16, planes=6)
    indexed = indexed.persist()
    q = [float(x) for x in vecs[17]]  # query near an existing vector
    res = similarity.lsh_query(indexed, H, "embedding", "vec_id", q,
                               k=5, probes=3).collect()
    assert res and res[0]["vec_id"] == 17 and res[0]["cosine"] == 1.0
    indexed.unpersist()


def test_quality_and_tokens(spark, docs):
    q = {r["doc_id"]: r for r in
         textstats.quality_score(docs, "text", "doc_id").collect()}
    assert q[0]["n_tokens"] == 9
    assert q[0]["stopword_ratio"] > 0
    t = {r["doc_id"]: r for r in
         textstats.token_count(docs, "text", "doc_id").collect()}
    assert t[0]["n_tokens"] == 9 and t[0]["n_distinct_tokens"] == 8


def test_domain_quality_gate(spark):
    rows = [
        # domain "good": long prose with stopwords -> high score
        (1, "good", "the quick brown fox jumps over the lazy dog and runs on"),
        (2, "good", "this is a long and sensible sentence with many words in it"),
        # domain "bad": degenerate junk -> low score
        (3, "bad", "!!! ??? ,,,"),
        (4, "bad", "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, src string, text string")
    out = textstats.domain_quality_gate(
        df, "text", "doc_id", "src", top_k=1).collect()
    assert {r["doc_id"] for r in out} == {1, 2}
    assert all(r["src"] == "good" and r["domain_docs"] == 2 for r in out)


def test_lang_id(spark, docs):
    langs = {r["doc_id"]: r["lang_guess"] for r in
             textstats.language_id(docs, "text", "doc_id").collect()}
    assert langs[0] == "en"
    assert langs[5] == "de"


def test_fingerprint_overlap(spark, docs):
    pairs = {(r["a"], r["b"]): r["shared"] for r in
             textstats.fingerprint_overlap_pairs(
                 docs, "text", "doc_id", min_shared=1).collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs


def test_readability_matches_kernel(spark, docs):
    from disco_crawl_spark import refsem
    rows = textstats.readability(docs, "text", "doc_id").collect()
    got = {r["doc_id"]: r["readability"].asDict() for r in rows}
    expect = refsem.readability_scores(
        "the quick brown fox jumps over the lazy dog")
    assert got[0] == expect


def test_multimodal_decode_stats_pure_python_parity(spark):
    """decode_stats over the formula synthesizer == a scalar recomputation
    from (i, j) arithmetic alone (the page_content_hash style), proving
    the mapInPandas decode path and the exact-integer fixed-point math."""
    ids = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    media = multimodal.synthesize_media_from_ids(ids, "doc_id")
    out = {r["media_id"]: r for r in multimodal.decode_stats(media).collect()}
    assert len(out) == 40
    for i in range(40):
        k = i % 3
        if k == 0:
            w, h, fr = 8 + i % 5, 6 + i % 4, 1
            n, a, b, dn, dd = w * h, 31, 7, 0, 1
        elif k == 1:
            w, h = 0, 0
            fr = n = 100 + i % 50
            a, b, dn, dd = 17, 13, n, 8000
        else:
            w, h, fr = 4, 4, 4 + (i // 3) % 3
            n, a, b, dn, dd = fr * 16, 13, 11, fr, 5
        px_sum = sum((i * a + j * b) % 256 for j in range(n))
        r = out[i]
        assert (r["kind"], r["width"], r["height"], r["frames"]) == \
            (("image", "audio", "video")[k], w, h, fr)
        assert r["duration_micros"] == (dn * 1_000_000) // dd
        assert r["mean_micro"] == (px_sum * 1_000_000) // n, i


def test_lsh_index_partitioned_by_bucket_prunes(spark, tmp_path):
    import os
    from disco_crawl_spark import plans
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    path = str(tmp_path / "lsh_index")
    H = similarity.write_lsh_index(emb, "embedding", dim, path, planes=6)
    # one directory per bucket on disk
    assert any(d.startswith("bucket=") for d in os.listdir(path))
    idx = similarity.read_lsh_index(spark, path)
    q = [1.0 if i % 3 == 0 else -0.5 for i in range(dim)]
    out = similarity.lsh_query(idx, H, "embedding", "vec_id", q, k=5,
                               probes=2)
    # partition pruning: the bucket filter is a PartitionFilter on the scan
    pf = plans.partition_filters(out)
    assert "bucket" in pf
    # and the pruned query returns the same rows as the unpartitioned path
    indexed, H2 = similarity.lsh_index(emb, "embedding", dim, planes=6)
    expect = similarity.lsh_query(indexed, H2, "embedding", "vec_id", q,
                                  k=5, probes=2)
    assert [tuple(r) for r in out.collect()] == \
        [tuple(r) for r in expect.collect()]


def test_embedding_near_dup_pairs_finds_planted_dup(spark):
    rng = np.random.RandomState(3)
    base = rng.normal(size=(40, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    rows.append((40, [float(x) for x in base[7] +
                      rng.normal(scale=0.01, size=16)]))  # near-dup of 7
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    pairs = {(r["a"], r["b"]): r["cosine"]
             for r in similarity.embedding_near_dup_pairs(
                 df, "embedding", "vec_id", dim=16, threshold=0.95,
                 bands=8, planes=4).collect()}
    assert (7, 40) in pairs and pairs[(7, 40)] > 0.99
    # random normals are not near-dups of each other at 0.95
    assert all(p == (7, 40) for p in pairs)


def test_ivf_ann_recall_and_pruning(spark, tmp_path):
    from disco_crawl_spark import plans
    rng = np.random.RandomState(5)
    # 10 well-separated cluster centers + noise: IVF's natural regime
    centers = rng.normal(scale=10.0, size=(10, 16))
    vecs = np.concatenate([
        centers[i % 10] + rng.normal(size=16) for i in range(300)
    ]).reshape(300, 16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id int, embedding array<double>")
    path = str(tmp_path / "ivf")
    C = similarity.write_ivf_index(df, "embedding", "vec_id", path,
                                   n_centroids=10, sample_size=300)
    idx = spark.read.parquet(path)
    q = [float(x) for x in vecs[17]]
    out = similarity.ivf_query(idx, C, "embedding", "vec_id", q,
                               k=5, nprobe=2)
    # list-id filter is a partition filter over the on-disk layout
    assert "ivf_list" in plans.partition_filters(out)
    res = out.collect()
    assert res and res[0]["vec_id"] == 17 and res[0]["cosine"] == 1.0
    # deterministic end-to-end (seeded init, fixed iterations)
    C2 = similarity.train_ivf_centroids(df, "embedding", "vec_id",
                                        n_centroids=10, sample_size=300)
    assert np.allclose(C, C2)


def test_connected_components_and_dedup_keep(spark):
    # two triangles sharing nothing + one chain + singletons; canonical =
    # component min, independent of edge order and partitioning
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(10)],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 5), (5, 7), (2, 3), (8, 9), (9, 2)],  # {1,5,7} {2,3,8,9}
        "a long, b long").repartition(7)
    out = {r["doc_id"]: (r["keep_id"], r["is_canonical"])
           for r in dedup.dedup_keep(docs, pairs, "doc_id").collect()}
    assert len(out) == 10
    for i in (1, 5, 7):
        assert out[i] == (1, i == 1)
    for i in (2, 3, 8, 9):
        assert out[i] == (2, i == 2)
    for i in (0, 4, 6):
        assert out[i] == (i, True)


def test_weighted_sample_deterministic_and_proportional(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(4000)],
        "doc_id long, lang string")
    kept1 = sorted(r["doc_id"] for r in textstats.weighted_sample(
        df, "lang", {"en": 0.7, "de": 0.2}, "doc_id").collect())
    # identical under a different partitioning (hash-driven, no RNG state)
    kept2 = sorted(r["doc_id"] for r in textstats.weighted_sample(
        df.repartition(13), "lang", {"en": 0.7, "de": 0.2},
        "doc_id").collect())
    assert kept1 == kept2
    en = sum(1 for i in kept1 if i % 2)
    de = len(kept1) - en
    assert abs(en / 2000 - 0.7) < 0.05 and abs(de / 2000 - 0.2) < 0.05


def test_repetition_stats_flags_repeats(spark):
    df = spark.createDataFrame(
        [(0, "spam ham " * 50), (1, "all distinct words only here"), (2, "")],
        "doc_id long, text string")
    df = df.withColumn("text", F.trim("text"))
    out = {r["doc_id"]: r for r in textstats.repetition_stats(
        df, "text", "doc_id").collect()}
    assert out[0]["dup_token_frac"] > 0.9
    assert out[0]["top_ngram"] in ("spam ham", "ham spam")
    assert out[0]["top_ngram_frac"] > 0.4
    assert out[1]["dup_token_frac"] == 0.0
    assert out[2]["top_ngram"] == "" and out[2]["top_ngram_frac"] == 0.0


def test_connected_components_long_chain_converges_logarithmically(spark):
    # a 60-node path has propagation distance 59; pointer jumping must
    # close it within the default max_iters=20 (log2(59) ≈ 6 rounds) and
    # label every node with the chain minimum
    docs = spark.createDataFrame([(i, "x") for i in range(60)],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(59)],
                                  "a long, b long")
    out = dedup.connected_components(docs, pairs, "doc_id")
    assert {r["comp"] for r in out.collect()} == {0}


def test_connected_components_ignores_foreign_pair_endpoints(spark):
    # a pair endpoint absent from the vertex set must neither appear in
    # the output nor win the min-label race (id -5 < every vertex id)
    docs = spark.createDataFrame([(i, "x") for i in range(3, 8)],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(3, 4), (-5, 4), (6, 99)], "a long, b long")
    out = {r["id"]: r["comp"]
           for r in dedup.connected_components(docs, pairs, "doc_id").collect()}
    assert out == {3: 3, 4: 3, 5: 5, 6: 6, 7: 7}


def test_connected_components_converges_in_round_one(spark):
    # pairs that join nothing (a self-pair, a foreign endpoint) change no
    # label in round one, so its observed change count ends the loop
    # there: max_iters=1 must not raise, and every vertex is its own
    # component
    docs = spark.createDataFrame([(i, "x") for i in range(4)],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([(2, 2), (1, 99)], "a long, b long")
    out = dedup.connected_components(docs, pairs, "doc_id", max_iters=1)
    assert {r["id"]: r["comp"] for r in out.collect()} == {
        0: 0, 1: 1, 2: 2, 3: 3}


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src int, dst int")


def _seeds(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "n int")


_HUB_EDGES = [(0, 1), (0, 2), (0, 3), (1, 2), (2, 1), (2, 3), (4, 0)]
_MULTI_EDGES = [(0, 1), (0, 1), (0, 1), (1, 0), (1, 2)]
_CHAIN7 = [(i, i + 1) for i in range(6)]
_BFS_EDGES = [(i, i + 1) for i in range(9)] + [(0, 5), (20, 21)]
_CLIQUES = ([(i, j) for i in range(5) for j in range(5) if i < j]
            + [(i, j) for i in range(10, 15) for j in range(10, 15) if i < j]
            + [(4, 10)])
_REDIRECTS = ([("a", "b"), ("b", "c"), ("c", "T")]
              + [(f"h{i}", f"h{i+1}") for i in range(6)]
              + [("x", "y"), ("y", "x"), ("z", "x")])
_OPIC_EDGES = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "a"),
               ("c", "e")]


def _chain40(spark, max_iters=20):
    docs = spark.createDataFrame([(i, "x") for i in range(40)],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(39)],
                                  "a long, b long")
    return dedup.connected_components(docs, pairs, "doc_id",
                                      max_iters=max_iters)


def _bpe(spark):
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    df = spark.createDataFrame([(0, " ".join(words))],
                               "doc_id long, text string")
    return textstats.bpe_learn_merges(df, "text", n_merges=6)


# case -> (operator call, blocks its result may keep live, expected raise)
_LIFETIME_CASES = {
    "pagerank": (lambda sp, g: g.pagerank(_edges(sp, _MULTI_EDGES),
                                          iters=6), 1, None),
    "pagerank_iters0": (lambda sp, g: g.pagerank(_edges(sp, _HUB_EDGES),
                                                 iters=0), 1, None),
    "trustrank": (lambda sp, g: g.pagerank(
        _edges(sp, _HUB_EDGES), iters=5,
        personalization=_seeds(sp, [0, 4, 99])), 1, None),
    "trustrank_iters0": (lambda sp, g: g.pagerank(
        _edges(sp, _HUB_EDGES), iters=0,
        personalization=_seeds(sp, [0, 4, 99])), 1, None),
    "trustrank_no_seed_in_graph": (lambda sp, g: g.pagerank(
        _edges(sp, _HUB_EDGES), personalization=_seeds(sp, [99])),
        0, ValueError),
    "hits": (lambda sp, g: g.hits(_edges(sp, _HUB_EDGES), iters=5), 1, None),
    "hits_iters0": (lambda sp, g: g.hits(_edges(sp, _HUB_EDGES), iters=0),
                    0, ValueError),
    "bfs_depth": (lambda sp, g: g.bfs_depth(_edges(sp, _BFS_EDGES),
                                            _seeds(sp, [0, 8])), 1, None),
    "bfs_depth_past_max_iters": (lambda sp, g: g.bfs_depth(
        _edges(sp, _CHAIN7), _seeds(sp, [0]), max_iters=3),
        0, RuntimeError),
    "label_propagation": (lambda sp, g: g.label_propagation(
        _edges(sp, _CLIQUES), iters=4), 1, None),
    "resolve_redirects": (lambda sp, g: g.resolve_redirects(
        sp.createDataFrame(_REDIRECTS, ["src", "dst"]), max_hops=4),
        1, None),
    "resolve_redirects_not_functional": (lambda sp, g: g.resolve_redirects(
        sp.createDataFrame([("a", "b"), ("a", "c")], ["src", "dst"])),
        0, ValueError),
    "opic": (lambda sp, g: g.opic(
        sp.createDataFrame(_OPIC_EDGES, "src string, dst string"),
        iters=3), 1, None),
    "opic_iters0": (lambda sp, g: g.opic(
        sp.createDataFrame(_OPIC_EDGES, "src string, dst string"),
        iters=0), 1, None),
    "harmonic_exact": (lambda sp, g: g.harmonic_centrality(
        _edges(sp, _BFS_EDGES)), 1, None),
    "harmonic_exact_past_max_iters": (lambda sp, g: g.harmonic_centrality(
        _edges(sp, _CHAIN7), max_iters=3), 0, RuntimeError),
    "connected_components": (lambda sp, g: _chain40(sp), 1, None),
    "connected_components_no_convergence": (
        lambda sp, g: _chain40(sp, max_iters=1), 0, RuntimeError),
    "bpe_learn_merges": (lambda sp, g: _bpe(sp), 0, None),
}


@pytest.mark.parametrize("case", list(_LIFETIME_CASES))
def test_iterative_operator_block_lifetime(spark, case):
    # every iterative operator frees all the blocks it pinned (edge
    # layouts, superseded and final loop tables) on every exit path; only
    # the checkpoint backing its result survives a return, and that
    # result must still be readable
    from disco_crawl_spark.operators import graph
    run, blocks, raises = _LIFETIME_CASES[case]
    sc = spark.sparkContext
    base = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    if raises is None:
        out = run(spark, graph)
    else:
        with pytest.raises(raises):
            run(spark, graph)
    live = set(sc._jsc.getPersistentRDDs().keySet().toArray()) - base
    assert len(live) <= blocks, f"{case} leaked blocks: {live}"
    if raises is None:
        assert out.collect()


def _jobs(spark, run):
    """Spark jobs ``run()`` submits: its own job group's ids in the
    driver's statusTracker, read once the listener bus has drained."""
    sc = spark.sparkContext
    gid = f"jobs-{uuid.uuid4()}"
    sc.setJobGroup(gid, gid)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_iterative_operator_jobs_per_iteration(spark):
    # a loop's driver scalars (dangling mass, L1 norm, frontier size) are
    # observed by the checkpoint that materializes the round, so an extra
    # iteration adds only that round's own jobs: no aggregate, collect,
    # broadcast or isEmpty job of its own. AQE runs each shuffle stage as
    # its own Spark job, so a pin counts shuffle stages plus the
    # checkpoint's result stage, not driver actions. A pagerank, opic or
    # BFS round is one exchange (its message and state rows meet in one
    # groupBy) plus, at this size, the edge-layout broadcast and the
    # result stage; a key join back to the checkpointed state re-shuffles
    # it and AQE's broadcast of that join runs as a further job (5).
    from disco_crawl_spark.operators import graph
    edf = _edges(spark, _HUB_EDGES)   # node 3 has no out-edge
    tr = {k: _jobs(spark, lambda: graph.pagerank(
        edf, iters=k, personalization=_seeds(spark, [0, 3])))
        for k in (2, 3)}
    assert tr[3] - tr[2] == 3, tr      # with a join back to the state: 5
    hits = {k: _jobs(spark, lambda: graph.hits(edf, iters=k))
            for k in (2, 3)}
    assert hits[3] - hits[2] == 6, hits  # + a collect per half-step: 10
    bfs = {n: _jobs(spark, lambda: graph.bfs_depth(
        _edges(spark, [(i, i + 1) for i in range(n)]), _seeds(spark, [0])))
        for n in (3, 4)}
    assert bfs[4] - bfs[3] == 3, bfs   # distinct + anti-join: 5
    op = {k: _jobs(spark, lambda: graph.opic(edf, iters=k))
          for k in (2, 3)}
    assert op[3] - op[2] == 3, op


def test_lsh_batch_query_prunes_and_matches_per_query_path(spark, tmp_path):
    # round-3 VERDICT order #4: a whole queries DataFrame against the
    # bucketed index in one job; the index scan must stay partition-pruned
    # and each query's top-k must equal the single-query path's
    import os
    from disco_crawl_spark import plans
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = emb.withColumn("embedding",
                         F.transform("embedding", lambda x: x.cast("double")))
    dim = len(emb.select("embedding").first()[0])
    path = str(tmp_path / "lsh_index")
    H = similarity.write_lsh_index(emb, "embedding", dim, path, planes=6)
    idx = similarity.read_lsh_index(spark, path)
    queries_df = emb.filter(F.col("vec_id") < 4)
    out = similarity.lsh_batch_query(idx, H, queries_df, "embedding",
                                     "vec_id", "vec_id", k=5, probes=2)
    pf = plans.partition_filters(out)
    assert "bucket" in pf  # index side partition-pruned, not scanned whole
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine"]))
    assert set(got) == {0, 1, 2, 3}
    for qr in emb.filter(F.col("vec_id") < 4).collect():
        single = similarity.lsh_query(
            idx, H, "embedding", "vec_id",
            list(qr["embedding"]), k=5, probes=2).collect()
        expect = [(i + 1, r["vec_id"], r["cosine"])
                  for i, r in enumerate(single)]
        assert sorted(got[qr["vec_id"]]) == expect
    # self-retrieval sanity: every query's rank-1 is itself
    for qid, rows in got.items():
        assert min(rows)[1] == qid


def test_passage_dedup_tokens(spark, docs):
    out = {r["doc_id"]: r
           for r in dedup.passage_dedup(docs, "text", "doc_id",
                                        k_tokens=4).collect()}
    # doc 1 duplicates doc 0 exactly: every 4-token block loses its
    # first-occurrence election to doc 0, so the doc vanishes entirely —
    # the CCNet behavior (docs whose every paragraph was seen disappear)
    assert 1 not in out
    assert out[0]["n_kept"] == out[0]["n_segments"] == 3
    assert out[0]["text_kept"] == "the quick brown fox jumps over the lazy dog"
    # doc 2 shares blocks 0-1 with doc 0 and keeps only its tail block
    assert (out[2]["n_segments"], out[2]["n_kept"]) == (3, 1)
    assert out[2]["text_kept"] == "cat"
    # doc 4 = doc 3 plus a trailing token: block 0 is removed, the changed
    # tail block survives
    assert out[4]["text_kept"] == "spark engines !"
    # unique docs pass through whole
    assert out[3]["n_kept"] == out[3]["n_segments"]
    assert out[6]["text_kept"] == "short"


def test_passage_dedup_newline_and_partition_invariance(spark):
    rows = [(0, "para one para two"),
            (1, "para one para three"),
            (2, "para one para two")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    def run(d):
        return sorted(
            (r["doc_id"], r["n_segments"], r["n_kept"], r["text_kept"])
            for r in dedup.passage_dedup(d, "text", "doc_id",
                                         k_tokens=2).collect())
    got = run(df)
    assert got == [(0, 2, 2, "para one para two"),
                   (1, 2, 1, "para three")]   # doc 2 fully deduped away
    # winner election is min(doc_id, idx): invariant under physical layout
    assert run(df.repartition(7)) == got


def test_decontaminate_counts_and_sentinel_path(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id int, text string")
    train = spark.createDataFrame(
        [(0, "x alpha beta gamma delta y alpha beta gamma delta z"),  # 2 hits
         (1, "alpha beta gamma nope"),                                # 0 (3<4)
         (2, "to sh"),                                                # < ngram
         (3, "beta gamma delta epsilon tail")],                       # 1 hit
        "doc_id int, text string")
    out = {r["doc_id"]: (r["n_hits"], r["contaminated"])
           for r in textstats.decontaminate(
               train, "text", "doc_id", bench, ngram=4).collect()}
    # every input id survives, including the shorter-than-ngram doc
    assert out == {0: (2, 1), 1: (0, 0), 2: (0, 0), 3: (1, 1)}


def test_stratified_sample_quota_and_determinism(spark):
    rows = [(i, "g1" if i < 30 else "g2") for i in range(35)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = textstats.stratified_sample(df, "source", 10, "doc_id").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_g["g1"]) == 10
    assert by_g["g2"] == set(range(30, 35))      # quota > group: whole group
    # pure-hash ranking: identical selection at any physical layout
    out2 = textstats.stratified_sample(
        df.repartition(7), "source", 10, "doc_id").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_pack_chunks_matches_naive_and_bucket_invariant(spark):
    import random
    rng = random.Random(7)
    rows = [(i, " ".join("w%d" % rng.randrange(50)
                         for _ in range(rng.randrange(1, 40))))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    def run(buckets):
        return sorted(map(tuple, textstats.pack_chunks(
            df, "text", "doc_id", ctx=64, buckets=buckets).collect()))

    got = run(8)
    # two-level scan == naive python prefix sum over id order
    cum, expect = 0, []
    for i, text in rows:
        n = len(text.split(" "))
        first, last = cum // 64, (cum + n - 1) // 64
        expect.append((i, n, cum, first, last - first + 1))
        cum += n
    assert got == sorted(expect)
    # offsets are exact for ANY bucketing, incl. a single range partition
    assert run(1) == got
    assert run(37) == got


def _numpy_pagerank(edges, iters=5, d=0.85):
    """Independent dense-matrix PageRank: synchronous power iteration with
    dangling-mass redistribution — the exact spec graph.pagerank claims."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {}
    for a, b in edges:
        out.setdefault(a, set()).add(b)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, (1.0 - d) / n)
        dang = sum(r[idx[v]] for v in nodes if v not in out)
        nxt += d * dang / n
        for a, targets in out.items():
            share = r[idx[a]] / len(targets)
            for b in targets:
                nxt[idx[b]] += d * share
        r = nxt
    return {nodes[i]: r[i] for i in range(n)}


def test_pagerank_matches_numpy_and_conserves_mass(spark):
    from disco_crawl_spark.operators import graph
    # a graph with a dangling node (3), a hub (0), and a 2-cycle
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (2, 1), (2, 3), (4, 0)]
    edf = spark.createDataFrame(edges, "src int, dst int")
    for iters in (5, 0):  # iters=0 is r0 = 1/N
        got = {r["node"]: r["pagerank"]
               for r in graph.pagerank(edf, iters=iters).collect()}
        want = _numpy_pagerank(edges, iters=iters)
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 1e-12, (k, got[k], want[k])
        # total rank mass is conserved (teleport + dangling redistribution)
        assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_collapses_multi_edges_and_releases_checkpoints(spark):
    from disco_crawl_spark.operators import graph
    # multi-edge (0,1)x3 must count once (the live-block count after the
    # run is checked by test_iterative_operator_block_lifetime)
    edf = spark.createDataFrame(_MULTI_EDGES, "src int, dst int")
    got = {r["node"]: r["pagerank"]
           for r in graph.pagerank(edf, iters=6).collect()}
    want = _numpy_pagerank([(0, 1), (1, 0), (1, 2)], iters=6)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def test_graph_operators_null_endpoints(spark):
    # a NULL id is one node: it is dangling (its out-edges join nothing),
    # receives no link mass and is never a seed; an edge into NULL counts
    # in its source's out-degree and its share leaves the graph. BFS
    # reaches NULL once, through 3 -> NULL, and never expands it.
    from disco_crawl_spark.operators import graph
    edf = _edges(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (None, 2),
                         (3, None), (1, 3)])
    # independent power iteration over the nodes 0-3 plus NULL (index 4);
    # the one dangling node is NULL, and the (3, NULL) share is dropped
    out = {0: [1], 1: [2, 3], 2: [0, 3], 3: [4]}

    def power(p, iters=4, d=0.85):
        r = p.copy() if p is not None else np.full(5, 0.2)
        tele = p if p is not None else np.full(5, 0.2)
        for _ in range(iters):
            nxt = (1 - d) * tele + d * r[4] * tele
            for a, targets in out.items():
                for b in targets:
                    if b != 4:
                        nxt[b] += d * r[a] / len(targets)
            r = nxt
        return r

    seeds = spark.createDataFrame([(0,), (None,), (9,)], "n int")
    for kw, want in [({}, power(None)),
                     ({"personalization": seeds},
                      power(np.array([1.0, 0, 0, 0, 0])))]:
        got = {r["node"]: r["pagerank"]
               for r in graph.pagerank(edf, iters=4, **kw).collect()}
        assert set(got) == {0, 1, 2, 3, None}
        for i, n in enumerate([0, 1, 2, 3, None]):
            assert abs(got[n] - want[i]) < 1e-12, (kw, n, got[n], want[i])
    got = sorted((r["node"] is None, r["node"], r["depth"]) for r in
                 graph.bfs_depth(edf, _seeds(spark, [0, 9])).collect())
    assert got == [(False, 0, 0), (False, 1, 1), (False, 2, 2),
                   (False, 3, 2), (False, 9, 0), (True, None, 3)]


def test_anchor_text_agg_winner_tiebreak(spark):
    from disco_crawl_spark.operators import graph
    rows = [(1, "home"), (1, "home"), (1, "start"), (1, "start"),  # tie 2-2
            (2, "docs"), (2, "api"), (2, "docs"),
            (3, "x")]
    links = spark.createDataFrame(rows, "target int, anchor string")
    got = {r["target"]: (r["n_links"], r["n_anchors"], r["top_anchor"])
           for r in graph.anchor_text_agg(links).collect()}
    # tie at target 1 → lexicographically larger anchor wins
    assert got[1] == (4, 2, "start")
    assert got[2] == (3, 2, "docs")
    assert got[3] == (1, 1, "x")


def _py_substring_dedup(texts, k):
    """Independent recomputation of ExactSubstr removal."""
    toks = {i: (t or "").lower().split() for i, t in texts.items()}
    from collections import Counter
    freq = Counter()
    for t in toks.values():
        for p in range(len(t) - k + 1):
            freq[" ".join(t[p:p + k])] += 1
    out = {}
    for i, t in toks.items():
        starts = [p for p in range(len(t) - k + 1)
                  if freq[" ".join(t[p:p + k])] > 1]
        removed = set()
        for s in starts:
            removed.update(range(s, s + k))
        kept = [x for j, x in enumerate(t) if j not in removed]
        out[i] = (" ".join(kept), len(t), len(removed))
    return out


def test_substring_dedup_matches_python_oracle(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    texts = {
        0: f"intro one two {shared} tail A B",
        1: f"different start {shared} and a different ending here",
        2: "nothing in common with anything else at all today",
        3: "tiny doc",                          # shorter than k → intact
        4: "rep rep rep rep rep rep rep rep rep rep",  # self-repetition
        5: "",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id int, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
           for r in dedup.substring_dedup(df, "text", "doc_id", k=8).collect()}
    want = _py_substring_dedup(texts, k=8)
    assert got == want
    # the planted 8-token span is gone from BOTH carriers, short doc intact
    assert "gamma" not in got[0][0] and "gamma" not in got[1][0]
    assert got[3] == ("tiny doc", 2, 0)
    assert got[4][2] == 10          # fully self-repetitive → all removed
    assert got[2][2] == 0


def test_inverted_index_stats_counts_and_tiebreak(spark):
    rows = [(1, "a a b"), (2, "a a c b"), (3, "b b b"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["term"]: (r["doc_freq"], r["total_tf"], r["top_doc"])
           for r in textstats.inverted_index_stats(
               df, "text", "doc_id", min_df=1).collect()}
    # term a: tf 2 in doc 1 and doc 2 → tie broken toward SMALLER id
    assert got["a"] == (2, 4, 1)
    assert got["b"] == (3, 5, 3)
    assert got["c"] == (1, 1, 2)
    assert set(got) == {"a", "b", "c"}   # None text emits nothing
    # min_df prunes hapax terms
    pruned = {r["term"] for r in textstats.inverted_index_stats(
        df, "text", "doc_id", min_df=2).collect()}
    assert pruned == {"a", "b"}


def test_tfidf_top_terms_against_manual(spark):
    import math
    rows = [(1, "cat cat dog"), (2, "dog fish"), (3, "cat bird bird")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in textstats.tfidf_top_terms(df, "text", "doc_id", k=2).collect():
        got.setdefault(r["doc_id"], []).append((r["term"], r["tfidf"]))
    n = 3.0
    def s(tf, dfq):
        return round(tf * math.log(n / dfq), 6)
    # doc 1: cat tf2 df2 → 2*ln(1.5); dog tf1 df2 → ln(1.5): top2 order
    assert got[1] == [("cat", s(2, 2)), ("dog", s(1, 2))]
    # doc 2: dog ln(1.5) vs fish ln(3) → fish first
    assert got[2] == [("fish", s(1, 1)), ("dog", s(1, 2))]
    # doc 3: bird 2*ln(3) > cat ln(1.5)
    assert got[3] == [("bird", s(2, 1)), ("cat", s(1, 2))]


def test_bm25_topk_against_manual(spark):
    import math
    rows = [(1, "spark spark table"), (2, "spark window"),
            (3, "table row value window window"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["doc_id"], r["score"])
           for r in textstats.bm25_topk(df, "text", "doc_id",
                                        "spark window", k=3).collect()]
    # N counts ALL docs (the None doc too); avgdl over token counts with
    # the None doc contributing 0 — mirrors the oracle's list_filter('')
    n, avgdl = 4.0, (3 + 2 + 5 + 0) / 4.0

    def w(tf, dfq, dl):
        idf = math.log(1 + (n - dfq + 0.5) / (dfq + 0.5))
        return idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

    exp = {1: w(2, 2, 3), 2: w(1, 2, 2) + w(1, 2, 2), 3: w(2, 2, 5)}
    ranked = sorted(((round(v, 6), i) for i, v in exp.items()),
                    key=lambda t: (-t[0], t[1]))
    assert got == [(i, s) for s, i in ranked]
    # the None-text doc never matches a term, so it never scores
    assert {i for i, _ in got} == {1, 2, 3}


def test_quality_lr_learns_separable_vocab(spark):
    """The LR quality classifier must actually LEARN: two disjoint
    vocabularies, train on the first 40 docs, and every doc — including
    the 40 held-out ones — must land on the right side of 0.5."""
    import random
    rng = random.Random(7)
    good = ["alpha", "beta", "gamma", "delta", "epsilon"]
    bad = ["zork", "quux", "blarg", "wibble", "fnord"]
    rows = [(i, " ".join(rng.choice(good if i % 2 == 0 else bad)
                         for _ in range(30)), i % 2 == 0)
            for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, text string, label boolean")
    out = textstats.quality_lr_score(df, "text", "doc_id", "label",
                                     steps=30, lr=5.0, n_train=40)
    got = {r["doc_id"]: (r["lr_score"], r["pred"]) for r in out.collect()}
    assert len(got) == 80
    for i in range(80):
        score, pred = got[i]
        want = 1 if i % 2 == 0 else 0
        assert pred == want, (i, score)
        assert (score > 0.5) == (want == 1), (i, score)


# ---------------------------------------------------------------------------
# round-4 session-6 operators: snapshot diff, cross-corpus dedup,
# LM-perplexity bucketing, BPE pair stats
# ---------------------------------------------------------------------------


def test_snapshot_diff_statuses(spark):
    from disco_crawl_spark.operators.diff import snapshot_diff
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)], "k long, text string")
    new = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, ""), (5, "e")], "k long, text string")
    got = {r["key"]: (r["status"], r["in_old"], r["in_new"])
           for r in snapshot_diff(old, new, "k", ["text"]).collect()}
    assert got == {
        1: ("gone", 1, 0),
        2: ("unchanged", 1, 1),
        3: ("changed", 1, 1),
        4: ("changed", 1, 1),   # NULL vs '' must differ (marker, not concat-collapse)
        5: ("new", 0, 1),
    }


def test_snapshot_diff_multi_column_content(spark):
    from disco_crawl_spark.operators.diff import snapshot_diff
    # column-boundary aliasing: ("ab","c") vs ("a","bc") must CHANGE
    old = spark.createDataFrame([(1, "ab", "c")], "k long, t1 string, t2 string")
    new = spark.createDataFrame([(1, "a", "bc")], "k long, t1 string, t2 string")
    [r] = snapshot_diff(old, new, "k", ["t1", "t2"]).collect()
    assert r["status"] == "changed"


def test_cross_corpus_dedup_matches_bruteforce(spark, docs):
    # ref = even ids, new = odd ids; brute-force 3-shingle Jaccard oracle
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    got = {r["doc_id"]: (r["best_ref"], r["best_jaccard"], r["n_ref_matches"])
           for r in dedup.cross_corpus_dedup(
               new, ref, "text", "doc_id", threshold=0.5).collect()}

    def shingles(t):
        toks = t.lower().split()
        if len(toks) >= 3:
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)} if toks else set()

    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    expect = {}
    for a in (1, 3, 5, 7):
        matches = []
        for b in (0, 2, 4, 6):
            sa, sb = shingles(rows[a]), shingles(rows[b])
            u = sa | sb
            j = len(sa & sb) / len(u) if u else 0.0
            if j >= 0.5:
                matches.append((round(j, 6), b))
        if matches:
            best = max(matches, key=lambda x: (x[0], -x[1]))
            expect[a] = (best[1], best[0], len(matches))
    # LSH candidates ⊆ all pairs: every surviving row must agree with brute
    # force, and the exact-dup (1↔0) must be recalled at these parameters
    assert 1 in got and got[1] == expect[1]
    for k, v in got.items():
        assert v == expect[k], (k, v, expect.get(k))


def test_cross_corpus_never_pairs_ref_with_ref(spark, docs):
    # docs 3 and 4 are near dups of EACH OTHER; both on the ref side →
    # must not appear: output ids are strictly new-side
    ref = docs.filter(F.col("doc_id").isin(3, 4))
    new = docs.filter(F.col("doc_id").isin(6, 7))
    out = dedup.cross_corpus_dedup(new, ref, "text", "doc_id").collect()
    assert {r["doc_id"] for r in out} <= {6, 7}
    assert not [r for r in out if r["doc_id"] in (3, 4)]


def test_lm_perplexity_semantics(spark):
    import math
    rows = [(1, "a a b"), (2, "a b c"), (3, "z z z z"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ref = spark.createDataFrame([(9, "a a a b")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           textstats.lm_perplexity(df, "text", "doc_id", ref_df=ref).collect()}
    # LM: a→3, b→1, T=4, V=2 → p(a)=(3+1)/7, p(b)=2/7, unseen=1/7
    pa, pb, pu = 4 / 7, 2 / 7, 1 / 7
    h1 = -(2 * math.log(pa) + math.log(pb)) / 3
    h2 = -(math.log(pa) + math.log(pb) + math.log(pu)) / 3
    h3 = -math.log(pu)
    assert got[1]["cross_entropy"] == round(h1, 6)
    assert got[2]["cross_entropy"] == round(h2, 6)
    assert got[3]["cross_entropy"] == round(h3, 6)
    assert got[4]["cross_entropy"] == 0.0 and got[4]["n_tokens"] == 0
    assert got[1]["perplexity"] == round(math.exp(round(h1, 6)), 3)
    # buckets ordered by entropy: empty doc (0.0) lowest → head; unseen-only
    # doc highest → tail
    assert got[4]["bucket"] == "head"
    assert got[3]["bucket"] == "tail"
    order = sorted(got.values(), key=lambda r: r["cross_entropy"])
    labels = [r["bucket"] for r in order]
    assert labels == sorted(labels, key=["head", "middle", "tail"].index)


def test_bpe_pair_stats_counts(spark):
    rows = [(1, "ab ab"), (2, "ab ba")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["sym_l"], r["sym_r"]): r["n"]
           for r in textstats.bpe_pair_stats(df, "text", top_k=10).collect()}
    # words: ab×3, ba×1 → pairs: (a,b)=3, (b,</w>)=3, (b,a)=1, (a,</w>)=1
    assert got == {("a", "b"): 3, ("b", "</w>"): 3,
                   ("b", "a"): 1, ("a", "</w>"): 1}


def test_bpe_pair_stats_topk_order(spark):
    df = spark.createDataFrame([(1, "xy xz")], "doc_id long, text string")
    out = textstats.bpe_pair_stats(df, "text", top_k=2).collect()
    # (x,y)=1 (x,z)=1 (y,</w>)=1 (z,</w>)=1 → top-2 by (n desc, l, r):
    # ties broken lexicographically, '</w>' sorts before letters ('<'<'x')
    assert [(r["sym_l"], r["sym_r"]) for r in out] == [("x", "y"), ("x", "z")]


def test_c4_line_filter_full_rules(spark):
    rows = [
        # 3 good lines → kept verbatim
        (1, "This is a perfectly fine sentence.\n"
            "Another good line with enough words!\n"
            'Is this a question with many words?'),
        # line without terminal punctuation dropped; <3 kept → page dropped
        (2, "This line has no terminal punctuation at all\n"
            "Short line.\nAlso too short."),
        # javascript line dropped, others kept
        (3, "Please enable JavaScript to view this.\n"
            "A good first line stays right here.\n"
            "A good second line stays right here.\n"
            "A good third line stays right here."),
        # lorem ipsum page → dropped wholesale
        (4, "Lorem ipsum dolor sit amet, consectetur adipiscing elit.\n"
            "A good second line stays right here.\n"
            "A good third line stays right here."),
        # brace page → dropped wholesale
        (5, "function() { return 1; }\n"
            "A good second line stays right here.\n"
            "A good third line stays right here.\n"
            "A good fourth line stays right here."),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textstats.c4_line_filter(
        df, "text", "doc_id").collect()}
    assert got[1]["dropped"] == 0 and got[1]["n_kept"] == 3
    assert got[1]["clean_text"].count("\n") == 2
    assert got[2]["dropped"] == 1 and got[2]["clean_text"] == ""
    assert got[2]["n_kept"] == 0   # no-punct line AND both short lines fail
    assert got[3]["dropped"] == 0 and got[3]["n_kept"] == 3
    assert "JavaScript" not in got[3]["clean_text"]
    assert got[4]["dropped"] == 1 and got[4]["clean_text"] == ""
    assert got[5]["dropped"] == 1
    assert got[6]["dropped"] == 1 and got[6]["n_kept"] == 0


def test_c4_line_filter_token_segmenter(spark):
    # 14 tokens, k=6 → segments of 6/6/2; the 2-token tail fails min_words
    txt = " ".join(f"w{i}" for i in range(14))
    df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
    [r] = textstats.c4_line_filter(
        df, "text", "doc_id", require_terminal_punct=False,
        min_kept_lines=2, segmenter="tokens", k_tokens=6).collect()
    assert r["n_lines"] == 3 and r["n_kept"] == 2 and r["dropped"] == 0
    assert r["clean_text"] == " ".join(f"w{i}" for i in range(6)) + "\n" + \
        " ".join(f"w{i}" for i in range(6, 12))


def test_domain_split_group_coherent_and_layout_invariant(spark):
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 97).cast("string").alias("src"))
    out = textstats.domain_split(df, "src", "doc_id")
    per_group = (out.groupBy("src")
                 .agg(F.countDistinct("split").alias("n")).collect())
    assert all(r["n"] == 1 for r in per_group)          # no group straddles
    splits = {r["split"] for r in out.collect()}
    assert "train" in splits and len(splits) >= 2       # 97 groups → spread
    # layout invariance: identical assignment at any partitioning
    again = textstats.domain_split(df.repartition(17), "src", "doc_id")
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, again.collect()))


def test_ivf_batch_query_matches_per_query(spark):
    # the batched form must agree with nprobe ivf_query per query
    import numpy as np
    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    indexed, C = similarity.ivf_index(df, "embedding", "vec_id",
                                      n_centroids=4, sample_size=128)
    indexed = indexed.localCheckpoint(eager=True)  # pin the UDF assignment
    queries = df.filter(F.col("vec_id") < 4)
    batch = similarity.ivf_batch_query(indexed, C, queries, "embedding",
                                       "vec_id", "vec_id", k=3, nprobe=2)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
    for qid, qvec in [(r["vec_id"], r["embedding"])
                      for r in queries.collect()]:
        single = similarity.ivf_query(indexed, C, "embedding", "vec_id",
                                      qvec, k=3, nprobe=2).collect()
        # ivf_query returns (vec_id, cosine) ordered; align on sets+order
        exp = [(r["vec_id"], r["cosine"]) for r in single]
        assert got[qid] == exp, (qid, got[qid], exp)


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------


def test_dsir_importance_ranks_target_like_docs(spark):
    from disco_crawl_spark.operators import textstats
    # target slice speaks "alpha beta"; off-target docs speak "zeta eta".
    rows = ([(i, "alpha beta alpha beta gamma", True) for i in range(5)]
            + [(100 + i, "zeta eta zeta eta theta", False) for i in range(5)]
            + [(200, "alpha beta gamma alpha", False),   # target-like raw doc
               (201, "", False)])                        # empty doc
    df = spark.createDataFrame(rows, "doc_id int, text string, is_t boolean")
    out = {r["doc_id"]: r for r in textstats.dsir_importance(
        df, "text", "doc_id", target_filter=F.col("is_t"),
        buckets=256, keep_frac=0.6).collect()}
    assert len(out) == len(rows)
    # the target-like raw doc outscores every off-target doc
    assert all(out[200]["log_weight"] > out[100 + i]["log_weight"]
               for i in range(5))
    # ...and the target docs outscore the target-LIKE doc (they match the
    # target LM exactly); the empty doc sits at 0 (no evidence)
    assert out[0]["log_weight"] > out[200]["log_weight"]
    assert out[201]["log_weight"] == 0.0
    # top-60% cut keeps targets + the target-like doc + empty, drops the rest
    assert out[200]["keep"] and not out[100]["keep"]
    assert sum(1 for r in out.values() if r["keep"]) == 7
    # empty doc: zero features, zero weight, still present
    assert out[201]["n_feats"] == 0 and out[201]["log_weight"] == 0.0
    # n_feats = unigrams + bigrams
    assert out[200]["n_feats"] == 4 + 3


def test_dsir_importance_partition_invariant(spark):
    from disco_crawl_spark.operators import textstats
    rows = [(i, f"tok{i % 7} tok{i % 3} common word", i % 4 == 0)
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, text string, is_t boolean")
    a = textstats.dsir_importance(df.coalesce(1), "text", "doc_id",
                                  F.col("is_t")).collect()
    b = textstats.dsir_importance(df.repartition(13), "text", "doc_id",
                                  F.col("is_t")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_semantic_dedup_planted_duplicate(spark):
    import numpy as np
    rng = np.random.RandomState(7)
    base = rng.randn(30, 8)
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    # plant: vec 40 is vec 3 + tiny noise (same cluster, cosine ~1);
    # vec 41 is an exact copy of vec 40
    near = base[3] + 0.001 * rng.randn(8)
    rows += [(40, [float(x) for x in near]), (41, [float(x) for x in near])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in similarity.semantic_dedup(
        df, "embedding", "vec_id", n_centroids=4, tau=0.95,
        sample_size=32).collect()}
    assert len(out) == 32
    # the smallest id of the duplicate group survives, the rest drop
    assert out[3]["keep"] and not out[40]["keep"] and not out[41]["keep"]
    # dup group landed in one cluster (precondition of the keep rule)
    assert out[3]["ivf_list"] == out[40]["ivf_list"] == out[41]["ivf_list"]
    # everything else is kept at this tau
    assert all(r["keep"] for vid, r in out.items() if vid not in (40, 41))
    # partition invariance
    out13 = {r["vec_id"]: (r["ivf_list"], r["keep"])
             for r in similarity.semantic_dedup(
                 df.repartition(13), "embedding", "vec_id", n_centroids=4,
                 tau=0.95, sample_size=32).collect()}
    assert out13 == {v: (r["ivf_list"], r["keep"]) for v, r in out.items()}


def test_pq_ann_recall_and_encoding(spark):
    """PQ end-to-end on the driver embeddings: encoding is m codes in
    [0, ksub), and the ADC-shortlist + exact-re-rank top-20 recovers most
    of the true L2 top-20 (deterministic — fixed seeds, fixed data)."""
    sf = "/root/testdata/sf0.001"
    e = (spark.read.parquet(f"{sf}/embeddings.parquet")
         .withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double"))))
    books = similarity.train_pq_codebooks(e, "embedding", "vec_id",
                                          m=16, ksub=32)
    assert books.shape == (16, 32, 4)
    codes = similarity.pq_encode(e, "embedding", "vec_id", books).collect()
    assert all(len(r["pq_codes"]) == 16 for r in codes)
    assert all(0 <= c < 32 for r in codes for c in r["pq_codes"])

    got = {r["vec_id"] for r in similarity.pq_ann_topk(
        e, "embedding", "vec_id",
        [1.0 if i % 3 == 0 else (0.5 if i % 3 == 1 else -0.25)
         for i in range(64)], k=20, m=16, ksub=32, rerank=100).collect()}
    import numpy as np
    rows = sorted(e.collect(), key=lambda r: r["vec_id"])
    X = np.array([r["embedding"] for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    q = np.array([1.0 if i % 3 == 0 else (0.5 if i % 3 == 1 else -0.25)
                  for i in range(64)])
    exact = set(ids[np.argsort(((X - q) ** 2).sum(1),
                               kind="stable")[:20]].tolist())
    assert len(exact & got) / 20 >= 0.8, sorted(got)
    # the zero-padded-codebook trap is a hard error, not silent corruption
    with pytest.raises(ValueError):
        similarity.train_pq_codebooks(e.limit(10), "embedding", "vec_id",
                                      m=16, ksub=32)


def test_bpe_learn_merges_matches_python(spark):
    """The classic Sennrich demo vocabulary, checked against an
    independent pure-python BPE with the same replace-twice rule."""
    from collections import Counter
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    df = spark.createDataFrame([(0, " ".join(words))],
                               "doc_id long, text string")
    got = [(r["step"], r["sym_l"], r["sym_r"], r["pair_count"])
           for r in textstats.bpe_learn_merges(df, "text",
                                               n_merges=6).collect()]
    seqs = {" " + " ".join(list(w)) + " </w> ": c
            for w, c in Counter(words).items()}
    exp = []
    for step in range(1, 7):
        pc = Counter()
        for s, c in seqs.items():
            syms = s.split()
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        exp.append((step, l, r, c))
        pat, rep = f" {l} {r} ", f" {l}{r} "
        seqs = {s.replace(pat, rep).replace(pat, rep): c
                for s, c in seqs.items()}
    assert got == exp
    # the classic result: 'es' -> 'est' -> 'est</w>' lead the merges
    assert [(m[1], m[2]) for m in got[:3]] == [
        ("e", "s"), ("es", "t"), ("est", "</w>")]


def test_bm25_batch_consistent_with_single(spark):
    """Each query's rows in the batched form must equal the single-query
    operator's top-k on the same corpus."""
    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet")
    qdf = spark.createDataFrame([(1, "spark window query"),
                                 (2, "fast table scan")],
                                "query_id long, qtext string")
    batch = textstats.bm25_batch_topk(d, "text", "doc_id", qdf,
                                      "query_id", "qtext", k=5).collect()
    for qid, qtext in [(1, "spark window query"), (2, "fast table scan")]:
        got = [(r["doc_id"], r["score"]) for r in sorted(
            (r for r in batch if r["query_id"] == qid),
            key=lambda r: r["rank"])]
        single = [(r["doc_id"], r["score"]) for r in textstats.bm25_topk(
            d, "text", "doc_id", qtext, k=5).collect()]
        assert got == single, (qid, got, single)


def test_hits_matches_numpy_and_releases_checkpoints(spark):
    from disco_crawl_spark.operators import graph
    # hub 0 points at everything; 1<->2 cycle; 3 is a pure authority;
    # 4 points at the hub
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (2, 1), (2, 3), (4, 0)]
    edf = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: (r["authority"], r["hub"])
           for r in graph.hits(edf, iters=5).collect()}
    # independent numpy recomputation with the same per-step 9dp rounding
    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d in edges:
        A[idx[s], idx[d]] = 1.0
    h = np.ones(len(nodes))
    for _ in range(5):
        a = A.T @ h
        a = np.round(a / a.sum(), 9)
        h = A @ a
        h = np.round(h / h.sum(), 9)
    for n in nodes:
        assert abs(got[n][0] - round(float(a[idx[n]]), 6)) < 1e-9, n
        assert abs(got[n][1] - round(float(h[idx[n]]), 6)) < 1e-9, n
    # the pure authority (3) has zero hub score; the hub (0) dominates hubs
    assert got[3][1] == 0.0
    assert got[0][1] == max(v[1] for v in got.values())
    with pytest.raises(ValueError):
        graph.hits(edf, iters=0)


def test_bm25_topk_matches_python_reference_randomized(spark):
    """Seeded random corpora (incl. empty/None docs and a query term that
    matches nothing) against an independent python BM25."""
    import math
    import random
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    query = "alpha zeta missingterm"
    for seed in (3, 7, 11):
        rng = random.Random(seed)
        rows = []
        for i in range(50):
            n = rng.randint(0, 12)
            rows.append((i, " ".join(rng.choice(vocab)
                                     for _ in range(n)) or None))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = [(r["doc_id"], r["score"]) for r in
               textstats.bm25_topk(df, "text", "doc_id", query,
                                   k=10).collect()]
        docs = {i: (t or "").split() for i, t in rows}
        n_docs = len(rows)
        avgdl = sum(len(v) for v in docs.values()) / n_docs
        qterms = sorted(set(query.split()))
        dfreq = {t: sum(1 for d in docs.values() if t in d) for t in qterms}
        scores = {}
        for i, d in docs.items():
            s = 0.0
            for t in qterms:
                tf = d.count(t)
                if tf == 0:
                    continue
                idf = math.log(1 + (n_docs - dfreq[t] + 0.5)
                               / (dfreq[t] + 0.5))
                s += (idf * tf * 2.2
                      / (tf + 1.2 * (1 - 0.75 + 0.75 * len(d) / avgdl)))
            if s > 0:
                scores[i] = round(s, 6)
        exp = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        assert got == exp, (seed, got, exp)


def test_bpe_learn_merges_matches_python_randomized(spark):
    """Seeded random words over a 4-letter alphabet (maximizing
    same-symbol runs — the replace-twice edge) against the independent
    python BPE with identical leftmost-rescan semantics."""
    import random
    from collections import Counter
    for seed in (5, 9):
        rng = random.Random(seed)
        words = ["".join(rng.choice("abcd")
                         for _ in range(rng.randint(1, 5)))
                 for _ in range(60)]
        df = spark.createDataFrame([(0, " ".join(words))],
                                   "doc_id long, text string")
        got = [(r["step"], r["sym_l"], r["sym_r"], r["pair_count"])
               for r in textstats.bpe_learn_merges(df, "text",
                                                   n_merges=8).collect()]
        seqs = {" " + " ".join(list(w)) + " </w> ": c
                for w, c in Counter(words).items()}
        exp = []
        for step in range(1, 9):
            pc = Counter()
            for s, c in seqs.items():
                syms = s.split()
                for x, y in zip(syms, syms[1:]):
                    pc[(x, y)] += c
            if not pc:
                break
            (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            exp.append((step, l, r, c))
            pat, rep = f" {l} {r} ", f" {l}{r} "
            seqs2 = {}
            for s, c in seqs.items():
                seqs2[s.replace(pat, rep).replace(pat, rep)] = c
            seqs = seqs2
        assert got == exp, (seed, got, exp)


def test_ivf_pq_topk_recall_and_pruning(spark):
    """IVF-PQ end-to-end: recall floor vs exact L2, and the coarse
    pruning actually restricts the shortlist to the probed lists."""
    sf = "/root/testdata/sf0.001"
    e = (spark.read.parquet(f"{sf}/embeddings.parquet")
         .withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double"))))
    q = [1.0 if i % 3 == 0 else (0.5 if i % 3 == 1 else -0.25)
         for i in range(64)]
    got = {r["vec_id"] for r in similarity.ivf_pq_topk(
        e, "embedding", "vec_id", q, k=20, n_centroids=8, nprobe=5,
        m=16, ksub=32, rerank=100).collect()}
    rows = sorted(e.collect(), key=lambda r: r["vec_id"])
    X = np.array([r["embedding"] for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    qv = np.array(q)
    exact = set(ids[np.argsort(((X - qv) ** 2).sum(1),
                               kind="stable")[:20]].tolist())
    assert len(exact & got) / 20 >= 0.75, sorted(got)
    # every returned id sits in one of the 5 probed coarse lists
    C = similarity.train_ivf_centroids(e, "embedding", "vec_id",
                                       n_centroids=8, sample_size=256)
    d2c = (C * C).sum(1) - 2.0 * (C @ qv)
    probes = set(int(i) for i in np.argsort(d2c, kind="stable")[:5])
    asg = ((C * C).sum(1)[None, :] - 2.0 * (X @ C.T)).argmin(1)
    list_of = dict(zip(ids.tolist(), asg.tolist()))
    assert all(list_of[i] in probes for i in got)


def test_bfs_depth_chain_unreachable_and_raise(spark):
    from disco_crawl_spark.operators import graph
    # chain 0->1->...->9, a shortcut 0->5, an unreachable island 20->21,
    # and a second seed 8 (so 9's depth is min(9 hops from 0, 1 from 8))
    edges = [(i, i + 1) for i in range(9)] + [(0, 5), (20, 21)]
    edf = spark.createDataFrame(edges, "src int, dst int")
    seeds = spark.createDataFrame([(0,), (8,)], "n int")
    got = {r["node"]: r["depth"]
           for r in graph.bfs_depth(edf, seeds).collect()}
    want = {0: 0, 8: 0,               # seeds
            1: 1, 2: 2, 3: 3, 4: 4,  # chain from 0
            5: 1, 6: 2, 7: 3,        # via the 0->5 shortcut
            9: 1}                    # via seed 8, not the long chain
    assert got == want                # 20, 21 unreached -> absent
    # a chain deeper than max_iters must raise, not return a partial BFS
    deep = spark.createDataFrame([(i, i + 1) for i in range(6)],
                                 "src int, dst int")
    s0 = spark.createDataFrame([(0,)], "n int")
    with pytest.raises(RuntimeError, match="frontier"):
        graph.bfs_depth(deep, s0, max_iters=3)
    # seed-only graph (frontier empties immediately) returns just seeds
    lone = graph.bfs_depth(
        spark.createDataFrame([(20, 21)], "src int, dst int"),
        spark.createDataFrame([(5,)], "n int")).collect()
    assert [(r["node"], r["depth"]) for r in lone] == [(5, 0)]


def test_trustrank_matches_numpy_and_uniform_path_unchanged(spark):
    from disco_crawl_spark.operators import graph
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (2, 1), (2, 3), (4, 0)]
    edf = spark.createDataFrame(edges, "src int, dst int")
    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    d = 0.85
    # independent numpy recomputation: teleport uniform over the seeds
    # present in the graph (99 is absent); seed 3 is dangling, so D_0 > 0
    for seed_ids, iters in [((0, 4), 5), ((0, 4), 0), ((0, 3), 5)]:
        seeds = spark.createDataFrame([(i,) for i in (*seed_ids, 99)],
                                      "n int")
        p = np.zeros(len(nodes))
        for sd in seed_ids:
            p[idx[sd]] = 1.0 / 2
        got = {r["node"]: r["pagerank"]
               for r in graph.pagerank(edf, iters=iters,
                                       personalization=seeds).collect()}
        r = p.copy()
        for _ in range(iters):
            nxt = (1 - d) * p.copy()
            dang = sum(r[idx[v]] for v in nodes if v not in out)
            nxt += d * dang * p
            for a, targets in out.items():
                share = r[idx[a]] / len(targets)
                for b in targets:
                    nxt[idx[b]] += d * share
            r = nxt
        for n in nodes:
            assert abs(got[n] - r[idx[n]]) < 1e-12, (n, got[n], r[idx[n]])
        # mass conserved; non-seed-reachable-only nodes got demoted vs
        # seeds
        assert abs(sum(got.values()) - 1.0) < 1e-9
    # uniform path must be bit-identical to before the personalization arg
    uni = {r2["node"]: r2["pagerank"]
           for r2 in graph.pagerank(edf, iters=5).collect()}
    want_uni = _numpy_pagerank(edges, iters=5)
    for k in want_uni:
        assert abs(uni[k] - want_uni[k]) < 1e-12
    # all seeds outside the graph -> raise, not a silent all-zero vector
    with pytest.raises(ValueError, match="seed"):
        graph.pagerank(edf, personalization=spark.createDataFrame(
            [(99,)], "n int"))


def _py_bpe_apply(word, merges):
    """Independent double-leftmost-replace BPE application."""
    s = " " + " ".join(word) + " </w> "
    for l, r in merges:
        pat, rep = f" {l} {r} ", f" {l}{r} "
        s = s.replace(pat, rep).replace(pat, rep)
    return [x for x in s.split(" ") if x]


def test_bpe_encode_count_matches_python_mirror(spark):
    from disco_crawl_spark.operators import textstats
    texts = [(1, "aa aa ab aa"), (2, "aa b AA"), (3, None), (4, ""),
             (5, "abab aa   ab")]
    d = spark.createDataFrame(texts, "doc_id int, text string")
    mtab = textstats.bpe_learn_merges(d, "text", n_merges=3)
    merges = [(r["sym_l"], r["sym_r"])
              for r in mtab.orderBy("step").collect()]
    assert len(merges) >= 1
    got = {r["doc_id"]: r["n_bpe_tokens"]
           for r in textstats.bpe_encode_count(
               d, "text", "doc_id", merges).collect()}
    want = {}
    for i, t in texts:
        toks = [w for w in (t or "").lower().split() if w]
        want[i] = sum(len(_py_bpe_apply(w, merges)) for w in toks)
    assert got == want          # incl. 3 and 4 present with 0 tokens
    assert got[3] == 0 and got[4] == 0
    # an empty merge list degrades to chars + </w> per word
    got0 = {r["doc_id"]: r["n_bpe_tokens"]
            for r in textstats.bpe_encode_count(
                d, "text", "doc_id", []).collect()}
    assert got0[1] == sum(len(w) + 1 for w in "aa aa ab aa".split())


def test_cocitation_cap_and_counts(spark):
    from disco_crawl_spark.operators import graph
    # sources 10,11,12 all cite {1,2}; 12 also cites 3; multi-edge dup
    rows = [(10, 1), (10, 2), (11, 1), (11, 2), (11, 2),
            (12, 1), (12, 2), (12, 3), (13, 9)]
    edf = spark.createDataFrame(rows, "src int, dst int")
    got = {(r["a"], r["b"]): r["cocite"]
           for r in graph.cocitation(edf, min_count=2).collect()}
    # (1,2) cited together by 10,11,12; (1,3)/(2,3) only by 12 -> pruned
    assert got == {(1, 2): 3}
    # min_count=1 keeps the singletons, ordered a < b
    got1 = {(r["a"], r["b"]): r["cocite"]
            for r in graph.cocitation(edf, min_count=1).collect()}
    assert got1 == {(1, 2): 3, (1, 3): 1, (2, 3): 1}
    # out-degree cap: a hub citing 0..9 contributes only pairs among its
    # 3 smallest targets when capped at 3
    hub = spark.createDataFrame([(99, i) for i in range(10)],
                                "src int, dst int")
    gotc = sorted((r["a"], r["b"]) for r in graph.cocitation(
        hub, max_out_degree=3, min_count=1).collect())
    assert gotc == [(0, 1), (0, 2), (1, 2)]


def test_cocitation_plan_caps_before_join(spark):
    """Plan pin for the docstring's claims: the out-degree cap (window)
    sits BELOW the pair self-join, and the final (a,b) count has a
    map-side partial aggregate."""
    from disco_crawl_spark.operators import graph
    from disco_crawl_spark import plans
    edf = spark.range(200).selectExpr("id % 20 as src",
                                      "(id * 7) % 50 as dst")
    out = graph.cocitation(edf, max_out_degree=5, min_count=1)
    s = plans.explain_str(out, "simple")
    join_at = s.find("Join")
    win_at = s.find("Window")
    assert join_at != -1 and win_at != -1
    # explain prints top-down: the window (cap) must appear BELOW (after)
    # the join node it feeds
    assert win_at > join_at, s
    assert "partial_count" in s or "HashAggregate" in s, s


def test_gopher_rules_each_rule_fires(spark):
    base = " ".join(["the be to of and word more text here now"] * 6)  # 60 w
    rows = [
        ("ok", base),
        ("short", "the be of tiny"),                       # word count < 50
        ("longwords", " ".join(["the", "be"] + ["x" * 30] * 58)),  # mwl > 10
        ("symbols", " ".join(["the be of and"] + ["#"] * 56)),  # sym + alpha
        ("bullets", "\n".join(["the be of and word text " * 9] +
                              ["- item"] * 60)),           # >90% bullet lines
        ("ellipsis", "\n".join(["the be of and word text " * 9] +
                               ["trailing..."] * 30)),     # >30% '...' lines
        ("nostop", " ".join(["alpha beta gamma delta"] * 15)),  # <2 stopwords
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in
           textstats.gopher_rules(df, "text", "doc_id").collect()}
    assert out["ok"]["gopher_pass"] == 1
    for k in ("short", "longwords", "symbols", "bullets", "ellipsis",
              "nostop"):
        assert out[k]["gopher_pass"] == 0, (k, out[k])
    # the specific ratio that fails each doc is the one out of bounds
    assert out["short"]["n_words"] < 50
    assert out["longwords"]["mean_word_len"] > 10
    assert out["symbols"]["symbol_ratio"] > 0.1
    assert out["bullets"]["bullet_line_frac"] > 0.9
    assert out["ellipsis"]["ellipsis_line_frac"] > 0.3
    assert out["nostop"]["n_stop_hits"] < 2
    # line fractions: 60 bullet lines over 69 total
    assert abs(out["bullets"]["bullet_line_frac"] - 60 / 61) < 1e-6


def test_fuzzy_edit_pairs_blocking_and_threshold(spark):
    common = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        ("a1", common + "tail one"),
        ("a2", common + "tail two"),          # prefix block, sim >= 0.8
        ("b1", "XYZQW start differs " + common),
        ("b2", "QWERT other opening " + common),  # only the suffix block
        ("c1", "completely unrelated content about spark shuffles"),
        ("c2", "totally different text on duckdb oracle parity"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r["id_a"], r["id_b"]): r["edit_sim_micro"] for r in
           dedup.fuzzy_edit_pairs(df, "text", "doc_id").collect()}
    assert ("a1", "a2") in out
    assert ("b1", "b2") in out
    assert all(k in {("a1", "a2"), ("b1", "b2")} for k in out), out
    # fixed-point similarity agrees with a python levenshtein mirror
    def lev(s, t):
        # O(nm) reference kernel
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    import re
    norm = {k: re.sub(r"\s+", " ", v.lower()).strip() for k, v in rows}
    for (ia, ib), micro in out.items():
        l = lev(norm[ia], norm[ib])
        gm = max(len(norm[ia]), len(norm[ib]))
        assert l * 1000 <= gm * 200
        assert micro == 1_000_000 - (l * 1_000_000) // gm
    # pair found by BOTH blocks is emitted once (exact-dup doc)
    df2 = spark.createDataFrame([("d1", common), ("d2", common)],
                                ["doc_id", "text"])
    out2 = dedup.fuzzy_edit_pairs(df2, "text", "doc_id").collect()
    assert len(out2) == 1 and out2[0]["edit_sim_micro"] == 1_000_000


def test_label_propagation_planted_communities(spark):
    from disco_crawl_spark.operators import graph
    # two 5-cliques bridged by one edge: LPA must find the two blocks
    cliq_a = [(i, j) for i in range(5) for j in range(5) if i < j]
    cliq_b = [(i, j) for i in range(10, 15) for j in range(10, 15) if i < j]
    edges = cliq_a + cliq_b + [(4, 10)]
    edf = spark.createDataFrame(edges, "src int, dst int")
    got = {r["n"]: r["community"]
           for r in graph.label_propagation(edf, iters=4).collect()}

    # independent python mirror of the synchronous deterministic rule
    und = {}
    for s, d in edges:
        und.setdefault(s, set()).add(d)
        und.setdefault(d, set()).add(s)
    lab = {n: n for n in und}
    for _ in range(4):
        new = {}
        for n, nbrs in und.items():
            cnt = {}
            for m in nbrs:
                cnt[lab[m]] = cnt.get(lab[m], 0) + 1
            new[n] = min(l for l, c in cnt.items()
                         if c == max(cnt.values()))
        lab = new
    assert got == lab
    # the planted blocks really are two communities
    comms = {frozenset(n for n, c in got.items() if c == v)
             for v in set(got.values())}
    assert frozenset(range(5)) in comms
    assert frozenset(range(10, 15)) in comms


def test_fuzzy_edit_plan_keeps_lev_out_of_joins(spark):
    from disco_crawl_spark import plans
    df = spark.createDataFrame(
        [(i, f"doc text number {i}") for i in range(20)],
        ["doc_id", "text"])
    out = dedup.fuzzy_edit_pairs(df, "text", "doc_id")
    s = plans.explain_str(out, "simple")
    # the O(n*m) kernel must never be a condition of the BLOCKING joins
    # (keyed on bk): as their residual it runs per block-matched row,
    # including self-pairs — measured 2-3x the whole query.  On the
    # later id-equi string-fetch joins a pushed residual evaluates once
    # per candidate (equivalent to the post-join filter), so it's allowed
    # there.  Also: no wide first()-style pair-dedup aggregate.
    for line in s.splitlines():
        if "Join" in line and "bk#" in line:
            assert "levenshtein" not in line, line
    assert "first(ta" not in s and "first(tb" not in s, s
    assert "levenshtein" in s  # the verify does run, post-blocking


def test_containment_pairs_planted_subset_and_hot_cap(spark):
    quote = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        ("inner", quote),
        ("outer", quote + " kilo lima mike november oscar papa quebec "
                          "romeo sierra tango uniform victor whiskey xray"),
        ("other", "one two three four five six seven eight nine ten "
                  "eleven twelve thirteen fourteen fifteen sixteen"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r["id_a"], r["id_b"]): r for r in
           dedup.containment_pairs(df, "text", "doc_id").collect()}
    # the quote is fully contained: all 8 of inner's 3-grams shared
    assert set(out) == {("inner", "outer")}
    r = out[("inner", "outer")]
    assert r["shared"] == 8 and r["cont_micro"] == 1_000_000
    # hot-gram cap: with max_df=1 every shared gram is "hot", pair gone —
    # the cap bounds pair generation (denominators would stay true)
    none = dedup.containment_pairs(df, "text", "doc_id", max_df=1).collect()
    assert none == []
    # symmetric Jaccard would have REJECTED this pair (the point of the op)
    ja = dedup.token_jaccard_pairs(df, "text", "doc_id",
                                   threshold=0.7).collect()
    assert ("inner", "outer") not in {(x["a"], x["b"]) for x in ja}


def test_budget_waterfill_invariants_and_python_mirror(spark):
    from disco_crawl_spark.operators import schedule
    import random
    rng = random.Random(7)
    rows = [(h, rng.randint(1, 40)) for h in range(25)]
    df = spark.createDataFrame(rows, "host long, demand long")
    total = sum(d for _, d in rows)

    def mirror(budget):
        srt = sorted(rows, key=lambda x: (x[1], x[0]))
        n = len(srt)
        k, pk, prefix = 0, 0, 0
        for i, (h, d) in enumerate(srt, 1):
            if prefix + d * (n - i + 1) <= budget:
                k, pk = i, prefix + d
            prefix += d
        rem = n - k
        leftover = budget - pk
        lvl = leftover // max(rem, 1)
        extra = leftover - lvl * rem
        out = {}
        for i, (h, d) in enumerate(srt, 1):
            out[h] = d if i <= k else lvl + (1 if i - k <= extra else 0)
        return out

    for budget in (0, 1, total // 3, total - 1, total, total + 50):
        got = {r["host"]: r["allocated"] for r in
               schedule.budget_waterfill(df, budget).collect()}
        dem = dict(rows)
        assert got == mirror(budget), budget
        assert all(0 <= got[h] <= dem[h] for h in dem), budget
        assert sum(got.values()) == min(budget, total), budget
        # max-min fairness: every unsatisfied host gets at least as much
        # as any other host's unsatisfied share minus the 1-slot remainder
        unsat = [got[h] for h in dem if got[h] < dem[h]]
        if unsat:
            assert max(unsat) - min(unsat) <= 1, budget


def test_trap_templates_flags_infinite_spaces(spark):
    from disco_crawl_spark.operators import schedule
    rows = ([("a.gov", f"/cal/2024/{d}") for d in range(60)]      # trap
            + [("a.gov", "/about"), ("a.gov", "/contact")]        # fine
            + [("b.gov", f"/p{i}" ) for i in range(5)])           # fine
    df = spark.createDataFrame(rows, ["host", "path"])
    out = {(r["host"], r["tmpl"]): r for r in
           schedule.trap_templates(df, cap=40).collect()}
    trap = out[("a.gov", "/cal/N/N")]
    assert trap["is_trap"] == 1 and trap["n_urls"] == 60
    # share: 60 of a.gov's 62 distinct urls
    assert trap["share_micro"] == 60 * 1_000_000 // 62
    assert out[("a.gov", "/about")]["is_trap"] == 0
    assert out[("b.gov", "/pN")]["is_trap"] == 0
    assert out[("b.gov", "/pN")]["n_urls"] == 5  # digits collapse together


def test_recrawl_change_rates_transitions(spark):
    from disco_crawl_spark.operators import schedule
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # url 1: A -> A -> B -> B -> A  (2 changes / 4 revisits)
        *[(1, t0 + dt.timedelta(hours=i), i, v)
          for i, v in enumerate(["A", "A", "B", "B", "A"])],
        # url 2: constant (0 changes / 2 revisits)
        *[(2, t0 + dt.timedelta(hours=i), 10 + i, "X") for i in range(3)],
        # url 3: single visit -> rate 0
        (3, t0, 99, "Z"),
        # url 4: equal timestamps, tie broken by event id: A(5) -> B(6)
        (4, t0, 5, "A"), (4, t0, 6, "B"),
    ]
    df = spark.createDataFrame(rows, ["url_id", "ts", "event_id", "ver"])
    got = {r["url_id"]: r for r in
           schedule.recrawl_change_rates(df, content_col="ver",
                                         tie_col="event_id").collect()}
    assert (got[1]["n_changed"], got[1]["change_rate_micro"]) == (2, 500_000)
    assert (got[2]["n_changed"], got[2]["change_rate_micro"]) == (0, 0)
    assert (got[3]["n_visits"], got[3]["change_rate_micro"]) == (1, 0)
    assert got[4]["n_changed"] == 1
    assert got[1]["last_ts"] == t0 + dt.timedelta(hours=4)


def test_politeness_audit_gaps_and_violations(spark):
    from disco_crawl_spark.operators import schedule
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # polite host: 3 fetches 200s apart
        ("good", t0), ("good", t0 + dt.timedelta(seconds=200)),
        ("good", t0 + dt.timedelta(seconds=400)),
        # rude host: 30s and 500s gaps -> 1 violation of 2 gaps
        ("rude", t0), ("rude", t0 + dt.timedelta(seconds=30)),
        ("rude", t0 + dt.timedelta(seconds=530)),
        # single fetch: no gaps, NULL min
        ("solo", t0),
    ]
    df = spark.createDataFrame(rows, ["host", "ts"])
    got = {r["host"]: r for r in
           schedule.politeness_audit(df, min_delay_sec=120).collect()}
    assert got["good"]["n_violations"] == 0
    assert got["good"]["min_gap_sec_micro"] == 200_000_000
    assert got["rude"]["n_violations"] == 1
    assert got["rude"]["violation_rate_micro"] == 500_000
    assert got["solo"]["min_gap_sec_micro"] is None
    assert got["solo"]["violation_rate_micro"] == 0


def test_compression_ratio_matches_python_zlib(spark):
    import zlib
    rows = [("rep", "spam spam spam " * 50),
            ("prose", "the quick brown fox jumps over one lazy dog while "
                      "seventeen vexed zebras quietly mix bright jugs"),
            ("empty", "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           textstats.compression_ratio(df, "text", "doc_id").collect()}
    for k, t in rows:
        b = t.encode("utf-8")
        assert got[k]["raw_len"] == len(b)
        assert got[k]["zlib_len"] == len(zlib.compress(b, 6))
        exp = (len(zlib.compress(b, 6)) * 1_000_000 // len(b)) if b else 0
        assert got[k]["ratio_micro"] == exp
    # the repetitive doc compresses far better than prose
    assert got["rep"]["ratio_micro"] < got["prose"]["ratio_micro"] // 3


def test_dedup_keep_best_elects_highest_score(spark):
    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (4, 7), (5, 50)],
        ["doc_id", "score"])
    # component {1,2,3} (chain), component {4}, component {5}
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["a", "b"])
    got = {r["doc_id"]: r for r in
           dedup.dedup_keep_best(docs, pairs, "doc_id", "score").collect()}
    # highest score wins; tie (2 vs 3 at 99) -> smallest id
    assert all(got[i]["keep_id"] == 2 for i in (1, 2, 3))
    assert got[2]["is_canonical"] and not got[1]["is_canonical"]
    # singletons are their own canonical
    assert got[4]["keep_id"] == 4 and got[4]["is_canonical"]
    assert got[5]["keep_id"] == 5
    # exactly one canonical per component
    assert sum(1 for r in got.values() if r["is_canonical"]) == 3


def test_sitemap_entries_multi_entry_and_missing_tags(spark):
    from disco_crawl_spark import sources
    xml = ("<urlset><url><loc>https://a.gov/1</loc>"
           "<lastmod>2024-01-01</lastmod><changefreq>daily</changefreq>"
           "</url><url><loc>https://a.gov/2</loc></url>"
           "<url><lastmod>2024-02-02</lastmod></url></urlset>")
    df = spark.createDataFrame([(1, xml), (2, "<urlset></urlset>")],
                               ["sm_id", "xml"])
    got = sources.sitemap_entries(df, "xml").drop("xml").collect()
    rows = {(r["sm_id"], r["loc"]): r for r in got}
    # entry 1: all tags; entry 2: optional tags NULL; loc-less entry and
    # empty sitemap produce no rows
    assert set(rows) == {(1, "https://a.gov/1"), (1, "https://a.gov/2")}
    full = rows[(1, "https://a.gov/1")]
    assert full["lastmod"] == "2024-01-01" and full["changefreq"] == "daily"
    bare = rows[(1, "https://a.gov/2")]
    assert bare["lastmod"] is None and bare["changefreq"] is None


def test_resolve_redirects_chains_cycles_and_cap(spark):
    from disco_crawl_spark.operators import graph
    # chain a→b→c→T (3 hops), 6-hop chain h0→…→h6 (over the cap of 4),
    # 2-cycle x↔y, and a tail into the cycle z→x
    edges = ([("a", "b"), ("b", "c"), ("c", "T")]
             + [(f"h{i}", f"h{i+1}") for i in range(6)]
             + [("x", "y"), ("y", "x"), ("z", "x")])
    m = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["url"]: r for r in
           graph.resolve_redirects(m, max_hops=4).collect()}
    # every url in src ∪ dst appears exactly once
    assert len(got) == 14
    assert (got["a"]["final_url"], got["a"]["hops"],
            got["a"]["resolved"]) == ("T", 3, 1)
    assert (got["b"]["final_url"], got["b"]["hops"]) == ("T", 2)
    assert (got["T"]["final_url"], got["T"]["hops"],
            got["T"]["resolved"]) == ("T", 0, 1)
    # h2→h6 is exactly 4 hops — resolves AT the cap; h0/h1 are too long
    assert (got["h2"]["final_url"], got["h2"]["hops"]) == ("h6", 4)
    for u in ("h0", "h1"):
        assert (got[u]["final_url"], got[u]["hops"],
                got[u]["resolved"]) == (None, 4, 0)
    # cycle members and the tail into the cycle never resolve
    for u in ("x", "y", "z"):
        assert (got[u]["final_url"], got[u]["resolved"]) == (None, 0)
    # non-functional map (two Locations for one src) raises
    bad = spark.createDataFrame([("a", "b"), ("a", "c")], ["src", "dst"])
    import pytest as _pt
    with _pt.raises(ValueError, match="functional"):
        graph.resolve_redirects(bad, max_hops=4)


def test_host_line_dedup_drops_per_host_chrome_only(spark):
    from disco_crawl_spark.operators import textstats
    footer = "Contact us | Privacy | Terms"
    rows = [
        # host A: footer on all 3 pages (boilerplate), unique bodies
        (1, "a.gov", f"alpha body one\n{footer}"),
        (2, "a.gov", f"beta body two\n{footer}\nextra beta line"),
        (3, "a.gov", f"  {footer.upper()}  \ngamma body three"),
        # host B: the SAME footer but only 2 of 3 docs carry it —
        # below min_docs=3, so it survives there
        (4, "b.gov", f"delta body\n{footer}"),
        (5, "b.gov", f"epsilon body\n{footer}"),
        (6, "b.gov", "zeta body only"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {r["doc_id"]: r for r in
           textstats.host_line_dedup(df, "text", "doc_id", "source",
                                     min_docs=3).collect()}
    # host A: footer dropped everywhere (case/whitespace-insensitive
    # counting — doc 3's upper-cased padded copy counts and drops too),
    # original line order and original casing preserved in the kept text
    assert got[1]["clean_text"] == "alpha body one"
    assert got[2]["clean_text"] == "beta body two\nextra beta line"
    assert got[3]["clean_text"] == "gamma body three"
    assert (got[1]["n_lines"], got[1]["n_dropped"]) == (2, 1)
    assert (got[3]["n_lines"], got[3]["n_dropped"]) == (2, 1)
    # host B: footer below the threshold — untouched
    assert got[4]["clean_text"] == f"delta body\n{footer}"
    assert got[5]["n_dropped"] == 0
    assert got[6]["clean_text"] == "zeta body only"
    # all-boilerplate doc → empty clean_text, counts intact
    df2 = spark.createDataFrame(
        [(i, "c.gov", footer) for i in range(3)],
        ["doc_id", "source", "text"])
    got2 = textstats.host_line_dedup(df2, "text", "doc_id", "source",
                                     min_docs=3).collect()
    assert all(r["clean_text"] == "" and r["n_dropped"] == 1
               for r in got2)


def test_mine_junk_params_evidence_rules(spark):
    from disco_crawl_spark.operators import schedule
    rows = [
        # /a?id=N drives content; sid is a session id (junk); lone=1 is
        # single-valued everywhere (vacuous — NOT junk, no evidence)
        ("/a?id=1&sid=x&lone=1", "h1"),
        ("/a?id=1&sid=y&lone=1", "h1"),
        ("/a?id=2&sid=x&lone=1", "h2"),
        ("/a?id=2&sid=z&lone=1", "h2"),
        # query-less URL contributes nothing
        ("/plain", "h9"),
    ]
    df = spark.createDataFrame(rows, ["url", "content_hash"])
    got = {r["param"]: r for r in
           schedule.mine_junk_params(df, "url", "content_hash").collect()}
    assert set(got) == {"id", "sid", "lone"}
    # sid: same (path, id, lone) group, two values, one hash → junk
    assert got["sid"]["junk"] == 1 and got["sid"]["n_values"] == 3
    # id: the (path, sid=x, lone=1) group holds id=1→h1 and id=2→h2 → meaningful
    assert got["id"]["junk"] == 0 and got["id"]["n_values"] == 2
    # lone: constant value — vacuous, never junk
    assert got["lone"]["junk"] == 0 and got["lone"]["n_values"] == 1
    assert got["id"]["n_urls"] == 4


def test_apply_param_canonicalization_strips_and_reorders(spark):
    from disco_crawl_spark.operators import schedule
    urls = spark.createDataFrame(
        [("/a?sid=1&id=2", "h"), ("/a?id=2&sid=9", "h"),
         ("/b?sid=7", "h"), ("/plain", "h"),
         ("/a?sid=1&id=2", "h")],     # duplicate observation
        ["url", "content_hash"])
    junk = spark.createDataFrame(
        [("sid", 1), ("id", 0)], ["param", "junk"])
    got = {r["url"]: r["canonical_url"] for r in
           schedule.apply_param_canonicalization(urls, junk).collect()}
    # one row per DISTINCT url; junk stripped; kept params sorted
    assert len(got) == 4
    assert got["/a?sid=1&id=2"] == "/a?id=2"
    assert got["/a?id=2&sid=9"] == "/a?id=2"     # variants collapse
    # all params junk → bare path; query-less URL passes through
    assert got["/b?sid=7"] == "/b"
    assert got["/plain"] == "/plain"


def test_reciprocity_mutual_vs_one_way(spark):
    from disco_crawl_spark.operators import graph
    # a↔b mutual; a→c, c→d one-way; self-loop d→d ignored; duplicate
    # edge a→b collapses
    edges = [("a", "b"), ("b", "a"), ("a", "c"), ("c", "d"),
             ("d", "d"), ("a", "b")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r for r in graph.reciprocity(df).collect()}
    assert set(got) == {"a", "b", "c"}          # d has no real out-edge
    assert (got["a"]["out_deg"], got["a"]["mutual"]) == (2, 1)
    assert got["a"]["reciprocity_micro"] == 500000
    assert (got["b"]["out_deg"], got["b"]["mutual"],
            got["b"]["reciprocity_micro"]) == (1, 1, 1000000)
    assert (got["c"]["mutual"], got["c"]["reciprocity_micro"]) == (0, 0)


def test_content_novelty_rounds(spark):
    from disco_crawl_spark.operators.diff import content_novelty
    rows = [
        (0, "alpha beta gamma delta"),          # grams: ab g, bgd → 2
        (1, "alpha beta gamma epsilon"),        # abg repeats, bge new
        (1, "zeta eta theta iota"),             # 2 new grams
        (2, "alpha beta gamma delta"),          # all 2 grams old
        (2, "xi"),                              # too short — no grams
    ]
    df = spark.createDataFrame(rows, ["rnd", "text"])
    got = {r["round"]: r for r in
           content_novelty(df, "text", "rnd", ngram=3).collect()}
    assert (got[0]["n_grams"], got[0]["n_new"],
            got[0]["novelty_micro"]) == (2, 2, 1000000)
    # round 1: grams {abg, bge, zet, eth} → abg old, 3 new
    assert (got[1]["n_grams"], got[1]["n_new"]) == (4, 3)
    assert got[1]["novelty_micro"] == 750000
    # round 2: both grams seen in round 0 → zero novelty
    assert (got[2]["n_grams"], got[2]["n_new"],
            got[2]["novelty_micro"]) == (2, 0, 0)


def test_rel_canonical_map_attribute_orders_and_fallback(spark):
    from disco_crawl_spark import sources
    rows = [
        ("u1", '<head><link rel="canonical" href="https://c/1"></head>'),
        ("u2", '<head><link href="https://c/2" rel="canonical"></head>'),
        ("u3", '<head><link rel="stylesheet" href="/style.css"></head>'),
        ("u4", None),
        ("u5", '<head><link rel="canonical" href=""></head>'),
    ]
    df = spark.createDataFrame(rows, ["url", "html"])
    got = {r["url"]: r for r in
           sources.rel_canonical_map(df, "url", "html").collect()}
    assert (got["u1"]["canonical_url"], got["u1"]["declared"]) == \
        ("https://c/1", 1)
    assert (got["u2"]["canonical_url"], got["u2"]["declared"]) == \
        ("https://c/2", 1)
    # stylesheet link, missing html, and empty href all fall back to self
    for u in ("u3", "u4", "u5"):
        assert (got[u]["canonical_url"], got[u]["declared"]) == (u, 0)


def test_mirror_host_pairs_planted_mirror(spark):
    from disco_crawl_spark.operators import dedup
    rows = (
        # A and B share 3 of 4 hashes (Jaccard 3/5); C is disjoint;
        # duplicate (host, hash) observations collapse
        [("A", f"x{i}") for i in (1, 2, 3, 4)]
        + [("B", f"x{i}") for i in (1, 2, 3)] + [("B", "y9"), ("B", "x1")]
        + [("C", "z1"), ("C", "z2")])
    df = spark.createDataFrame(rows, ["host", "content_hash"])
    got = dedup.mirror_host_pairs(df, "host", "content_hash",
                                  threshold_micro=500000).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["host_a"], r["host_b"], r["inter"]) == ("A", "B", 3)
    assert (r["size_a"], r["size_b"]) == (4, 4)
    assert r["jaccard_micro"] == 600000 and r["mirror"] == 1


def test_dom_template_stats_shares_and_hot_flag(spark):
    from disco_crawl_spark import sources
    tpl_a = "<html><body><div><p>%s</p></div></body></html>"
    tpl_b = "<html><body><ul><li>%s</li></ul></body></html>"
    rows = ([("A", tpl_a % f"text {i}") for i in range(3)]
            + [("A", tpl_b % "x")]
            + [("B", tpl_b % "y")])
    df = spark.createDataFrame(rows, ["host", "html"])
    got = sources.dom_template_stats(df, "host", "html",
                                     hot_micro=500000).collect()
    by = {(r["host"], r["n_pages"]): r for r in got}
    # host A: template a covers 3/4 (hot), template b 1/4; text content
    # does not perturb the fingerprint
    assert (by[("A", 3)]["share_micro"], by[("A", 3)]["hot"]) == (750000, 1)
    assert (by[("A", 1)]["share_micro"], by[("A", 1)]["hot"]) == (250000, 0)
    assert (by[("B", 1)]["share_micro"], by[("B", 1)]["hot"]) == (1000000, 1)
    # identical skeleton hashes across hosts
    assert by[("A", 1)]["template"] == by[("B", 1)]["template"]


def test_recrawl_priority_staleness_times_rate(spark):
    from disco_crawl_spark.operators import schedule
    import datetime as dt
    ts = lambda d: dt.datetime(2025, 1, 1) - dt.timedelta(days=d)
    rates = spark.createDataFrame(
        [(1, 500000, ts(10)),    # stale AND changing → top
         (2, 500000, ts(1)),     # changing but fresh
         (3, 0, ts(10)),         # stale but static: ages via the +1
         (4, 1000000, ts(0))],   # age 0 → zero priority
        ["url_id", "change_rate_micro", "last_ts"])
    got = schedule.recrawl_priority(
        rates, "2025-01-01 00:00:00", k=3).collect()
    # stale+changing first, then fresh+changing (rate dominates the
    # age gap here), then stale+static; age-0 falls off the top-3
    assert [r["url_id"] for r in got] == [1, 2, 3]
    top = got[0]
    assert top["age_sec"] == 10 * 86400
    assert top["priority_micro"] == 10 * 86400 * 500001
    # static page's priority is exactly its age (rate 0 → factor 1)
    assert got[2]["priority_micro"] == 10 * 86400


def test_sq8_reconstruction_known_grid(spark):
    from disco_crawl_spark.operators import similarity
    # dim0 spans [0, 2]; dim1 is degenerate (constant) → exact
    rows = [(1, [0.0, 5.0]), (2, [1.0, 5.0]), (3, [2.0, 5.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r["vec_id"]: r["mse_micro"] for r in
           similarity.sq8_reconstruction(df, "embedding",
                                         "vec_id").collect()}
    # endpoints are exactly representable; the midpoint snaps to level
    # 128 → dq = 256/255, err² ≈ 1.5379e-5, mse = err²/2 → 8 micros
    assert got[1] == 0 and got[3] == 0
    assert got[2] == 8


def test_split_leakage_cross_source_duplicate(spark):
    import hashlib
    from disco_crawl_spark.operators import dedup, textstats

    def split_of(source):
        h = int(hashlib.md5(f"42|{source}".encode()).hexdigest()[:8], 16)
        return ("train" if h < int(0.9 * 2**32)
                else "val" if h < int(0.95 * 2**32) else "test")

    # find two sources landing in different splits
    srcs = [f"src{i}" for i in range(50)]
    s_a = next(s for s in srcs if split_of(s) == "train")
    s_b = next(s for s in srcs if split_of(s) != "train")
    rows = [
        (1, s_a, "identical leaked document text body"),
        (2, s_b, "identical leaked document text body"),  # cross-split dup
        (3, s_a, "a completely different and unrelated page"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    pairs = dedup.token_jaccard_pairs(df, "text", "doc_id", threshold=0.5,
                                      id_cap=200)
    comps = dedup.dedup_keep(df, pairs, "doc_id")
    splits = textstats.domain_split(df, "source", "doc_id",
                                    fractions=(0.9, 0.05), seed=42)
    from pyspark.sql import functions as F
    out = {r["comp"]: r for r in
           (comps.select("doc_id", F.col("keep_id").alias("comp"))
            .join(splits.select("doc_id", "split"), "doc_id")
            .groupBy("comp")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count_distinct("split").alias("n_splits"))
            .withColumn("leaky", (F.col("n_splits") > 1).cast("int"))
            ).collect()}
    assert (out[1]["n_docs"], out[1]["n_splits"], out[1]["leaky"]) == (2, 2, 1)
    assert (out[3]["n_docs"], out[3]["leaky"]) == (1, 0)


def test_cms_overestimate_never_misses_hot_key(spark):
    from pyspark.sql import functions as F
    from disco_crawl_spark.operators import sketch
    rows = [("hot",)] * 50 + [(f"tail-{i}",) for i in range(100)]
    df = spark.createDataFrame(rows, ["k"])
    # width 16 << 101 keys forces collisions: estimates may overcount,
    # must never undercount (the CMS one-sided guarantee)
    est = {r["k"]: r["est"] for r in
           sketch.cms_estimate(sketch.cms_counters(df, "k", 4, 16),
                               df, "k", 4, 16).collect()}
    assert est["hot"] >= 50
    assert all(est[f"tail-{i}"] >= 1 for i in range(100))
    hh = sketch.cms_heavy_hitters(df, "k", threshold=30, depth=4,
                                  width=16).collect()
    by_k = {r["k"]: r for r in hh}
    assert "hot" in by_k and by_k["hot"]["exact"] == 50
    # every reported row keeps est >= exact
    assert all(r["overcount"] >= 0 for r in hh)
    # false candidates (collision victims) are possible but each one's
    # overcount exposes it: exact stays its true tiny count
    for r in hh:
        if r["k"] != "hot":
            assert r["exact"] == 1


def test_surt_key_golden(spark):
    from pyspark.sql import functions as F
    from disco_crawl_spark import functions as cf
    cases = [
        ("HTTP://WWW.Example.GOV.au:8080/A/B?b=2&a=1#f",
         "au,gov,example)/a/b?a=1&b=2"),
        ("https://sub.site.com/x", "com,site,sub)/x"),
        ("http://host.com", "com,host)/"),
        ("http://host.com/p?", "com,host)/p"),
        # param order collapses to one key
        ("http://h.org/p?a=1&b=2", "org,h)/p?a=1&b=2"),
        ("http://h.org/p?b=2&a=1", "org,h)/p?a=1&b=2"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [r["surt"] for r in
           df.select(cf.surt_key(F.col("url")).alias("surt")).collect()]
    assert got == [w for _, w in cases]


def test_rendezvous_moves_only_to_new_shard(spark):
    from pyspark.sql import functions as F
    from disco_crawl_spark.operators import schedule
    keys = spark.createDataFrame([(f"host-{i}.gov.au",)
                                  for i in range(200)], ["host"])
    before = [f"s{i:02d}" for i in range(4)]
    after = before + ["s04"]
    m = schedule.rendezvous_churn(keys, "host", before, after).collect()
    moved = stayed = 0
    for r in m:
        if r["shard_before"] == r["shard_after"]:
            stayed += r["n_keys"]
        else:
            # HRW invariant: a key never moves between two SURVIVING
            # shards when one is added — movers all land on the new one
            assert r["shard_after"] == "s04"
            moved += r["n_keys"]
    assert moved + stayed == 200
    assert 0 < moved < 200 // 2          # ~1/5 expected, far under half
    # shrink is the mirror image: only the removed shard's keys move
    m2 = schedule.rendezvous_churn(keys, "host", after, before).collect()
    for r in m2:
        if r["shard_before"] != r["shard_after"]:
            assert r["shard_before"] == "s04"
    # and the two matrices are transposes of each other (same hash family)
    fwd = {(r["shard_before"], r["shard_after"]): r["n_keys"] for r in m}
    rev = {(r["shard_after"], r["shard_before"]): r["n_keys"] for r in m2}
    assert fwd == rev


def test_binned_quantiles_within_one_bin_of_exact(spark):
    from disco_crawl_spark.operators import sketch
    vals = list(range(1000))                   # 0..999, uniform
    df = spark.createDataFrame([(v,) for v in vals], ["n"])
    got = {r["p_pct"]: r for r in
           sketch.binned_quantiles(df, "n", [50, 90, 99],
                                   bin_width=10).collect()}
    for p in (50, 90, 99):
        k = (p * 1000 + 99) // 100
        exact = sorted(vals)[k - 1]            # k-th smallest
        est = got[p]["est"]
        assert got[p]["k"] == k
        assert est <= exact < est + 10, (p, est, exact)


def test_script_mix_counts_unicode_classes(spark):
    from disco_crawl_spark.operators import textstats
    rows = [
        (1, "abc XYZ 123"),          # 6 latin, 3 digit
        (2, "汉字漢字 привет ab"),    # 4 cjk, 6 cyrillic, 2 latin
        (3, ""),                     # empty → NULL fraction
        (4, "a" * 3000),             # >2147 chars: count*1e6 must not
    ]                                # wrap past 2^31 (widened to BIGINT)
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           textstats.script_mix(df, "text", "doc_id").collect()}
    assert (got[1]["n_latin"], got[1]["n_digit"], got[1]["n_cjk"]) == (6, 3, 0)
    assert got[1]["latin_frac_micro"] == 6 * 1000000 // 11
    assert (got[2]["n_cjk"], got[2]["n_cyrillic"], got[2]["n_latin"]) == (4, 6, 2)
    assert got[3]["n_chars_s"] == 0 and got[3]["latin_frac_micro"] is None
    assert got[4]["latin_frac_micro"] == 1000000


def test_robots_wildcard_gate_precedence(spark):
    """RFC 9309 matching: longest pattern wins, allow beats disallow on a
    length tie, trailing $ anchors, * spans segments, no-match defaults
    to allow."""
    from disco_crawl_spark.operators import schedule
    rules = spark.createDataFrame(
        [("h", "/private/", 0),
         ("h", "/private/pub*", 1),     # longer -> overrides the disallow
         ("h", "*.pdf$", 0),            # wildcard + end anchor
         ("h", "/tie/ab", 0),
         ("h", "/tie/a*", 1)],          # same length as /tie/ab -> allow wins
        "host string, pattern string, allow int")
    urls = spark.createDataFrame(
        [("h", "/private/secret"),      # only /private/ matches -> deny
         ("h", "/private/pub1"),        # 13 > 9 -> allow
         ("h", "/private/pub1.pdf"),    # 13 > 7 -> allow beats *.pdf$
         ("h", "/doc/x.pdf"),           # anchored pdf -> deny
         ("h", "/doc/x.pdfs"),          # $ anchor fails -> no rule -> allow
         ("h", "/tie/ab"),              # 7 == 7 tie -> allow wins
         ("h", "/elsewhere")],          # no match -> allow
        "host string, path string")
    out = {r["path"]: (r["allowed"], r["rule"])
           for r in schedule.robots_wildcard_gate(urls, rules).collect()}
    assert out["/private/secret"] == (0, "/private/")
    assert out["/private/pub1"] == (1, "/private/pub*")
    assert out["/private/pub1.pdf"] == (1, "/private/pub*")
    assert out["/doc/x.pdf"] == (0, "*.pdf$")
    assert out["/doc/x.pdfs"] == (1, None)
    assert out["/tie/ab"] == (1, "/tie/a*")
    assert out["/elsewhere"] == (1, None)


def test_robots_wildcard_gate_drops_redos_patterns(spark):
    """A hostile rule with more than 10 '*'s is ignored (the Googlebot
    bound): robots.txt is attacker-controlled, and many-star patterns
    compiled to .*-chains backtrack polynomially in the executors. The
    gate must answer as if the rule did not exist — and fast."""
    from disco_crawl_spark.operators import schedule
    hostile = "/" + "a*" * 40 + "b"          # 40 stars -> dropped
    edge = "/p" + "*x" * 10                  # exactly 10 -> kept
    rules = spark.createDataFrame(
        [("h", hostile, 0), ("h", edge, 0)],
        "host string, pattern string, allow int")
    urls = spark.createDataFrame(
        [("h", "/" + "a" * 2000),            # would ReDoS vs hostile
         ("h", "/p" + "x" * 10)],
        "host string, path string")
    out = {r["path"]: (r["allowed"], r["rule"])
           for r in schedule.robots_wildcard_gate(urls, rules).collect()}
    assert out["/" + "a" * 2000] == (1, None)      # hostile rule ignored
    assert out["/p" + "x" * 10] == (0, edge)       # 10-star rule still live


def test_ucb_priority_exploration_and_cold_start(spark):
    """Fixed-point UCB1: a never-fetched host ranks first; among fetched
    hosts the bonus decays with n; values equal the scalar recomputation."""
    import math
    from disco_crawl_spark.operators import schedule
    hist = [("a", 100, 90), ("b", 100, 10), ("c", 4, 3), ("cold", 0, 0)]
    df = spark.createDataFrame(
        hist, "host string, n_fetches long, n_useful long")
    out = {r["host"]: r["ucb_micro"]
           for r in schedule.ucb_priority(df).collect()}
    total = sum(n for _, n, _ in [(h, n, w) for h, n, w in hist])
    L = int(math.floor(math.log2(total)))
    for h, n, w in hist:
        if n == 0:
            assert out[h] == 1 << 62
            continue
        expect = (w * 1_000_000) // n + math.isqrt(
            (2 * L * 1_000_000_000_000) // n)
        assert out[h] == expect, (h, out[h], expect)
    assert out["cold"] > out["c"] > out["b"]
    assert out["a"] > out["b"]  # higher mean, same n


def test_error_ema_matches_recursion(spark):
    """Closed-form dyadic EMA == the direct ema = (e + prev)/2 recursion,
    exactly (alpha = 1/2 keeps every term a dyadic rational)."""
    from disco_crawl_spark.operators import schedule
    series = {"h1": [1_000_000, 0, 500_000, 250_000],
              "h2": [0, 0, 1_000_000],
              "h3": [777_777]}
    rows = [(h, i, e) for h, es in series.items() for i, e in enumerate(es)]
    df = spark.createDataFrame(rows, "host string, round long, err_micro long")
    out = {r["host"]: (r["ema_micro"], r["n_rounds"])
           for r in schedule.error_ema(df).collect()}
    for h, es in series.items():
        ema = float(es[0])
        for e in es[1:]:
            ema = (e + ema) / 2.0
        assert out[h] == (int(ema), len(es)), (h, out[h], ema)


def test_error_ema_windows_long_histories(spark):
    """Past `window` observations the EMA is the recursion over just the
    last `window` terms (the truncation that keeps every partial sum an
    exact dyadic rational regardless of history length); n_rounds still
    reports the full history."""
    from disco_crawl_spark.operators import schedule
    es = [(i * 37) % 1_000_000 for i in range(40)]  # 40 > window=32
    rows = [("h", i, e) for i, e in enumerate(es)]
    df = spark.createDataFrame(rows, "host string, round long, err_micro long")
    out = {r["host"]: (r["ema_micro"], r["n_rounds"])
           for r in schedule.error_ema(df).collect()}
    tail = es[-32:]
    ema = float(tail[0])
    for e in tail[1:]:
        ema = (e + ema) / 2.0
    assert out["h"] == (int(ema), 40), (out["h"], ema)
    # a shorter window truncates further, same recursion
    out8 = schedule.error_ema(df, window=8).collect()[0]
    tail8 = es[-8:]
    ema8 = float(tail8[0])
    for e in tail8[1:]:
        ema8 = (e + ema8) / 2.0
    assert (out8["ema_micro"], out8["n_rounds"]) == (int(ema8), 40)


def test_opic_mass_conservation_and_determinism(spark):
    """OPIC on a known 4-node graph: history+cash totals stay within the
    documented floor-division decay of n·cash0, values match a scalar
    simulation, and a re-run is bit-identical."""
    from disco_crawl_spark.operators import graph
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "a")]
    # e has no out-edge? all of a,b,c,d have out-edges except none — add a
    # dangling sink: edges point at 'e' which never links out
    edges.append(("c", "e"))
    df = spark.createDataFrame(edges, "src string, dst string")
    cash0 = 1_000_000
    for iters in (0, 3):  # iters=0 is cash = cash0, hist = 0
        out = {r["node"]: (r["cash"], r["hist"], r["importance_micro"])
               for r in graph.opic(df, iters=iters, cash0=cash0).collect()}

        # scalar simulation with identical floor-div semantics
        nodes = sorted({x for e in edges for x in e})
        outs = {}
        for s, d in edges:
            outs.setdefault(s, []).append(d)
        n = len(nodes)
        cash = {v: cash0 for v in nodes}
        hist = {v: 0 for v in nodes}
        for _ in range(iters):
            recv = {v: 0 for v in nodes}
            dang = sum(c for v, c in cash.items() if v not in outs)
            for v, ds in outs.items():
                share = cash[v] // len(ds)
                for d in ds:
                    recv[d] += share
            for v in nodes:
                hist[v] += cash[v]
            for v in nodes:
                cash[v] = recv[v] + dang // n
        for v in nodes:
            assert out[v] == (cash[v], hist[v], cash[v] + hist[v]), v

        # mass decays only by retired floor remainders, monotonically
        # bounded
        total = sum(c for c, _, _ in out.values())
        assert total <= n * cash0
        assert total >= n * cash0 - iters * n * max(
            len(ds) for ds in outs.values()) - iters * n * n

    out2 = {r["node"]: (r["cash"], r["hist"], r["importance_micro"])
            for r in graph.opic(df, iters=iters, cash0=cash0).collect()}
    assert out == out2


def test_hash_normalize_golden_and_normalized_dedup(spark):
    """hash_normalize goldens (case/digit/punct/whitespace folds; apostrophe
    deliberately kept) and the variant-collapse the normalized dedup adds."""
    from disco_crawl_spark.operators import textstats
    rows = [(1, "Hello,  World 42!"),
            (2, "hello world 99"),          # collapses with 1
            (3, "don't stop"),
            (4, "dont stop"),               # does NOT collapse with 3
            (5, "hello world 77")]          # collapses with 1 and 2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    norm = {r["doc_id"]: r["n"]
            for r in df.select("doc_id",
                               textstats.hash_normalize("text").alias("n"))
            .collect()}
    assert norm[1] == "hello world 00"
    assert norm[2] == "hello world 00"
    assert norm[3] == "don't stop"
    assert norm[4] == "dont stop"
    out = {r["doc_id"]: (r["dup_count"], r["n_raw_variants"])
           for r in textstats.normalized_exact_dedup(df, "text", "doc_id")
           .collect()}
    assert out[1] == (3, 3)     # docs 1, 2, 5: three distinct raw texts
    assert out[3] == (1, 1)
    assert out[4] == (1, 1)


def test_parse_robots_rules_groups_and_agent_precedence(spark):
    """RFC 9309 parse: consecutive UA lines share a group, comments and
    unknown fields skipped, empty-pattern rules dropped, exact agent
    beats *, rules before any UA header are orphaned, multiple matching
    groups merge."""
    from disco_crawl_spark.operators import schedule
    txt_a = ("Disallow: /orphan/\n"          # before any UA header: dropped
             "# comment\n"
             "User-agent: *\n"
             "Disallow: /all/\n"
             "\n"
             "User-agent: discobot\n"
             "User-agent: otherbot\n"
             "Disallow: /db/\n"
             "Allow:\n"                       # empty pattern: dropped
             "Crawl-delay: 5\n"
             "User-agent: DiscoBot\n"         # second matching group: merges
             "Allow: /db/pub*\n")
    txt_b = ("User-agent: *\nDisallow: /x/\nAllow: /x/ok\n"
             "not a rule line\n<html>error page</html>\n")
    df = spark.createDataFrame([("a", txt_a), ("b", txt_b)],
                               "host string, robots_txt string")
    out = {(r["host"], r["pattern"]): r["allow"]
           for r in schedule.parse_robots_rules(df, agent="discobot")
           .collect()}
    # host a: only the two discobot groups (merged), not * and not orphan
    assert out == {("a", "/db/"): 0, ("a", "/db/pub*"): 1,
                   ("b", "/x/"): 0, ("b", "/x/ok"): 1}

    # the parse output feeds the wildcard gate directly (pipeline check)
    urls = spark.createDataFrame(
        [("a", "/db/secret"), ("a", "/db/pub1"), ("a", "/all/thing")],
        "host string, path string")
    rules = schedule.parse_robots_rules(df, agent="discobot")
    gate = {r["path"]: r["allowed"]
            for r in schedule.robots_wildcard_gate(urls, rules,
                                                   pattern_col="pattern")
            .collect()}
    assert gate == {"/db/secret": 0, "/db/pub1": 1, "/all/thing": 1}


def test_growth_fit_exact_line_and_degenerate(spark):
    """OLS on exactly-linear data recovers slope/intercept exactly; the
    forecast extrapolates the line; all-x-equal input yields NULLs."""
    from disco_crawl_spark.operators import schedule
    rows = [(x, 3 * x + 7) for x in range(10)]
    df = spark.createDataFrame(rows, "rnd long, discovered long")
    r = schedule.growth_fit(df, "rnd", "discovered").first()
    assert r["n_points"] == 10
    assert r["slope"] == 3.0 and r["intercept"] == 7.0
    assert r["forecast_next"] == 3 * 10 + 7

    noisy = [(0, 10), (1, 12), (2, 15), (3, 15)]
    r2 = schedule.growth_fit(
        spark.createDataFrame(noisy, "rnd long, discovered long"),
        "rnd", "discovered").first()
    # scalar recomputation
    n = 4; sx = 6; sy = 52; sxx = 14; sxy = 87
    den = n * sxx - sx * sx
    assert r2["slope"] == round((n * sxy - sx * sy) / den, 6)
    assert r2["intercept"] == round((sy * sxx - sx * sxy) / den, 6)

    deg = spark.createDataFrame([(5, 1), (5, 9)], "rnd long, discovered long")
    r3 = schedule.growth_fit(deg, "rnd", "discovered").first()
    assert r3["slope"] is None and r3["forecast_next"] is None

    # int-typed inputs above ~46340 must widen BEFORE the multiply:
    # x*x in int32 would wrap and corrupt the fit
    big = [(100_000 + x, 2 * (100_000 + x) + 5) for x in range(5)]
    r4 = schedule.growth_fit(
        spark.createDataFrame(big, "rnd int, discovered int"),
        "rnd", "discovered").first()
    assert r4["slope"] == 2.0 and r4["intercept"] == 5.0
    assert r4["forecast_next"] == 2 * 100_005 + 5


def test_kneser_ney_bigrams_hand_example(spark):
    """KN with D = 3/4 on a tiny corpus: exact hand-computed micros, and
    the discount leaves probability mass unallocated (sum over seen
    continuations < 1) as KN requires."""
    from disco_crawl_spark.operators import textstats
    docs = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "a b")], "doc_id long, text string")
    out = {(r["w1"], r["w2"]): (r["c12"], r["pkn_micro"])
           for r in textstats.kneser_ney_bigrams(docs, "text", min_count=1)
           .collect()}
    # c12: ab=3, ba=2, ac=1; cw1: a=4 (2 types), b=2 (1 type);
    # n1_bw: a<-1, b<-1, c<-1; B=3
    assert out[("a", "b")] == (3, 9_000_000 // 16 + 6_000_000 // 48)
    assert out[("a", "c")] == (1, 1_000_000 // 16 + 6_000_000 // 48)
    assert out[("b", "a")] == (2, 5_000_000 // 8 + 3_000_000 // 24)
    # discounted mass: seen continuations of 'a' sum below 1.0
    assert out[("a", "b")][1] + out[("a", "c")][1] < 1_000_000
    # pruning: min_count=3 keeps only the ab row
    kept = textstats.kneser_ney_bigrams(docs, "text", min_count=3).collect()
    assert [(r["w1"], r["w2"]) for r in kept] == [("a", "b")]


def test_shard_pack_balance_and_rank(spark):
    """Snake packing: ranks are the exact global (size DESC, id) order
    even across range partitions, every shard gets the same item count
    (n divisible), and shard size totals stay within one max item."""
    import random
    from disco_crawl_spark.operators import textstats
    rng = random.Random(7)
    rows = [(i, rng.randrange(1, 1000)) for i in range(160)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = textstats.shard_pack(df, "doc_id", "n_chars", n_shards=8,
                               buckets=8).collect()
    expect_order = [i for i, _ in
                    sorted(rows, key=lambda t: (-t[1], t[0]))]
    got = {r["doc_id"]: (r["rank"], r["shard"], r["n_chars"]) for r in out}
    for rank, doc in enumerate(expect_order):
        assert got[doc][0] == rank, (doc, got[doc], rank)
        k = rank % 16
        assert got[doc][1] == (k if k < 8 else 15 - k)
    loads = {}
    counts = {}
    for _, (rank, shard, size) in got.items():
        loads[shard] = loads.get(shard, 0) + size
        counts[shard] = counts.get(shard, 0) + 1
    assert set(counts.values()) == {20}
    assert max(loads.values()) - min(loads.values()) <= max(
        s for _, s in rows)


def test_meta_robots_flags_orders_tokens_defaults(spark):
    """meta robots: both attribute orders, case-insensitive token match
    (no substring false-positives), 'none' implies both, unknown-only
    directives still count as declared, absent tag defaults to
    index,follow."""
    from disco_crawl_spark import sources
    rows = [
        ("u1", '<head><meta name="robots" content="noindex, follow"></head>'),
        ("u2", '<head><meta content="NOFOLLOW" name="robots"></head>'),
        ("u3", '<head><meta name="robots" content="none"></head>'),
        ("u4", '<head><meta name="robots" content="noarchive"></head>'),
        ("u5", '<head><title>t</title></head>'),
        # 'noindexing' must NOT match the noindex token
        ("u6", '<head><meta name="robots" content="noindexing"></head>'),
        # single-quoted attributes, whitespace around '='
        ("u7", "<head><meta name = 'robots' content = 'NOINDEX'></head>"),
        # unquoted attribute values
        ("u8", '<head><meta name=robots content=nofollow></head>'),
        # multiple robots tags: most-restrictive-wins (OR across tags)
        ("u9", '<head><meta name="robots" content="index, follow">'
               '<meta name=robots content=noindex></head>'),
        # a robots-adjacent name must not match the robots token
        ("u10", '<head><meta name="robots2" content="noindex"></head>'),
        # description meta with 'robots' in the content is not a robots tag
        ("u11", '<head><meta name="description" content="robots"></head>'),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    out = {r["url"]: (r["noindex"], r["nofollow"], r["declared"])
           for r in sources.meta_robots_flags(df).collect()}
    assert out["u1"] == (1, 0, 1)
    assert out["u2"] == (0, 1, 1)
    assert out["u3"] == (1, 1, 1)
    assert out["u4"] == (0, 0, 1)
    assert out["u5"] == (0, 0, 0)
    assert out["u6"] == (0, 0, 1)
    assert out["u7"] == (1, 0, 1)
    assert out["u8"] == (0, 1, 1)
    assert out["u9"] == (1, 0, 1)
    assert out["u10"] == (0, 0, 0)
    assert out["u11"] == (0, 0, 0)


def _rfc_glob_match(pattern: str, path: str) -> bool:
    """Pure-python reference for RFC 9309 rule matching: prefix match
    with '*' spanning anything and a TRAILING '$' anchoring the end
    (non-trailing '$' is literal)."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    segs = body.split("*")
    if not path.startswith(segs[0]):
        return False
    pos = len(segs[0])
    if len(segs) == 1:
        return path == body if anchored else True
    for s in segs[1:-1]:
        i = path.find(s, pos)
        if i < 0:
            return False
        pos = i + len(s)
    last = segs[-1]
    if anchored:
        return path.endswith(last) and len(path) - len(last) >= pos
    return path.find(last, pos) >= 0


def test_robots_wildcard_gate_random_differential(spark):
    """Seeded random patterns (with regex metachars, '*', trailing and
    embedded '$') and paths: the Spark gate's verdict equals the
    pure-python RFC matcher + longest/allow/pattern tie-break, for every
    generated case."""
    import random
    from disco_crawl_spark.operators import schedule
    rng = random.Random(42)
    alpha = "/ab.x*$+([5"
    rules_rows, url_rows, expect = [], [], {}
    for h in range(120):
        host = f"h{h}"
        rules = []
        for _ in range(rng.randrange(1, 4)):
            pat = "".join(rng.choice(alpha)
                          for _ in range(rng.randrange(0, 8)))
            rules.append((pat, rng.randrange(2)))
            rules_rows.append((host, pat, rules[-1][1]))
        path = "/" + "".join(rng.choice("/ab.x5")
                             for _ in range(rng.randrange(0, 10)))
        url_rows.append((host, path))
        matches = [(len(p), a, p) for p, a in rules
                   if _rfc_glob_match(p, path)]
        expect[(host, path)] = max(matches)[1] if matches else 1
    rules_df = spark.createDataFrame(
        rules_rows, "host string, pattern string, allow int")
    urls_df = spark.createDataFrame(url_rows, "host string, path string")
    out = {(r["host"], r["path"]): r["allowed"]
           for r in schedule.robots_wildcard_gate(urls_df, rules_df)
           .collect()}
    assert out == expect


def test_fetch_batch_pack_invariants(spark):
    from collections import Counter

    from disco_crawl_spark.operators import schedule
    rows = [("h%d" % (i % 5), i, float((i * 13) % 7)) for i in range(100)]
    df = spark.createDataFrame(rows, "host string, url_id long, pri double")
    out = schedule.fetch_batch_pack(df, 8, pri_col="pri").collect()
    assert len(out) == 100
    # batches are exactly capacity-sized except the last
    sizes = Counter(r["batch_id"] for r in out)
    last = max(sizes)
    assert all(v == 8 for b, v in sizes.items() if b != last)
    assert sizes[last] <= 8
    # per host: batch ids never decrease as waves increase, and waves are
    # the 0..k-1 priority-desc ranks
    per = {}
    for r in out:
        per.setdefault(r["host"], []).append(r)
    for h, rs in per.items():
        rs.sort(key=lambda r: r["wave"])
        assert [r["wave"] for r in rs] == list(range(len(rs)))
        bs = [r["batch_id"] for r in rs]
        assert bs == sorted(bs)
    # a batch is a contiguous slice of the wave-major order: its waves form
    # a contiguous range, and within one wave a batch never repeats a host
    by_batch = {}
    for r in out:
        by_batch.setdefault(r["batch_id"], []).append(r)
    for b, rs in by_batch.items():
        ws = sorted(r["wave"] for r in rs)
        assert ws[-1] - ws[0] == len(set(ws)) - 1
        for wv in set(ws):
            hosts = [r["host"] for r in rs if r["wave"] == wv]
            assert len(hosts) == len(set(hosts))


def test_token_budget_select_matches_greedy_prefix(spark):
    rows = [(i, (i * 7) % 50 + 1, (i * 31) % 997) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, toks long, q long")
    budget = 2000
    out = {r["doc_id"]: (r["n_tok"], r["cum_tok"]) for r in
           textstats.token_budget_select(df, "doc_id", "toks", "q",
                                         budget, buckets=7).collect()}
    # independent greedy recomputation
    ordered = sorted(rows, key=lambda r: (-r[2], r[0]))
    cum, expect = 0, {}
    for i, t, _q in ordered:
        cum += t
        if cum > budget:
            break
        expect[i] = (t, cum)
    assert out == expect


def test_quality_percentile_gate_kept_counts(spark):
    rows = [("g%d" % (i % 3), i, (i * 17) % 101) for i in range(90)]
    df = spark.createDataFrame(rows, "grp string, doc_id long, q long")
    out = textstats.quality_percentile_gate(
        df, "grp", "doc_id", "q", keep_micro=300_000).collect()
    assert len(out) == 90   # gate flags, not a filter
    kept = {}
    n = {}
    for r in out:
        n[r["grp"]] = n.get(r["grp"], 0) + 1
        kept[r["grp"]] = kept.get(r["grp"], 0) + r["kept"]
    for g in n:
        # largest k with k*1e6 <= 0.3e6*n  ==  floor(0.3 * n)
        assert kept[g] == (300_000 * n[g]) // 1_000_000
    # determinism on ties: rerun yields the identical kept set
    out2 = textstats.quality_percentile_gate(
        df, "grp", "doc_id", "q", keep_micro=300_000).collect()
    assert sorted(map(str, out)) == sorted(map(str, out2))


def test_conditional_get_plan_actions_and_economy(spark):
    from disco_crawl_spark.operators import schedule
    rows = [(1, 5, 4, 900_000, 1000),   # hot: fetch
            (2, 5, 1, 250_000, 1000),   # medium: cond_get
            (3, 5, 0, 0, 1000),         # cold: skip
            (4, 1, 0, 0, 1000)]         # unknown single-visit: fetch
    df = spark.createDataFrame(
        rows, "url_id long, n_visits long, n_changed long, "
              "change_rate_micro long, last_bytes long")
    out = {r["url_id"]: r for r in schedule.conditional_get_plan(df).collect()}
    assert out[1]["action"] == "fetch" and out[1]["saved_bytes_micro"] == 0
    assert out[2]["action"] == "cond_get"
    assert out[2]["saved_bytes_micro"] == 1000 * (1_000_000 - 250_000)
    assert out[3]["action"] == "skip"
    assert out[3]["saved_bytes_micro"] == 1000 * 1_000_000
    assert out[4]["action"] == "fetch"


def test_path_cycle_flags_and_badwords_gate(spark):
    from disco_crawl_spark.operators import schedule
    urls = spark.createDataFrame(
        [("h", "/a/b/a/b/a"), ("h", "/x/y/z"), ("h", "/x/y/z/x"),
         ("h", "//a//b//")],
        "host string, path string")
    out = {r["path"]: r for r in schedule.path_cycle_flags(urls).collect()}
    assert out["/a/b/a/b/a"]["is_cycle_trap"] == 1
    assert out["/a/b/a/b/a"]["n_dup_segs"] == 3
    assert out["/x/y/z"]["is_cycle_trap"] == 0
    assert out["/x/y/z/x"]["is_cycle_trap"] == 0   # only 1 dup
    assert out["//a//b//"]["depth"] == 2           # empty segments dropped

    docs = spark.createDataFrame(
        [(0, "Clean text here"), (1, "the bad BAD word"), (2, ""),
         (3, "bad")],
        "doc_id long, text string")
    g = {r["doc_id"]: r for r in
         textstats.badwords_gate(docs, "text", "doc_id", ["bad"]).collect()}
    assert g[0]["blocked"] == 0 and g[0]["n_bad"] == 0
    assert g[1]["n_bad"] == 2 and g[1]["blocked"] == 1   # multiplicity
    assert g[1]["bad_micro"] == 2 * 1_000_000 // 4
    assert g[2]["n_tok"] == 0 and g[2]["bad_micro"] == 0
    assert g[3]["bad_micro"] == 1_000_000


def test_harmonic_centrality_exact_hand_graph(spark):
    # path 1 -> 2 -> 3 plus 4 -> 3: H(3) = 1/1 (from 2) + 1/2 (from 1)
    # + 1/1 (from 4); H(2) = 1/1; H(1) = 0 (unreached, absent)
    from disco_crawl_spark.operators import graph
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 3)], "src long, dst long")
    out = {r["node"]: r for r in
           graph.harmonic_centrality(edges).collect()}
    assert 1 not in out and 4 not in out
    assert out[2]["harmonic_micro"] == 1_000_000
    assert out[2]["n_reachers"] == 1
    assert out[3]["harmonic_micro"] == 2_000_000 + 500_000
    assert out[3]["n_reachers"] == 3
    # a 2-cycle: each node reaches the other at d=1, never itself
    cyc = spark.createDataFrame([(7, 8), (8, 7)], "src long, dst long")
    c = {r["node"]: r for r in
         graph.harmonic_centrality(cyc).collect()}
    assert c[7]["harmonic_micro"] == 1_000_000 == c[8]["harmonic_micro"]


def test_cdc_chunks_kernel_and_invariants(spark):
    # quadratic per-position reference for the rolling hash + reassembly
    from disco_crawl_spark.operators import dedup as dd
    import hashlib as hl
    import re
    texts = ["a" * 30,
             "The quick brown fox jumps over the lazy dog. " * 4,
             "short", "", "unicode éé dropped then chunked " * 3]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    out = dd.cdc_chunks(docs, "text", "doc_id").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    for i, t in enumerate(texts):
        s = re.sub(r"[^ -~]", "", t)
        if not s:
            assert i not in by_doc
            continue
        # reference boundaries, one position at a time
        bpos = [p for p in range(8, len(s) + 1)
                if sum(ord(s[p - 1 - j]) * (j + 1) for j in range(8))
                % 64 == 0]
        cuts = [0] + bpos + ([] if bpos and bpos[-1] == len(s)
                             else [len(s)])
        rows = sorted(by_doc[i], key=lambda r: r["chunk_id"])
        assert len(rows) == len(cuts) - 1
        # chunks tile the projected string exactly and hash correctly
        assert "".join(s[r["start_pos"] - 1:
                         r["start_pos"] - 1 + r["chunk_len"]]
                       for r in rows) == s
        for k, r in enumerate(rows):
            a, b = cuts[k], cuts[k + 1]
            assert (r["start_pos"], r["chunk_len"]) == (a + 1, b - a)
            assert r["chunk_md5"] == hl.md5(
                s[a:b].encode("ascii")).hexdigest()
    # edit-locality: prepending a char near the front leaves the chunk
    # set of the unchanged tail largely intact (the CDC property)
    base = "The quick brown fox jumps over the lazy dog. " * 40
    edited = "XX " + base
    two = spark.createDataFrame([(0, base), (1, edited)],
                                "doc_id long, text string")
    res = dd.cdc_chunks(two, "text", "doc_id").collect()
    h0 = {r["chunk_md5"] for r in res if r["id"] == 0}
    h1 = {r["chunk_md5"] for r in res if r["id"] == 1}
    assert len(h0 & h1) >= len(h0) // 2


def test_registered_domain_and_revisit_records(spark):
    from disco_crawl_spark import functions as cf
    from disco_crawl_spark import sources
    from pyspark.sql import functions as F
    hosts = ["www.agency3.gov.au", "a.b.example.com", "EXAMPLE.Co.UK",
             "example.com", "com.au", "localhost", "x.gov.au"]
    want = ["agency3.gov.au", "example.com", "example.co.uk",
            "example.com", "com.au", "localhost", "x.gov.au"]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = [r["pld"] for r in
           df.select(cf.registered_domain(F.col("host")).alias("pld"))
           .collect()]
    assert got == want

    import datetime as dt
    t = [dt.datetime(2026, 1, 1, 0, 0, i) for i in range(4)]
    caps = spark.createDataFrame(
        [("u1", t[0], "d1"), ("u2", t[1], "d1"),
         ("u1", t[2], "d1"), ("u3", t[3], "d2")],
        "url string, ts timestamp, digest string")
    out = {(r["url"], r["ts"]): r for r in
           sources.warc_revisit_records(caps).collect()}
    assert out[("u1", t[0])]["record_type"] == "response"
    assert out[("u1", t[0])]["refers_to_url"] is None
    assert out[("u2", t[1])]["record_type"] == "revisit"
    assert out[("u2", t[1])]["refers_to_url"] == "u1"
    assert out[("u2", t[1])]["refers_to_ts"] == t[0]
    assert out[("u1", t[2])]["record_type"] == "revisit"
    assert out[("u3", t[3])]["record_type"] == "response"


def test_temperature_mix_targets_and_modes(spark):
    from disco_crawl_spark.operators import textstats
    import math
    # 80 'en', 16 'fr', 4 'lo' docs; alpha=0.5, budget=50
    rows = ([(i, "en") for i in range(80)]
            + [(100 + i, "fr") for i in range(16)]
            + [(200 + i, "lo") for i in range(4)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = textstats.temperature_mix(df, "lang", "doc_id", budget=50,
                                    alpha=0.5).collect()
    got = {}
    for r in out:
        got[r["lang"]] = got.get(r["lang"], 0) + 1
    p = {"en": 80 / 100, "fr": 16 / 100, "lo": 4 / 100}
    n = {"en": 80, "fr": 16, "lo": 4}
    z = sum(math.sqrt(v) for v in p.values())
    # selection is WITHOUT replacement: a tail language whose target
    # exceeds its size contributes everything it has (here lo: target 6
    # of only 4 docs)
    want = {k: min(math.floor(50 * math.sqrt(v) / z), n[k])
            for k, v in p.items()}
    assert got == want
    # flattening: tail language over-represented vs natural share
    assert want["lo"] / 50 > p["lo"]
    # ranks are 1..target_l and selection is hash-stable
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r["rk"])
    for lang, rks in by_lang.items():
        assert sorted(rks) == list(range(1, want[lang] + 1))
    again = textstats.temperature_mix(df, "lang", "doc_id", budget=50,
                                      alpha=0.5).collect()
    assert {(r["doc_id"]) for r in again} == {r["doc_id"] for r in out}


def test_degree_powerlaw_hand_math(spark):
    from disco_crawl_spark.operators import graph
    import math
    # out-degrees: a->{b,c,d} (3), b->{c} (1), c->{d} (1)
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("c", "d"),
         ("a", "b")],  # dup edge collapses
        "src string, dst string")
    rows = {r["degree"]: r for r in
            graph.degree_powerlaw(edges).collect()}
    assert rows[3]["n_nodes"] == 1 and rows[1]["n_nodes"] == 2
    # ccdf over 3 nodes: deg>=3 -> 1/3, deg>=1 -> 3/3
    assert rows[3]["ccdf_micro"] == 1000000 // 3
    assert rows[1]["ccdf_micro"] == 1000000
    want_alpha = round(1.0 + 3 / (math.log(3) + math.log(1) + math.log(1)), 6)
    assert rows[1]["alpha_mhat"] == want_alpha == rows[3]["alpha_mhat"]


def test_phrase_search_anchors_overlaps_and_repeats(spark):
    """Slot-anchored phrase matching: overlapping occurrences count,
    repeated phrase words anchor correctly, partial prefixes and NULL
    text never match, tokenization is case-folded."""
    rows = [
        (1, "a b c a b c a b"),    # "a b c" at pos 0 and 3
        (2, "batch batch batch"),  # "batch batch" overlaps: 2 matches
        (3, "a b a c"),            # prefix only, no full occurrence
        (4, "x a b c y"),          # interior match
        (5, None),
        (6, "A B C"),              # case-folded
        (7, "a b a b a"),          # for phrase "a b a": pos 0 and 2
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r["n_matches"] for r in
           textstats.phrase_search(df, "text", "doc_id",
                                   ["a", "b", "c"]).collect()}
    assert got == {1: 2, 4: 1, 6: 1}
    got2 = {r["doc_id"]: r["n_matches"] for r in
            textstats.phrase_search(df, "text", "doc_id",
                                    ["batch", "batch"]).collect()}
    assert got2 == {2: 2}
    got3 = {r["doc_id"]: r["n_matches"] for r in
            textstats.phrase_search(df, "text", "doc_id",
                                    ["a", "b", "a"]).collect()}
    assert got3 == {3: 1, 7: 2}  # "a b a c" contains one "a b a"
    with pytest.raises(ValueError):
        textstats.phrase_search(df, "text", "doc_id", [])


def test_nfc_dedup_collapses_canonical_equivalents(spark):
    """NFC classes: precomposed vs combining-mark forms and singleton
    substitutions (U+212B ANGSTROM SIGN -> U+00C5) collapse; plain-ASCII
    lookalikes do not; NULL reads as the empty document."""
    rows = [
        (1, "café"),     # precomposed
        (2, "café"),    # decomposed — NFC-equal to 1
        (3, "cafe"),          # ASCII, distinct
        (4, None),            # -> ""
        (5, ""),              # same class as 4, same raw bytes
        (6, "Ångström"),  # ANGSTROM SIGN singleton
        (7, "Ångström"),  # precomposed A-ring — NFC-equal to 6
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = textstats.nfc_dedup(df, "text", "doc_id").collect()
    by_keep = {r["keep_id"]: r for r in out}
    assert len(out) == 4
    assert (by_keep[1]["n_docs"], by_keep[1]["n_raw_forms"]) == (2, 2)
    assert (by_keep[3]["n_docs"], by_keep[3]["n_raw_forms"]) == (1, 1)
    # NULL and "" share the class AND the raw byte form
    assert (by_keep[4]["n_docs"], by_keep[4]["n_raw_forms"]) == (2, 1)
    assert (by_keep[6]["n_docs"], by_keep[6]["n_raw_forms"]) == (2, 2)


def test_vocab_drift_tvd_hand_math(spark):
    """Exact fixed-point TVD contributions: |a·B − b·A|·10^6 div (2AB),
    deterministic (tvd DESC, term) order, top_k limit."""
    rows = [
        (1, "x x y", "a"),
        (2, "x y y y", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, side string")
    out = textstats.vocab_drift_tvd(df, "text", "doc_id",
                                    F.col("side") == "a").collect()
    # ta=3 (x,x,y), tb=4 (x,y,y,y); both terms: |Δ|=5 → 5e6 // 24
    assert [(r["term"], r["cnt_a"], r["cnt_b"], r["tvd_micro"])
            for r in out] == [("x", 2, 1, 208333), ("y", 1, 3, 208333)]
    top1 = textstats.vocab_drift_tvd(df, "text", "doc_id",
                                     F.col("side") == "a",
                                     top_k=1).collect()
    assert [r["term"] for r in top1] == ["x"]
    # one slice only: B = 0, so the TVD is undefined — NULL like the
    # DuckDB oracle's `//` by zero, not a [DIVIDE_BY_ZERO] error
    one = textstats.vocab_drift_tvd(df.filter(F.col("side") == "a"), "text",
                                    "doc_id", F.col("side") == "a").collect()
    assert [(r["term"], r["cnt_a"], r["cnt_b"], r["tvd_micro"])
            for r in one] == [("x", 2, 0, None), ("y", 1, 0, None)]


def test_fingerprints_catalyst_matches_udf_kernel(spark, docs):
    """The pure-Catalyst winnowing sketch is bit-identical to the
    pandas-UDF reference kernel on every fixture doc (incl. empty,
    sub-k-token, and sub-window-gram documents)."""
    fp_udf = textstats.make_fingerprint_udf(5, 4)
    ref = {r["doc_id"]: r["fp"] for r in
           docs.select("doc_id", fp_udf("text").alias("fp")).collect()}
    got = {r["doc_id"]: r["fingerprint"] for r in
           textstats.fingerprints(docs, "text", "doc_id").collect()}
    assert got == ref
    # non-default (k, window) too
    fp_udf2 = textstats.make_fingerprint_udf(2, 7)
    ref2 = {r["doc_id"]: r["fp"] for r in
            docs.select("doc_id", fp_udf2("text").alias("fp")).collect()}
    got2 = {r["doc_id"]: r["fingerprint"] for r in
            textstats.fingerprints(docs, "text", "doc_id",
                                   k=2, window=7).collect()}
    assert got2 == ref2
    # long-doc guard: the staged-projection form must stay linear — the
    # single-Column form re-tokenized per window (O(n^3), a bench task
    # pinned a core for 40+ min at sf0.1) and would time this out
    long_doc = docs.sparkSession.createDataFrame(
        [(9, " ".join(f"w{i % 97}" for i in range(3000)))],
        "doc_id int, text string")
    ref3 = long_doc.select(fp_udf("text").alias("fp")).collect()[0]["fp"]
    got3 = textstats.fingerprints(long_doc, "text",
                                  "doc_id").collect()[0]["fingerprint"]
    assert got3 == ref3


def test_hreflang_alternates_orders_quotes_election(spark):
    """Variant extraction: both attribute orders, quote styles, case
    folding, x-default election, canonical-tag immunity, hreflang-less
    link immunity, and self-election for undeclared pages."""
    from disco_crawl_spark import sources
    rows = [
        (1, "u1", '<head><link rel="alternate" hreflang="EN" '
                  'href="https://x/en"><link href="https://x/dflt" '
                  'hreflang="x-default" rel="alternate"></head>'),
        (2, "u2", "<head><link rel='alternate' hreflang='de' "
                  "href='https://x/de'>"
                  "<link rel=alternate hreflang=fr href=https://x/fr>"
                  "</head>"),
        (3, "u3", '<head><link rel="canonical" href="https://x/c">'
                  '<link rel="alternate" type="application/rss+xml" '
                  'href="https://x/feed"></head>'),
        (4, "u4", "<head><title>t</title></head>"),
        (5, "u5", '<head><link rel="alternate" hreflang="es"></head>'),
    ]
    df = spark.createDataFrame(rows, "id int, url string, html string")
    got = {r["url"]: r for r in
           sources.hreflang_alternates(df).collect()}
    assert (got["u1"]["n_variants"], got["u1"]["has_x_default"],
            got["u1"]["canonical_variant"]) == (2, 1, "https://x/dflt")
    # no x-default -> smallest variant href wins
    assert (got["u2"]["n_variants"], got["u2"]["has_x_default"],
            got["u2"]["canonical_variant"]) == (2, 0, "https://x/de")
    # canonical and rss alternates never count; hreflang-less, href-less
    # and undeclared pages elect themselves
    for u in ("u3", "u4", "u5"):
        assert (got[u]["n_variants"], got[u]["declared"],
                got[u]["canonical_variant"]) == (0, 0, u)


def test_hreflang_alternates_unquoted_root_relative_href(spark):
    """An unquoted href may start with ``/`` (HTML5 unquoted attribute
    value): ``href=/en/p`` is the variant ``/en/p`` and ``href= />`` is
    ``/``."""
    from disco_crawl_spark import sources
    df = spark.createDataFrame(
        [("u1", "<head><link rel=alternate hreflang=en href=/en/p>"
                "<link rel=alternate hreflang=de href= /></head>")],
        "url string, html string")
    (r,) = sources.hreflang_alternates(df).collect()
    assert (r["n_variants"], r["declared"], r["canonical_variant"]) == \
        (2, 1, "/")


def test_good_turing_novelty_hand_counts(spark):
    """f1/N missing mass: planted singleton/doubleton/tripleton mix."""
    rows = [(1, "a", "s1"), (2, "a", "s2"), (3, "a", "dup"),
            (4, "a", "dup"), (5, "a", None),
            (6, "b", "t"), (7, "b", "t"), (8, "b", "t")]
    df = spark.createDataFrame(rows, "doc_id int, src string, text string")
    got = {r["grp"]: r for r in
           textstats.good_turing_novelty(df, "text", "doc_id",
                                         "src").collect()}
    # a: hashes {s1:1, s2:1, dup:2, "":1} -> N=5, distinct=4, f1=3, f2=1
    assert (got["a"]["n_docs"], got["a"]["n_distinct"], got["a"]["f1"],
            got["a"]["f2"], got["a"]["p_new_micro"]) == (5, 4, 3, 1, 600000)
    # b: one tripleton -> f1=f2=0, novelty 0
    assert (got["b"]["n_docs"], got["b"]["n_distinct"], got["b"]["f1"],
            got["b"]["f2"], got["b"]["p_new_micro"]) == (3, 1, 0, 0, 0)


def test_minhash_calibration_exact_cases(spark):
    """Identical docs estimate 1.0 with band hit; disjoint docs 0/0/0;
    near-dups land between; empty docs are excluded from the sample."""
    rows = [(1, "a b c d"), (2, "a b c d"), (3, "a b c e"),
            (4, "x y z w"), (5, "")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {(r["a"], r["b"]): r for r in
           dedup.minhash_calibration(df, "text", "doc_id", n_perms=16,
                                     bands=4, sample=10).collect()}
    assert len(out) == 6  # C(4,2): the empty doc never enters
    assert (out[(1, 2)]["jacc_micro"], out[(1, 2)]["est_micro"],
            out[(1, 2)]["band_hit"]) == (1000000, 1000000, 1)
    assert out[(1, 3)]["jacc_micro"] == 600000  # |{a,b,c}|/|{a,b,c,d,e}|
    assert 0 < out[(1, 3)]["est_micro"] <= 1000000
    assert (out[(1, 4)]["jacc_micro"], out[(1, 4)]["est_micro"],
            out[(1, 4)]["band_hit"]) == (0, 0, 0)
    with pytest.raises(ValueError):
        dedup.minhash_calibration(df, "text", "doc_id", n_perms=16,
                                  bands=5)


def test_sitemap_recrawl_verdicts(spark):
    """All four scheduler verdicts from lastmod-vs-last-fetch dates,
    with the max-fetch guard on duplicate log rows."""
    from disco_crawl_spark.operators import schedule
    sm = spark.createDataFrame(
        [("u/new", "2024-01-05"), ("u/stale", "2024-01-10"),
         ("u/fresh", "2024-01-02"), ("u/unk", None),
         ("u/same", "2024-01-07")],
        "loc string, lastmod string")
    lg = spark.createDataFrame(
        [("u/stale", "2024-01-04"), ("u/fresh", "2024-01-03"),
         ("u/unk", "2024-01-01"), ("u/same", "2024-01-07"),
         ("u/stale", "2024-01-02")],  # dup row: max() wins
        "url string, fetched_on string")
    got = {r["url"]: r["verdict"] for r in
           schedule.sitemap_recrawl(sm, lg).collect()}
    assert got == {"u/new": "new", "u/stale": "stale", "u/fresh": "fresh",
                   "u/unk": "unknown", "u/same": "fresh"}


def test_robots_crawl_delay_group_semantics(spark):
    """Exact-agent suppresses star, groups merge with MAX, fractional
    kept, invalid/negative dropped, delay-less hosts absent, and an
    Allow/Disallow line ends a group's User-agent run."""
    from disco_crawl_spark.operators import schedule
    rows = [
        ("a", "User-agent: *\nCrawl-delay: 3\nUser-agent: discobot\n"
              "Crawl-delay: 0.5"),                 # exact wins -> 0.5
        ("b", "User-agent: *\nCrawl-delay: 2"),    # star -> 2
        ("c", "User-agent: discobot\nUser-agent: otherbot\n"
              "Crawl-delay: 1\nUser-agent: discobot\nCrawl-delay: 4"),
                                                   # merged exacts -> max 4
        ("d", "User-agent: *\nCrawl-delay: soon\nCrawl-delay: -1"),
                                                   # invalid+negative -> none
        ("e", "User-agent: googlebot\nCrawl-delay: 9"),  # no match -> none
        ("f", "User-agent: *\nDisallow: /x\nUser-agent: otherbot\n"
              "Crawl-delay: 9"),                   # rule line ends star group
        ("g", "User-agent: discobot\nDisallow: /p\nUser-agent: *\n"
              "Crawl-delay: 7"),                   # delay-less exact -> none
    ]
    df = spark.createDataFrame(rows, "host string, robots_txt string")
    got = {r["host"]: r["delay_micro"] for r in
           schedule.robots_crawl_delay(df, agent="discobot").collect()}
    assert got == {"a": 500000, "b": 2000000, "c": 4000000}
