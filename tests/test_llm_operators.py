"""Unit tests for dedup / similarity / text / multimodal operators."""

import math

import pytest
from pyspark.sql import functions as F

from shared_etl_pipelines_spark.functions.text import (
    jaccard,
    normalize_text,
    shingles,
    tokens,
)
from shared_etl_pipelines_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash16,
    simhash_candidates,
)
from shared_etl_pipelines_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
)
from shared_etl_pipelines_spark.sources.multimodal import decode_assets, to_asset_table


def test_tokens_and_normalize(spark):
    df = spark.createDataFrame([("  Hello,  WORLD! x ",)], ["text"])
    r = df.select(
        tokens(F.col("text")).alias("t"), normalize_text(F.col("text")).alias("n")
    ).collect()[0]
    assert r["t"] == ["Hello,", "WORLD!", "x"]
    assert r["n"] == "hello world x"


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], ["text"])
    rows = df.select(shingles(tokens(F.col("text"))).alias("sh")).collect()
    assert rows[0]["sh"] == []  # fewer tokens than n -> empty, not error
    assert sorted(rows[1]["sh"]) == ["a b c", "b c d"]


def test_jaccard_identical_and_disjoint(spark):
    df = spark.createDataFrame([(["a", "b"], ["a", "b"]), (["a"], ["b"])], ["x", "y"])
    vals = [r["j"] for r in df.select(jaccard(F.col("x"), F.col("y")).alias("j")).collect()]
    assert vals == [1.0, 0.0]


def test_exact_dedup_elects_min_keeper(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in exact_dedup(df, "doc_id", "text").collect()}
    assert rows[1]["is_dup"] == 0 and rows[2]["is_dup"] == 1 and rows[2]["keeper"] == 1
    assert rows[3]["is_dup"] == 0


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")
    other = "completely different words about spark catalyst tungsten arrow " * 5
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"]
    )
    # 8 bands × 1 row: recall ≈ 1-(1-j)^8, high enough to be deterministic
    # for the planted pair (the 4×2 default targets higher-jaccard dups)
    pairs = minhash_lsh_pairs(df, "doc_id", "text", k=8, bands=8, threshold=0.3).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(1, 2)]
    exact = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.3).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in exact] == [(1, 2)]


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon eta"),
         (3, "one two three four five six seven eight nine")],
        ["doc_id", "text"],
    )
    sim = simhash16(df, "doc_id", "text")
    cands = simhash_candidates(sim, "doc_id", max_hamming=6).collect()
    pairs = {(c["doc_a"], c["doc_b"]): c["hamming"] for c in cands}
    assert (1, 2) in pairs  # one-token difference => small hamming distance


def test_brute_force_topk_known_neighbors(spark):
    vecs = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    got = [(r["vec_id"], r["rn"]) for r in out]
    assert got == [(1, 1), (2, 2)]  # closest first, self excluded


def test_embedding_near_dup_threshold(spark):
    vecs = [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    pairs = embedding_near_dup_pairs(df, tau=0.99).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(0, 1)]


def test_multimodal_decode_deterministic(spark):
    df = spark.createDataFrame([(7, "abcd" * 20)], ["doc_id", "text"])
    out = decode_assets(to_asset_table(df)).collect()[0]
    assert out["n_bytes"] == 80
    assert out["checksum"] == sum(ord(c) for c in ("abcd" * 4)) % 997
    assert out["fake_width"] == (80 % 64) + 1
    assert out["fake_height"] == ((80 // 64) % 64) + 1
    assert out["media_type"] == "text/plain"


def test_stratified_sample_deterministic_and_nested(spark, sf_dir):
    from shared_etl_pipelines_spark.operators.sampling import stratified_sample
    from shared_etl_pipelines_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_sample(docs, "doc_id", "lang", {"en": 0.5}, default_rate=0.1)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # invariant to physical layout: same subset from a repartitioned input
    ids2 = {
        r["doc_id"]
        for r in stratified_sample(
            docs.repartition(7, "source"), "doc_id", "lang", {"en": 0.5}, default_rate=0.1
        ).select("doc_id").collect()
    }
    assert ids == ids2
    # nested subsets: halving every rate selects a subset of the original
    smaller = stratified_sample(docs, "doc_id", "lang", {"en": 0.25}, default_rate=0.05)
    assert {r["doc_id"] for r in smaller.select("doc_id").collect()} <= ids


def test_resize_assets_bytes_real(spark, sf_dir):
    from shared_etl_pipelines_spark.sources.multimodal import resize_assets, to_asset_table
    from shared_etl_pipelines_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    rows = resize_assets(to_asset_table(docs), target_bytes=64).collect()
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert rows
    for r in rows:
        blob = src[r["doc_id"]].encode("utf-8")
        assert r["orig_bytes"] == len(blob)
        assert bytes(r["blob"]) == blob[:: r["stride"]]
        assert r["resized_bytes"] <= 64 + 1


def test_connected_components_chain_and_islands(spark):
    from shared_etl_pipelines_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # pair 10-11, and star 20-(21,22)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_operators_handle_empty_input(spark):
    """Empty frames must flow through without errors or phantom rows."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.dedup import (
        connected_components,
        fuzzy_pairs,
        minhash_lsh_pairs,
    )
    from shared_etl_pipelines_spark.operators.hypertable import gap_fill_locf
    from shared_etl_pipelines_spark.operators.sampling import stratified_sample
    from shared_etl_pipelines_spark.operators.windows import global_ntile

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_lsh_pairs(empty_docs, "doc_id", "text").count() == 0
    assert fuzzy_pairs(empty_docs, "text").count() == 0

    no_edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(no_edges).count() == 0

    empty_daily = spark.createDataFrame([], "k long, day date, v long")
    assert gap_fill_locf(empty_daily, "k", "day", "v", "2024-01-01", "2024-01-03").count() == 0

    empty_keys = spark.createDataFrame([], "k long, g string")
    assert stratified_sample(empty_keys, "k", "g", {"a": 1.0}).count() == 0
    assert global_ntile(spark.createDataFrame([(1,)], "k long"), ["k"], 4).count() == 1


def test_ann_scale_paths_recall_floor(spark, sf_dir):
    """LSH and IVF are approximations — pin their usefulness, not just
    their determinism: recall@10 against brute-force must clear a floor."""
    from shared_etl_pipelines_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_bucket_topk,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)  # 20 query vectors
    k = 10

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    exact = topk_sets(brute_force_topk(emb, queries, k=k))
    for name, approx_df in (
        ("lsh", lsh_bucket_topk(emb, queries, k=k)),
        ("ivf", ivf_topk(emb, queries, k=k)),
    ):
        approx = topk_sets(approx_df)
        recalls = [
            len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
        ]
        mean_recall = sum(recalls) / len(recalls)
        # synthetic embeddings are random noise, so most "top-10 neighbors"
        # are near-orthogonal — the regime where bucketed ANN is weakest.
        # The floor guards against the single-table cliff (0.14 before the
        # multi-table union); planted TRUE neighbors are tested below.
        assert mean_recall >= 0.35, f"{name} recall@{k} too low: {mean_recall:.3f}"


def test_lsh_arrow_and_hof_bucket_paths_identical(spark, sf_dir):
    """The Arrow-batched bucket UDF accumulates dimensions in the same
    sequential float64 order as the HOF expression fold, so both paths
    must return bit-identical top-k rows (not just equal recall)."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.similarity import lsh_bucket_topk
    from shared_etl_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    hof = lsh_bucket_topk(emb, queries, k=10).orderBy("query_id", "rn").collect()
    arrow = (
        lsh_bucket_topk(emb, queries, k=10, arrow_buckets=True)
        .orderBy("query_id", "rn")
        .collect()
    )
    assert [tuple(r) for r in hof] == [tuple(r) for r in arrow]


def test_lsh_recalls_planted_near_duplicates(spark, sf_dir):
    """The actual use case: a slightly-perturbed copy of a corpus vector
    (cosine ~0.99) must find its source. Deterministic perturbation:
    every 8th dimension scaled by 1.1."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.similarity import lsh_bucket_topk
    from shared_etl_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: F.when(i % 8 == 0, x * 1.1).otherwise(x),
        ).alias("embedding"),
    )
    hits = lsh_bucket_topk(emb, queries, k=1).collect()
    n_queries = queries.count()
    found = sum(1 for r in hits if r["vec_id"] == r["query_id"] - 1_000_000)
    assert found / n_queries >= 0.8, f"planted recall {found}/{n_queries}"


def test_chunks_reassemble_to_original_documents(spark, sf_dir):
    """Lossless chunking: concatenating a doc's chunks in chunk_idx order
    must rebuild the original text exactly, and every chunk but the last
    must be exactly chunk_size (20) words."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.queries import REGISTRY
    from shared_etl_pipelines_spark.sources.tables import load_table

    chunks = REGISTRY["chunk_documents"].fn(spark, sf_dir)
    last = F.max("chunk_idx").over(Window.partitionBy("doc_id"))
    n_bad_sizes = (
        chunks.withColumn("is_last", F.col("chunk_idx") == last)
        .filter(~F.col("is_last") & (F.col("n_words") != 20))
        .count()
    )
    assert n_bad_sizes == 0
    rebuilt = chunks.groupBy("doc_id").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))).getField(
                "chunk"
            ),
            " ",
        ).alias("rebuilt")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bad = rebuilt.join(docs, "doc_id").filter(F.col("rebuilt") != F.col("text"))
    assert bad.count() == 0


def test_embedding_covariance_matches_numpy(spark, sf_dir):
    """Exact fixed-point covariance == numpy on the quantized values."""
    import numpy as np

    from shared_etl_pipelines_spark.operators.embeddings import (
        QUANT,
        covariance_matrix,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_matrix(emb, "embedding", dims=4).collect()
    }
    V = np.stack([r["embedding"] for r in emb.select("embedding").collect()])
    Q = np.round(V[:, :4].astype("f8") * QUANT)
    C = np.cov(Q, rowvar=False, ddof=1) / (QUANT * QUANT)
    for (i, j), cov in got.items():
        assert abs(cov - C[i - 1, j - 1]) < 1e-9, (i, j)
    assert len(got) == 10  # upper triangle of 4x4


def test_pca_projection_properties(spark, sf_dir):
    """Distributed PCA: projections are centered, component variances are
    the leading eigenvalues in non-increasing order, and cross-component
    covariance vanishes (orthogonal basis)."""
    import numpy as np

    from shared_etl_pipelines_spark.operators.embeddings import pca_project
    from shared_etl_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = pca_project(emb, "vec_id", "embedding", k=4)
    P = np.stack([r["proj"] for r in out.collect()])
    assert P.shape[1] == 4
    # centered
    assert np.abs(P.mean(axis=0)).max() < 1e-9
    # variance ordering
    var = P.var(axis=0, ddof=1)
    assert all(var[i] >= var[i + 1] - 1e-12 for i in range(3))
    # decorrelated components
    C = np.cov(P, rowvar=False, ddof=1)
    off = C - np.diag(np.diag(C))
    assert np.abs(off).max() < 1e-8
    # matches a local PCA of the same data up to the canonical sign
    V = np.stack([r["embedding"] for r in emb.select("embedding").collect()]).astype("f8")
    Vc = V - V.mean(axis=0)
    w, U = np.linalg.eigh(np.cov(V, rowvar=False, ddof=1))
    topw = np.sort(w)[::-1][:4]
    assert np.allclose(np.sort(var)[::-1], topw, rtol=1e-6)


def test_kmeans_converges_and_partitions_corpus(spark, sf_dir):
    """Lloyd's: every vector lands in a cell, inertia is no worse than
    the init assignment, and centroids reproduce a local numpy run."""
    import numpy as np

    from shared_etl_pipelines_spark.operators.embeddings import kmeans_fit
    from shared_etl_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    cents, assigned = kmeans_fit(emb, "vec_id", "embedding", k=4, max_iter=5)
    rows = assigned.collect()
    assert len(rows) == n
    assert {r["cell"] for r in rows} <= {0, 1, 2, 3}

    # replicate locally: same init (first 4 by id), same rounding
    V = np.stack([
        r["embedding"]
        for r in emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ]).astype("f8")
    C = V[:4].copy()
    for _ in range(5):
        d2 = ((V * V).sum(1)[:, None] - 2 * V @ C.T + (C * C).sum(1)[None, :])
        cell = d2.argmin(1)
        newC = C.copy()
        for c in range(4):
            m = cell == c
            if m.any():
                newC[c] = np.round(V[m].mean(0), 6)
        if np.abs(newC - C).max() < 1e-6:
            C = newC
            break
        C = newC
    assert np.allclose(cents, C, atol=1e-9)
    # assignments match the local argmin of the final centroids
    d2 = ((V * V).sum(1)[:, None] - 2 * V @ C.T + (C * C).sum(1)[None, :])
    want = d2.argmin(1)
    by_id = {r["vec_id"]: r["cell"] for r in rows}
    ids = [r["vec_id"] for r in emb.select("vec_id").orderBy("vec_id").collect()]
    got = np.array([by_id[i] for i in ids])
    assert (got == want).mean() > 0.999  # float ties aside, identical


def test_ivf_trained_codebook_recall_not_worse_than_standin(spark, sf_dir):
    """A trained codebook must not lose recall vs the first-n stand-in
    (same nprobe), measured against brute force."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.embeddings import kmeans_fit
    from shared_etl_pipelines_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    exact = topk_sets(brute_force_topk(emb, queries, k=10))
    cents_np, _ = kmeans_fit(emb, "vec_id", "embedding", k=8, max_iter=5)
    cents = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(cents_np)],
        "cent_id long, cv array<double>",
    )

    def recall(df):
        approx = topk_sets(df)
        rs = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
        return sum(rs) / len(rs)

    r_standin = recall(ivf_topk(emb, queries, k=10, nprobe=2))
    r_trained = recall(ivf_topk(emb, queries, k=10, nprobe=2, centroids=cents))
    assert r_trained >= r_standin - 0.05  # never meaningfully worse
    assert r_trained >= 0.3


def _plan_nodes(plan):
    """Every node of an executed (adaptive) plan, query stages and
    broadcast subqueries included."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.executedPlan())
        return
    yield plan
    if "QueryStageExec" in name:
        yield from _plan_nodes(plan.plan())
        return
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _index_scan_partitions(df):
    """``numPartitions`` of each partitioned file scan in ``df``'s
    executed plan: the partitions the scan actually read."""
    return [
        n.metrics().apply("numPartitions").value()
        for n in _plan_nodes(df._jdf.queryExecution().executedPlan())
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and n.relation().partitionSchema().length() > 0
    ]


def _final_plan(df) -> str:
    """The executed plan's text without the adaptive plan's initial
    (pre-AQE) copy."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return text.split("\n+- == Initial Plan ==")[0]


def test_materialized_ann_index_prunes_and_matches(spark, sf_dir, tmp_path):
    """Write-side LSH: the partitioned index returns EXACTLY the rows of
    the on-the-fly path, and dynamic partition pruning reads exactly the
    distinct probed (table, bucket) partitions — for a fresh index, an
    upserted (tombstoned) one and an ``as_of_seq=0`` snapshot probe."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.similarity import (
        _prep,
        ann_index_upsert,
        lsh_bucket_topk,
        lsh_topk_from_index,
        srp_bucket,
        write_ann_index,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ann_index")
    write_ann_index(emb, path)

    got = (
        lsh_topk_from_index(spark, path, queries)
        .orderBy("query_id", "rn")
        .collect()
    )
    want = lsh_bucket_topk(emb, queries).orderBy("query_id", "rn").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # the probe set, recomputed apart from the operator
    qb = _prep(queries, "vec_id", "embedding").select(
        F.posexplode(
            F.array(*[srp_bucket(F.col("v"), 4, 64, t * 4) for t in range(4)])
        ).alias("tbl", "bucket")
    ).collect()
    probed = {(r["tbl"], r["bucket"]) for r in qb}
    n_index = len(spark.read.parquet(path).select("tbl_bucket").distinct().collect())
    assert 0 < len(probed) < n_index

    def scanned(df):
        df.collect()
        plan = _final_plan(df)
        assert "dynamicpruningexpression(tbl_bucket" in plan, plan
        return _index_scan_partitions(df)

    assert scanned(lsh_topk_from_index(spark, path, queries)) == [len(probed)]
    ann_index_upsert(
        spark, path,
        batch=emb.filter(F.col("vec_id") % 10 == 3).select(
            "vec_id", F.reverse("embedding").alias("embedding")
        ),
        delete_ids=emb.filter(F.col("vec_id") % 10 == 7).select("vec_id"),
    )
    assert scanned(lsh_topk_from_index(spark, path, queries)) == [len(probed)]
    assert scanned(
        lsh_topk_from_index(spark, path, queries, as_of_seq=0)
    ) == [len(probed)]


def test_lsh_topk_paths_start_no_builder_job_and_rerank_in_one_shuffle(
    spark, sf_dir, tmp_path
):
    """Both LSH top-k paths score candidates in the join's stage and
    rerank through ONE query_id exchange, with nothing cached; building
    the index probe collects nothing, so it starts no Spark job."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.similarity import (
        ann_index_upsert,
        lsh_bucket_topk,
        lsh_topk_from_index,
        write_ann_index,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    sched = spark.sparkContext._jsc.sc().dagScheduler()
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ann_index")
    write_ann_index(emb, path)
    ann_index_upsert(
        spark, path, delete_ids=emb.filter(F.col("vec_id") % 10 == 7).select("vec_id")
    )
    before = sched.nextJobId()
    indexed = lsh_topk_from_index(spark, path, queries)
    assert sched.nextJobId() == before
    for df in (indexed, lsh_bucket_topk(emb, queries, arrow_buckets=True)):
        assert len(df.collect()) == 50
        plan = _final_plan(df)
        assert "InMemoryTableScan" not in plan
        assert plan.count("Exchange hashpartitioning(query_id") == 1, plan


def test_lsh_mix_queries_stay_within_job_budget(spark, sf_dir, tmp_path, monkeypatch):
    """Job census of the three LSH queries of the benchmark mix, built
    and collected cold (their cached indexes land in a fresh temp dir).
    Before the broadcast probe they started 10 / 20 / 13 jobs on the
    sf0.01 corpus."""
    import tempfile

    from shared_etl_pipelines_spark.queries import REGISTRY

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    budget = {
        "embedding_near_dup_lsh": 4,
        "ann_index_upsert_topk": 8,
        "similarity_topk_lsh_indexed": 4,
    }
    used = {}
    for name in budget:
        before = sched.nextJobId()
        REGISTRY[name].fn(spark, sf_dir).collect()
        used[name] = sched.nextJobId() - before
    assert all(used[n] <= budget[n] for n in budget), used



@pytest.mark.parametrize("name", ["embedding_near_dup_lsh", "similarity_topk_lsh"])
def test_srp_bucket_udf_runs_after_the_spread_exchange(spark, sf_dir, name):
    """The Arrow bucket UDF evaluates each vector once per side: no
    inferred filter on its output is pushed below the corpus's
    round-robin exchange onto the one pre-shuffle task."""
    from shared_etl_pipelines_spark.queries import REGISTRY

    df = REGISTRY[name].fn(spark, sf_dir)
    df.collect()
    nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan()))
    spreads = [
        n for n in nodes
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
        and "RoundRobinPartitioning" in n.outputPartitioning().toString()
    ]
    assert spreads
    assert any(n.getClass().getSimpleName() == "ArrowEvalPythonExec" for n in nodes)
    for ex in spreads:
        below = [n.getClass().getSimpleName() for n in _plan_nodes(ex.child())]
        assert "ArrowEvalPythonExec" not in below


def test_curation_drop_audit_is_one_lazy_plan(spark, sf_dir, tmp_path, monkeypatch):
    """Built cold, curation_drop_audit starts no job in its builder and
    at most 8 in all (20 when it persisted its shingle frame and ran
    nine global counts): nothing is cached, nothing is scanned from a
    Python RDD, and one round-robin exchange of the documents serves
    every documents consumer."""
    import tempfile

    from shared_etl_pipelines_spark.queries import REGISTRY

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    df = REGISTRY["curation_drop_audit"].fn(spark, sf_dir)
    built = sched.nextJobId()
    assert len(df.collect()) == 9
    assert built == before
    assert sched.nextJobId() - before <= 8
    plan = _final_plan(df)
    assert "InMemoryTableScan" not in plan
    assert "Scan ExistingRDD" not in plan
    spreads = [
        line for line in plan.splitlines()
        if "Exchange RoundRobinPartitioning" in line
        and "ReusedExchange" not in line
    ]
    assert len(spreads) == 1, plan


def test_stage_drop_counts_keeps_an_empty_leg(spark):
    """Every leg yields its row from the one grouped aggregate; an empty
    leg reads (0, 0), as a global count over an empty frame would."""
    from shared_etl_pipelines_spark.queries_llm import stage_drop_counts

    five = spark.range(5)
    legs = [(f"s{i}", five, F.col("id") < i) for i in range(8)]
    legs.append(("empty", spark.range(5).filter("id > 10"), F.col("id") > 0))
    legs[0] = ("anchored", five.withColumn("_anchor", F.col("id")), F.col("id") == 4)
    got = {
        r["stage"]: (r["n_units"], r["n_dropped"])
        for r in stage_drop_counts(legs).collect()
    }
    want = {f"s{i}": (5, min(i, 5)) for i in range(1, 8)}
    want.update(anchored=(5, 1), empty=(0, 0))
    assert got == want


def test_embedding_near_dup_lsh_recall_vs_exact(spark, sf_dir):
    """LSH-bucketed near-dup must recover the high-similarity pairs the
    all-pairs oracle finds (collision probability rises with cosine), and
    every returned pair must be in the exact result (no false positives
    after verification)."""
    from shared_etl_pipelines_spark.operators.similarity import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(emb, tau=0.4).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_lsh(emb, tau=0.4).collect()
    }
    assert set(got) <= set(exact)  # verification removes all false positives
    if exact:
        recall = len(got) / len(exact)
        assert recall >= 0.3, recall
        # strongly-similar pairs (cosine >= 0.6) should nearly all collide
        strong = {p for p, c in exact.items() if c >= 0.6}
        if strong:
            strong_recall = len(strong & set(got)) / len(strong)
            assert strong_recall >= 0.8, strong_recall


def test_ann_index_empty_query_batch(spark, sf_dir, tmp_path):
    """An empty query batch must return an empty frame, not crash on a
    null pruning predicate (ADVICE r2)."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.similarity import (
        lsh_topk_from_index,
        write_ann_index,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann_index_empty")
    write_ann_index(emb, path)
    out = lsh_topk_from_index(spark, path, emb.filter(F.col("vec_id") < 0))
    assert out.count() == 0


def test_covariance_ignores_ragged_vectors(spark):
    """Null / short vectors are excluded entirely — they must not inflate
    n while F.sum silently skips their null products (ADVICE r2)."""
    from shared_etl_pipelines_spark.operators.embeddings import covariance_matrix

    clean = [(1, [1.0, 2.0]), (2, [3.0, 5.0]), (3, [2.0, 9.0])]
    dirty = clean + [(4, None), (5, [1.0]), (6, [None, 4.0])]
    schema = "vec_id long, embedding array<double>"
    want = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_matrix(
            spark.createDataFrame(clean, schema), "embedding", dims=2
        ).collect()
    }
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_matrix(
            spark.createDataFrame(dirty, schema), "embedding", dims=2
        ).collect()
    }
    assert got == want


def test_duplicated_spans_exact_boundaries(spark):
    # Two docs share an 10-token passage; doc 3 is unique. With n=4 the
    # shared passage should come back as ONE maximal span in each doc,
    # covering exactly the shared tokens, at the right (1-based) offsets.
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d1 = "u1 u2 u3 " + shared + " v1 v2"  # shared tokens at positions 4..13
    d2 = shared + " w1 w2 w3"  #            shared tokens at positions 1..10
    d3 = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    from shared_etl_pipelines_spark.operators.dedup import duplicated_spans

    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], ["doc_id", "text"]
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_tokens"])
        for r in duplicated_spans(df, "doc_id", "text", n=4).collect()
    }
    assert spans == {1: (4, 10), 2: (1, 10)}  # doc 3 has no duplicated span


def test_duplicated_spans_within_doc_repetition(spark):
    # Repetition INSIDE one document also counts (count>=2 corpus-wide):
    # the 6-token phrase repeated back-to-back yields one span per copy
    # (duplicated shingle positions 1 and 7 are not consecutive, so the
    # islands merge keeps them distinct — each copy is flagged).
    from shared_etl_pipelines_spark.operators.dedup import duplicated_spans

    phrase = "p1 p2 p3 p4 p5 p6"
    df = spark.createDataFrame(
        [(1, phrase + " " + phrase + " tail1 tail2")], ["doc_id", "text"]
    )
    got = sorted(
        (r["span_start"], r["span_tokens"])
        for r in duplicated_spans(df, "doc_id", "text", n=6).collect()
    )
    assert got == [(1, 6), (7, 6)]  # both copies, nothing from the tail


def test_pii_patterns_detect_and_redact(spark):
    from shared_etl_pipelines_spark.functions.text import pii_counts, pii_redact_all

    df = spark.createDataFrame(
        [
            ("contact a.b+x@mail.example.org or 10.0.255.3 tel 555-123-4567",),
            ("no pii here, just 1.2 numbers and almost-phone 55-123-4567",),
            ("two mails x@y.io z@w.co one ip 192.168.0.1",),
        ],
        ["line"],
    )
    c = pii_counts("line")
    rows = df.select(
        c["email"].alias("e"), c["ipv4"].alias("i"), c["phone"].alias("p"),
        pii_redact_all("line").alias("r"),
    ).collect()
    assert [(r["e"], r["i"], r["p"]) for r in rows] == [(1, 1, 1), (0, 0, 0), (2, 1, 0)]
    assert rows[0]["r"] == "contact <EMAIL> or <IPV4> tel <PHONE>"
    assert rows[2]["r"] == "two mails <EMAIL> <EMAIL> one ip <IPV4>"


def test_bpe_train_matches_pure_python_replay(spark, sf_dir):
    """The distributed trainer must learn EXACTLY the sequence a
    reference single-process BPE (Sennrich-style, same tie-break)
    learns on the same corpus."""
    from collections import Counter

    from shared_etl_pipelines_spark.operators.bpe import bpe_train
    from shared_etl_pipelines_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    got, final = bpe_train(docs, "text", num_merges=6)
    final.unpersist()

    words = Counter()
    for r in docs.select("text").collect():
        for w in (r["text"] or "").split():
            words[w] += 1
    vocab = {tuple(w): c for w, c in words.items()}
    expect = []
    for _ in range(6):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (a, b), w = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if w < 2:
            break
        expect.append((a, b, w))
        nv = {}
        for syms, c in vocab.items():
            out, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            nv[key] = nv.get(key, 0) + c
        vocab = nv
    assert got == expect


def test_bpe_segment_reassembles_words(spark):
    """Segmenting with any merge list must be lossless: concatenating a
    word's subword tokens in order gives back the word."""
    from shared_etl_pipelines_spark.operators.bpe import bpe_segment, bpe_train

    df = spark.createDataFrame(
        [(1, "banana bandana banana"), (2, "ban banana nab")], ["doc_id", "text"]
    )
    merges, final = bpe_train(df, "text", num_merges=4)
    final.unpersist()
    assert merges  # 'an'/'na' repeats guarantee at least one merge
    toks = bpe_segment(df, "doc_id", "text", merges).collect()
    joined = {}
    for r in sorted(toks, key=lambda r: (r["doc_id"], r["token_idx"])):
        joined.setdefault(r["doc_id"], []).append(r["token"])
    # token stream concatenation == original text sans spaces, per doc
    originals = {1: "banana bandana banana", 2: "ban banana nab"}
    for doc_id, text in originals.items():
        assert "".join(joined[doc_id]) == text.replace(" ", "")


def test_bpe_apply_matches_greedy_scan_and_replace_chain(spark):
    """bpe_apply (frozen-tokenizer encode) must equal BOTH the pure-python
    greedy leftmost scan AND the double-space-delimited replace chain the
    SQL oracles use — including for equal-sided merges like ('g','g'),
    where the private-boundary-space argument (operators/bpe.py) is what
    makes straddling occurrences overlap and get skipped exactly as the
    greedy scan skips them."""
    from shared_etl_pipelines_spark.operators.bpe import bpe_apply
    from shared_etl_pipelines_spark.queries_llm import _BPE_FROZEN

    words = [
        "the", "then", "there", "another", "standing", "oust", "and",
        "inin", "erst", "thethe", "x", "", "sted", "anand", "interesting",
    ]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = {r["w"]: r["pieces"] for r in bpe_apply(df, "w", _BPE_FROZEN).collect()}

    def greedy(word):
        syms = list(word)
        for a, b in _BPE_FROZEN:
            out, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def replace_chain(word):
        # double-space delimiters: see operators/bpe.py bpe_apply
        s = "  " + "  ".join(word) + "  " if word else "  "
        for a, b in _BPE_FROZEN:
            s = s.replace(f" {a}  {b} ", f" {a}{b} ")
        return s.split()

    for w in words:
        assert got[w] == greedy(w) == replace_chain(w), w
        assert "".join(got[w]) == w  # lossless

    # equal-sided merge: greedy == replace-chain on every chain parity
    eq = [("g", "g")]
    chains = ["g", "gg", "ggg", "gggg", "ggggg", "agga", "aggga", "gagg"]
    cdf = spark.createDataFrame([(w,) for w in chains], ["w"])
    got_eq = {r["w"]: r["pieces"] for r in bpe_apply(cdf, "w", eq).collect()}
    for w in chains:
        s = "  " + "  ".join(w) + "  "
        s = s.replace(" g  g ", " gg ")
        expect = s.split()
        assert got_eq[w] == expect, w
        assert "".join(got_eq[w]) == w


def test_hrw_rendezvous_minimal_movement(spark, sf_dir):
    """Adding a 9th shard must move docs ONLY onto the new shard — the
    defining elasticity property of rendezvous hashing."""
    from shared_etl_pipelines_spark.queries_llm import q_rendezvous_shard_stats

    rows = q_rendezvous_shard_stats(spark, sf_dir).collect()
    by_shard = {r["shard"]: r for r in rows}
    assert set(by_shard) == set(range(9))
    assert by_shard[8]["n_docs_8"] == 0
    for s in range(8):
        assert by_shard[s]["n_moved_in"] == 0, s
    assert by_shard[8]["n_moved_in"] == by_shard[8]["n_docs_9"] > 0
    total = sum(r["n_docs_9"] for r in rows)
    # expected ~1/9 of the corpus moves; allow generous sampling slack
    assert by_shard[8]["n_docs_9"] < 0.3 * total


def test_new_operators_handle_empty_and_degenerate_input(spark):
    from shared_etl_pipelines_spark.operators.bpe import bpe_segment, bpe_train
    from shared_etl_pipelines_spark.operators.dedup import duplicated_spans
    from shared_etl_pipelines_spark.operators.graph import pagerank
    from shared_etl_pipelines_spark.operators.scd import snapshot_diff

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert duplicated_spans(empty_docs, "doc_id", "text").count() == 0
    merges, fin = bpe_train(empty_docs, "text", num_merges=3)
    assert merges == [] and fin.count() == 0
    # no merges -> pure character stream, still lossless
    one = spark.createDataFrame([(1, "ab cd")], ["doc_id", "text"])
    assert bpe_segment(one, "doc_id", "text", []).count() == 4
    assert pagerank(
        spark.createDataFrame([], "src long, dst long"), iterations=2
    ).count() == 0
    same = spark.createDataFrame([(1, "a", 1.0)], "k long, s string, v double")
    assert snapshot_diff(same, same, ["k"]).count() == 0  # no phantom changes


def test_multiprobe_recall_not_worse_than_single(spark, sf_dir):
    """Hamming-1 multi-probe must recall at least every pair single-probe
    recalls (its probe set is a superset), and strictly more candidates
    reach the rerank on the noise corpus."""
    from shared_etl_pipelines_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucket_topk,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter("vec_id < 5")

    def topk_set(df):
        return {(r["query_id"], r["vec_id"]) for r in df.collect()}

    truth = topk_set(brute_force_topk(emb, qs, k=10))
    single = topk_set(lsh_bucket_topk(emb, qs, k=10))
    multi = topk_set(lsh_bucket_topk(emb, qs, k=10, multiprobe=True))
    r_single = len(single & truth) / len(truth)
    r_multi = len(multi & truth) / len(truth)
    assert r_multi >= r_single


def test_pq_topk_recall_vs_exact(spark, sf_dir):
    """PQ/ADC top-10 must overlap the exact top-10 meaningfully; with a
    20-candidate rerank the floor is conservative (measured ~0.5+ on the
    fixture corpus) — pinned so codebook/LUT regressions surface."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, qs, k=10)
    approx = pq_topk(emb, qs, k=10, n_cand=20)
    ex = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.3, f"PQ recall collapsed: {recall}"


def test_pq_codes_compress_and_cover(spark, sf_dir):
    """Every vector gets exactly m_sub codes, all in [0, n_cent)."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.similarity import pq_codes

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    codes = pq_codes(emb, m_sub=8, n_cent=16)
    n_vec = emb.count()
    assert codes.count() == n_vec * 8
    bad = codes.filter((F.col("code") < 0) | (F.col("code") >= 16)).count()
    assert bad == 0
    # the first 16 vectors ARE the codebook: vector c quantizes to c in
    # every subspace (its distance to itself is 0)
    self_codes = codes.filter(F.col("vec_id") < 16).filter(
        F.col("code") != F.col("vec_id")
    )
    assert self_codes.count() == 0


def test_weighted_sample_favors_heavy_rows(spark):
    """A-ES with weight w=100 vs w=1: heavy rows must dominate the
    sample (inclusion probability ~ weight), and the draw must be
    deterministic across repartitionings."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.sampling import weighted_sample_topk

    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, 100.0).otherwise(1.0).alias("w"),
    )
    out = weighted_sample_topk(df, "k", "w", k=50)
    rows = out.collect()
    heavy = sum(1 for r in rows if r["w"] == 100.0)
    # 100 heavy rows at weight 100 vs 900 light at weight 1: expect the
    # sample to be mostly heavy
    assert heavy >= 35, f"only {heavy}/50 heavy rows sampled"

    out2 = weighted_sample_topk(df.repartition(7), "k", "w", k=50)
    assert sorted(r["k"] for r in rows) == sorted(
        r["k"] for r in out2.collect()
    )


def test_ahash_corrupt_blob_degrades_not_aborts(spark):
    """A truncated PNG must yield the zero hash with is_real_decode
    false — a bad file in a 100 TB corpus degrades, never aborts."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.sources.multimodal import (
        ahash_images,
        synthetic_patterned_png_assets,
    )

    base = spark.range(4).select(F.col("id").alias("doc_id"))
    assets = synthetic_patterned_png_assets(base)
    rows = assets.collect()
    truncated = [(r["doc_id"], r["media_type"], bytes(r["blob"])[:20]) for r in rows[:2]]
    ok = [(r["doc_id"], r["media_type"], bytes(r["blob"])) for r in rows[2:]]
    mixed = spark.createDataFrame(
        truncated + ok, "doc_id long, media_type string, blob binary"
    )
    got = {r["doc_id"]: r for r in ahash_images(mixed).collect()}
    assert not got[rows[0]["doc_id"]]["is_real_decode"]
    assert got[rows[0]["doc_id"]]["h_lo"] == 0
    assert got[rows[2]["doc_id"]]["is_real_decode"]
    # same group of 8 with tiny brightness shift: hashes nearly equal
    h2, h3 = got[rows[2]["doc_id"]], got[rows[3]["doc_id"]]
    ham = bin(h2["h_lo"] ^ h3["h_lo"]).count("1") + bin(
        h2["h_hi"] ^ h3["h_hi"]
    ).count("1")
    assert ham <= 6


def test_hard_negatives_excludes_same_label(spark):
    """The nearest vector overall shares the anchor's label, so it must
    NOT appear; the top negative is the nearest different-label vector."""
    from shared_etl_pipelines_spark.operators.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0, 0.0], "a"),   # anchor
        (1, [0.99, 0.1, 0.0], "a"),  # nearest, same label -> excluded
        (2, [0.9, 0.2, 0.0], "b"),   # nearest different-label
        (3, [0.0, 1.0, 0.0], "b"),
        (4, [0.0, 0.0, 1.0], "c"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    got = hard_negatives(df, df.filter("vec_id = 0"), k=2).collect()
    ids = [r["vec_id"] for r in sorted(got, key=lambda r: r["rn"])]
    assert 1 not in ids
    assert ids[0] == 2


def test_jl_project_matches_matrix_definition(spark):
    """Projecting the j-th basis vector must return column j of the
    deterministic matrix scaled by 1/sqrt(k) — pins both the formula
    and the orientation of the GEMM."""
    import math

    from shared_etl_pipelines_spark.operators.embeddings import jl_project
    from shared_etl_pipelines_spark.operators.similarity import _hyperplane

    from shared_etl_pipelines_spark.operators.embeddings import jl_second_moment

    dim, k, j = 8, 4, 3
    basis = [0.0] * dim
    basis[j] = 1.0
    df = spark.createDataFrame([(0, basis)], "vec_id long, embedding array<double>")
    got = jl_project(df, dim=dim, k=k).collect()[0]["proj"]
    scale = math.sqrt(k * jl_second_moment(dim, k))
    exp = [_hyperplane(i, j) / scale for i in range(k)]
    assert all(abs(a - b) < 1e-12 for a, b in zip(got, exp))


def test_jl_project_preserves_norms_in_expectation():
    """The 1/sqrt(k*E[h^2]) normalization must make projected squared
    norms unbiased: the mean ratio over a gaussian sample sits near 1
    (the 0.61x shrink of a naive 1/sqrt(k) scale would fail this)."""
    import math

    import numpy as np

    from shared_etl_pipelines_spark.operators.embeddings import jl_second_moment
    from shared_etl_pipelines_spark.operators.similarity import _hyperplane

    dim, k = 64, 16
    R = np.array(
        [[_hyperplane(i, j) for j in range(dim)] for i in range(k)]
    ) / math.sqrt(k * jl_second_moment(dim, k))
    X = np.random.default_rng(0).normal(size=(2000, dim))
    ratio = (np.linalg.norm(X @ R.T, axis=1) ** 2).mean() / (
        np.linalg.norm(X, axis=1) ** 2
    ).mean()
    assert 0.9 < ratio < 1.1


def test_block_topk_matches_brute_force(spark, sf_dir):
    """The block-GEMM scale path must reproduce brute_force_topk
    row-for-row (same ids, ranks; cosines within fp-noise) on a 50-query
    batch spanning multiple query blocks."""
    from shared_etl_pipelines_spark.operators.similarity import (
        block_topk,
        brute_force_topk,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter("vec_id < 50")
    a = {(r["query_id"], r["rn"]): (r["vec_id"], r["cosine"])
         for r in brute_force_topk(emb, qs, k=5).collect()}
    b = {(r["query_id"], r["rn"]): (r["vec_id"], r["cosine"])
         for r in block_topk(emb, qs, k=5, n_query_blocks=4).collect()}
    assert set(a) == set(b)
    for key in a:
        assert a[key][0] == b[key][0], key
        assert abs(a[key][1] - b[key][1]) < 1e-9


def test_semantic_dedup_within_cell_only(spark, sf_dir):
    """A vector is only droppable by a LOWER-id near-neighbor in the
    SAME cell: every flagged dup must have such a witness, and the
    minimum id of every cell is never flagged."""
    from shared_etl_pipelines_spark.queries import REGISTRY

    out = REGISTRY["semantic_dedup"].fn(spark, sf_dir)
    rows = out.collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append((r["vec_id"], r["is_dup"]))
    assert sum(d for _, d in sum(by_cell.values(), [])) > 0  # some dups exist
    for cell, members in by_cell.items():
        min_id = min(m for m, _ in members)
        assert dict(members)[min_id] == 0, f"cell {cell} min id flagged"


def test_dsir_weights_favor_target_like_docs(spark, sf_dir):
    """Documents IN the target slice (en/src0) must average a higher
    importance weight than the rest — the defining property of DSIR."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.queries import REGISTRY
    from shared_etl_pipelines_spark.sources.tables import load_table

    out = REGISTRY["dsir_importance_weights"].fn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    j = out.join(docs, "doc_id").withColumn(
        "in_target",
        ((F.col("lang") == "en") & (F.col("source") == "src0")).cast("int"),
    )
    # per-token normalization so weight isn't just doc length
    rows = (
        j.groupBy("in_target")
        .agg(F.avg(F.col("log_weight") / F.col("n_tokens")).alias("m"))
        .collect()
    )
    m = {r["in_target"]: r["m"] for r in rows}
    assert m[1] > m[0]


def test_langid_confusion_diagonal_dominates(spark, sf_dir):
    """Per true language, the most common prediction must be the truth
    (diagonal = row max). The synthetic corpus shares most vocabulary
    across languages (only marker tokens differ), so OVERALL accuracy is
    modest by construction — the row-max property is the meaningful
    classifier invariant here."""
    from shared_etl_pipelines_spark.queries import REGISTRY

    rows = REGISTRY["langid_confusion"].fn(spark, sf_dir).collect()
    by_true = {}
    for r in rows:
        by_true.setdefault(r["true_lang"], []).append(r)
    for lang, rs in by_true.items():
        d = sum(r["n"] for r in rs if r["pred_lang"] == lang)
        assert d >= max(r["n"] for r in rs), lang


def test_incremental_minhash_lsh_equals_restricted_full(spark, sf_dir):
    """The incremental probe must produce EXACTLY the full-corpus LSH
    pair set restricted to pairs touching the batch (bucketing is a pure
    per-doc function, so refreshes lose nothing and invent nothing) —
    and must never emit an (old, old) pair."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.dedup import (
        incremental_minhash_lsh,
        minhash_lsh_pairs,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    is_new = lambda c: c % 7 == 3  # noqa: E731
    corpus = docs.filter(~is_new(F.col("doc_id")))
    batch = docs.filter(is_new(F.col("doc_id")))
    inc = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 4))
        for r in incremental_minhash_lsh(
            corpus, batch, "doc_id", "text", threshold=0.5
        ).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 4))
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    want = {t for t in full if t[0] % 7 == 3 or t[1] % 7 == 3}
    assert inc == want
    assert all(t[0] % 7 == 3 or t[1] % 7 == 3 for t in inc)


def test_incremental_minhash_lsh_recrawled_ids(spark, sf_dir):
    """ADVICE r4 #1: a doc_id present on BOTH sides (a re-crawled doc,
    the stated continuous-crawl use case) must not yield self-pairs
    (doc_a == doc_b, jaccard 1.0) or duplicated verified rows from the
    doubled signature. Batch version wins for shared ids."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.dedup import (
        incremental_minhash_lsh,
        minhash_lsh_pairs,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(400)
    # batch re-crawls every 7th doc with IDENTICAL text — worst case for
    # self-pair emission — plus every 11th doc with a tweaked text
    batch = docs.filter(F.col("doc_id") % 7 == 3).unionByName(
        docs.filter(F.col("doc_id") % 11 == 5).withColumn(
            "text", F.concat(F.col("text"), F.lit(" recrawl delta"))
        )
    ).dropDuplicates(["doc_id"])
    out = incremental_minhash_lsh(
        docs, batch, "doc_id", "text", threshold=0.5
    ).collect()
    assert all(r["doc_a"] != r["doc_b"] for r in out)
    keys = [(r["doc_a"], r["doc_b"]) for r in out]
    assert len(keys) == len(set(keys)), "duplicated verified rows"
    # batch-wins: the result equals the full LSH pair set over the
    # corpus-with-batch-overrides table, restricted to pairs touching
    # a batch id
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    merged = docs.join(
        batch.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(batch)
    full = minhash_lsh_pairs(merged, "doc_id", "text", threshold=0.5).collect()
    want = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 4))
        for r in full
        if r["doc_a"] in batch_ids or r["doc_b"] in batch_ids
    }
    got = {(r["doc_a"], r["doc_b"], round(r["jaccard"], 4)) for r in out}
    assert got == want


def test_levenshtein_near_dup_planted_edit(spark):
    """A one-word in-place edit survives the relative edit-distance
    bound; an unrelated doc produces no pair. The reported edit_dist is
    the exact character-level distance of the planted substitution."""
    from shared_etl_pipelines_spark.operators.dedup import (
        levenshtein_near_dup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")  # len diff 2, 4 substitutions max
    other = "completely different words about spark catalyst tungsten arrow " * 5
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"]
    )
    pairs = levenshtein_near_dup_pairs(
        df, "doc_id", "text", k=8, bands=8, rel_threshold=0.25
    ).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(1, 2)]
    # "lazy" -> "sleepy" five times: distance 4 per occurrence (l->s,
    # a->l, z->e, +2 inserts... exact value pinned empirically by
    # python-Levenshtein semantics both engines share)
    p = pairs[0]
    assert 0 < p["edit_dist"] <= 5 * 6
    assert p["rel_dist"] == p["edit_dist"] / max(len(base), len(near))


def test_levenshtein_near_dup_rejects_distant_candidates(spark):
    """Docs sharing enough shingles to collide in a band but with a
    large edit distance are candidates yet must NOT survive the verify:
    the relative bound is the contract, not bucket co-occupancy."""
    from shared_etl_pipelines_spark.operators.dedup import (
        levenshtein_near_dup_pairs,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta " * 3
    a = shared + "x " * 200
    b = shared + "y " * 200  # same shingle prefix, huge edit tail
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    strict = levenshtein_near_dup_pairs(
        df, "doc_id", "text", k=8, bands=8, rel_threshold=0.2
    ).collect()
    assert strict == []
    loose = levenshtein_near_dup_pairs(
        df, "doc_id", "text", k=8, bands=8, rel_threshold=0.9
    ).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in loose] == [(1, 2)]


def test_jsonl_read_quarantines_corrupt_lines(spark, sf_dir):
    """The demo JSONL file ends with one deliberately corrupt line: it
    must land whole in _corrupt_record (data columns NULL), never fail
    the read, and every valid row must round-trip text verbatim."""
    from shared_etl_pipelines_spark.sources.jsonl import (
        ensure_demo_jsonl,
        read_jsonl,
    )

    df = read_jsonl(spark, ensure_demo_jsonl(sf_dir)).cache()
    bad = df.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(bad) == 1 and bad[0]["_corrupt_record"].startswith("{this")
    assert bad[0]["doc_id"] is None
    import os

    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    want = dict(zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()))
    got = {
        r["doc_id"]: r["text"]
        for r in df.filter(F.col("_corrupt_record").isNull()).collect()
    }
    assert got == want
    df.unpersist()


def test_xml_read_partial_parse_and_recovery(spark, sf_dir):
    """Untypeable-cell records quarantine whole but keep the top-level
    fields parsed BEFORE the failure (_id, source) and null the rest
    (meta, tag); every other record parses fully and the scanner
    recovers at the next record."""
    from shared_etl_pipelines_spark.sources.xmlq import (
        UNTYPEABLE_MOD,
        ensure_demo_xml,
        read_xml_quarantine,
    )

    df = read_xml_quarantine(spark, ensure_demo_xml(sf_dir)).cache()
    bad = df.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert bad and all(r["_id"] % UNTYPEABLE_MOD == 0 for r in bad)
    for r in bad:
        assert r["source"] == f"crawl-{r['_id'] % 4}"  # parsed before failure
        assert r["meta"] is None and r["tag"] is None  # nulled after it
    good = df.filter(F.col("_corrupt_record").isNull()).collect()
    import os

    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    want_len = dict(
        zip(tbl.column("doc_id").to_pylist(), (len(t) for t in tbl.column("text").to_pylist()))
    )
    assert len(good) + len(bad) == len(want_len)
    for r in good:
        d = r["_id"]
        assert r["meta"]["n_chars"] == want_len[d]
        assert r["meta"]["_lang"] == f"l{d % 4}"
        assert len(r["tag"] or []) == d % 3
    df.unpersist()


def test_xml_structural_break_quarantines_rest_of_file(spark, tmp_path):
    """Broken markup is a whole-file failure domain: records before the
    break parse normally; the break record and EVERYTHING after it in
    that file land in ONE corrupt record (XML cannot resynchronize past
    an unbalanced tag) — the reason XML dumps are sharded small."""
    from shared_etl_pipelines_spark.sources.xmlq import (
        read_xml_quarantine,
        write_structural_break_xml,
    )

    p = str(tmp_path / "broken.xml")
    write_structural_break_xml(p, n_docs=12, break_at=5)
    df = read_xml_quarantine(spark, p).cache()
    good = sorted(
        r["_id"] for r in df.filter(F.col("_corrupt_record").isNull()).collect()
    )
    bad = df.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert good == [1, 2, 3, 4]
    assert len(bad) == 1 and bad[0]["_id"] is None
    assert '<doc id="5">' in bad[0]["_corrupt_record"]
    assert '<doc id="12">' in bad[0]["_corrupt_record"]
    df.unpersist()


def test_ann_index_upsert_equals_full_rebuild(spark, sf_dir, tmp_path):
    """Upserted index (re-ingested ids via tombstones + appended rows,
    deletes via tombstones) must answer probes identically to an index
    rebuilt from scratch over the final corpus state; compaction folds
    the tombstones away without changing answers."""
    import os

    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.similarity import (
        ann_index_upsert,
        compact_ann_index,
        lsh_topk_from_index,
        write_ann_index,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    upserted = str(tmp_path / "idx_upserted")
    rebuilt = str(tmp_path / "idx_rebuilt")

    write_ann_index(emb, upserted)
    batch = emb.filter(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    deletes = emb.filter(F.col("vec_id") % 10 == 7).select("vec_id")
    summary = ann_index_upsert(spark, upserted, batch=batch, delete_ids=deletes)
    assert summary["seq"] == 1 and summary["rows_appended"] > 0

    final_state = emb.filter(F.col("vec_id") % 10 != 7).select(
        "vec_id",
        F.when(F.col("vec_id") % 10 == 3, F.reverse("embedding"))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    write_ann_index(final_state, rebuilt)
    qs = final_state.filter(F.col("vec_id") < 5)

    def res(path):
        return {
            (r["query_id"], r["rn"]): (r["vec_id"], round(r["cosine"], 6))
            for r in lsh_topk_from_index(spark, path, qs, k=10).collect()
        }

    want = res(rebuilt)
    assert res(upserted) == want and len(want) == 50
    # deleted ids never surface
    assert all(v[0] % 10 != 7 for v in want.values())

    c = compact_ann_index(spark, upserted)
    assert c["live_rows"] > 0
    assert not os.path.exists(os.path.join(upserted, "_tombstones"))
    assert res(upserted) == want


def test_code_features_separates_code_from_prose(spark):
    """An indented/braced/keyworded snippet scores as code; plain prose
    does not; feature values are the closed-form expectations."""
    from shared_etl_pipelines_spark.functions.text import code_features

    code = 'def f(x):\n  return x + 1\n\nimport os\nclass A:\n  pass\n'
    prose = "the quick brown fox jumps over the lazy dog and runs away"
    df = spark.createDataFrame([(1, code), (2, prose)], ["doc_id", "text"])
    feats = code_features(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            feats["n_lines"].alias("nl"),
            feats["kw_hits"].alias("kw"),
            feats["is_code"].alias("ic"),
        ).collect()
    }
    assert rows[1]["ic"] == 1 and rows[2]["ic"] == 0
    assert rows[1]["nl"] == 7  # trailing newline keeps its empty line
    # def, return, import, class each hit once
    assert rows[1]["kw"] == 4 and rows[2]["kw"] == 0


def test_ann_upsert_crash_window_resolves_to_newest(spark, sf_dir, tmp_path):
    """Crash ordering (ADVICE r5 #2): data rows append BEFORE
    tombstones, so a crash between the writes leaves both versions of a
    re-ingested id live with no tombstone. The reader's max-seq-per-id
    filter must resolve those duplicates to the newest version — no id
    may surface twice in a probe result."""
    import os

    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.similarity import (
        ANN_PART,
        ann_index_upsert,
        lsh_topk_from_index,
        write_ann_index,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    path = str(tmp_path / "idx_crash")
    write_ann_index(emb, path)
    # upsert 1 (completes): establishes the tombstone dir at seq 1
    ann_index_upsert(
        spark, path,
        batch=emb.filter(F.col("vec_id") == 11).select(
            "vec_id", F.reverse("embedding").alias("embedding")
        ),
    )
    # simulate upsert 2 crashing AFTER the data append, BEFORE the
    # tombstone append: re-append the current seq-1 rows for id 11 with
    # seq bumped to 2 (same bucketing — the rows land in their partitions)
    idx = spark.read.parquet(path)
    crashed = idx.filter(F.col("vec_id") == 11).withColumn(
        "seq", F.lit(2).cast("long")
    )
    crashed.write.mode("append").partitionBy("tbl", ANN_PART).parquet(path)

    qs = emb.filter(F.col("vec_id") < 5)
    out = lsh_topk_from_index(spark, path, qs, k=10).collect()
    # no (query, neighbor) appears twice and ranks stay dense 1..k
    seen = [(r["query_id"], r["vec_id"]) for r in out]
    assert len(seen) == len(set(seen))
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rn"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_ann_upsert_lock_fails_loud(spark, sf_dir, tmp_path):
    """A second concurrent upsert hits the held _ann.lock and raises
    instead of minting a duplicate seq."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.engine import acquire_fs_lock, release_fs_lock
    from shared_etl_pipelines_spark.operators.similarity import (
        ann_index_upsert,
        write_ann_index,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    path = str(tmp_path / "idx_locked")
    write_ann_index(emb.filter(F.col("vec_id") < 100), path)
    lock = path.rstrip("/") + ".ann.lock"
    acquire_fs_lock(spark, lock, owner="test-other-writer")
    with _pytest.raises(RuntimeError, match="single-writer lock"):
        ann_index_upsert(
            spark, path, delete_ids=emb.filter(F.col("vec_id") == 1).select("vec_id")
        )
    release_fs_lock(spark, lock)
    s = ann_index_upsert(
        spark, path, delete_ids=emb.filter(F.col("vec_id") == 1).select("vec_id")
    )
    assert s["seq"] == 1 and not os.path.exists(lock)


def test_lsh_hot_bucket_guard_caps_adversarial_floods(spark):
    """VERDICT r5 #6: a degenerate band value (hundreds of identical
    docs) must not go quadratic — with the default cap the flooded
    buckets are excluded from candidate generation, the audit surfaces
    them, and cap=None restores the uncapped behavior."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.dedup import (
        levenshtein_near_dup_pairs,
        lsh_bucket_audit,
        minhash_lsh_pairs,
    )

    # 600 byte-identical docs: every one lands in the same 4 band
    # buckets (occupancy 600 > 256) plus 3 distinct near-pairs far
    # below the cap
    flood = spark.range(600).select(
        F.concat(F.lit("flood_"), F.col("id")).alias("doc_id"),
        F.lit("the same boilerplate header text repeated everywhere").alias(
            "text"
        ),
    )
    reals = spark.createDataFrame(
        [
            ("real_a1", "alpha beta gamma delta epsilon zeta eta theta"),
            ("real_a2", "alpha beta gamma delta epsilon zeta eta iota"),
            ("real_b1", "one two three four five six seven eight nine"),
        ],
        ["doc_id", "text"],
    )
    docs = flood.unionByName(reals)

    capped = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.3)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    # flood pairs suppressed (would be ~180k pairs); real pair survives
    assert ("real_a1", "real_a2") in got
    assert not any(a.startswith("flood") or b.startswith("flood") for a, b in got)

    audit = lsh_bucket_audit(docs, "doc_id", "text").collect()
    dropped = [r for r in audit if r["dropped"] == 1]
    assert dropped and all(r["size"] == 600 for r in dropped)
    kept = [r for r in audit if r["dropped"] == 0]
    assert kept and all(r["size"] <= 256 for r in kept)

    # cap disabled: the flood pairs come back (bounded fixture keeps
    # this test itself tractable)
    uncapped = minhash_lsh_pairs(
        flood.limit(30).unionByName(reals), "doc_id", "text",
        threshold=0.3, max_bucket_size=None,
    )
    assert uncapped.filter(F.col("doc_a").startswith("flood")).count() > 0

    # same guard on the edit-distance member of the family
    lev = levenshtein_near_dup_pairs(docs, "doc_id", "text")
    lgot = {(r["doc_a"], r["doc_b"]) for r in lev.collect()}
    assert ("real_a1", "real_a2") in lgot
    assert not any(a.startswith("flood") for a, _ in lgot)


def test_incremental_lsh_cap_equals_capped_full_restriction(spark):
    """Capped incremental probe == capped full-corpus LSH restricted to
    pairs touching the batch (disjoint ids), including when the batch
    probes a flooded corpus bucket."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.dedup import (
        incremental_minhash_lsh,
        minhash_lsh_pairs,
    )

    corpus = spark.range(400).select(
        F.concat(F.lit("c_"), F.col("id")).alias("doc_id"),
        F.lit("the same boilerplate header text repeated everywhere").alias(
            "text"
        ),
    ).unionByName(
        spark.createDataFrame(
            [("c_real", "alpha beta gamma delta epsilon zeta eta theta")],
            ["doc_id", "text"],
        )
    )
    batch = spark.createDataFrame(
        [
            ("b_flood", "the same boilerplate header text repeated everywhere"),
            ("b_real", "alpha beta gamma delta epsilon zeta eta iota"),
        ],
        ["doc_id", "text"],
    )
    inc = {
        (r["doc_a"], r["doc_b"])
        for r in incremental_minhash_lsh(
            corpus, batch, "doc_id", "text", threshold=0.3
        ).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            corpus.unionByName(batch), "doc_id", "text", threshold=0.3
        ).collect()
        if r["doc_a"].startswith("b_") or r["doc_b"].startswith("b_")
    }
    assert inc == full
    # the real cross pair survived; the flooded bucket was capped out
    assert ("b_real", "c_real") in inc
    assert not any("flood" in a or "flood" in b for a, b in inc)


def test_ivfpq_recall_and_plan(spark, sf_dir):
    """The IVF-PQ composite must (a) return exact-cosine-ranked rows
    whose scores match brute force for the ids it surfaces, (b) reach
    useful recall@10 on the fixture corpus, and (c) never plan an
    unbounded cartesian (the only nested-loop joins are the bounded
    8-row centroid broadcasts)."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    approx = ivfpq_topk(emb, qs, k=10, n_centroids=8, nprobe=2, n_cand=20)
    exact = brute_force_topk(emb, qs, k=10)
    a = {(r["query_id"], r["vec_id"]): round(r["cosine"], 6) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]): round(r["cosine"], 6) for r in exact.collect()}
    # surfaced pairs carry the exact cosine (rerank is exact)
    for key, c in a.items():
        if key in e:
            assert abs(c - e[key]) < 1e-9
    recall = len(set(a) & set(e)) / len(e)
    assert recall >= 0.2, f"recall@10 collapsed: {recall}"
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_ann_index_asof_probe_equals_pre_upsert_index(spark, sf_dir, tmp_path):
    """as_of_seq=0 must reproduce the pre-upsert probe exactly — the
    re-embedded vectors and tombstones stay invisible — while the
    current probe reflects the batch."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.similarity import (
        ann_index_upsert,
        lsh_topk_from_index,
        write_ann_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    p0 = str(tmp_path / "idx_frozen")
    p1 = str(tmp_path / "idx_live")
    write_ann_index(emb, p0)
    write_ann_index(emb, p1)
    qs = emb.filter(F.col("vec_id") < 3)
    ann_index_upsert(
        spark,
        p1,
        batch=emb.filter(F.col("vec_id") % 10 == 3).select(
            "vec_id", F.reverse("embedding").alias("embedding")
        ),
        delete_ids=emb.filter(F.col("vec_id") % 10 == 7).select("vec_id"),
    )

    def rows(df):
        return {
            (r["query_id"], r["rn"]): (r["vec_id"], round(r["cosine"], 6))
            for r in df.collect()
        }

    frozen = rows(lsh_topk_from_index(spark, p0, qs, k=10))
    asof = rows(lsh_topk_from_index(spark, p1, qs, k=10, as_of_seq=0))
    current = rows(lsh_topk_from_index(spark, p1, qs, k=10))
    assert asof == frozen
    assert current != frozen  # deletes/re-embeds visible at the head
    cur_ids = {v[0] for v in current.values()}
    assert not any(i % 10 == 7 for i in cur_ids)  # deleted ids gone now


def test_containment_df_cap_drops_boilerplate_keeps_quotes(spark):
    """The shingle document-frequency cap: a boilerplate header shared
    by 600 docs contributes NO candidate pairs (its shingles exceed
    max_df), while a genuine quote — one doc fully contained in
    another via rare shingles — survives with containment 1.0."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.dedup import containment_pairs

    flood = spark.range(600).select(
        F.concat(F.lit("flood_"), F.col("id")).alias("doc_id"),
        F.concat(
            F.lit("common header words here always "),
            F.lit("tail_"), F.col("id"), F.lit(" filler"),
        ).alias("text"),
    )
    reals = spark.createDataFrame(
        [
            ("quoted", "alpha beta gamma delta epsilon zeta"),
            (
                "quoter",
                "intro words alpha beta gamma delta epsilon zeta outro words",
            ),
        ],
        ["doc_id", "text"],
    )
    out = containment_pairs(
        flood.unionByName(reals), "doc_id", "text", n=3, threshold=0.9
    ).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["containment"] for r in out}
    assert pairs[("quoted", "quoter")] == 1.0
    # the reverse direction is below threshold (quoter has extra shingles)
    assert ("quoter", "quoted") not in pairs
    # no flood pair anywhere: their shared shingles are df-capped and
    # their unique tails share nothing
    assert not any(a.startswith("flood") for a, _ in pairs)


def test_containment_plan_no_cartesian_one_shingle_pass(spark, sf_dir):
    """Plan gate: the containment candidate join is an equi-join (no
    cartesian), and the multi-consumer shingle-row table is served from
    ONE persisted pass (InMemoryTableScan on every consumer) instead of
    re-deriving the tokenize->window pipeline per consumer."""
    import os

    from shared_etl_pipelines_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    df = containment_pairs(docs, "doc_id", "text")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert plan.count("InMemoryTableScan") >= 3


def test_ann_compact_lock_is_swap_surviving_sibling(spark, sf_dir, tmp_path):
    """ADVICE r7 #1 (ANN twin): compact_ann_index and ann_index_upsert
    share a sibling lock that survives the directory swap; a held lock
    blocks compaction fail-loud, and a clean compact leaves no lock and
    no stranded .old/.compacting directory."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.engine import acquire_fs_lock, release_fs_lock
    from shared_etl_pipelines_spark.operators.similarity import (
        ann_index_upsert,
        compact_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    path = str(tmp_path / "idx_sibling")
    write_ann_index(emb.filter(F.col("vec_id") < 100), path)
    ann_index_upsert(
        spark, path, delete_ids=emb.filter(F.col("vec_id") == 1).select("vec_id")
    )

    lock = path.rstrip("/") + ".ann.lock"
    acquire_fs_lock(spark, lock, owner="test-other-writer")
    with _pytest.raises(RuntimeError, match="single-writer lock"):
        compact_ann_index(spark, path)
    release_fs_lock(spark, lock)

    s = compact_ann_index(spark, path)
    assert s["live_rows"] > 0
    assert not os.path.exists(lock)
    assert not os.path.exists(path.rstrip("/") + ".old")
    assert not os.path.exists(path.rstrip("/") + ".compacting")
    # live path intact and writable post-swap
    s2 = ann_index_upsert(
        spark, path, delete_ids=emb.filter(F.col("vec_id") == 2).select("vec_id")
    )
    assert s2["seq"] == 1


def test_record_linkage_snp_candidates_grow_linearly(spark):
    """VERDICT r7 #1: the sorted-neighborhood FS linker's candidate
    count must grow ~linearly with data (<= 2*passes*w*n bound), where
    the fixed-block twin's grows with block occupancy squared. 10x
    customers (sf0.001 -> sf0.01) => ~10x SNP pairs but ~50x blocked
    pairs."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.queries import REGISTRY

    def pairs(q, sf):
        df = REGISTRY[q].fn(spark, f"/root/testdata/{sf}")
        return df.agg(F.sum("n_pairs")).collect()[0][0]

    snp_small = pairs("record_linkage_fs", "sf0.001")
    snp_big = pairs("record_linkage_fs", "sf0.01")
    blk_small = pairs("record_linkage_fs_blocked", "sf0.001")
    blk_big = pairs("record_linkage_fs_blocked", "sf0.01")
    # SNP: bounded by 2 passes * w=5 * 2n rows, and empirically ~11x
    n_small, n_big = 150, 1500
    assert snp_big <= 2 * 5 * 2 * n_big
    assert snp_big / snp_small < 15
    # fixed blocks saturate: super-linear growth (occupancy squared)
    assert blk_big / blk_small > 25


def test_kmeans_fit_exact_matches_integer_replication(spark, sf_dir):
    """The fixed-point Lloyd loop (r9): assignments and centroids
    reproduce a local int64 replay exactly — the property that makes
    the SQL-chain oracle valid — and the early exit equals running the
    full iteration budget."""
    import math

    import numpy as np

    from shared_etl_pipelines_spark.operators.embeddings import (
        kmeans_fit_exact,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents, assigned = kmeans_fit_exact(emb, "vec_id", "embedding", k=4, iters=6)
    rows = {r["vec_id"]: (r["cell"], r["dist"]) for r in assigned.collect()}

    V = np.stack([
        r["embedding"]
        for r in emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ]).astype("f8")
    ids = [r["vec_id"] for r in emb.select("vec_id").orderBy("vec_id").collect()]
    # half-up rounding to match Spark ROUND / DuckDB ROUND
    Q = np.floor(np.abs(V * 10000) + 0.5).astype(np.int64) * np.sign(V).astype(np.int64)
    C = Q[:4].copy()
    for _ in range(6):
        d2 = ((Q[:, None, :] - C[None]) ** 2).sum(2)
        cell = d2.argmin(1)
        newC = C.copy()
        for c in range(4):
            m = cell == c
            if m.any():
                s = Q[m].sum(0)
                newC[c] = np.array(
                    [math.floor(float(x) / float(m.sum())) for x in s],
                    dtype=np.int64,
                )
        if np.array_equal(newC, C):
            break
        C = newC
    assert np.array_equal(cents, C)
    d2 = ((Q[:, None, :] - C[None]) ** 2).sum(2)
    want_cell = d2.argmin(1)
    want_dist = np.round(np.sqrt(d2[np.arange(len(Q)), want_cell]) / 10000, 4)
    for i, vid in enumerate(ids):
        assert rows[vid][0] == want_cell[i]
        assert rows[vid][1] == want_dist[i]


def test_pca_power_project_deterministic_and_centered(spark, sf_dir):
    """Power-method PCA (r9): output is centered per component, two
    runs are bit-identical (the oracle-replayability contract), and the
    k x k Gram matrix of projections is near-diagonal (orthogonal-ish
    basis even on the near-isotropic fixture spectrum)."""
    import numpy as np

    from shared_etl_pipelines_spark.operators.embeddings import (
        pca_power_project,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out1 = pca_power_project(emb, "vec_id", "embedding", k=4, iters=12)
    rows1 = sorted(
        (r["vec_id"], r["component"], r["value"]) for r in out1.collect()
    )
    out2 = pca_power_project(
        emb.repartition(7), "vec_id", "embedding", k=4, iters=12
    )
    rows2 = sorted(
        (r["vec_id"], r["component"], r["value"]) for r in out2.collect()
    )
    assert rows1 == rows2  # partitioning-independent, bit-exact
    P = np.zeros((len(rows1) // 4, 4))
    idmap = {vid: i for i, vid in enumerate(sorted({r[0] for r in rows1}))}
    for vid, comp, val in rows1:
        P[idmap[vid], comp] = val
    assert np.abs(P.mean(axis=0)).max() < 1e-9  # centered
    G = np.corrcoef(P, rowvar=False)
    off = np.abs(G - np.diag(np.diag(G))).max()
    assert off < 0.12  # near-orthogonal components


def test_linkage_block_cap_bounds_pairs_loudly(spark, sf_dir):
    """Occupancy gate (r9, VERDICT r8 item 3): a hostile hot block is
    dropped from pair generation and accounted, and at fixture scale
    the audit's bounded candidate count equals the pairs the capped
    twin actually generates (no silent drops, no unbounded blocks)."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.queries_llm import (
        _FS_BLOCK_CAP,
        _fs_block_occupancy,
        _fs_linkage_sides,
        q_linkage_block_audit,
        q_record_linkage_fs_blocked,
    )

    # fixture path: cap is invisible (occupancy well under), and the
    # audit's candidate count == the twin's generated pair total
    audit = q_linkage_block_audit(spark, sf_dir).collect()[0]
    assert audit["n_dropped_blocks"] == 0
    assert audit["max_occ_c"] <= _FS_BLOCK_CAP // 3
    total_pairs = (
        q_record_linkage_fs_blocked(spark, sf_dir)
        .agg(F.sum("n_pairs"))
        .collect()[0][0]
    )
    assert total_pairs == audit["n_candidate_pairs"]

    # hostile path: one block stuffed past the cap must be dropped
    hot = spark.range(_FS_BLOCK_CAP + 40).select(
        (F.col("id") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.col("id")).alias("c_name"),
        F.lit(3).alias("c_nationkey"),
        F.lit("BUILDING").alias("c_mktsegment"),
        F.lit(1234.56).alias("c_acctbal"),
    )
    c, d = _fs_linkage_sides(hot)
    occ = _fs_block_occupancy(c, d).withColumn(
        "ok",
        (F.col("nc") <= _FS_BLOCK_CAP) & (F.col("nd") <= _FS_BLOCK_CAP),
    )
    rows = occ.collect()
    # k%7 balance perturbation splits the hot set into 2 blocks; the
    # main one must exceed the cap and be marked not-ok
    assert any(not r["ok"] and r["nc"] > _FS_BLOCK_CAP for r in rows)


def test_pca_power_project_rank_deficient_raises(spark):
    """Degenerate input (all vectors identical -> zero covariance) must
    refuse loudly, not diverge from the oracle on 0/0 (r9 self-review)."""
    import pytest as _pytest

    from shared_etl_pipelines_spark.operators.embeddings import (
        pca_power_project,
    )

    df = spark.createDataFrame(
        [(i, [0.5] * 8) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="covariance rank"):
        pca_power_project(df, "vec_id", "embedding", dim=8, k=2, iters=5)


def test_id3v2_round_trip_versions_and_encodings():
    """ID3v2 codec (r9): v2.3 plain vs v2.4 syncsafe frame sizes, all
    four text encodings, padding tolerance, and loud refusal of
    overruns / unsync / reserved encodings / bad frame ids."""
    import pytest as _pytest

    from shared_etl_pipelines_spark.sources.mp3 import (
        encode_id3v2,
        parse_id3v2,
    )

    frames = {"TIT2": "Tïtle — ünïcode", "TPE1": "a" * 300, "TRCK": "7"}
    for major in (3, 4):
        for enc in (0, 1, 2, 3):
            if enc == 0 and major:  # latin-1 can't carry the em dash
                use = {k: v.replace("—", "-") for k, v in frames.items()}
            else:
                use = frames
            tag = encode_id3v2(use, major, enc)
            d = parse_id3v2(tag + b"\xffrest-of-mp3")
            assert d["version"] == major and d["n_frames"] == 3
            assert d["frames"] == use
    # padding after the last frame ends the walk cleanly
    tag = encode_id3v2({"TIT2": "x"}, 4, 3)
    padded = tag[:6] + bytes([0, 0, 0, tag[9] + 8]) + tag[10:] + b"\x00" * 8
    assert parse_id3v2(padded)["frames"] == {"TIT2": "x"}
    # refusals
    with _pytest.raises(ValueError, match="no ID3v2"):
        parse_id3v2(b"\xff\xfb\x90\x00")
    unsync = bytearray(encode_id3v2({"TIT2": "x"}))
    unsync[5] |= 0x80
    with _pytest.raises(ValueError, match="unsynchronisation"):
        parse_id3v2(bytes(unsync))
    bad = bytearray(encode_id3v2({"TIT2": "x"}))
    bad[14] = 0x7F
    with _pytest.raises(ValueError, match="overruns"):
        parse_id3v2(bytes(bad))
    with _pytest.raises(ValueError, match="not supported"):
        parse_id3v2(b"ID3\x02\x00\x00\x00\x00\x00\x00")
    lower = bytearray(encode_id3v2({"TIT2": "x"}))
    lower[10] = ord("t")
    with _pytest.raises(ValueError, match="frame id"):
        parse_id3v2(bytes(lower))
    renc = bytearray(encode_id3v2({"TIT2": "x"}, 4, 3))
    renc[20] = 9  # encoding byte -> reserved
    with _pytest.raises(ValueError, match="reserved ID3v2 text encoding"):
        parse_id3v2(bytes(renc))


def test_spark_mp3_id3_census(spark):
    from shared_etl_pipelines_spark.sources.multimodal import (
        mp3_id3_tags,
        synthetic_mp3_tagged_assets,
    )

    docs = spark.createDataFrame(
        [(d, "y" * (3 + d)) for d in range(1, 30)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in mp3_id3_tags(synthetic_mp3_tagged_assets(docs)).collect()
    }
    for d, r in rows.items():
        if d % 11 == 0:
            assert r["reason"] == "tag_malformed" and not r["is_tagged"]
        elif d % 7 == 0:
            assert r["reason"] == "untagged" and not r["is_tagged"]
        else:
            assert r["is_tagged"] and r["title"] == f"doc-{d}"
            assert r["artist"] == f"artist-{d % 50}"
            assert r["id3_version"] == (4 if d % 2 == 0 else 3)
            assert r["track"] == str(d % 12 + 1)


def test_mojibake_repair_semantics(spark, sf_dir):
    """The reverse-round-trip heuristic: repairs true mojibake, leaves
    pure ASCII and genuine latin-1/unicode text untouched, and the
    fixture query restores every corrupted doc to its clean form."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.queries_llm import q_mojibake_repair

    out = q_mojibake_repair(spark, sf_dir)
    rows = out.collect()
    assert all((r["doc_id"] % 3 == 0) == r["was_mojibake"] for r in rows)
    for r in rows:
        assert r["repaired"].endswith(f" café№{r['doc_id'] % 10}")
        assert r["n_chars_out"] == len(r["repaired"])
        if r["was_mojibake"]:
            assert r["n_chars_in"] == r["n_chars_out"] + 3
    # pure-python heuristic guards (no Spark): clean inputs untouched
    for clean in ("plain ascii", "déjà vu — genuine unicode", "café№"):
        try:
            cand = clean.encode("latin-1").decode("utf-8")
            changed = cand != clean
        except (UnicodeEncodeError, UnicodeDecodeError):
            changed = False
        assert not changed, clean


def test_unicode_normalization_audit_classes(spark, sf_dir):
    """NFC/NFKC audit (r9): the decomposed class is the only non-NFC
    one, only clean ASCII is NFKC-stable, and the normalized text
    restores the canonical forms."""
    from shared_etl_pipelines_spark.queries_llm import (
        q_unicode_normalization_audit,
    )

    rows = q_unicode_normalization_audit(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        cls = r["doc_id"] % 4
        assert r["cls"] == cls
        assert r["is_nfc"] == (cls != 1)
        assert r["is_nfkc"] == (cls == 0)
        if cls == 1:
            assert r["nfc_text"].endswith(" café")   # precomposed
            assert "́" not in r["nfc_text"]
        if cls == 2:
            assert r["nfkc_text"].endswith(" AB")
            assert r["nfc_text"].endswith(" ＡＢ")  # unchanged
        if cls == 3:
            assert r["nfkc_text"].endswith(" file")


def test_paragraph_dedup_profile_keeper_election(spark):
    """CCNet-style chunk dedup (r9-continued): the FIRST corpus-wide
    occurrence in (id, chunk_idx) order is kept, later occurrences
    drop, ragged tail chunks count their true token length."""
    from shared_etl_pipelines_spark.operators.dedup import (
        paragraph_dedup_profile,
    )

    rep = " ".join(f"w{i}" for i in range(10))       # one full chunk
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(5))      # ragged tail
    df = spark.createDataFrame(
        [
            (1, f"{rep} {uniq_a}"),           # chunk0=rep (keeper), chunk1=uniq_a
            (2, f"{rep} {uniq_b}"),           # chunk0=rep (dropped), chunk1=5-tok tail
            (3, f"{uniq_b} {uniq_b}"),        # within-doc dup: 10-tok chunk + dup? no:
                                              # 10 tokens = one chunk b0..b4 b0..b4 (unique)
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup_profile(df).collect()}
    assert out[1]["n_dup_chunks"] == 0 and out[1]["tokens_dropped"] == 0
    assert out[1]["retained_ratio"] == 1.0
    assert out[2]["n_chunks"] == 2
    assert out[2]["n_dup_chunks"] == 1          # rep kept in doc 1, dropped here
    assert out[2]["tokens_dropped"] == 10
    assert out[2]["tokens_total"] == 15
    assert out[2]["retained_ratio"] == round(5 / 15, 4)
    assert out[3]["n_dup_chunks"] == 0          # b0..b4 b0..b4 is ONE 10-token chunk


def test_paragraph_dedup_profile_within_doc_dup(spark):
    """A chunk repeated inside one document drops its second copy too
    (within-doc boilerplate is still boilerplate)."""
    from shared_etl_pipelines_spark.operators.dedup import (
        paragraph_dedup_profile,
    )

    rep = " ".join(f"x{i}" for i in range(10))
    df = spark.createDataFrame(
        [(7, f"{rep} {rep}")], "doc_id long, text string"
    )
    r = paragraph_dedup_profile(df).collect()[0]
    assert r["n_chunks"] == 2 and r["n_dup_chunks"] == 1
    assert r["tokens_dropped"] == 10
    assert r["retained_ratio"] == 0.5


def test_markdown_structure_parser():
    """CommonMark-subset census (r9-continued): headings, fences with
    info strings, links, prose tokens, unterminated-fence flag."""
    from shared_etl_pipelines_spark.sources.markdown import (
        parse_markdown_structure,
    )

    md = "\n".join([
        "# Top",
        "plain prose line here",
        "[a](u) and [b](v)",
        "## Deeper",
        "```python",
        "# not a heading — inside code",
        "x = 1",
        "```",
        "```",
        "bare fence block",
        "```",
        "tail words",
    ])
    s = parse_markdown_structure(md)
    assert s["n_headings"] == 2 and s["max_depth"] == 2
    assert s["n_code_blocks"] == 2 and s["code_langs"] == "python,"
    assert s["n_code_lines"] == 3
    assert s["n_links"] == 2
    # prose: "plain prose line here"(4) + links line(3) + "tail words"(2)
    assert s["prose_tokens"] == 9
    assert s["unterminated"] is False
    s2 = parse_markdown_structure("# H\n```js\ncode to eof")
    assert s2["unterminated"] is True and s2["n_code_lines"] == 1
    assert parse_markdown_structure("")["n_headings"] == 0
    # 7 hashes or no space is NOT a heading
    s3 = parse_markdown_structure("####### nope\n#nospace")
    assert s3["n_headings"] == 0 and s3["prose_tokens"] == 3
