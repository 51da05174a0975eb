"""Similarity-search tests: brute-force exactness vs numpy, LSH recall."""

from __future__ import annotations

import numpy as np
import pytest

from data_quality_check_spark.operators import similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def np_corpus(emb):
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    order = np.argsort(ids)
    return ids[order], mat[order]


def _np_top1(ids, mat):
    sims = mat @ mat.T
    np.fill_diagonal(sims, -np.inf)
    # deterministic tie-break on smaller id
    best = np.lexsort((ids[None, :].repeat(len(ids), 0), -sims), axis=1)[:, 0]
    return {int(i): int(ids[b]) for i, b in zip(ids, best)}


def test_brute_force_topk_exact(emb, np_corpus):
    ids, mat = np_corpus
    expected = _np_top1(ids, mat)
    got = {r["vec_id"]: r["neighbor_id"]
           for r in similarity.brute_force_topk(emb, k=1).collect()}
    assert got == expected


def test_brute_force_topk_k3_ranked(emb):
    rows = similarity.brute_force_topk(emb, k=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["vec_id"], []).append((r["rank"], r["cos"]))
    for q, rs in by_q.items():
        rs.sort()
        assert [x[0] for x in rs] == [1, 2, 3]
        assert rs[0][1] >= rs[1][1] >= rs[2][1]


def test_lsh_topk_recall(emb, np_corpus):
    ids, mat = np_corpus
    expected = _np_top1(ids, mat)
    got = {r["vec_id"]: r["neighbor_id"]
           for r in similarity.lsh_topk(emb, k=1).collect()}
    hits = sum(1 for q, n in got.items() if expected.get(q) == n)
    recall = hits / len(expected)
    assert recall >= 0.5  # approximate path: coverage bound, not exactness
    assert len(got) >= 0.8 * len(expected)  # most queries get a candidate


def test_int_scorer_exact_at_max_partial_sums():
    """The scorer's float64 (BLAS) matmul must return the EXACT integer
    dot products and squared norms: dim 4096 with codes at ±127 puts
    every partial sum at its largest magnitude (≤ dim·127²). Compared
    against a pure-Python integer reference, pair by pair. One probe is
    all-127 but for a single 126, so its dot with the all-127 member is
    an odd 26-bit integer — a narrower float type would round it."""
    import pandas as pd

    dim = 4096
    rng = np.random.RandomState(5)
    odd = np.full(dim, 127, np.int8)
    odd[0] = 126
    codes = [np.full(dim, 127, np.int8), np.full(dim, -127, np.int8)]
    codes += [(rng.choice([-127, 127], dim)).astype(np.int8)
              for _ in range(4)]
    codes += [rng.randint(-127, 128, dim).astype(np.int8), odd]
    ids = list(range(len(codes)))
    probe = [0, 1, 0, 1, 0, 1, 1, 1]
    pdf = pd.DataFrame({"vec_id": ids, "code": [c.tobytes() for c in codes],
                        "probe": probe})
    out = similarity._score_group_int_fn("vec_id")(pdf)
    ints = [[int(x) for x in c] for c in codes]
    expected = {(q, m): (sum(a * b for a, b in zip(ints[q], ints[m])),
                         sum(b * b for b in ints[m]))
                for q in ids if probe[q] for m in ids if not probe[m]}
    got = {(int(r.vec_id), int(r.neighbor_id)): (int(r.dot), int(r.nb2))
           for r in out.itertuples()}
    assert got == expected
    assert max(abs(d) for d, _ in expected.values()) == dim * 127 * 127


def test_ivf_topk_recall(emb, np_corpus):
    ids, mat = np_corpus
    expected = _np_top1(ids, mat)
    got = {r["vec_id"]: r["neighbor_id"]
           for r in similarity.ivf_topk(emb, k=1, nprobe=4).collect()}
    hits = sum(1 for q, n in got.items() if expected.get(q) == n)
    assert hits / len(expected) >= 0.6
    assert len(got) == len(expected)  # every query probed >=1 nonempty cell


def test_kmeans_deterministic():
    import numpy as np

    rng = np.random.RandomState(3)
    mat = rng.standard_normal((200, 16))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    c1 = similarity.kmeans_np(mat, 8)
    c2 = similarity.kmeans_np(mat, 8)
    assert (c1 == c2).all()


def test_pairs_above_symmetric_free(emb):
    pairs = similarity.pairs_above(emb, threshold=0.5).collect()
    for r in pairs:
        assert r["id_a"] < r["id_b"]


def test_fast_paths_decision_equal_declarative(emb):
    """The numpy-matmul implementations must make the same decisions as the
    declarative (Catalyst-visible, DuckDB-matched) twins."""
    decl = {(r[0], r[1]) for r in
            similarity.pairs_above(emb, threshold=0.5).collect()}
    fast = {(r[0], r[1]) for r in
            similarity.pairs_above_fast(emb, threshold=0.5).collect()}
    assert decl == fast


def test_decision_margins_are_wide(emb, np_corpus):
    """The gate compares BLAS-matmul cosines against DuckDB's sequential
    folds; decision equality is safe only if no graded value sits within
    float noise of a decision boundary. Assert margins ≥ 1e-9 at the 0.8
    pair threshold and at top-1/top-2 gaps (exact ties are fine — both
    engines break them on the smaller id)."""
    ids, mat = np_corpus
    sims = mat @ mat.T
    np.fill_diagonal(sims, -np.inf)
    # threshold margin (matches dedup_embedding's 0.8 gate)
    finite = sims[np.isfinite(sims)]
    assert np.abs(finite - 0.8).min() > 1e-9
    # top-1 vs top-2 gap per query
    part = np.sort(sims, axis=1)
    gaps = part[:, -1] - part[:, -2]
    assert ((gaps == 0) | (gaps > 1e-9)).all()


def test_ivf_results_stable_across_partitioning(emb):
    """ADVICE r01: limit() without ordering made the IVF quantizer depend
    on partition layout. Pin the fix: identical neighbors from identical
    data under different partitionings."""
    a = {(r["vec_id"], r["neighbor_id"]) for r in
         similarity.ivf_topk(emb, k=1, nprobe=4).collect()}
    b = {(r["vec_id"], r["neighbor_id"]) for r in
         similarity.ivf_topk(emb.repartition(13), k=1, nprobe=4).collect()}
    assert a == b


def test_hot_bucket_guard_bounds_adversarial_input(spark):
    """10^6 identical embeddings in one LSH bucket would be quadratic;
    with the member cap every query still gets its neighbor and the
    within-bucket work stays |group|·cap."""
    base = [0.3, -0.7, 0.64, 0.11]
    rows = [(i, base) for i in range(3000)]          # all collide
    rows += [(100000 + i, [float(i + 1), 0.5, -0.2, 0.9])
             for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["neighbor_id"] for r in
           similarity.lsh_topk(df, k=1, max_group=64).collect()}
    # every clone finds another clone (cos 1.0) despite the cap
    clone_hits = sum(1 for i in range(3000)
                     if got.get(i) is not None and got[i] < 3000)
    assert clone_hits >= 2900
    got_ivf = {r["vec_id"]: r["neighbor_id"] for r in
               similarity.ivf_topk(df, k=1, max_group=64).collect()}
    assert sum(1 for i in range(3000)
               if got_ivf.get(i) is not None and got_ivf[i] < 3000) >= 2900


def test_scorer_group_inputs_bounded_before_materialization(spark):
    """r3 verdict #1: the member cap must act BEFORE the applyInPandas
    shuffle — applyInPandas materializes the WHOLE group as one pandas
    frame, so the bound has to hold on the scorer's INPUT rows. 120k rows
    on one degenerate key: assert every (key, salt) group carries at most
    max_group member rows and ~salt_target probe rows."""
    from pyspark.sql import functions as F

    n, cap, tgt = 120_000, 64, 512
    post = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.lit(0).alias("table"), F.lit(0).alias("bucket"),
        F.lit(b"\x7f\x00\x01\x02").alias("code"))
    g = similarity._bounded_groups(post, post, ["table", "bucket"],
                                   "vec_id", max_group=cap, salt_target=tgt)
    counts = (g.groupBy("table", "bucket", "salt", "probe").count()
              .collect())
    mem_max = max(r["count"] for r in counts if r["probe"] == 0)
    probe_max = max(r["count"] for r in counts if r["probe"] == 1)
    n_salts = len({r["salt"] for r in counts})
    assert mem_max <= cap
    # xxhash64 salting is uniform, not exact — allow 2x headroom
    assert probe_max <= 2 * tgt
    assert n_salts == -(-n // tgt)
    # every probe row lands in exactly one salt (pairs emitted once)
    assert sum(r["count"] for r in counts if r["probe"] == 1) == n


def test_hot_bucket_guard_end_to_end_100k_clones(spark):
    """The r3 verdict's done-bar: 10^5+ identical embeddings through the
    REAL lsh_topk — every clone still finds a clone neighbor (cos 1.0
    against the capped pool) and no group ever held the whole class."""
    from pyspark.sql import functions as F

    vec = F.array(*[F.lit(x) for x in (0.3, -0.7, 0.64, 0.11)])
    df = spark.range(100_000).select(
        F.col("id").alias("vec_id"),
        vec.cast("array<float>").alias("embedding"))
    got = similarity.lsh_topk(df, k=1, max_group=64).collect()
    assert len(got) == 100_000
    hits = sum(1 for r in got if r["neighbor_id"] < 64)
    # capped member pool = 64 smallest ids; every query matches one
    assert hits == 100_000


def test_zero_norm_embeddings_never_match(spark):
    """A zero vector must never pass a positive cosine threshold or win a
    top-1 slot via NaN (NaN compares greater than any double in SQL)."""
    rows = [(1, [0.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0]),
            (3, [1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in
             similarity.pairs_above_fast(df, threshold=0.5).collect()}
    assert pairs == {(2, 3)}
    top = {r["vec_id"]: r["neighbor_id"] for r in
           similarity.brute_force_topk(df, k=1).collect()}
    assert top[2] == 3 and top[3] == 2
    assert top.get(1) in (2, 3)  # zero vec gets cos 0.0 everywhere → id tie


def test_quantize_roundtrip_error_bound(spark):
    import numpy as np

    rng = np.random.RandomState(9)
    vecs = rng.standard_normal((50, 16)).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    rows.append((99, [0.0] * 16))  # zero vector → all-zero codes
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in
           similarity.quantize_embeddings(df).collect()}
    assert out[99]["scale_u"] == 0
    assert set(out[99]["q_csv"].split(",")) == {"0"}
    for i, v in enumerate(vecs):
        scale = out[i]["scale_u"] / 1e6
        q = np.array([int(x) for x in out[i]["q_csv"].split(",")])
        assert q.min() >= -128 and q.max() <= 127
        recon = q * (np.abs(v.astype(np.float64)).max()) / 127
        # floor quantization: one-sided error within one step
        assert np.abs(recon - v).max() <= np.abs(v).max() / 127 + 1e-9
        assert abs(scale - np.abs(v.astype(np.float64)).max()) < 2e-6


def test_ivf_sample_cap_is_dim_aware():
    """r4 ADVICE: the training sample must shrink with dim so
    rows·dim·8 stays ≤ SAMPLE_MAX_BYTES (and never below n_cells)."""
    cap = similarity.SAMPLE_MAX_BYTES
    assert similarity._bounded_sample_rows(100_000, 64, 16) == 100_000
    hi = similarity._bounded_sample_rows(100_000, 4096, 16)
    assert hi * 4096 * 8 <= cap
    assert hi < 100_000
    # floor: k-means still gets one row per centroid
    assert similarity._bounded_sample_rows(100_000, 1 << 30, 16) == 16


def test_ivf_index_save_load_roundtrip(spark, emb, tmp_path):
    """Cross-job build-once/query-many: a saved+reloaded index answers
    queries identically to the in-memory one it was built from."""
    index = similarity.ivf_build(emb, n_cells=16, iters=0, init="by_id")
    fresh = {(r["vec_id"], r["neighbor_id"]) for r in
             similarity.ivf_query(index, emb, k=1, nprobe=4).collect()}
    similarity.ivf_save(index, str(tmp_path / "idx"))
    index.posted.unpersist()
    loaded = similarity.ivf_load(spark, str(tmp_path / "idx"))
    again = {(r["vec_id"], r["neighbor_id"]) for r in
             similarity.ivf_query(loaded, emb, k=1, nprobe=4).collect()}
    loaded.posted.unpersist()
    assert fresh == again and len(fresh) > 0


def test_ivf_load_detects_interrupted_save(spark, emb, tmp_path):
    """The IVF save follows the same nonce → data → meta protocol as the
    MinHash one: a save that got only as far as its nonce write (fresh
    nonce, stale meta) must not load."""
    import pytest

    from data_quality_check_spark import io as dq_io

    path = str(tmp_path / "idx")
    index = similarity.ivf_build(emb, n_cells=16, iters=0, init="by_id")
    similarity.ivf_save(index, path)
    index.posted.unpersist()
    similarity.ivf_load(spark, path).posted.unpersist()
    dq_io.write_index_nonce(spark, path)
    with pytest.raises(ValueError, match="interrupted save"):
        similarity.ivf_load(spark, path)


def test_ivf_load_reads_postings_saved_with_scale(spark, emb, tmp_path):
    """Postings once carried a per-row `scale` double (max |x|) next to
    the int8 code. An index saved in that format must load to the
    (id, cell, code) posting table and answer queries identically."""
    import os
    import shutil

    from pyspark.sql import functions as F

    index = similarity.ivf_build(emb, n_cells=16, iters=0, init="by_id")
    fresh = {(r["vec_id"], r["neighbor_id"]) for r in
             similarity.ivf_query(index, emb, k=1, nprobe=4).collect()}
    path = str(tmp_path / "idx")
    similarity.ivf_save(index, path)
    index.posted.unpersist()
    posting = os.path.join(path, "posting")
    scale = emb.select(
        "vec_id", F.array_max(F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.abs(x))).alias("scale"))
    (spark.read.parquet(posting).join(scale, "vec_id")
     .select("vec_id", "cell", "code", "scale")
     .write.parquet(posting + "_with_scale"))
    shutil.rmtree(posting)
    os.rename(posting + "_with_scale", posting)
    assert "scale" in spark.read.parquet(posting).columns
    loaded = similarity.ivf_load(spark, path)
    assert loaded.posted.columns == ["vec_id", "cell", "code"]
    again = {(r["vec_id"], r["neighbor_id"]) for r in
             similarity.ivf_query(loaded, emb, k=1, nprobe=4).collect()}
    loaded.posted.unpersist()
    assert fresh == again and len(fresh) > 0


def test_ivf_save_bucketed_zero_exchange_member_side(spark, emb,
                                                     tmp_path):
    """A cell-bucketed ivf_save must feed the member-rank window (the
    first cell-keyed consumer in ivf_query) with NO exchange — the scan
    arrives pre-partitioned on cell. Results stay identical to the
    unbucketed form."""
    from pyspark.sql import Window, functions as F

    index = similarity.ivf_build(emb, n_cells=16, iters=0, init="by_id")
    fresh = {(r["vec_id"], r["neighbor_id"]) for r in
             similarity.ivf_query(index, emb, k=1, nprobe=4).collect()}
    similarity.ivf_save(index, str(tmp_path / "bidx"), buckets=8)
    index.posted.unpersist()
    loaded = similarity.ivf_load(spark, str(tmp_path / "bidx"))

    w = Window.partitionBy("cell").orderBy("vec_id")
    ranked = (spark.read.table(
        spark.read.json(str(tmp_path / "bidx" / "meta")).first()["table"])
        .withColumn("_rk", F.row_number().over(w)))
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "Exchange hashpartitioning" not in plan

    again = {(r["vec_id"], r["neighbor_id"]) for r in
             similarity.ivf_query(loaded, emb, k=1, nprobe=4).collect()}
    loaded.posted.unpersist()
    assert fresh == again and len(fresh) > 0


def test_ivf_index_build_once_query_many(emb, np_corpus):
    """The index API: one build serves multiple query sets without
    retraining the quantizer or re-posting the corpus."""
    ids, mat = np_corpus
    expected = _np_top1(ids, mat)
    index = similarity.ivf_build(emb)
    full = {r["vec_id"]: r["neighbor_id"] for r in
            similarity.ivf_query(index, emb, k=1, nprobe=4).collect()}
    assert sum(1 for q, n in full.items()
               if expected.get(q) == n) / len(expected) >= 0.6
    # a SUBSET query set against the same index: results agree per query
    sub = emb.filter("vec_id % 10 = 0")
    part = {r["vec_id"]: r["neighbor_id"] for r in
            similarity.ivf_query(index, sub, k=1, nprobe=4).collect()}
    assert part == {q: n for q, n in full.items() if q % 10 == 0}
    index.posted.unpersist()


def test_ivf_topk_selfquery_equals_build_then_query(emb):
    """The r6 single-posting-pass self-query (ivf_topk) must produce the
    exact rows of the two-pass ivf_build + ivf_query composition
    (posting = rank-0 slice of the probe table; argsort is stable, so the
    slices are identical by construction — pinned here)."""
    one = {tuple(r) for r in similarity.ivf_topk(
        emb, k=3, n_cells=8, nprobe=3, iters=0, init="by_id").collect()}
    index = similarity.ivf_build(emb, n_cells=8, iters=0, init="by_id")
    two = {tuple(r) for r in similarity.ivf_query(
        index, emb, k=3, nprobe=3).collect()}
    index.posted.unpersist()
    assert one == two
