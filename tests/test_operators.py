"""Operator-level unit tests: ANN recall, ranking invariants, dedup
behavior, checksum order-insensitivity, data expansion."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from vectordb_testbricks_spark.functions.vector import to_double_array


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"].df


@pytest.fixture(scope="module")
def queries3(emb):
    return (emb.filter(F.col("vec_id").isin([0, 1, 2]))
            .select(F.col("vec_id").alias("query_id"),
                    to_double_array(F.col("embedding")).alias("qvec")))


def test_ivf_recall_vs_brute_force(emb, queries3):
    """IVF@nprobe=8/16 lists must reach ≥ 0.8 recall@10 against the exact
    ranking (the reference's nprobe knob trades recall for scan fraction)."""
    from vectordb_testbricks_spark.operators.ann_index import (
        build_ivf, ivf_search)
    from vectordb_testbricks_spark.operators.search import knn_search

    exact = knn_search(emb, queries3, "embedding", "vec_id",
                       metric="COSINE", k=10)
    model = build_ivf(emb, "embedding", "vec_id", n_lists=16, seed=7)
    approx = ivf_search(model, queries3, k=10, nprobe=8)

    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"recall {recall}"


def test_ivf_full_probe_equals_exact(emb, queries3):
    """nprobe = n_lists ⇒ nothing pruned ⇒ identical to brute force."""
    from vectordb_testbricks_spark.operators.ann_index import (
        build_ivf, ivf_search)
    from vectordb_testbricks_spark.operators.search import knn_search

    exact = [(r["query_id"], r["vec_id"]) for r in
             knn_search(emb, queries3, "embedding", "vec_id",
                        metric="COSINE", k=5).collect()]
    model = build_ivf(emb, "embedding", "vec_id", n_lists=8, seed=7)
    approx = [(r["query_id"], r["vec_id"]) for r in
              ivf_search(model, queries3, k=5, nprobe=8).collect()]
    assert sorted(exact) == sorted(approx)


def test_ivf_sq8_recall_vs_brute_force(emb, queries3):
    """SQ8 quantized probe + exact rescore must reach ≥ 0.9 recall@10 —
    quantization error only matters for candidates near the rerank_k
    boundary because the final ordering is exact-rescored."""
    from vectordb_testbricks_spark.operators.ann_index import (
        build_ivf_sq8, ivf_search)
    from vectordb_testbricks_spark.operators.search import knn_search

    exact = knn_search(emb, queries3, "embedding", "vec_id",
                       metric="COSINE", k=10)
    model = build_ivf_sq8(emb, "embedding", "vec_id", n_lists=16, seed=7)
    approx = ivf_search(model, queries3, k=10, nprobe=8)

    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"recall {recall}"


def test_ivf_sq8_full_probe_full_rerank_equals_exact(emb, queries3):
    """nprobe = n_lists and rerank_k ≥ corpus ⇒ every row is exact-rescored
    ⇒ identical to brute force (quantization drops out entirely)."""
    from vectordb_testbricks_spark.operators.ann_index import (
        build_ivf_sq8, ivf_search)
    from vectordb_testbricks_spark.operators.search import knn_search

    n = emb.count()
    exact = [(r["query_id"], r["vec_id"]) for r in
             knn_search(emb, queries3, "embedding", "vec_id",
                        metric="COSINE", k=5).collect()]
    model = build_ivf_sq8(emb, "embedding", "vec_id", n_lists=8, seed=7)
    approx = [(r["query_id"], r["vec_id"]) for r in
              ivf_search(model, queries3, k=5, nprobe=8,
                         rerank_k=n).collect()]
    assert sorted(exact) == sorted(approx)
    # quantized lists are normalized: an L2 ranking is refused, not faked
    with pytest.raises(ValueError, match="serve COSINE"):
        ivf_search(model, queries3, k=5, metric="L2")


def test_ivf_sq8_stores_one_byte_elements(emb):
    """The quantized column must be array<tinyint> — the 4× scan-size
    reduction vs float32 is the whole point of SQ8 at scale."""
    from pyspark.sql import types as T

    from vectordb_testbricks_spark.operators.ann_index import build_ivf_sq8

    model = build_ivf_sq8(emb, "embedding", "vec_id", n_lists=4, seed=7)
    field = dict(model.assigned.dtypes)["_q8"]
    assert field == "array<tinyint>", field
    row = model.assigned.select("_q8").first()
    assert isinstance(model.assigned.schema["_q8"].dataType.elementType,
                      T.ByteType)
    assert all(-128 <= v <= 127 for v in row["_q8"])


def test_ivf_assignment_jvm_and_pandas_paths_agree(emb, spark):
    """The fixture's dim-64 vectors are deeper than the unrolled JVM shape
    takes, so with_centroid_id assigns them through the Arrow/BLAS UDF:
    every row must land on its nearest centroid by a direct numpy
    ‖x − c‖² argmin."""
    import numpy as np

    from vectordb_testbricks_spark.operators.ann_index import (
        _JVM_UNROLL_MAX_DIM, _train_centroids, with_centroid_id)
    from vectordb_testbricks_spark.functions.vector import to_double_array

    rows = emb.select("embedding").limit(200).collect()
    sample = np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64)
    cent = _train_centroids(sample, 8, seed=7, max_iter=5)
    assert cent.shape[1] > _JVM_UNROLL_MAX_DIM
    base = emb.select("vec_id", to_double_array(F.col("embedding")).alias("v"))
    got = with_centroid_id(base, "v", cent).collect()
    x = np.asarray([r["v"] for r in got], dtype=np.float64)
    want = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(2).argmin(1)
    assert [r["centroid_id"] for r in got] == want.tolist()


def test_ivf_assignment_unrolled_path_agrees(emb, spark):
    """The dim≤32 unrolled straight-line shape (with_centroid_id's
    two-step scalar projection) must route every row to the same centroid
    as the Arrow/BLAS shape. The embeddings fixture is dim 64 — which
    dispatches to the Arrow/BLAS UDF — so this trims to 16 dims to pin the
    unrolled shape the 1M bench entries rely on."""
    import numpy as np

    from vectordb_testbricks_spark.operators.ann_index import (
        _JVM_UNROLL_MAX_DIM, _assign_expr_pandas, _train_centroids,
        with_centroid_id)
    from vectordb_testbricks_spark.functions.vector import to_double_array

    dim = 16
    assert dim <= _JVM_UNROLL_MAX_DIM
    base = emb.select(
        "vec_id",
        F.slice(to_double_array(F.col("embedding")), 1, dim).alias("v"))
    rows = base.select("v").limit(200).collect()
    sample = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
    cent = _train_centroids(sample, 8, seed=7, max_iter=5)
    both = base.select(
        "vec_id", _assign_expr_pandas("v", cent, spark).alias("arrow"))
    two_step = with_centroid_id(base, "v", cent)
    assert "_cd_x0" not in two_step.columns  # temp projections dropped
    joined = two_step.join(
        both.select("vec_id", "arrow"), "vec_id")
    assert joined.filter(
        F.col("centroid_id") != F.col("arrow")).count() == 0
    # temp-name collision guard: a caller column named like a temp
    # projection must survive with its values intact (the suffix probe
    # keeps the drop from taking the caller's column)
    clash = base.withColumn("_cd_x0", F.lit(99))
    out = with_centroid_id(clash, "v", cent)
    assert "_cd_x0" in out.columns
    assert out.filter(F.col("_cd_x0") != 99).count() == 0
    assert out.columns.count("_cd_x0") == 1


def test_binary_rerank_driver_packing_matches_pack_sign_bits(emb, spark):
    """binary_rerank_search packs the query driver-side in Python; the bits
    must equal pack_sign_bits of the same vector — a mismatch would silently
    degrade the hamming candidate ranking (exact rescore hides it)."""
    from vectordb_testbricks_spark.functions.vector import (
        pack_sign_bits, to_double_array)

    row = emb.select(to_double_array(F.col("embedding")).alias("v")).first()
    qv = [float(x) for x in row["v"]]
    spark_words = spark.createDataFrame([(qv,)], "v array<double>") \
        .select(pack_sign_bits(F.col("v")).alias("w")).first()["w"]
    # replicate the driver-side packing from binary_rerank_search
    words = []
    for w in range((len(qv) + 31) // 32):
        acc = 0
        for x in reversed(qv[w * 32: w * 32 + 32]):
            acc = acc * 2 + (1 if x >= 0 else 0)
        words.append(acc)
    assert words == list(spark_words)


def test_binary_rerank_recall_and_full_rerank_identity(emb, queries3):
    """1-bit hamming candidates + exact rescore: decent recall at
    rerank_k=8k, and rerank_k ≥ corpus ⇒ identical to brute force."""
    from vectordb_testbricks_spark.operators.ann_index import (
        binary_rerank_search)
    from vectordb_testbricks_spark.operators.search import knn_search

    exact = knn_search(emb, queries3, "embedding", "vec_id",
                       metric="COSINE", k=10)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}

    approx = binary_rerank_search(emb, queries3, "embedding", "vec_id", k=10)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"recall {recall}"

    n = emb.count()
    full = binary_rerank_search(emb, queries3, "embedding", "vec_id",
                                k=10, rerank_k=n)
    f = {(r["query_id"], r["vec_id"]) for r in full.collect()}
    assert f == e


def test_bin_ivf_recall_and_full_probe_identity(emb, queries3):
    """BIN_IVF: nprobe-pruned packed-hamming candidates + exact rescore.
    Full probe + full rerank must equal brute force; pruned probe keeps
    decent recall."""
    from vectordb_testbricks_spark.operators.ann_index import (
        build_bin_ivf, ivf_search)
    from vectordb_testbricks_spark.operators.search import knn_search

    exact = knn_search(emb, queries3, "embedding", "vec_id",
                       metric="COSINE", k=10)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}

    model = build_bin_ivf(emb, "embedding", "vec_id", n_lists=8, seed=7)
    approx = ivf_search(model, queries3, k=10, nprobe=4)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"recall {recall}"

    n = emb.count()
    full = ivf_search(model, queries3, k=10, nprobe=8, rerank_k=n)
    f = {(r["query_id"], r["vec_id"]) for r in full.collect()}
    assert f == e


def test_persisted_bin_ivf_probe_prunes_partitions(spark, tables, tmp_path,
                                                   queries3):
    """write_ivf partitions bin lists by centroid_id; the probe on the
    layout reopened from its path must prune at file-listing time, like
    the flat/SQ8 persisted paths."""
    from vectordb_testbricks_spark.operators.ann_index import (
        build_bin_ivf, ivf_search, read_ivf, write_ivf)
    emb = tables["embeddings"].df
    model = build_bin_ivf(emb, "embedding", "vec_id", n_lists=4, seed=7)
    path = str(tmp_path / "binivf")
    write_ivf(model, path)
    reloaded = read_ivf(spark, path, "embedding", "vec_id", base=emb)
    assert reloaded.encoding == "bin"
    hits = ivf_search(reloaded, queries3, k=5, nprobe=2)
    assert hits.filter("rank = 1").count() == 3
    plan = hits._jdf.queryExecution().executedPlan().toString()
    # the packed-list scan is the one whose PartitionFilters hit centroid_id
    # (the float rescore scan has PartitionFilters: [])
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert any("centroid_id" in s.split("PartitionFilters")[1][:200]
               for s in scans if "PartitionFilters" in s)


def test_topk_plans_as_partial_window_group_limit(emb, queries3):
    """The rank<=k filter must plan as Catalyst's two-phase WindowGroupLimit:
    a Partial group-limit on the map side (each partition forwards ≤ k rows
    per query into the exchange) and a Final one after it — the declarative
    replacement for the old hand-rolled spark_partition_id() local window."""
    from vectordb_testbricks_spark.operators.search import knn_search

    df = knn_search(emb, queries3, "embedding", "vec_id", metric="L2", k=7)
    p = df._jdf.queryExecution().executedPlan().toString()
    # per-line: Partial/Final must qualify the WindowGroupLimit node itself,
    # not appear on unrelated nodes elsewhere in the plan
    wgl = [l for l in p.splitlines() if "WindowGroupLimit" in l]
    assert any("Partial" in l for l in wgl), p
    assert any("Final" in l for l in wgl), p
    assert df.count() == 21  # 3 queries × k=7, semantics intact


def test_drop_query_terms_semantics():
    """drop_ratio_search drops the lowest-|weight| floor(n*ratio) query
    dims, ties broken by key; ratio 0 is identity."""
    from vectordb_testbricks_spark.operators.search import drop_query_terms
    m = {"a": 2.0, "b": 1.5, "c": 0.3, "d": 1.0, "e": 0.2}
    assert drop_query_terms(m, 0.0) == m
    assert sorted(drop_query_terms(m, 0.4)) == ["a", "b", "d"]
    assert sorted(drop_query_terms(m, 0.9)) == ["a"]  # floor(5*0.9)=4 dropped
    # tie on |weight| → key order decides deterministically
    t = {"x": 1.0, "y": 1.0, "z": 2.0}
    assert sorted(drop_query_terms(t, 0.34)) == ["y", "z"]


def _sparse_corpus(spark, n=2000, vocab=60, seed=11):
    import random
    rnd = random.Random(seed)
    rows = [(i, {f"t{rnd.randrange(vocab)}": round(rnd.uniform(-1, 3), 2)
                 for _ in range(rnd.randrange(1, 9))}) for i in range(n)]
    return spark.createDataFrame(rows, "id long, svec map<string,double>")


_SPARSE_TEST_QS = [{"t1": 2.0, "t7": 1.5, "t33": 1.0},
                   {"t2": 0.5, "t9": -1.0, "t11": 3.0}]


def _sparse_hits(df):
    """Comparable hit tuples with the score rounded to 6 decimals: the
    postings path sums a doc's matched weights in shuffle-partial merge
    order (split across bucket partitions) while the map scan folds them
    sequentially in key order, so the two sums agree only up to IEEE
    association — exact float equality would be a latent cross-version
    flake."""
    return sorted((r["query_id"], r["id"], round(r["score"], 6), r["rank"])
                  for r in df.select("query_id", "id", "score",
                                     "rank").collect())


def test_sparse_postings_search_equals_brute_force(spark):
    """SPARSE_INVERTED_INDEX identity (schema_matrix_2_6.yaml:63,80): the
    postings path is a physical layout, not an approximation — same hits,
    same scores, same ranks as the map-scan brute force, including
    negative weights and the score>0 cut."""
    from vectordb_testbricks_spark.operators.search import (
        sparse_postings, sparse_search_many, sparse_search_postings_many)
    base = _sparse_corpus(spark)
    bf = sparse_search_many(base, _SPARSE_TEST_QS, "svec", "id", k=10)
    inv = sparse_search_postings_many(
        sparse_postings(base, "svec", "id"), _SPARSE_TEST_QS, "id", k=10)
    assert _sparse_hits(bf) == _sparse_hits(inv)


def test_sparse_postings_identity_randomized(spark):
    """Seeded randomized identity sweep for the postings tier. Weights
    are multiples of 0.25 — binary fractions whose double sums are EXACT
    in any association order — so brute force and postings must agree to
    the last bit (no tolerance needed) across corpora with empty maps,
    negative weights, exact cancellations (both paths apply the same
    score > 0 cut to a true 0.0), query keys absent from every doc, and
    queries pruned by drop_ratio_search."""
    import random
    from vectordb_testbricks_spark.operators.search import (
        sparse_postings, sparse_search_many, sparse_search_postings_many)
    for seed in (11, 29):
        rnd = random.Random(seed)
        rows = []
        for i in range(300):
            nnz = rnd.randrange(0, 7)        # 0 → empty map: no postings
            rows.append((i, {f"k{rnd.randrange(40)}":
                             rnd.randrange(-8, 9) * 0.25
                             for _ in range(nnz)}))
        base = spark.createDataFrame(rows, "id long, svec map<string,double>")
        # key space k0..k44: k40..k44 appear in queries but in no doc
        qs = [{f"k{rnd.randrange(45)}": rnd.randrange(-8, 9) * 0.25
               for _ in range(rnd.randrange(1, 5))} for _ in range(3)]
        posts = sparse_postings(base, "svec", "id")
        for ratio in (0.0, 0.5):
            bf = sparse_search_many(base, qs, "svec", "id", k=12,
                                    drop_ratio_search=ratio)
            inv = sparse_search_postings_many(posts, qs, "id", k=12,
                                              drop_ratio_search=ratio)
            assert sorted(map(tuple, bf.select("query_id", "id", "score",
                                               "rank").collect())) == \
                   sorted(map(tuple, inv.select("query_id", "id", "score",
                                                "rank").collect())), \
                (seed, ratio)


def test_sparse_inverted_persisted_identity_and_drop_ratio(spark, tmp_path):
    """Persisted round-trip (write → read → search) stays exact, and
    drop_ratio_search prunes the same query dims as the brute-force path
    (shared drop_query_terms)."""
    from vectordb_testbricks_spark.operators.ann_index import (
        build_sparse_inverted, read_sparse_inverted, sparse_inverted_search,
        write_sparse_inverted)
    from vectordb_testbricks_spark.operators.search import sparse_search_many
    base = _sparse_corpus(spark)
    model = build_sparse_inverted(base, "svec", "id", n_buckets=16)
    path = str(tmp_path / "sparseinv")
    write_sparse_inverted(model, path)
    reloaded = read_sparse_inverted(spark, path)
    for ratio in (0.0, 0.4):
        bf = sparse_search_many(base, _SPARSE_TEST_QS, "svec", "id", k=10,
                                drop_ratio_search=ratio)
        pv = sparse_inverted_search(reloaded, _SPARSE_TEST_QS, k=10,
                                    drop_ratio_search=ratio)
        assert _sparse_hits(bf) == _sparse_hits(pv), ratio


def test_sparse_inverted_int_keys_bucket_parity(spark, tmp_path):
    """SPARSE_FLOAT_VECTOR is map<int,float> in the schema registry; the
    driver-side crc32 bucket must agree with the write-side expression for
    integer keys too, or partition pruning would silently drop postings."""
    from vectordb_testbricks_spark.operators.ann_index import (
        build_sparse_inverted, read_sparse_inverted, sparse_inverted_search,
        write_sparse_inverted)
    from vectordb_testbricks_spark.operators.search import sparse_search_many
    import random
    rnd = random.Random(5)
    rows = [(i, {rnd.randrange(200): round(rnd.uniform(0.1, 2.0), 2)
                 for _ in range(rnd.randrange(1, 6))}) for i in range(800)]
    base = spark.createDataFrame(rows, "id long, svec map<int,double>")
    qs = [{3: 1.0, 77: 2.0, 150: 0.5}]
    model = build_sparse_inverted(base, "svec", "id", n_buckets=8)
    path = str(tmp_path / "sparseint")
    write_sparse_inverted(model, path)
    pv = sparse_inverted_search(read_sparse_inverted(spark, path), qs, k=10)
    bf = sparse_search_many(base, qs, "svec", "id", k=10)
    assert _sparse_hits(bf) == _sparse_hits(pv)


def test_sparse_inverted_scan_prunes_buckets_and_pushes_keys(spark,
                                                             tmp_path):
    """The scale claim, plan-asserted: the persisted postings scan carries
    the query keys as a pushed In() filter AND prunes bucket partition
    dirs; the map column never appears in any scan (no full-corpus map
    traversal per query batch — the r06 'weak at 100×' item)."""
    from vectordb_testbricks_spark.operators.ann_index import (
        build_sparse_inverted, read_sparse_inverted, sparse_inverted_search,
        write_sparse_inverted)
    base = _sparse_corpus(spark)
    model = build_sparse_inverted(base, "svec", "id", n_buckets=16)
    path = str(tmp_path / "sparseplan")
    write_sparse_inverted(model, path)
    hits = sparse_inverted_search(read_sparse_inverted(spark, path),
                                  _SPARSE_TEST_QS, k=10)
    assert hits.count() == 20
    plan = hits._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert scans, plan
    assert any("PushedFilters" in s and "In(key" in s for s in scans), plan
    assert any("PartitionFilters" in s
               and "_bucket" in s.split("PartitionFilters")[1][:200]
               for s in scans), plan
    assert "svec" not in plan, plan


def test_sparse_index_spec_dispatch(spark):
    """SPARSE_INVERTED_INDEX through the declared-IndexSpec surface
    (build_from_index_spec + AnnIndex.search over (query_id, qmap) rows)
    returns the brute-force hits; non-IP metrics are rejected loudly."""
    import pytest as _pytest
    from vectordb_testbricks_spark.operators.ann_index import (
        build_from_index_spec)
    from vectordb_testbricks_spark.operators.search import sparse_search_many
    from vectordb_testbricks_spark.schema import IndexSpec
    base = _sparse_corpus(spark)
    idx = build_from_index_spec(
        base, "id", IndexSpec("svec", "SPARSE_INVERTED_INDEX",
                              metric_type="IP", params={"n_buckets": 8}))
    qdf = spark.createDataFrame(
        [(i, m) for i, m in enumerate(_SPARSE_TEST_QS)],
        "query_id int, qmap map<string,double>")
    got = idx.search(qdf, k=10)
    bf = sparse_search_many(base, _SPARSE_TEST_QS, "svec", "id", k=10)
    assert _sparse_hits(bf) == _sparse_hits(got)
    # non-positional query ids (a slice of a larger batch) must come back
    # under the CALLER's ids, not renumbered 0..nq-1 (review r07 #1)
    qdf2 = spark.createDataFrame(
        [(5, _SPARSE_TEST_QS[0]), (9, _SPARSE_TEST_QS[1])],
        "query_id int, qmap map<string,double>")
    got2 = idx.search(qdf2, k=10)
    remap = {0: 5, 1: 9}
    assert sorted((remap[q], i, s, r)
                  for q, i, s, r in _sparse_hits(bf)) == _sparse_hits(got2)
    with _pytest.raises(ValueError, match="SPARSE_INVERTED_INDEX"):
        build_from_index_spec(base, "id",
                              IndexSpec("svec", "SPARSE_INVERTED_INDEX",
                                        metric_type="L2"))


def test_pattern_grams_literal_runs():
    from vectordb_testbricks_spark.operators.ngram_index import pattern_grams
    assert pattern_grams("%stream%", 3) == sorted(
        {"str", "tre", "rea", "eam"})
    # only '%' is a wildcard (Milvus LIKE); '_' is a literal character and
    # participates in the run's grams
    assert pattern_grams("%ab_streams%", 3) == sorted(
        {"ab_", "b_s", "_st", "str", "tre", "rea", "eam", "ams"})
    # '%' still splits runs; the longest literal run wins
    assert pattern_grams("%ab%streams%", 3) == sorted(
        {"str", "tre", "rea", "eam", "ams"})
    assert pattern_grams("%ab%", 3) == []  # no run >= n → fallback


def test_like_with_index_matches_plain_filter(tables):
    """The NGRAM-index path must be bit-identical to the unindexed LIKE
    filter (the index only prunes; exact verify restores semantics),
    including the short-literal fallback."""
    from vectordb_testbricks_spark.operators.ngram_index import (
        build_ngram_index, like_with_index)
    docs = tables["documents"].df
    posting = build_ngram_index(docs, "doc_id", "text", 3, 3)
    for pat in ["%stream spark%", "%vector dup%", "%sp%", "no_match_xyz%"]:
        want = sorted(r["doc_id"] for r in
                      docs.filter(F.col("text").like(pat)).collect())
        got = sorted(r["doc_id"] for r in
                     like_with_index(docs, posting, pat,
                                     "doc_id", "text").collect())
        assert got == want, pat


def test_result_shape_check(emb, queries3):
    from vectordb_testbricks_spark.operators.search import (
        check_result_shape, knn_search)
    hits = knn_search(emb, queries3, "embedding", "vec_id", k=10)
    shape = check_result_shape(hits, nq=3, topk=10, min_ratio=0.5)
    assert shape["nq_ok"] and shape["all_nonempty"]
    assert shape["underfilled"] == []


def test_dedup_exact_keeps_min_id(spark):
    from vectordb_testbricks_spark.operators.dedup import (
        dedup_exact, exact_duplicates)
    rows = [(1, "Spark is fast"), (2, "spark IS fast!"), (3, "other text"),
            (9, "spark is fast")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    groups = exact_duplicates(docs, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["canonical_id"] == 1
    assert groups[0]["dup_count"] == 3
    kept = sorted(r["doc_id"] for r in
                  dedup_exact(docs, "doc_id", "text").collect())
    assert kept == [1, 3]


def test_exact_duplicates_caps_mega_group(spark):
    """dup_ids is bounded by max_ids (skew guard) while dup_count stays
    the exact group size — a degenerate 10k-copy boilerplate text (the
    shard-scale mega-dup shape) must not materialize an unbounded array
    in one aggregate row."""
    from vectordb_testbricks_spark.operators.dedup import exact_duplicates
    docs = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit("same text").alias("text"))
    g = exact_duplicates(docs, "doc_id", "text", max_ids=10).collect()
    assert len(g) == 1
    assert g[0]["dup_count"] == 10_000
    assert g[0]["dup_ids"] == list(range(10))  # lowest ids kept
    assert g[0]["canonical_id"] == 0


def test_simhash_identical_docs_hamming_zero(spark):
    from vectordb_testbricks_spark.operators.dedup import simhash_near_dups
    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
            (3, "completely different words entirely")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_near_dups(docs, "doc_id", "text", max_hamming=0).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


def test_simhash_banded_blocking_is_complete(spark, tables):
    """Banded candidate blocking must find EVERY ham<=3 pair the
    unblocked all-pairs scan finds — including pairs differing only in
    upper bits, which the r01 single upper-byte block missed."""
    from vectordb_testbricks_spark.operators.dedup import (
        simhash_near_dups, simhash_signatures)
    docs = tables["documents"].df.select("doc_id", "text").limit(300)
    sigs = simhash_signatures(docs, "doc_id", "text").cache()
    a, b = sigs.alias("a"), sigs.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    brute = {(r["id_a"], r["id_b"], r["hamming"]) for r in
             (a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
              .select(F.col("a.doc_id").alias("id_a"),
                      F.col("b.doc_id").alias("id_b"),
                      ham.alias("hamming"))
              .filter(F.col("hamming") <= 3)).collect()}
    banded = {(r["id_a"], r["id_b"], r["hamming"]) for r in
              simhash_near_dups(docs, "doc_id", "text",
                                max_hamming=3).collect()}
    assert banded == brute
    assert brute  # the corpus must actually produce near-dup pairs
    # uneven band widths (16 bits into 3 bands -> 6/5/5) stay complete
    brute2 = {t for t in brute if t[2] <= 2}
    banded2 = {(r["id_a"], r["id_b"], r["hamming"]) for r in
               simhash_near_dups(docs, "doc_id", "text",
                                 max_hamming=2).collect()}
    assert banded2 == brute2


def test_simhash_64bit_signatures(spark):
    """bits=64 packs into the full long (incl. the sign bit) and banded
    near-dup detection still finds exact duplicates."""
    from vectordb_testbricks_spark.operators.dedup import (
        simhash_near_dups, simhash_signatures)
    rows = [(i, f"token{i} alpha beta common words here {i % 7}")
            for i in range(40)] + [(100, "token3 alpha beta common words "
                                         "here 3")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"] for r in
            simhash_signatures(docs, "doc_id", "text", bits=64).collect()}
    assert len(set(sigs.values())) > 1
    pairs = simhash_near_dups(docs, "doc_id", "text", max_hamming=0,
                              bits=64).collect()
    assert any(p["id_a"] == 3 and p["id_b"] == 100 for p in pairs)


def test_sign_block_key_exact_dups_collide(spark, emb):
    from vectordb_testbricks_spark.operators.dedup import embedding_near_dups
    e = emb.select("vec_id", "embedding", "label").limit(200)
    e2 = e.unionByName(e.select((F.col("vec_id") + 10_000).alias("vec_id"),
                                "embedding", "label"))
    pairs = embedding_near_dups(e2, "vec_id", "embedding", block_col="label",
                                threshold=0.999, sign_bits=16)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # every vector must pair with its exact copy
    want = {(r["vec_id"], r["vec_id"] + 10_000) for r in e.collect()}
    assert want <= got


def test_checksum_order_insensitive(tables):
    from vectordb_testbricks_spark.validators import collection_checksum
    li = tables["lineitem"].df
    cols = ["l_orderkey", "l_linenumber", "l_quantity"]
    a = collection_checksum(li, cols).collect()[0]
    b = collection_checksum(li.repartition(7).sortWithinPartitions("l_partkey"),
                            cols).collect()[0]
    assert a["checksum"] == b["checksum"] and a["n_rows"] == b["n_rows"]


def test_expand_data(spark):
    from vectordb_testbricks_spark.datagen import expand_data, gen_rows
    base = gen_rows(spark, 0, 100, seed=1, dim=4)
    out = expand_data(base, copies=3, pk_col="pk")
    assert out.count() == 300
    assert out.select("pk").distinct().count() == 300


def test_rrf_fusion_offset(spark):
    """Milvus offset semantics on fused results (issue_45203)."""
    from vectordb_testbricks_spark.operators.fusion import rrf_fuse
    rows = [(0, i, 0.0, i) for i in range(1, 8)]
    b = spark.createDataFrame(rows, "query_id int, doc_id int, score double, rank int")
    full = rrf_fuse([b], "doc_id", k=5)
    paged = rrf_fuse([b], "doc_id", k=3, offset=2)
    assert [r["doc_id"] for r in full.orderBy("rank").collect()] == [1, 2, 3, 4, 5]
    assert [(r["doc_id"], r["rank"]) for r in paged.orderBy("rank").collect()] == \
        [(3, 3), (4, 4), (5, 5)]


def test_weighted_fuse_arctan_matches_milvus_squash(spark):
    """normalize='arctan' applies 0.5 + atan(score)/pi per row (Milvus
    WeightedRanker) — row-local, so fused scores are independent of what
    other docs a branch returned, unlike min-max."""
    import math
    from vectordb_testbricks_spark.operators.fusion import weighted_fuse
    b1 = spark.createDataFrame([(0, 1, 4.0, 1), (0, 2, -1.0, 2)],
                               "query_id int, doc_id int, score double, rank int")
    b2 = spark.createDataFrame([(0, 1, 0.5, 1), (0, 3, 0.0, 2)],
                               "query_id int, doc_id int, score double, rank int")
    out = {r["doc_id"]: r["score"]
           for r in weighted_fuse([b1, b2], [0.6, 0.4], "doc_id", k=10,
                                  normalize="arctan").collect()}
    sq = lambda s: 0.5 + math.atan(s) / math.pi
    assert out[1] == pytest.approx(0.6 * sq(4.0) + 0.4 * sq(0.5))
    assert out[2] == pytest.approx(0.6 * sq(-1.0))
    assert out[3] == pytest.approx(0.4 * sq(0.0))
    # dropping doc 2 from b1 must not change doc 1's fused score (min-max
    # normalization would rescale; arctan is row-local)
    solo = {r["doc_id"]: r["score"]
            for r in weighted_fuse([b1.filter("doc_id = 1"), b2],
                                   [0.6, 0.4], "doc_id", k=10,
                                   normalize="arctan").collect()}
    assert solo[1] == pytest.approx(out[1])


def test_persisted_ivf_probe_prunes_partitions(spark, tables, tmp_path):
    """write_ivf partitions by centroid_id; probing must prune partitions at
    file-listing time (the IVF inverted-list read path at scale)."""
    from vectordb_testbricks_spark.operators.ann_index import (
        build_ivf, ivf_search, read_ivf, write_ivf)
    emb = tables["embeddings"].df
    model = build_ivf(emb, "embedding", "vec_id", n_lists=4, seed=7)
    path = str(tmp_path / "ivf")
    write_ivf(model, path)
    reloaded = read_ivf(spark, path, "embedding", "vec_id")
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("query_id"),
                 to_double_array(F.col("embedding")).alias("qvec")))
    hits = ivf_search(reloaded, q, k=5, nprobe=2)
    assert hits.count() == 5
    plan = hits._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines()
                if "FileScan" in l and "ivf" in l)
    assert "centroid_id" in scan.split("PartitionFilters")[1][:200]


@pytest.mark.parametrize("build", ["build_ivf", "build_ivf_sq8",
                                   "build_bin_ivf"])
def test_reopened_ivf_layout_matches_in_session_model(spark, emb, queries3,
                                                      tmp_path, build):
    """Every encoding reopens from its path alone: read_ivf takes the
    centroids, encoding and SQ8 bounds from the sidecar (only the float
    base for the rescore is passed in), probes return the in-session
    model's rows, and the probe still prunes centroid_id partitions."""
    from vectordb_testbricks_spark.operators import ann_index as A
    model = getattr(A, build)(emb, "embedding", "vec_id", n_lists=8, seed=7)
    path = str(tmp_path / build)
    A.write_ivf(model, path)
    reopened = A.read_ivf(spark, path, "embedding", "vec_id", base=emb)
    assert reopened.encoding == model.encoding
    assert (reopened.vmin, reopened.inv_scale) == (model.vmin,
                                                   model.inv_scale)

    def rows(m):
        return sorted((r.query_id, r.vec_id, round(r.score, 9), r.rank)
                      for r in A.ivf_search(m, queries3, k=10,
                                            nprobe=4).collect())

    assert rows(reopened) == rows(model)
    if model.encoding != "flat":  # the exact rescore needs the float base
        bare = A.read_ivf(spark, path, "embedding", "vec_id")
        with pytest.raises(ValueError, match="pass base="):
            A.ivf_search(bare, queries3, k=10, nprobe=4)
    plan = A.ivf_search(reopened, queries3, k=10, nprobe=4) \
        ._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines()
             if "FileScan" in l and "PartitionFilters" in l]
    assert any("centroid_id" in l.split("PartitionFilters")[1][:200]
               for l in scans), plan


@pytest.mark.parametrize("build", ["build_ivf_sq8", "build_bin_ivf"])
def test_append_ivf_rejects_quantized_layouts(spark, emb, tmp_path, build):
    """append_ivf writes float rows, so it must refuse an SQ8 or BIN layout
    (read from the sidecar) instead of mixing float rows into encoded
    lists; the layout is left as written."""
    from vectordb_testbricks_spark.operators import ann_index as A
    old = emb.filter(F.col("vec_id") % 2 == 0)
    path = str(tmp_path / build)
    A.write_ivf(getattr(A, build)(old, "embedding", "vec_id", n_lists=4,
                                  seed=7), path)
    with pytest.raises(ValueError, match="encoded lists"):
        A.append_ivf(emb.filter(F.col("vec_id") % 2 == 1), path,
                     "embedding", "vec_id")
    assert spark.read.parquet(path).count() == old.count()


def test_lsh_search_recall_and_self_hit(emb, queries3):
    """Multi-probe LSH must return the query vector itself as rank 1 and
    reach reasonable recall vs brute force."""
    from vectordb_testbricks_spark.operators.ann_index import (
        build_lsh, lsh_search)
    from vectordb_testbricks_spark.operators.search import knn_search

    indexed = build_lsh(emb, "embedding", "vec_id", bits=6)
    approx = lsh_search(indexed, queries3, "vec_id", k=10, bits=6, flip=2)
    rows = approx.collect()
    top1 = {r["query_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}  # exact self-match survives bucketing

    exact = knn_search(emb, queries3, "embedding", "vec_id",
                       metric="COSINE", k=10)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in rows}
    assert len(e & a) / len(e) >= 0.5  # LSH@6 bits, flip=2 probes ~1/3 of buckets


@pytest.mark.slow
def test_build_from_index_spec_dispatch_and_hnsw_mapping(emb, queries3):
    """Declared index vocabulary (FLAT/IVF_FLAT/IVF_SQ8/BIN_IVF_FLAT/HNSW)
    realizes as the matching physical structure; HNSW's ef knob raises the
    candidate pool monotonically (nprobe·list_size ≈ ef)."""
    from vectordb_testbricks_spark.operators.ann_index import (
        build_from_index_spec)
    from vectordb_testbricks_spark.operators.search import knn_search
    from vectordb_testbricks_spark.schema import IndexSpec

    exact = knn_search(emb, queries3, "embedding", "vec_id",
                       metric="COSINE", k=10)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}

    flat = build_from_index_spec(
        emb, "vec_id", IndexSpec("embedding", "FLAT", "COSINE"))
    f = {(r["query_id"], r["vec_id"])
         for r in flat.search(queries3, k=10).collect()}
    assert f == e  # FLAT is brute force

    for itype, extra in [("IVF_FLAT", {"nlist": 8}),
                         ("IVF_SQ8", {"nlist": 8}),
                         ("BIN_IVF_FLAT", {"nlist": 8})]:
        idx = build_from_index_spec(
            emb, "vec_id", IndexSpec("embedding", itype, "COSINE", extra))
        hits = idx.search(queries3, k=10)
        a = {(r["query_id"], r["vec_id"]) for r in hits.collect()}
        assert len(a) == 30
        assert len(e & a) / len(e) >= 0.5, itype

    lo = build_from_index_spec(
        emb, "vec_id",
        IndexSpec("embedding", "HNSW", "COSINE", {"M": 16, "ef": 32}))
    hi = build_from_index_spec(
        emb, "vec_id",
        IndexSpec("embedding", "HNSW", "COSINE", {"M": 16, "ef": 100000}))
    assert hi.search_params["nprobe"] > lo.search_params["nprobe"]
    # ef past the corpus size probes everything -> exact results
    full = {(r["query_id"], r["vec_id"])
            for r in hi.search(queries3, k=10).collect()}
    assert full == e


def test_like_with_index_agrees_with_exprlang_on_underscores(spark):
    """Indexed and unindexed LIKE must share Milvus semantics: '_' literal.
    (r02 review: the index path used SQL '_'-wildcard lowering while the
    compiler escaped it.)"""
    from vectordb_testbricks_spark.exprlang import compile_expr
    from vectordb_testbricks_spark.operators.ngram_index import (
        build_ngram_index, like_with_index)
    docs = spark.createDataFrame(
        [(1, "alpha_beta_gamma"), (2, "alphaXbetaXgamma"), (3, "unrelated")],
        "doc_id long, text string")
    posting = build_ngram_index(docs, "doc_id", "text", 3, 3)
    pattern = "%pha_bet%"
    via_index = {r["doc_id"] for r in
                 like_with_index(docs, posting, pattern,
                                 "doc_id", "text").collect()}
    via_expr = {r["doc_id"] for r in
                docs.filter(compile_expr(f'text like "{pattern}"',
                                         docs)).collect()}
    assert via_index == via_expr == {1}  # literal underscore only


def test_index_spec_quantized_tiers_reject_unsupported_metrics(emb):
    """SQ8/BIN tiers normalize/binarize — an L2/IP spec must fail loudly
    instead of silently returning cosine rankings; the binary tiers accept
    HAMMING (their native distance) in addition to COSINE."""
    from vectordb_testbricks_spark.operators.ann_index import (
        build_from_index_spec)
    from vectordb_testbricks_spark.schema import IndexSpec
    for itype in ("IVF_SQ8", "BIN_IVF_FLAT", "IVF_RABITQ"):
        with pytest.raises(ValueError, match="COSINE"):
            build_from_index_spec(
                emb, "vec_id", IndexSpec("embedding", itype, "L2"))
    with pytest.raises(ValueError, match="COSINE only"):
        build_from_index_spec(
            emb, "vec_id", IndexSpec("embedding", "IVF_SQ8", "HAMMING"))


def test_bin_ivf_hamming_metric_ranks_by_hamming(emb, queries3):
    """BIN_IVF_FLAT + HAMMING (the canonical binary-vector pairing,
    FIXTURES.md binary_ivf) ranks by packed hamming ascending with no
    cosine rescore — full probe equals the exact HAMMING brute force on
    sign-binarized vectors."""
    from vectordb_testbricks_spark.functions.vector import (
        hamming_packed, pack_sign_bits)
    from vectordb_testbricks_spark.operators.ann_index import (
        build_from_index_spec)
    from vectordb_testbricks_spark.schema import IndexSpec
    idx = build_from_index_spec(
        emb, "vec_id",
        IndexSpec("embedding", "BIN_IVF_FLAT", "HAMMING", {"nlist": 4}))
    hits = idx.search(queries3, k=5, nprobe=4)   # full probe
    packed = emb.select("vec_id",
                        pack_sign_bits(F.col("embedding")).alias("_b"))
    qb = queries3.select("query_id",
                         pack_sign_bits(F.col("qvec")).alias("_qb"))
    brute = (packed.crossJoin(F.broadcast(qb))
             .select("query_id", "vec_id",
                     hamming_packed(F.col("_b"), F.col("_qb"))
                     .alias("ham")))
    exact_best = {r["query_id"]: r["ham"] for r in
                  brute.groupBy("query_id")
                  .agg(F.min("ham").alias("ham")).collect()}
    got_best = {r["query_id"]: r["score"] for r in
                hits.filter("rank = 1").collect()}
    assert got_best == exact_best  # rank-1 hamming matches brute minimum
    assert all(r["score"] >= 0 for r in hits.collect())


def test_split_assignment_deterministic_and_growth_stable(spark, tables):
    """Hash splits: every doc gets exactly one split; re-running gives the
    same assignment; appending new docs never moves an existing one."""
    from vectordb_testbricks_spark.operators import corpus as C
    ratios = {"train": 0.8, "val": 0.1, "test": 0.1}
    docs = tables["documents"].df
    a1 = {r.doc_id: r.split
          for r in C.assign_splits(docs, "doc_id", ratios)
                     .select("doc_id", "split").collect()}
    a2 = {r.doc_id: r.split
          for r in C.assign_splits(docs, "doc_id", ratios)
                     .select("doc_id", "split").collect()}
    assert a1 == a2                                    # deterministic
    assert set(a1.values()) <= {"train", "val", "test"}
    grown = docs.unionByName(
        docs.selectExpr("doc_id + 1000000 AS doc_id", "text", "lang",
                        "source", "n_chars"))
    g = {r.doc_id: r.split
         for r in C.assign_splits(grown, "doc_id", ratios)
                    .select("doc_id", "split").collect()}
    assert all(g[k] == v for k, v in a1.items())       # growth-stable
    # ratios roughly hold (md5 uniformity; 500 docs -> loose bounds)
    n = len(a1)
    frac_train = sum(v == "train" for v in a1.values()) / n
    assert 0.7 < frac_train < 0.9


def test_split_boundaries_validate_and_cover_space(spark):
    from vectordb_testbricks_spark.operators import corpus as C
    import pytest as _pt
    with _pt.raises(ValueError):
        C.split_boundaries({})
    with _pt.raises(ValueError):
        C.split_boundaries({"a": 0.5, "b": 0.4})       # doesn't sum to 1
    with _pt.raises(ValueError):
        C.split_boundaries({"a": 1.5, "b": -0.5})
    b = C.split_boundaries({"x": 0.25, "y": 0.75})
    assert b[0] == ("x", "40000000")
    assert b[-1][0] == "y"                             # remainder catcher
    # single split: everything lands in it
    one = C.split_boundaries({"all": 1.0})
    assert [n for n, _ in one] == ["all"]


def test_split_column_is_scan_stage_expression(spark, tables):
    """The split column must compile to a pure projection over the scan —
    no Exchange (shuffle) in the plan, so it scales with the scan at 100 TB."""
    from vectordb_testbricks_spark.operators import corpus as C
    docs = tables["documents"].df
    out = C.assign_splits(docs, "doc_id", {"a": 0.5, "b": 0.5})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_ivf_append_full_probe_equals_exact_over_union(spark, emb, queries3,
                                                       tmp_path):
    """Incremental maintenance: build+write on half the corpus, append_ivf
    the other half against the persisted centroids, reload self-contained
    (no centroids passed). Full-probe search over the appended layout must
    equal exact KNN over the union — append loses nothing."""
    from vectordb_testbricks_spark.operators.ann_index import (
        append_ivf, build_ivf, ivf_search, read_ivf, write_ivf)
    from vectordb_testbricks_spark.operators.search import knn_search
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf_app")
    model = build_ivf(old, "embedding", "vec_id", n_lists=4, seed=7)
    write_ivf(model, path)
    append_ivf(new, path, "embedding", "vec_id")
    reloaded = read_ivf(spark, path, "embedding", "vec_id")
    assert reloaded.assigned.count() == emb.count()
    got = {(r.query_id, r.vec_id, r.rank)
           for r in ivf_search(reloaded, queries3, k=10, nprobe=4,
                               metric="COSINE").collect()}
    want = {(r.query_id, r.vec_id, r.rank)
            for r in knn_search(emb, queries3, "embedding", "vec_id",
                                k=10, metric="COSINE").collect()}
    assert got == want


def test_ivf_append_keeps_partition_pruning(spark, emb, queries3, tmp_path):
    """Appended batches land inside centroid_id= partitions; the probe path
    still prunes at file-listing time."""
    from vectordb_testbricks_spark.operators.ann_index import (
        append_ivf, build_ivf, ivf_search, read_ivf, write_ivf)
    old = emb.filter(F.col("vec_id") < 300)
    new = emb.filter(F.col("vec_id") >= 300)
    path = str(tmp_path / "ivf_pp")
    write_ivf(build_ivf(old, "embedding", "vec_id", n_lists=4, seed=7), path)
    append_ivf(new, path, "embedding", "vec_id")
    hits = ivf_search(read_ivf(spark, path, "embedding", "vec_id"),
                      queries3.limit(1), k=5, nprobe=2)
    assert hits.count() == 5
    # plan paths get truncated — assert on PartitionFilters content only
    plan = hits._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines()
                if "FileScan" in l and "PartitionFilters" in l
                and "centroid_id" in l.split("PartitionFilters")[1][:200])
    assert scan


def test_ivf_balance_stats(spark, emb, tmp_path):
    """Occupancy monitor: fracs sum to 1, imbalance averages 1, counts match
    the corpus — the retrain trigger for drifting appends."""
    from vectordb_testbricks_spark.operators.ann_index import (
        build_ivf, ivf_balance, write_ivf)
    path = str(tmp_path / "ivf_bal")
    write_ivf(build_ivf(emb, "embedding", "vec_id", n_lists=4, seed=7), path)
    rows = ivf_balance(spark, path).collect()
    assert len(rows) == 4
    assert sum(r.n_rows for r in rows) == emb.count()
    assert abs(sum(r.frac for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.imbalance for r in rows) / len(rows) - 1.0) < 1e-9
    assert rows[0].n_rows == max(r.n_rows for r in rows)


@pytest.mark.slow
def test_ngram_prefix_candidates_superset_of_results(spark):
    """Prefix filtering (post only the first ⌊(1−t)·|codes|⌋+1 sorted
    codes) must not lose any pair the exact verification would keep:
    candidates ⊇ final Jaccard-≥-t pairs, and the prefix-filtered result
    equals the unfiltered-posting result on the same corpus."""
    from vectordb_testbricks_spark.operators.dedup import (
        _token_codes, ngram_candidate_pairs, ngram_jaccard_pairs)
    base = ("the quick brown fox jumps over the lazy dog near the old "
            "river bank while birds sing in the tall green trees")
    # single tail-word mutation: 3 of 20 shingles change, J = 17/23 ≈ 0.74
    mut = base.replace("green trees", "green pines")
    rows = [(1, base), (2, base), (3, mut),
            (4, "completely unrelated text about spark query planning"),
            (5, "another distinct document on duckdb oracle parity")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(n=3, threshold=0.7, max_df=50, min_shared=1)
    got = ngram_jaccard_pairs(docs, "doc_id", "text", prefix=True, **kw)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    full = ngram_jaccard_pairs(docs, "doc_id", "text", prefix=False, **kw)
    assert pairs == {(r.id_a, r.id_b) for r in full.collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    codes = _token_codes(docs, "doc_id", "text", shingle_n=3)
    cands = {(r.id_a, r.id_b) for r in ngram_candidate_pairs(
        codes, "doc_id", threshold=0.7).collect()}
    assert cands >= pairs
    # randomized property check for the PPJoin positional bound: over a
    # corpus with heavy vocabulary overlap (boundary Jaccard values land
    # near t), the position-pruned result must equal the unfiltered-
    # posting result at several thresholds
    import random
    rnd = random.Random(23)
    words = [f"w{i}" for i in range(30)]
    rows2 = [(i, " ".join(rnd.choice(words) for _ in range(18)))
             for i in range(30)]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    for t in (0.5, 0.7, 0.9):
        kw2 = dict(n=3, threshold=t, max_df=100, min_shared=1)
        p1 = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
              ngram_jaccard_pairs(docs2, "doc_id", "text",
                                  prefix=True, **kw2).collect()}
        p0 = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
              ngram_jaccard_pairs(docs2, "doc_id", "text",
                                  prefix=False, **kw2).collect()}
        assert p1 == p0, f"positional filter lost pairs at t={t}"


def test_ngram_stage_dir_two_phase_identical(spark, tmp_path, monkeypatch):
    """stage_dir (the two-phase scratch-disk pipeline break) must be a
    pure physical change: identical (id_a, id_b, jaccard) set to the
    single-plan run on a heavy-overlap corpus with boundary Jaccard
    values, under both prefix orders (small-corpus regime: the
    parallelized list has no size statistics, so the threshold is
    raised past its Long.MaxValue-byte default estimate)."""
    from vectordb_testbricks_spark import materialize
    from vectordb_testbricks_spark.operators.dedup import (
        ngram_jaccard_pairs)
    monkeypatch.setattr(materialize, "BARRIER_MIN_ROWS", 2 ** 63)
    import random
    rnd = random.Random(31)
    words = [f"w{i}" for i in range(30)]
    rows = [(i, " ".join(rnd.choice(words) for _ in range(18)))
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for order in ("rarity", "code"):
        kw = dict(n=3, threshold=0.6, max_df=100, min_shared=1,
                  order=order)
        plain = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
                 ngram_jaccard_pairs(docs, "doc_id", "text", **kw)
                 .collect()}
        staged = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
                  ngram_jaccard_pairs(
                      docs, "doc_id", "text",
                      stage_dir=str(tmp_path / f"cands_{order}"), **kw)
                  .collect()}
        assert staged == plain, f"stage_dir changed the result ({order})"


def test_ngram_stage_dir_unpersists_posting_cache(spark, tmp_path,
                                                  monkeypatch):
    """ADVICE r11: in stage_dir mode the phase-1 posting cache must be
    explicitly unpersisted once candidates are staged — the CacheManager
    otherwise holds it (and its upstream shuffle deps) strongly for the
    session's lifetime, so reclamation before phase 2 depended on what
    the driver GC happened to collect."""
    from pyspark.storagelevel import StorageLevel

    from vectordb_testbricks_spark import materialize
    from vectordb_testbricks_spark.operators import dedup

    # small-corpus regime, as for test_ngram_stage_dir_two_phase_identical
    monkeypatch.setattr(materialize, "BARRIER_MIN_ROWS", 2 ** 63)
    rows = [(i, " ".join(f"w{(i + j) % 9}" for j in range(12)))
            for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    captured = {}
    orig = dedup.ngram_candidate_pairs

    def spy(*a, **kw):
        captured["caches"] = kw.get("_cache_out")
        return orig(*a, **kw)

    monkeypatch.setattr(dedup, "ngram_candidate_pairs", spy)
    out = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5,
        stage_dir=str(tmp_path / "cands"))
    assert captured["caches"], "posting-cache seam not wired"
    for cached in captured["caches"]:
        assert cached.storageLevel == StorageLevel.NONE
    # the verify phase still runs off codes + staged parquet
    assert out.count() >= 0


def test_ngram_prefix_shrinks_candidates(spark):
    """The point of the prefix filter: strictly fewer candidate pairs than
    full posting at equal recall (docs sharing only tail codes no longer
    collide)."""
    from vectordb_testbricks_spark.operators.dedup import (
        _token_codes, ngram_candidate_pairs)
    import random
    rnd = random.Random(11)
    words = [f"w{i}" for i in range(60)]
    rows = [(i, " ".join(rnd.sample(words, 25))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    codes = _token_codes(docs, "doc_id", "text", shingle_n=3)
    n_pfx = ngram_candidate_pairs(codes, "doc_id", 0.7, prefix=True).count()
    n_all = ngram_candidate_pairs(codes, "doc_id", 0.7, prefix=False).count()
    assert n_pfx < n_all


def test_ngram_scale_entry_wiring_small_n(spark):
    """dd_ngram_1m at a tiny n: the bench-only scale entry's wiring
    (seeded corpus with planted exact duplicates → AllPairs inverted
    index → verified pairs) must find exactly the planted pair set — a
    broken entry would otherwise only surface mid-bench."""
    import __spark_entry__ as E
    pairs = E.dd_ngram_1m(spark, "/root/testdata/sf0.001",
                          n=1000, uniq=900).collect()
    assert len(pairs) == 100
    assert {(r.id_a, r.id_b) for r in pairs} == {
        (i, i + 900) for i in range(100)}
    assert all(abs(r.jaccard - 1.0) < 1e-12 for r in pairs)


def test_ngram_scale_entry_staged_corpus_path(spark, monkeypatch):
    """The 100M-decade corpus staging (parquet write + capped task
    slices, dd_ngram_100m) exercised at fixture scale by lowering the
    threshold: identical pair set to the unstaged run — staging is a
    physical-plan change only. Also pins that the staged corpus files
    survive until the lazy pair table is consumed (an eager cleanup
    would delete parquet under the plan)."""
    import __spark_entry__ as E
    monkeypatch.setattr(E, "_NGRAM_STAGE_MIN_DOCS", 500)
    pairs = E.dd_ngram_1m(spark, "/root/testdata/sf0.001",
                          n=1000, uniq=900).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {
        (i, i + 900) for i in range(100)}
    assert all(abs(r.jaccard - 1.0) < 1e-12 for r in pairs)


def test_stream_scale_entry_wiring_small_n(spark):
    """st_stream_1m at a tiny n: the real Structured Streaming job (file
    source → watermarked window agg → parquet sink, availableNow) over a
    20k-event backlog spanning ~5.5h must emit exactly the 3 hourly
    windows the 2h watermark closes, 3600 events each per type."""
    import __spark_entry__ as E
    rows = E.st_stream_1m(spark, "/root/testdata/sf0.001",
                          n=20000).collect()
    assert [(r.event_type, r.windows, r.events) for r in rows] == [
        ("click", 3, 3600), ("purchase", 3, 3600), ("view", 3, 3600)]


def test_sessionize_scale_entry_wiring_small_n(spark):
    """st_sessionize_1m at a tiny n: the applyInPandasWithState streaming
    sessionizer must emit exactly the watermark-closed sessions — 887 of
    1000 users at n=20000 (offsets u·80 over 0..80000s; sessions close
    when the final watermark passes session_end + gap), all 20 events."""
    import __spark_entry__ as E
    r = E.st_sessionize_1m(spark, "/root/testdata/sf0.001",
                           n=20000).collect()[0]
    assert (r.sessions, r.events, r.min_ev, r.max_ev) == (887, 17740, 20, 20)


def test_stretch_entry_symbols():
    """bench.py's stretch block resolves entries by name off the entry
    module (a missing symbol degrades to a silent 'subprocess failed'
    line mid-bench); pin both 10M names here so a rename breaks the gate
    suite instead. Their logic is the tested _1m functions at 10× n."""
    import __spark_entry__ as E
    for name in ("dd_minhash_10m", "v_sparse_10m", "v_ivf_persisted_10m"):
        assert callable(getattr(E, name))


def test_ivf_persisted_scale_entry_wiring_small_n(spark):
    """v_ivf_persisted_1m/_10m wiring at a tiny n with the 10M entry's
    assert_pruning=True: build → partitioned write → reload → probe must
    yield exactly nq×k rows AND the at-scale plan assertion (centroid_id
    PartitionFilters on the probe scan) must hold — a broken assertion
    would otherwise only surface inside the stretch subprocess."""
    import __spark_entry__ as E
    hits = E.v_ivf_persisted_1m(spark, "/root/testdata/sf0.001",
                                n=4000, assert_pruning=True).collect()
    assert len(hits) == 4 * 100
    by_q = {}
    for r in hits:
        by_q.setdefault(r["query_id"], []).append(r)
    assert sorted(by_q) == [0, 1, 2, 3]
    # query vectors are corpus rows: top-1 is the query itself
    for qid, pk0 in enumerate((0, 1000, 2000, 3000)):
        top = min(by_q[qid], key=lambda r: r["rank"])
        assert top["pk"] == pk0, (qid, top)


def test_sparse_scale_entry_wiring_small_n(spark):
    """v_sparse_1m at a tiny n: the bench-only scale entry's wiring
    (deterministic map corpus → build/write/read sparse inverted index →
    nq=4 probe) must produce exactly k hits per query with the postings
    path's exact scores — a broken entry would otherwise only surface
    mid-bench, after the gate suite passed."""
    import __spark_entry__ as E
    from vectordb_testbricks_spark.operators.search import sparse_search_many
    hits = E.v_sparse_1m(spark, "/root/testdata/sf0.001",
                         n=3000, vocab=600, nnz=8).collect()
    assert len(hits) == 4 * 10  # 4 queries x k=10
    by_q = {}
    for r in hits:
        by_q.setdefault(r["query_id"], []).append(r)
    assert sorted(by_q) == [0, 1, 2, 3]
    assert all(len(v) == 10 for v in by_q.values())
    # cross-check one query against the brute-force map scan on the same
    # deterministic corpus (the oracle identity at wiring scale)
    keys = F.transform(F.sequence(F.lit(0), F.lit(7)),
                       lambda j: ((F.col("id") * 17 + j * 1877) % 600)
                       .cast("int"))
    vals = F.transform(F.sequence(F.lit(0), F.lit(7)),
                       lambda j: ((F.col("id") + j) % 10 + 1).cast("double"))
    base = spark.range(3000).select(
        F.col("id").alias("pk"), F.map_from_arrays(keys, vals).alias("svec"))
    qmap = {(0 * 7919 + i * 1877) % 600: float(i + 1) for i in range(3)}
    bf = sparse_search_many(base, [qmap], "svec", "pk", k=10)
    want = sorted((r["pk"], round(r["score"], 4), r["rank"])
                  for r in bf.collect())
    got = sorted((r["pk"], round(r["score"], 4), r["rank"])
                 for r in by_q[0])
    assert got == want


def test_bm25_scale_entry_wiring_small_n(spark):
    """v_bm25_1m at a tiny n: the bench-only scale entry's wiring (seeded
    corpus → manager ingest with BM25 FunctionSpec → sidecar search) must
    produce k hits per query with deterministic ranks — a broken entry
    would otherwise only surface mid-bench, after the gate suite passed."""
    import __spark_entry__ as E
    hits = E.v_bm25_1m(spark, "/root/testdata/sf0.001",
                       n=2000, vocab=500).collect()
    assert len(hits) == 4 * 10  # 4 queries x k=10
    by_q = {}
    for r in hits:
        by_q.setdefault(r["query_id"], []).append(r)
    assert sorted(by_q) == [0, 1, 2, 3]
    for q, rows in by_q.items():
        assert sorted(r["rank"] for r in rows) == list(range(1, 11))
        ranked = sorted(rows, key=lambda r: r["rank"])
        assert all(ranked[i]["score"] >= ranked[i + 1]["score"]
                   for i in range(len(ranked) - 1))
        assert all(r["score"] > 0 for r in rows)


def test_search_by_pk(spark):
    """3.0 search_mode=pk (feature-inventory doc §2): the query vector is
    looked up from the stored row — each queried pk ranks itself top-1
    at self-similarity, query_id carries the PK itself, and absent pks
    contribute no hit list."""
    import random
    from vectordb_testbricks_spark.operators.search import search_by_pk
    rnd = random.Random(3)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    base = spark.createDataFrame(rows, "id long, vec array<double>")
    hits = search_by_pk(base, [7, 31, 999], "vec", "id",
                        metric="COSINE", k=5)
    got = {(r["query_id"], r["rank"]): (r["id"], r["score"])
           for r in hits.collect()}
    assert {q for q, _ in got} == {7, 31}      # 999 absent -> no list
    for q in (7, 31):
        sid, score = got[(q, 1)]
        assert sid == q and abs(score - 1.0) < 1e-9
    assert len(got) == 10


def test_null_scores_never_rank(spark):
    """NULL scores never enter results (r08 review finding #1). Three
    NULL-score sources the base-side vector-null filter alone cannot see:
    a search_by_pk query whose STORED vector is NULL (qvec NULL → every
    score NULL), a stored vector with a NULL *element* (zip_with/aggregate
    → NULL, and a bare .asc() would rank it #1 under L2), and an all-zero
    vector under COSINE (0/0 → NULL). All three must yield zero hits for
    the affected rows — even when candidates < k leaves room."""
    from vectordb_testbricks_spark.operators.search import (
        knn_search, search_by_pk)
    base = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, None),
         (3, [None, 5.0]), (4, [0.0, 0.0])],
        "id long, vec array<double>")
    # (a) search_by_pk on the NULL-vector pk: no hit list for query 2
    hits = search_by_pk(base, [0, 2], "vec", "id", metric="COSINE", k=10)
    got = {(r["query_id"], r["id"]): r["score"] for r in hits.collect()}
    assert {q for q, _ in got} == {0}, got
    assert all(s is not None for s in got.values())
    # (b)+(c) L2 (ascending): the NULL-element and all-zero rows score
    # fine under L2, but under COSINE the NULL-element row (3) and the
    # zero row (4) both go NULL — with k > candidates they must STILL
    # be excluded, and row 3 must never rank first.
    q = spark.createDataFrame([(0, [1.0, 0.0])],
                              "query_id int, qvec array<double>")
    for metric, expect in (("COSINE", {0, 1}), ("L2", {0, 1, 4})):
        rows = sorted(knn_search(base, q, "vec", "id", metric=metric,
                                 k=10).collect(), key=lambda r: r["rank"])
        assert {r["id"] for r in rows} == expect, (metric, rows)
        assert all(r["score"] is not None for r in rows), (metric, rows)
        assert rows[0]["id"] != 3  # corrupt row must never rank #1
    # grouping path: same exclusion through the per-group window
    g = base.withColumn("cat", (F.col("id") % 2).cast("int"))
    rows = knn_search(g, q, "vec", "id", metric="COSINE", k=10,
                      group_by="cat", group_size=2).collect()
    assert {r["id"] for r in rows} == {0, 1}, rows
    assert all(r["score"] is not None for r in rows)


def test_knn_search_multi_field_group_by(spark):
    """3.0 roadmap §2 'multi-field group_by': grouping on the (cat, sub)
    combination returns group_size best hits per combined group, groups
    ranked by their best hit with the (cat, sub) tuple as tie-break."""
    import math
    import random
    from vectordb_testbricks_spark.operators.search import knn_search
    rnd = random.Random(11)
    qv = [1.0, 0.2, -0.3, 0.5]
    rows = [(i, i % 3, i % 2, [rnd.uniform(-1, 1) for _ in range(4)])
            for i in range(60)]
    base = spark.createDataFrame(
        rows, "id long, cat int, sub int, vec array<double>")
    q = spark.createDataFrame([(0, qv)],
                              "query_id int, qvec array<double>")
    hits = knn_search(base, q, "vec", "id", metric="COSINE", k=4,
                      group_by=["cat", "sub"], group_size=2).collect()

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a))
                    * math.sqrt(sum(y * y for y in b)))
    groups: dict = {}
    for i, c, s, v in rows:
        groups.setdefault((c, s), []).append((cos(v, qv), i))
    for g in groups.values():
        g.sort(key=lambda t: (-t[0], t[1]))
    top_groups = sorted(groups.items(),
                        key=lambda kv: (-kv[1][0][0], kv[0]))[:4]
    want = {i for _, members in top_groups for _, i in members[:2]}
    assert {r.id for r in hits} == want
    assert len({(r.cat, r.sub) for r in hits}) == 4 and len(hits) == 8


def _uf_components(edges, nodes):
    """Union-find reference for connected_components tests."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in nodes)


def test_connected_components_chain_and_clusters(spark):
    """A~B~C chains must collapse to one component (near-dup relations
    are not transitive — the reason the operator exists); disjoint
    clusters stay disjoint; the component label is the min member id."""
    from vectordb_testbricks_spark.operators.dedup import (
        connected_components, dedup_keep_list)
    edges = [(1, 2), (2, 3), (3, 4),      # chain -> {1,2,3,4}
             (10, 11),                    # pair
             (20, 22), (21, 22), (20, 21)]  # triangle
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    comp = connected_components(pairs)
    got = sorted((r.id, r.component) for r in comp.collect())
    assert got == _uf_components(edges, {n for e in edges for n in e})
    docs = spark.range(25).select(F.col("id").alias("doc_id"))
    kept = sorted(r.doc_id
                  for r in dedup_keep_list(docs, "doc_id", comp).collect())
    # canonical survivors: 1, 10, 20; dropped: 2,3,4,11,21,22
    assert kept == [n for n in range(25) if n not in {2, 3, 4, 11, 21, 22}]


@pytest.mark.slow
def test_connected_components_random_vs_union_find(spark):
    """Seeded random graphs vs a Python union-find: labels agree exactly
    (including long chains worth several propagation rounds)."""
    import random
    from vectordb_testbricks_spark.operators.dedup import (
        connected_components)
    rnd = random.Random(13)
    for trial in range(3):
        nodes = list(range(trial * 100, trial * 100 + 60))
        edges = [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(40)]
        edges = [(a, b) for a, b in edges if a != b]
        # a deliberate 12-node path graph: diameter 11, several rounds
        chain_base = 1000 + trial * 50
        edges += [(chain_base + i, chain_base + i + 1) for i in range(11)]
        pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        got = sorted((r.id, r.component)
                     for r in connected_components(pairs).collect())
        assert got == _uf_components(edges, {n for e in edges for n in e})


@pytest.mark.slow
def test_pack_sequences_matches_python_prefix_sum(spark):
    """Concat-and-chunk packing = exact global exclusive prefix sum in id
    order, floor-divided by capacity — checked against plain Python over
    seeded token counts, including docs longer than the capacity
    (straddlers) and n_parts far exceeding the row count."""
    import random
    from vectordb_testbricks_spark.operators.corpus import pack_sequences
    rnd = random.Random(29)
    rows = [(i, rnd.randrange(1, 900)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id bigint, tok bigint")
    for capacity, n_parts in ((512, 8), (4096, 64)):
        got = {r.id: (r.tok_count, r.chunk) for r in pack_sequences(
            df, "doc_id", "tok", capacity, n_parts=n_parts).collect()}
        acc = 0
        for i, tok in rows:
            assert got[i] == (tok, acc // capacity), (i, capacity)
            acc += tok


def test_pack_sequences_null_token_counts(spark):
    """NULL tok_count rows (e.g. NULL text under size(tokenize(...)))
    coalesce to 0: no driver TypeError from a NULL partition total, no
    cumsum skew — the r08 advisor finding."""
    from vectordb_testbricks_spark.operators.corpus import pack_sequences
    rows = [(0, 600), (1, None), (2, 600), (3, None), (4, 600)]
    df = spark.createDataFrame(rows, "doc_id bigint, tok bigint")
    got = {r.id: (r.tok_count, r.chunk) for r in pack_sequences(
        df, "doc_id", "tok", 512, n_parts=4).collect()}
    acc = 0
    for i, tok in rows:
        tok = tok or 0
        assert got[i] == (tok, acc // 512), i
        acc += tok


@pytest.mark.slow
def test_cross_split_contamination_vs_python(spark):
    """Planted contamination: doc 100 (test) copies doc 0 (train) and
    doc 101 (test) shares an 8-token run with doc 1 (train); unrelated
    docs share nothing. Checked against a plain-Python shingle-set
    reference using the operator's own split assignment."""
    from vectordb_testbricks_spark.operators.corpus import (
        assign_splits, cross_split_contamination)
    base = ["alpha beta gamma delta epsilon zeta eta theta iota kappa",
            "one two three four five six seven eight nine ten",
            "wholly unrelated text with its own private vocabulary words"]
    rows = ([(i, base[i]) for i in range(3)]
            + [(100, base[0]),
               (101, "PREFIX one two three four five six seven eight"),
               (102, "nothing shared here at all believe me truly")])
    ratios = {"train": 0.5, "test": 0.5}
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    splits = {r.doc_id: r.split for r in
              assign_splits(docs, "doc_id", ratios).collect()}

    def sh(text, n=8):
        toks = [t for t in text.lower().split() if t]
        return set(" ".join(toks[i:i + n])
                   for i in range(len(toks) - n + 1)) or {" ".join(toks)}

    want = {}
    for tid, ttxt in rows:
        if splits[tid] != "test":
            continue
        hits = [len(sh(ttxt) & sh(rtxt)) for rid, rtxt in rows
                if splits[rid] == "train" and sh(ttxt) & sh(rtxt)]
        if hits:
            want[tid] = (len(hits), max(hits))
    got = {r.test_id: (r.n_train_docs, r.max_shared)
           for r in cross_split_contamination(
               docs, "doc_id", "text", ratios).collect()}
    assert got == want
    assert want, "fixture must plant at least one cross-split pair"


def test_repetition_features_vs_python(spark):
    """Gopher-style repetition signals vs a plain-Python reference:
    heavy repetition (one token repeated), a dominant bigram, clean
    prose, and a single-token doc (degenerate bigram = the whole doc)."""
    from vectordb_testbricks_spark.operators.textquality import (
        repetition_features)
    rows = [(0, "spam spam spam spam spam ham"),
            (1, "click here click here click here to win money now"),
            (2, "a quiet morning with coffee and unhurried reading"),
            (3, "solo")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: (round(r.dup_token_frac, 6),
                      round(r.top_bigram_char_frac, 6))
           for r in repetition_features(df, "doc_id", "text").collect()}
    for i, text in rows:
        toks = text.split()
        dup = 1.0 - len(set(toks)) / max(len(toks), 1)
        bigs = ([" ".join(toks[j:j + 2]) for j in range(len(toks) - 1)]
                or [" ".join(toks)])
        # coverage counts token chars only (no join spaces) and the
        # fraction caps at 1.0 — overlapping occurrences share tokens
        top = max(bigs.count(g) * len(g.replace(" ", ""))
                  for g in set(bigs))
        frac = min(top / max(sum(len(t) for t in toks), 1), 1.0)
        assert got[i] == (round(dup, 6), round(frac, 6)), (i, got[i])


@pytest.mark.slow
def test_dedup_pipeline_end_to_end(spark):
    """The full near-dup pipeline composes: MinHash-LSH pairs →
    connected components → keep-list. A 3-way transitive cluster
    (A≈B≈C where A and C differ enough that only B links them) must
    collapse to ONE survivor — the per-pair min-id policy would keep
    two of the three."""
    from vectordb_testbricks_spark.operators.dedup import (
        connected_components, dedup_keep_list, minhash_lsh_dedup)
    base = ("the quick brown fox jumps over the lazy dog while "
            "seventeen sleepy cats watch from the warm garden wall")
    words = base.split()
    a = " ".join(words)
    b = " ".join(words[:-1] + ["fence"])            # 1-token edit vs A
    c = " ".join(["meanwhile"] + words[1:-1] + ["fence"])  # 1 vs B, 2 vs A
    rows = [(0, a), (1, b), (2, c),
            (3, "completely different text about spark query planning "
                "and shuffle partition tuning at large scale")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5)
    got_pairs = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got_pairs and (1, 2) in got_pairs
    assert not any(3 in p for p in got_pairs)
    comp = connected_components(pairs)
    labels = {r.id: r.component for r in comp.collect()}
    assert labels == {0: 0, 1: 0, 2: 0}
    kept = sorted(r.doc_id for r in
                  dedup_keep_list(docs, "doc_id", comp).collect())
    assert kept == [0, 3]


def test_highlighter_and_run_analyzer(spark):
    """3.0-roadmap highlighter prototype: fragment windows, <em> term
    wrapping, Lucene-style fragment scores, no-match and NULL-text
    rows, multi-fragment config, and run_analyzer's driver twin."""
    from vectordb_testbricks_spark.operators.textquality import (
        highlight_matches, run_analyzer)
    assert run_analyzer("The QUICK, brown fox!") == [
        "the", "quick", "brown", "fox"]
    rows = [(0, "alpha beta gamma spark delta epsilon zeta"),
            (1, "spark at the start and spark again later here"),
            (2, "no match anywhere in this row"),
            (3, None)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in highlight_matches(
        docs, "doc_id", "text", "Spark", window=2,
        max_fragments=2).collect()}
    assert out[0].n_matches == 1
    assert out[0].fragments == [
        "beta gamma <em>spark</em> delta epsilon"]
    assert out[0].frag_scores == [1]
    assert out[1].n_matches == 2
    # first match at position 1: the constant-length window slides to
    # the array start rather than shrinking
    assert out[1].fragments[0] == "<em>spark</em> at the start and"
    assert out[1].fragments[1] == "start and <em>spark</em> again later"
    assert out[1].frag_scores == [1, 1]
    assert out[2].n_matches == 0 and out[2].fragments == []
    assert out[3].n_matches is None and out[3].fragments is None
    # right-edge slide (r08 advisor): a match at the LAST token must
    # still yield a constant-length 2*window+1 fragment, sliding left
    end_rows = [(0, "one two three four five six spark")]
    edocs = spark.createDataFrame(end_rows, "doc_id bigint, text string")
    eout = highlight_matches(edocs, "doc_id", "text", "spark",
                             window=2).collect()[0]
    assert eout.fragments == ["three four five six <em>spark</em>"]
    # weighted fragment scoring (r08 advisor): term_weights sums matched
    # terms' weights; terms absent from the map default to 1.0
    wrows = [(0, "spark flink beam spark"), (1, "flink only here")]
    wdocs = spark.createDataFrame(wrows, "doc_id bigint, text string")
    wout = {r.doc_id: r for r in highlight_matches(
        wdocs, "doc_id", "text", "spark flink", window=3,
        term_weights={"spark": 2.5}).collect()}
    # window around first 'spark' covers [spark flink beam spark]:
    # 2.5 + 1.0 + 2.5 = 6.0
    assert wout[0].frag_scores == [6.0]
    assert wout[1].frag_scores == [1.0]


def test_embedding_near_dups_unblocked_guard(spark):
    """Judge r08 #3: an unblocked all-pairs self-join above the size
    threshold raises loudly instead of planning an O(n^2) join; blocking
    (sign_bits or block_col) or an explicit opt-in threshold lifts it."""
    import pytest
    from pyspark.sql import functions as F
    from vectordb_testbricks_spark.operators.dedup import (
        embedding_near_dups)
    base = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), (F.col("id") % 7).cast("double"),
                F.lit(0.5)).alias("embedding"))
    with pytest.raises(ValueError, match="all-pairs"):
        embedding_near_dups(base, "vec_id", "embedding",
                            allow_all_pairs_rows=100)
    # sign_bits blocking lifts the guard (<= dim of the 3-wide vectors)
    embedding_near_dups(base, "vec_id", "embedding", sign_bits=2,
                        allow_all_pairs_rows=100).count()
    # explicit opt-in lifts it too
    embedding_near_dups(base, "vec_id", "embedding",
                        allow_all_pairs_rows=1000).count()


def test_prepare_search_pool_prepared_plans_match_adhoc(spark, tables):
    """prepare_search_pool: pooled prepared plans return exactly the
    ad-hoc knn_search results on re-execution (the pool only skips
    Catalyst re-analysis, never changes semantics), and a pooled
    DataFrame is safely re-collectable."""
    from vectordb_testbricks_spark.functions.vector import to_double_array
    from vectordb_testbricks_spark.operators.search import (
        knn_search, prepare_search_pool)
    emb = tables["embeddings"].df
    sides = [emb.filter(F.col("vec_id") == i)
             .select(F.col("vec_id").cast("int").alias("query_id"),
                     to_double_array(F.col("embedding")).alias("qvec"))
             for i in (0, 3)]
    pool = prepare_search_pool(emb, sides, "embedding", "vec_id",
                               metric="COSINE", k=5)
    assert len(pool) == 2
    for side, prepared in zip(sides, pool):
        adhoc = knn_search(emb, side, "embedding", "vec_id",
                           metric="COSINE", k=5)
        want = sorted(map(tuple, adhoc.collect()))
        assert sorted(map(tuple, prepared.collect())) == want
        # re-execution of the same prepared plan stays identical
        assert sorted(map(tuple, prepared.collect())) == want


# ------------------------------------ query sides as local relations

#: query values whose exact transfer matters: a negative zero, a
#: subnormal-range magnitude and one near the double range's top
_EDGE_VALUES = [-0.0, 1e-300, 1e300]
#: values a query literal must carry that SQL text of their repr cannot:
#: NaN, both infinities, the smallest subnormal and the largest double
_NON_FINITE = [float("nan"), float("inf"), float("-inf"), 5e-324,
               1.7976931348623157e308]


def _rdd_relation(spark, rows, schema):
    """The former query-side builder: a parallelized list."""
    return spark.createDataFrame(rows, schema)


def _bits(values):
    import struct
    return [struct.pack(">d", v) for v in values]


def test_local_query_relation_is_bit_exact(spark):
    """queries_df carries every double bit-for-bit, -0.0 included, and
    matches the parallelized-list relation row for row; a one-row
    query side's literal carries the same bits."""
    from vectordb_testbricks_spark.operators import search
    vecs = [_EDGE_VALUES + [0.1], [2.5, -1.0, 1e-300, -0.0],
            _NON_FINITE + [-0.0]]
    got = search.queries_df(spark, vecs).collect()
    assert [r.query_id for r in got] == [0, 1, 2]
    assert [_bits(r.qvec) for r in got] == [_bits(v) for v in vecs]
    old = _rdd_relation(spark, [(i, v) for i, v in enumerate(vecs)],
                        search.queries_df(spark, vecs).schema).collect()
    assert [_bits(r.qvec) for r in got] == [_bits(r.qvec) for r in old]
    assert search._single_query(search.queries_df(spark, vecs)) is None
    for i, v in enumerate(vecs):
        q = search._single_query(search.local_relation(
            spark, [(i, v)], "query_id int, qvec array<double>"))
        lit = spark.range(1).select(q["query_id"].alias("query_id"),
                                    q["qvec"].alias("qvec")).first()
        assert lit.query_id == i and _bits(lit.qvec) == _bits(v)


def _rows(df):
    """A result's rows, sorted, with floats by repr (so NaN and -0.0
    compare equal to themselves)."""
    return sorted(tuple(repr(v) if isinstance(v, float) else v for v in r)
                  for r in df.collect())


@pytest.mark.parametrize("nq", [1, 4])
def test_knn_local_query_side_matches_rdd_side(spark, nq):
    """kNN over the local query relation returns the rows, scores and
    ranks the parallelized-list relation returned, for edge values. At
    nq=1 the local side is scored as a literal and ranked by a
    take-ordered limit while the list side is broadcast and windowed, so
    each non-finite or extreme value must reach both alike."""
    import random
    from vectordb_testbricks_spark.operators.search import (
        knn_search, queries_df)
    rnd = random.Random(nq)
    base = spark.createDataFrame(
        [(i, [rnd.uniform(-2, 2) for _ in range(4)]) for i in range(60)],
        "id long, vec array<double>")
    batches = [[[_EDGE_VALUES[(q + j) % 3] if j < 2 else rnd.uniform(-1, 1)
                 for j in range(4)] for q in range(nq)]]
    if nq == 1:
        batches += [[[v, 0.5, -0.25, 1.0]] for v in _NON_FINITE]
    for vecs in batches:
        local = queries_df(spark, vecs)
        old = _rdd_relation(spark, [(i, v) for i, v in enumerate(vecs)],
                            local.schema)
        for metric in ("IP", "L2", "COSINE", "HAMMING"):
            hits = [_rows(knn_search(base, q, "vec", "id", metric=metric,
                                     k=5)) for q in (local, old)]
            assert hits[0] == hits[1] and len(hits[0]) == 5 * nq, \
                (metric, vecs)


def test_bm25_and_sparse_local_query_sides_match_rdd_sides(spark,
                                                           monkeypatch):
    """BM25 and both sparse paths build their query sides with
    search.local_relation; swapping in the parallelized-list builder
    changes no row, score or rank."""
    from vectordb_testbricks_spark.operators import search
    from vectordb_testbricks_spark.operators.bm25 import bm25_search_many
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 3} spark w{i % 11}") for i in range(80)],
        "doc_id long, text string")
    texts = ["spark w1", "w2 w2 w5", "nothing matches"]
    sparse = _sparse_corpus(spark, n=300, vocab=20)
    qmaps = [{"t1": _EDGE_VALUES[0], "t2": 1.0, "t3": 0.5},
             {"t4": _EDGE_VALUES[1], "t5": 2.0},
             {"t6": _EDGE_VALUES[2], "t7": -1.0}]
    postings = search.sparse_postings(sparse, "svec", "id")

    def run():
        return [
            sorted(tuple(r) for r in bm25_search_many(
                docs, texts, "doc_id", "text", k=4).collect()),
            sorted(tuple(r) for r in search.sparse_search_many(
                sparse, qmaps, "svec", "id", k=4).collect()),
            sorted(tuple(r) for r in search.sparse_search_postings_many(
                postings, qmaps, "id", k=4).collect()),
        ]

    new = run()
    monkeypatch.setattr(search, "local_relation", _rdd_relation)
    assert run() == new
    assert all(new), new


# ------------------------------ one query alone vs inside a batch


def _hybrid_corpus(spark):
    """50 rows of (pk, cat, vec, text) with few distinct vector values,
    so scores tie often, plus a stored NULL vector (pk 50), a zero-norm
    vector (pk 51, NULL under COSINE) and two copies of pk 7's vector."""
    import random
    rnd = random.Random(5)
    vecs = [[rnd.choice([-1.0, -0.5, 0.0, 0.5, 1.0]) for _ in range(4)]
            for _ in range(50)]
    rows = [(i, i % 3, v, f"w{i % 7} w{i % 3} spark w{i % 11}")
            for i, v in enumerate(vecs)]
    rows += [(50, 0, None, "w1 w2"), (51, 1, [0.0] * 4, "spark"),
             (52, 2, vecs[7], "w5 w5"), (53, 0, vecs[7], "w0")]
    return spark.createDataFrame(
        rows, "pk long, cat int, vec array<double>, text string")


def _alone_and_in_batch(search, first, second):
    """(rows of ``search([first])``, rows of query 0 in
    ``search([first, second])``)."""
    return (_rows(search([first])),
            _rows(search([first, second]).filter(F.col("query_id") == 0)))


@pytest.mark.parametrize("metric", ["L2", "IP", "COSINE", "HAMMING"])
def test_knn_one_query_matches_its_rows_in_a_batch(spark, metric):
    """One query (a literal, top-k by a take-ordered limit) gets exactly
    the rows it gets as query 0 of a two-query batch (a broadcast query
    side, top-k by a window): with a filter, a stored NULL vector, a
    zero-norm vector, k above the filtered row count, ties broken by pk,
    and group_by, which ranks through its windows at any nq."""
    from vectordb_testbricks_spark.operators.search import (
        knn_search, queries_df)
    base = _hybrid_corpus(spark)
    for kw in ({"k": 5}, {"k": 30, "flt": "cat == 1"},
               {"k": 3, "group_by": "cat", "group_size": 2}):
        def search(qs):
            return knn_search(base, queries_df(spark, qs), "vec", "pk",
                              metric=metric, **kw)
        alone, in_batch = _alone_and_in_batch(
            search, [0.5, -1.0, 0.25, 1.0], [1.0, 1.0, -1.0, 0.0])
        assert alone and alone == in_batch, (kw, alone, in_batch)
        plan = search([[1.0] * 4])._jdf.queryExecution().executedPlan()
        assert ("TakeOrderedAndProject" in plan.toString()) \
            == ("group_by" not in kw)
    # k is above the 18 filtered rows; COSINE drops the zero-norm row
    filtered = _rows(knn_search(base, queries_df(spark, [[1.0] * 4]), "vec",
                                "pk", metric=metric, k=30, flt="cat == 1"))
    assert len(filtered) == (17 if metric == "COSINE" else 18)


def test_bm25_one_text_matches_its_rows_in_a_batch(spark, tmp_path):
    """One BM25 text (literal terms, take-ordered top-k) gets exactly the
    rows it gets as text 0 of a two-text batch: a repeated query term, a
    text that analyzes to zero terms, and a filter through
    mgr.bm25_search."""
    from vectordb_testbricks_spark.manager import CollectionManager
    from vectordb_testbricks_spark.operators.bm25 import bm25_search_many
    from vectordb_testbricks_spark.schema import (
        FieldSpec, FunctionSpec, SchemaSpec)
    corpus = _hybrid_corpus(spark)
    texts = ["spark w1", "w2 w5 w2 w2", "!!!"]
    for text in texts:
        alone, in_batch = _alone_and_in_batch(
            lambda ts: bm25_search_many(corpus, ts, "pk", "text", k=4),
            text, "w3 spark")
        assert alone == in_batch and bool(alone) == (text != "!!!"), text
    mgr = CollectionManager(spark, str(tmp_path / "wh"))
    mgr.create_collection(SchemaSpec("c", [
        FieldSpec("pk", "INT64", primary=True),
        FieldSpec("cat", "INT64"),
        FieldSpec("text", "VARCHAR", max_length=64, enable_analyzer=True),
        FieldSpec("sparse_bm25", "SPARSE_FLOAT_VECTOR"),
    ], functions=[FunctionSpec("fts", "BM25", "text", "sparse_bm25")]))
    mgr.insert("c", corpus.select(
        "pk", F.col("cat").cast("long").alias("cat"), "text",
        F.lit(None).cast("map<int,float>").alias("sparse_bm25")))
    for text in texts:
        alone, in_batch = _alone_and_in_batch(
            lambda ts: mgr.bm25_search("c", ts, k=4, flt="cat != 2"),
            text, "w3 spark")
        assert alone == in_batch and bool(alone) == (text != "!!!"), text


def test_fusion_of_one_query_matches_its_rows_in_a_batch(spark):
    """rrf_fuse and weighted_fuse (with offset) over one query's branches
    return exactly the rows they return for that query inside a
    two-query batch."""
    from vectordb_testbricks_spark.operators.bm25 import bm25_search_many
    from vectordb_testbricks_spark.operators.fusion import (
        rrf_fuse, weighted_fuse)
    from vectordb_testbricks_spark.operators.search import (
        knn_search, queries_df)
    corpus = _hybrid_corpus(spark)
    queries = [([0.5, -1.0, 0.25, 1.0], "spark w1 w1"),
               ([1.0, 1.0, -1.0, 0.0], "w3")]

    def branches(n):
        qs = queries[:n]
        return [knn_search(corpus, queries_df(spark, [v for v, _ in qs]),
                           "vec", "pk", metric="COSINE", k=8),
                bm25_search_many(corpus, [t for _, t in qs], "pk", "text",
                                 k=8)]

    for fuse in (lambda bs: rrf_fuse(bs, "pk", k=5, offset=2),
                 lambda bs: weighted_fuse(bs, [0.6, 0.4], "pk", k=5,
                                          offset=1)):
        alone = _rows(fuse(branches(1)))
        in_batch = _rows(fuse(branches(2)).filter(F.col("query_id") == 0))
        assert len(alone) == 5 and alone == in_batch, (alone, in_batch)


def test_lsh_candidate_regimes_identical_on_duplicate_ids(spark,
                                                         monkeypatch):
    """Both candidate-pair regimes of lsh_candidate_pairs emit the same
    pairs on an input that repeats an id: the small-corpus bucket-local
    emit drops id_a == id_b exactly as the self-join's id_a < id_b does.
    The regimes are forced through the size threshold."""
    from vectordb_testbricks_spark import materialize
    from vectordb_testbricks_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
         (2, "alpha beta gamma delta"), (3, "one two three four five"),
         (3, "one two three four five six"), (4, "unrelated words here")],
        "doc_id long, text string")
    sigs = minhash_signatures(docs, "doc_id", "text")
    monkeypatch.setattr(materialize, "BARRIER_MIN_ROWS", 2 ** 63)
    small = sorted(tuple(r) for r in lsh_candidate_pairs(
        sigs, "doc_id").collect())
    monkeypatch.setattr(materialize, "BARRIER_MIN_ROWS", 0)
    joined = sorted(tuple(r) for r in lsh_candidate_pairs(
        sigs, "doc_id").collect())
    assert small == joined
    assert (1, 2) in small and all(a < b for a, b in small)
