"""Identity tests for the Arrow-batched numpy kernels (r09, judge r08
task 1): each kernel must be a bit-for-bit twin of its JVM expression
path — the kernels exist to dodge the per-JVM HotSpot slow mode on
interpreted-HOF chains (BASELINE.md r08), never to change results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

EDGE_DOCS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "the quick  brown FOX"),          # case fold + run of spaces
    (3, None),                            # NULL text
    (4, ""),                              # empty text
    (5, "###!!!"),                        # no alnum at all
    (6, "one two"),                       # shorter than shingle_n
    (7, "a b c d e f g h i j k l m n o p"),
    (8, "dup dup dup dup dup"),           # heavy repetition
    (9, "Ünïcode tøkens stay stable"),    # non-ascii split points
]


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id bigint, text string")


def _collect_map(df, key, *cols):
    return {r[key]: tuple(r[c] for c in cols) for r in df.collect()}


class TestMinhashKernel:
    # shingle_n=0 pins the ADVICE r09 twin fix: both paths must switch
    # on truthiness (raw tokens), not `is None`
    @pytest.mark.parametrize("shingle_n", [3, 2, None, 0])
    def test_codes_and_sigs_identical_to_jvm(self, spark, edge_docs,
                                             shingle_n):
        from vectordb_testbricks_spark.operators.arrow_kernels import (
            minhash_codes_sigs)
        from vectordb_testbricks_spark.operators.dedup import (
            NUM_HASHES, _token_codes, signatures_from_codes)
        jvm_codes = _token_codes(edge_docs, "doc_id", "text", shingle_n)
        jvm = _collect_map(
            signatures_from_codes(jvm_codes, "doc_id")
            .join(jvm_codes, "doc_id"), "doc_id", "codes", "sig")
        ar = _collect_map(
            minhash_codes_sigs(edge_docs, "doc_id", "text",
                               NUM_HASHES, shingle_n),
            "doc_id", "codes", "sig")
        assert jvm == ar

    def test_fixture_corpus_identical(self, spark, tables):
        """Full documents fixture: every code array and signature equal."""
        from vectordb_testbricks_spark.operators.arrow_kernels import (
            minhash_codes_sigs)
        from vectordb_testbricks_spark.operators.dedup import (
            NUM_HASHES, _token_codes, signatures_from_codes)
        docs = tables["documents"].df.select("doc_id", "text")
        jvm_codes = _token_codes(docs, "doc_id", "text", 3)
        jvm = _collect_map(
            signatures_from_codes(jvm_codes, "doc_id")
            .join(jvm_codes, "doc_id"), "doc_id", "codes", "sig")
        ar = _collect_map(
            minhash_codes_sigs(docs, "doc_id", "text", NUM_HASHES, 3),
            "doc_id", "codes", "sig")
        assert jvm == ar

    def test_pipeline_pairs_identical(self, spark, tables):
        """End-to-end minhash_lsh_dedup (the kernel path) returns the
        same verified pair set, with the same Jaccard, as the pipeline
        rebuilt from the JVM expression stages."""
        from vectordb_testbricks_spark.operators.dedup import (
            _token_codes, jaccard_pairs, lsh_candidate_pairs,
            minhash_lsh_dedup, signatures_from_codes)
        docs = tables["documents"].df.select("doc_id", "text")
        doubled = docs.unionByName(docs.select(
            (F.col("doc_id") + 500000).alias("doc_id"), "text"))

        def pairs(df):
            return sorted((r["id_a"], r["id_b"], round(r["jaccard"], 9))
                          for r in df.collect())

        codes = _token_codes(doubled, "doc_id", "text", 3)
        cands = lsh_candidate_pairs(
            signatures_from_codes(codes, "doc_id"), "doc_id")
        j = pairs(jaccard_pairs(codes, cands, "doc_id")
                  .filter(F.col("jaccard") >= 0.7))
        a = pairs(minhash_lsh_dedup(doubled, "doc_id", "text",
                                    threshold=0.7))
        assert a == j
        assert len(a) > 0


class TestNgramKernelPath:
    def test_ngram_pairs_identical(self, spark, tables, edge_docs):
        """ngram_jaccard_pairs (kernel codes + kernel verify) returns the
        pair set, with the same Jaccard, of its JVM twin: _token_codes +
        ngram_candidate_pairs + jaccard_pairs. The edge docs add a NULL
        text ([NULL] codes), empty and sub-shingle rows."""
        from vectordb_testbricks_spark.operators.dedup import (
            _token_codes, jaccard_pairs, ngram_candidate_pairs,
            ngram_jaccard_pairs)
        docs = tables["documents"].df.select("doc_id", "text")
        corpus = docs.unionByName(docs.select(
            (F.col("doc_id") + 500000).alias("doc_id"), "text")) \
            .unionByName(edge_docs.select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"))

        def pairs(df):
            return sorted((r["id_a"], r["id_b"], round(r["jaccard"], 9))
                          for r in df.collect())

        codes = _token_codes(corpus, "doc_id", "text", shingle_n=3)
        cands = ngram_candidate_pairs(codes, "doc_id", 0.7, max_df=50,
                                      min_shared=2)
        j = pairs(jaccard_pairs(codes, cands, "doc_id")
                  .filter(F.col("jaccard") >= 0.7))
        a = pairs(ngram_jaccard_pairs(corpus, "doc_id", "text", n=3,
                                      threshold=0.7, max_df=50,
                                      min_shared=2))
        assert a == j
        assert len(a) > 0


class TestPrefixPostingsKernel:
    """r10: the code-total-order posting build — the kernel must be a
    row-for-row twin of the JVM window path (same sz/pos/code set), and
    the final pair set must be identical to the rarity order's."""

    @pytest.mark.parametrize("max_df", [50, 3])
    def test_postings_identical_to_jvm_twin(self, spark, tables,
                                            edge_docs, max_df,
                                            monkeypatch):
        from vectordb_testbricks_spark import materialize
        from vectordb_testbricks_spark.operators.dedup import (
            _code_order_postings, _code_order_postings_jvm, _token_codes)
        # force the pigeonhole candidate branch (normally a >=100k-doc
        # scale escape) so the fixture-scale identity covers it;
        # max_df=3 makes the blacklist it produces NON-empty
        monkeypatch.setattr(materialize, "BARRIER_MIN_ROWS", 0)
        docs = tables["documents"].df.select("doc_id", "text")
        doubled = docs.unionByName(docs.select(
            (F.col("doc_id") + 500000).alias("doc_id"), "text"))
        # edge docs fold in the NULL-text ([NULL] codes), empty and
        # sub-shingle rows
        corpus = doubled.unionByName(
            edge_docs.select((F.col("doc_id") + 2000000).alias("doc_id"),
                             "text"))
        codes = _token_codes(corpus, "doc_id", "text", 3)
        # the reference blacklists by exact aggregation, so equality also
        # proves the pigeonhole blacklist exact
        jvm = sorted(map(tuple, _code_order_postings_jvm(
            codes, "doc_id", 0.7, max_df).collect()))
        ar = sorted(map(tuple, _code_order_postings(
            codes, "doc_id", 0.7, max_df).collect()))
        assert jvm == ar
        assert len(jvm) > 0

    def test_order_equivalence_final_pairs(self, spark, tables,
                                           monkeypatch):
        from vectordb_testbricks_spark.operators import dedup
        from vectordb_testbricks_spark.operators.dedup import (
            ngram_jaccard_pairs)
        docs = tables["documents"].df.select("doc_id", "text")
        doubled = docs.unionByName(docs.select(
            (F.col("doc_id") + 500000).alias("doc_id"), "text"))

        def pairs(**kw):
            return sorted(
                (r["id_a"], r["id_b"], round(r["jaccard"], 9))
                for r in ngram_jaccard_pairs(
                    doubled, "doc_id", "text", n=3, threshold=0.7,
                    max_df=50, **kw).collect())

        rarity = pairs(order="rarity")
        code_a = pairs(order="code")
        # the same code-order pipeline over the JVM posting reference
        monkeypatch.setattr(
            dedup, "_code_order_postings",
            lambda codes, id_col, threshold, max_df:
            dedup._code_order_postings_jvm(codes, id_col, threshold,
                                           max_df))
        code_j = pairs(order="code")
        assert rarity == code_a == code_j
        assert len(rarity) > 0

    def test_local_heavy_codes_pigeonhole_superset(self, spark):
        from vectordb_testbricks_spark.operators.arrow_kernels import (
            local_heavy_codes_arrow)
        # 40 distinct docs; doc text i repeated (i % 7) + 1 times so
        # several codes cross any small df threshold
        rows = [(i * 100 + j, f"alpha beta w{i} x{i} y{i} z{i}")
                for i in range(40) for j in range((i % 7) + 1)]
        # pigeonhole validity needs P <= max_df: df > 3 over 2
        # partitions forces a local count >= ceil(4/2) = 2 somewhere
        docs = spark.createDataFrame(rows, "doc_id bigint, text string") \
            .repartition(2)
        from vectordb_testbricks_spark.operators.dedup import _token_codes
        codes = _token_codes(docs, "doc_id", "text", 3).persist()
        max_df = 3
        exact_heavy = {
            r["code"] for r in codes.select(F.explode("codes").alias("code"))
            .groupBy("code").count().filter(F.col("count") > max_df)
            .collect()}
        assert exact_heavy              # the fixture must exercise it
        cand = {r["code"] for r in
                local_heavy_codes_arrow(codes, 2).distinct().collect()}
        assert exact_heavy <= cand      # exact superset (pigeonhole)
        codes.unpersist()

    def test_local_heavy_tiny_partition_high_min_local(self, spark):
        # ADVICE r10: a partition whose flattened code count is SMALLER
        # than min_local used to crash the run-length pass (negative
        # slice stop wrapped around -> non-broadcastable shapes). Real
        # trigger: max_df=50 over <=12 partitions gives min_local=5 and
        # one near-empty partition kills the whole blacklist stage.
        from vectordb_testbricks_spark.operators.arrow_kernels import (
            local_heavy_codes_arrow)
        from vectordb_testbricks_spark.operators.dedup import _token_codes
        # one doc with 3 shingle codes, forced onto few-row partitions
        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "p q r s t")],
            "doc_id bigint, text string").repartition(8)
        codes = _token_codes(docs, "doc_id", "text", 3)
        # min_local=5 > any partition's flat size -> no heavy candidates,
        # and crucially no ValueError
        assert local_heavy_codes_arrow(codes, 5).collect() == []
        # a genuinely heavy code still surfaces when one partition holds
        # >= min_local copies
        rows = [(i, "x y z w v") for i in range(12)]
        heavy_codes = _token_codes(
            spark.createDataFrame(rows, "doc_id bigint, text string")
            .coalesce(1), "doc_id", "text", 3)
        got = {r["code"] for r in
               local_heavy_codes_arrow(heavy_codes, 5).collect()}
        assert len(got) == 3            # the 3 shared shingle codes

    def test_postings_null_element_keeps_int64_exact(self, spark):
        # ADVICE r10: a NULL element used to route the whole code array
        # through float64, silently rounding codes >= 2^53. The object
        # branch must stay exact int64 end-to-end.
        from vectordb_testbricks_spark.operators.arrow_kernels import (
            prefix_postings_arrow)
        big = (1 << 60) + 3            # not representable in float64
        codes = spark.createDataFrame(
            [(1, [big, None, 5]), (2, None), (3, [])],
            "doc_id bigint, codes array<bigint>")
        rows = sorted(map(tuple, prefix_postings_arrow(
            codes, "doc_id", 0.0, []).collect()))
        # sz counts the FULL array incl. the NULL slot (F.size twin);
        # NULL arrays/elements never post; codes survive bit-exact
        assert rows == [(1, 3, 0, 5), (1, 3, 1, big)]

    def test_local_heavy_min_local_one_raises(self, spark, edge_docs):
        from vectordb_testbricks_spark.operators.arrow_kernels import (
            local_heavy_codes_arrow)
        with pytest.raises(ValueError, match="min_local"):
            local_heavy_codes_arrow(edge_docs.limit(1), 1)

    def test_unknown_order_raises(self, spark, edge_docs):
        from vectordb_testbricks_spark.operators.dedup import (
            ngram_jaccard_pairs)
        with pytest.raises(ValueError, match="unknown order"):
            ngram_jaccard_pairs(edge_docs, "doc_id", "text",
                                order="df").collect()


SPARSE_ROWS = [
    (1, {0: 1.0, 5: 2.5, 9: -0.75}),
    (2, {5: 0.25}),
    (3, {}),                              # empty map -> no postings
    (4, None),                            # NULL map -> no postings
    (5, {7: 4.0, 2: 1.25, 11: 3.5, 0: 0.5}),
]


class TestSparsePostingsKernel:
    def test_postings_identical_int_keys(self, spark):
        from vectordb_testbricks_spark.operators.arrow_kernels import (
            sparse_postings_arrow)
        from vectordb_testbricks_spark.operators.search import (
            sparse_postings)
        base = spark.createDataFrame(SPARSE_ROWS,
                                     "pk bigint, svec map<int,double>")
        jvm = sorted(map(tuple, sparse_postings(
            base, "svec", "pk").collect()))
        ar = sorted(map(tuple, sparse_postings_arrow(
            base, "svec", "pk").collect()))
        assert jvm == ar

    def test_postings_identical_string_keys(self, spark):
        from vectordb_testbricks_spark.operators.arrow_kernels import (
            sparse_postings_arrow)
        from vectordb_testbricks_spark.operators.search import (
            sparse_postings)
        rows = [(1, {"alpha": 1.5, "beta": -2.0}), (2, None),
                (3, {"beta": 0.25})]
        base = spark.createDataFrame(rows,
                                     "pk bigint, svec map<string,double>")
        jvm = sorted(map(tuple, sparse_postings(
            base, "svec", "pk").collect()))
        ar = sorted(map(tuple, sparse_postings_arrow(
            base, "svec", "pk").collect()))
        assert jvm == ar

    def test_postings_identical_float_values(self, spark):
        """ADVICE r09: the kernel must preserve the map's declared value
        type — map<int,float> emits FLOAT postings on both paths, with
        identical schemas and identical float32 values."""
        from vectordb_testbricks_spark.operators.arrow_kernels import (
            sparse_postings_arrow)
        from vectordb_testbricks_spark.operators.search import (
            sparse_postings)
        rows = [(1, {3: 1.5, 7: -0.1}), (2, None), (3, {9: 0.2})]
        base = spark.createDataFrame(rows, "pk bigint, svec map<int,float>")
        jvm_df = sparse_postings(base, "svec", "pk")
        ar_df = sparse_postings_arrow(base, "svec", "pk")
        assert jvm_df.schema == ar_df.schema
        jvm = sorted(map(tuple, jvm_df.collect()))
        ar = sorted(map(tuple, ar_df.collect()))
        assert jvm == ar

    def test_non_map_column_raises(self, spark):
        from vectordb_testbricks_spark.operators.arrow_kernels import (
            sparse_postings_arrow)
        base = spark.createDataFrame([(1, "x")], "pk bigint, svec string")
        with pytest.raises(TypeError, match="MapType"):
            sparse_postings_arrow(base, "svec", "pk")

    def test_build_search_identity(self, spark):
        """build_sparse_inverted (the kernel postings) builds the
        postings of the JVM explode (search.sparse_postings) and serves
        identical results to an index over those AND to the brute-force
        map scan (the declared semantics)."""
        from vectordb_testbricks_spark.operators.ann_index import (
            SPARSE_BUCKET_COL, SparseInvModel, build_sparse_inverted,
            sparse_inverted_search)
        from vectordb_testbricks_spark.operators.search import (
            sparse_bucket_expr, sparse_postings, sparse_search_many)
        base = spark.createDataFrame(
            [(i, {int(k): float((i + k) % 7 + 1)
                  for k in range((i * 3) % 5 + 1)} if i % 50 else None)
             for i in range(200)],
            "pk bigint, svec map<int,double>")
        qmaps = [{0: 1.0, 2: 0.5}, {1: 2.0, 3: 1.0, 4: 0.25}]

        def hits(df):
            return sorted((r["query_id"], r["pk"], round(r["score"], 6),
                           r["rank"]) for r in df.collect())

        model = build_sparse_inverted(base, "svec", "pk", n_buckets=8)
        jvm = SparseInvModel(
            postings=sparse_postings(base, "svec", "pk").withColumn(
                SPARSE_BUCKET_COL, sparse_bucket_expr("key", 8)),
            key_col="key", id_col="pk", weight_col="weight", n_buckets=8)
        assert sorted(map(tuple, model.postings.collect())) == \
            sorted(map(tuple, jvm.postings.collect()))
        brute = hits(sparse_search_many(base, qmaps, "svec", "pk", k=10))
        assert hits(sparse_inverted_search(model, qmaps, k=10)) == brute
        assert hits(sparse_inverted_search(jvm, qmaps, k=10)) == brute


class TestScaleCorpusGen:
    def test_planted_duplicates_and_determinism(self, spark):
        import __spark_entry__ as E
        docs = E._gen_docs_arrow(spark, 2000, 1800)
        rows = {r["doc_id"]: r["text"] for r in docs.collect()}
        assert len(rows) == 2000
        # ids >= uniq are exact copies of their source docs
        for i in range(1800, 2000):
            assert rows[i] == rows[i - 1800]
        # deterministic across invocations
        rows2 = {r["doc_id"]: r["text"]
                 for r in E._gen_docs_arrow(spark, 2000, 1800).collect()}
        assert rows == rows2
        # 20 words per doc from the w<idx> vocab
        w = rows[0].split(" ")
        assert len(w) == 20 and all(t.startswith("w") for t in w)
        # distinct docs are actually distinct (decorrelated generator —
        # an affine word formula would alias docs onto shared orbits)
        assert len(set(rows.values())) == 1800


def _kernel_jaccard(codes, pairs):
    """The verify minhash_lsh_dedup and ngram_jaccard_pairs run."""
    from vectordb_testbricks_spark.operators.arrow_kernels import (
        jaccard_arrow)
    from vectordb_testbricks_spark.operators.dedup import _with_codes
    return jaccard_arrow(_with_codes(codes, pairs, "doc_id"))


class TestJaccardKernel:
    def test_jaccard_identical_to_jvm(self, spark, tables):
        """The kernel verify == jaccard_pairs on real candidate pairs
        over the doubled fixture corpus (exact doubles at J=1 plus
        partial overlaps from LSH collisions)."""
        from vectordb_testbricks_spark.operators.dedup import (
            _token_codes, jaccard_pairs, lsh_candidate_pairs,
            signatures_from_codes)
        docs = tables["documents"].df.select("doc_id", "text")
        doubled = docs.unionByName(docs.select(
            (F.col("doc_id") + 500000).alias("doc_id"), "text"))
        codes = _token_codes(doubled, "doc_id", "text", 3)
        cands = lsh_candidate_pairs(
            signatures_from_codes(codes, "doc_id"), "doc_id")

        def rows(df):
            return sorted((r["id_a"], r["id_b"], round(r["jaccard"], 12))
                          for r in df.collect())

        a = rows(_kernel_jaccard(codes, cands))
        j = rows(jaccard_pairs(codes, cands, "doc_id"))
        assert a == j and len(a) > 0

    def test_jaccard_null_and_partial(self, spark):
        """NULL code arrays yield NULL jaccard on both paths; partial
        overlaps agree to the exact double; an extra pair column rides
        through both unchanged."""
        from vectordb_testbricks_spark.operators.dedup import jaccard_pairs
        codes = spark.createDataFrame(
            [(1, [10, 20, 30]), (2, [20, 30, 40, 50]), (3, None),
             (4, [10, 20, 30])],
            "doc_id bigint, codes array<bigint>")
        pairs = spark.createDataFrame(
            [(1, 2, "x"), (1, 3, "y"), (1, 4, "x")],
            "id_a bigint, id_b bigint, mode string")

        def rows(df):
            assert df.columns == ["id_a", "id_b", "mode", "jaccard"]
            return sorted(map(tuple, df.collect()))

        a = rows(_kernel_jaccard(codes, pairs))
        j = rows(jaccard_pairs(codes, pairs, "doc_id"))
        assert a == j
        got = {(x, y): v for x, y, _, v in a}
        assert got[(1, 2)] == 2 / 5.0
        assert got[(1, 3)] is None
        assert got[(1, 4)] == 1.0

    def test_jaccard_null_elements_match_nullsafe(self, spark):
        """Review r09 #1: codes arrays CONTAINING a null arrive in
        pandas as float64 NaN arrays — the kernel must normalize them
        so a NULL element null-safe-matches a NULL element, exactly
        like Spark's array_intersect (two NULL-text docs pair at
        jaccard 1.0 on both paths)."""
        from vectordb_testbricks_spark.operators.dedup import (
            jaccard_pairs, minhash_lsh_dedup)
        codes = spark.createDataFrame(
            [(1, [None]), (2, [None]), (3, [None, 7]), (4, [7, 9])],
            "doc_id bigint, codes array<bigint>")
        pairs = spark.createDataFrame(
            [(1, 2), (1, 3), (3, 4)], "id_a bigint, id_b bigint")

        def rows(df):
            return sorted(map(tuple, df.collect()))

        a = rows(_kernel_jaccard(codes, pairs))
        j = rows(jaccard_pairs(codes, pairs, "doc_id"))
        assert a == j
        got = {(x, y): v for x, y, v in a}
        assert got[(1, 2)] == 1.0          # [NULL] vs [NULL]
        assert got[(1, 3)] == 0.5          # [NULL] vs [NULL, 7]
        assert got[(3, 4)] == 1 / 3.0      # [NULL,7] vs [7,9]
        # end-to-end: two NULL-text docs pair on the kernel pipeline
        docs = spark.createDataFrame(
            [(1, None), (2, None), (3, "real text here")],
            "doc_id bigint, text string")
        got_pairs = sorted(
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_dedup(docs, "doc_id", "text",
                                       threshold=0.7).collect())
        assert got_pairs == [(1, 2)]


class TestKnnKernel:
    """Identity suite for the dense-scoring kernel (r10):
    knn_search_arrow's rows, scores, and ranks bit-identical to
    knn_search, the JVM HOF expression path."""

    @pytest.mark.parametrize("metric", ["COSINE", "L2", "IP", "HAMMING"])
    def test_fixture_identical_all_metrics(self, spark, tables, metric):
        from vectordb_testbricks_spark.functions.vector import (
            to_double_array)
        from vectordb_testbricks_spark.operators.arrow_kernels import (
            knn_search_arrow)
        from vectordb_testbricks_spark.operators.search import knn_search
        emb = tables["embeddings"].df
        q = (emb.filter(F.col("vec_id").isin([0, 5, 9]))
             .select(F.col("vec_id").alias("query_id"),
                     to_double_array(F.col("embedding")).alias("qvec")))
        jvm = knn_search(emb, q, "embedding", "vec_id", metric=metric, k=7)
        ar = knn_search_arrow(emb, q, "embedding", "vec_id", metric=metric,
                              k=7)
        assert sorted(map(tuple, jvm.collect())) == \
            sorted(map(tuple, ar.collect()))

    def test_edges_identical(self, spark):
        """NULL vector, NULL element, zero-norm (COSINE try_divide ->
        NULL), NaN element (ranks, NaN greatest), +inf, exact ties
        (id tie-break), and a filtered search."""
        from vectordb_testbricks_spark.operators.arrow_kernels import (
            knn_search_arrow)
        from vectordb_testbricks_spark.operators.search import knn_search
        rows = [
            (1, [1.0, 0.0, 0.0], "a"),
            (2, [1.0, 0.0, 0.0], "a"),       # exact tie with pk 1
            (3, None, "b"),                  # NULL vector
            (4, [1.0, None, 0.0], "b"),      # NULL element
            (5, [0.0, 0.0, 0.0], "a"),       # zero norm
            (6, [float("nan"), 1.0, 0.0], "a"),   # NaN scores rank
            (7, [float("inf"), 1.0, 0.0], "b"),   # inf scores
            (8, [0.5, 0.5, 0.0], "a"),
        ]
        base = spark.createDataFrame(
            rows, "pk bigint, v array<double>, tag string")
        q = spark.createDataFrame([(0, [1.0, 0.0, 0.0])],
                                  "query_id int, qvec array<double>")

        def key(rs):
            return sorted((r["query_id"], r["pk"], r["tag"], r["rank"],
                           repr(r["score"])) for r in rs)

        for metric in ("COSINE", "L2", "IP", "HAMMING"):
            for flt in (None, 'tag == "a"'):
                kw = dict(metric=metric, k=8, flt=flt, output_fields=["tag"])
                jvm = knn_search(base, q, "v", "pk", **kw).collect()
                ar = knn_search_arrow(base, q, "v", "pk", **kw).collect()
                assert key(jvm) == key(ar), (metric, flt)

    def test_null_query_vector_and_null_query_element(self, spark, tables):
        from vectordb_testbricks_spark.operators.arrow_kernels import (
            knn_search_arrow)
        from vectordb_testbricks_spark.operators.search import knn_search
        emb = tables["embeddings"].df
        dim = len(emb.select("embedding").first()[0])
        q = spark.createDataFrame(
            [(0, None), (1, [1.0] * (dim - 1) + [None])],
            "query_id int, qvec array<double>")
        for search in (knn_search, knn_search_arrow):
            got = search(emb, q, "embedding", "vec_id",
                         metric="COSINE", k=3).collect()
            assert got == [], search.__name__


class TestSimhashKernel:
    @pytest.mark.parametrize("bits", [16, 64])
    def test_signatures_identical_to_jvm(self, spark, edge_docs, bits):
        """Edge corpus: the Arrow simhash kernel is a bit-for-bit twin of
        the JVM expression path — incl. bits=64 (bit 63 wraps into the
        long's sign bit on both paths), NULL and token-less texts -> 0."""
        from vectordb_testbricks_spark.operators.dedup import (
            _simhash_signatures_jvm, simhash_signatures)
        jvm = _collect_map(
            _simhash_signatures_jvm(edge_docs, "doc_id", "text", bits),
            "doc_id", "simhash")
        ar = _collect_map(
            simhash_signatures(edge_docs, "doc_id", "text", bits),
            "doc_id", "simhash")
        assert jvm == ar

    def test_fixture_corpus_identical(self, spark, tables):
        from vectordb_testbricks_spark.operators.dedup import (
            _simhash_signatures_jvm, simhash_signatures)
        docs = tables["documents"].df.select("doc_id", "text")
        jvm = _collect_map(_simhash_signatures_jvm(docs, "doc_id", "text"),
                           "doc_id", "simhash")
        ar = _collect_map(simhash_signatures(docs, "doc_id", "text"),
                          "doc_id", "simhash")
        assert jvm == ar


class TestCodeOrderPostingMemo:
    def test_second_call_returns_memoized_relation(self, spark, edge_docs,
                                                   monkeypatch):
        """r12: the Arrow posting build closes over a fresh broadcast per
        call, so CacheManager plan equality can never dedup it — the
        session memo must hand back the SAME posting DataFrame (and the
        same blacklist) for a repeated build over the same codes plan,
        or every steady-state search re-runs the index build."""
        from vectordb_testbricks_spark import materialize
        from vectordb_testbricks_spark.materialize import shared_persist
        from vectordb_testbricks_spark.operators import dedup
        from vectordb_testbricks_spark.session import forget
        # small-corpus regime (no eager count, exact blacklist): the
        # parallelized edge docs carry no size statistics, so raise the
        # threshold past their Long.MaxValue-byte default estimate
        monkeypatch.setattr(materialize, "BARRIER_MIN_ROWS", 2 ** 63)
        codes = shared_persist(
            dedup._token_codes(edge_docs, "doc_id", "text", 3))
        try:
            p1 = dedup._code_order_postings(codes, "doc_id", 0.7, 50)
            p2 = dedup._code_order_postings(codes, "doc_id", 0.7, 50)
            assert p1 is p2
            # rows still correct on the memoized handle (vs the JVM
            # reference)
            jvm = dedup._code_order_postings_jvm(codes, "doc_id", 0.7, 50)
            key = lambda rs: sorted(
                (r["doc_id"], r["sz"], r["pos"], r["code"])
                for r in rs.collect())
            assert key(p2) == key(jvm)
            # explicit eviction protects the two-phase unpersist path
            forget(lambda slot, v: v is p1)
            p3 = dedup._code_order_postings(codes, "doc_id", 0.7, 50)
            assert p3 is not p1
        finally:
            codes.unpersist()
            # evict the MEMO VALUES (ADVICE r12: dropping `codes` was a
            # no-op — it is never a memo value — and leaked p3's handle
            # over the now-unpersisted codes cache into later tests);
            # locals() guards the early-assertion-failure path where p3
            # was never bound
            p3 = locals().get("p3")
            if p3 is not None:
                forget(lambda slot, v: v is p3)
