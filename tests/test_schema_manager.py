"""Schema validation rules (reference schema.py:175-243) + collection
lifecycle: create/drop/alias/partitions/DML round-trips."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from vectordb_testbricks_spark.manager import PARTITION_COL, CollectionManager
from vectordb_testbricks_spark.schema import (
    FieldSpec, FunctionSpec, IndexSpec, SchemaError, SchemaSpec)


def base_fields():
    return [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("category", "INT64"),
        FieldSpec("name", "VARCHAR", max_length=64, nullable=True),
        FieldSpec("emb", "FLOAT_VECTOR", dim=8),
    ]


def test_valid_schema_passes_and_maps():
    spec = SchemaSpec("c1", base_fields(),
                      indexes=[IndexSpec("emb", "IVF_FLAT", "COSINE")],
                      enable_dynamic_field=True).validate()
    st = spec.to_struct_type()
    assert st.fieldNames() == ["id", "category", "name", "emb", "_dynamic"]
    assert st["emb"].dataType.simpleString() == "array<float>"
    assert st["_dynamic"].dataType.simpleString() == "map<string,string>"
    assert spec.pk.name == "id"


@pytest.mark.parametrize("mutate,msg", [
    (lambda f: [x for x in f if not x.primary], "exactly one primary"),
    (lambda f: f + [FieldSpec("id2", "INT64", primary=True)], "exactly one primary"),
    (lambda f: f + [FieldSpec("bad", "FLOAT_VECTOR")], "needs dim"),
    (lambda f: f + [FieldSpec("arr", "ARRAY")], "needs element_type"),
    (lambda f: f + [FieldSpec("category", "INT64")], "duplicate"),
    (lambda f: f + [FieldSpec("pk2", "DOUBLE", is_partition_key=True)],
     "partition key must be"),
])
def test_invalid_schemas_rejected(mutate, msg):
    with pytest.raises(SchemaError, match=msg):
        SchemaSpec("bad", mutate(base_fields())).validate()


def test_auto_id_only_on_pk():
    fields = base_fields() + [FieldSpec("x", "INT64", auto_id=True)]
    with pytest.raises(SchemaError, match="auto_id"):
        SchemaSpec("bad", fields).validate()


def test_partition_key_xor_partitions():
    fields = base_fields() + [FieldSpec("tenant", "VARCHAR",
                                        is_partition_key=True)]
    with pytest.raises(SchemaError, match="mutually exclusive"):
        SchemaSpec("bad", fields, partitions=["p0", "p1"]).validate()


def test_bm25_function_spec():
    fields = base_fields() + [
        FieldSpec("text", "VARCHAR", enable_analyzer=True),
        FieldSpec("sparse_bm25", "SPARSE_FLOAT_VECTOR")]
    spec = SchemaSpec("c2", fields, functions=[
        FunctionSpec("fts", "BM25", "text", "sparse_bm25")]).validate()
    assert spec.functions[0].output_field == "sparse_bm25"
    with pytest.raises(SchemaError, match="unknown fields"):
        SchemaSpec("c3", base_fields(), functions=[
            FunctionSpec("fts", "BM25", "nope", "nope2")]).validate()


# ---------------------------------------------------------------- manager

@pytest.fixture()
def mgr(spark, tmp_path):
    return CollectionManager(spark, str(tmp_path / "wh"))


def _mk(mgr, name="col_a", partitions=None, pkey=False):
    fields = base_fields()
    if pkey:
        fields.append(FieldSpec("tenant", "VARCHAR", is_partition_key=True))
    spec = SchemaSpec(name, fields, partitions=partitions,
                      num_partitions=4 if pkey else None)
    mgr.create_collection(spec)
    return spec


def _rows(spark, n, start=0, tenant=False):
    df = spark.range(start, start + n).select(
        F.col("id"),
        (F.col("id") % 10).alias("category"),
        F.concat(F.lit("n_"), F.col("id")).alias("name"),
        F.transform(F.sequence(F.lit(1), F.lit(8)),
                    lambda i: (F.col("id") + i).cast("float")).alias("emb"))
    if tenant:
        df = df.withColumn(
            "tenant", F.concat(F.lit("t"), (F.col("id") % 3).cast("string")))
    return df


def test_create_list_drop_alias(mgr, spark):
    _mk(mgr, "col_a")
    _mk(mgr, "col_b")
    assert mgr.list_collections() == ["col_a", "col_b"]
    mgr.alter_alias("prod", "col_a")
    assert mgr.resolve("prod") == "col_a"
    mgr.insert("col_a", _rows(spark, 5))
    assert mgr.read("prod").count() == 5          # alias read
    mgr.alter_alias("prod", "col_b")              # repoint
    assert mgr.read("prod").count() == 0
    mgr.drop_collection("col_a")
    assert mgr.list_collections() == ["col_b"]
    with pytest.raises(SchemaError):
        mgr.alter_alias("x", "col_a")


def test_explicit_partitions_and_scoped_read(mgr, spark):
    _mk(mgr, "col_p", partitions=["p0", "p1"])
    mgr.insert("col_p", _rows(spark, 4), partition_name="p0")
    mgr.insert("col_p", _rows(spark, 6, start=100), partition_name="p1")
    assert mgr.list_partitions("col_p") == ["p0", "p1"]
    assert mgr.has_partition("col_p", "p1")
    assert mgr.read("col_p").count() == 10
    assert mgr.read("col_p", partition_names=["p1"]).count() == 6
    with pytest.raises(SchemaError, match="unknown partition"):
        mgr.insert("col_p", _rows(spark, 1), partition_name="nope")


def test_partition_key_routing(mgr, spark):
    _mk(mgr, "col_k", pkey=True)
    mgr.insert("col_k", _rows(spark, 30, tenant=True))
    parts = mgr.list_partitions("col_k")
    assert 1 < len(parts) <= 4
    # scoped read sees a strict subset
    sub = mgr.read("col_k", partition_names=parts[:1]).count()
    assert 0 < sub < 30


def test_upsert_delete_roundtrip(mgr, spark):
    _mk(mgr, "col_d")
    mgr.insert("col_d", _rows(spark, 10))
    updates = _rows(spark, 3).withColumn("category", F.lit(99))
    mgr.upsert("col_d", updates)
    df = mgr.read("col_d")
    assert df.count() == 10
    assert df.filter("category = 99").count() == 3
    mgr.delete("col_d", "id >= 5 && id <= 7")
    assert mgr.read("col_d").count() == 7
    mgr.flush("col_d")
    mgr.load("col_d")
    assert mgr.loaded("col_d")
    mgr.release("col_d")
    assert not mgr.loaded("col_d")


def test_upsert_delete_preserve_partition_layout(mgr, spark):
    """Upsert/delete must not collapse an explicit-partition layout:
    surviving rows stay in their partitions; only incoming rows route to
    the named partition (r01 ADVICE — _overwrite stamped every merged row
    '_default', destroying the layout)."""
    _mk(mgr, "col_pp", partitions=["p0", "p1"])
    mgr.insert("col_pp", _rows(spark, 4), partition_name="p0")
    mgr.insert("col_pp", _rows(spark, 6, start=100), partition_name="p1")
    # update two p0 rows in place, insert one new row into p1
    updates = _rows(spark, 3, start=2).withColumn("category", F.lit(77))
    mgr.upsert("col_pp", updates, partition_name="p1")
    assert sorted(mgr.list_partitions("col_pp")) == ["p0", "p1"]
    p0 = mgr.read("col_pp", partition_names=["p0"])
    p1 = mgr.read("col_pp", partition_names=["p1"])
    assert p0.count() == 2                      # ids 0,1 stayed in p0
    assert p1.count() == 9                      # 6 + moved 2,3 + new 4
    assert p1.filter("category = 77").count() == 3
    # delete from p1 only; p0 untouched and still partition-scoped
    mgr.delete("col_pp", "id >= 100 && id <= 102")
    assert mgr.read("col_pp", partition_names=["p0"]).count() == 2
    assert mgr.read("col_pp", partition_names=["p1"]).count() == 6


def test_partition_key_layout_survives_upsert(mgr, spark):
    """Partition-key collections re-route merged rows by the same hash, so
    the bucket layout (and scoped-read pruning) survives upserts."""
    _mk(mgr, "col_kk", pkey=True)
    mgr.insert("col_kk", _rows(spark, 30, tenant=True))
    before = mgr.list_partitions("col_kk")
    mgr.upsert("col_kk", _rows(spark, 5, tenant=True)
               .withColumn("category", F.lit(42)))
    assert mgr.list_partitions("col_kk") == before
    sub = mgr.read("col_kk", partition_names=before[:1]).count()
    assert 0 < sub < 30


def test_many_collections_catalog_ops(mgr):
    """S8 scale brick shape (requests_10kplus_collections.py): catalog ops
    stay O(1)-ish per collection across a large catalog."""
    for i in range(100):
        mgr.create_collection(SchemaSpec(f"bulk_{i:04d}", base_fields()))
    names = mgr.list_collections()
    assert len(names) == 100 and names[0] == "bulk_0000"
    assert mgr.describe_collection("bulk_0057").name == "bulk_0057"
    mgr.alter_alias("hot", "bulk_0098")
    assert mgr.resolve("hot") == "bulk_0098"
    for i in range(0, 100, 2):
        mgr.drop_collection(f"bulk_{i:04d}")
    assert len(mgr.list_collections()) == 50
    assert not mgr.has_collection("hot")  # alias died with its target


def test_schema_roundtrip_preserves_indexes(mgr):
    fields = base_fields()
    spec = SchemaSpec("col_ix", fields, indexes=[
        IndexSpec("emb", "HNSW", "L2", {"M": 30}),
        IndexSpec("category", "BITMAP")])
    mgr.create_collection(spec)
    back = mgr.describe_collection("col_ix")
    assert [i.index_type for i in back.indexes] == ["HNSW", "BITMAP"]
    assert back.indexes[0].params == {"M": 30}
    assert back.field("emb").dim == 8


def test_shards_num_controls_write_files(mgr, spark):
    """shards_num repartitions each insert batch by PK hash → exactly
    shards_num data files per batch regardless of incoming partitioning,
    and the round-trip row set is unchanged."""
    import glob
    fields = [f for f in base_fields() if f.name != "emb"]
    spec = SchemaSpec("sharded", fields, shards_num=4)
    mgr.create_collection(spec)
    rows = (spark.range(100).repartition(13)
            .select(F.col("id"), (F.col("id") % 7).alias("category"),
                    F.lit("n").alias("name")))
    mgr.insert("sharded", rows)
    files = [f for f in glob.glob(mgr._data_dir("sharded") + "/**/*.parquet",
                                  recursive=True)]
    assert len(files) == 4, files
    got = mgr.read("sharded")
    assert got.count() == 100
    assert got.agg(F.sum("id")).collect()[0][0] == 4950


def test_partial_update_preserves_partitions_and_inserts_missing(mgr, spark):
    """S3 at the manager level: present columns update in place (rows keep
    their partition), absent PKs insert with NULLs into the routed
    partition."""
    _mk(mgr, "col_pu", partitions=["p0", "p1"])
    mgr.insert("col_pu", _rows(spark, 4), partition_name="p0")
    upd = spark.createDataFrame([(1, 99), (100, 77)], "id long, category long")
    mgr.partial_update("col_pu", upd, partition_name="p1")
    p0 = mgr.read("col_pu", partition_names=["p0"])
    p1 = mgr.read("col_pu", partition_names=["p1"])
    assert p0.count() == 4                      # updated row stays in p0
    assert p0.filter("id = 1 and category = 99").count() == 1
    assert p0.filter("id = 1").first()["name"] == "n_1"  # untouched column
    new = p1.filter("id = 100").first()
    assert new["category"] == 77 and new["name"] is None  # NULL-filled


def test_ttl_collection_readable_and_upsertable_before_first_insert(mgr, spark):
    """A never-written TTL collection must read as empty (with the stamp
    column present) and accept upsert/partial_update as the first write."""
    fields = base_fields()
    mgr.create_collection(SchemaSpec("col_ttl0", fields, ttl_seconds=3600))
    assert mgr.read("col_ttl0").count() == 0
    import vectordb_testbricks_spark.workload as W
    assert W.wait_for_serviceable(mgr, "col_ttl0", timeout_sec=5.0)
    mgr.upsert("col_ttl0", _rows(spark, 3))
    assert mgr.read("col_ttl0").count() == 3   # stamped, within TTL


def test_overwrite_flips_manifest_with_keep_one_retention(mgr, spark):
    """Rewrites go through the CURRENT manifest: the dir named by the
    manifest always exists (no missing-dir window for readers), exactly one
    previous version is retained so pre-rewrite handles stay readable, and
    older versions are swept."""
    import os
    _mk(mgr, "col_mv")
    mgr.insert("col_mv", _rows(spark, 10))
    handle = mgr.read("col_mv")                # plan over the v0 dir
    mgr.delete("col_mv", "id >= 8")
    assert handle.count() == 10                # previous version retained
    mgr.upsert("col_mv", _rows(spark, 2, start=100))
    d = os.path.join(mgr.warehouse, "col_mv")
    with open(os.path.join(d, "CURRENT")) as fh:
        version = fh.read().strip()
    assert os.path.isdir(os.path.join(d, version))
    versions = sorted(x for x in os.listdir(d) if x.startswith("data"))
    assert len(versions) == 2 and version in versions  # current + previous
    assert mgr.read("col_mv").count() == 10    # 10 - 2 + 2


def test_release_unpersists_the_loaded_plan_across_rewrites(mgr, spark):
    """release() must unpersist the SAME cached plan load() created, even
    after a rewrite changed the current version."""
    _mk(mgr, "col_lr")
    mgr.insert("col_lr", _rows(spark, 5))
    sc = spark.sparkContext._jsc.sc()
    baseline = sc.getPersistentRDDs().size()   # other fixtures may cache
    mgr.load("col_lr")
    mgr.read("col_lr").count()                 # materialize the cache
    assert mgr.loaded("col_lr")
    mgr.upsert("col_lr", _rows(spark, 1, start=50))   # flips the version
    mgr.release("col_lr")
    assert not mgr.loaded("col_lr")
    assert sc.getPersistentRDDs().size() <= baseline   # nothing left pinned


def test_reload_and_drop_release_cached_plans(mgr, spark):
    """load() on an already-loaded collection releases the previous handle;
    drop_collection releases too — no cached plan may outlive its version
    (r02 review: re-load after a rewrite leaked the old cache entry)."""
    _mk(mgr, "col_rl")
    mgr.insert("col_rl", _rows(spark, 5))
    sc = spark.sparkContext._jsc.sc()
    baseline = sc.getPersistentRDDs().size()
    mgr.load("col_rl")
    mgr.read("col_rl").count()
    mgr.upsert("col_rl", _rows(spark, 1, start=50))
    mgr.load("col_rl")                       # re-load: old handle released
    mgr.read("col_rl").count()
    mgr.drop_collection("col_rl")            # drop: current handle released
    assert not mgr.loaded("col_rl")
    assert sc.getPersistentRDDs().size() <= baseline


def test_analyzer_params_round_trip_through_catalog(mgr):
    """C8 analyzer fidelity: enable_analyzer + analyzer_params survive the
    collection catalog's JSON round-trip exactly, so a reloaded schema
    drives the same tokenizer chain (schema_matrix_2_6.yaml:52 declares
    per-field analyzers)."""
    az = {"tokenizer": "standard",
          "filter": ["lowercase",
                     {"type": "stop", "stop_words": ["the", "a"]}]}
    spec = SchemaSpec("az_coll", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("text", "VARCHAR", max_length=512,
                  enable_analyzer=True, analyzer_params=az),
    ])
    mgr.create_collection(spec)
    loaded = mgr.describe_collection("az_coll")
    f = next(fl for fl in loaded.fields if fl.name == "text")
    assert f.enable_analyzer is True
    assert f.analyzer_params == az


# --------------------------------------------- BM25 function-field sidecar

def _mk_fts(mgr, name="fts_coll", analyzer=None):
    """Collection with a server-computed BM25 function field
    (milvus_client/common/schema.py:37-43, schema_matrix_2_6.yaml:65-69)."""
    spec = SchemaSpec(name, [
        FieldSpec("doc_id", "INT64", primary=True),
        FieldSpec("text", "VARCHAR", max_length=512, enable_analyzer=True,
                  analyzer_params=analyzer),
        FieldSpec("sparse_bm25", "SPARSE_FLOAT_VECTOR"),
    ], functions=[FunctionSpec("fts", "BM25", "text", "sparse_bm25")])
    mgr.create_collection(spec)
    return spec


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string").withColumn(
        "sparse_bm25", F.lit(None).cast("map<int,float>"))


def test_bm25_sidecar_insert_and_search(mgr, spark):
    """Insert maintains the tf/doclen sidecar; manager search over the
    sidecar equals the derive-on-the-fly bm25_search on the same state."""
    from vectordb_testbricks_spark.operators.bm25 import bm25_search
    _mk_fts(mgr)
    rows = [(1, "spark shuffles data"), (2, "spark caches data data"),
            (3, "ducks row boats"), (4, "data data data lake")]
    mgr.insert("fts_coll", _docs(spark, rows))
    got = mgr.bm25_search("fts_coll", "spark data", k=3).collect()
    ref = bm25_search(mgr.read("fts_coll"), "spark data", "doc_id", "text",
                      k=3).collect()
    assert [(r.doc_id, round(r.score, 9)) for r in got] \
        == [(r.doc_id, round(r.score, 9)) for r in ref]
    assert [r.rank for r in got] == [1, 2, 3]


def test_bm25_sidecar_incremental_insert_no_rebuild(mgr, spark):
    """A second insert batch appends to the sidecar (CURRENT manifest
    unchanged — no rebuild) and search immediately reflects the new docs
    with corpus-wide stats (n_docs/avgdl include both batches)."""
    from vectordb_testbricks_spark.operators.bm25 import bm25_search
    _mk_fts(mgr)
    mgr.insert("fts_coll", _docs(spark, [(1, "alpha beta"), (2, "beta gamma")]))
    root = mgr._fn_root("fts_coll", "fts")
    assert not os.path.exists(os.path.join(root, "CURRENT"))
    mgr.insert("fts_coll", _docs(spark, [(3, "alpha alpha delta")]))
    assert not os.path.exists(os.path.join(root, "CURRENT"))  # append-only
    got = mgr.bm25_search("fts_coll", "alpha", k=3).collect()
    ref = bm25_search(mgr.read("fts_coll"), "alpha", "doc_id", "text",
                      k=3).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in ref] == [3, 1]
    assert [round(r.score, 9) for r in got] == \
        [round(r.score, 9) for r in ref]


def test_bm25_sidecar_rebuilds_on_rewrite(mgr, spark):
    """Upsert (text change) and delete rewrite the sidecar: scores reflect
    the new corpus exactly (df/avgdl are global state, not per-batch)."""
    from vectordb_testbricks_spark.operators.bm25 import bm25_search
    _mk_fts(mgr)
    mgr.insert("fts_coll", _docs(spark, [
        (1, "red fish"), (2, "blue fish"), (3, "red red herring")]))
    mgr.upsert("fts_coll", _docs(spark, [(2, "green turtle")]))
    mgr.delete("fts_coll", "doc_id == 3")
    got = mgr.bm25_search("fts_coll", "red fish turtle", k=3).collect()
    ref = bm25_search(mgr.read("fts_coll"), "red fish turtle", "doc_id",
                      "text", k=3).collect()
    assert [(r.doc_id, round(r.score, 9)) for r in got] \
        == [(r.doc_id, round(r.score, 9)) for r in ref]
    ids = {r.doc_id for r in got}
    assert 3 not in ids and 2 in ids


def test_bm25_sidecar_filtered_search_keeps_global_stats(mgr, spark):
    """flt prunes candidates only; IDF/avgdl stay collection-level (the
    server-side stats shape) — so a filtered hit keeps the same score it
    has unfiltered."""
    _mk_fts(mgr)
    mgr.insert("fts_coll", _docs(spark, [
        (1, "solo term crowd"), (2, "crowd crowd"), (3, "crowd term")]))
    unf = {r.doc_id: r.score
           for r in mgr.bm25_search("fts_coll", "term", k=3).collect()}
    flt = mgr.bm25_search("fts_coll", "term", k=3,
                          flt="doc_id >= 3").collect()
    assert [r.doc_id for r in flt] == [3]
    assert flt[0].score == unf[3]


def test_bm25_sidecar_zero_token_docs_count(mgr, spark):
    """A doc whose text tokenizes empty under the analyzer still counts in
    n_docs/avgdl (oracle parity rule; bm25.corpus_stats behavior)."""
    az = {"tokenizer": "standard",
          "filter": ["lowercase", {"type": "stop", "stop_words": ["the"]}]}
    _mk_fts(mgr, analyzer=az)
    mgr.insert("fts_coll", _docs(spark, [
        (1, "the the"), (2, "quick fox"), (3, "lazy dog")]))
    _, stats = mgr.function_tables("fts_coll")
    row = stats.limit(1).collect()[0]
    assert row.n_docs == 3
    # avgdl over all docs: (0 + 2 + 2) / 3
    assert abs(row.avgdl - 4.0 / 3.0) < 1e-12


def test_bm25_stats_accumulate_across_insert_batches(mgr, spark):
    """Global stats (df_t, n_docs, avgdl) reflect every insert batch via
    the additive delta log alone — no sidecar rebuild happens on insert
    (the fn dir's CURRENT manifest never flips), yet the recovered stats
    are exact across batches."""
    import os
    _mk_fts(mgr)
    mgr.insert("fts_coll", _docs(spark, [
        (1, "red fish"), (2, "blue fish blue")]))
    mgr.insert("fts_coll", _docs(spark, [
        (3, "red red herring fish"), (4, "green")]))
    # insert is append-only: no rebuild, so no CURRENT manifest exists yet
    fn_root = os.path.join(mgr.warehouse, "fts_coll", "fn_fts")
    assert not os.path.exists(os.path.join(fn_root, "CURRENT"))
    # and the terms delta log holds one partial file set per batch
    _, stats = mgr.function_tables("fts_coll")
    by_term = {r.term: r for r in stats.collect()}
    assert by_term["fish"].df_t == 3      # docs 1, 2, 3
    assert by_term["red"].df_t == 2       # docs 1, 3
    assert by_term["green"].df_t == 1
    row = by_term["fish"]
    assert row.n_docs == 4
    # dl: 2 + 3 + 4 + 1 = 10 tokens over 4 docs
    assert abs(row.avgdl - 2.5) < 1e-12


def test_bm25_sidecar_respects_ttl_expiry(mgr, spark):
    """TTL collections: the append-only sidecar may still hold tf rows for
    expired docs; search must not surface them (candidates prune to the
    TTL-visible pk set)."""
    spec = SchemaSpec("fts_ttl", [
        FieldSpec("doc_id", "INT64", primary=True),
        FieldSpec("text", "VARCHAR", max_length=256, enable_analyzer=True),
        FieldSpec("sparse_bm25", "SPARSE_FLOAT_VECTOR"),
    ], functions=[FunctionSpec("fts", "BM25", "text", "sparse_bm25")],
        ttl_seconds=3600)
    mgr.create_collection(spec)
    mgr.insert("fts_ttl", _docs(spark, [(1, "alpha beta"), (2, "alpha")]))
    hits = mgr.bm25_search("fts_ttl", "alpha", k=5).collect()
    assert {r.doc_id for r in hits} == {1, 2}
    # delete doc 2 (a rewrite rebuilds the sidecar; this also stands in
    # for expiry — both paths must keep vanished docs out of results)
    mgr.delete("fts_ttl", "doc_id == 2")
    hits = mgr.bm25_search("fts_ttl", "alpha", k=5).collect()
    assert {r.doc_id for r in hits} == {1}


def test_rewrite_crash_leaves_readers_intact_and_sweeps_orphans(mgr, spark):
    """The versioned-commit protocol's crash claim, exercised: a crash
    between writing a new data version and flipping CURRENT must leave
    readers on the previous intact version, and the next successful
    rewrite must sweep the orphan directory."""
    import os
    mgr.create_collection(SchemaSpec("cr", [
        FieldSpec("pk", "INT64", primary=True),
        FieldSpec("v", "INT64", nullable=True)]))
    rows = spark.createDataFrame([(i, i * 10) for i in range(6)],
                                 "pk long, v long")
    mgr.insert("cr", rows)
    mgr.upsert("cr", spark.createDataFrame([(0, 999)], "pk long, v long"))
    before = {r.pk: r.v for r in mgr.read("cr").collect()}
    assert before[0] == 999 and len(before) == 6
    # simulate the crash: a half-written version dir exists, CURRENT does
    # NOT point at it
    d = os.path.join(mgr.warehouse, "cr")
    orphan = os.path.join(d, "data.vdeadbeefcafe")
    os.makedirs(os.path.join(orphan, "_partition=_default"))
    with open(os.path.join(orphan, "_partition=_default",
                           "part-garbage.parquet"), "wb") as fh:
        fh.write(b"\x00not parquet")
    # readers resolve through CURRENT: the orphan is invisible
    assert {r.pk: r.v for r in mgr.read("cr").collect()} == before
    # the next rewrite commits cleanly and sweeps the orphan
    mgr.delete("cr", "pk == 5")
    after = {r.pk: r.v for r in mgr.read("cr").collect()}
    assert 5 not in after and after[0] == 999 and len(after) == 5
    assert not os.path.exists(orphan)
    # exactly current + previous versions retained
    versions = [e for e in os.listdir(d) if e.startswith("data.v")]
    assert len(versions) <= 2


def test_concurrent_inserts_serialize_under_writer_lock(mgr, spark):
    """Two threads inserting into the same BM25 collection concurrently:
    the writer lock serializes the append + stats-delta commits, so no
    batch's rows or stats partials are lost or double-counted."""
    import threading
    _mk_fts(mgr)
    batches = [
        [(i, f"alpha w{i}") for i in rng]
        for rng in (range(0, 40), range(40, 80), range(80, 120))
    ]
    errs = []

    def run(rows):
        try:
            mgr.insert("fts_coll", _docs(spark, rows))
        except Exception as e:   # surfaced below; bare thread would hide it
            errs.append(e)

    ts = [threading.Thread(target=run, args=(b,)) for b in batches]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert mgr.read("fts_coll").count() == 120
    _, stats = mgr.function_tables("fts_coll")
    row = {r.term: r for r in stats.collect()}
    assert row["alpha"].df_t == 120          # every doc, counted once
    assert row["alpha"].n_docs == 120


def test_stats_crash_window_detected_and_healed(mgr, spark):
    """A crash between the tf/doclen appends and the stats appends leaves
    the PENDING marker: searches must fall back to exact derivation (never
    serve skewed idf/avgdl), and the next insert must heal the delta log
    by recompaction."""
    import os
    _mk_fts(mgr)
    mgr.insert("fts_coll", _docs(spark, [(1, "alpha beta"), (2, "alpha")]))
    base = mgr._fn_data_dir("fts_coll", "fts")
    # simulate the crash: batch 2's tf/doclen land, stats partials do not
    spec = mgr.describe_collection("fts_coll")
    fn = mgr._bm25_functions(spec)[0]
    tf2, dl2, tk2 = mgr._fn_batch_tables(
        spec, fn, _docs(spark, [(3, "alpha gamma gamma")]))
    with open(mgr._stats_pending_path(base), "w") as fh:
        fh.write("crash")
    tf2.write.mode("append").parquet(os.path.join(base, "tf"))
    dl2.write.mode("append").parquet(os.path.join(base, "doclen"))
    tk2.unpersist()
    # ALSO append the crashed batch's data rows so corpus and sidecar
    # agree (the data write precedes the sidecar writes in insert())
    mgr._route(spec, _docs(spark, [(3, "alpha gamma gamma")]), None) \
        .write.mode("append").partitionBy("_partition") \
        .parquet(mgr._data_dir("fts_coll"))
    # marker present -> stats fall back to exact derivation
    _, stats = mgr.function_tables("fts_coll")
    row = {r.term: r for r in stats.collect()}
    assert row["alpha"].df_t == 3 and row["alpha"].n_docs == 3
    # next insert heals: marker cleared, delta log recompacted to truth
    mgr.insert("fts_coll", _docs(spark, [(4, "delta")]))
    assert not os.path.exists(mgr._stats_pending_path(base))
    _, stats = mgr.function_tables("fts_coll")
    row = {r.term: r for r in stats.collect()}
    assert row["alpha"].df_t == 3 and row["delta"].df_t == 1
    assert row["alpha"].n_docs == 4
    # dl: 2 + 1 + 3 + 1 = 7 over 4 docs
    assert abs(row["alpha"].avgdl - 7.0 / 4.0) < 1e-12


def test_first_insert_crash_window_tf_without_doclen(mgr, spark):
    """os.makedirs(base) precedes the appends, so a crash in the FIRST
    insert can leave tf/ present with doclen/ missing. Searches must
    degrade (derive doclen from tf's dl column) instead of raising on
    the doclen read, and the next insert must heal (r07 advice #2)."""
    import os
    spec = _mk_fts(mgr)
    fn = mgr._bm25_functions(spec)[0]
    base = mgr._fn_data_dir("fts_coll", "fts")
    os.makedirs(base, exist_ok=True)
    tf1, dl1, tk1 = mgr._fn_batch_tables(
        spec, fn, _docs(spark, [(1, "alpha beta"), (2, "alpha")]))
    with open(mgr._stats_pending_path(base), "w") as fh:
        fh.write("crash")
    tf1.write.mode("append").parquet(os.path.join(base, "tf"))
    tk1.unpersist()
    mgr._route(spec, _docs(spark, [(1, "alpha beta"), (2, "alpha")]),
               None).write.mode("append").partitionBy("_partition") \
        .parquet(mgr._data_dir("fts_coll"))
    # doclen/ missing + marker present: stats derived, no crash
    _, stats = mgr.function_tables("fts_coll")
    row = {r.term: r for r in stats.collect()}
    assert row["alpha"].df_t == 2 and row["alpha"].n_docs == 2
    # search end-to-end also degrades without raising
    assert mgr.bm25_search("fts_coll", "alpha", k=5).count() == 2
    # next insert repairs from tf-derived doclen and clears the marker
    mgr.insert("fts_coll", _docs(spark, [(3, "gamma")]))
    assert not os.path.exists(mgr._stats_pending_path(base))
    _, stats = mgr.function_tables("fts_coll")
    row = {r.term: r for r in stats.collect()}
    assert row["alpha"].df_t == 2 and row["gamma"].df_t == 1
    assert row["alpha"].n_docs == 3
    # the repair BACKFILLED doclen/ with the derived batch-1 rows, so the
    # sidecar is complete (1,2 derived + 3 appended) — a LATER crash
    # window that trusts doclen/ must not see a sidecar silently missing
    # batch 1 (review r07 #2)
    assert spark.read.parquet(os.path.join(base, "doclen")).count() == 3
    with open(mgr._stats_pending_path(base), "w") as fh:
        fh.write("crash again")
    _, stats = mgr.function_tables("fts_coll")
    row = {r.term: r for r in stats.collect()}
    assert row["alpha"].n_docs == 3
    assert abs(row["alpha"].avgdl - 4.0 / 3.0) < 1e-12
    os.remove(mgr._stats_pending_path(base))


def test_first_insert_crash_window_fileless_tf_dir(mgr, spark):
    """kill -9 during the very first tf append can leave tf/ existing
    with only the committer's _temporary/ inside (zero part files):
    os.path.exists is true but spark.read.parquet would raise. Searches
    must take the empty-schema path and the next insert must heal
    (review r07 #3)."""
    import os
    _mk_fts(mgr)
    base = mgr._fn_data_dir("fts_coll", "fts")
    os.makedirs(os.path.join(base, "tf", "_temporary"), exist_ok=True)
    with open(mgr._stats_pending_path(base), "w") as fh:
        fh.write("crash")
    tf, stats = mgr.function_tables("fts_coll")
    assert tf.count() == 0 and stats.count() == 0
    assert mgr.bm25_search("fts_coll", "alpha", k=5).count() == 0
    mgr.insert("fts_coll", _docs(spark, [(1, "alpha")]))
    assert not os.path.exists(mgr._stats_pending_path(base))
    _, stats = mgr.function_tables("fts_coll")
    row = {r.term: r for r in stats.collect()}
    assert row["alpha"].df_t == 1 and row["alpha"].n_docs == 1


def test_first_insert_crash_window_base_dir_only(mgr, spark):
    """Crash after os.makedirs(base) but before ANY sidecar append: the
    base dir alone must not confuse searches (empty-schema path) or the
    next insert's repair."""
    import os
    _mk_fts(mgr)
    base = mgr._fn_data_dir("fts_coll", "fts")
    os.makedirs(base, exist_ok=True)
    with open(mgr._stats_pending_path(base), "w") as fh:
        fh.write("crash")
    tf, stats = mgr.function_tables("fts_coll")
    assert tf.count() == 0 and stats.count() == 0
    mgr.insert("fts_coll", _docs(spark, [(1, "alpha")]))
    assert not os.path.exists(mgr._stats_pending_path(base))
    _, stats = mgr.function_tables("fts_coll")
    row = {r.term: r for r in stats.collect()}
    assert row["alpha"].df_t == 1 and row["alpha"].n_docs == 1


# --------------------------------------- 3.0 prototypes (inventory §4/§5)

def _mk_arr_coll(mgr, name="arr_coll"):
    spec = SchemaSpec(name, [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("tags", "ARRAY", element_type="VARCHAR", max_capacity=16),
        FieldSpec("nums", "ARRAY", element_type="INT64", max_capacity=16),
    ])
    mgr.create_collection(spec)
    return spec


def test_truncate_collection_keeps_schema_and_stays_writable(mgr, spark):
    """TruncateCollection (§4): rows go, schema/aliases/partitions/TTL
    stay, and the collection accepts new writes afterwards."""
    spec = SchemaSpec("t_coll", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("v", "INT64"),
    ], partitions=["p0", "p1"])
    mgr.create_collection(spec)
    df = spark.createDataFrame([(i, i * 10) for i in range(8)],
                               "id long, v long")
    mgr.insert("t_coll", df, partition_name="p0")
    mgr.alter_alias("t_alias", "t_coll")
    assert mgr.read("t_coll").count() == 8
    mgr.truncate_collection("t_alias")          # resolves the alias too
    assert mgr.read("t_coll").count() == 0
    assert mgr.describe_collection("t_coll").pk.name == "id"
    assert mgr.list_partitions("t_coll") == ["p0", "p1"]
    mgr.insert("t_coll", df.limit(3), partition_name="p1")
    assert mgr.read("t_coll").count() == 3
    assert mgr.read("t_coll", partition_names=["p1"]).count() == 3


def test_truncate_collection_with_bm25_function(mgr, spark):
    """Truncating a function-field collection rebuilds the sidecars
    empty; search degrades to zero hits and a later insert rebuilds."""
    _mk_fts(mgr)
    mgr.insert("fts_coll", _docs(spark, [(1, "alpha beta"), (2, "alpha")]))
    assert mgr.bm25_search("fts_coll", "alpha", k=5).count() == 2
    mgr.truncate_collection("fts_coll")
    assert mgr.read("fts_coll").count() == 0
    assert mgr.bm25_search("fts_coll", "alpha", k=5).count() == 0
    mgr.insert("fts_coll", _docs(spark, [(3, "alpha gamma")]))
    assert mgr.bm25_search("fts_coll", "alpha", k=5).count() == 1


def test_collection_snapshot_pins_version_across_rewrites(mgr, spark):
    """Collection Snapshot (§5): a snapshot id keeps reading the pinned
    state across arbitrarily many later rewrites (which normally sweep
    old versions); drop_snapshot releases the pin to the next sweep."""
    spec = SchemaSpec("s_coll", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("v", "INT64"),
    ])
    mgr.create_collection(spec)
    df = spark.createDataFrame([(i, i) for i in range(5)], "id long, v long")
    mgr.insert("s_coll", df)
    sid = mgr.create_snapshot("s_coll")
    assert mgr.list_snapshots("s_coll") == [sid]
    # three rewrites: normal retention keeps only current+previous, so
    # without the pin the snapshot version would be swept
    mgr.delete("s_coll", "id >= 3")
    mgr.upsert("s_coll", spark.createDataFrame([(0, 99)], "id long, v long"))
    mgr.delete("s_coll", "id == 1")
    live = {(r.id, r.v) for r in mgr.read("s_coll").collect()}
    assert live == {(0, 99), (2, 2)}
    snap = {(r.id, r.v) for r in
            mgr.read("s_coll", snapshot_id=sid).collect()}
    assert snap == {(i, i) for i in range(5)}
    with pytest.raises(KeyError, match="unknown snapshot"):
        mgr.read("s_coll", snapshot_id="snap-nope")
    mgr.drop_snapshot("s_coll", sid)
    mgr.delete("s_coll", "id == 0")              # rewrite -> sweep
    assert mgr.list_snapshots("s_coll") == []
    with pytest.raises(KeyError):
        mgr.read("s_coll", snapshot_id=sid)


def test_import_2pc_visibility(mgr, spark):
    """Import 2PC (§5): staged data is invisible until commit; abort
    leaves no trace; commit goes through the insert path (sidecars,
    routing) and an unknown ticket raises."""
    spec = SchemaSpec("i_coll", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("v", "INT64"),
    ], partitions=["p0", "p1"])
    mgr.create_collection(spec)
    df1 = spark.createDataFrame([(1, 1), (2, 2)], "id long, v long")
    t1 = mgr.prepare_import("i_coll", df1, partition_name="p1")
    assert mgr.read("i_coll").count() == 0      # invisible until commit
    mgr.commit_import("i_coll", t1)
    assert mgr.read("i_coll").count() == 2
    assert mgr.read("i_coll", partition_names=["p1"]).count() == 2
    with pytest.raises(KeyError, match="unknown import ticket"):
        mgr.commit_import("i_coll", t1)          # tickets are one-shot
    t2 = mgr.prepare_import("i_coll",
                            spark.createDataFrame([(3, 3)],
                                                  "id long, v long"))
    mgr.abort_import("i_coll", t2)
    assert mgr.read("i_coll").count() == 2
    with pytest.raises(KeyError):
        mgr.commit_import("i_coll", t2)


def test_array_partial_update_append_and_remove(mgr, spark):
    """ARRAY_APPEND / ARRAY_REMOVE partial update (§4): append
    concatenates, remove drops every occurrence of the listed values
    while PRESERVING duplicates of others; NULL deltas and absent PKs
    are no-ops."""
    _mk_arr_coll(mgr)
    base = spark.createDataFrame(
        [(1, ["a", "b", "a"], [1, 2, 2, 3]),
         (2, ["x"], [7]),
         (3, [], [0])],
        "id long, tags array<string>, nums array<bigint>")
    mgr.insert("arr_coll", base)
    upd = spark.createDataFrame(
        [(1, ["c"], [2]),            # append c; remove every 2
         (2, None, [7]),             # NULL tags delta -> untouched
         (9, ["zz"], [1])],          # absent PK -> ignored
        "id long, tags array<string>, nums array<bigint>")
    mgr.array_update("arr_coll", upd, {"tags": "append", "nums": "remove"})
    got = {r.id: (list(r.tags), list(r.nums))
           for r in mgr.read("arr_coll").collect()}
    assert got == {
        1: (["a", "b", "a", "c"], [1, 3]),   # both 2s removed, dup 'a' kept
        2: (["x"], []),
        3: ([], [0]),
    }
    with pytest.raises(ValueError, match="append|remove"):
        mgr.array_update("arr_coll", upd, {"tags": "concat"})


def test_text_embedding_function_field(mgr, spark):
    """TEXT_EMBEDDING function field (§6): the SPARSE_FLOAT_VECTOR
    output column is computed at insert by the hashing featurizer, the
    Column path and the driver twin agree, raw-text search scores
    token-count cosine (identical text = 1.0), and upsert recomputes
    from the new text."""
    from vectordb_testbricks_spark.functions.text import (
        py_hashed_sparse_embedding)
    spec = SchemaSpec("emb_coll", [
        FieldSpec("doc_id", "INT64", primary=True),
        FieldSpec("text", "VARCHAR", max_length=256, enable_analyzer=True),
        FieldSpec("vec", "SPARSE_FLOAT_VECTOR"),
    ], functions=[FunctionSpec("emb", "TEXT_EMBEDDING", "text", "vec",
                               params={"n_buckets": 64})])
    mgr.create_collection(spec)
    texts = [(1, "alpha beta alpha"), (2, "gamma delta"), (3, "")]
    docs = spark.createDataFrame(texts, "doc_id long, text string") \
        .withColumn("vec", F.lit(None).cast("map<int,float>"))
    mgr.insert("emb_coll", docs)
    rows = {r.doc_id: dict(r.vec) for r in mgr.read("emb_coll").collect()}
    for did, txt in texts:
        want = py_hashed_sparse_embedding(txt, 64)
        assert set(rows[did]) == set(want), did
        for kk, v in want.items():
            assert abs(rows[did][kk] - v) < 1e-6, (did, kk)
    hits = mgr.text_embedding_search("emb_coll", "alpha beta alpha",
                                     k=2).collect()
    assert hits[0]["doc_id"] == 1 and abs(hits[0]["score"] - 1.0) < 1e-6
    upd = spark.createDataFrame([(2, "alpha beta alpha")],
                                "doc_id long, text string") \
        .withColumn("vec", F.lit(None).cast("map<int,float>"))
    mgr.upsert("emb_coll", upd)
    hits = mgr.text_embedding_search("emb_coll", "alpha beta alpha",
                                     k=3).collect()
    assert {r["doc_id"] for r in hits
            if abs(r["score"] - 1.0) < 1e-6} == {1, 2}
    with pytest.raises(SchemaError, match="SPARSE_FLOAT_VECTOR"):
        SchemaSpec("bad", [
            FieldSpec("id", "INT64", primary=True),
            FieldSpec("t", "VARCHAR"),
            FieldSpec("v", "FLOAT_VECTOR", dim=4),
        ], functions=[FunctionSpec("e", "TEXT_EMBEDDING", "t",
                                   "v")]).validate()


def test_alter_schema_add_and_drop_field(mgr, spark):
    """AlterCollectionSchema (§4): add_field materializes NULLs and the
    schema gains the field; drop_field removes column + declaration;
    load-bearing fields (PK, function, indexed) refuse to drop."""
    spec = SchemaSpec("ev_coll", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("v", "INT64"),
        FieldSpec("e", "FLOAT_VECTOR", dim=4),
    ], indexes=[IndexSpec("e", "FLAT", "COSINE")])
    mgr.create_collection(spec)
    mgr.insert("ev_coll", spark.createDataFrame(
        [(1, 10, [1.0, 0.0, 0.0, 0.0]), (2, 20, [0.0, 1.0, 0.0, 0.0])],
        "id long, v long, e array<float>"))
    mgr.add_field("ev_coll", FieldSpec("note", "VARCHAR", max_length=32,
                                       nullable=True))
    assert "note" in [f.name for f in
                      mgr.describe_collection("ev_coll").fields]
    rows = mgr.read("ev_coll").collect()
    assert all(r.note is None for r in rows) and len(rows) == 2
    # new inserts carry the field; old rows stay NULL
    mgr.insert("ev_coll", spark.createDataFrame(
        [(3, 30, [0.0] * 4, "hi")],
        "id long, v long, e array<float>, note string"))
    got = {r.id: r.note for r in mgr.read("ev_coll").collect()}
    assert got == {1: None, 2: None, 3: "hi"}
    with pytest.raises(SchemaError, match="already exists"):
        mgr.add_field("ev_coll", FieldSpec("note", "VARCHAR"))
    mgr.drop_field("ev_coll", "note")
    assert "note" not in mgr.read("ev_coll").columns
    assert "note" not in [f.name for f in
                          mgr.describe_collection("ev_coll").fields]
    with pytest.raises(SchemaError, match="PK"):
        mgr.drop_field("ev_coll", "id")
    with pytest.raises(SchemaError, match="index"):
        mgr.drop_field("ev_coll", "e")
    with pytest.raises(SchemaError, match="no field"):
        mgr.drop_field("ev_coll", "ghost")
    _mk_fts(mgr, name="ev_fts")
    with pytest.raises(SchemaError, match="function"):
        mgr.drop_field("ev_fts", "text")


def test_external_collection_readonly_and_refresh(mgr, spark, tmp_path):
    """External Collection (§5): reads resolve a PINNED file listing
    (new source files stay invisible until refresh_external), every
    write refuses, and a snapshot of a regular collection works as the
    external source."""
    src = str(tmp_path / "ext_src")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string") \
        .coalesce(1).write.mode("overwrite").parquet(src)
    spec = SchemaSpec("x_coll", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("s", "VARCHAR", max_length=8),
    ])
    mgr.create_external_collection(spec, src)
    assert mgr.is_external("x_coll")
    assert mgr.read("x_coll").count() == 2
    # a new file lands in the source: invisible until manual refresh
    spark.createDataFrame([(3, "c")], "id long, s string") \
        .coalesce(1).write.mode("append").parquet(src)
    assert mgr.read("x_coll").count() == 2
    mgr.refresh_external("x_coll")
    assert mgr.read("x_coll").count() == 3
    for op in (lambda: mgr.insert("x_coll", spark.createDataFrame(
                   [(9, "z")], "id long, s string")),
               lambda: mgr.delete("x_coll", "id == 1"),
               lambda: mgr.truncate_collection("x_coll"),
               lambda: mgr.create_snapshot("x_coll")):
        with pytest.raises(SchemaError, match="read-only"):
            op()
    # snapshot of a regular collection as the external source (§5)
    base = SchemaSpec("src_coll", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("v", "INT64"),
    ])
    mgr.create_collection(base)
    mgr.insert("src_coll", spark.createDataFrame(
        [(i, i) for i in range(4)], "id long, v long"))
    sid = mgr.create_snapshot("src_coll")
    snap_dir = mgr._snapshot_data_dir("src_coll", sid)
    mgr.create_external_collection(SchemaSpec("x_snap", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("v", "INT64"),
    ]), snap_dir)
    mgr.delete("src_coll", "id >= 2")      # the source moves on
    assert mgr.read("src_coll").count() == 2
    ext = mgr.read("x_snap")
    assert ext.count() == 4                # the external view does not
    # hive partition column survives the pinned-file read (basePath)
    assert set(ext.select(PARTITION_COL).distinct().toPandas()
               [PARTITION_COL]) == {"_default"}


def test_entity_level_ttl(mgr, spark):
    """Entity-level TTL (§4): a row's ttl_field value overrides the
    collection default; NULL falls back to the default; with no default,
    NULL never expires. Asserted via the read() clock seam."""
    from datetime import datetime, timedelta, timezone
    mgr.create_collection(SchemaSpec("ettl", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("ttl_s", "INT64", nullable=True),
    ], ttl_seconds=500, ttl_field="ttl_s"))
    mgr.insert("ettl", spark.createDataFrame(
        [(1, 100), (2, 100_000), (3, None)], "id long, ttl_s long"))
    assert mgr.read("ettl").count() == 3        # real clock: all alive
    t200 = datetime.now(timezone.utc) + timedelta(seconds=200)
    t900 = datetime.now(timezone.utc) + timedelta(seconds=900)
    # +200s: row 1 (ttl 100) expired; row 3 uses the 500 default
    assert {r.id for r in mgr.read("ettl", now=t200).collect()} == {2, 3}
    # +900s: row 3's default (500) expired too; row 2 still alive
    assert {r.id for r in mgr.read("ettl", now=t900).collect()} == {2}
    # no collection default: NULL ttl_field never expires
    mgr.create_collection(SchemaSpec("ettl2", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("ttl_s", "INT64", nullable=True),
    ], ttl_field="ttl_s"))
    mgr.insert("ettl2", spark.createDataFrame(
        [(1, 100), (2, None)], "id long, ttl_s long"))
    far = datetime.now(timezone.utc) + timedelta(days=365)
    assert {r.id for r in mgr.read("ettl2", now=far).collect()} == {2}
    with pytest.raises(SchemaError, match="integer field"):
        SchemaSpec("bad", [
            FieldSpec("id", "INT64", primary=True),
            FieldSpec("s", "VARCHAR"),
        ], ttl_field="s").validate()


def test_nullable_vector_roundtrip(mgr, spark):
    """Nullable vector (§4): a FLOAT_VECTOR field declared nullable
    stores and reads NULL rows; searches simply never rank them (the
    score of a NULL vector is NULL, dropped by the hit filter)."""
    from vectordb_testbricks_spark.operators.search import knn_search
    mgr.create_collection(SchemaSpec("nv", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("e", "FLOAT_VECTOR", dim=4, nullable=True),
    ]))
    mgr.insert("nv", spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, None), (3, [0.0, 1.0, 0.0, 0.0])],
        "id long, e array<float>"))
    df = mgr.read("nv")
    assert df.filter(F.col("e").isNull()).count() == 1
    q = spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])],
                              "query_id int, qvec array<double>")
    hits = knn_search(df, q, "e", "id", metric="COSINE", k=10).collect()
    assert [r.id for r in hits][0] == 1
    assert all(r.id != 2 for r in hits)


@pytest.mark.slow
def test_force_merge_compacts_files_and_stats(mgr, spark):
    """Force Merge (§5): after N small append batches the data dir holds
    N+ files and the BM25 stats log N delta rows per term; force_merge
    compacts both without changing any answer."""
    import glob
    _mk_fts(mgr)
    for i in range(4):
        mgr.insert("fts_coll", _docs(spark, [(i, "alpha common")]))
    data = mgr._data_dir("fts_coll")
    files_before = len(glob.glob(os.path.join(data, "**", "part-*"),
                                 recursive=True))
    assert files_before >= 4
    _, stats = mgr.function_tables("fts_coll")
    base = mgr._fn_data_dir("fts_coll", "fts")
    terms_rows = spark.read.parquet(
        os.path.join(base, "stats_terms")).filter("term = 'alpha'").count()
    assert terms_rows == 4                      # one delta row per batch
    before = {r.term: r.df_t for r in stats.collect()}
    mgr.force_merge("fts_coll")
    data = mgr._data_dir("fts_coll")
    files_after = len(glob.glob(os.path.join(data, "**", "part-*"),
                                recursive=True))
    assert files_after < files_before
    base = mgr._fn_data_dir("fts_coll", "fts")
    assert spark.read.parquet(
        os.path.join(base, "stats_terms")).filter(
        "term = 'alpha'").count() == 1          # compacted
    _, stats = mgr.function_tables("fts_coll")
    assert {r.term: r.df_t for r in stats.collect()} == before
    assert mgr.read("fts_coll").count() == 4
    assert mgr.bm25_search("fts_coll", "alpha", k=10).count() == 4


def test_snapshot_isolated_from_later_inserts(mgr, spark):
    """review r07b #1: inserts append into the CURRENT version dir, so a
    snapshot pinning that dir must trigger copy-on-write on the next
    insert — the pinned read must NOT include post-snapshot rows."""
    mgr.create_collection(SchemaSpec("cow", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("v", "INT64")]))
    mgr.insert("cow", spark.createDataFrame([(1, 1), (2, 2)],
                                            "id long, v long"))
    sid = mgr.create_snapshot("cow")
    mgr.insert("cow", spark.createDataFrame([(3, 3)], "id long, v long"))
    assert mgr.read("cow").count() == 3
    assert {r.id for r in mgr.read("cow", snapshot_id=sid).collect()} \
        == {1, 2}
    # and again after the CoW version is itself snapshotted
    sid2 = mgr.create_snapshot("cow")
    mgr.insert("cow", spark.createDataFrame([(4, 4)], "id long, v long"))
    assert {r.id for r in mgr.read("cow", snapshot_id=sid2).collect()} \
        == {1, 2, 3}
    assert mgr.read("cow").count() == 4


def test_partial_update_recomputes_text_embedding(mgr, spark):
    """review r07b #2: a partial update that changes a TEXT_EMBEDDING
    input must re-derive the stored embedding; a fresh PK inserted via
    partial update gets an embedding, not NULL."""
    mgr.create_collection(SchemaSpec("pe", [
        FieldSpec("doc_id", "INT64", primary=True),
        FieldSpec("text", "VARCHAR", max_length=128, enable_analyzer=True),
        FieldSpec("vec", "SPARSE_FLOAT_VECTOR"),
    ], functions=[FunctionSpec("emb", "TEXT_EMBEDDING", "text", "vec",
                               params={"n_buckets": 64})]))
    mgr.insert("pe", spark.createDataFrame(
        [(1, "old words"), (2, "other stuff")], "doc_id long, text string")
        .withColumn("vec", F.lit(None).cast("map<int,float>")))
    mgr.partial_update("pe", spark.createDataFrame(
        [(1, "fresh phrase"), (3, "brand new")], "doc_id long, text string"))
    hits = mgr.text_embedding_search("pe", "fresh phrase", k=1).collect()
    assert hits[0]["doc_id"] == 1 and abs(hits[0]["score"] - 1.0) < 1e-6
    hits = mgr.text_embedding_search("pe", "brand new", k=1).collect()
    assert hits[0]["doc_id"] == 3 and abs(hits[0]["score"] - 1.0) < 1e-6


def test_array_partial_update_null_semantics(mgr, spark):
    """review r07b #3: append onto a NULL stored array treats it as
    empty (the delta must not vanish), and remove keeps NULL elements
    it was never asked to drop."""
    _mk_arr_coll(mgr, name="arr_null")
    mgr.insert("arr_null", spark.createDataFrame(
        [(1, None, [1, None, 2])],
        "id long, tags array<string>, nums array<bigint>"))
    mgr.array_update("arr_null", spark.createDataFrame(
        [(1, ["x"], [2])],
        "id long, tags array<string>, nums array<bigint>"),
        {"tags": "append", "nums": "remove"})
    r = mgr.read("arr_null").collect()[0]
    assert list(r.tags) == ["x"]
    assert list(r.nums) == [1, None]


def test_prepare_import_refuses_external(mgr, spark, tmp_path):
    """review r07b #5: staging bypasses the writer lock, so the
    external read-only guard must fire at prepare time."""
    src = str(tmp_path / "x_src")
    spark.createDataFrame([(1, 1)], "id long, v long") \
        .coalesce(1).write.mode("overwrite").parquet(src)
    mgr.create_external_collection(SchemaSpec("x_ro", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("v", "INT64")]), src)
    with pytest.raises(SchemaError, match="read-only"):
        mgr.prepare_import("x_ro", spark.createDataFrame(
            [(2, 2)], "id long, v long"))


def test_struct_array_schema_roundtrip_and_element_ops(mgr, spark):
    """STRUCT_ARRAY schema dtype (§1): declared subfields map to
    array<struct<...>> (embedding-list = a FLOAT_VECTOR subfield), the
    spec JSON round-trips through the manager with nested FieldSpecs
    intact, DML round-trips the data, and the element operators work
    over the managed collection."""
    from vectordb_testbricks_spark.operators.struct_array import (
        element_exists, embedding_list_search)
    spec = SchemaSpec("sa_coll", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("chunks", "STRUCT_ARRAY", subfields=[
            FieldSpec("tag", "VARCHAR", max_length=16),
            FieldSpec("emb", "FLOAT_VECTOR", dim=4),
        ]),
    ])
    mgr.create_collection(spec)
    back = mgr.describe_collection("sa_coll")
    f = next(x for x in back.fields if x.name == "chunks")
    assert [s.name for s in f.subfields] == ["tag", "emb"]
    assert f.spark_type().simpleString() == \
        "array<struct<tag:string,emb:array<float>>>"
    rows = [(1, [("a", [1.0, 0.0, 0.0, 0.0]), ("b", [0.0, 1.0, 0.0, 0.0])]),
            (2, [("b", [0.0, 0.0, 1.0, 0.0])])]
    mgr.insert("sa_coll", spark.createDataFrame(
        rows, back.to_struct_type()))
    df = mgr.read("sa_coll")
    assert sorted(r.id for r in df.filter(
        element_exists("chunks", lambda e: e["tag"] == "a")).collect()) \
        == [1]
    q = spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])],
                              "query_id int, qvec array<double>")
    lists = df.select("id", F.col("chunks.emb").alias("embs"))
    hits = embedding_list_search(lists, q, "embs", "id",
                                 metric="COSINE", k=1, scope="entity") \
        .collect()
    assert hits[0].id == 1 and abs(hits[0].score - 1.0) < 1e-9
    # validation: subfields required; one nesting level; vector dim
    with pytest.raises(SchemaError, match="subfields"):
        SchemaSpec("bad", [FieldSpec("id", "INT64", primary=True),
                           FieldSpec("c", "STRUCT_ARRAY")]).validate()
    with pytest.raises(SchemaError, match="nesting"):
        SchemaSpec("bad", [
            FieldSpec("id", "INT64", primary=True),
            FieldSpec("c", "STRUCT_ARRAY", subfields=[
                FieldSpec("d", "STRUCT_ARRAY", subfields=[
                    FieldSpec("x", "INT64")])])]).validate()
    with pytest.raises(SchemaError, match="needs dim"):
        SchemaSpec("bad", [
            FieldSpec("id", "INT64", primary=True),
            FieldSpec("c", "STRUCT_ARRAY", subfields=[
                FieldSpec("v", "FLOAT_VECTOR")])]).validate()


def test_text_embedding_serves_through_sparse_postings_tier(mgr, spark):
    """§6 at scale: a TEXT_EMBEDDING output field is a
    SPARSE_FLOAT_VECTOR, so the SPARSE_INVERTED_INDEX postings tier
    applies directly — build the index over the managed collection's
    embedding column and the pruned path returns the brute-force
    text-search hits exactly (the 100-TB serving shape: bucket-dir +
    key-In() pruned postings scan instead of a full map-column scan)."""
    from vectordb_testbricks_spark.functions.text import (
        py_hashed_sparse_embedding)
    from vectordb_testbricks_spark.operators.ann_index import (
        build_sparse_inverted, sparse_inverted_search)
    mgr.create_collection(SchemaSpec("emb_ix", [
        FieldSpec("doc_id", "INT64", primary=True),
        FieldSpec("text", "VARCHAR", max_length=256, enable_analyzer=True),
        FieldSpec("vec", "SPARSE_FLOAT_VECTOR"),
    ], functions=[FunctionSpec("emb", "TEXT_EMBEDDING", "text", "vec",
                               params={"n_buckets": 128})]))
    texts = [(i, f"token{i % 7} shared word{i % 3}") for i in range(40)]
    mgr.insert("emb_ix", spark.createDataFrame(
        texts, "doc_id long, text string")
        .withColumn("vec", F.lit(None).cast("map<int,float>")))
    bf = mgr.text_embedding_search("emb_ix", "token3 shared word0",
                                   k=8).collect()
    model = build_sparse_inverted(mgr.read("emb_ix"), "vec", "doc_id",
                                  n_buckets=8)
    q = py_hashed_sparse_embedding("token3 shared word0", 128)
    pv = sparse_inverted_search(model, [q], k=8).collect()
    assert sorted((r["doc_id"], round(r["score"], 6), r["rank"])
                  for r in bf) == \
           sorted((r["doc_id"], round(r["score"], 6), r["rank"])
                  for r in pv)


def test_text_embedding_external_provider_seam(mgr, spark):
    """§6 external model provider (r07 verdict task 7): a provider is
    ONE batch featurizer used as an Arrow-batched pandas UDF at write
    time and the driver-side query embedder at search time — parity by
    construction. Exercises the in-package deterministic
    ``hash_projection`` dense provider AND a custom provider registered
    by this test (the third-party path), plus the dense-output schema
    relaxation and the unknown-provider error."""
    import math
    import pytest
    from vectordb_testbricks_spark.functions.providers import (
        EmbeddingProvider, get_embedding_provider, provider_embed_query,
        register_embedding_provider, _hash_projection_batch)
    spec = SchemaSpec("ext_emb", [
        FieldSpec("doc_id", "INT64", primary=True),
        FieldSpec("text", "VARCHAR", max_length=256),
        FieldSpec("vec", "FLOAT_VECTOR", dim=8),
    ], functions=[FunctionSpec("emb", "TEXT_EMBEDDING", "text", "vec",
                               params={"provider": "hash_projection",
                                       "dim": 8})])
    mgr.create_collection(spec)
    texts = [(1, "alpha beta alpha"), (2, "gamma delta epsilon"),
             (3, "wholly different words"), (4, None)]
    mgr.insert("ext_emb", spark.createDataFrame(
        texts, "doc_id long, text string")
        .withColumn("vec", F.lit(None).cast("array<float>")))
    rows = {r.doc_id: r.vec for r in mgr.read("ext_emb").collect()}
    # doc-side UDF output == the same batch_fn run driver-side (parity)
    want = _hash_projection_batch([t for _, t in texts], {"dim": 8})
    for (did, _), w in zip(texts, want):
        if w is None:
            assert rows[did] is None, did
            continue
        assert len(rows[did]) == 8
        assert all(abs(a - b) < 1e-6 for a, b in zip(rows[did], w)), did
        assert abs(math.fsum(x * x for x in w) - 1.0) < 1e-9, did
    # identical text scores cosine ~1.0 through the dense V1 knn path
    hits = mgr.text_embedding_search("ext_emb", "alpha beta alpha",
                                     k=2).collect()
    assert hits[0]["doc_id"] == 1 and abs(hits[0]["score"] - 1.0) < 1e-5
    # filtered search still composes
    flt_hits = mgr.text_embedding_search(
        "ext_emb", "alpha beta alpha", k=2, flt="doc_id > 1").collect()
    assert flt_hits[0]["doc_id"] != 1
    # third-party registration: a custom deterministic "model"
    register_embedding_provider(EmbeddingProvider(
        name="test_fake",
        batch_fn=lambda texts, p: [
            None if t is None else
            [float(len(t)), float(t.count("a")), 1.0, 0.0]
            for t in texts],
        output_type="array<float>", metric="L2"))
    spec2 = SchemaSpec("ext_emb2", [
        FieldSpec("doc_id", "INT64", primary=True),
        FieldSpec("text", "VARCHAR", max_length=256),
        FieldSpec("vec", "FLOAT_VECTOR", dim=4),
    ], functions=[FunctionSpec("emb", "TEXT_EMBEDDING", "text", "vec",
                               params={"provider": "test_fake"})])
    mgr.create_collection(spec2)
    mgr.insert("ext_emb2", spark.createDataFrame(
        [(1, "aaa"), (2, "bbbb")], "doc_id long, text string")
        .withColumn("vec", F.lit(None).cast("array<float>")))
    h2 = mgr.text_embedding_search("ext_emb2", "aaa", k=1).collect()
    assert h2[0]["doc_id"] == 1 and h2[0]["score"] < 1e-12  # exact L2 hit
    # query twin goes through the same function
    assert provider_embed_query(get_embedding_provider("test_fake"),
                                ["aaa"], {}) == [[3.0, 3.0, 1.0, 0.0]]
    # unknown provider fails loudly at write time
    spec3 = SchemaSpec("ext_emb3", [
        FieldSpec("doc_id", "INT64", primary=True),
        FieldSpec("text", "VARCHAR", max_length=256),
        FieldSpec("vec", "FLOAT_VECTOR", dim=4),
    ], functions=[FunctionSpec("emb", "TEXT_EMBEDDING", "text", "vec",
                               params={"provider": "no_such_model"})])
    mgr.create_collection(spec3)
    with pytest.raises(KeyError, match="no_such_model"):
        mgr.insert("ext_emb3", spark.createDataFrame(
            [(1, "x")], "doc_id long, text string")
            .withColumn("vec", F.lit(None).cast("array<float>")))
    # dense output WITHOUT a provider still rejects (built-in featurizer
    # is sparse-only)
    with pytest.raises(SchemaError, match="SPARSE_FLOAT_VECTOR"):
        SchemaSpec("bad", [
            FieldSpec("id", "INT64", primary=True),
            FieldSpec("t", "VARCHAR"),
            FieldSpec("v", "FLOAT_VECTOR", dim=4),
        ], functions=[FunctionSpec("e", "TEXT_EMBEDDING", "t",
                                   "v")]).validate()
    # a REGISTERED provider's declared output shape is enforced at
    # validate time (r08 review #2): the dense hash_projection provider
    # wired to a sparse field fails with a SchemaError naming the
    # provider — not a Spark analysis error at the first insert
    with pytest.raises(SchemaError, match="hash_projection"):
        SchemaSpec("bad2", [
            FieldSpec("id", "INT64", primary=True),
            FieldSpec("t", "VARCHAR"),
            FieldSpec("v", "SPARSE_FLOAT_VECTOR"),
        ], functions=[FunctionSpec("e", "TEXT_EMBEDDING", "t", "v",
                                   params={"provider": "hash_projection",
                                           "dim": 8})]).validate()
    # and the sparse-declared custom provider rejects a dense field
    register_embedding_provider(EmbeddingProvider(
        name="test_fake_sparse",
        batch_fn=lambda texts, p: [{} for _ in texts],
        output_type="map<int,float>", metric="SPARSE_DOT"))
    with pytest.raises(SchemaError, match="test_fake_sparse"):
        SchemaSpec("bad3", [
            FieldSpec("id", "INT64", primary=True),
            FieldSpec("t", "VARCHAR"),
            FieldSpec("v", "FLOAT_VECTOR", dim=4),
        ], functions=[FunctionSpec("e", "TEXT_EMBEDDING", "t", "v",
                                   params={"provider":
                                           "test_fake_sparse"})]).validate()


def test_text_embedding_provider_dim_validation(mgr, spark):
    """r08 ADVICE: a dense provider's emitted width is checked against
    the output field's declared dim at CREATE time — explicitly via
    params['dim'], and implicitly via the provider's default_dim."""
    import pytest

    # explicit params dim mismatching the field dim
    with pytest.raises(SchemaError, match="dim=16"):
        SchemaSpec("dimbad", [
            FieldSpec("id", "INT64", primary=True),
            FieldSpec("t", "VARCHAR"),
            FieldSpec("v", "FLOAT_VECTOR", dim=16),
        ], functions=[FunctionSpec("e", "TEXT_EMBEDDING", "t", "v",
                                   params={"provider": "hash_projection",
                                           "dim": 8})]).validate()
    # no params dim: hash_projection's default_dim=8 vs a dim-16 field
    with pytest.raises(SchemaError, match="dim=8"):
        SchemaSpec("dimbad2", [
            FieldSpec("id", "INT64", primary=True),
            FieldSpec("t", "VARCHAR"),
            FieldSpec("v", "FLOAT_VECTOR", dim=16),
        ], functions=[FunctionSpec("e", "TEXT_EMBEDDING", "t", "v",
                                   params={"provider":
                                           "hash_projection"})]).validate()
    # matching widths validate fine
    SchemaSpec("dimok", [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("t", "VARCHAR"),
        FieldSpec("v", "FLOAT_VECTOR", dim=16),
    ], functions=[FunctionSpec("e", "TEXT_EMBEDDING", "t", "v",
                               params={"provider": "hash_projection",
                                       "dim": 16})]).validate()


def test_text_embedding_search_rejects_none_query(mgr, spark):
    """r08 ADVICE: a None query text raises a ValueError naming the
    position, not an opaque createDataFrame error."""
    import pytest
    spec = SchemaSpec("noneq", [
        FieldSpec("doc_id", "INT64", primary=True),
        FieldSpec("text", "VARCHAR", max_length=64),
        FieldSpec("vec", "FLOAT_VECTOR", dim=8),
    ], functions=[FunctionSpec("emb", "TEXT_EMBEDDING", "text", "vec",
                               params={"provider": "hash_projection",
                                       "dim": 8})])
    mgr.create_collection(spec)
    mgr.insert("noneq", spark.createDataFrame(
        [(1, "alpha beta")], "doc_id long, text string")
        .withColumn("vec", F.lit(None).cast("array<float>")))
    with pytest.raises(ValueError, match=r"position.* \[1\] is None"):
        mgr.text_embedding_search("noneq", ["ok", None], k=1)
    # the built-in hashing path rejects the same way
    spec2 = SchemaSpec("noneq2", [
        FieldSpec("doc_id", "INT64", primary=True),
        FieldSpec("text", "VARCHAR", max_length=64),
        FieldSpec("sv", "SPARSE_FLOAT_VECTOR"),
    ], functions=[FunctionSpec("emb", "TEXT_EMBEDDING", "text", "sv")])
    mgr.create_collection(spec2)
    mgr.insert("noneq2", spark.createDataFrame(
        [(1, "alpha beta")], "doc_id long, text string")
        .withColumn("sv", F.lit(None).cast("map<int,float>")))
    with pytest.raises(ValueError, match=r"position \[0\] is None"):
        mgr.text_embedding_search("noneq2", [None], k=1)


# ------------------------------------------------------ commit-stamped memo

def _served_state(mgr, name="fts_coll"):
    """What a serving request sees: read()'s columns and rows and the
    BM25 stats function_tables() returns."""
    df = mgr.read(name)
    cols = [c for c in ("doc_id", "text") if c in df.columns]
    rows = sorted(tuple(r) for r in df.select(*cols).collect())
    _, stats = mgr.function_tables(name)
    terms = sorted((r.term, r.df_t, r.n_docs) for r in stats.collect())
    return tuple(df.columns), rows, terms


def _assert_serves_current(mgr, name="fts_coll"):
    """The memoized state equals what a fresh manager (empty memo) builds
    from disk, its scan reads only the current data version, and a
    repeated call is a memo hit (the same objects)."""
    state = _served_state(mgr, name)
    assert state == _served_state(
        CollectionManager(mgr.spark, mgr.warehouse), name)
    version = f"/{os.path.basename(mgr._data_dir(name))}/"
    assert all(version in f for f in mgr.read(name).inputFiles())
    assert mgr.read(name) is mgr.read(name)
    assert mgr.function_tables(name) is mgr.function_tables(name)
    return state


def test_read_memo_follows_every_locked_write(mgr, spark):
    """Every write through the writer lock replaces the COMMIT token, so
    read() and function_tables() serve the new state after each of them
    — appends into the current version dir (insert) included, which
    change no path a reader resolves."""
    _mk_fts(mgr)
    mgr.insert("fts_coll", _docs(spark, [(1, "alpha beta"), (2, "alpha"),
                                         (3, "gamma")]))
    states = [_assert_serves_current(mgr)]
    steps = [
        lambda: mgr.insert("fts_coll", _docs(spark, [(4, "delta alpha")])),
        lambda: mgr.upsert("fts_coll", _docs(spark, [(1, "omega")])),
        lambda: mgr.partial_update("fts_coll", spark.createDataFrame(
            [(2, "beta beta")], "doc_id long, text string")),
        lambda: mgr.delete("fts_coll", "doc_id == 3"),
        lambda: mgr.add_field("fts_coll", FieldSpec(
            "extra", "INT64", nullable=True)),
        lambda: mgr.drop_field("fts_coll", "extra"),
        lambda: mgr.force_merge("fts_coll"),
        lambda: mgr.truncate_collection("fts_coll"),
        lambda: mgr.insert("fts_coll", _docs(spark, [(9, "zeta")])),
    ]
    for step in steps:
        step()
        states.append(_assert_serves_current(mgr))
    # every step but force_merge changed what a request sees
    changed = [a != b for a, b in zip(states, states[1:])]
    assert changed == [True] * 6 + [False, True, True]


def test_read_memo_drop_recreate_and_alias_repoint(mgr, spark):
    """Dropping evicts the memo; a collection re-created under the same
    name (by this or another manager, even before its first write) is
    read afresh, and an alias follows its repointing."""
    _mk_fts(mgr)
    mgr.insert("fts_coll", _docs(spark, [(1, "alpha")]))
    _assert_serves_current(mgr)
    mgr.drop_collection("fts_coll")
    _mk_fts(mgr)
    mgr.insert("fts_coll", _docs(spark, [(7, "beta")]))
    assert _assert_serves_current(mgr)[1] == [(7, "beta")]
    # another manager drops and re-creates with a different schema and
    # writes nothing: the new schema is still what read() returns
    other = CollectionManager(spark, mgr.warehouse)
    other.drop_collection("fts_coll")
    other.create_collection(SchemaSpec("fts_coll", [
        FieldSpec("doc_id", "INT64", primary=True),
        FieldSpec("text", "VARCHAR", max_length=64, enable_analyzer=True),
        FieldSpec("sparse_bm25", "SPARSE_FLOAT_VECTOR"),
        FieldSpec("lang", "VARCHAR", max_length=8, nullable=True),
    ], functions=[FunctionSpec("fts", "BM25", "text", "sparse_bm25")]))
    cols, rows, terms = _assert_serves_current(mgr)
    assert "lang" in cols and rows == [] and terms == []

    _mk_fts(mgr, "fts_b")
    mgr.insert("fts_b", _docs(spark, [(5, "gamma")]))
    mgr.alter_alias("serving", "fts_coll")
    assert _served_state(mgr, "serving")[1] == []
    mgr.alter_alias("serving", "fts_b")
    assert _served_state(mgr, "serving")[1] == [(5, "gamma")]


def test_read_memo_sees_another_managers_writes(mgr, spark):
    """A second manager on the same warehouse (another process, in
    production) writes while the first one serves reads: the COMMIT
    token is what the first observes, so its next read() and
    function_tables() serve the other's commit."""
    _mk_fts(mgr)
    mgr.insert("fts_coll", _docs(spark, [(1, "alpha")]))
    mgr.load("fts_coll")
    assert mgr.read("fts_coll").is_cached
    before = _assert_serves_current(mgr)
    writer = CollectionManager(spark, mgr.warehouse)
    writer.insert("fts_coll", _docs(spark, [(2, "alpha beta")]))
    after = _assert_serves_current(mgr)
    assert after[1] == [(1, "alpha"), (2, "alpha beta")]
    assert ("alpha", 2, 2) in after[2] and after != before
    writer.delete("fts_coll", "doc_id == 1")
    assert _assert_serves_current(mgr)[1] == [(2, "alpha beta")]


def test_read_memo_skips_scoped_reads_and_ttl_clock(mgr, spark):
    """Partition-scoped, snapshot and ``now`` reads build a fresh scan;
    a TTL collection memoizes its scan only and applies the TTL filter
    per call."""
    import datetime
    _mk(mgr, "scoped", partitions=["p0", "p1"])
    mgr.insert("scoped", _rows(spark, 4), partition_name="p0")
    mgr.insert("scoped", _rows(spark, 3, start=10), partition_name="p1")
    assert mgr.read("scoped") is mgr.read("scoped")
    scoped = mgr.read("scoped", partition_names=["p1"])
    assert scoped is not mgr.read("scoped", partition_names=["p1"])
    assert scoped.count() == 3
    sid = mgr.create_snapshot("scoped")
    mgr.delete("scoped", "id < 2")
    assert mgr.read("scoped", snapshot_id=sid).count() == 7
    assert mgr.read("scoped").count() == 5

    mgr.create_collection(SchemaSpec("ttl_m", [
        FieldSpec("id", "INT64", primary=True)], ttl_seconds=60))
    mgr.insert("ttl_m", spark.range(3))
    a, b = mgr.read("ttl_m"), mgr.read("ttl_m")
    assert a is not b and a.count() == b.count() == 3
    later = datetime.datetime.now(datetime.timezone.utc) \
        + datetime.timedelta(hours=1)
    assert mgr.read("ttl_m", now=later).count() == 0


# ------------------------------------------------- resident BM25 weights

def _ranks(mgr, name="fts_coll"):
    return [sorted(map(tuple, mgr.bm25_search(name, q, k=5).collect()))
            for q in ("alpha", "alpha beta beta", "zeta gamma")]


def _resident_current(mgr, name="fts_coll"):
    """True when bm25_search ranks from resident weights: the memoized
    weights for the function-table key that is current now are cached and
    carry the folded n_docs."""
    spec = mgr.describe_collection(name)
    weights, n_docs = mgr._bm25_weights(spec, mgr.resolve(name),
                                        spec.functions[0])
    return weights.is_cached and n_docs is not None


def test_loaded_collection_serves_current_commit(mgr, spark):
    """On a loaded collection, read(), function_tables() and BM25 ranking
    equal a fresh manager's after every write, and the collection stays
    resident without a re-load: the weights are rebuilt for each new
    commit."""
    _mk_fts(mgr)
    mgr.insert("fts_coll", _docs(spark, [(1, "alpha beta"), (2, "alpha"),
                                         (3, "gamma zeta"), (4, "beta")]))
    mgr.load("fts_coll")

    def check(resident):
        _assert_serves_current(mgr)
        assert _ranks(mgr) == _ranks(
            CollectionManager(mgr.spark, mgr.warehouse))
        assert _resident_current(mgr) is resident
        assert mgr.loaded("fts_coll")

    check(True)
    steps = [
        lambda: mgr.insert("fts_coll", _docs(spark, [(5, "alpha zeta")])),
        lambda: mgr.upsert("fts_coll", _docs(spark, [(1, "beta beta")])),
        lambda: mgr.delete("fts_coll", "doc_id == 2"),
        lambda: mgr.truncate_collection("fts_coll"),
        lambda: mgr.insert("fts_coll", _docs(spark, [(9, "alpha gamma")])),
    ]
    for step in steps:
        step()
        check(True)
    assert _ranks(mgr)[0][0][1] == 9


def test_load_residency_is_bounded_and_released(mgr, spark):
    """Re-loading after each write keeps the persisted-RDD count flat
    (the data handle and one weights table), and release() and
    drop_collection() return it to the baseline."""
    jsc = spark.sparkContext._jsc
    _mk_fts(mgr)
    mgr.insert("fts_coll", _docs(spark, [(1, "alpha beta"), (2, "gamma")]))
    baseline = jsc.getPersistentRDDs().size()
    sizes = []
    for i in range(3):
        mgr.insert("fts_coll", _docs(spark, [(10 + i, "alpha omega")]))
        mgr.load("fts_coll")
        mgr.read("fts_coll").count()
        assert _resident_current(mgr)
        mgr.bm25_search("fts_coll", "alpha", k=3).collect()
        sizes.append(jsc.getPersistentRDDs().size())
    assert sizes[0] == sizes[1] == sizes[2] <= baseline + 2, sizes
    mgr.release("fts_coll")
    assert not mgr._memo and not mgr.loaded("fts_coll")
    assert jsc.getPersistentRDDs().size() <= baseline
    mgr.load("fts_coll")
    mgr.read("fts_coll").count()
    mgr.drop_collection("fts_coll")
    assert not mgr._memo and not mgr.loaded("fts_coll")
    assert jsc.getPersistentRDDs().size() <= baseline

