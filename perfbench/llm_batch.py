"""llm_batch: repeated passes of an LLM-data cleaning pipeline over a
seeded corpus stored as a collection.

Each pass clears Spark's cache first, as a batch user's fresh run starts
empty (the MinHash pipeline persists its codes and signatures and never
unpersists them), then runs five stages, each written to the ``noop``
sink so the full result is materialized.
"""

from __future__ import annotations

import statistics
import time

import gen
from harness import Bench, Op, timings

COLLECTION = "corpus"
SETUP_REPS = 3
# a window runs seconds // PASS_SECONDS passes (at least two): a fixed
# count, so that every run takes the median over the same passes
PASS_SECONDS = 4


def collection_spec(name: str):
    from vectordb_testbricks_spark.schema import FieldSpec, SchemaSpec
    return SchemaSpec(name, [FieldSpec("doc_id", "INT64", primary=True),
                             FieldSpec("text", "VARCHAR")])


def stages(n_docs: int):
    """(name, operator call) per pipeline stage; ``n_docs`` is the corpus
    size a batch user knows up front, passed as the operators' hint."""
    from vectordb_testbricks_spark.operators import dedup, textquality
    return [
        ("dedup.exact",
         lambda d: dedup.exact_duplicates(d, "doc_id", "text")),
        ("dedup.minhash",
         lambda d: dedup.minhash_lsh_dedup(d, "doc_id", "text",
                                           n_docs=n_docs)),
        ("textquality.quality",
         lambda d: textquality.quality_features(d, "doc_id", "text")),
        ("textquality.langid",
         lambda d: textquality.lang_id(d, "doc_id", "text")),
        ("textquality.fingerprint",
         lambda d: textquality.fingerprints(d, "doc_id", "text")),
    ]


def setup(b: Bench) -> gen.Corpus:
    import pyarrow as pa
    mgr = b.mgr
    for rep in range(SETUP_REPS):
        name = f"{COLLECTION}{rep}"
        with b.setup_phase("datagen"):
            corpus = gen.corpus(b.seed)
        with b.setup_phase("ingest"):
            mgr.create_collection(collection_spec(name))
            b.user_bytes += pa.Table.from_pandas(
                corpus.docs, preserve_index=False).nbytes
            with b.tracer.span("manager.insert"):
                mgr.insert(name, b.spark.createDataFrame(
                    corpus.docs, "doc_id long, text string"))
    b.track_files()
    for rep in range(SETUP_REPS - 1):
        mgr.drop_collection(f"{COLLECTION}{rep}")
    mgr.alter_alias(COLLECTION, f"{COLLECTION}{SETUP_REPS - 1}")
    return corpus


def one_pass(b: Bench, ops: list[Op], p: str, n_docs: int) -> float:
    """One pass over the corpus from an empty cache; returns its seconds."""
    b.spark.catalog.clearCache()
    t0 = time.perf_counter()
    with b.tracer.span("manager.read", trace=f"p{p}"):
        docs = b.mgr.read(COLLECTION).select("doc_id", "text")
    for name, fn in stages(n_docs):
        with b.op(ops, f"p{p}.{name}", name) as o:
            with b.tracer.span(f"{name}.build"):
                df = fn(docs)
            b.noop(df, o)
    return time.perf_counter() - t0


def run(b: Bench) -> dict:
    corpus = setup(b)
    n = len(corpus.docs)
    b.mark("setup")
    b.tracer.enabled = False
    failures = checked_pass(b, corpus)      # untimed warm-up pass
    b.mark("warmup")

    # a traced run brackets its traced window with two untraced ones, for
    # the tracing overhead
    windows = 3 if b.traced else 1
    results = []
    all_ops: list[Op] = []
    for w in range(windows):
        b.tracer.enabled = b.traced and w == 1
        ops: list[Op] = []
        passes = [one_pass(b, ops, f"{w}.{p}", n)
                  for p in range(max(2, b.seconds // PASS_SECONDS))]
        results.append((ops, passes))
        all_ops += ops
        b.mark(f"window{w}")
    ops, passes = results[windows // 2]
    failures += [f"{o.trace}: {o.error}" for o in all_ops if o.error]

    pass_s = statistics.median(passes)
    e2e = {
        "docs_per_s": {"value": n / pass_s, "unit": "1/s",
                       "n": len(passes)},
        "pass_p50_ms": {"value": pass_s * 1000.0, "unit": "ms",
                        "n": len(passes)},
        "pass_s": {"value": passes, "unit": "s", "n": len(passes)},
    }
    for name, _ in stages(n):
        t = timings([o for o in ops if o.kind == name], unit_ms=False)
        e2e[f"{name}_s"] = {"value": t["p50"], "unit": "s", "n": t["n"]}
    out = {"e2e": e2e, "failures": failures,
           "attempted": len(all_ops) + len(stages(n)),
           "headline": {"throughput": n / pass_s,
                        "latency_mean_ms":
                            statistics.mean(passes) * 1000.0}}
    if b.traced:
        untraced = statistics.mean(statistics.median(results[w][1])
                                   for w in (0, 2))
        layers = b.layer_metrics(ops)
        layers["trace.overhead_pct"] = 100.0 * (pass_s - untraced) / untraced
        out["layers"] = layers
        out["layers_detail"] = dedup_detail(b, n)
    return out


def checked_pass(b: Bench, corpus: gen.Corpus) -> list[str]:
    """One untimed pass whose stage outputs are collected and checked
    against the generator's ground truth: the planted exact-duplicate
    groups, the MinHash pairs they imply, and per-row stage outputs."""
    b.spark.catalog.clearCache()
    docs = b.mgr.read(COLLECTION).select("doc_id", "text")
    n = len(corpus.docs)
    out = {name: fn(docs).toPandas() for name, fn in stages(n)}
    errors = []
    exact = out["dedup.exact"]
    groups = {int(c): [int(i) for i in ids]
              for c, ids in zip(exact.canonical_id, exact.dup_ids)}
    if groups != corpus.groups:
        errors.append(f"dedup.exact: {len(groups)} groups != planted "
                      f"{len(corpus.groups)}")
    mh = out["dedup.minhash"]
    pairs = {(int(a), int(b)) for a, b in zip(mh.id_a, mh.id_b)}
    if pairs != corpus.dup_pairs():
        errors.append(f"dedup.minhash: {len(pairs)} pairs != planted "
                      f"{len(corpus.dup_pairs())}")
    for name in ("textquality.quality", "textquality.langid",
                 "textquality.fingerprint"):
        ids = out[name].doc_id.sort_values().tolist()
        if ids != list(range(n)):
            errors.append(f"{name}: {len(ids)} rows, not one per doc")
    if (out["textquality.quality"].n_tokens != gen.WORDS).any():
        errors.append(f"textquality.quality: n_tokens != {gen.WORDS}")
    fp = out["textquality.fingerprint"]
    md5 = dict(zip(fp.doc_id.tolist(), fp.content_md5.tolist()))
    if any(md5.get(i) != md5.get(c) for c, ids in corpus.groups.items()
           for i in ids):
        errors.append("textquality.fingerprint: copies differ in md5")
    return errors


def dedup_detail(b: Bench, n: int) -> dict:
    """LSH candidates against verified pairs (traced runs only: counting
    candidates is extra work)."""
    from vectordb_testbricks_spark.operators import dedup
    docs = b.mgr.read(COLLECTION).select("doc_id", "text")
    cands = dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(docs, "doc_id", "text"), "doc_id",
        n_docs=n).count()
    verified = dedup.minhash_lsh_dedup(docs, "doc_id", "text",
                                       n_docs=n).count()
    out = {"dedup.lsh_candidates": {"value": cands, "unit": "count", "n": 1},
           "dedup.lsh_verified": {"value": verified, "unit": "count", "n": 1},
           "dedup.lsh_precision": {"value": verified / max(cands, 1),
                                   "unit": "ratio", "n": 1}}
    for name in ("dedup.exact", "dedup.minhash", "textquality.quality",
                 "textquality.langid", "textquality.fingerprint"):
        ss = b.tracer.by_name(name)
        v = statistics.median(s.seconds for s in ss) if ss else None
        out[f"{name}_s"] = {"value": v, "unit": "s", "n": len(ss)}
    return out
