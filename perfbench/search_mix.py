"""search_mix: two closed-loop reader clients send seeded ad-hoc requests
(nq=1) to one loaded collection.

Each client sends the next request only after the previous one's rows are
in hand. The collection does not change while it is served, so every
request has one expected answer.
"""

from __future__ import annotations

import statistics
import threading
import time

import gen
from harness import Bench, Op, timings
from oracle import Oracle, request_error

COLLECTION = "docs"
SETUP_REPS = 3
CLIENTS = 2
WARMUP = 2            # untimed requests per client before the window
# a window sends a fixed number of requests, one block of the class order
# (20 requests) per BLOCK_SECONDS of --seconds, so that every run measures
# the same request mix
BLOCK_SECONDS = 10
EXPRS = 200           # size of the filter-expression corpus
WARM_STREAM = 100     # request streams: client c uses c, warm-up 100 + c


def collection_spec(name: str):
    from vectordb_testbricks_spark.schema import (
        FieldSpec, FunctionSpec, SchemaSpec)
    return SchemaSpec(name, [
        FieldSpec("pk", "INT64", primary=True),
        FieldSpec("category", "INT64"),
        FieldSpec("varchar_1", "VARCHAR"),
        FieldSpec("json_1", "JSON"),
        FieldSpec("embedding", "FLOAT_VECTOR", dim=gen.DIM),
        FieldSpec("text", "VARCHAR", enable_analyzer=True),
        FieldSpec("sparse_bm25", "SPARSE_FLOAT_VECTOR"),
    ], functions=[FunctionSpec("fts", "BM25", "text", "sparse_bm25")])


def setup(b: Bench):
    """SETUP_REPS identical builds of the collection (datagen, ingest with
    the BM25 sidecar, load into the Spark cache); the last one is served
    and the others are dropped."""
    import pyarrow as pa
    mgr = b.mgr
    for rep in range(SETUP_REPS):
        name = f"{COLLECTION}{rep}"
        with b.setup_phase("datagen"):
            rows = gen.initial_rows(b.seed)
        with b.setup_phase("ingest"):
            mgr.create_collection(collection_spec(name))
            b.user_bytes += pa.Table.from_pandas(
                rows, preserve_index=False).nbytes
            with b.tracer.span("manager.insert"):
                mgr.insert(name, b.spark.createDataFrame(
                    rows, gen.COLLECTION_SCHEMA))
        with b.setup_phase("load"):
            mgr.load(name)
            mgr.read(name).count()
    b.track_files()
    for rep in range(SETUP_REPS - 1):
        mgr.drop_collection(f"{COLLECTION}{rep}")
    mgr.alter_alias(COLLECTION, f"{COLLECTION}{SETUP_REPS - 1}")
    return rows


def serve(b: Bench, req: gen.Request, ops: list[Op], trace: str) -> None:
    """One request, timed until its rows are in hand."""
    from vectordb_testbricks_spark.exprlang import compile_expr
    from vectordb_testbricks_spark.operators import fusion, query, search
    span = b.tracer.span
    with b.op(ops, trace, req.kind) as o:
        with span("manager.read"):
            base = b.mgr.read(COLLECTION)
        pred = None
        if req.flt is not None:
            with span("exprlang.compile"):
                pred = compile_expr(req.flt, base)
        if req.kind in ("knn", "hybrid"):
            with span("search.build"):
                dense = search.knn_search(
                    base, search.queries_df(b.spark, [req.qvec]),
                    "embedding", "pk", metric="COSINE", k=10, flt=pred)
        if req.kind == "knn":
            rows = b.collect(dense, o)
            o.result = [(r.pk, r.score) for r in
                        sorted(rows, key=lambda r: r["rank"])]
        elif req.kind == "hybrid":
            if b.tracer.enabled:
                # reached only inside bm25_search; timed from outside
                with span("manager.function_tables"):
                    b.mgr.function_tables(COLLECTION)
            with span("bm25.build"):
                sparse = b.mgr.bm25_search(COLLECTION, req.text, k=10)
            with span("fusion.build"):
                fused = fusion.rrf_fuse([dense, sparse], "pk", k=10)
            rows = b.collect(fused, o)
            o.result = [(r.pk, r.score) for r in
                        sorted(rows, key=lambda r: r["rank"])]
        elif req.kind == "count":
            with span("query.build"):
                df = query.count_star(base, pred)
            o.result = b.collect(df, o)[0]["cnt"]
        else:
            with span("query.build"):
                df = query.query_by_pk(base, "pk", req.pks).select(
                    "pk", "category")
            o.result = sorted((r.pk, r.category) for r in b.collect(df, o))


def window(b: Bench, exprs: list[str],
           first: int) -> tuple[list[Op], float, list[Op]]:
    """CLIENTS closed loops that together send one block of
    ``gen.CLASS_ORDER`` per BLOCK_SECONDS of ``b.seconds``. A client that
    has sent its share keeps sending filler requests until every client
    has, so that the load stays at CLIENTS requests in flight until the
    last counted one completes. Returns the counted requests, the seconds
    until the last of them completed, and the fillers (checked, not
    timed)."""
    per_client: list[list[Op]] = [[] for _ in range(CLIENTS)]
    fillers: list[list[Op]] = [[] for _ in range(CLIENTS)]
    n = (len(gen.CLASS_ORDER) // CLIENTS
         * max(1, round(b.seconds / BLOCK_SECONDS)))
    shares_left = [CLIENTS]
    lock = threading.Lock()
    t0 = time.perf_counter()

    def client(c: int) -> None:
        # the clients start half a block apart, so that together they
        # send whole blocks
        start = first + c * len(gen.CLASS_ORDER) // CLIENTS
        try:
            for i in range(start, start + n):
                serve(b, _request(b, exprs, c, i), per_client[c],
                      f"c{c}.{i}")
        finally:
            with lock:
                shares_left[0] -= 1
        i = start + n
        while shares_left[0]:
            serve(b, _request(b, exprs, c, i), fillers[c], f"c{c}.{i}")
            i += 1

    threads = [threading.Thread(target=client, args=(c,))
               for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ops = [o for ops in per_client for o in ops]
    return (ops, max(o.end for o in ops) - t0,
            [o for ops in fillers for o in ops])


def _warm(b: Bench, exprs: list[str], c: int, ops: list[Op]) -> None:
    """Client ``c``'s warm-up requests: a kNN and a hybrid request for
    each client, so that both are busy for the whole warm-up."""
    for i in range(6 * c, 6 * c + WARMUP):
        serve(b, _request(b, exprs, WARM_STREAM + c, i), ops,
              f"w{WARM_STREAM + c}.{i}")


def _request(b: Bench, exprs: list[str], stream: int, i: int) -> gen.Request:
    return gen.request(b.seed, i, exprs, gen.COLLECTION_ROWS, stream=stream)


def run(b: Bench) -> dict:
    from vectordb_testbricks_spark.workload import expression_corpus
    exprs = expression_corpus(EXPRS, seed=b.seed)
    rows = setup(b)
    b.mark("setup")

    # warm-up until the JIT has settled
    b.tracer.enabled = False
    warm: list[Op] = []
    clients = [threading.Thread(target=_warm, args=(b, exprs, c, warm))
               for c in range(CLIENTS)]
    for t in clients:
        t.start()
    for t in clients:
        t.join()
    b.mark("warmup")
    # a traced run brackets its traced window with two untraced ones, for
    # the tracing overhead
    windows = 3 if b.traced else 1
    results = []
    for w in range(windows):
        b.tracer.enabled = b.traced and w == 1
        results.append(window(b, exprs, first=w * 10_000))
        b.mark(f"window{w}")
    ops, seconds, _ = results[windows // 2]

    # ---- output checks (outside the timed windows)
    every = [o for ops_, _, fill in results for o in ops_ + fill]
    failures = [f"{o.trace} {o.kind}: {o.error}" for o in warm + every
                if o.error]
    orc = Oracle(rows)
    checked = 0
    for o in warm + every:
        if o.error is not None:
            continue
        stream, i = (int(x) for x in o.trace[1:].split("."))
        err = request_error(_request(b, exprs, stream, i), o.result, orc)
        checked += 1
        if err:
            failures.append(f"{o.trace} {o.kind}: {err}")
    orc.close()
    state_err = state_error(b, rows)
    if state_err:
        failures.append(state_err)
    b.mark("checks")

    ok = [o for o in ops if o.error is None]
    lat = timings(ops)
    mean_ms = (statistics.mean(o.seconds for o in ok) * 1000.0
               if ok else None)
    e2e = {"qps": {"value": len(ok) / seconds, "unit": "1/s", "n": len(ok)},
           "latency_mean_ms": {"value": mean_ms, "unit": "ms",
                               "n": len(ok)},
           "latency_p50_ms": {"value": lat["p50"], "unit": "ms",
                              "n": lat["n"]}}
    if "p90" in lat:
        e2e["latency_p90_ms"] = {"value": lat["p90"], "unit": "ms",
                                 "n": lat["n"]}
    for kind in ("knn", "hybrid", "count", "pk"):
        t = timings([o for o in ops if o.kind == kind])
        e2e[f"request.{kind}_p50_ms"] = {"value": t["p50"], "unit": "ms",
                                         "n": t["n"]}
    out = {"e2e": e2e, "failures": failures,
           "attempted": len(warm) + len(every) + 1,
           "checked_requests": checked,
           "headline": {"throughput": e2e["qps"]["value"],
                        "latency_mean_ms": mean_ms}}
    if b.traced:
        base = statistics.mean(
            statistics.median(o.seconds for o in results[w][0]
                              if not o.error) for w in (0, 2))
        layers = b.layer_metrics(ops)
        layers["trace.overhead_pct"] = 100.0 * (
            statistics.median(o.seconds for o in ok) - base) / base
        out["layers"] = layers
        out["layers_detail"] = layer_detail(b)
    return out


def state_error(b: Bench, expected) -> str | None:
    """Count and order-insensitive checksum of the served collection
    against the generated rows."""
    from vectordb_testbricks_spark.validators import collection_checksum
    fields = list(gen.FIELDS)
    exp = collection_checksum(b.spark.createDataFrame(
        expected, gen.COLLECTION_SCHEMA), fields).collect()[0]
    act = collection_checksum(
        b.mgr.read(COLLECTION).select(*fields), fields).collect()[0]
    if (exp["n_rows"], exp["checksum"]) != (act["n_rows"], act["checksum"]):
        return (f"collection: rows {act['n_rows']} checksum "
                f"{act['checksum']} != expected rows {exp['n_rows']} "
                f"checksum {exp['checksum']}")
    return None


def layer_detail(b: Bench) -> dict:
    """The layer timings only this workload exercises (p50 per call)."""
    from tracing import p50
    names = {"exprlang.compile_ms": "exprlang.compile",
             "search.build_ms": "search.build",
             "query.build_ms": "query.build",
             "bm25.build_ms": "bm25.build",
             "fusion.build_ms": "fusion.build",
             "manager.function_tables_ms": "manager.function_tables"}
    out = {}
    for metric, span in names.items():
        v = p50([s.seconds for s in b.tracer.by_name(span)])
        out[metric] = {"value": None if v is None else v * 1000.0,
                       "unit": "ms", "n": len(b.tracer.by_name(span))}
    out["setup.load_s"] = {"value": statistics.median(b.setup["load"]),
                           "unit": "s", "n": len(b.setup["load"])}
    return out
