"""Arrow-batched numpy kernels for the two HOF-heavy hot paths.

Round-8 instrumentation localized a sticky per-JVM HotSpot pathology to
exactly one stage per scale entry: the interpreted higher-order-function
eval chain (ArrayTransform/aggregate) of (a) the MinHash codes+signature
materialization and (b) the sparse postings build ran at ~16x CPU in
~50% of JVM launches — same stage id, identical plan, every other stage
in the same JVM normal (BASELINE.md r08 section; refuted A/B probes
included the decisive ``wholeStage=false`` floor run). These kernels
re-express those two computations as ``mapInPandas`` numpy/hashlib code:
Arrow-batched (never row-at-a-time Python UDFs), embarrassingly parallel
(zero shuffles — the kernels are per-row work), and immune to JVM JIT
state by construction.

Exactness contract: each kernel is a bit-for-bit twin of its JVM
expression path (tokenize regex, md5-derived 60-bit codes mod
P = 2^31-1, the affine hash family of dedup.hash_params, NULL/empty-text
edge semantics) — asserted by identity tests in
tests/test_arrow_kernels.py and, for the MinHash pipeline, by the
driver's DuckDB oracle row (dd_minhash).

Who picks which path: no operator takes a path option. The kernel is
the only production path of MinHash and SimHash dedup, the n-gram
Jaccard pipeline (codes and verify), the MinHash verify and the sparse
postings build. Their JVM twins (``dedup._token_codes``,
``dedup.jaccard_pairs``, ``search.sparse_postings``, ...) stay as the
references the identity tests compare against; ``jaccard_pairs`` also
verifies the fixture-scale dd_ngram_jaccard entry, where it measured
faster than the kernel (OPTIMIZATION_r13.md). Dense kNN has no size
gate, because its crossover depends on nq, k and corpus size together
(BASELINE.md "Dense kNN Arrow kernel"): ``search.knn_search`` is the
JVM expression path, and the two callers that want the kernel call
:func:`knn_search_arrow` directly — the 1M kNN scale entry, where it
measured faster, and v_knn_metrics' ``A_<metric>`` branches, which keep
it behind the driver's oracle.

Reference parity: the signatures these kernels produce feed the same
banded-LSH dedup surface SURVEY.md S2 maps from the reference's
validator family (milvus_client/common/data.py:78-131 checksum shapes);
the postings kernel feeds the SPARSE_INVERTED_INDEX physical tier
(manifests/schema_matrix_2_6.yaml:63,80).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _minhash_rows(texts, shingle_n, a_vec, b_vec, p):
    """Per-batch worker: (ids, texts) -> (codes list, sig list) with the
    JVM path's exact semantics. Pure Python/numpy; importable so the
    test suite can probe it without a Spark session."""
    import hashlib

    import numpy as np

    from vectordb_testbricks_spark.functions.text import (
        py_shingles, py_tokenize)

    n_hash = len(a_vec)
    codes_out: list = []
    flat_parts: list = []
    offsets: list = []
    rowkind: list = []            # "np" rows get vectorized sigs
    pos = 0
    for text in texts:
        if text is None:
            # JVM: split(NULL) -> NULL toks. With shingling, the
            # when/otherwise wrapper turns that into [array_join(NULL)]
            # = [NULL] -> codes [NULL]; WITHOUT shingling,
            # transform(NULL) stays NULL -> codes NULL. Either way
            # array_min over NULL/[NULL] is NULL per hash -> sig
            # [NULL]*n.
            codes_out.append([None] if shingle_n else None)
            rowkind.append("null")
            continue
        toks = py_tokenize(text)
        # truthiness, not `is None`: the JVM twin (_token_codes) switches
        # on `if shingle_n`, so shingle_n=0 must also mean raw tokens here
        # (ADVICE r09: `is None` emitted width-0 shingles for 0)
        units = py_shingles(toks, shingle_n) if shingle_n else toks
        if not units:
            # shingle_n=None on an empty token list: transform([]) -> []
            # -> codes []; array_min(transform([], ..)) is NULL per hash
            codes_out.append([])
            rowkind.append("empty")
            continue
        cs = np.unique(np.fromiter(
            (int(hashlib.md5(u.encode("utf-8")).hexdigest()[:15], 16) % p
             for u in units),
            dtype=np.int64, count=len(units)))
        codes_out.append(cs.tolist())
        flat_parts.append(cs)
        offsets.append(pos)
        pos += len(cs)
        rowkind.append("np")
    sigs_np = None
    if flat_parts:
        flat = np.concatenate(flat_parts)
        # (N, H): c*a + b fits int64 (c < 2^31, a <= 2H+1, b < 2^31)
        vals = (flat[:, None] * a_vec + b_vec) % p
        sigs_np = np.minimum.reduceat(vals, np.asarray(offsets), axis=0)
    sig_out: list = []
    k = 0
    for kind in rowkind:
        if kind == "np":
            sig_out.append(sigs_np[k].tolist())
            k += 1
        else:
            sig_out.append([None] * n_hash)
    return codes_out, sig_out


def minhash_codes_sigs(docs: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 16,
                       shingle_n: int | None = 3,
                       with_sigs: bool = True) -> DataFrame:
    """(id, codes, sig) — the MinHash codes+signature materialization as
    one Arrow-batched kernel pass. ``with_sigs=False`` outputs
    (id, codes) only and skips the affine min-reduction entirely —
    column pruning cannot reach inside mapInPandas, so a codes-only
    consumer (the ngram pipeline) must opt out explicitly or it pays
    the (N, num_hashes) hash matrix for nothing (review r09 #2).

    Twin of ``dedup._token_codes`` + ``dedup.signatures_from_codes``:
    same tokenizer (functions.text.py_tokenize == tokenize), same shingle
    rule (short docs emit their full join), same md5-derived 60-bit codes
    mod P, same affine family (dedup.hash_params), same NULL-text edges
    (codes [NULL], sig [NULL]*n). The affine min-reduction is vectorized
    numpy over the batch's flattened code arrays (``minimum.reduceat``);
    only the md5 of each distinct shingle is a per-string C call.
    """
    from vectordb_testbricks_spark.operators.dedup import P, hash_params

    params = hash_params(num_hashes) if with_sigs else []
    a_list = [a for a, _ in params]
    b_list = [b for _, b in params]
    fields = [
        T.StructField(id_col, docs.schema[id_col].dataType),
        T.StructField("codes", T.ArrayType(T.LongType())),
    ]
    if with_sigs:
        fields.append(T.StructField("sig", T.ArrayType(T.LongType())))
    out_schema = T.StructType(fields)

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        a_vec = np.asarray(a_list, dtype=np.int64)
        b_vec = np.asarray(b_list, dtype=np.int64)
        for pdf in batches:
            codes, sigs = _minhash_rows(
                pdf[text_col].tolist(), shingle_n, a_vec, b_vec, P)
            out = {id_col: pdf[id_col], "codes": codes}
            if with_sigs:
                out["sig"] = sigs
            yield pd.DataFrame(out)

    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)


def _simhash_rows(texts, a_vec, b_vec, p):
    """Per-batch worker: texts -> simhash bigints with the JVM expression
    path's exact semantics (dedup.simhash_signatures). Pure Python/numpy;
    importable so the test suite can probe it without a Spark session.

    Integer-exact by construction: tf and codes are ints, the affine
    parity sign is ((code·a + b) mod P) mod 2 · 2 − 1, per-bit signed
    sums are int64 additions, and the bit pack is a bitwise OR of
    distinct powers of two on int64 (so bits=64 wraps bit 63 into the
    sign bit exactly like the JVM's shiftleft on a Java long). NULL and
    token-less texts produce 0 — the JVM's when(NULL > 0)/otherwise(0)
    and aggregate([], 0) edges respectively."""
    import hashlib

    import numpy as np

    from vectordb_testbricks_spark.functions.text import py_tokenize

    nbits = len(a_vec)
    flat_codes: list = []
    flat_tf: list = []
    offsets: list = []
    is_np: list = []
    pos = 0
    for text in texts:
        toks = py_tokenize(text) if text is not None else []
        if not toks:
            is_np.append(False)
            continue
        counts: dict = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        cs = np.fromiter(
            (int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16) % p
             for t in counts), dtype=np.int64, count=len(counts))
        tf = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
        flat_codes.append(cs)
        flat_tf.append(tf)
        offsets.append(pos)
        pos += len(cs)
        is_np.append(True)
    sums = None
    if flat_codes:
        codes = np.concatenate(flat_codes)
        tf = np.concatenate(flat_tf)
        # (N, nbits): code < 2^31, a <= 2·nbits+1, b < 2^31 — fits int64
        signs = ((codes[:, None] * a_vec + b_vec) % p) % 2 * 2 - 1
        sums = np.add.reduceat(signs * tf[:, None],
                               np.asarray(offsets), axis=0)
    weights = np.left_shift(np.ones(nbits, dtype=np.int64),
                            np.arange(nbits, dtype=np.int64))
    out: list = []
    k = 0
    for np_row in is_np:
        if np_row:
            # OR of distinct powers == the JVM's bitwiseOR chain; reduce
            # of an empty selection yields the OR identity 0
            out.append(int(np.bitwise_or.reduce(weights[sums[k] > 0])))
            k += 1
        else:
            out.append(0)
    return out


def simhash_arrow(docs: DataFrame, id_col: str, text_col: str,
                  bits: int = 16) -> DataFrame:
    """(id, simhash) — the tf-weighted hyperplane SimHash as one
    Arrow-batched kernel pass: twin of ``dedup.simhash_signatures``'s
    JVM expression path (same tokenizer, md5-derived codes mod P, affine
    parity family, integer bit pack — identity asserted in
    tests/test_arrow_kernels.py).

    Why (r12, guide §4.2): the JVM path's per-doc tf computation is a
    ``transform(array_distinct(toks), u -> size(filter(toks, x = u)))``
    — an interpreted-HOF chain quadratic in doc length and the same
    expression class as the r08 per-JVM slow mode the MinHash kernel
    escaped; this kernel replaces it with one vectorized numpy pass
    (Counter tf, ``add.reduceat`` per-bit sums)."""
    from vectordb_testbricks_spark.operators.dedup import P, hash_params

    params = hash_params(bits)
    a_list = [a for a, _ in params]
    b_list = [b for _, b in params]
    out_schema = T.StructType([
        T.StructField(id_col, docs.schema[id_col].dataType),
        T.StructField("simhash", T.LongType()),
    ])

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        a_vec = np.asarray(a_list, dtype=np.int64)
        b_vec = np.asarray(b_list, dtype=np.int64)
        from vectordb_testbricks_spark.operators.dedup import P as p
        for pdf in batches:
            sims = _simhash_rows(pdf[text_col].tolist(), a_vec, b_vec, p)
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": sims})

    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)


def jaccard_arrow(joined: DataFrame, a_col: str = "ca",
                  b_col: str = "cb") -> DataFrame:
    """Exact Jaccard over two code-array columns as an Arrow-batched
    kernel: input rows carry the joined candidate pair with both docs'
    code arrays; output replaces them with a ``jaccard`` double.

    Twin of the JVM expression in ``dedup.jaccard_pairs``
    (``size(array_intersect)/size(array_union)`` with NULL-array rows
    yielding NULL): codes are distinct per doc by construction, so set
    intersection/union sizes match Spark's array semantics exactly, incl.
    a NULL *element* matching a NULL element (Spark's array_intersect is
    null-safe-equal). Arrow→pandas converts an ``array<bigint>`` that
    CONTAINS a null into a float64 array whose null is NaN — and
    ``NaN != NaN`` would silently unmatch what the JVM null-safe-matches
    (review r09 #1, caught by executing both impls on [NULL] codes) —
    so elements normalize to int/None before the set ops (float64 holds
    the <2^31 codes exactly; int() restores identity with null-free
    int64 batches). The division is one IEEE double op — bit-identical
    across engines. This is the third kernel of the r08 slow-mode
    escape: at 10M docs the verify stage's interpreted
    collection-expression eval showed the same graded per-JVM CPU
    inflation (807 vs 364 CPU-s, identical plan)."""
    out_fields = [f for f in joined.schema.fields
                  if f.name not in (a_col, b_col)]
    out_schema = T.StructType(
        out_fields + [T.StructField("jaccard", T.DoubleType())])
    keep = [f.name for f in out_fields]

    def codes_set(a):
        if a is None:
            return None
        return {None if v is None or (isinstance(v, float) and v != v)
                else int(v) for v in a}

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            jac = []
            for ca, cb in zip(pdf[a_col], pdf[b_col]):
                sa, sb = codes_set(ca), codes_set(cb)
                if sa is None or sb is None:
                    jac.append(None)
                    continue
                u = len(sa | sb)
                jac.append(len(sa & sb) / u if u else None)
            out = pdf[keep].copy()
            out["jaccard"] = pd.Series(jac, index=pdf.index, dtype=object)
            yield out

    return joined.mapInPandas(gen, out_schema)


def sparse_postings_arrow(base: DataFrame, map_col: str, id_col: str,
                          key_col: str = "key",
                          weight_col: str = "weight") -> DataFrame:
    """Explode a SPARSE_FLOAT_VECTOR (MapType) column into inverted
    postings ``(id, key, weight)`` — the Arrow twin of
    ``search.sparse_postings`` (same output schema, same row set; NULL
    maps contribute no postings, exactly like ``F.explode``). The
    per-row dict iteration happens in Python over Arrow batches; the
    downstream bucket expression / partitioned write are unchanged."""
    mt = base.schema[map_col].dataType
    if not isinstance(mt, T.MapType):
        raise TypeError(f"{map_col} must be a MapType column, got {mt}")
    out_schema = T.StructType([
        T.StructField(id_col, base.schema[id_col].dataType),
        # map keys are never null — F.explode marks them non-nullable
        T.StructField(key_col, mt.keyType, False),
        # the map's declared value type/nullability, not a hardcoded
        # double: the JVM twin's F.explode preserves them, and a
        # map<int,float> input must emit float postings on both paths
        # (ADVICE r09)
        T.StructField(weight_col, mt.valueType, mt.valueContainsNull),
    ])

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            ids: list = []
            keys: list = []
            weights: list = []
            for i, m in zip(pdf[id_col], pdf[map_col]):
                if m is None:
                    continue
                items = m.items() if isinstance(m, dict) else m
                for k, w in items:
                    ids.append(i)
                    keys.append(k)
                    weights.append(w)
            yield pd.DataFrame(
                {id_col: ids, key_col: keys, weight_col: weights})

    return base.select(id_col, map_col).mapInPandas(gen, out_schema)


def local_heavy_codes_arrow(codes: DataFrame, min_local: int) -> DataFrame:
    """Per-partition heavy-code candidates ``(code)``: codes whose count
    WITHIN one input partition is ≥ ``min_local``, via one ``np.unique``
    pass over the partition's flattened code arrays.

    Pigeonhole support for the code-order blacklist: with P partitions,
    a code with global df > t must have local count ≥ ceil((t+1)/P) in
    at least one partition — so for min_local = ceil((t+1)/P) ≥ 2 the
    emitted set is an exact candidate SUPERSET of the df-over-t codes,
    at per-partition numpy cost and with no 100M-row aggregation: the
    caller exact-counts only these candidates through a broadcast
    semi-join. Emitting with min_local = 1 would be every distinct code
    (useless); callers must fall back to a full aggregation when
    P > t. NULL arrays and NULL elements are skipped (they never
    post).

    ``mapInArrow``, not ``mapInPandas``: df counting never needs the
    per-doc row structure (codes are distinct per doc, so flat
    occurrences ARE doc frequencies) — the ListArray's flat values
    buffer is the same data as one contiguous int64 vector, while the
    pandas lowering hands it over as millions of tiny per-row ndarray
    views. Both the object churn and, critically, the ALLOCATION volume
    matter: on this platform concurrently first-touched fresh pages
    back at ~100 MB/s machine-wide (BASELINE.md r10 'Measured platform
    constraint'), so the kernel keeps its fresh footprint near 1× the
    data — flat Arrow buffers, one in-place sort, adjacent-equality dup
    detection instead of np.unique's ~4× scratch (measured: 83-162 s
    per 10M first run the allocation-heavy way, 5.6 s warm)."""
    import numpy as np

    if min_local < 2:
        raise ValueError(
            f"min_local={min_local} < 2 emits every distinct code — "
            f"fall back to a full df aggregation instead")
    out_schema = T.StructType([T.StructField("code", T.LongType(), False)])

    def gen(batches: Iterator) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc
        flats: list = []
        # counts are per PARTITION, so accumulate across this
        # partition's Arrow batches before the dup pass
        for batch in batches:
            col = batch.column(0)
            # list_flatten drops NULL lists; a null ELEMENT survives as
            # a null slot, dropped explicitly
            flat = pc.drop_null(pc.list_flatten(col))
            if len(flat):
                flats.append(flat.to_numpy(zero_copy_only=False)
                             .astype(np.int64, copy=False))
        if not flats:
            return
        # hand-rolled instead of np.unique(return_counts=True): sort the
        # concat buffer IN PLACE and take runs of length >= min_local via
        # adjacent equality. np.unique allocates ~4x the data (flatten
        # copy, argsorted copy, nonzero index vectors, counts) — and on
        # this platform FRESH pages are the dominant cost (first-touch
        # throughput collapses to ~100 MB/s machine-wide when the
        # hypervisor lazily backs guest memory, measured in BASELINE.md
        # r10; warm pages write at ~39 GB/s). Keeping the kernel's fresh
        # footprint at ~1x the data is a 3-4x wall win in that regime.
        flat = np.concatenate(flats)
        flats.clear()
        if flat.size < min_local:
            # no run can reach min_local; also guards the shifted-slice
            # arithmetic below (len(eq)-k+1 would go negative and numpy
            # slice-wrap into non-broadcastable shapes — ADVICE r10)
            return
        flat.sort()
        eq = flat[1:] == flat[:-1]
        if min_local == 2:
            heavy = np.unique(flat[1:][eq])
        else:
            # run length >= min_local <=> some i where all of
            # eq[i : i+min_local-1] hold; np.logical_and.reduce over
            # shifted views keeps it allocation-light
            k = min_local - 1
            acc = eq[: len(eq) - k + 1].copy()
            for off in range(1, k):
                acc &= eq[off: len(eq) - k + 1 + off]
            heavy = np.unique(flat[k:][np.flatnonzero(acc)])
        if heavy.size:
            yield pa.RecordBatch.from_arrays(
                [pa.array(heavy, type=pa.int64())], ["code"])

    return codes.select("codes").mapInArrow(gen, out_schema)


def prefix_postings_arrow(codes: DataFrame, id_col: str, threshold: float,
                          blacklist) -> DataFrame:
    """AllPairs prefix postings ``(id, sz, pos, code)`` under the **code
    total order**, as one shuffle-free Arrow pass — the scale path of
    ``dedup.ngram_candidate_pairs(order="code")``.

    The AllPairs/PPJoin prefix lemma holds for ANY total order shared by
    all docs; the rarity order (df asc) is only a fan-out heuristic. It
    is also the expensive part of the posting build: attaching df to
    every exploded code row is a full-stream shuffle join, and ranking
    under (df, code) per doc is a second full-stream shuffle + sort —
    at 10M docs those two stages are where the pipeline's 55 GB sort
    spill lived. Under the code order both disappear: ``codes`` arrives
    per-doc, distinct and ascending (``_token_codes`` /
    ``minhash_codes_sigs`` both sort), so a doc's surviving codes are
    already in rank order and ``pos`` is just the array index after
    dropping blacklisted codes. The only remaining global stage is the
    df aggregation that derives ``blacklist`` (codes with df > max_df) —
    which the caller collects and this kernel ships as a Spark broadcast.

    Twin contract (tests/test_arrow_kernels.py, vs the JVM code-order
    window path): sz counts the FULL codes array (NULL elements
    included, like ``F.size``); NULL arrays and NULL elements never
    post (the JVM twin's posexplode + isNotNull); prefix length is
    ``floor((1-threshold)*sz) + 1`` with the same IEEE double product;
    ``pos`` ranks surviving codes ascending. Precondition: per-doc codes
    are distinct (equal codes would make the JVM twin's row_number
    tie-break nondeterministic).

    mapInArrow, not mapInPandas (ADVICE r10): Arrow->pandas folds a
    list<int64> containing a NULL element into a float64 array, which
    silently rounds codes >= 2^53 before the kernel can see them. In
    Arrow the list keeps exact int64 values plus a validity bitmap, so
    NULL elements drop without any float detour — exact for the full
    int64 code range (a future xxhash64-style code source included)."""
    import math

    import numpy as np

    out_schema = T.StructType([
        T.StructField(id_col, codes.schema[id_col].dataType),
        T.StructField("sz", T.IntegerType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("code", T.LongType(), False),
    ])
    bl = (np.sort(np.asarray(list(blacklist), dtype=np.int64))
          if len(blacklist) else np.empty(0, dtype=np.int64))
    bl_bc = codes.sparkSession.sparkContext.broadcast(bl)
    frac = 1.0 - threshold

    def gen(batches: Iterator) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc
        blv = bl_bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            id_arr = batch.column(0)
            lc = batch.column(1)
            ids_py = id_arr.to_pylist()
            valid = pc.is_valid(lc).to_numpy(zero_copy_only=False) \
                .astype(bool, copy=False)
            lens = pc.fill_null(pc.list_value_length(lc), 0) \
                .to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
            lens = np.where(valid, lens, 0)
            # list_flatten drops NULL LISTS but keeps NULL elements as
            # null slots; fill_null keeps the array int64 so to_numpy is
            # exact, and the is_null mask (computed BEFORE the fill)
            # drops those slots by position, never by value
            flat = pc.list_flatten(lc)
            nullm = pc.is_null(flat).to_numpy(zero_copy_only=False) \
                .astype(bool, copy=False)
            vals = pc.fill_null(flat, 0).to_numpy(zero_copy_only=False) \
                .astype(np.int64, copy=False)
            ends = np.cumsum(lens)
            ids: list = []
            szs: list = []
            poss: list = []
            outc: list = []
            for i in range(batch.num_rows):
                sz = int(lens[i])
                if sz == 0:
                    continue
                e = int(ends[i])
                s = e - sz
                seg = vals[s:e]
                nm = nullm[s:e]
                # np.sort copies — seg is a view into the shared batch
                # buffer and must never be sorted in place
                a = np.sort(seg[~nm] if nm.any() else seg)
                if blv.size and a.size:
                    j = np.searchsorted(blv, a)
                    inb = j < blv.size
                    hit = np.zeros(a.size, dtype=bool)
                    hit[inb] = blv[j[inb]] == a[inb]
                    a = a[~hit]
                take = a[:math.floor(frac * sz) + 1]
                if not take.size:
                    continue
                ids.extend([ids_py[i]] * take.size)
                szs.append(np.full(take.size, sz, dtype=np.int32))
                poss.append(np.arange(take.size, dtype=np.int32))
                outc.append(take)
            if ids:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids, type=id_arr.type),
                     pa.array(np.concatenate(szs), type=pa.int32()),
                     pa.array(np.concatenate(poss), type=pa.int32()),
                     pa.array(np.concatenate(outc), type=pa.int64())],
                    [id_col, "sz", "pos", "code"])

    return codes.select(id_col, "codes").mapInArrow(gen, out_schema)


# ---------------------------------------------------- dense kNN kernel

def _seq_sum(mat):
    """Left-to-right fold over the dim axis — the exact summation ORDER
    of the JVM twin (``F.aggregate``'s sequential lambda: ((0.0 + p0) +
    p1) + ...). numpy's own reductions use pairwise summation, which can
    differ in the last ulp and would break the bit-for-bit contract."""
    import numpy as np
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j]
    return acc


def _dense_scores(mat, q, metric):
    """(B, d) float64 rows vs one length-d float64 query, with the JVM
    expression tree's exact op order per metric (functions/vector.py):
    IP = fold(x*y); L2 = fold((x-y)^2); COSINE =
    try_divide(fold(x*y), sqrt(fold(x*x)) * sqrt(fold(y*y)));
    HAMMING = sum over sign-bit disagreement. Returns (scores float64,
    null_mask) — null_mask marks COSINE zero-denominator rows (the
    try_divide -> NULL edge); arithmetic NaN/inf flow through as
    values, exactly like the JVM."""
    import numpy as np
    m = metric.upper()
    if m == "IP":
        return _seq_sum(mat * q[None, :]), None
    if m == "L2":
        d = mat - q[None, :]
        return _seq_sum(d * d), None
    if m == "COSINE":
        dots = _seq_sum(mat * q[None, :])
        na = np.sqrt(_seq_sum(mat * mat))
        nq = float(np.sqrt(_seq_sum((q * q)[None, :])[0]))
        denom = na * nq
        with np.errstate(divide="ignore", invalid="ignore"):
            scores = dots / denom
        return scores, denom == 0.0
    if m == "HAMMING":
        # Spark orders NaN greater than any double, so the JVM's
        # `x >= 0` is TRUE for NaN elements; numpy says False — OR in
        # the isnan mask to match. Integer score, like the JVM's
        # bigint fold.
        sa = (mat >= 0) | np.isnan(mat)
        sq = (q >= 0) | np.isnan(q)
        bits = sa != sq[None, :]
        return bits.sum(axis=1).astype(np.int64), None
    raise ValueError(f"unsupported metric {metric!r}")


def _topk_local(ids, scores, k, asc):
    """Indices of the k best rows under Spark's EXACT ranking order
    (search._ranked): score asc/desc with NaN greatest in both
    directions (Spark's double total order), ties broken by id
    ascending. NULL scores must be dropped by the caller."""
    import numpy as np
    isnan = (np.isnan(scores) if scores.dtype.kind == "f"
             else np.zeros(len(scores), dtype=bool))
    if asc:
        primary = np.where(isnan, np.inf, scores)
        secondary = isnan.astype(np.int8)         # real +inf before NaN
    else:
        primary = np.where(isnan, -np.inf, -scores)
        secondary = (~isnan).astype(np.int8)      # NaN before real +inf
    order = np.lexsort((ids, secondary, primary))
    return order[:k]


def knn_scores_arrow(base, queries_rows, vec_col: str, id_col: str,
                     metric: str, k: int,
                     output_fields: list[str] | None = None):
    """Per-partition partial top-k of brute-force dense scoring as an
    Arrow-batched numpy kernel — the fourth kernel of the slow-mode
    family: the JVM scoring path is an interpreted ``aggregate``/
    ``zip_with`` HOF chain (HOFs never enter whole-stage codegen), the
    same expression class the r08-localized HotSpot slow mode lived in.

    Emits (query_id, id, [output_fields...], score) with AT MOST
    nq x k rows per input partition — the same map-side bound the
    WindowGroupLimit Partial gives the JVM plan; callers finish with
    search._ranked for the exact global window (identical scores in,
    identical rows and ranks out).

    Exactness contract (tests/test_arrow_kernels.py): scores are
    bit-for-bit the JVM expression values — float64 products in the
    JVM's sequential fold order (:func:`_seq_sum`), IEEE sqrt/divide,
    COSINE's try_divide zero-denominator -> NULL; rows whose vector is
    NULL or contains a NULL element score NULL and never rank. Arrow ->
    pandas turns a null ELEMENT inside a float array into NaN —
    indistinguishable from a real NaN value, which ranks (NaN is
    greatest in Spark's double order) while NULL must not — so the
    null-element mask is computed JVM-side (``exists(v, isnull)``, a
    cheap codegen predicate) and shipped through the batch.

    ``queries_rows`` is the collected tiny query side
    ([(query_id, qvec), ...] — nq is small by the same contract that
    lets the JVM path broadcast it). Queries whose qvec is NULL or
    contains a NULL element score NULL everywhere (zip_with semantics)
    and are skipped wholesale.
    """
    from pyspark.sql import functions as F

    import numpy as np

    keep = list(dict.fromkeys([id_col, *(output_fields or [])]))
    qid_type = None
    qs = []
    for row in queries_rows:
        qid, qvec = row[0], row[1]
        if qvec is None or any(v is None for v in qvec):
            continue
        qs.append((qid, np.asarray([float(v) for v in qvec],
                                   dtype=np.float64)))
    fields = [T.StructField("query_id", T.IntegerType())]
    for name in keep:
        fields.append(T.StructField(name, base.schema[name].dataType))
    # HAMMING's JVM fold is a bigint sum; the float metrics are double
    fields.append(T.StructField(
        "score", T.LongType() if metric.upper() == "HAMMING"
        else T.DoubleType()))
    # pandas -> Arrow converts a float64 NaN into a NULL — but a NaN
    # score is a real value that RANKS (greatest) while NULL must not,
    # so the NaN-ness ships as a flag and the caller rebuilds the NaN
    fields.append(T.StructField("_nan", T.BooleanType()))
    out_schema = T.StructType(fields)
    asc = metric.upper() in ("L2", "HAMMING")

    src = base.select(
        *keep, F.col(vec_col).alias("_vec"),
        (F.col(vec_col).isNull()
         | F.coalesce(F.exists(vec_col, lambda x: x.isNull()),
                      F.lit(False))).alias("_null_vec"))

    def gen(batches):
        import pandas as pd
        # per-query accumulators across this partition's batches; re-
        # pruned to k whenever they grow past 4k so memory stays O(nq*k)
        acc = {qid: [] for qid, _ in qs}   # qid -> list of (ids, keeps, scores)

        def prune(qid, final=False):
            parts = acc[qid]
            if not parts:
                return None
            ids = np.concatenate([p[0] for p in parts])
            scores = np.concatenate([p[2] for p in parts])
            keeps = [np.concatenate([p[1][i] for p in parts])
                     for i in range(len(keep) - 1)]
            take = _topk_local(ids, scores, k, asc)
            pruned = (ids[take], [c[take] for c in keeps], scores[take])
            acc[qid] = [pruned]
            return pruned if final else None

        for pdf in batches:
            null_vec = pdf["_null_vec"].to_numpy(dtype=bool)
            vecs = pdf["_vec"].tolist()
            ids_all = pdf[keep[0]].to_numpy()
            keeps_all = [pdf[c].to_numpy() for c in keep[1:]]
            if not qs:
                continue
            d = len(qs[0][1])
            ok = np.fromiter(
                ((not nv) and v is not None and len(v) == d
                 and not (isinstance(v, np.ndarray) and v.dtype == object)
                 for nv, v in zip(null_vec, vecs)),
                dtype=bool, count=len(vecs))
            if not ok.any():
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64)
                            for v, o in zip(vecs, ok) if o])
            ids = ids_all[ok]
            keeps = [c[ok] for c in keeps_all]
            for qid, q in qs:
                if len(q) != d:
                    continue
                scores, nullm = _dense_scores(mat, q, metric.upper())
                if nullm is not None and nullm.any():
                    good = ~nullm
                    s_ids, s_scores = ids[good], scores[good]
                    s_keeps = [c[good] for c in keeps]
                else:
                    s_ids, s_scores, s_keeps = ids, scores, keeps
                if not len(s_ids):
                    continue
                take = _topk_local(s_ids, s_scores, k, asc)
                acc[qid].append((s_ids[take],
                                 [c[take] for c in s_keeps],
                                 s_scores[take]))
                if len(acc[qid]) > 4:
                    prune(qid)
        frames = []
        for qid, _ in qs:
            top = prune(qid, final=True)
            if top is None:
                continue
            data = {"query_id": np.full(len(top[0]), qid),
                    keep[0]: top[0]}
            for name, col in zip(keep[1:], top[1]):
                data[name] = col
            data["score"] = top[2]
            data["_nan"] = (np.isnan(top[2])
                            if top[2].dtype.kind == "f"
                            else np.zeros(len(top[2]), dtype=bool))
            frames.append(pd.DataFrame(data))
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return src.mapInPandas(gen, out_schema)


def knn_search_arrow(base, queries, vec_col: str, id_col: str,
                     metric: str = "L2", k: int = 10,
                     flt=None, output_fields: list[str] | None = None):
    """Arrow-kernel twin of ``search.knn_search`` (non-grouping path):
    identical rows, scores, and ranks — the kernel replaces only the
    scoring + map-side partial top-k; the pre-filter compiles exactly
    like the JVM path and the final exact window IS the JVM path's
    (search._ranked). The query side is collected driver-side (tiny by
    the broadcast contract). Grouping search has no kernel twin.
    Called directly by the 1M kNN scale entry (measured faster there)
    and v_knn_metrics' oracled ``A_<metric>`` branches; the serving
    paths and the fixture entries call ``knn_search``."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    from vectordb_testbricks_spark.exprlang import compile_expr
    from vectordb_testbricks_spark.operators.search import _ranked

    if flt is not None:
        pred = flt if isinstance(flt, Column) else compile_expr(flt, base)
        base = base.filter(pred)
    qrows = [(r["query_id"], r["qvec"])
             for r in queries.select("query_id", "qvec").collect()]
    cand = knn_scores_arrow(base, qrows, vec_col, id_col, metric, k,
                            output_fields)
    # restore the query_id column's declared type (the kernel emits int)
    # and rebuild real NaN scores from the shipped flag (see the _nan
    # field note in knn_scores_arrow)
    qt = queries.schema["query_id"].dataType
    cand = cand.withColumn("query_id", F.col("query_id").cast(qt))
    if metric.upper() != "HAMMING":     # integer scores carry no NaN
        cand = cand.withColumn(
            "score", F.when(F.col("_nan"),
                            F.lit(float("nan")).cast("double"))
            .otherwise(F.col("score")))
    cand = cand.drop("_nan")
    return _ranked(cand, id_col, metric.upper() in ("L2", "HAMMING"), k)
