"""Text expression helpers: tokenization + engine-portable hashing.

Portability contract: every hash that feeds a correctness-checked result must
be reproducible in the DuckDB oracle. ``xxhash64``/``hash`` differ between
engines, so we derive 64-bit integers from ``md5`` (identical hex output in
Spark and DuckDB): take the first 15 hex chars (60 bits, fits signed int64).

Spark:  conv(substr(md5(s), 1, 15), 16, 10) :: bigint
DuckDB: CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenizer shared with every oracle: lowercase, split on non-alphanumeric
# runs, drop empties. DuckDB twin:
#   list_filter(string_split_regex(lower(s), '[^a-z0-9]+'), t -> t != '')
TOKEN_SPLIT_RE = "[^a-z0-9]+"
TOKEN_SPLIT_RE_CASED = "[^a-zA-Z0-9]+"


def analyzer_kwargs(analyzer_params: dict | None) -> dict:
    """Parse reference-shape ``analyzer_params`` into :func:`tokenize`
    kwargs (per-field analyzers, milvus_client/common/schema.py:27,
    manifests/schema_matrix_2_6.yaml:52).

    Accepted shapes: ``{"type": "standard"}`` (the default — lowercase,
    split on non-alphanumeric) and ``{"tokenizer": "standard", "filter":
    ["lowercase", {"type": "stop", "stop_words": [...]}]}``.  When an
    explicit filter list omits ``"lowercase"``, case is preserved.
    Unknown tokenizers/filters fail loudly rather than silently changing
    token semantics."""
    p = analyzer_params or {}
    if p.get("type", "standard") != "standard":
        raise ValueError(f"unsupported analyzer type {p['type']!r}")
    tk = p.get("tokenizer", "standard")
    ngram: tuple[int, int] | None = None
    dict_words: tuple[str, ...] = ()
    if isinstance(tk, dict) and tk.get("type") == "dict":
        # CJK analyzer stand-in (feature-inventory doc §3 lists
        # jieba/pinyin; those need external tokenizer models, so this is
        # the public-knowledge dictionary segmenter): forward maximum
        # matching over a wordlist — at each position the longest
        # dictionary word wins, out-of-dictionary non-ascii chars emit
        # as single-char tokens (the standard CJK unigram fallback),
        # ascii alnum runs stay standard word tokens, and ascii + CJK
        # punctuation is dropped. Implemented as ONE ordered-alternation
        # regex (longest-first), which all three lowerings execute with
        # identical leftmost-first semantics (java.util.regex, RE2,
        # Python re — verified by the differential tests). Words come
        # inline (``words``) and/or one-per-line from ``dict_path``
        # (blank lines and '#' comments skipped), resolved DRIVER-SIDE
        # at declaration time like the synonym file dictionaries.
        words = list(tk.get("words", ()))
        if any(not isinstance(w, str) for w in words) \
                or isinstance(tk.get("words", ()), str):
            raise ValueError(
                f"dict tokenizer words must be a list of strings, "
                f"got {tk.get('words')!r}")
        path = tk.get("dict_path")
        if path is not None:
            with open(path, encoding="utf-8") as fh:
                words += [ln.strip() for ln in fh
                          if ln.strip()
                          and not ln.lstrip().startswith("#")]
        words = [w for w in words if w]
        if not words:
            raise ValueError("dict tokenizer needs a non-empty wordlist "
                             "(words and/or dict_path)")
        # the alternation is one regex — O(words) pattern size. Fine for
        # real segmentation dictionaries (hundreds to low thousands of
        # entries); a corpus-scale lexicon belongs in a broadcast-join
        # token pipeline, so fail loudly instead of building an
        # unmatchable pattern (the synonym-file 500-group posture)
        if len(words) > 2000:
            raise ValueError(
                f"dict tokenizer wordlist too large for one alternation "
                f"pattern ({len(words)} words > 2000)")
        dict_words = tuple(words)
        tk = "standard"     # the split regex is unused on the dict path
    if isinstance(tk, dict):
        # 3.0-roadmap ngram tokenizer (feature-inventory doc §3 "ngram
        # tokenizer + token chars"): character n-grams WITHIN alnum runs
        # — the standard split supplies the token_chars=[letter,digit]
        # boundary semantics, then each run emits its n-grams for every
        # n in [min_gram, max_gram]; runs shorter than min_gram emit
        # nothing (Lucene NGramTokenizer behavior)
        if tk.get("type") != "ngram":
            raise ValueError(f"unsupported tokenizer {tk!r}")
        a = int(tk.get("min_gram", 2))
        b = int(tk.get("max_gram", a))
        if a < 1 or b < a:
            raise ValueError(
                f"ngram tokenizer needs 1 <= min_gram <= max_gram, "
                f"got {tk!r}")
        ngram = (a, b)
    elif tk != "standard":
        raise ValueError(f"unsupported tokenizer {tk!r}")
    kwargs: dict = {"lowercase": True, "stop_words": (), "ngram": ngram,
                    "synonyms": (), "dict_words": dict_words}
    if "filter" in p:
        kwargs["lowercase"] = False
        for f in p["filter"]:
            if f == "lowercase":
                kwargs["lowercase"] = True
            elif isinstance(f, dict) and f.get("type") == "stop":
                sw = f.get("stop_words", ())
                # a bare string (e.g. a builtin-list name like "english")
                # would silently iterate into single characters
                if isinstance(sw, str) or not all(
                        isinstance(w, str) for w in sw):
                    raise ValueError(
                        f"stop_words must be a list of strings, got {sw!r}")
                kwargs["stop_words"] = tuple(sw)
            elif isinstance(f, dict) and f.get("type") == "synonym":
                # 3.0-roadmap synonym filter (feature-inventory doc §3
                # "synonym filter"; §5 analyzer resources "synonym
                # file"): comma-separated groups, expand semantics —
                # every member of a group emits the whole group, so any
                # two synonyms share all their tokens. Groups come
                # inline (``synonyms``: list of "a,b,..." strings)
                # and/or from a dictionary file (``synonyms_path``:
                # one group per line, blank lines and '#' comments
                # skipped) — the file resolves DRIVER-SIDE here, at
                # declaration/compile time, so the execution plan is
                # identical either way.
                groups = list(f.get("synonyms", ()))
                if any(not isinstance(g, str) for g in groups) \
                        or isinstance(f.get("synonyms", ()), str):
                    raise ValueError(
                        f"synonyms must be a list of 'a,b,...' group "
                        f"strings, got {f.get('synonyms')!r}")
                path = f.get("synonyms_path")
                if path is not None:
                    with open(path, encoding="utf-8") as fh:
                        groups += [ln.strip() for ln in fh
                                   if ln.strip()
                                   and not ln.lstrip().startswith("#")]
                parsed = []
                for g in groups:
                    if "=>" in g:
                        raise ValueError(
                            f"explicit-mapping synonym rules (a => b) "
                            f"are not supported; use expand groups: "
                            f"{g!r}")
                    members = tuple(m.strip() for m in g.split(",")
                                    if m.strip())
                    if len(members) < 2:
                        raise ValueError(
                            f"synonym group needs >= 2 members: {g!r}")
                    parsed.append(members)
                # the expansion is a per-token literal when-chain —
                # O(groups) plan nodes. Fine for real analyzer
                # dictionaries (tens to hundreds of groups); a
                # corpus-scale thesaurus belongs in a broadcast-join
                # token pipeline, so fail loudly instead of building
                # an unplannable expression
                if len(parsed) > 500:
                    raise ValueError(
                        f"synonym dictionary too large for inline "
                        f"expansion ({len(parsed)} groups > 500)")
                kwargs["synonyms"] = tuple(parsed)
            else:
                raise ValueError(f"unsupported analyzer filter {f!r}")
    # (dict + ngram cannot co-occur: both derive from the single
    # `tokenizer` value, so the config shape itself forbids the combo)
    if kwargs["lowercase"]:
        kwargs["synonyms"] = tuple(
            tuple(m.lower() for m in g) for g in kwargs["synonyms"])
        kwargs["dict_words"] = tuple(
            w.lower() for w in kwargs["dict_words"])
    return kwargs


# character classes the FMM fallback must NOT emit as single-char
# tokens: all of ascii (alnum runs are matched by their own branch;
# ascii punctuation/whitespace drops), the CJK symbol/punctuation block
# U+3000-303F, and the PUNCTUATION sub-ranges of the halfwidth/fullwidth
# forms block — NOT the whole U+FF00-FFEF block: fullwidth digits
# (Ｕ+FF10-FF19), fullwidth letters (FF21-FF3A, FF41-FF5A) and halfwidth
# katakana (FF66-FF9F) are real text and must fall through to the
# unigram branch (review r09 #5). The ascii range uses the \xNN ESCAPE
# syntax (shared by java.util.regex, RE2 and Python re) — a literal NUL
# character would break the DuckDB twin, whose pattern is inlined into
# SQL text; the non-ascii endpoints are printable and stay literal
# characters: ！-／ (FF01-FF0F), ：-＠ (FF1A-FF20), ［-｀ (FF3B-FF40),
# ｛-･ (FF5B-FF65), ￠-￯ (FFE0-FFEF currency/arrows/specials).
_FMM_DROP = r"\x00-\x7f" + "　-〿！-／：-＠［-｀｛-･￠-￯"
_RE_SPECIALS = set("\\.^$|?*+()[]{}")


def fmm_pattern(dict_words: tuple[str, ...], lowercase: bool) -> str:
    """Forward-maximum-matching pattern for the dict tokenizer: ordered
    alternation of the dictionary (longest first — leftmost-first regex
    engines then implement greedy longest-match segmentation), an ascii
    alnum-run branch, and a single-non-ascii-char unigram fallback.
    One source of truth for all three lowerings (Spark
    regexp_extract_all, the sqlgen DuckDB twin, py_tokenize).

    Ascii dict words take PRECEDENCE over run tokenization: the
    dictionary alternatives sit before the alnum-run branch, so
    words=('spark',) tokenizes 'sparks' as ['spark', 's'] — FMM
    segmentation applied uniformly, exactly like a CJK dict word
    matching inside a longer CJK sequence. (A dict word strictly INSIDE
    a run does not win — leftmost-first starts the run branch at the
    run's first char and it consumes the whole run: 'restream' stays
    ['restream'].) This is deliberate and identical across all three
    engines; a trailing word-boundary guard would need lookahead, which
    RE2 (the DuckDB lowering) does not support (ADVICE r09: documented
    precedence, pinned by test)."""
    alts = []
    for w in sorted(dict_words, key=lambda w: (-len(w), w)):
        alts.append("".join(f"\\{ch}" if ch in _RE_SPECIALS else ch
                            for ch in w))
    run = "[a-z0-9]+" if lowercase else "[a-zA-Z0-9]+"
    return "(?:" + "|".join([*alts, run, f"[^{_FMM_DROP}]"]) + ")"


def tokenize(c: Column, *, lowercase: bool = True,
             stop_words: tuple[str, ...] = (),
             ngram: tuple[int, int] | None = None,
             synonyms: tuple[tuple[str, ...], ...] = (),
             dict_words: tuple[str, ...] = ()) -> Column:
    """Standard-analyzer-style tokenization (reference enable_analyzer fields,
    schema_matrix_2_6.yaml:52; BM25 input), with the analyzer_params knobs:
    ``lowercase`` toggles case folding (the split regex widens to keep
    uppercase runs when off) and ``stop_words`` drops exact-match tokens
    after folding. ``ngram=(min, max)`` switches to the roadmap ngram
    tokenizer: stop-filtered alnum runs each emit their character
    n-grams for every n in [min, max] (runs shorter than min emit
    nothing — Lucene NGramTokenizer; the alnum split provides the
    token_chars=[letter,digit] boundaries). ``synonyms`` is the inline
    synonym filter (expand semantics): each stop-filtered word token
    that belongs to a group emits the whole group, so any two synonyms
    share all their tokens; with the ngram tokenizer configured, grams
    are emitted from the expanded words."""
    base = F.lower(c) if lowercase else c
    if dict_words:
        # dict/CJK tokenizer: extraction, not splitting — the FMM
        # pattern's matches ARE the tokens (empties impossible)
        toks = F.regexp_extract_all(
            base, F.lit(fmm_pattern(dict_words, lowercase)), 0)
    else:
        toks = F.split(base,
                       TOKEN_SPLIT_RE if lowercase else TOKEN_SPLIT_RE_CASED)
    if stop_words:
        toks = F.filter(toks,
                        lambda t: (t != "") & ~t.isin(*stop_words))
    else:
        toks = F.filter(toks, lambda t: t != "")
    if synonyms:
        def _expand(t):
            out = F.array(t)
            # reversed so the OUTERMOST when is the first group — a
            # token in two groups resolves to the first, matching the
            # Python twin's first-match break
            for g in reversed(synonyms):
                out = F.when(t.isin(*g),
                             F.array(*[F.lit(m) for m in g])).otherwise(out)
            return out
        toks = F.flatten(F.transform(toks, _expand))
    if ngram is None:
        return toks
    a, b = ngram

    def _grams(w):
        return F.flatten(F.transform(
            F.sequence(F.lit(a), F.lit(b)),
            lambda n: F.when(
                F.length(w) >= n,
                F.transform(F.sequence(F.lit(0), F.length(w) - n),
                            lambda i: F.substring(w, i + 1, n)))
            .otherwise(F.array().cast("array<string>"))))

    return F.flatten(F.transform(toks, _grams))


def materialized_tokens(docs, id_col: str, text_col: str,
                        extra_cols: tuple[str, ...] = (),
                        analyzer_params: dict | None = None):
    """(id[, extra...], _toks) with the token array *persisted*.

    This is a materialization barrier, not a convenience: Catalyst's
    CollapseProject inlines a projected expression into downstream
    higher-order-function lambdas, and lambda bodies are not
    common-subexpression-eliminated — so any per-element reference to the
    token array would re-run the regex split once per element. Persisting
    makes ``_toks`` a column attribute (cheap to reference). Identical
    logical plans share one cache entry, so repeated calls over the same
    input cost one materialization; at cluster scale this is the familiar
    "tokenize once, reuse" intermediate table."""
    from vectordb_testbricks_spark.materialize import (
        parallelize_small, shared_persist)
    kw = analyzer_kwargs(analyzer_params)
    tk = parallelize_small(docs).select(
        *[F.col(c) for c in (id_col, *extra_cols)],
        tokenize(F.col(text_col), **kw).alias("_toks"))
    return shared_persist(tk)


def py_tokenize(text: str, *, lowercase: bool = True,
                stop_words: tuple[str, ...] = (),
                ngram: tuple[int, int] | None = None,
                synonyms: tuple[tuple[str, ...], ...] = (),
                dict_words: tuple[str, ...] = ()) -> list[str]:
    """Driver-side twin of :func:`tokenize` for literal query strings
    (TEXT_MATCH predicates, ad-hoc analyzers) — same split regex, same
    fold/stop/synonym/ngram semantics, so a term analyzed in Python
    matches the tokens the Column path produced."""
    import re as _re
    base = text.lower() if lowercase else text
    if dict_words:
        words = [t for t in _re.findall(
            fmm_pattern(dict_words, lowercase), base)
            if t not in stop_words]
    else:
        pat = TOKEN_SPLIT_RE if lowercase else TOKEN_SPLIT_RE_CASED
        words = [t for t in _re.split(pat, base)
                 if t != "" and t not in stop_words]
    if synonyms:
        expanded = []
        for t in words:
            for g in synonyms:
                if t in g:
                    expanded.extend(g)
                    break
            else:
                expanded.append(t)
        words = expanded
    if ngram is None:
        return words
    a, b = ngram
    return [w[i:i + n] for w in words for n in range(a, b + 1)
            for i in range(len(w) - n + 1)]


def py_shingles(tokens: list[str], n: int) -> list[str]:
    """Driver/kernel-side twin of :func:`shingles`: word n-grams as
    space-joined strings, with documents shorter than ``n`` tokens
    yielding their full token join as the single shingle (so every doc
    has >= 1 shingle) — the same rule the Column path applies."""
    if len(tokens) >= n:
        return [" ".join(tokens[i:i + n])
                for i in range(len(tokens) - n + 1)]
    return [" ".join(tokens)]


def hashed_sparse_embedding(toks: Column, n_buckets: int = 1024) -> Column:
    """TEXT_EMBEDDING function-field built-in provider (3.0-roadmap §6
    "Function / Model Provider"): the hashing-trick featurizer — each
    token hashes (crc32 % n_buckets) into a bucket, counts are
    L2-normalized, and the result is a SPARSE_FLOAT_VECTOR
    ``map<int,float>``. Deterministic and dependency-free; an external
    model provider would slot in as an Arrow-batched pandas UDF behind
    the same FunctionSpec seam.

    Expression shape chosen for the no-CSE lambda rule: ``toks`` is
    consumed exactly ONCE, by an ``aggregate`` that folds the token list
    into a count map in a single pass — so even when the caller hands an
    inline ``tokenize()`` expression (CollapseProject inlines projected
    columns into lambdas, so a withColumn barrier would not help), the
    regex split runs once per row, never per element. The later
    normalization re-references only the count map (cheap integer/map
    work, bounded by distinct-tokens², still row-local scan-stage).
    Dot product of two embeddings is exactly their token-count cosine
    (both unit-norm). Driver twin: :func:`py_hashed_sparse_embedding`."""
    empty_counts = F.map_from_arrays(F.array().cast("array<int>"),
                                     F.array().cast("array<double>"))
    counts = F.aggregate(
        toks, empty_counts,
        lambda m, t: F.map_concat(
            F.map_filter(m, lambda k, _: k != F.pmod(
                F.crc32(t.cast("binary")), F.lit(n_buckets)).cast("int")),
            F.create_map(
                F.pmod(F.crc32(t.cast("binary")),
                       F.lit(n_buckets)).cast("int"),
                F.coalesce(F.element_at(m, F.pmod(
                    F.crc32(t.cast("binary")),
                    F.lit(n_buckets)).cast("int")), F.lit(0.0)) + 1)))
    entries = F.map_entries(counts)
    norm = F.sqrt(F.aggregate(entries, F.lit(0.0),
                              lambda a, e: a + e["value"] * e["value"]))
    normed = F.transform(entries, lambda e: F.struct(
        e["key"].alias("key"), (e["value"] / norm).alias("value")))
    empty = F.map_from_arrays(F.array().cast("array<int>"),
                              F.array().cast("array<float>"))
    return F.when(F.size(toks) == 0, empty).otherwise(
        F.map_from_entries(normed).cast("map<int,float>"))


def py_hashed_sparse_embedding(text: str, n_buckets: int = 1024, *,
                               lowercase: bool = True,
                               stop_words: tuple[str, ...] = (),
                               ngram: tuple[int, int] | None = None,
                               synonyms: tuple = (),
                               dict_words: tuple[str, ...] = ()) -> dict:
    """Driver-side twin of :func:`hashed_sparse_embedding` for query
    featurization: same tokenizer twin (py_tokenize, ngram included),
    same zlib.crc32 bucket hash (== Spark's crc32 over utf-8), same L2
    norm — a query embedded here scores exact cosine against stored
    embeddings."""
    import math
    import zlib
    counts: dict[int, float] = {}
    for t in py_tokenize(text, lowercase=lowercase, stop_words=stop_words,
                         ngram=ngram, synonyms=synonyms,
                         dict_words=dict_words):
        b = zlib.crc32(t.encode("utf-8")) % n_buckets
        counts[b] = counts.get(b, 0.0) + 1.0
    norm = math.sqrt(sum(v * v for v in counts.values()))
    return {k: v / norm for k, v in counts.items()} if norm else {}


def md5_long(c: Column) -> Column:
    """Portable 60-bit non-negative integer hash of a string column."""
    return hex_to_long(F.md5(c))


def hex_to_long(c: Column) -> Column:
    """First 15 hex chars of an existing hex digest → bigint (60 bits)."""
    return F.conv(F.substring(c, 1, 15), 16, 10).cast("bigint")


def shingles(tokens: Column, n: int) -> Column:
    """Word n-gram shingles from a token array: array of space-joined n-grams.
    Documents shorter than n tokens yield their full token join as the single
    shingle (so every doc has >= 1 shingle).

    PERFORMANCE CONTRACT: pass a *materialized* array column (project the
    token array into a named column first), never ``tokenize(col)`` inline —
    expressions referenced inside higher-order-function lambdas are NOT
    common-subexpression-eliminated, so an inline tokenize would re-run the
    regex split once per shingle position. Shingle assembly itself is O(1)
    ``element_at`` lookups + ``concat_ws`` (≈4× faster than
    slice+array_join, which allocates a sub-array per position)."""
    joined_all = F.array_join(tokens, " ")
    ngrams = F.transform(
        F.sequence(F.lit(0), F.size(tokens) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens, i + j + 1) for j in range(n)]),
    )
    return F.when(F.size(tokens) >= n, ngrams).otherwise(F.array(joined_all))
