"""AST → ``pyspark.sql.Column`` lowering.

Everything compiles to built-in Spark SQL functions (JVM-side, codegen-able):
simple comparisons reach the parquet scan as ``PushedFilters``; JSON paths use
``get_json_object``; array ops use ``array_contains``/``arrays_overlap``/
``array_except``; ``ST_CONTAINS`` with a literal polygon is unrolled into a
ray-casting crossing-parity expression over the polygon's edges (no UDF).

Type discipline: Milvus compares JSON-path values numerically; we cast the
extracted JSON string based on the literal operand's Python type (numeric →
double, bool → boolean, str → as-is).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectordb_testbricks_spark.exprlang import parser as ast
from vectordb_testbricks_spark.exprlang.parser import ExprSyntaxError, parse

def _json_accessor_path(accessors, name: str) -> str:
    """JSON-path string for accessors over a string/JSON value. [*] has
    no JSON lowering (the quantifier applies to native arrays only) —
    reject it here so a Star can never stringify into the path (it
    would otherwise compile to '$.Star()' and silently match nothing,
    bypassing the gate)."""
    for a in accessors:
        if isinstance(a, ast.Star):
            raise ExprCompileError(
                f"[*] inside a JSON path ({name!r}) is not supported — "
                f"the quantifier applies to declared array columns")
    return "$" + "".join(
        f"[{a}]" if isinstance(a, int) else f".{a}" for a in accessors)


_CMP_OPS = {
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
}


def milvus_like_pattern(pattern: str) -> str:
    """Milvus LIKE → SQL LIKE pattern: Milvus knows only ``%`` as a
    wildcard; ``_`` and ``\\`` are literal characters (reference
    expressions use bare '%' — e.g. checker.py varchar filters). SQL LIKE
    treats ``_`` as a single-char wildcard, so escape both. Every LIKE
    the engine evaluates (compiler and NGRAM index path) must route
    through this so the two paths agree."""
    return pattern.replace("\\", "\\\\").replace("_", "\\_")


class ExprCompileError(ValueError):
    pass


# --------------------------------------------------------------- operand IR

class _Operand:
    """Compiled operand: a Column plus enough type info to pick casts."""

    def __init__(self, col: Column, kind: str, dtype: T.DataType | None = None,
                 json_path_of: tuple[Column, str] | None = None):
        self.col = col
        self.kind = kind  # "col" | "json" | "lit"
        self.dtype = dtype
        # for json operands: (root Column, '$.path') so functions like
        # json_contains can re-extract with a different result type
        self.json_path_of = json_path_of


def _lit_operand(value) -> _Operand:
    return _Operand(F.lit(value), "lit", None)


def _cast_for(value) -> str | None:
    """Spark cast target for comparing a JSON-extracted string to `value`."""
    if isinstance(value, bool):
        return "boolean"
    if isinstance(value, (int, float)):
        return "double"
    return None


class _Compiler:
    def __init__(self, df: DataFrame, json_columns: set[str] | None = None,
                 enable_text_match: bool = False,
                 analyzers: dict | None = None,
                 enable_v3_exprs: bool = False):
        self.df = df
        self.schema = {f.name: f.dataType for f in df.schema.fields}
        self.json_columns = set(json_columns or ())
        self.enable_text_match = enable_text_match
        self.enable_v3_exprs = enable_v3_exprs
        # field name -> reference-shape analyzer_params, for the gated
        # match predicates: query and field MUST analyze identically
        self.analyzers = analyzers or {}

    # ------------------------------------------------------------ operands

    def operand(self, node) -> _Operand:
        if isinstance(node, ast.Lit):
            return _lit_operand(node.value)
        if isinstance(node, ast.ListLit):
            return _Operand(F.array(*[F.lit(v) for v in node.items]), "lit", None)
        if isinstance(node, ast.Path):
            return self.path(node)
        if isinstance(node, ast.Call):
            # value-returning functions usable as comparison operands
            if node.func == "array_length":
                return _Operand(F.size(self._array_arg(node.args[0], None)),
                                "col", T.IntegerType())
            raise ExprCompileError(
                f"function {node.func!r} is a predicate, not an operand")
        if isinstance(node, ast.BitOp):
            return self.bitop(node)
        raise ExprCompileError(f"cannot compile operand {node!r}")

    def bitop(self, node: ast.BitOp) -> _Operand:
        """3.0-roadmap bitwise ``&``/``^``/``|`` (gated — feature-inventory
        doc §3 'bitwise operators'; no reference implementation exists).
        Integer-only, JVM-side Column ops; precedence & > ^ > | with all
        three binding tighter than relops (parser grammar note)."""
        if not self.enable_v3_exprs:
            raise ExprCompileError(
                "bitwise operators are a gated 3.0-roadmap prototype; "
                "compile with enable_v3_exprs=True to use them")
        lc = self.operand(node.left).col
        rc = self.operand(node.right).col
        col = {"&": lc.bitwiseAND, "^": lc.bitwiseXOR,
               "|": lc.bitwiseOR}[node.op](rc)
        return _Operand(col, "col", T.LongType())

    def path(self, node: ast.Path) -> _Operand:
        if node.name not in self.schema:
            return self._dynamic_path(node)
        dtype = self.schema[node.name]
        col = F.col(node.name)
        if not node.accessors:
            return _Operand(col, "col", dtype)
        # JSON-string column (declared or duck-typed: string + accessors)
        if isinstance(dtype, T.StringType):
            path = _json_accessor_path(node.accessors, node.name)
            return _Operand(F.get_json_object(col, path), "json", None,
                            json_path_of=(col, path))
        return self._walk_accessors(col, dtype, node.accessors, node.name)

    def _walk_accessors(self, cur, cur_type, accessors,
                        name: str) -> _Operand:
        """Type-directed accessor walk shared by declared paths and the
        ``[*]``-quantified element walk (``cur`` is the lambda variable
        there)."""
        for i, a in enumerate(accessors):
            if isinstance(a, ast.Star):
                raise ExprCompileError(
                    f"[*] on {name!r} quantifies a comparison — it is "
                    f"only valid as `path[*]... <op> value` (and gated "
                    f"behind enable_v3_exprs)")
            if isinstance(cur_type, T.StringType):
                # nested JSON inside struct/map values: fold ALL the
                # remaining accessors into one JSON path — consuming
                # only the current one would silently drop the rest
                # (review r07c #3)
                path = _json_accessor_path(accessors[i:], name)
                return _Operand(F.get_json_object(cur, path), "json",
                                None, json_path_of=(cur, path))
            if isinstance(cur_type, T.ArrayType):
                if not isinstance(a, int):
                    raise ExprCompileError(
                        f"array column {name!r} needs integer index, got {a!r}")
                # try_element_at, NOT getItem: under ANSI mode (Spark 4
                # default) getItem THROWS on an out-of-bounds index, but
                # Milvus semantics for arr[i] past the end is simply
                # no-match — the predicate must evaluate NULL, never kill
                # the query (found by tests/test_expr_differential.py)
                cur = F.try_element_at(cur, F.lit(a + 1))
                cur_type = cur_type.elementType
            elif isinstance(cur_type, T.MapType):
                cur = cur.getItem(a)
                cur_type = cur_type.valueType
            elif isinstance(cur_type, T.StructType):
                cur = cur.getField(str(a))
                cur_type = cur_type[str(a)].dataType
            else:
                raise ExprCompileError(
                    f"cannot index into {cur_type.simpleString()} ({name!r})")
        return _Operand(cur, "col", cur_type)

    def _dynamic_path(self, node: ast.Path) -> _Operand:
        """Milvus dynamic-field semantics: an undeclared name in a filter
        resolves to the dynamic catch-all map (schema.py:59 enable_dynamic_
        field; generated dyn_* keys at data.py:216-221). Values are strings;
        the JSON cast discipline (literal-driven try_cast) applies."""
        from vectordb_testbricks_spark.schema import DYNAMIC_FIELD_COL

        dyn = self.schema.get(DYNAMIC_FIELD_COL)
        if not isinstance(dyn, T.MapType):
            raise ExprCompileError(
                f"unknown column {node.name!r} (and no dynamic field column)")
        col = F.col(DYNAMIC_FIELD_COL).getItem(node.name)
        if not node.accessors:
            return _Operand(col, "json", None)
        path = _json_accessor_path(node.accessors, node.name)
        return _Operand(F.get_json_object(col, path), "json", None,
                        json_path_of=(col, path))

    # ---------------------------------------------------------- predicates

    def predicate(self, node) -> Column:
        if isinstance(node, ast.TrueLit):
            return F.lit(True)
        if isinstance(node, ast.And):
            return self.predicate(node.left) & self.predicate(node.right)
        if isinstance(node, ast.Or):
            return self.predicate(node.left) | self.predicate(node.right)
        if isinstance(node, ast.Not):
            return ~self.predicate(node.operand)
        if isinstance(node, ast.Cmp):
            return self.cmp(node)
        if isinstance(node, ast.In):
            return self.in_(node)
        if isinstance(node, ast.Like):
            op = self.operand(node.operand)
            return op.col.like(milvus_like_pattern(node.pattern))
        if isinstance(node, ast.Regex):
            return self.regex(node)
        if isinstance(node, ast.Call):
            return self.call(node)
        if isinstance(node, ast.Lit) and isinstance(node.value, bool):
            return F.lit(node.value)
        raise ExprCompileError(f"cannot compile predicate {node!r}")

    def regex(self, node: ast.Regex) -> Column:
        """3.0-roadmap ``=~`` / ``!~`` regex filters (gated —
        feature-inventory doc §3 'regex filter operators'; no reference
        implementation exists). Unanchored find semantics (rlike), the
        convention both Spark RLIKE and DuckDB regexp_matches share;
        ``!~`` is three-valued NOT of ``=~`` (NULL stays NULL, so both
        forms drop NULL rows in a filter — same discipline as !=)."""
        if not self.enable_v3_exprs:
            raise ExprCompileError(
                f"{'!~' if node.negated else '=~'} is a gated 3.0-roadmap "
                "prototype; compile with enable_v3_exprs=True to use it")
        op = self.operand(node.operand)
        pred = op.col.rlike(node.pattern)
        return ~pred if node.negated else pred

    def cmp(self, node: ast.Cmp) -> Column:
        star = self._quantified_cmp(node)
        if star is not None:
            return star
        left, right = self.operand(node.left), self.operand(node.right)
        lc, rc = left.col, right.col
        # JSON-extracted strings compare typed against the literal side
        if left.kind == "json" and right.kind == "lit":
            cast = _cast_for(_lit_value(node.right))
            if cast:
                lc = lc.try_cast(cast)
        if right.kind == "json" and left.kind == "lit":
            cast = _cast_for(_lit_value(node.left))
            if cast:
                rc = rc.try_cast(cast)
        return _CMP_OPS[node.op](lc, rc)

    @staticmethod
    def _star_split(node):
        """(accessors before [*], accessors after) for a star path, else
        None. One quantifier per path."""
        if not isinstance(node, ast.Path):
            return None
        stars = [i for i, a in enumerate(node.accessors)
                 if isinstance(a, ast.Star)]
        if not stars:
            return None
        if len(stars) > 1:
            raise ExprCompileError("only one [*] per path is supported")
        i = stars[0]
        return node.accessors[:i], node.accessors[i + 1:]

    def _quantified_cmp(self, node: ast.Cmp) -> Column | None:
        """3.0-roadmap ``[*]`` element access (gated — feature-inventory
        doc §1 "$[...] 访问", "element-level filter"): a comparison over
        ``path[*]...`` holds when ANY element satisfies it —
        ``items[*]["val"] > 40`` lowers to a scan-stage higher-order
        ``exists`` (no explode, no join), the same plan shape as
        operators.struct_array.element_exists. One quantified side per
        comparison; the path must resolve to a declared array."""
        ls, rs = self._star_split(node.left), self._star_split(node.right)
        if ls is None and rs is None:
            return None
        if not self.enable_v3_exprs:
            raise ExprCompileError(
                "[*] element access is a gated 3.0-roadmap prototype; "
                "compile with enable_v3_exprs=True to use it")
        if ls is not None and rs is not None:
            raise ExprCompileError(
                "[*] on both sides of a comparison is unsupported")
        flip = ls is None
        path_node = node.right if flip else node.left
        other_node = node.left if flip else node.right
        pre, post = rs if flip else ls
        if path_node.name not in self.schema:
            raise ExprCompileError(
                f"[*] requires a declared column, got {path_node.name!r}")
        base = self._walk_accessors(F.col(path_node.name),
                                    self.schema[path_node.name], pre,
                                    path_node.name)
        if not isinstance(base.dtype, T.ArrayType):
            raise ExprCompileError(
                f"[*] applies to array paths; {path_node.name!r} resolves "
                f"to {base.dtype.simpleString() if base.dtype else 'json'}")
        elem_t = base.dtype.elementType
        other = self.operand(other_node)

        def elem_pred(e):
            elem = self._walk_accessors(e, elem_t, post, path_node.name)
            ec, oc = elem.col, other.col
            if elem.kind == "json" and isinstance(other_node, ast.Lit):
                cast = _cast_for(_lit_value(other_node))
                if cast:
                    ec = ec.try_cast(cast)
            lc, rc = (oc, ec) if flip else (ec, oc)
            return _CMP_OPS[node.op](lc, rc)

        return F.exists(base.col, elem_pred)

    def in_(self, node: ast.In) -> Column:
        op = self.operand(node.operand)
        if not isinstance(node.items, ast.ListLit):
            raise ExprCompileError("'in' requires a list literal")
        items = list(node.items.items)
        col = op.col
        if op.kind == "json" and items:
            cast = _cast_for(items[0])
            if cast:
                col = col.try_cast(cast)
        pred = col.isin(items)
        return ~pred if node.negated else pred

    # ----------------------------------------------------------- functions

    def call(self, node: ast.Call) -> Column:
        fn = node.func
        if fn in ("array_contains", "json_contains"):
            arr, elem = self._array_arg(node.args[0], node.args[1]), node.args[1]
            return F.array_contains(arr, _lit_value(elem))
        if fn in ("array_contains_any", "json_contains_any"):
            arr = self._array_arg(node.args[0], _first_item(node.args[1]))
            probe = F.array(*[F.lit(v) for v in _list_values(node.args[1])])
            return F.arrays_overlap(arr, probe)
        if fn in ("array_contains_all", "json_contains_all"):
            arr = self._array_arg(node.args[0], _first_item(node.args[1]))
            probe = F.array(*[F.lit(v) for v in _list_values(node.args[1])])
            return F.size(F.array_except(probe, arr)) == 0
        if fn == "array_length":
            return F.size(self._array_arg(node.args[0], None))
        if fn == "st_contains":
            return self.st_contains(node.args[0], node.args[1])
        if fn == "starts_with":
            op = self.operand(node.args[0])
            return op.col.startswith(str(_lit_value(node.args[1])))
        if fn == "text_match":
            return self.text_match(node.args[0], node.args[1])
        if fn == "phrase_match":
            return self.phrase_match(node.args)
        raise ExprCompileError(f"unknown function {fn!r}")

    def phrase_match(self, args) -> Column:
        """Milvus 3.0 ``PHRASE_MATCH(field, 'phrase'[, slop])`` prototype
        (gated with TEXT_MATCH — roadmap surface, feature-inventory doc
        §3 "phrase match slop"): true when the analyzed query terms occur
        in order in the analyzed field within the slop budget.

        slop=0 is exact adjacency (one ``exists`` over candidate start
        offsets with an unrolled per-term check — terms are literals, so
        the conjunction is straight-line codegen). slop>0 implements the
        IN-ORDER bounded-gap semantics: positions p1 < p2 < ... < pm with
        term_j at p_j and total span pm − p1 ≤ (m−1) + slop — i.e. up to
        ``slop`` extra tokens distributed between the phrase terms,
        as nested ``exists`` over per-term position arrays (pure Column,
        no UDF). Lucene's full sloppy-phrase additionally permits
        OUT-OF-ORDER arrangements when the move budget allows (e.g.
        "b a"~2 matches "a b"); that edit-distance semantics is out of
        prototype scope and documented here rather than approximated
        silently — in-order matches are a strict subset, never a false
        positive under Lucene's rule."""
        if not self.enable_text_match:
            raise ExprCompileError(
                "PHRASE_MATCH is a gated 3.0-roadmap prototype; compile "
                "with enable_text_match=True to use it")
        from vectordb_testbricks_spark.functions.text import (
            analyzer_kwargs, py_tokenize, tokenize)
        field_node, query_node = args[0], args[1]
        slop = _lit_value(args[2]) if len(args) > 2 else 0
        if not isinstance(slop, int) or slop < 0:
            raise ExprCompileError(
                f"phrase_match slop must be a non-negative int literal, "
                f"got {slop!r}")
        if not isinstance(field_node, ast.Path) or field_node.accessors:
            raise ExprCompileError("PHRASE_MATCH needs a plain field name")
        kw = analyzer_kwargs(self.analyzers.get(field_node.name))
        terms = py_tokenize(str(_lit_value(query_node)), **kw)
        if not terms:
            return F.lit(False)
        sidecar = f"_toks_{field_node.name}"
        toks = (F.col(sidecar) if sidecar in self.schema
                else tokenize(self.operand(field_node).col, **kw))
        m = len(terms)
        if slop > 0:
            return self._phrase_match_sloppy(toks, terms, slop)

        def window_matches(i):
            cond = None
            for j, t in enumerate(terms):
                # element_at is 1-based; i is the 0-based start offset
                c = F.try_element_at(toks, (i + j + 1).cast("int")) == t
                cond = c if cond is None else cond & c
            return cond

        # Clamp the sequence end to >= 0: Catalyst may split/reorder the
        # size(toks) >= m conjunct away from the exists, and a descending
        # F.sequence(0, negative) would probe try_element_at(toks, 0),
        # which throws ELEMENT_AT_BY_INDEX_ZERO unconditionally. With the
        # clamp, indexes stay >= 1 and out-of-range probes return NULL.
        starts = F.sequence(F.lit(0), F.greatest(F.size(toks) - m, F.lit(0)))
        return (F.size(toks) >= m) & F.exists(starts, window_matches)

    @staticmethod
    def _phrase_match_sloppy(toks: Column, terms: list[str],
                             slop: int) -> Column:
        """In-order bounded-gap sloppy phrase as nested ``exists`` over
        per-term position arrays. For literal terms the nesting unrolls
        to straight-line codegen; each level prunes by both order
        (p_{j+1} > p_j) and the remaining span budget, so the search
        space stays tiny even on pathological token streams. A single
        term degenerates to containment (slop is irrelevant)."""
        m = len(terms)

        # 1-based positions of each phrase term in the token stream.
        # NB: closure helper, not a defaulted lambda param — F.filter
        # treats a two-arg lambda as (element, index) and would bind the
        # index column over the default.
        if m == 1:
            # containment, directly over the tokens: a positions-array
            # formulation (size(filter(sequence(1, greatest(size, 1)),
            # ...)) > 0) collapses a NULL token array to FALSE — greatest
            # swallows the NULL and filter drops the NULL predicate —
            # where every other branch (and TEXT_MATCH) evaluates NULL
            return F.exists(toks, lambda t: t == terms[0])

        def _positions(term):
            return F.filter(
                F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
                lambda p: F.try_element_at(toks, p) == term)

        pos = [_positions(t) for t in terms]

        def chain(j, prev, first):
            # positions for term j must follow prev and keep the total
            # span (p_last - p_first) within (m-1) + slop
            if j == m - 1:
                return F.exists(
                    pos[j], lambda p: (p > prev)
                    & (p - first <= F.lit(m - 1 + slop)))
            return F.exists(
                pos[j], lambda p: (p > prev)
                & (p - first <= F.lit(j + slop))   # prefix span bound
                & chain(j + 1, p, first))

        # NULL 3VL: the positions arrays are built via greatest+filter,
        # which swallow a NULL token array (greatest(NULL,1)=1, filter
        # drops NULL predicates) so the exists chain would yield FALSE —
        # while the slop=0 path, the m==1 branch and the DuckDB sqlgen
        # twin all yield NULL. Gate on toks.isNull() explicitly so
        # `not PHRASE_MATCH(...)` keeps NULL-field rows on both engines.
        return F.when(toks.isNull(), F.lit(None).cast("boolean")).otherwise(
            (F.size(toks) >= m) & F.exists(
                pos[0], lambda p1: chain(1, p1, p1)))

    def text_match(self, field_node, query_node) -> Column:
        """Milvus 3.0 ``TEXT_MATCH(field, 'terms')`` prototype (gated —
        roadmap surface, feature-inventory doc §3; no reference
        implementation exists): true when the analyzed field shares ANY
        analyzed query term. The query literal is analyzed driver-side
        with the same standard analyzer; the field side prefers the
        materialized token sidecar column ``_toks_<field>`` when the
        plan carries one (tokenize-once, the BM25/function-field shape)
        and falls back to inline tokenization otherwise."""
        if not self.enable_text_match:
            raise ExprCompileError(
                "TEXT_MATCH is a gated 3.0-roadmap prototype; compile "
                "with enable_text_match=True to use it")
        from vectordb_testbricks_spark.functions.text import (
            analyzer_kwargs, py_tokenize, tokenize)
        if not isinstance(field_node, ast.Path) or field_node.accessors:
            raise ExprCompileError("TEXT_MATCH needs a plain field name")
        # Milvus analyzes the query with the MATCH FIELD's analyzer — a
        # cased or stop-filtered field must fold the query identically,
        # or query/field tokens diverge (review r06 #3)
        kw = analyzer_kwargs(self.analyzers.get(field_node.name))
        terms = py_tokenize(str(_lit_value(query_node)), **kw)
        if not terms:
            return F.lit(False)
        sidecar = f"_toks_{field_node.name}"
        toks = (F.col(sidecar) if sidecar in self.schema
                else tokenize(self.operand(field_node).col, **kw))
        return F.arrays_overlap(toks, F.array(*[F.lit(t) for t in terms]))

    def _array_arg(self, node, elem_hint) -> Column:
        """Compile an argument that must be an array: a real ArrayType column
        or a JSON path holding a JSON array (re-extracted via from_json)."""
        op = self.operand(node)
        if op.kind == "col" and isinstance(op.dtype, T.ArrayType):
            return op.col
        if op.kind == "col" and isinstance(op.dtype, T.StringType):
            # whole string column holding a JSON array
            return F.from_json(op.col, _json_array_type(elem_hint))
        if op.kind == "json":
            root, path = op.json_path_of
            return F.from_json(F.get_json_object(root, path),
                               _json_array_type(elem_hint))
        raise ExprCompileError(f"expected array operand, got {node!r}")

    def st_contains(self, field_node, poly_node) -> Column:
        """Point-in-polygon via ray casting, unrolled into Column expressions
        (reference: run_go_bench_horizon.py:98-101; polygon construction
        cal_polygon_by_point.py:3-55). The polygon is a literal WKT string;
        the field holds WKT ``POINT (x y)`` strings (x and y separated by
        at least one space); a NULL or malformed point is not contained."""
        # the POINT is parsed ONCE per row: one regexp_extract yields
        # "x y", split into a double pair that a lambda binds, so the edge
        # terms and the bounding box read lambda variables instead of
        # re-running the regex per reference. A literal " " split skips
        # Java's per-call regex compile; the cast trims other whitespace
        xy = F.split(F.regexp_extract(
            self.operand(field_node).col,
            r"POINT\s*\(\s*(-?[\d.]+\s+-?[\d.]+)\s*\)", 1),
            " ").try_cast("array<double>")
        verts = _parse_wkt_polygon(str(_lit_value(poly_node)))
        return F.exists(F.array(xy), lambda p: _ray_cast(
            F.element_at(p, 1), F.element_at(p, -1), verts))


def _ray_cast(x: Column, y: Column, verts: list[tuple[float, float]]) -> Column:
    """Crossing-parity point-in-polygon as a pure Column expression,
    behind an inclusive bounding-box test; False (never NULL) for a
    NULL coordinate."""
    # coarse-then-exact (Raptor, VLDB 2019): a point outside the box has
    # an even crossing count, so the box never changes the answer. Inside
    # it x and y are non-NULL, so each crossing just flips the parity
    inside = F.lit(False)
    n = len(verts)
    for i in range(n):
        xi, yi = verts[i]
        xj, yj = verts[(i + 1) % n]
        if yi == yj:
            continue  # horizontal edge never crosses the upward ray test
        cond = (
            ((F.lit(yi) > y) != (F.lit(yj) > y))
            & (x < (F.lit(xj - xi) * (y - F.lit(yi)) / F.lit(yj - yi) + F.lit(xi)))
        )
        inside = inside != cond
    xs, ys = [v[0] for v in verts], [v[1] for v in verts]
    in_box = x.between(min(xs), max(xs)) & y.between(min(ys), max(ys))
    return F.when(in_box, inside).otherwise(False)


def _parse_wkt_polygon(wkt: str) -> list[tuple[float, float]]:
    m = re.match(r"\s*POLYGON\s*\(\(\s*(.*?)\s*\)\)\s*$", wkt, re.IGNORECASE | re.DOTALL)
    if not m:
        raise ExprCompileError(f"bad WKT polygon: {wkt!r}")
    pts = []
    for pair in m.group(1).split(","):
        xs, ys = pair.split()
        pts.append((float(xs), float(ys)))
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    if len(pts) < 3:
        raise ExprCompileError(f"polygon needs >= 3 vertices: {wkt!r}")
    return pts


def _lit_value(node):
    if isinstance(node, ast.Lit):
        return node.value
    raise ExprCompileError(f"expected literal, got {node!r}")


def _list_values(node):
    if isinstance(node, ast.ListLit):
        return list(node.items)
    raise ExprCompileError(f"expected list literal, got {node!r}")


def _first_item(node):
    vals = _list_values(node)
    return vals[0] if vals else None


def _json_array_type(elem_hint) -> str:
    if isinstance(elem_hint, ast.Lit):
        elem_hint = elem_hint.value
    if isinstance(elem_hint, bool):
        return "array<boolean>"
    if isinstance(elem_hint, int):
        return "array<bigint>"
    if isinstance(elem_hint, float):
        return "array<double>"
    return "array<string>"


def compile_expr(expr: str, df: DataFrame,
                 json_columns: set[str] | None = None,
                 enable_text_match: bool = False,
                 analyzers: dict | None = None,
                 enable_v3_exprs: bool = False) -> Column:
    """Compile a Milvus filter-expression string to a boolean Column for `df`.

    Empty/None expression compiles to ``lit(True)`` (full scan,
    reference validators.py:61-65). ``enable_text_match`` unlocks the
    gated TEXT_MATCH / PHRASE_MATCH 3.0-roadmap prototypes;
    ``analyzers`` maps field name -> analyzer_params so those predicates
    analyze the query with the match field's analyzer.
    ``enable_v3_exprs`` unlocks the gated 3.0 operator prototypes
    (``=~``/``!~`` regex, bitwise ``&``/``^``/``|``, and ``[*]``
    element quantification over declared array columns); raw strings
    ``r"..."`` are purely lexical (no 2.6 expression can contain one)
    and parse unconditionally.
    """
    node = parse(expr)
    return _Compiler(df, json_columns, enable_text_match,
                     analyzers, enable_v3_exprs).predicate(node)


__all__ = ["compile_expr", "parse", "ExprCompileError", "ExprSyntaxError"]
