"""The package reads only the session-level env knobs, and no operator
takes a path option: each operator has one production path (a kernel
or a JVM expression), sized by module constants and plan statistics,
never by the environment or a caller-set ``impl``. The IVF family keeps
one coarse quantizer and one persisted layout."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "vectordb_testbricks_spark"

SESSION_KNOBS = {
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_UI", "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_EXTRA_JVM_OPTS", "SPARK_GRAFT_EXTRA_CONF",
}


def _env_keys(tree: ast.AST):
    """Keys of every ``os.environ.get(key)`` / ``os.getenv(key)`` call; a
    non-literal key (a knob name passed through a helper) yields its
    source text, so it can never match the allowed set."""
    for node in ast.walk(tree):
        f = getattr(node, "func", None)
        if not (isinstance(node, ast.Call) and node.args):
            continue
        if getattr(f, "attr", getattr(f, "id", None)) == "getenv" or (
                getattr(f, "attr", None) == "get"
                and getattr(f.value, "attr", None) == "environ"):
            key = node.args[0]
            yield (key.value if isinstance(key, ast.Constant)
                   else ast.unparse(key))


def test_package_reads_only_session_knobs():
    keys = {k for f in PKG.rglob("*.py")
            for k in _env_keys(ast.parse(f.read_text()))}
    assert keys == SESSION_KNOBS, (
        f"unexpected: {sorted(keys - SESSION_KNOBS)}, "
        f"missing: {sorted(SESSION_KNOBS - keys)}")


def test_no_function_takes_an_impl_option():
    files = [*PKG.rglob("*.py"), ROOT / "__spark_entry__.py",
             *(ROOT / "tools").rglob("*.py")]
    takers, defined = [], []
    for f in files:
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name == "check_impl":
                defined.append(f"{f.name}:{node.lineno}")
            a = node.args
            if "impl" in {x.arg for x in
                          a.posonlyargs + a.args + a.kwonlyargs}:
                takers.append(f"{f.name}:{node.name}")
    assert not takers, takers
    assert not defined, defined


def test_ivf_family_has_one_persisted_layout():
    """Every IVF encoding reopens from its own sidecar, so no function in
    ann_index.py takes the in-session model (``model_meta``), and the only
    persisted layouts are the IVF one and the sparse-inverted one."""
    tree = ast.parse((PKG / "operators" / "ann_index.py").read_text())
    funcs = [n for n in ast.walk(tree)
             if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    takers = [f.name for f in funcs
              if "model_meta" in {x.arg for x in f.args.posonlyargs
                                  + f.args.args + f.args.kwonlyargs}]
    assert not takers, takers
    io = {f.name for f in funcs if f.name.startswith(("write_", "read_"))}
    allowed = {"write_ivf", "read_ivf", "read_centroids",
               "write_sparse_inverted", "read_sparse_inverted"}
    assert io <= allowed, sorted(io - allowed)
