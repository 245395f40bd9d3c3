"""The package reads only the session-level env knobs: operator paths
(``impl``, widen sizing) are picked by caller arguments and module
constants, never by the environment."""

from __future__ import annotations

import ast
import pathlib

PKG = (pathlib.Path(__file__).resolve().parent.parent
       / "vectordb_testbricks_spark")

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
