"""One module owns the stateful streaming contract.

``streaming/sealed.py``'s ``group_fn`` is the package's only event-time
``applyInPandasWithState`` function: it alone loads and stores state,
removes it and arms timeouts, so the late boundary, persistence, the
``n_buckets`` check and the timeouts are written once for every
operator. ``streaming/neardup.py``'s id-bucket operator (``NoTimeout``,
one set of ids per bucket) is the one other ``applyInPandasWithState``
call. Spark-free: this parses the Python sources.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "statefulstreamprocessor_spark"
HOME = PKG / "streaming" / "sealed.py"
OWNED = {"setTimeoutTimestamp", "load_state", "store_state", "remove", "applyInPandasWithState"}
ALSO_ALLOWED = {("applyInPandasWithState", PKG / "streaming" / "neardup.py")}


def _owned_calls(path: pathlib.Path) -> list[tuple[str, int]]:
    """(name, line) of every call to a name in OWNED; ``remove`` counts
    only without arguments, as ``GroupState.remove()`` is called."""
    hits = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name in OWNED and (name != "remove" or not (node.args or node.keywords)):
            hits.append((name, node.lineno))
    return hits


def test_stateful_contract_lives_only_in_sealed():
    sources = [*sorted(PKG.rglob("*.py")), ROOT / "__spark_entry__.py"]
    hits = [
        f"{path.relative_to(ROOT)}:{line}: {name}"
        for path in sources
        if path != HOME
        for name, line in _owned_calls(path)
        if (name, path) not in ALSO_ALLOWED
    ]
    assert not hits, "stateful contract outside streaming/sealed.py:\n" + "\n".join(hits)
    assert {name for name, _ in _owned_calls(HOME)} == OWNED
