"""docs/API.md is exactly what tools/gen_api_md.py generates from the
package docstrings, so the public-surface reference cannot drift from
the code (regenerate with ``python tools/gen_api_md.py``)."""

from __future__ import annotations

import ast
import re

from tools.gen_api_md import PKG, ROOT, render


def test_api_md_equals_generator_output():
    committed = (ROOT / "docs" / "API.md").read_text()
    assert render() == committed, (
        "docs/API.md is stale: run python tools/gen_api_md.py"
    )


def _imported_modules(path) -> set[str]:
    """Dotted names ``path`` imports: each ``import a.b`` and ``from a
    import b`` counts ``a.b`` (``b`` may be a module) and ``a``."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def test_every_module_is_reached_or_cited():
    """Every package module is imported by another package module, an
    example, bench.py, the driver entry point, tools/ or perfbench/ —
    or PARITY.md names its path (``models/psa.py`` or a def in it,
    ``models/psa.psa_from_pst``).  A module nothing reaches is dead code
    the oracle sweep and the bench never run."""
    roots = [
        *PKG.rglob("*.py"),
        *(ROOT / "examples").rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    imports = {p: _imported_modules(p) for p in roots}
    parity = (ROOT / "PARITY.md").read_text()
    unreached = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG)
        if rel.name in ("__init__.py", "__main__.py"):
            continue
        stem = rel.with_suffix("")
        module = ".".join((PKG.name, *stem.parts))
        reached = any(
            module in names for p, names in imports.items() if p != path
        )
        cited = re.search(rf"{re.escape(stem.as_posix())}\b", parity)
        if not (reached or cited):
            unreached.append(rel.as_posix())
    assert not unreached, unreached
