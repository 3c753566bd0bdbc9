"""Regenerate docs/API.md from source docstrings (one line per public
function/class).  Run: python tools/gen_api_md.py"""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "flink_rtcef_spark"
HEADER = [
    "# API reference — public surface by module",
    "",
    "One line per public function/class, first docstring sentence",
    "(generated from source docstrings; regenerate with",
    "`python tools/gen_api_md.py`).  For reference-to-engine entry-point mapping",
    "see `docs/MIGRATION.md`; for per-family scale rationale see",
    "`docs/scale-design.md`.",
    "",
]


def first_sentence(node) -> str:
    """The docstring's first sentence, whitespace-collapsed: split at a
    period followed by whitespace or the end, so a dotted name such as
    ``ModelFactory.prepare`` does not end it."""
    doc = ast.get_docstring(node) or ""
    return " ".join(re.split(r"\.(?:\s|$)", doc, maxsplit=1)[0].split())


def render() -> str:
    """The text of docs/API.md."""
    lines = list(HEADER)
    for sub in ("plans", "operators", "models", "functions", "sources",
                "streaming", "queries"):
        for p in sorted((PKG / sub).glob("*.py")):
            if p.name.startswith("_"):
                continue
            tree = ast.parse(p.read_text())
            mod_doc = (ast.get_docstring(tree) or "").split("\n")[0].rstrip(" —-")
            fns = []
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                    fns.append((f"`{node.name}`", first_sentence(node)[:140]))
                if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                    fns.append((f"`{node.name}` *(class)*", first_sentence(node)[:140]))
            if fns:
                lines.append(f"## `{sub}/{p.name}` — {mod_doc}")
                lines.append("")
                lines.extend(f"- {n} — {d}" for n, d in fns)
                lines.append("")
    return "\n".join(lines) + "\n"


def main() -> None:
    text = render()
    (ROOT / "docs" / "API.md").write_text(text)
    print(f"wrote docs/API.md ({len(text.splitlines())} lines)")


if __name__ == "__main__":
    main()
