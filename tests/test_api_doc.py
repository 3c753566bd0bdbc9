"""docs/API.md is exactly what tools/gen_api_md.py generates from the
package docstrings, so the public-surface reference cannot drift from
the code (regenerate with ``python tools/gen_api_md.py``)."""

from __future__ import annotations

from tools.gen_api_md import ROOT, render


def test_api_md_equals_generator_output():
    committed = (ROOT / "docs" / "API.md").read_text()
    assert render() == committed, (
        "docs/API.md is stale: run python tools/gen_api_md.py"
    )
