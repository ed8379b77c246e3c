"""The README operator index is generated (tools/gen_operator_index.py)
and test-locked here so it cannot go stale: adding, moving, or removing
a public operator without regenerating the table fails this test."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_readme_operator_index_is_current():
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "gen_operator_index.py"),
         "--check"],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, (
        f"stale operator index: {proc.stdout}{proc.stderr}"
    )


def test_operator_index_shape():
    from tools.gen_operator_index import build_rows

    rows = build_rows()
    names = [r[0] for r in rows]
    # the index covers the full public surface (>=166 as of r9) and every
    # row carries a module anchor naming an existing file (no line number,
    # so code moving inside a module does not stale the index)
    assert len(rows) >= 166
    assert len(set(names)) == len(names)
    pkg = REPO / "quackosm_spark"
    for name, where, qs, doc in rows:
        assert ":" not in where and where.endswith(".py")
        assert (pkg / "operators" / where).exists() or (
            where == "streaming.py" and (pkg / "streaming").is_dir()
        ), where
    # contract-query attribution sanity: known pinned operators
    attributed = {r[0]: r[2] for r in rows}
    assert "q134_incremental_neardup" in attributed["minhash_index"]
    assert "q125_temperature_mix" in attributed["temperature_sample"]
    assert "q127_rolling_zscore" in attributed["rolling_zscore"]
