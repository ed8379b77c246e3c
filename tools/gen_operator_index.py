"""Generate the README operator index (VERDICT r8 "Next round" #8).

Walks every public function in quackosm_spark.operators.* and
quackosm_spark.streaming, records its defining module, finds the
contract queries that exercise each operator by scanning
__spark_entry__.py's source for the name, and rewrites the table
between the OPERATOR-INDEX markers in README.md. A test regenerates
the table and asserts README matches, so the index cannot go stale.
The anchor is the module file only (no line number), so moving code
inside a module does not make the index stale.

Usage: python tools/gen_operator_index.py [--check]
  --check: exit 1 if README.md is out of date (no write).
"""

from __future__ import annotations

import importlib
import inspect
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

OPERATOR_MODULES = [
    "dedup", "similarity", "text", "mix", "temporal", "stats", "search",
    "skew", "ml", "graph", "quantiles", "multimodal", "bloom", "recipes",
    "spatial", "osm",
]
BEGIN = "<!-- OPERATOR-INDEX:BEGIN (generated by tools/gen_operator_index.py — do not edit by hand) -->"
END = "<!-- OPERATOR-INDEX:END -->"


def _first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.strip().split())
    # cut at the first sentence end that isn't inside e.g. "q17" refs
    m = re.search(r"(?<=[a-z0-9)`\"])[.!?](?:\s|$)", text)
    s = text[: m.start() + 1] if m else text
    s = s.replace("|", "\\|")
    return s if len(s) <= 160 else s[:157] + "..."


def _contract_queries(entry_src: str) -> dict[str, list[str]]:
    """Map operator name -> sorted contract-query names whose entry-file
    query function body references the operator."""
    # split entry source into per-query-function chunks
    chunks: dict[str, str] = {}
    pat = re.compile(r"^def (q\d+[a-z0-9_]*)\(", re.M)
    hits = list(pat.finditer(entry_src))
    for i, m in enumerate(hits):
        end = hits[i + 1].start() if i + 1 < len(hits) else len(entry_src)
        chunks[m.group(1)] = entry_src[m.start():end]
    return chunks


def build_rows() -> list[tuple[str, str, str, str]]:
    entry_src = (REPO / "__spark_entry__.py").read_text()
    chunks = _contract_queries(entry_src)
    rows = []
    mods = [
        (f"operators.{m}",
         importlib.import_module(f"quackosm_spark.operators.{m}"))
        for m in OPERATOR_MODULES
    ]
    import quackosm_spark.streaming as streaming_mod

    mods.append(("streaming", streaming_mod))
    for label, mod in mods:
        for name, obj in sorted(vars(mod).items()):
            if (
                not inspect.isfunction(obj)
                or name.startswith("_")
                or obj.__module__ != mod.__name__
            ):
                continue
            where = f"{label.replace('operators.', '')}.py"
            word = re.compile(rf"\b{re.escape(name)}\b")
            qs = sorted(
                q for q, body in chunks.items() if word.search(body)
            )
            rows.append((name, where, " ".join(qs) or "—",
                         _first_sentence(obj.__doc__)))
    return rows


def render(rows: list[tuple[str, str, str, str]]) -> str:
    lines = [
        BEGIN,
        "",
        f"{len(rows)} public operators. \"contract\" lists the driver/oracle "
        "queries (`__spark_entry__.queries()`) that pin each operator "
        "against DuckDB; — means covered by pytest only.",
        "",
        "| operator | where | contract | what it does |",
        "|---|---|---|---|",
    ]
    for name, where, qs, doc in rows:
        lines.append(f"| `{name}` | {where} | {qs} | {doc} |")
    lines += ["", END]
    return "\n".join(lines)


def main() -> int:
    check = "--check" in sys.argv[1:]
    readme = REPO / "README.md"
    src = readme.read_text()
    table = render(build_rows())
    if BEGIN in src:
        new = re.sub(
            re.escape(BEGIN) + r".*?" + re.escape(END), lambda _: table,
            src, flags=re.S,
        )
    else:
        new = src.rstrip() + "\n\n## Operator index\n\n" + table + "\n"
    if check:
        if new != src:
            print("README.md operator index is STALE — run "
                  "python tools/gen_operator_index.py")
            return 1
        print("README.md operator index is current")
        return 0
    readme.write_text(new)
    print(f"wrote {readme} ({len(build_rows())} operators)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
