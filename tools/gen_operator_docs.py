"""Generate OPERATORS.md — the auditable catalog of every queries() entry,
grouped by the families of `__spark_entry__.CATALOG`: name, oracle status,
and the first docstring paragraph of its wrapper.

Usage: python tools/gen_operator_docs.py   (writes OPERATORS.md, no Spark)
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
OUT = os.path.join(ROOT, "OPERATORS.md")


def render() -> str:
    """The OPERATORS.md text for the catalog as it is now."""
    import __spark_entry__ as entry

    qmap = entry.queries()
    oracles = entry.oracle_sql()
    lines = [
        "# OPERATORS — the full queries() catalog",
        "",
        "Generated by `tools/gen_operator_docs.py`; do not edit by hand.",
        f"{len(qmap)} queries, {sum(1 for q in qmap if q in oracles)} with "
        "a DuckDB SQL oracle (cross-engine value-hash checked by "
        "`tools/check_correctness.py` and the driver), the rest rows-only "
        "with pytest parity coverage.",
        "",
    ]
    for family, members in entry.CATALOG.items():
        lines.append(f"## {family}")
        lines.append("")
        lines.append("| query | oracle | what it computes |")
        lines.append("|---|---|---|")
        for n, fn in members.items():
            doc = (fn.__doc__ or "").strip().split("\n\n")[0]
            doc = " ".join(x.strip() for x in doc.split("\n"))
            orc = "SQL" if n in oracles else "rows-only (pytest parity)"
            lines.append(f"| `{n}` | {orc} | {doc} |")
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    text = render()
    with open(OUT, "w") as f:
        f.write(text)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
