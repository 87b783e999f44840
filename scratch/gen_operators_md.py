"""Regenerate the registry coverage table in OPERATORS.md.

VERDICT r4 item 10: one generated table — query name → module:line →
oracle → last-green round → status — derived from the live registry
plus every CORRECTNESS_r*.json, so docs can't drift from code.  The
hand-curated SURVEY-§2 map above the marker is left untouched.

Run from /root/repo:  python3 scratch/gen_operators_md.py
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.getcwd())

MARKER = "<!-- GENERATED REGISTRY TABLE (scratch/gen_operators_md.py) -->"
BEGIN_MARKER = (
    "<!-- BEGIN GENERATED REGISTRY TABLE (scratch/gen_operators_md.py) -->"
)
END_MARKER = "<!-- END GENERATED REGISTRY TABLE -->"
COUNT_MARKER = "<!-- GENERATED COUNT -->"


def main() -> None:
    from aws_datalake_framework_ingestion_spark.plans import registry as reg

    # last fully-green round per query, plus last-seen status
    last_green: dict[str, int] = {}
    last_status: dict[str, tuple[int, str]] = {}
    for path in sorted(glob.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        try:
            data = json.load(open(path))
        except Exception:
            continue
        for name, row in data.items():
            ok = bool(
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            )
            if ok:
                last_green[name] = max(last_green.get(name, 0), rnd)
            status = "green" if ok else (row.get("err") or "mismatch")
            prev = last_status.get(name)
            if prev is None or rnd >= prev[0]:
                last_status[name] = (rnd, status)

    lines = [
        BEGIN_MARKER,
        "",
        "## Generated registry coverage table",
        "",
        f"{len(reg.REGISTRY)} registered queries, "
        f"{sum(1 for s in reg.REGISTRY.values() if s.oracle is not None)} "
        "with a DuckDB oracle.  'last green' = most recent round whose "
        "driver CORRECTNESS file shows rows+schema+hash all matching; "
        "'—' = not yet rotated through the driver gate (the local "
        "mirror tests/test_oracle_parity.py covers every oracled query "
        "each run).  Regenerate with `python3 scratch/gen_operators_md.py`.",
        "",
        "| query | module:line | oracle | last green | latest driver status |",
        "|---|---|---|---|---|",
    ]
    for name in sorted(reg.REGISTRY):
        spec = reg.REGISTRY[name]
        fn = spec.fn
        code = fn.__code__
        mod = os.path.relpath(code.co_filename, os.getcwd())
        loc = f"{mod}:{code.co_firstlineno}"
        oracle = "duckdb" if spec.oracle is not None else "rows-only"
        green = f"r{last_green[name]}" if name in last_green else "—"
        stat = last_status.get(name)
        latest = f"r{stat[0]}: {stat[1]}" if stat else "—"
        lines.append(f"| `{name}` | `{loc}` | {oracle} | {green} | {latest} |")
    lines += ["", END_MARKER]
    table = "\n".join(lines) + "\n"

    # Replace ONLY the span between the explicit BEGIN/END markers;
    # every hand-written section before AND after survives.  (The
    # pre-r14 version truncated everything past a single marker and
    # silently destroyed the round-13 double-exactness policy section
    # — VERDICT r13 "What's wrong" #1.)
    src = open("OPERATORS.md").read()
    if BEGIN_MARKER in src and END_MARKER in src:
        head = src[: src.index(BEGIN_MARKER)].rstrip()
        tail = src[src.index(END_MARKER) + len(END_MARKER):].lstrip("\n")
        src = head + "\n\n" + table + ("\n" + tail if tail else "")
    elif MARKER in src:
        # one-time migration from the legacy single-marker layout:
        # the old generator guaranteed the generated table ran to
        # EOF, so nothing hand-written can exist below it
        src = src[: src.index(MARKER)].rstrip() + "\n\n" + table
    else:
        src = src.rstrip() + "\n\n" + table
    # the header count line is generated too (r5 verdict item 5: the
    # hand-edited count drifted twice; automate, don't re-edit)
    n = len(reg.REGISTRY)
    n_or = sum(1 for s in reg.REGISTRY.values() if s.oracle is not None)
    count_line = (
        f"{COUNT_MARKER} {n} registered queries, {n_or} with a DuckDB "
        "oracle (this line is generated by scratch/gen_operators_md.py; "
        "a test asserts it equals the live registry)."
    )
    lines_out = []
    replaced = False
    for ln in src.splitlines():
        if ln.startswith(COUNT_MARKER):
            lines_out.append(count_line)
            replaced = True
        else:
            lines_out.append(ln)
    if not replaced:
        # insert after the H1
        for i, ln in enumerate(lines_out):
            if ln.startswith("# "):
                lines_out.insert(i + 1, "")
                lines_out.insert(i + 2, count_line)
                break
    src = "\n".join(lines_out)
    if not src.endswith("\n"):
        src += "\n"
    open("OPERATORS.md", "w").write(src)
    print(
        f"wrote table: {len(reg.REGISTRY)} queries, "
        f"{len(last_green)} ever-green in driver files"
    )


if __name__ == "__main__":
    main()
