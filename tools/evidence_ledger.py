"""Derive each registry query's newest green driver round from the
``CORRECTNESS_r*.json`` records.

A record row is green when ``hash_match`` is true. A ``no_oracle`` row
(the driver's rows-only check) is green only for a query whose current
oracle is None: for an oracle-checked query it says nothing about the
values. A red row gives no evidence.

Writes the package's generated ``_evidence.py`` (``NEWEST_GREEN``, which
``registry.evidence_order`` reads) and the evidence-age table of
COVERAGE.md between its two marker lines. Run it after a new
``CORRECTNESS_rN.json`` lands:

    python tools/evidence_ledger.py
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from probability_of_buying_two_products_together_hadoop_project_spark import (  # noqa: E402
    registry,
)

MODULE = os.path.join(os.path.dirname(registry.__file__), "_evidence.py")
COVERAGE = os.path.join(ROOT, "COVERAGE.md")
TABLE_BEGIN = "<!-- evidence-ledger: generated by tools/evidence_ledger.py; do not edit -->"
TABLE_END = "<!-- /evidence-ledger -->"
DRIVER_WINDOW = 50  # the driver's CORRECTNESS gate samples queries()[:50]


def load_records() -> dict[int, dict]:
    """{round: record} for every ``CORRECTNESS_r<round>.json`` in the repo root."""
    records = {}
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as f:
                records[int(m.group(1))] = json.load(f)
    return records


def newest_green(records: dict[int, dict], oracles: dict[str, str | None]) -> dict[str, int]:
    """{query: newest round with a green row}, over the queries in oracles."""
    newest: dict[str, int] = {}
    for rnd in sorted(records):
        for name, row in records[rnd].items():
            if name not in oracles:
                continue
            rows_only = row.get("err") == "no_oracle" and oracles[name] is None
            if row.get("hash_match") is True or rows_only:
                newest[name] = rnd
    return newest


def stale_marks(newest: dict[str, int], changed: dict[str, int]) -> list[str]:
    """Changed entries whose newest green round already covers the change."""
    return [n for n in changed if not registry.evidence_due(n, newest, changed)]


def render_module(newest: dict[str, int]) -> str:
    body = "".join(f'    "{n}": {newest[n]},\n' for n in sorted(newest))
    return (
        '"""Newest green driver round of each registry query.\n\n'
        "Generated by tools/evidence_ledger.py from the CORRECTNESS_r*.json\n"
        'records; do not edit.\n"""\n\n'
        f"NEWEST_GREEN = {{\n{body}}}\n"
    )


def render_table(
    newest: dict[str, int], changed: dict[str, int], order: list[str], records: dict[int, dict]
) -> str:
    """The COVERAGE.md evidence-age table, markers included. Ages count
    from the round after the newest record (the round whose record has
    not landed yet)."""
    now = max(records) + 1
    window = set(order[:DRIVER_WINDOW])
    due = {n for n in order if registry.evidence_due(n, newest, changed)}
    lead = (
        f"Evidence age of the {len(order)} registry entries: the newest green row of "
        f"each in `CORRECTNESS_r{min(records):02d}..r{max(records):02d}.json`, counted "
        f"from r{now:02d}. {len(due)} entries have no green row or changed since it "
        f"(`registry._CHANGED`); they lead `queries()`, and the oldest evidence fills "
        f"the rest of the first {DRIVER_WINDOW}."
    )
    lines = [
        TABLE_BEGIN,
        textwrap.fill(lead, 72),
        "",
        "| newest green row | age (rounds) | entries | changed since | in the first 50 |",
        "|---|---|---|---|---|",
    ]
    for rnd in sorted(set(newest.values())):
        names = [n for n in order if newest.get(n) == rnd]
        n_changed = sum(1 for n in names if n in due)
        n_window = sum(1 for n in names if n in window)
        lines.append(f"| r{rnd:02d} | {now - rnd} | {len(names)} | {n_changed} | {n_window} |")
    never = [n for n in order if n not in newest]
    if never:
        lines.append(f"| none | - | {len(never)} | - | {sum(1 for n in never if n in window)} |")
    lines.append(TABLE_END)
    return "\n".join(lines)


def replace_table(text: str, table: str) -> str:
    begin, end = text.index(TABLE_BEGIN), text.index(TABLE_END) + len(TABLE_END)
    return text[:begin] + table + text[end:]


def derive() -> tuple[str, str]:
    """(module source, COVERAGE.md text) derived from the records."""
    records = load_records()
    oracles = {n: q.oracle for n, q in registry.REGISTRY.items()}
    newest = newest_green(records, oracles)
    order = registry.evidence_order(list(registry.REGISTRY), newest, registry._CHANGED)
    with open(COVERAGE) as f:
        coverage = replace_table(f.read(), render_table(newest, registry._CHANGED, order, records))
    for n in stale_marks(newest, registry._CHANGED):
        print(f"stale: {n} is green at r{newest[n]:02d}; drop it from registry._CHANGED")
    return render_module(newest), coverage


def main() -> None:
    module, coverage = derive()
    with open(MODULE, "w") as f:
        f.write(module)
    with open(COVERAGE, "w") as f:
        f.write(coverage)
    print(f"wrote {os.path.relpath(MODULE, ROOT)} and the COVERAGE.md evidence-age table")


if __name__ == "__main__":
    main()
