"""The registry's emission order is derived from the CORRECTNESS records:
the generated NEWEST_GREEN module must match them, the hand list of
changed queries must hold no stale mark, and queries() must follow
registry.evidence_order (changed first, then the oldest evidence)."""

import ast

from probability_of_buying_two_products_together_hadoop_project_spark import (
    _evidence,
    registry,
)
from tools import evidence_ledger as ledger


def test_generated_module_and_coverage_table_match_records():
    module, coverage = ledger.derive()
    with open(ledger.MODULE) as f:
        assert f.read() == module, "run python tools/evidence_ledger.py"
    with open(ledger.COVERAGE) as f:
        assert f.read() == coverage, "run python tools/evidence_ledger.py"


def test_generated_module_is_data_only():
    with open(ledger.MODULE) as f:
        tree = ast.parse(f.read())
    doc, assign = tree.body
    assert isinstance(doc, ast.Expr) and isinstance(doc.value, ast.Constant)
    assert isinstance(assign, ast.Assign)
    assert [t.id for t in assign.targets] == ["NEWEST_GREEN"]
    assert ast.literal_eval(assign.value) == _evidence.NEWEST_GREEN


def test_changed_marks_are_registry_names_and_not_stale():
    assert set(registry._CHANGED) <= set(registry.REGISTRY)
    assert ledger.stale_marks(_evidence.NEWEST_GREEN, registry._CHANGED) == []


def test_stale_mark_is_reported_and_leaves_the_head():
    newest = {"a": 13, "b": 14, "c": 3}
    changed = {"a": 14, "b": 14}
    # b's r14 row covers its r14 change: a stale mark, ordered by evidence
    assert ledger.stale_marks(newest, changed) == ["b"]
    assert registry.evidence_order(["b", "a", "c"], newest, changed) == ["a", "c", "b"]


def test_no_oracle_row_counts_only_for_rows_only_queries():
    rows_only = {"hash_match": None, "err": "no_oracle"}
    green = {"hash_match": True, "err": None}
    red = {"hash_match": False, "err": None}
    records = {
        3: {"checked": rows_only, "rows_only": rows_only, "red": green},
        4: {"checked": rows_only, "red": red, "gone": green},
    }
    oracles = {"checked": "SELECT 1", "rows_only": None, "red": "SELECT 1"}
    # the oracle-checked query's no_oracle rows and the red row give no
    # evidence; a record name no longer registered is skipped
    assert ledger.newest_green(records, oracles) == {"rows_only": 3, "red": 3}


def test_queries_lead_with_changed_then_oldest_evidence():
    names = list(registry.queries())
    assert sorted(names) == sorted(registry.REGISTRY)
    assert list(registry.oracle_sql()) == [
        n for n in names if registry.REGISTRY[n].oracle is not None
    ]
    newest, changed = _evidence.NEWEST_GREEN, registry._CHANGED
    head = [n for n in registry.REGISTRY if n in changed or n not in newest]
    assert names[: len(head)] == head
    rest = [newest[n] for n in names[len(head) :]]
    assert rest == sorted(rest)
