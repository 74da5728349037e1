"""Golden-parity tests against the reference's committed outputs.

Fixture + expectations embedded from /root/reference/input/input and
/root/reference/output/CrystalBallPair/part-r-0000{0,1,2} (34 rows) and
/root/reference/output/CrystalBallStripe/part-r-* (6 stripes), per
FIXTURES.md §1a. Pair probabilities must be bit-equal doubles.
"""

import math
import os
import uuid

import pytest

from probability_of_buying_two_products_together_hadoop_project_spark.operators import basket
from probability_of_buying_two_products_together_hadoop_project_spark.plans.explain import (
    formatted_plan,
    unbounded_single_partition_exchanges,
)
from probability_of_buying_two_products_together_hadoop_project_spark.sources import io

INPUT_LINES = [
    "Mary 34 56 29 12 34 56 92 29 34 12",
    "Kelly 92 29 12 34 79 29 56 12 34 18",
]

# (item, neighbor) -> prob, transcribed from the golden pair outputs.
GOLDEN_PAIRS = {
    ("12", "18"): 0.09090909090909091,
    ("12", "29"): 0.18181818181818182,
    ("12", "34"): 0.36363636363636365,
    ("12", "56"): 0.18181818181818182,
    ("12", "79"): 0.09090909090909091,
    ("12", "92"): 0.09090909090909091,
    ("29", "12"): 0.3076923076923077,
    ("29", "18"): 0.07692307692307693,
    ("29", "34"): 0.3076923076923077,
    ("29", "56"): 0.15384615384615385,
    ("29", "79"): 0.07692307692307693,
    ("29", "92"): 0.07692307692307693,
    ("34", "12"): 0.25,
    ("34", "18"): 0.08333333333333333,
    ("34", "29"): 0.25,
    ("34", "56"): 0.25,
    ("34", "79"): 0.08333333333333333,
    ("34", "92"): 0.08333333333333333,
    ("56", "12"): 0.3,
    ("56", "18"): 0.1,
    ("56", "29"): 0.2,
    ("56", "34"): 0.3,
    ("56", "92"): 0.1,
    ("79", "12"): 0.2,
    ("79", "18"): 0.2,
    ("79", "29"): 0.2,
    ("79", "34"): 0.2,
    ("79", "56"): 0.2,
    ("92", "12"): 0.25,
    ("92", "18"): 0.08333333333333333,
    ("92", "29"): 0.25,
    ("92", "34"): 0.25,
    ("92", "56"): 0.08333333333333333,
    ("92", "79"): 0.08333333333333333,
}


def golden_input_file(tmp_path) -> str:
    """INPUT_LINES written as a text file: the reference's input, read
    through a file scan."""
    path = tmp_path / "input"
    path.write_text("\n".join(INPUT_LINES) + "\n")
    return str(path)


def _baskets(spark):
    df = spark.createDataFrame([(l,) for l in INPUT_LINES], ["value"])
    return basket.baskets_from_text(df)


def test_golden_pairs_bit_exact(spark):
    got = {
        (r["item"], r["neighbor"]): r["prob"]
        for r in basket.cooccurrence_pairs(_baskets(spark)).collect()
    }
    assert set(got) == set(GOLDEN_PAIRS)
    for k, v in GOLDEN_PAIRS.items():
        # bit-exact double parity with the Java reference output
        assert got[k] == v, f"{k}: {got[k]!r} != {v!r}"


def test_golden_stripes_as_maps(spark):
    rows = basket.cooccurrence_stripes(_baskets(spark)).collect()
    got = {r["item"]: dict(r["stripe"]) for r in rows}
    want = {}
    for (item, n), p in GOLDEN_PAIRS.items():
        want.setdefault(item, {})[n] = p
    assert got == want


def test_probs_sum_to_one(spark):
    rows = basket.cooccurrence_pairs(_baskets(spark)).collect()
    sums = {}
    for r in rows:
        sums[r["item"]] = sums.get(r["item"], 0.0) + r["prob"]
    for item, s in sums.items():
        assert math.isclose(s, 1.0, rel_tol=1e-12), (item, s)


def _parse_golden_stripes(dirpath):
    """Parse 'item\\t{(n, prob), ..., }' golden lines into {item: {n: prob}}.
    Entry order inside a stripe is Java MapWritable hash order — junk per
    SURVEY §2.2.7 — so stripes compare as maps."""
    import os
    import re

    out = {}
    for fn in sorted(os.listdir(dirpath)):
        if not fn.startswith("part-r-"):
            continue
        for line in open(os.path.join(dirpath, fn)):
            if not line.strip():
                continue
            item, body = line.rstrip("\n").split("\t", 1)
            out[item] = {
                n: float(p)
                for n, p in re.findall(r"\((\w+), ([0-9.Ee+-]+)\)", body)
            }
    return out


def test_golden_stripe_and_hybrid_files_as_maps(spark):
    """Consume the committed Stripe AND Hybrid golden outputs directly:
    both programs must equal our stripes result (they compute the same
    query — SURVEY §0)."""
    import os

    import pytest

    base = "/root/reference/output"
    if not os.path.isdir(base):
        pytest.skip("reference goldens not available")
    got = {
        r["item"]: dict(r["stripe"])
        for r in basket.cooccurrence_stripes(_baskets(spark)).collect()
    }
    for prog in ("CrystalBallStripe", "CrystalBallHybrid"):
        want = _parse_golden_stripes(os.path.join(base, prog))
        assert got.keys() == want.keys(), prog
        for item in want:
            assert got[item] == want[item], (prog, item)


def test_reference_layout_byte_equal(spark, tmp_path):
    """Full-stack parity: partitioning (O7), sort order (O8), and text
    format (O13) reproduce the committed golden part files byte-for-byte."""
    ref_dir = "/root/reference/output/CrystalBallPair"
    if not os.path.isdir(ref_dir):
        pytest.skip("reference goldens not available")
    pairs = basket.cooccurrence_pairs(_baskets(spark))
    out = io.write_reference_pairs_layout(pairs, str(tmp_path / "golden_layout"))
    for idx, p in enumerate(out):
        with open(p, "rb") as f_got, open(
            os.path.join(ref_dir, f"part-r-{idx:05d}"), "rb"
        ) as f_want:
            assert f_got.read() == f_want.read(), f"part-r-{idx:05d} differs"


def _golden_layout_lines():
    """The three reference part files built from GOLDEN_PAIRS: ranges
    <30 / 30-59 / >=60, each sorted by (item, neighbor) as strings. Python
    ``repr`` prints these 34 doubles with the same digits as Java
    ``Double.toString`` (checked against the three-collect sink, whose
    files byte-equal the committed goldens)."""
    parts = [[], [], []]
    for (i, n), p in sorted(GOLDEN_PAIRS.items()):
        parts[0 if int(i) < 30 else 1 if int(i) < 60 else 2].append(f"[{i}, {n}]\t{p!r}\n")
    return ["".join(lines) for lines in parts]


def _read_parts(paths):
    assert [os.path.basename(p) for p in paths] == [f"part-r-{i:05d}" for i in range(3)]
    out = []
    for p in paths:
        with open(p) as f:
            out.append(f.read())
    return out


def test_reference_layout_embedded_golden(spark, tmp_path):
    """The sink's three files over the embedded fixture byte-equal the
    golden layout, without the reference checkout."""
    pairs = basket.cooccurrence_pairs(_baskets(spark))
    out = io.write_reference_pairs_layout(pairs, str(tmp_path / "layout"))
    assert _read_parts(out) == _golden_layout_lines()


def test_reference_layout_writes_empty_ranges(spark, tmp_path):
    """All items < 30: part-r-00001 and part-r-00002 exist and are empty."""
    df = spark.createDataFrame([("A 1 2 3 1 29",), ("B 29 2",)], ["value"])
    pairs = basket.cooccurrence_pairs(basket.baskets_from_text(df))
    got = _read_parts(io.write_reference_pairs_layout(pairs, str(tmp_path / "low")))
    assert got[0].startswith("[1, 2]\t") and got[1:] == ["", ""]


@pytest.mark.parametrize("bad", ["a", "99999999999"])
def test_reference_layout_rejects_non_int_item(spark, tmp_path, bad):
    """The reference's range partitioner runs ``Integer.parseInt`` on the
    item and throws on a non-numeric or out-of-range id (SURVEY §1.3); the
    sink's ANSI ``cast("int")`` raises instead of routing it to a file."""
    df = spark.createDataFrame([(f"C {bad} 12 34",)], ["value"])
    pairs = basket.cooccurrence_pairs(basket.baskets_from_text(df))
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        io.write_reference_pairs_layout(pairs, str(tmp_path / "bad"))


def test_reference_layout_runs_plan_once(spark, tmp_path):
    """Structural guard: the sink runs the upstream plan once (the
    three-collect sink launched 15 jobs on this input), and its
    sorted query has no unbounded single-partition exchange. That check
    does not see a ``coalesce(1)``, which is no exchange, so the test also
    asserts a range-partitioned sort and no Coalesce. The input is a text
    file, so the plan's leaf is a file scan, not a local table."""
    src = golden_input_file(tmp_path)
    pairs = basket.cooccurrence_pairs(basket.read_baskets_text(spark, src))
    query = io._reference_layout_query(pairs)
    assert unbounded_single_partition_exchanges(query) == []
    plan = formatted_plan(query)
    assert "rangepartitioning(_part" in plan and "Coalesce" not in plan
    sc = spark.sparkContext
    group = f"reference-layout-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        out = io.write_reference_pairs_layout(pairs, str(tmp_path / "layout"))
    finally:
        sc.setJobGroup("", "", False)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6
    assert _read_parts(out) == _golden_layout_lines()


def test_last_only_item_never_a_key(spark):
    # product 18 appears only at basket end -> never a current item (rule 1)
    items = {r["item"] for r in basket.cooccurrence_pairs(_baskets(spark)).collect()}
    assert "18" not in items
    assert items == {"12", "29", "34", "56", "79", "92"}
