"""Tests of the benchmark's own checker and statistics (no Spark needed).

    python3 -m pytest -q perfbench

The pure-Python Crystal Ball is pinned against the reference's 34 golden
pair rows, which ``tests/test_basket_golden.py`` holds.
"""

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import crystal_ball  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
from tests.conftest import TESTDATA  # noqa: E402
from tests.test_basket_golden import GOLDEN_PAIRS, INPUT_LINES  # noqa: E402


def test_checker_matches_golden_pairs_bit_exact():
    got = crystal_ball.pair_probs(crystal_ball.pair_counts(INPUT_LINES))
    assert set(got) == set(GOLDEN_PAIRS)
    for k, v in GOLDEN_PAIRS.items():
        assert got[k].hex() == v.hex(), k


def test_window_rules():
    counts = crystal_ball.pair_counts(["A", "B 7 7 7 7", "D 1 2 1 2 1", "E 5\t6  5"])
    assert counts == {("1", "2"): 2, ("2", "1"): 2, ("5", "6"): 1, ("6", "5"): 1}


def _write_parts(tmp_path, parts):
    paths = []
    for i, rows in enumerate(parts):
        p = tmp_path / f"part-r-{i:05d}"
        p.write_text("".join(f"[{a}, {b}]\t{prob!r}\n" for a, b, prob in rows))
        paths.append(str(p))
    return paths


def test_part_files_round_trip_and_detect_errors(tmp_path):
    probs = crystal_ball.pair_probs(crystal_ball.pair_counts(INPUT_LINES))
    parts = crystal_ball.expected_part_files(probs)
    assert [len(p) for p in parts] == [12, 11, 11]
    assert crystal_ball.check_part_files(_write_parts(tmp_path, parts), parts) is None
    bad = [list(p) for p in parts]
    a, b, prob = bad[0][0]
    bad[0][0] = (a, b, prob + 1e-16)
    assert crystal_ball.check_part_files(_write_parts(tmp_path, bad), parts) is not None


def test_stripes_check():
    probs = crystal_ball.pair_probs(crystal_ball.pair_counts(INPUT_LINES))
    stripes = {}
    for (p, n), v in probs.items():
        stripes.setdefault(p, {})[n] = v
    rows = list(stripes.items())
    assert crystal_ball.check_stripes(rows, probs) is None
    assert crystal_ball.check_stripes(rows[1:], probs) is not None


def test_text_baskets_are_seeded(tmp_path):
    a = datagen.make_text_baskets(str(tmp_path / "a"), seed=7, n_baskets=50)
    b = datagen.make_text_baskets(str(tmp_path / "b"), seed=7, n_baskets=50)
    c = datagen.make_text_baskets(str(tmp_path / "c"), seed=8, n_baskets=50)
    assert a == b != c
    sizes = [len(line.split()) - 1 for line in a]
    assert min(sizes) >= 20 and max(sizes) <= 60
    items = {int(t) for line in a for t in line.split()[1:]}
    assert any(i < 30 for i in items) and any(30 <= i < 60 for i in items)


def _physical_schema(path):
    schema = pq.ParquetFile(path).schema
    return [
        (c.name, c.physical_type, str(c.logical_type))
        for c in (schema.column(i) for i in range(len(schema)))
    ]


@pytest.mark.skipif(
    not os.path.isdir(os.path.join(TESTDATA, "sf0.001")), reason="no testdata tables"
)
def test_generated_tables_match_testdata_physical_types(tmp_path):
    datagen.make_tables(str(tmp_path), sf=0.001, seed=1)
    for name in sorted(os.listdir(tmp_path)):
        assert _physical_schema(tmp_path / name) == _physical_schema(
            os.path.join(TESTDATA, "sf0.001", name)
        ), name


def test_tail_has_ten_samples_beyond():
    samples = [float(i) for i in range(1, 41)]
    value, pct = run.tail(samples)
    assert sum(s > value for s in samples) == 10 and pct == 75.0
    assert run.tail([float(i) for i in range(1, 22)]) == (11.0, 100.0 * 11 / 21)
    assert run.tail([float(i) for i in range(1, 21)]) == (20.0, 100.0)
