"""The benchmark's workloads: inputs, the calls of one pass, and checks.

A call is one query of a pass: ``build`` returns the DataFrame (table
opens, registry builders and their eager jobs happen here), ``action``
forces it to finish and returns the output, and ``check`` returns None
when the output is correct or a one-line reason when it is not. Expected
outputs are computed once per run, before the first pass: by the pure-Python
Crystal Ball for ``text_baskets``, by DuckDB over the registry's oracle
SQL for the others.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

import crystal_ball
import datagen

PKG = "probability_of_buying_two_products_together_hadoop_project_spark"

# Fixed relational tables: every run of every workload reads the same
# files, so only the call order depends on the workload seed.
TABLES_SF = 0.005
TABLES_SEED = 42

TEXT_BASKETS = 250


@dataclass
class Call:
    name: str
    build: Callable
    action: Callable
    check: Callable
    kind: str = "action"  # "sink" for the reference-layout writer


@dataclass
class Ctx:
    work: str
    seed: int
    tables_dir: str = ""
    text_path: str = ""
    expected: dict = field(default_factory=dict)


@dataclass
class Workload:
    name: str
    tables: list[str]  # parquet tables the calls read; empty for the text input
    prepare: Callable[[Ctx], None]
    calls: Callable[[Ctx], list[Call]]
    pins: list[str] = field(default_factory=list)


def _tables(ctx: Ctx) -> None:
    d = os.path.join(ctx.work, f"tables-sf{TABLES_SF}-seed{TABLES_SEED}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        datagen.make_tables(d, TABLES_SF, TABLES_SEED)
        open(os.path.join(d, "_DONE"), "w").close()
    ctx.tables_dir = d


# ---------------------------------------------------------------------------
# text_baskets: the reference's own input format and sink
# ---------------------------------------------------------------------------


def _prepare_text(ctx: Ctx) -> None:
    ctx.text_path = os.path.join(ctx.work, f"text-seed{ctx.seed}", "input")
    lines = datagen.make_text_baskets(ctx.text_path, ctx.seed, TEXT_BASKETS)
    probs = crystal_ball.pair_probs(crystal_ball.pair_counts(lines))
    ctx.expected["probs"] = probs
    ctx.expected["parts"] = crystal_ball.expected_part_files(probs)


def _text_calls(ctx: Ctx) -> list[Call]:
    from importlib import import_module

    basket = import_module(f"{PKG}.operators.basket")
    engine_io = import_module(f"{PKG}.sources.io")
    sink_dir = os.path.join(ctx.work, f"sink-seed{ctx.seed}")

    def read(spark):
        return basket.read_baskets_text(spark, ctx.text_path)

    return [
        Call(
            "pairs_to_reference_layout",
            lambda spark: basket.cooccurrence_pairs(read(spark)),
            lambda df: engine_io.write_reference_pairs_layout(df, sink_dir),
            lambda paths: crystal_ball.check_part_files(paths, ctx.expected["parts"]),
            kind="sink",
        ),
        Call(
            "cooccurrence_stripes",
            lambda spark: basket.cooccurrence_stripes(read(spark)),
            lambda df: [(r["item"], r["stripe"]) for r in df.collect()],
            lambda rows: crystal_ball.check_stripes(rows, ctx.expected["probs"]),
        ),
    ]


# ---------------------------------------------------------------------------
# registry workloads: named queries, checked against their DuckDB oracle
# ---------------------------------------------------------------------------


def _oracle_check(name: str, ctx: Ctx):
    from tools.oracle_check import compare

    def check(pdf) -> str | None:
        hard = [
            p for p in compare(name, pdf, ctx.expected[name]) if not p.startswith("DTYPE-WARN")
        ]
        return "; ".join(hard) or None

    return check


def _registry_prepare(names: list[str]):
    def prepare(ctx: Ctx) -> None:
        from importlib import import_module

        from tools.oracle_check import duck_conn

        _tables(ctx)
        oracles = import_module(f"{PKG}.registry").oracle_sql()
        con = duck_conn(ctx.tables_dir)
        for n in names:
            ctx.expected[n] = con.execute(oracles[n]).df()
        con.close()

    return prepare


def _registry_calls(names: list[str]):
    def calls(ctx: Ctx) -> list[Call]:
        from importlib import import_module

        qs = import_module(f"{PKG}.registry").queries()
        return [
            Call(
                n,
                (lambda fn: lambda spark: fn(spark, ctx.tables_dir))(qs[n]),
                lambda df: df.toPandas(),
                _oracle_check(n, ctx),
            )
            for n in names
        ]

    return calls


# q5 opens and joins six tables; the PCA builder runs its eager gate, the
# pca_scatter pin and a fold. Two queries keep a run near 50 s, which the
# schedule of runs needs (see README.md).
REGISTRY_MIX_QUERIES = [
    "q5_region_revenue",
    "pca_top_component_embeddings",
]

WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "text_baskets",
            tables=[],
            prepare=_prepare_text,
            calls=_text_calls,
        ),
        Workload(
            "registry_mix",
            tables=[
                "lineitem", "orders", "customer", "supplier", "nation", "region",
                "embeddings",
            ],
            prepare=_registry_prepare(REGISTRY_MIX_QUERIES),
            calls=_registry_calls(REGISTRY_MIX_QUERIES),
            pins=["pca_scatter"],
        ),
    ]
}
