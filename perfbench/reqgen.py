"""Seeded request streams. The program only ever sees the literals drawn
here: predicate thresholds, column lists and contract order."""

from __future__ import annotations

import random
from collections.abc import Iterator
from dataclasses import dataclass

#: v1 filters and aggregates the fact column; its range in the corpus
FACT = "l_extendedprice"
FACT_LO, FACT_HI = 900.0, 105_000.0
#: projection columns beyond the fact column
EXTRA_COLS = ("l_quantity", "l_discount", "l_tax")
AGG_OPS = ("SUM", "AVG", "MIN", "MAX", "COUNT")
#: extra oracle column: rows the predicate keeps
N_ROWS = "n_rows__"


@dataclass(frozen=True)
class ScanRequest:
    """One v1 query: a conjunction on the fact column and 1-5 aggregates
    over a projection of 1-4 columns."""

    conjuncts: tuple[tuple[str, str, float], ...]
    aggs: tuple[str, ...]
    columns: tuple[str, ...]

    @property
    def predicate(self) -> str:
        return " AND ".join(f"{c} {op} {lit}" for c, op, lit in self.conjuncts)

    def alias(self, spec: str) -> str:
        op, col = spec.rstrip(")").split("(")
        return f"{op.lower()}_{col}"

    def oracle_sql(self, source: str) -> str:
        sel = ", ".join(f"{spec} AS {self.alias(spec)}" for spec in self.aggs)
        sel += f", COUNT(*) AS {N_ROWS}"
        return f"SELECT {sel} FROM {source} WHERE {self.predicate}"


def scan_request(rng: random.Random, i: int, size: int) -> ScanRequest:
    """Request ``i`` of a pass of ``size``: its threshold falls in the i-th
    ``1/size`` of the fact column's range, and its shape (conjuncts,
    projection width, aggregate count) cycles with ``i``; the seed picks the
    literals, columns, aggregates and operators."""
    span = FACT_HI - FACT_LO
    lo = round(FACT_LO + span * (i + rng.random()) / size, 2)
    width = 1 + i % (1 + len(EXTRA_COLS))
    columns = (FACT,) + tuple(rng.sample(EXTRA_COLS, width - 1))
    pairs = [f"{op}({c})" for c in columns for op in AGG_OPS]
    aggs = tuple(rng.sample(pairs, 1 + i % 5))
    if i % 2 == 0:
        conjuncts = ((FACT, rng.choice((">", ">=", "<", "<=")), lo),)
    else:
        hi = round(lo + span * rng.uniform(0.05, 0.5), 2)
        conjuncts = ((FACT, ">", lo), (FACT, "<", hi))
    return ScanRequest(conjuncts, aggs, columns)


def scan_passes(seed: int, size: int = 10) -> Iterator[list[ScanRequest]]:
    """Endless stream of passes of v1 queries for ``seed``, each pass in a
    seeded order. Every pass spans the whole selectivity range with the
    same mix of shapes, so seeds change literals and order, not the mix."""
    rng = random.Random(seed)
    while True:
        batch = [scan_request(rng, i, size) for i in range(size)]
        rng.shuffle(batch)
        yield batch


def contract_passes(seed: int, names: list[str]) -> Iterator[list[str]]:
    """Endless stream of passes; each pass runs every contract once, in an
    order drawn from ``seed``."""
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order
