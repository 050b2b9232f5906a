"""Seeded generator of wide SQL for the ``wide_sql_sf0.001`` workload.

Each query is a chain of CTEs over the star-schema views: a base CTE
reads ``lineitem`` (sometimes joined to a dimension), every later CTE
recomputes the same set of integer columns from the previous one, some
as ``UNION ALL`` branches or dimension joins, and an outer aggregate
groups the last CTE. The plans are wide and deep while the data is
tiny, so the Spark driver (Catalyst and lineage extraction) does the work
and the executors sit mostly idle.

Only integer arithmetic that Spark (ANSI mode) and DuckDB evaluate the
same way is used: non-negative operands, ``%`` by constants, no
division and no floating point, so DuckDB gives the expected result of
every query exactly.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

CTE_RANGE = (5, 8)
COLUMN_RANGE = (26, 44)
OUTPUT_AGGREGATES = 6

# base columns of lineitem every query starts from (all cast to BIGINT)
_BASE = {
    "k": "CAST(l_orderkey AS BIGINT)",
    "q": "CAST(l_quantity AS BIGINT)",
    "p": "CAST(l_partkey AS BIGINT)",
    "s": "CAST(l_suppkey AS BIGINT)",
    "ln": "CAST(l_linenumber AS BIGINT)",
}
# dimension joins a CTE may add: table, join condition, column brought in
_DIMS = {
    "part": ("p_partkey = p", "CAST(p_size AS BIGINT)"),
    "supplier": ("s_suppkey = s", "CAST(s_nationkey AS BIGINT)"),
    "orders": ("o_orderkey = k", "CAST(o_custkey AS BIGINT) % 997"),
}
_AGGS = ["SUM", "MIN", "MAX", "COUNT"]
_FORMS = 6  # expression forms of ``_expr``
# CTE kinds by position, the same for every seed, so that the cost of a
# query depends on its size and not on the seed
_KINDS = ["project", "union", "filter", "join", "project", "filter", "union"]
KEYS = list(_BASE)
KEY_LIST = ", ".join(KEYS)


@dataclass(frozen=True)
class WideQuery:
    name: str
    sql: str
    tables: frozenset[str]  # base tables the query reads, by construction
    outputs: int  # output columns (none of them is a literal)


def _forms(rng: random.Random, width: int) -> list[int]:
    """Expression forms for ``width`` columns: each form as often as the
    others, in a seeded order, so that the size of the expressions (and
    the work of analysing and capturing them) does not depend on the seed."""
    forms = [j % _FORMS for j in range(width)]
    rng.shuffle(forms)
    return forms


def _expr(form: int, a: str, b: str) -> str:
    if form == 0:
        return f"({a} + {b}) % 997"
    if form == 1:
        return f"({a} * 7 + {b}) % 991"
    if form == 2:
        return f"ABS({a} - {b})"
    if form == 3:
        return f"GREATEST({a}, {b})"
    if form == 4:
        return f"LEAST({a}, {b})"
    return f"CASE WHEN {a} > {b} THEN {b} ELSE {b} + 1 END"


def _select(rng: random.Random, width: int, prev: list[str], keys: list[str]) -> str:
    # one computed operand per expression: Catalyst collapses the CTE
    # chain into single projections, and two computed operands would
    # double the collapsed expression size at every level
    return ", ".join(
        f"{_expr(form, rng.choice(prev), rng.choice(keys))} AS x{j}"
        for j, form in enumerate(_forms(rng, width))
    )


def _spread(lo: int, hi: int, rank: int, count: int) -> int:
    return lo + (hi - lo) * (2 * rank + 1) // (2 * count)


def make_query(seed: int, index: int, n_cte: int, width: int) -> WideQuery:
    rng = random.Random(f"wide_sql/{seed}/{index}")
    groups = rng.randint(5, 25)
    tables = {"lineitem"}
    xs = [f"x{j}" for j in range(width)]

    base_cols = ", ".join(f"{v} AS {k}" for k, v in _BASE.items())
    ctes = [
        f"c0 AS (SELECT {base_cols}, {_select(rng, width, list(_BASE), list(_BASE))} FROM lineitem)"
    ]
    for i in range(1, n_cte):
        prev = f"c{i - 1}"
        kind = _KINDS[i % len(_KINDS)]
        if kind == "project":
            body = f"SELECT {KEY_LIST}, {_select(rng, width, xs, KEYS)} FROM {prev}"
        elif kind == "filter":
            col, mod = rng.choice(xs), rng.randint(7, 31)
            body = (
                f"SELECT {KEY_LIST}, {_select(rng, width, xs, KEYS)} FROM {prev} "
                f"WHERE {col} % {mod} <> {rng.randrange(mod)}"
            )
        elif kind == "union":
            # the second branch scans lineitem itself: a second reference
            # to the previous CTE would make Spark materialize it
            fresh = ", ".join(f"{_expr(form, rng.choice(KEYS), rng.choice(KEYS))} AS x{j}"
                              for j, form in enumerate(_forms(rng, width)))
            body = (
                f"SELECT {KEY_LIST}, {_select(rng, width, xs, KEYS)} FROM {prev} "
                f"UNION ALL SELECT {base_cols}, {fresh} FROM lineitem "
                f"WHERE l_linenumber = {rng.randint(1, 7)}"
            )
        else:
            dim = sorted(_DIMS)[(index + i) % len(_DIMS)]
            cond, extra = _DIMS[dim]
            tables.add(dim)
            body = (
                f"SELECT {KEY_LIST}, {_select(rng, width, xs, KEYS + [extra])} "
                f"FROM {prev} JOIN {dim} ON {cond}"
            )
        ctes.append(f"c{i} AS ({body})")

    # a narrow result over wide intermediates: Catalyst prunes the unused
    # columns before execution, while the analyzed plan that lineage
    # extraction walks keeps every one of them
    picked = sorted(rng.sample(range(width), OUTPUT_AGGREGATES))
    aggs = ", ".join(f"{rng.choice(_AGGS)}(x{j}) AS a{j}" for j in picked)
    sql = (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT k % {groups} AS g, {aggs} FROM c{n_cte - 1} GROUP BY k % {groups}"
    )
    return WideQuery(
        name=f"wide_{index:02d}", sql=sql, tables=frozenset(tables),
        outputs=OUTPUT_AGGREGATES + 1,
    )


def make_queries(seed: int, count: int) -> list[WideQuery]:
    """``count`` queries whose CTE counts and widths are spread evenly
    over their ranges, the widest with the fewest CTEs. Every query then
    costs about the same (CTEs × columns), so an operation's median time
    is taken over all the samples of a run rather than over one query's,
    and the cost of the set barely depends on the seed; the seed picks
    everything else: expressions, operands, filters and groupings."""
    return [
        make_query(
            seed,
            i,
            _spread(*CTE_RANGE, i, count),
            _spread(*COLUMN_RANGE, count - 1 - i, count),
        )
        for i in range(count)
    ]
