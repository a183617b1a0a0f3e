"""Projection formulas as data, rendered to Spark SQL and DuckDB SQL.

A CRS transform is a list of named *stages*.  Each stage maps new
column names to expressions over the names defined by earlier stages;
``__in_x``/``__in_y`` are the inputs and the last stage defines
``__out_x``/``__out_y``.  The expression type :class:`E` is tiny —
literals, ``+ - * /``, comparisons, ``AND``/``OR``, the math functions
the projection families use, casts and ``CASE WHEN`` — and its
constructors mirror ``pyspark.sql.functions`` (``lit``, ``sin``,
``when(...).otherwise(...)``), so a formula reads like Column code.

One formula, two dialects:

* **Spark SQL** (:func:`spark_sql`): float literals carry the ``D``
  suffix so they parse as DOUBLE (a bare ``0.5`` is DECIMAL in Spark);
  natural log is ``ln``.  Every node is parenthesized, so the parsed
  tree is exactly the tree the Column API would build — same doubles.
* **DuckDB SQL** (:func:`duckdb_sql`, :func:`duckdb_ctes`): float
  literals in exponent form (DuckDB types ``0.5`` as DECIMAL but
  ``0.5e0`` as DOUBLE); DuckDB 1.0 has no ``sinh``/``cosh``/``asinh``/
  ``atanh``, so they are written as ``exp``/``ln`` forms, and
  ``signum`` as a CASE.  A staged transform renders as one CTE per
  stage.
"""

from __future__ import annotations

import math
from typing import Mapping


class E:
    """One expression node: ``op`` plus its arguments.

    ``lit`` holds a Python number, ``ref`` a column name, ``fn`` the
    function name then its argument nodes, ``cast`` the node then the
    type name, ``case`` alternating condition/value nodes with an
    optional trailing ELSE value; every other op is a unary or binary
    operator over nodes."""

    __slots__ = ("op", "args")

    def __init__(self, op: str, *args):
        self.op, self.args = op, args

    def __add__(self, o): return E("+", self, _e(o))
    def __radd__(self, o): return E("+", _e(o), self)
    def __sub__(self, o): return E("-", self, _e(o))
    def __rsub__(self, o): return E("-", _e(o), self)
    def __mul__(self, o): return E("*", self, _e(o))
    def __rmul__(self, o): return E("*", _e(o), self)
    def __truediv__(self, o): return E("/", self, _e(o))
    def __rtruediv__(self, o): return E("/", _e(o), self)
    def __neg__(self): return E("neg", self)
    def __lt__(self, o): return E("<", self, _e(o))
    def __le__(self, o): return E("<=", self, _e(o))
    def __gt__(self, o): return E(">", self, _e(o))
    def __ge__(self, o): return E(">=", self, _e(o))
    def __eq__(self, o): return E("=", self, _e(o))  # type: ignore[override]
    def __and__(self, o): return E("AND", self, _e(o))
    def __or__(self, o): return E("OR", self, _e(o))

    __hash__ = None  # type: ignore[assignment]

    def cast(self, to: str) -> "E":
        return E("cast", self, to)

    def when(self, cond: "E", value) -> "E":
        assert self.op == "case" and len(self.args) % 2 == 0
        return E("case", *self.args, cond, _e(value))

    def otherwise(self, value) -> "E":
        assert self.op == "case" and len(self.args) % 2 == 0
        return E("case", *self.args, _e(value))

    def subst(self, names: Mapping[str, "E"]) -> "E":
        """This tree with every ``ref`` in ``names`` replaced."""
        if self.op == "ref":
            return names.get(self.args[0], self)
        return E(self.op, *(a.subst(names) if isinstance(a, E) else a
                            for a in self.args))


def _e(v) -> E:
    return v if isinstance(v, E) else E("lit", v)


# ---- constructors (the pyspark.sql.functions spellings) -----------------

def lit(v) -> E:
    return _e(v)


def col(name: str) -> E:
    return E("ref", name)


def when(cond: E, value) -> E:
    return E("case", cond, _e(value))


def _fn(name: str):
    return lambda *args: E("fn", name, *map(_e, args))


sin, cos, tan = _fn("sin"), _fn("cos"), _fn("tan")
asin, acos, atan, atan2 = _fn("asin"), _fn("acos"), _fn("atan"), _fn("atan2")
sinh, cosh, asinh, atanh = _fn("sinh"), _fn("cosh"), _fn("asinh"), _fn("atanh")
sqrt, exp, log, pow = _fn("sqrt"), _fn("exp"), _fn("log"), _fn("pow")
radians, degrees = _fn("radians"), _fn("degrees")
abs, signum, floor = _fn("abs"), _fn("signum"), _fn("floor")
least, greatest = _fn("least"), _fn("greatest")


# ---- rendering ---------------------------------------------------------

_CAST = {"int": "INT", "double": "DOUBLE"}


def _render(e: E, names: Mapping[str, str], lit_sql, fns) -> str:
    memo: dict[int, str] = {}

    def r(n: E) -> str:
        key = id(n)
        if key not in memo:
            memo[key] = node(n)
        return memo[key]

    def node(n: E) -> str:
        op, a = n.op, n.args
        if op == "lit":
            return lit_sql(a[0])
        if op == "ref":
            return names.get(a[0], a[0])
        if op == "fn":
            args = [r(x) for x in a[1:]]
            fmt = fns.get(a[0])
            return fmt(*args) if fmt else f"{a[0]}({', '.join(args)})"
        if op == "cast":
            return f"CAST({r(a[0])} AS {_CAST[a[1]]})"
        if op == "neg":
            return f"(- {r(a[0])})"
        if op == "case":
            arms = " ".join(f"WHEN {r(c)} THEN {r(v)}"
                            for c, v in zip(a[0::2], a[1::2]))
            tail = f" ELSE {r(a[-1])}" if len(a) % 2 else ""
            return f"CASE {arms}{tail} END"
        return f"({r(a[0])} {op} {r(a[1])})"

    return r(e)


def _special(v: float) -> str | None:
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return None


def _spark_lit(v) -> str:
    if isinstance(v, int):
        return f"({v})" if v < 0 else str(v)
    s = _special(v) or f"{v!r}D"
    return f"({s})" if s.startswith("-") else s


def _duckdb_lit(v) -> str:
    if isinstance(v, int):
        return f"({v})" if v < 0 else str(v)
    s = _special(v) or repr(v)
    if "e" not in s and "(" not in s:
        s += "e0"  # exponent form: DOUBLE, not DECIMAL
    return f"({s})" if s.startswith("-") else s


_SPARK_FNS = {"log": lambda z: f"ln({z})"}

_DUCKDB_FNS = {
    "log": lambda z: f"ln({z})",
    "sinh": lambda z: f"((exp({z}) - exp(- {z})) / 2.0e0)",
    "cosh": lambda z: f"((exp({z}) + exp(- {z})) / 2.0e0)",
    # odd-symmetric form: no cancellation for negative arguments
    "asinh": lambda z: (f"(sign({z}) * ln(abs({z})"
                        f" + sqrt({z} * {z} + 1.0e0)))"),
    "atanh": lambda z: f"(0.5e0 * ln((1.0e0 + {z}) / (1.0e0 - {z})))",
    "signum": lambda z: (f"CASE WHEN {z} > 0.0e0 THEN 1.0e0 "
                         f"WHEN {z} < 0.0e0 THEN -1.0e0 ELSE 0.0e0 END"),
}


def spark_sql(e: E, names: Mapping[str, str] = {}) -> str:
    """``e`` as a Spark-SQL expression; ``names`` maps a ref to the SQL
    text it stands for (default: the ref is a column name)."""
    return _render(e, names, _spark_lit, _SPARK_FNS)


def duckdb_sql(e: E, names: Mapping[str, str] = {}) -> str:
    """``e`` as a DuckDB-SQL expression (see :func:`spark_sql`)."""
    return _render(e, names, _duckdb_lit, _DUCKDB_FNS)


def duckdb_ctes(stages: list[dict[str, E]], x_sql: str, y_sql: str,
                src: str, name: str, out: tuple[str, str]) -> str:
    """The stages as a DuckDB CTE chain over ``src``: ``{name}1..`` hold
    the intermediates, and the final CTE ``name`` is ``src``'s columns
    plus the two ``out`` columns.  The inputs are cast to DOUBLE once,
    so DECIMAL-typed grid arithmetic never meets the formulas."""
    names = {"__in_x": f"CAST(({x_sql}) AS DOUBLE)",
             "__in_y": f"CAST(({y_sql}) AS DOUBLE)"}
    rename = {"__out_x": out[0], "__out_y": out[1]}
    made: dict[str, str] = {}  # lower-case -> name (DuckDB folds case)
    ctes, prev = [], src
    for i, stage in enumerate(stages, start=1):
        last = i == len(stages)
        drop = list(made.values()) if last else \
            [made[n.lower()] for n in stage if n.lower() in made]
        star = f"* EXCLUDE ({', '.join(drop)})" if drop else "*"
        cols = ", ".join(f"{duckdb_sql(e, names)} AS {rename.get(n, n)}"
                         for n, e in stage.items())
        here = name if last else f"{name}{i}"
        ctes.append(f"{here} AS (SELECT {star}, {cols} FROM {prev})")
        made.update((n.lower(), n) for n in stage)
        prev = here
    return ",\n".join(ctes)
