"""SQL-text expression assembly — py4j chatter elimination (guide §7.3).

Building a 64-term unrolled arithmetic chain through the Column API
costs ~6-10 py4j driver round trips PER TERM (every ``F.element_at``,
``.cast``, ``*``, ``+`` is a synchronous socket exchange with the JVM).
The r13-opt profiler measured query construction at ~113 s/pass across
the 179-query bench (174,566 round trips) — driver-side,
single-threaded work that a bigger cluster cannot shrink.

Assembling the SAME expression as one SQL string and parsing it with a
single ``F.expr`` call yields a bit-identical expression tree (verified
by ``struct.pack('d', …)`` compare over random data for the unrolled
dot, the cast_elements variant, and the HOF fold with literal arrays)
at ~1/25 the driver cost, because parsing happens JVM-side in one round
trip.

Exactness rules this module relies on:

- ``repr(float)`` is the shortest round-trip decimal representation and
  Spark parses ``<repr>D`` double literals with Java's correctly-rounded
  ``Double.parseDouble`` — so literal values are bit-exact both ways.
- Operator text preserves shape: ``t0 + t1 + t2`` parses
  left-associative, exactly like the Column ``+`` chain, so IEEE
  evaluation order (and therefore every rounded bit) is unchanged.
- Bare ``0.0`` in Spark SQL is DECIMAL(1,1); always suffix ``D``.
"""

from __future__ import annotations

import math

__all__ = [
    "dlit",
    "dlit_array",
    "ilit_array",
    "qcol",
    "dbl_arr_sql",
    "dot_sql",
    "cosine_sql",
]


def dlit(x) -> str:
    """Exact SQL double literal for a finite Python float."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"non-finite double literal: {x}")
    return repr(x) + "D"


def dlit_array(xs) -> str:
    """``array(…)`` of exact double literals."""
    return "array(" + ", ".join(dlit(x) for x in xs) + ")"


def ilit_array(xs) -> str:
    """``array(…)`` of int literals."""
    return "array(" + ", ".join(str(int(x)) for x in xs) + ")"


def qcol(name: str) -> str:
    """Backtick-quoted column reference."""
    if "`" in name:
        raise ValueError(f"backtick in column name: {name!r}")
    return f"`{name}`"


def dbl_arr_sql(arr_sql: str) -> str:
    """Array cast to double elements — the text twin of
    ``F.transform(c, lambda x: x.cast('double'))``."""
    return f"transform({arr_sql}, x -> CAST(x AS DOUBLE))"


def _elem(arr_sql: str, i: int, cast: bool) -> str:
    e = f"element_at({arr_sql}, {i})"
    return f"CAST({e} AS DOUBLE)" if cast else e


def dot_sql(a: str, b: str, dim: int | None = None,
            cast_elements: bool = False) -> str:
    """Dot-product text, the one builder behind ``similarity.dot``.

    With ``dim``: the left-associative unrolled Add chain seeded at
    ``0.0D`` (whole-stage-codegen eligible).  Without: the
    zip_with/aggregate interpreted fold.  The two are bit-identical
    (same seed, same order, same cast placement).
    """
    if dim is not None:
        terms = ["0.0D"] + [
            f"{_elem(a, i, cast_elements)} * {_elem(b, i, cast_elements)}"
            for i in range(1, dim + 1)
        ]
        return "(" + " + ".join(terms) + ")"
    if cast_elements:
        prod = (f"zip_with({a}, {b}, "
                f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))")
    else:
        prod = f"zip_with({a}, {b}, (x, y) -> x * y)"
    return f"aggregate({prod}, 0.0D, (acc, x) -> acc + x)"


def cosine_sql(a: str, b: str, dim: int | None = None,
               cast_elements: bool = False) -> str:
    """Cosine text: ``dot / (sqrt(dot_aa) * sqrt(dot_bb))`` — the one
    builder behind ``similarity.cosine``."""
    return (
        f"({dot_sql(a, b, dim, cast_elements)} / "
        f"(SQRT({dot_sql(a, a, dim, cast_elements)}) * "
        f"SQRT({dot_sql(b, b, dim, cast_elements)})))"
    )
