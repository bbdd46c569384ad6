"""Fluent query-definition API with the reference's operator semantics.

Mirrors the LINQ DSL surface (SURVEY.md §2.2-§2.6) as a thin, validated
layer over the DataFrame API.  Spark stays the execution engine — this
class only enforces the reference's *semantics contract* (SURVEY.md §2.9):

- operation order From -> [Join] -> [Where] -> [GroupBy] -> [Having]
  -> Select -> [OrderBy] -> [Limit]; violations raise
  (/root/reference/src/Query/Dsl/KsqlQueryable.cs:26-46, QueryBuildStage.cs)
- repeated Where() AND-merges (/root/reference/src/Query/Pipeline/DMLQueryGenerator.cs:282-295)
- Where() after GroupBy() becomes HAVING (DMLQueryGenerator.cs:256-276)
- HAVING banned while a Tumbling window is active
  (/root/reference/src/Query/Dsl/KsqlGroupedQueryable.cs:30-33)
- OrderBy limited to 5 columns (/root/reference/src/Query/Builders/Clauses/OrderByClauseBuilder.cs:47-88)
- join limited to 2 sources unless ``strict=False``
  (/root/reference/src/Query/Builders/Common/JoinLimitationEnforcer.cs:14-33)
- only INNER and LEFT joins unless ``strict=False``
  (JoinLimitationEnforcer.cs:38-47: "Supported: INNER, LEFT OUTER")

Aggregation classifies the query as a TABLE, otherwise STREAM
(/root/reference/src/Query/Dsl/KsqlQueryModel.cs:122-124).
"""

from __future__ import annotations

from enum import IntEnum
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class StreamProcessingException(Exception):
    """Reference's validation error type (Core/Exceptions)."""


class Stage(IntEnum):
    FROM = 0
    JOIN = 1
    WHERE = 2
    GROUP_BY = 3
    HAVING = 4
    SELECT = 5
    ORDER_BY = 6
    LIMIT = 7


_ALLOWED_JOIN_TYPES = {"inner", "left", "left_outer", "leftouter"}
MAX_ORDER_BY_COLUMNS = 5  # OrderByClauseBuilder.cs:47-88
MAX_JOIN_SOURCES = 2  # JoinLimitationEnforcer.cs:14
DEFAULT_JOIN_WITHIN_SECONDS = 300  # KsqlCreateStatementBuilder.cs:370


class Query:
    """A buildable query over one or more source DataFrames."""

    def __init__(self, df: DataFrame, name: str = "q", strict: bool = True):
        self._df = df
        self._name = name
        self._strict = strict
        self._stage = Stage.FROM
        self._sources = 1
        self._grouped: list[Column] | None = None
        self._window_col: Column | None = None
        self._windowed = False  # Tumbling/Hopping active → HAVING banned
        self._is_aggregate = False

    # -- helpers ---------------------------------------------------------
    def _advance(self, to: Stage, op: str) -> None:
        if to < self._stage:
            raise StreamProcessingException(
                f"{op} not allowed after stage {self._stage.name}; "
                f"required order: FROM -> JOIN -> WHERE -> GROUP BY -> HAVING "
                f"-> SELECT -> ORDER BY -> LIMIT"
            )
        self._stage = to

    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def is_table(self) -> bool:
        """Aggregate query ⇒ TABLE (KsqlQueryModel.DetermineType, :122-124)."""
        return self._is_aggregate

    # -- join (§2.3) -----------------------------------------------------
    def join(
        self,
        other: DataFrame | "Query",
        on: Column | list | str,
        how: str = "inner",
        broadcast: bool = False,
    ) -> "Query":
        self._advance(Stage.JOIN, "Join")
        self._sources += 1
        if self._strict:
            if self._sources > MAX_JOIN_SOURCES:
                # JoinLimitationEnforcer.cs:19-33
                raise StreamProcessingException(
                    f"JOIN with more than {MAX_JOIN_SOURCES} tables is not supported "
                    "(pass strict=False for n-way joins)"
                )
            if how.lower() not in _ALLOWED_JOIN_TYPES:
                # JoinLimitationEnforcer.cs:38-47
                raise StreamProcessingException(
                    f"join type {how!r} not supported. Supported: INNER, LEFT OUTER "
                    "(pass strict=False for right/full/cross/semi/anti)"
                )
        right = other.df if isinstance(other, Query) else other
        if broadcast:
            right = F.broadcast(right)
        self._df = self._df.join(right, on=on, how=how)
        return self

    # -- where (§2.2) ----------------------------------------------------
    def where(self, cond: Column | str) -> "Query":
        if self._stage >= Stage.GROUP_BY:
            # WHERE-with-aggregate after GROUP BY reclassifies to HAVING
            # (DMLQueryGenerator.cs:256-276)
            return self.having(cond)
        self._advance(Stage.WHERE, "Where")
        # repeated Where → AND-merge (DMLQueryGenerator.cs:282-295): chained
        # .filter is exactly that (Catalyst CombineFilters)
        self._df = self._df.filter(cond)
        return self

    # -- group by / window (§2.4, §2.5) ----------------------------------
    def group_by(self, *cols: Column | str) -> "Query":
        self._advance(Stage.GROUP_BY, "GroupBy")
        self._grouped = [F.col(c) if isinstance(c, str) else c for c in cols]
        return self

    def tumbling(self, ts_col: str | Column, size: str) -> "Query":
        """WINDOW TUMBLING (SIZE n UNIT) — KsqlCreateWindowedStatementBuilder.cs:121-144.

        ``size`` is a Spark interval string, e.g. "1 minute", "5 minutes".
        Calendar sizes (months/weeks) must go through
        :mod:`ksql_linq_spark.operators.windows` instead.
        """
        if self._grouped is None:
            raise StreamProcessingException("Tumbling requires GroupBy first")
        ts = F.col(ts_col) if isinstance(ts_col, str) else ts_col
        self._window_col = F.window(ts, size)
        self._windowed = True
        return self

    def hopping(self, ts_col: str | Column, size: str, advance_by: str) -> "Query":
        """WINDOW HOPPING (SIZE s, ADVANCE BY a) — KsqlCreateWindowedStatementBuilder.cs:55-106."""
        if self._grouped is None:
            raise StreamProcessingException("Hopping requires GroupBy first")
        ts = F.col(ts_col) if isinstance(ts_col, str) else ts_col
        self._window_col = F.window(ts, size, advance_by)
        self._windowed = True
        return self

    # -- having ----------------------------------------------------------
    def having(self, cond: Column | str) -> "Query":
        if self._grouped is None:
            raise StreamProcessingException("Having requires GroupBy")
        if self._windowed and self._strict:
            # KsqlGroupedQueryable.cs:30-33
            raise StreamProcessingException(
                "HAVING is not supported with Tumbling/Hopping windows"
            )
        self._advance(Stage.HAVING, "Having")
        self._having = cond
        return self

    # -- select (§2.2 P1/P2) --------------------------------------------
    def select(self, *exprs: Column | str) -> "Query":
        self._advance(Stage.SELECT, "Select")
        if self._grouped is not None:
            keys = list(self._grouped)
            if self._window_col is not None:
                keys.append(self._window_col.alias("window"))
            aggs = [e for e in exprs] or [F.count("*").alias("count")]
            self._df = self._df.groupBy(*keys).agg(*aggs)
            self._is_aggregate = True
            having = getattr(self, "_having", None)
            if having is not None:
                self._df = self._df.filter(having)
        else:
            if not exprs:
                exprs = ("*",)  # SELECT * default (KsqlCreateStatementBuilder.cs:40-43)
            self._df = self._df.select(*exprs)
        return self

    # -- order/limit (§2.6) ----------------------------------------------
    def order_by(self, *cols: Column | str) -> "Query":
        self._advance(Stage.ORDER_BY, "OrderBy")
        if self._strict and len(cols) > MAX_ORDER_BY_COLUMNS:
            raise StreamProcessingException(
                f"ORDER BY supports at most {MAX_ORDER_BY_COLUMNS} columns"
            )
        self._df = self._df.orderBy(*cols)
        return self

    def take(self, n: int) -> "Query":  # Take → LIMIT (DMLQueryGenerator.cs:362-372)
        self._advance(Stage.LIMIT, "Take")
        self._df = self._df.limit(n)
        return self

    def skip(self, n: int) -> "Query":
        """Skip → OFFSET. The reference warns & drops (DMLQueryGenerator.cs:377-381);
        Spark supports it natively — kept as a superset."""
        self._advance(Stage.LIMIT, "Skip")
        self._df = self._df.offset(n)
        return self

    # -- client-side ops (§2.8) ------------------------------------------
    def map(self, fn: Callable[[DataFrame], DataFrame]) -> "Query":
        """EventSet.Map analog (EventSet.cs:463-519) — eager transform."""
        self._df = fn(self._df)
        return self

    def to_df(self) -> DataFrame:
        return self._df

    def to_list(self):
        """ToListAsync analog (EventSet.cs:123-139)."""
        return self._df.collect()


def from_df(df: DataFrame, name: str = "q", strict: bool = True) -> Query:
    """`From<T>()` — the single allowed root (KsqlQueryRoot.cs:16-23)."""
    return Query(df, name=name, strict=strict)
