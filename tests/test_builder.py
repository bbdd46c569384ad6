"""Query-DSL semantics contract tests (SURVEY.md §2.9)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ksql_linq_spark.query.builder import StreamProcessingException, from_df
from ksql_linq_spark.sources import read_table


@pytest.fixture()
def orders(spark, sf_dir):
    return read_table(spark, sf_dir, "orders")


@pytest.fixture()
def customer(spark, sf_dir):
    return read_table(spark, sf_dir, "customer")


def test_stage_order_enforced(orders):
    q = from_df(orders).select("o_orderkey")
    with pytest.raises(StreamProcessingException):
        q.where(F.col("o_orderkey") > 0)  # Where after Select


def test_join_after_where_rejected(orders, customer):
    q = from_df(orders).where(F.col("o_custkey") > 0)
    with pytest.raises(StreamProcessingException):
        q.join(customer, on=F.col("o_custkey") == F.col("c_custkey"))


def test_join_limit_two_tables(orders, customer, spark, sf_dir):
    nation = read_table(spark, sf_dir, "nation")
    q = from_df(orders).join(customer, on=F.col("o_custkey") == F.col("c_custkey"))
    with pytest.raises(StreamProcessingException):
        q.join(nation, on=F.col("c_nationkey") == F.col("n_nationkey"))
    # non-strict allows n-way (Spark superset)
    q2 = (
        from_df(orders, strict=False)
        .join(customer, on=F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, on=F.col("c_nationkey") == F.col("n_nationkey"))
    )
    assert q2.to_df().count() > 0


def test_unsupported_join_types_rejected(orders, customer):
    for how in ("right", "full", "cross"):
        with pytest.raises(StreamProcessingException):
            from_df(orders).join(
                customer, on=F.col("o_custkey") == F.col("c_custkey"), how=how
            )


def test_where_after_groupby_is_having(orders):
    q = (
        from_df(orders)
        .group_by("o_custkey")
        .where(F.count(F.lit(1)) >= 2)
        .select(F.count(F.lit(1)).alias("n"))
    )
    rows = q.to_list()
    assert rows and all(r["n"] >= 2 for r in rows)


def test_having_requires_groupby(orders):
    with pytest.raises(StreamProcessingException):
        from_df(orders).having(F.count(F.lit(1)) > 1)


def test_having_banned_with_tumbling(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    q = from_df(ev).group_by("event_type").tumbling("ts", "1 minute")
    with pytest.raises(StreamProcessingException):
        q.having(F.count(F.lit(1)) > 1)


def test_orderby_max_five_columns(orders):
    cols = [F.col(c) for c in orders.columns[:6]]
    with pytest.raises(StreamProcessingException):
        from_df(orders).select("*").order_by(*cols)


def test_aggregate_classifies_as_table(orders):
    q = from_df(orders).group_by("o_custkey").select(F.count(F.lit(1)).alias("n"))
    assert q.is_table
    q2 = from_df(orders).select("o_orderkey")
    assert not q2.is_table


def test_tumbling_groupby_select(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    q = (
        from_df(ev)
        .group_by("event_type")
        .tumbling("ts", "1 minute")
        .select(F.count(F.lit(1)).alias("n"))
    )
    df = q.to_df()
    assert "window" in df.columns
    assert df.count() > 0


def test_eventset_add_to_list_guards(spark, tmp_path):
    from ksql_linq_spark.context import SparkKsqlContext
    from ksql_linq_spark.entity import Column, Entity

    ctx = SparkKsqlContext(spark)
    ent = Entity(
        "trades",
        [
            Column("id", "long", key_order=0),
            Column("sym", "string"),
            Column("px", "double"),
        ],
    )
    ctx.register_entity(ent)
    es = ctx.entity_set("trades", path=str(tmp_path / "trades"))
    es.add([(1, "A", 10.0), (2, "B", 20.0)])
    es.add([(3, "A", 30.0)])
    rows = {r["id"]: r["px"] for r in es.to_list()}
    assert rows == {1: 10.0, 2: 20.0, 3: 30.0}
    assert es.map(lambda df: df.filter(df.sym == "A")).count() == 2

    stream_es = ctx.entity_set("trades", is_stream=True)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="stream"):
        stream_es.to_list()

    dlq_ent = Entity("dlq", [Column("k", "string")])
    ctx.register_entity(dlq_ent)
    dlq_es = ctx.entity_set("dlq")
    with _pytest.raises(RuntimeError, match="DLQ"):
        dlq_es.on_error(None)


def test_eventset_add_validates_and_writes_like_create_dataframe(spark, tmp_path):
    """EventSet.add builds its batch from Arrow: it must reject exactly the
    rows ``createDataFrame(rows, schema)`` rejects, with the same error,
    write nothing for them, and write the same rows, schema and
    nullability."""
    import datetime as dt
    import decimal
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import Row

    from ksql_linq_spark.context import SparkKsqlContext
    from ksql_linq_spark.entity import Column, Entity

    ent = Entity("fills", [
        Column("id", "long", nullable=False, key_order=0),
        Column("sym", "string"),
        Column("px", "double"),
        Column("amt", "decimal(18,2)"),
        Column("ts", "timestamp", timestamp=True),
        Column("day", "date"),
        Column("tags", "array<string>"),
    ])
    ctx = SparkKsqlContext(spark)
    ctx.register_entity(ent)
    es = ctx.entity_set("fills", path=str(tmp_path / "new"))

    bad_batches = [
        [(1, "A")],  # wrong arity
        [(1, "A", 1.0, None, None, None, None, None)],  # wrong arity
        [("x", "A", 1.0, None, None, None, None)],  # wrong type
        [(1, "A", 1, None, None, None, None)],  # int into a double column
        [(None, "A", 1.0, None, None, None, None)],  # NULL into a NOT NULL key
        [{"id": 1, "px": "1.0"}],
    ]
    for bad in bad_batches:
        with pytest.raises(Exception) as old:
            spark.createDataFrame(bad, ent.schema)
        with pytest.raises(type(old.value)) as new:
            es.add(bad)
        assert new.value.getCondition() == old.value.getCondition(), bad
    assert not (tmp_path / "new").exists()

    rows = [
        (1, "A", 1.5, decimal.Decimal("12.34"), dt.datetime(2024, 1, 1, 10, 0, 0, 123456),
         dt.date(2024, 1, 1), ["x", "y"]),
        (2, None, None, None, None, None, None),
        {"id": 3, "sym": "ü", "px": float("-inf"), "amt": decimal.Decimal("-0.01"),
         "ts": dt.datetime(1999, 12, 31, 23, 59, 59), "day": dt.date(1970, 1, 1), "tags": []},
        Row(id=4, sym="B", px=0.0, amt=decimal.Decimal("0"), ts=dt.datetime(2024, 6, 1),
            day=dt.date(2024, 6, 1), tags=[None]),
        (5, 7, 0.5, None, None, None, None),  # a string column takes str(7)
    ]
    es.add(rows)
    es.add([])
    spark.createDataFrame(rows, ent.schema).write.parquet(str(tmp_path / "old"))

    def file_schema(d):
        return pq.read_schema(sorted(glob.glob(f"{tmp_path}/{d}/*.parquet"))[0]).remove_metadata()

    # Spark's own write stores the timestamp as INT96 (pyarrow reads it as
    # ns); add() stores INT64 µs adjusted to UTC.  Every other column has
    # the file type and nullability of Spark's write.
    import pyarrow as pa

    new_s, old_s = file_schema("new"), file_schema("old")
    ts = new_s.get_field_index("ts")
    assert old_s.field("ts").type == pa.timestamp("ns")
    assert new_s.field("ts").type == pa.timestamp("us", tz="UTC")
    assert new_s.set(ts, old_s.field("ts")) == old_s
    new_df, old_df = spark.read.parquet(str(tmp_path / "new")), spark.read.parquet(str(tmp_path / "old"))
    assert new_df.schema == old_df.schema
    assert sorted(new_df.collect()) == sorted(old_df.collect())
    assert sorted(r["id"] for r in es.to_list()) == [1, 2, 3, 4, 5]


def test_entity_ignore_and_table_attributes(spark, tmp_path):
    """[KsqlIgnore] excludes a column from the wire schema; [KsqlTable]
    requires a key and refuses stream handles (attribute parity with
    KsqlIgnoreAttribute.cs / KsqlTableAttribute.cs)."""
    from ksql_linq_spark.context import SparkKsqlContext
    from ksql_linq_spark.entity import Column, Entity

    ent = Entity(
        "accounts",
        [
            Column("account_id", "long", key_order=0),
            Column("balance", "decimal(18,2)"),
            Column("_session_tag", "string", ignore=True),
        ],
        is_table=True,
    )
    assert [f.name for f in ent.schema.fields] == ["account_id", "balance"]

    with pytest.raises(ValueError, match="KsqlKey"):
        Entity("bad", [Column("v", "double")], is_table=True)
    with pytest.raises(ValueError, match="KsqlIgnore"):
        Entity("bad2", [Column("ts", "timestamp", timestamp=True, ignore=True)])

    ctx = SparkKsqlContext(spark)
    ctx.register_entity(ent, path=str(tmp_path / "accounts"))
    with pytest.raises(ValueError, match="KsqlTable"):
        ctx.entity_set("accounts", is_stream=True)
    ctx.entity_set("accounts")  # table handle is fine


def test_rowkey_rowtime_pseudo_columns(spark):
    """ROWKEY/ROWTIME accessors resolve to the attribute-marked columns
    (single key -> column, composite -> ordered struct)."""
    from ksql_linq_spark.entity import Column, Entity

    ent = Entity(
        "ticks",
        [
            Column("sym", "string", key_order=1),
            Column("broker", "string", key_order=0),
            Column("ts", "timestamp", timestamp=True),
            Column("px", "double"),
        ],
    )
    df = spark.createDataFrame(
        [("A", "b1", __import__("datetime").datetime(2024, 1, 1), 1.0)],
        ent.schema,
    )
    r = df.select(
        ent.rowkey().alias("k"), ent.rowtime().alias("t")
    ).first()
    assert r["k"] == ("b1", "A")  # broker first: key_order 0 before 1
    assert r["t"].year == 2024
    with pytest.raises(ValueError, match="KsqlKey"):
        Entity("nokey", [Column("v", "double")]).rowkey()
