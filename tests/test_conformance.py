"""Registration-time output-schema conformance for every queries() entry.

The driver scores a query by converting BOTH the Spark result and the
DuckDB oracle result to pandas, canonicalizing (sort columns, sort rows)
and hashing the rendered values.  Two output dtype classes fail that
pipeline BY CONSTRUCTION, independent of values:

- ArrayType/MapType/StructType/BinaryType: pandas object cells that
  crash the driver's ``sort_values`` (lists — the r3
  ``embedding_quantize_int8`` harness crash) or render by object;
- DecimalType/FloatType: object-Decimal renders '1.50' where float64
  renders '1.5'; float32 renders with float32-shortest repr
  ('0.30000001') where the DuckDB oracle's float64 renders '0.3'.
  Queries cast to DOUBLE (``_dec2dbl`` discipline) or integer-ize.

TIMESTAMP/DATE outputs are deliberately NOT banned: r1-r3 driver
scorings prove the driver compares rendered values ('2024-01-01' is
identical whether pandas holds datetime64[ns], datetime64[us] or a
datetime.date object), and 30+ driver-green queries emit them.

These tests pin the class shut: a new query that would fail the
driver's hash for representational (non-logic) reasons fails pytest
first.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

import __spark_entry__ as entry_mod

_BANNED_NESTED = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
_BANNED_NUMERIC = (T.DecimalType, T.FloatType)


def _schemas(spark, sf_dir):
    out = {}
    for name, fn in entry_mod.queries().items():
        out[name] = fn(spark, sf_dir).schema
    return out


def test_no_nonscalar_or_hash_divergent_output_columns(spark, sf_dir):
    offenders = []
    for name, schema in _schemas(spark, sf_dir).items():
        for f in schema.fields:
            if isinstance(f.dataType, _BANNED_NESTED):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()} (non-scalar)")
            elif isinstance(f.dataType, _BANNED_NUMERIC):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()} (cast to DOUBLE/BIGINT)")
    assert not offenders, "hash-unsafe output columns:\n" + "\n".join(offenders)


def test_oracle_numeric_families_match_spark_schema(spark, sf_dir):
    """The driver renders values before hashing, so an int64 Spark
    column against a float64 DuckDB column fails on every row ('8' vs
    '8.0') — the class behind ALL of r3's hash-reds (DuckDB returns
    HUGEINT sums, floor(), ceil() and integer division as float64
    unless the oracle CASTs).  Executes every oracle at sf0.001 (cheap)
    and pins each numeric column's family to the Spark schema's."""
    import duckdb
    import numpy as np
    from pyspark.sql import types as T

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        p = f"{sf_dir}/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    int_spark = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType)
    offenders = []
    schemas = _schemas(spark, sf_dir)
    for name, sql in entry_mod.oracle_sql().items():
        pdf = con.execute(sql).df()
        spark_types = {f.name: f.dataType for f in schemas[name].fields}
        for col in pdf.columns:
            st = spark_types.get(col)
            if st is None:
                continue  # column-name mismatches are caught by check.py
            dd = pdf[col].dtype
            duck_int = np.issubdtype(dd, np.integer) or dd == bool
            duck_float = np.issubdtype(dd, np.floating)
            # nullable-int columns come back float64 from pandas on BOTH
            # engines when nulls are present — only flag the asymmetric
            # no-null case the driver actually fails on
            has_null = bool(pdf[col].isna().any())
            if isinstance(st, int_spark) and duck_float and not has_null:
                offenders.append(f"{name}.{col}: spark {st.simpleString()} vs duck {dd} — CAST the oracle column to BIGINT")
            elif isinstance(st, T.DoubleType) and duck_int:
                offenders.append(f"{name}.{col}: spark double vs duck {dd} — CAST one side")
    assert not offenders, "int/float family mismatches:\n" + "\n".join(offenders)


def test_every_query_has_oracle(spark):
    """Every queries() entry carries an oracle_sql() twin (full-strength
    value check with the driver), and no oracle is orphaned."""
    qs = set(entry_mod.queries())
    oracles = set(entry_mod.oracle_sql())
    assert oracles == qs, (
        f"oracle/query mismatch: no-oracle={sorted(qs - oracles)} "
        f"orphaned={sorted(oracles - qs)}"
    )


def test_portable_geo_distance_accuracy_and_cross_engine_parity(spark):
    """GeoDistance evaluates trig as fixed Horner polynomials so results
    are bit-identical across engines (JVM vs libm sin/cos/asin differ by
    1-2 ulp on ~24% of inputs — measured r4, geo_distance red at sf0.1).
    Pins (a) accuracy: within 1e-6 km (1 mm) of the math-library
    haversine over a world grid, and (b) parity: DuckDB evaluating
    geo_distance_sql reproduces Spark's doubles bit-for-bit."""
    import math

    import duckdb
    from pyspark.sql import functions as F

    from ksql_linq_spark import functions as KF

    pts = [
        (i, -89.5 + 179 * ((i * 37) % 100) / 99.0, -179.5 + 359 * ((i * 61) % 100) / 99.0)
        for i in range(400)
    ]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = {
        r["id"]: r["d"]
        for r in df.select(
            "id", KF.GeoDistance("lat", "lon", F.lit(51.5), F.lit(-0.1)).alias("d")
        ).collect()
    }

    def ref(lat, lon):
        la1, lo1, la2, lo2 = map(math.radians, (lat, lon, 51.5, -0.1))
        h = (
            math.sin((la2 - la1) / 2) ** 2
            + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2
        )
        return 2 * 6371.0 * math.asin(math.sqrt(min(1.0, h)))

    for i, lat, lon in pts:
        assert abs(got[i] - ref(lat, lon)) < 1e-6, (i, lat, lon, got[i], ref(lat, lon))

    con = duckdb.connect()
    # register the points BINARY (pandas), not as text literals:
    # DuckDB's string->DOUBLE parse is off by 1 ulp for some literals
    # (e.g. '9.944444444444443'), while parquet/pandas ingestion is
    # bit-exact — the production oracle path is always binary
    import pandas as pd

    con.register("pts", pd.DataFrame(pts, columns=["id", "lat", "lon"]))
    sql = KF.geo_distance_sql("lat", "lon", "51.5", "-0.1", id_expr="id", from_clause="pts")
    duck = {int(i): d for i, d in con.execute(sql).fetchall()}
    for i, _, _ in pts:
        assert duck[i] == got[i], (i, duck[i].hex(), got[i].hex())

    # the staged (scale-path) form must be bit-identical to the scalar
    # Column form — same polynomials, same IEEE op order, only the plan
    # shape differs (named projections instead of one inlined tree)
    staged = {
        r["id"]: r["d"]
        for r in KF.geo_distance_staged(df, "lat", "lon", 51.5, -0.1, dist_col="d")
        .select("id", "d")
        .collect()
    }
    for i, _, _ in pts:
        assert staged[i] == got[i], (i, staged[i].hex(), got[i].hex())


def test_geo_distance_staged_plan_is_linear(spark):
    """The staged haversine must not be re-inlined by CollapseProject:
    the optimized plan's total expression-tree size stays small (linear
    in polynomial degree), vs ~100k+ nodes for the single-Column form —
    the r4 21x bench regression this guards against."""
    from pyspark.sql import functions as F

    from ksql_linq_spark import functions as KF

    df = spark.createDataFrame(
        [(1, 10.0, 20.0)], "id long, lat double, lon double"
    )
    staged = KF.geo_distance_staged(df, "lat", "lon", 51.5, -0.1, dist_col="d").select(
        "id", "d"
    )
    plan_text = staged._jdf.queryExecution().optimizedPlan().toString()
    # staged: each Horner written once over an attribute ref -> a few KB.
    # the inlined Column form renders to tens of MB (multiplicative
    # subtree duplication) — this is the regression tripwire.
    assert len(plan_text) < 200_000, len(plan_text)


def test_operators_doc_fresh_and_links_valid():
    """OPERATORS.md is the user-facing operator index: it must (a) be
    regeneratable byte-identical from the current registration (stale
    docs fail), and (b) reference only implementation functions that
    actually exist in the package."""
    import importlib
    import os
    import re
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import operators_doc

    generated = operators_doc.generate()
    with open(
        os.path.join(os.path.dirname(__file__), "..", "OPERATORS.md")
    ) as f:
        committed = f.read()
    assert generated == committed, (
        "OPERATORS.md is stale — regenerate with `python tools/operators_doc.py`"
    )

    refs = set(
        re.findall(
            r"`(operators|streaming|functions|runtime|sources)[/.]([\w.]+)`",
            committed,
        )
    )
    assert refs, "no implementation references found"
    for pkg, rest in refs:
        if pkg in ("functions", "runtime", "sources"):
            mod_name, func = f"ksql_linq_spark.{pkg}", rest
        else:
            mod, func = rest.split(".", 1)
            mod_name = f"ksql_linq_spark.{pkg}.{mod}"
        m = importlib.import_module(mod_name)
        assert hasattr(m, func), f"{mod_name}.{func} referenced in OPERATORS.md but missing"


def test_every_operator_definition_is_referenced():
    """Dead-code guard: every top-level ``def``/``class`` in
    ``ksql_linq_spark/operators/*.py`` must be referenced by name
    somewhere in ``ksql_linq_spark/``, ``tests/`` or ``tools/`` other
    than its own ``def`` line.  An operator nothing calls, tests or
    documents is deleted, not kept."""
    import ast
    import re
    from collections import Counter
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    words = Counter(
        w
        for d in ("ksql_linq_spark", "tests", "tools")
        for p in (root / d).rglob("*.py")
        for w in re.findall(r"\w+", p.read_text())
    )
    unreferenced = []
    for path in sorted((root / "ksql_linq_spark" / "operators").glob("*.py")):
        text = path.read_text()
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            own = re.findall(r"\w+", lines[node.lineno - 1]).count(node.name)
            if words[node.name] <= own:
                unreferenced.append(f"operators/{path.name}:{node.lineno} {node.name}")
    assert not unreferenced, "unreferenced operator definitions:\n" + "\n".join(
        unreferenced
    )


def test_no_bool_option_left_at_its_default():
    """Option guard: a module-level function in ``ksql_linq_spark/``
    may not keep a ``bool``- or ``None``-defaulted parameter that no
    call site sets to anything but its default — such an option only
    keeps an untested branch alive; fix the value and delete the branch
    instead.  Nor may it keep a parameter its body never reads: callers
    set it for nothing.

    Call sites are searched in ``ksql_linq_spark/``, ``tests/``,
    ``tools/``, ``perfbench/`` and ``bench.py`` and matched by function
    name (``f(...)`` or ``<anything>.f(...)``).  An argument bound to
    the parameter counts as setting it unless it is the literal
    default; a ``**kwargs`` call counts as passing every parameter, a
    ``*args`` call every positional parameter from its position on."""
    import ast
    from collections import defaultdict
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    files = [root / "bench.py"] + [
        p
        for d in ("ksql_linq_spark", "tests", "tools", "perfbench")
        for p in sorted((root / d).rglob("*.py"))
    ]
    trees = {p: ast.parse(p.read_text()) for p in files}
    calls = defaultdict(list)
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    calls[name].append(node)

    def sets(call, idx, pname, default) -> bool:
        def non_default(v):
            return not (isinstance(v, ast.Constant) and v.value is default)

        for kw in call.keywords:
            if kw.arg is None or (kw.arg == pname and non_default(kw.value)):
                return True
        if idx is None:
            return False
        if any(isinstance(a, ast.Starred) for a in call.args[: idx + 1]):
            return True
        return idx < len(call.args) and non_default(call.args[idx])

    never_set = []
    pkg = root / "ksql_linq_spark"
    for path, tree in trees.items():
        if pkg not in path.parents:
            continue
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            positional = a.posonlyargs + a.args
            read = {
                n.id
                for stmt in fn.body
                for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            for param in positional + a.kwonlyargs + [a.vararg, a.kwarg]:
                if param is not None and param.arg not in read:
                    rel = path.relative_to(root)
                    never_set.append(f"{rel}:{fn.lineno} {fn.name}({param.arg}) never read")
            pairs = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
            pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for param, d in pairs:
                if not (
                    isinstance(d, ast.Constant)
                    and (d.value is None or isinstance(d.value, bool))
                ):
                    continue
                idx = positional.index(param) if param in positional else None
                if not any(
                    sets(c, idx, param.arg, d.value) for c in calls[fn.name]
                ):
                    rel = path.relative_to(root)
                    never_set.append(f"{rel}:{fn.lineno} {fn.name}({param.arg}={d.value})")
    assert not never_set, (
        "bool/None parameters no call site sets off their default — make "
        "the value a constant and delete the branch; parameters the body "
        "never reads — delete them:\n" + "\n".join(never_set)
    )


def test_localcheckpoint_only_inside_session_cut():
    """Lineage-cut guard: ``session.cut`` is the package's one lineage
    cut, so ``localCheckpoint`` may appear in ``ksql_linq_spark/``
    nowhere but in its body — a hand-rolled cut elsewhere retells the
    cost story in its own comment and escapes the per-site table in
    SCALING.md."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    session_py = root / "ksql_linq_spark" / "session.py"
    (cut_def,) = [
        n for n in ast.parse(session_py.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "cut"
    ]
    allowed = {(session_py, ln) for ln in range(cut_def.lineno, cut_def.end_lineno + 1)}
    hits = [
        f"{p.relative_to(root)}:{i}"
        for p in sorted((root / "ksql_linq_spark").rglob("*"))
        if p.is_file() and p.suffix in (".py", ".md")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "localCheckpoint" in line and (p, i) not in allowed
    ]
    assert not hits, "localCheckpoint outside session.cut:\n" + "\n".join(hits)


def test_no_unused_import():
    """Dead-import guard: every name an ``import`` in ``ksql_linq_spark/``
    binds must be used in its module.  Exempt: ``__init__`` re-exports,
    ``if TYPE_CHECKING:`` blocks, and an import marked ``noqa: F401``
    (the capability probe in ``stateful.tws_available``, imported only
    to see whether it can be)."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    unused = []
    for path in sorted((root / "ksql_linq_spark").rglob("*.py")):
        if path.name == "__init__.py":
            continue
        text = path.read_text()
        lines = text.splitlines()
        tree = ast.parse(text)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        exempt = {
            id(m)
            for n in ast.walk(tree)
            if isinstance(n, ast.If) and "TYPE_CHECKING" in ast.unparse(n.test)
            for m in ast.walk(n)
        }
        for n in ast.walk(tree):
            if (
                not isinstance(n, (ast.Import, ast.ImportFrom))
                or id(n) in exempt
                or getattr(n, "module", None) == "__future__"
                or "noqa: F401" in lines[n.lineno - 1]
            ):
                continue
            for a in n.names:
                name = (a.asname or a.name).split(".")[0]
                if name not in used:
                    unused.append(f"{path.relative_to(root)}:{n.lineno} {name}")
    assert not unused, "unused imports:\n" + "\n".join(unused)
