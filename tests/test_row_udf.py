"""operators/row_udf.py is the one place a per-row kernel meets Arrow.

Every pandas UDF in scrubah_pii_spark/ is built by row_udf, except the batch
kernels listed in BATCH_KERNELS (an AST scan, like test_engine_surface.py).
The adapter's dtype rule holds: integer and long columns are nullable, so a
None in a batch never turns an int64 into a float64, and an empty batch
converts to Arrow for struct and scalar return types."""

import ast
import pathlib

import pandas as pd
from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from scrubah_pii_spark.operators.row_udf import row_udf

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "scrubah_pii_spark"
HELPER = pathlib.Path("operators/row_udf.py")

# pandas UDFs over a whole batch, not one row: (module, def)
BATCH_KERNELS = {(pathlib.Path("operators/scrub_op.py"), "fnv1a64_udf")}


def _owner(defs, node):
    """The def a pandas_udf reference builds: the def it decorates, or else
    the innermost def it sits in ("<module>" at top level)."""
    for d in defs:
        if any(node in ast.walk(dec) for dec in d.decorator_list):
            return d.name
    inside = [d for d in defs if d.lineno <= node.lineno <= d.end_lineno]
    return max(inside, key=lambda d: d.lineno).name if inside else "<module>"


def pandas_udf_sites(pkg=PKG):
    """'module:line def' of each pandas_udf reference outside row_udf and
    BATCH_KERNELS."""
    out = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg)
        if rel == HELPER:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        defs = [n for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for node in ast.walk(tree):
            named = (isinstance(node, ast.Attribute) and node.attr == "pandas_udf") \
                or (isinstance(node, ast.Name) and node.id == "pandas_udf") \
                or (isinstance(node, ast.alias) and node.name == "pandas_udf")
            if not named:
                continue
            owner = _owner(defs, node)
            if (rel, owner) not in BATCH_KERNELS:
                out.append(f"{rel}:{node.lineno} {owner}")
    return out


def test_every_pandas_udf_is_built_by_row_udf():
    sites = pandas_udf_sites()
    assert sites == [], (
        f"{len(sites)} pandas UDFs built outside operators/row_udf.py "
        "(decorate the per-row function with @row_udf(type)):\n"
        + "\n".join(sites))


MIXED_TYPE = StructType([
    StructField("big", LongType()),
    StructField("small", IntegerType()),
    StructField("ratio", DoubleType()),
])
# odd and above 2^53: no float64 holds it
BIG = 2**53 + 1


@row_udf(MIXED_TYPE)
def _mixed(i):
    if i % 2:
        return None, None, None
    return BIG + 2 * i, int(i), i / 4


def test_nullable_ints_round_trip_exactly(spark):
    batch = _mixed.func(pd.Series(range(4)))
    assert [str(t) for t in batch.dtypes] == ["Int64", "Int32", "float64"]
    # 8 rows on one partition: one Arrow batch that holds Nones
    rows = (spark.range(8, numPartitions=1)
            .select("id", _mixed("id").alias("m")).collect())
    got = {r.id: (r.m.big, r.m.small, r.m.ratio) for r in rows}
    assert got == {
        i: (None, None, None) if i % 2 else (BIG + 2 * i, i, i / 4)
        for i in range(8)
    }


def _to_arrow(frame, data_type):
    """The conversion a Python worker applies to a scalar pandas UDF's
    result."""
    ser = ArrowStreamPandasUDFSerializer(
        timezone="UTC", safecheck=True, assign_cols_by_name=True, arrow_cast=True)
    return ser._create_batch([(frame, to_arrow_type(data_type), data_type)])


def test_empty_batch_converts_for_struct_and_scalar_types():
    struct_type = StructType([
        StructField("text", StringType()),
        StructField("replacements", MapType(StringType(), StringType())),
        StructField("count", IntegerType()),
        StructField("score", DoubleType()),
    ])

    @row_udf(struct_type)
    def per_row_struct(text):
        return text, {}, 0, 0.0

    @row_udf(StringType())
    def per_row_string(text):
        return text

    empty = pd.Series([], dtype=object)
    frame = per_row_struct.func(empty)
    assert list(frame.columns) == struct_type.fieldNames()
    assert len(frame) == 0
    arrow = _to_arrow(frame, struct_type)
    assert arrow.num_rows == 0
    assert arrow.schema.field(0).type == to_arrow_type(struct_type)

    series = per_row_string.func(empty)
    assert len(series) == 0
    assert _to_arrow(series, StringType()).num_rows == 0


if __name__ == "__main__":
    print("\n".join(pandas_udf_sites()))
