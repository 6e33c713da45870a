"""Driver-side bucket routing (lake/table.py:key_buckets) against Spark.

Point lookups and scan planning hash literal keys on the driver instead of
running a Spark job. A bucket id that differs from `bucket_expr` silently
drops rows, so the copy is held to Spark's own evaluation on generated keys:
every UTF-8 tail length, multi-byte and 4-byte characters, NUL, integer
extremes, null components, 1-3 key columns and several bucket counts.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from kf_etl_clin_portal_spark.lake.table import bucket_expr, key_buckets

NUM_BUCKETS = (1, 2, 7, 16, 64)

_TEXT = st.text(
    alphabet=st.one_of(
        st.sampled_from(["a", "\x00", "é", "中", "😀"]),  # 1-, 2-, 3-, 4-byte UTF-8
        st.characters(exclude_categories=("Cs",)),
    ),
    max_size=9,  # 0-9 bytes and beyond: every tail length (len % 4)
)
_VALUES = {
    "string": (T.StringType(), _TEXT),
    "byte": (T.ByteType(), st.integers(-(2**7), 2**7 - 1)),
    "short": (T.ShortType(), st.integers(-(2**15), 2**15 - 1)),
    "int": (T.IntegerType(), st.integers(-(2**31), 2**31 - 1)),
    "long": (T.LongType(), st.integers(-(2**63), 2**63 - 1)),
}


def _spark_buckets(spark, key_types, rows):
    """Per row, `bucket_expr` for every NUM_BUCKETS as Spark evaluates it."""
    cols = [f"k{i}" for i in range(len(key_types))]
    schema = T.StructType([T.StructField(c, t) for c, t in zip(cols, key_types)])
    df = spark.createDataFrame(rows, schema=schema)
    return df.select(
        *cols, *[bucket_expr(cols, n).alias(f"b{n}") for n in NUM_BUCKETS]
    ).collect()


def _assert_matches(spark, key_types, rows):
    for r in _spark_buckets(spark, key_types, rows):
        key = tuple(r[: len(key_types)])
        for n in NUM_BUCKETS:
            assert key_buckets(key_types, [key], n) == [r[f"b{n}"]], (key, n)


@st.composite
def _case(draw):
    kinds = draw(st.lists(st.sampled_from(sorted(_VALUES)), min_size=1, max_size=3))
    row = st.tuples(*[st.none() | _VALUES[k][1] for k in kinds])
    return [_VALUES[k][0] for k in kinds], draw(st.lists(row, min_size=1, max_size=20))


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_case())
def test_key_buckets_equal_spark_bucket_expr(spark, case):
    key_types, rows = case
    _assert_matches(spark, key_types, rows)


def test_key_buckets_edge_values(spark):
    strings = ["x" * n for n in range(10)] + [
        "é", "中", "😀", "\x00", "a\x00b", "ÿÿÿ", "😀😀a", "中文字", "\x00" * 5,
    ]
    _assert_matches(spark, [T.StringType()], [(s,) for s in strings] + [(None,)])
    ints = [0, 1, -1, 2**31 - 1, -(2**31), 2**31 - 2, -(2**31) + 1, None]
    _assert_matches(spark, [T.IntegerType()], [(v,) for v in ints])
    longs = [0, -1, 2**31, -(2**31) - 1, 2**32, 2**63 - 1, -(2**63), None]
    _assert_matches(spark, [T.LongType()], [(v,) for v in longs])
    # null components skipped anywhere in a multi-column key
    mixed = [T.StringType(), T.IntegerType(), T.LongType()]
    _assert_matches(
        spark, mixed,
        [("r", 1, 2), (None, 1, 2), ("r", None, 2), ("r", 1, None), (None, None, None)],
    )


def test_key_buckets_unported_or_mismatched_route_everywhere():
    # unported key types: every bucket (None), whatever the values
    assert key_buckets([T.DoubleType()], [(1.5,)], 16) is None
    assert key_buckets([T.StringType(), T.DateType()], [("r", None)], 16) is None
    # a value that does not fit its column's type exactly
    assert key_buckets([T.LongType()], [(5.0,)], 16) is None
    assert key_buckets([T.StringType()], [(5,)], 16) is None
    assert key_buckets([T.IntegerType()], [("5",)], 16) is None
    assert key_buckets([T.IntegerType()], [(True,)], 16) is None
    assert key_buckets([T.IntegerType()], [(2**31,)], 16) is None
    # ... even when the other keys route fine
    assert key_buckets([T.IntegerType()], [(1,), (2**40,)], 16) is None
    # typed by the column, not by the Python value: hashInt vs hashLong
    assert key_buckets([T.IntegerType()], [(7,)], 1024) != key_buckets(
        [T.LongType()], [(7,)], 1024
    )
