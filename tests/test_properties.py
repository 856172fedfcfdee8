"""Property-based tests (hypothesis): the determinism contract and the
quality ladder hold for arbitrary inputs, not just the shipped fixtures."""

import duckdb
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from etl_entregas_pyspark_spark.operators import quality
from etl_entregas_pyspark_spark.queries.relational import dsum, rnd

finite_doubles = st.floats(
    min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
)


@settings(max_examples=5, deadline=None)
@given(st.lists(finite_doubles, min_size=1, max_size=300))
def test_rnd_and_dsum_match_duckdb(spark_prop, values):
    df = spark_prop.createDataFrame([(v,) for v in values], ["x"]).repartition(4)
    got_sum = df.agg(dsum(F.col("x"), 4).alias("s")).collect()[0].s
    got_rnd = sorted(r.r for r in df.select(rnd(F.col("x"), 2).alias("r")).collect())
    # feed DuckDB through a TABLE, not literals: its constant folding of
    # literal arithmetic uses extended precision (900719925.9999999 *
    # 10000.0 folds to ...60000.0 instead of the IEEE ...59999.998), while
    # its runtime vectorized arithmetic is IEEE — and the real oracles only
    # ever do column arithmetic over parquet
    con = duckdb.connect()
    con.sql("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    want_sum = con.sql(
        "SELECT CAST(SUM(CAST(FLOOR(x * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 FROM t"
    ).fetchone()[0]
    want_rnd = sorted(r[0] for r in con.sql("SELECT FLOOR(x * 100.0 + 0.5) / 100.0 FROM t").fetchall())
    assert got_sum == want_sum  # bitwise, any partitioning
    assert got_rnd == want_rnd  # bitwise, per value


country_codes = st.sampled_from(["GT", "SV", "HN", "EC", "PE", "JM", "XX", "us"])
delivery_types = st.sampled_from(["ZPRE", "ZVE1", "Z04", "Z05", "COBR", "", None])
materials = st.sampled_from(["MAT1", "MAT2", "", "   ", None])

entregas_rows = st.lists(
    st.tuples(
        country_codes,
        st.sampled_from(["20250101", "20250315", "20250630"]),
        st.just("67000001"),
        st.sampled_from(["919885", "100200"]),
        delivery_types,
        materials,
        st.sampled_from(["1.50", "0E-18", "10.00"]),
        st.sampled_from(["1.00", "2.50"]),
        st.sampled_from(["CS", "ST"]),
    ),
    min_size=1,
    max_size=60,
)

COLUMNS = ["pais", "fecha_proceso", "transporte", "ruta", "tipo_entrega",
           "material", "precio", "cantidad", "unidad"]

# explicit schema: inference raises CANNOT_DETERMINE_TYPE when hypothesis
# generates an input whose `material` column is entirely None
_ENTREGAS_SCHEMA = StructType(
    [StructField(c, StringType(), nullable=True) for c in COLUMNS]
)

CONFIG = {
    "data_quality": {
        "remove_null_material": True,
        "remove_duplicates": True,
        "validate_country_codes": True,
        "valid_countries": ["GT", "SV", "HN", "EC", "PE", "JM"],
    },
    "business_rules": {
        "delivery_types": {"routine": ["ZPRE", "ZVE1"], "bonus": ["Z04", "Z05"]},
    },
}


# With max_examples=5 a draw may miss the widened values, so explicit rows
# always exercise them: a NULL delivery type with a valid material is
# removed by P2 (isin() is NULL, and the sequential filter drops the row),
# and a lowercase "cobr" is not a valid type.
_NULL_TYPE_ROW = ("GT", "20250101", "67000001", "919885", None, "MAT1", "1.50", "1.00", "CS")
_VALID_ROW = ("gt", "20250630", "67000001", "100200", "ZPRE", "MAT2", "0E-18", "1.00", "ST")
_LOWER_COBR_ROW = ("Pe", "20250101", "67000001", "919885", "cobr", "MAT1", "1.50", "1.00", "CS")


@settings(max_examples=5, deadline=None)
@given(entregas_rows)
@example([_NULL_TYPE_ROW, _VALID_ROW])
def test_single_pass_metrics_equal_sequential_counts(spark_prop, rows):
    """metrics_frame (one aggregation) must equal the reference's
    rule-by-rule sequential counting for ANY input."""
    df = spark_prop.createDataFrame(rows, _ENTREGAS_SCHEMA)
    got = quality.quality_metrics(df, CONFIG)

    # sequential reference semantics, rule by rule
    step1 = df.filter(~(F.col("material").isNull() | (F.trim("material") == "")))
    step2 = step1.filter(F.col("tipo_entrega").isin(["ZPRE", "ZVE1", "Z04", "Z05"]))
    step3 = step2.dropDuplicates()
    step4 = step3.filter(F.upper(F.col("pais")).isin(CONFIG["data_quality"]["valid_countries"]))
    n0, n1, n2, n3, n4 = df.count(), step1.count(), step2.count(), step3.count(), step4.count()

    assert got == {
        "input_rows": n0,
        "null_material_removed": n0 - n1,
        "invalid_type_removed": n1 - n2,
        "duplicates_removed": n2 - n3,
        "final_rows": n4,
    }


# Lowercase valid countries pass P4 after upper(); duplicating a slice of
# the rows guarantees duplicates among P1/P2 survivors and among removed
# rows alike.
observed_rows = st.lists(
    st.tuples(
        st.sampled_from(["GT", "gt", "Pe", "XX", "us"]),
        st.sampled_from(["20250101", "20250630"]),
        st.just("67000001"),
        st.sampled_from(["919885", "100200"]),
        st.sampled_from(["ZPRE", "Z04", "COBR", "cobr", None]),
        st.sampled_from(["MAT1", "MAT2", "", "   ", None]),
        st.sampled_from(["1.50", "0E-18"]),
        st.just("1.00"),
        st.sampled_from(["CS", "ST"]),
    ),
    min_size=1,
    max_size=40,
).map(lambda rows: rows + rows[::3])


@settings(max_examples=5, deadline=None)
@given(observed_rows)
@example([_NULL_TYPE_ROW, _VALID_ROW, _LOWER_COBR_ROW, _NULL_TYPE_ROW])
def test_observed_ladder_equals_one_pass_metrics(spark_prop, rows):
    """The ladder observed on the pipeline's action (quality.observe_quality)
    equals the one-aggregation metrics for ANY input."""
    df = spark_prop.createDataFrame(rows, _ENTREGAS_SCHEMA).repartition(3)
    cleaned, ladder = quality.observe_quality(df, CONFIG)
    cleaned.write.format("noop").mode("overwrite").save()
    assert dict(ladder) == quality.quality_metrics(df, CONFIG)


@pytest.fixture(scope="module")
def spark_prop(spark):
    return spark


# float32-representable values spanning the ±4σ clamp boundary of the
# shared int8 quantizer (similarity._Q8_SCALE): the SQ8 surfaces
# (q68/q232/q236) depend on Spark and DuckDB producing IDENTICAL codes
f32 = st.floats(
    min_value=-100.0, max_value=100.0,
    allow_nan=False, allow_infinity=False, width=32,
)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.lists(f32, min_size=1, max_size=64), min_size=1, max_size=16))
def test_q8_codes_match_duckdb(spark_prop, vectors):
    from pyspark.sql.types import ArrayType, FloatType, IntegerType

    from etl_entregas_pyspark_spark.queries.similarity import _q8_sql, q8_codes

    schema = StructType([
        StructField("i", IntegerType()),
        StructField("v", ArrayType(FloatType())),
    ])
    df = spark_prop.createDataFrame(list(enumerate(vectors)), schema)
    got = {
        r.i: list(r.q8)
        for r in df.select("i", q8_codes(F.col("v")).alias("q8")).collect()
    }
    con = duckdb.connect()
    con.sql("CREATE TABLE t(i INT, v FLOAT[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(vectors)))
    want = {
        r[0]: list(r[1])
        for r in con.sql(f"SELECT i, {_q8_sql('v')} FROM t").fetchall()
    }
    assert got == want  # bitwise code equality, every vector, every dim
    for codes in got.values():
        assert all(-127 <= c <= 127 for c in codes)
