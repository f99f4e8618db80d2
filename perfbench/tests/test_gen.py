import numpy as np
import pytest

from perfbench import gen


def test_generators_repeat_for_a_seed():
    assert np.array_equal(gen.wsi_values(7, rows=50), gen.wsi_values(7, rows=50))
    assert np.array_equal(gen.script_values(7, lines=50), gen.script_values(7, lines=50))
    assert np.array_equal(gen.permutation(7, "lineitem", 100),
                          gen.permutation(7, "lineitem", 100))
    text = gen.as_text_lines(gen.script_values(7, lines=3))
    assert text == gen.as_text_lines(gen.script_values(7, lines=3))
    assert text.count("\n") == 3 and all(ln.count(",") == 6 for ln in text.splitlines())


def test_seeds_and_tables_draw_different_inputs():
    assert not np.array_equal(gen.wsi_values(1, rows=50), gen.wsi_values(2, rows=50))
    assert not np.array_equal(gen.wsi_values(1, rows=50)[:, :7],
                              gen.script_values(1, lines=50))
    assert not np.array_equal(gen.permutation(1, "orders", 100),
                              gen.permutation(1, "lineitem", 100))
    assert sorted(gen.permutation(1, "orders", 100)) == list(range(100))


def test_reference_mean_tripwire():
    assert gen.reference_mean(9, 3) == 3          # exact: tripwire term is 0
    assert gen.reference_mean(3, 2) == 1 - 100    # inexact: it fires
    assert gen.java_int(2**31) == -2**31           # Java (int) narrowing
    with pytest.raises(ValueError):
        gen.reference_mean(-1, 2)


def test_expected_means_agree_with_integer_mean_expr(spark):
    from pyspark.sql import functions as F

    from mapreduce_wsi_spark.functions import integer_mean_expr

    values = np.array([[1, 4, 0], [2, 4, 999], [4, 4, 998], [6, 4, 0]])
    expected = gen.expected_means(values)
    assert expected[1] == 4                        # exact division
    assert expected[0] == 3 - 1 * 100              # 13 // 4, 13 % 4 == 1
    pairs = [(i, int(v)) for row in values.tolist() for i, v in enumerate(row)]
    df = spark.createDataFrame(pairs, "idx int, v long")
    got = {r["idx"]: r["mean"] for r in
           df.groupBy("idx").agg(integer_mean_expr(F.col("v")).alias("mean")).collect()}
    assert got == expected

    seeded = gen.wsi_values(3, rows=40)
    df = spark.createDataFrame(
        [(i, int(v)) for row in seeded.tolist() for i, v in enumerate(row)],
        "idx int, v long")
    got = {r["idx"]: r["mean"] for r in
           df.groupBy("idx").agg(integer_mean_expr("v").alias("mean")).collect()}
    assert got == gen.expected_means(seeded)
