"""Z-order layout key: interleave correctness + locality."""

from pyspark.sql import functions as F

from ferenda_spark.operators.layout import py_zorder2, zorder_key2


def test_py_twins_hand_traced():
    # x=3 (0b11) on even bits -> 0b0101 = 5; y=5 (0b101) on odd bits
    # -> 0b100010 = 34; z = 39
    assert py_zorder2(3, 5) == 39
    assert py_zorder2(0, 0) == 0
    # clamps are monotone: negative -> 0, over-range -> max
    assert py_zorder2(-7, 1) == py_zorder2(0, 1)
    assert py_zorder2(1 << 40, 0) == py_zorder2((1 << 31) - 1, 0)


def test_column_matches_twin(spark):
    vals = [0, 1, 2, 3, 5, 17, 255, 1 << 20, (1 << 31) - 1, -4]
    df = spark.createDataFrame(
        [(x, y) for x in vals for y in vals], "x long, y long")
    rows = df.select("x", "y",
                     zorder_key2(F.col("x"), F.col("y")).alias("z")
                     ).collect()
    for r in rows:
        assert r["z"] == py_zorder2(r["x"], r["y"]), (r["x"], r["y"])
        assert r["z"] >= 0
    # pure codegen: the key is never a Python UDF
    plan = (df.select(zorder_key2(F.col("x"), F.col("y")))
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_cluster_locality(spark):
    # a 64x64 grid: range-partitioned on the z-order key into 16
    # partitions, each partition's span on EACH dimension is far below
    # the global 64 (a single-column sort would give span 64 on the
    # other column)
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"))
    parts = (grid.withColumn("z", zorder_key2(F.col("x"), F.col("y")))
             .repartitionByRange(16, "z")
             .withColumn("p", F.spark_partition_id())
             .groupBy("p")
             .agg((F.max("x") - F.min("x")).alias("sx"),
                  (F.max("y") - F.min("y")).alias("sy"))
             .collect())
    assert len(parts) == 16
    avg_sx = sum(r["sx"] for r in parts) / len(parts)
    avg_sy = sum(r["sy"] for r in parts) / len(parts)
    assert avg_sx <= 24 and avg_sy <= 24, (avg_sx, avg_sy)
