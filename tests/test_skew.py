"""Per-cell aggregate on skewed input (result identical to plain groupBy)."""

from pyspark.sql import functions as F

from sparkh3.operators import skew


def test_salted_count_matches_plain(spark):
    # heavy skew: 90% of rows on one key
    df = spark.range(0, 5000).withColumn(
        "cell",
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("c"), (F.col("id") % 50).cast("string"))
        ),
    ).withColumn("v", F.col("id") % 7)
    got = skew.salted_cell_count(df, "cell", value_col="v")
    plain = df.groupBy("cell").agg(
        F.count("*").alias("n"), F.sum("v").alias("sum_v")
    )
    j = got.join(plain.withColumnRenamed("n", "n2").withColumnRenamed("sum_v", "s2"), "cell", "full")
    bad = j.filter(
        (F.col("n") != F.col("n2")) | (F.col("sum_v") != F.col("s2"))
    ).count()
    assert bad == 0
    assert got.count() == plain.count()

