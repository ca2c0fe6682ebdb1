"""Operator tests: split determinism and the background-sample contract."""

from pyspark.sql import functions as F


class TestSplits:
    def test_stratified_ratios(self, spark):
        from georip_spark.operators.splits import stratified_split

        df = spark.range(1000).select(
            F.col("id"), (F.col("id") % 3).cast("string").alias("cls")
        )
        out = stratified_split(df, "cls", "id", 0.7, 0.15)
        counts = {
            (r["cls"], r["type"]): r["n"]
            for r in out.groupBy("cls", "type").agg(F.count("*").alias("n")).collect()
        }
        for c in ("0", "1", "2"):
            total = sum(v for (cc, _), v in counts.items() if cc == c)
            assert abs(counts[(c, "train")] / total - 0.7) < 0.02
            assert abs(counts[(c, "val")] / total - 0.15) < 0.02

    def test_deterministic_across_partitionings(self, spark):
        from georip_spark.operators.splits import stratified_split

        df = spark.range(300).select(F.col("id"), F.lit("x").alias("cls"))
        a = {r["id"]: r["type"] for r in stratified_split(df, "cls", "id").collect()}
        b = {
            r["id"]: r["type"]
            for r in stratified_split(df.repartition(7), "cls", "id").collect()
        }
        assert a == b

    def test_background_sample_contract(self, spark):
        from georip_spark.operators.splits import background_sample

        df = spark.range(100).select(
            F.col("id"), (F.col("id") < 80).alias("is_bg")
        )
        out = background_sample(df, F.col("is_bg"), "id", ratio=2.0)
        # truth=20, bg sampled = min(80, 2*20)=40 → 60 rows
        assert out.count() == 60
