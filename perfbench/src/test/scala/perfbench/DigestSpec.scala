package perfbench

import org.apache.spark.sql.functions._

class DigestSpec extends SparkSuite {
  test("the digest ignores row order and partitioning, not content") {
    import spark.implicits._
    val df = (0 until 500).map(i => (i.toLong, i * 0.1, s"s$i", Map(i.toLong -> i * 2.0))).toDF("a", "b", "c", "m")
    val d = Digest.of(df)
    assert(Digest.of(df.repartition(7).orderBy(col("a").desc)) == d)
    assert(Digest.of(df.select("m", "c", "b", "a")) == d)
    assert(Digest.of(df.withColumn("b", col("b") + 1e-9)) == d, "doubles are rounded before hashing")
    assert(Digest.of(df.filter(col("a") =!= 3)) != d)
    assert(Digest.of(df.withColumn("b", when(col("a") === 3, 0.5).otherwise(col("b")))) != d)
    val many = Digest.many(Seq("x" -> df, "y" -> df.limit(3)))
    assert(many("x") == d && many("y") != d)
  }

  test("the same seed produces identical digests of the generated Parquet tree") {
    val spec = MimicSpec(subjects = 20, visitsMin = 1, visitsMax = 3, chartPerStay = 20, items = 30,
      outPerStay = 2, procPerStay = 2, medPerStay = 2, diagPerStay = 3, phenotypes = 2)
    def digests(seed: Long) = {
      val dir = tempDir("tree")
      MimicGen.write(spec, seed, dir, Some(spark))
      MimicGen.tables(spec, seed).map { t =>
        t.rel -> Digest.of(spark.read.parquet(s"$dir/${t.rel.stripSuffix(".csv.gz")}.parquet"))
      }.toMap
    }
    val a = digests(5)
    assert(a == digests(5))
    assert(a("icu/chartevents.csv.gz") != digests(6)("icu/chartevents.csv.gz"))
  }
}
