package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows = {
    import spark.implicits._
    Seq((1L, "a", 1.5), (2L, "b", -0.25), (3L, null, 7.0), (3L, null, 7.0))
      .toDF("id", "s", "x")
  }

  test("the digest ignores row order, partitioning and column order") {
    val base = Digest.of(rows)
    assert(base._1 == 4L)
    assert(Digest.of(rows.orderBy(col("id").desc).repartition(3)) == base)
    assert(Digest.of(rows.select("x", "s", "id")) == base)
  }

  test("the digest sees a changed cell, a lost duplicate and a null") {
    val base = Digest.of(rows)
    assert(Digest.of(rows.withColumn("x",
      when(col("id") === 2L, lit(-0.5)).otherwise(col("x")))) != base)
    assert(Digest.of(rows.distinct()) != base)
    assert(Digest.of(rows.na.fill("")) != base)
  }

  test("timestamps with and without a zone digest alike") {
    val ts = rows.withColumn("t", to_timestamp(lit("2024-01-03 04:05:06")))
    assert(Digest.of(ts) ==
      Digest.of(ts.withColumn("t", col("t").cast("timestamp_ntz"))))
  }

  test("every generated slice reads back through TsvSource unchanged") {
    val here = if (new File("gen.py").exists()) new File(".")
      else new File("perfbench")
    val work = new File(here, "target/digest-spec-work").getAbsoluteFile
    work.mkdirs()
    val py = "import sys; sys.path.insert(0, sys.argv[1]); import gen; " +
      "gen.plan(sys.argv[2], 3, 'sync_daily')"
    val rc = new ProcessBuilder("python3", "-c", py,
      here.getAbsolutePath, work.getPath).inheritIO().start().waitFor()
    assert(rc == 0, "input generator failed")
    val plan = Run.json.readTree(new File(work, "plan.json"))
    Run.schemaOf(plan).foreach { t =>
      val (got, want) = Digest.extractSlices(spark, work.getPath, t)
      assert(got.nonEmpty && got == want, s"${t.tableName}")
    }
  }
}
