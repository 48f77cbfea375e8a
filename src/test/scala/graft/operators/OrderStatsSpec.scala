package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}

import graft.SparkSpec

/** The two order-statistics kernels against a naive top rule, and the
  * plan budgets of the entry points built on them. */
class OrderStatsSpec extends SparkSpec {

  /** Spark jobs started while `run` executes, including the eager range
    * probe a bucketed quantile runs while its plan is built. */
  private def jobsOf(run: => Unit): Int = {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      run
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    started.get()
  }

  /** Naive top rule per group: walk the distinct values downward (NULL
    * last); the first whose cumulative count reaches ⌈n·q⌉ is the
    * largest eligible one. */
  private def naive[K](rows: Seq[(K, Option[Long])], q: Double)
      : Map[K, Option[Long]] =
    rows.groupBy(_._1).map { case (k, rs) =>
      val need = math.ceil(rs.size * q).toLong
      val desc = rs.groupBy(_._2).toSeq.map { case (v, c) => v -> c.size }
        .sortBy { case (v, _) => v.map(-_).getOrElse(Long.MaxValue) }
      var cum = 0L
      k -> desc.find { case (_, c) => cum += c; cum >= need }.get._1
    }

  private def rows: Seq[((String, Long), Option[Long])] =
    (0 until 600).map { i =>
      val v = if (i % 17 == 0) None else Some((i * 7919L) % 53)
      ((s"a${i % 2}", (i % 3).toLong), v)
    }

  test("upperTail follows the top rule per (group, q), NULLs counted last") {
    import spark.implicits._
    val df = rows.map { case ((a, b), v) => (a, b, v) }.toDF("a", "b", "v")
    val qs = Seq(0.1, 0.5, 0.9, 1.0)
    val got = OrderStats.upperTail(OrderStats.counts(df, Seq("a", "b"), "v"),
        Seq("a", "b"), "v", "cnt", qs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)) ->
        (r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long])))
      .toMap
    val expected = qs.flatMap(q => naive(rows, q).map { case ((a, b), t) =>
      (a, b, q) -> (rows.count(_._1 == ((a, b))).toLong, t) }).toMap
    assert(got == expected)
  }

  test("upperTailBucketed equals upperTail bit for bit, NULLs included") {
    import spark.implicits._
    val df = rows.map { case ((a, b), v) => (s"$a$b", v.map(_ / 3.0)) }
      .toDF("k", "x")
    val qs = Seq(0.05, 0.5, 0.95)
    def canon(t: DataFrame) = t.collect().map(_.toSeq).toSet
    val exact = canon(OrderStats.upperTail(OrderStats.counts(df, Seq("k"),
      "x"), Seq("k"), "x", "cnt", qs))
    // few buckets: every boundary slice holds many distinct values
    for (b <- Seq(1, 4, 4096))
      assert(canon(OrderStats.upperTailBucketed(df, Seq("k"), "x", qs,
        numBuckets = b)) == exact, s"numBuckets=$b")
  }

  test("bucketed entry points keep one range probe and one bucket pass") {
    import spark.implicits._
    val df = (0 until 3000).map(i =>
      (s"k${i % 3}", ((i * 2654435761L) % 99991).toDouble / 13.0))
      .toDF("key", "score")
    df.collect()
    // job counts measured before the kernels were shared; a second range
    // probe or bucket pass adds jobs
    assert(jobsOf(Stats.medianMad(df, "key", "score").collect()) == 28)
    assert(jobsOf(Curation.winsorizeContinuous(df, "key", "score", 0.1)
      .collect()) == 16)
    assert(jobsOf(Curation.trimmedMean(df, "key", "score", 0.1)
      .collect()) == 17)
    assert(jobsOf(Curation.quantileThresholdsContinuousMulti(df, "key",
      "score", Seq(0.5, 0.25, 0.1)).collect()) == 14)
  }

  test("discrete winsorize plans ONE value-ordered window for both tails") {
    import spark.implicits._
    val df = (1L to 20L).map(v => ("a", v)).toDF("k", "v")
    val plan = Curation.winsorize(df, "k", "v", 0.1)
      .queryExecution.optimizedPlan
    val valueWindows = plan.collect { case w: LWindow => w }
      .filter(_.orderSpec.exists(_.child.references.exists(_.name == "v")))
    assert(valueWindows.size == 1, plan.treeString)
  }

  test("weightedQuantileThresholds refuses a non-integer weight") {
    import spark.implicits._
    val df = Seq(("g", 1L, 0.5), ("g", 2L, 1.5)).toDF("k", "score", "w")
    intercept[IllegalArgumentException](
      Curation.weightedQuantileThresholds(df, "k", "score", "w", 0.5))
  }

  test("quantileThresholds drops NULL-key rows, as a keyed inner join") {
    import spark.implicits._
    val df = Seq((Option("a"), 1L), (None, 2L), (Option("a"), 3L))
      .toDF("k", "v")
    assert(Curation.quantileThresholds(df, "k", "v", 0.5).collect().toSeq ==
      Seq(Row("a", 2L, 3L)))
  }
}
