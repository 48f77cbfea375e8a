package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group order statistics from two shared kernels — the ordered-set
  * aggregates of Kohn, Leis and Neumann (SIGMOD 2021) built from a few
  * low-level operators instead of one bespoke pipeline per entry point.
  * Every quantile entry point ([[Curation.quantileThresholds]] and its
  * continuous, weighted and two-tail siblings, [[Stats.medianMad]],
  * [[Stats.qqTable]], [[Stats.rollingQuantile]]) is a thin wrapper over
  * [[upperTail]] or [[upperTailBucketed]].
  *
  * THE TOP RULE, written once ([[top]]): per group and quantile q the
  * threshold is the LARGEST value v with mass(x ≥ v) ≥ ⌈q·n⌉, n the
  * group's total mass. It is an actual data value, never interpolated,
  * so every result is exact and engine-neutral. NULL values count toward
  * n and sort below every real value (descending order puts NULLs
  * last): a group whose quota is reachable only through its NULLs gets a
  * NULL threshold instead of vanishing. Output of both kernels:
  * (keys…, q, n, threshold). */
object OrderStats {

  /** Equi-width buckets of the bucketed kernel's value range. */
  val DefaultBuckets = 4096

  /** (keys…, value, cnt): the pre-aggregated table [[upperTail]] takes
    * when every row has mass 1. Small by construction for a discrete
    * value (the per-group distinct-value table). */
  private[operators] def counts(df: DataFrame, keys: Seq[String],
      value: String): DataFrame =
    df.groupBy((keys :+ value).map(col): _*).agg(count(lit(1)).as("cnt"))

  /** Upper-tail thresholds over a PRE-AGGREGATED (keys…, value, mass)
    * table (one row per group and value). One descending window carries
    * both the cumulative mass `cum_ge` and, as a second frame of the same
    * window, the group total `n` — totals come from this table, never
    * from a second scan of its input. The qs fan out on the windowed
    * table, so k quantiles cost one sort. */
  def upperTail(tbl: DataFrame, keys: Seq[String], value: String,
      mass: String, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    val w = descending(keys, value)
    val cum = tbl
      .withColumn("cum_ge", sum(col(mass)).over(w))
      .withColumn("n", sum(col(mass)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    top(quota(cum, qs), keys :+ "q" :+ "n", value)
  }

  /** Upper-tail thresholds over RAW rows of a continuous value, where the
    * (keys, value) table of [[upperTail]] would be corpus-sized and its
    * per-group window would sort whole strata through #keys tasks. Three
    * steps; the corpus is touched by streaming aggregations only:
    *  1. value range → `numBuckets` equi-width buckets: one min/max probe,
    *     or none when the caller passes `rangeHint`;
    *  2. (keys, bucket) counts — bounded by keys × buckets, independent
    *     of corpus size — locate each (group, q)'s BOUNDARY bucket by the
    *     top rule over buckets, and the mass that lies above it;
    *  3. the top rule once more over the DISTINCT VALUES of the boundary
    *     bucket only (~1/numBuckets of a stratum), with the quota reduced
    *     by the mass above.
    * Exact for any distribution: eligibility (mass(x ≥ v) ≥ quota) is
    * monotone downward in v, no row above the boundary bucket is eligible
    * and the boundary bucket's minimum is, so the answer lies in that
    * bucket. NULL values land in bucket −1, below every real bucket, so
    * they count toward n exactly as in [[upperTail]]; a NULL-key group,
    * which [[upperTail]] keeps, drops out in the keyed joins.
    *
    * `rangeHint`: [lo, hi] bounds that COVER every non-null value. They
    * need not be tight: a loose hint only coarsens the boundary slice by
    * the slack factor (the [[Stats.medianMad]] case, whose deviations are
    * bounded by [0, max − min] in closed form). */
  def upperTailBucketed(df: DataFrame, keys: Seq[String], value: String,
      qs: Seq[Double], numBuckets: Int = DefaultBuckets,
      rangeHint: Option[(Double, Double)] = None): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    val (lo, hi) = rangeHint.getOrElse {
      val range = df.agg(min(col(value)).cast("double"),
        max(col(value)).cast("double")).head()
      if (range.isNullAt(0)) (0.0, 0.0)
      else (range.getDouble(0), range.getDouble(1))
    }
    val width = math.max((hi - lo) / numBuckets, java.lang.Double.MIN_VALUE)
    val bucketed = df.select(keys.map(col) :+ col(value) :+
      when(col(value).isNull, lit(-1L))
        .otherwise(least(floor((col(value) - lit(lo)) / lit(width)),
          lit(numBuckets - 1L)).cast("long")).as("bkt"): _*)
    val bktCounts = counts(bucketed, keys, "bkt")
    // totals fold the keys×buckets table (every row lands in exactly one
    // bucket, NULLs included via bkt −1): one corpus aggregation, and the
    // duplicated counts exchange is reused
    val totals = bktCounts.groupBy(keys.map(col): _*)
      .agg(sum(col("cnt")).as("n"))
    val cum = bktCounts
      .withColumn("cum_ge", sum(col("cnt")).over(descending(keys, "bkt")))
      .join(totals, keys)
    // boundary bucket per (group, q); the quota left inside it is the
    // need minus the mass strictly above it (cum_ge − cnt there)
    val boundary = top(quota(cum, qs), keys ++ Seq("q", "n", "need"), "bkt")
      .withColumnRenamed("threshold", "bkt")
      .join(cum.select((keys ++ Seq("bkt", "cnt", "cum_ge")).map(col): _*),
        keys :+ "bkt")
      .select((keys ++ Seq("q", "bkt", "n")).map(col) :+
        (col("need") - (col("cum_ge") - col("cnt"))).as("need"): _*)
    val slice = bucketed.join(broadcast(boundary), keys :+ "bkt")
    val inBucket = slice
      .groupBy((keys ++ Seq("q", value, "n", "need")).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum_ge",
        sum(col("cnt")).over(descending(keys :+ "q", value)))
    top(inBucket, keys :+ "q" :+ "n", value)
  }

  /** Descending by `value` within `group`, cumulative from the top. */
  private def descending(group: Seq[String], value: String) =
    Window.partitionBy(group.map(col): _*).orderBy(col(value).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** One row per requested q, with its quota `need` = ⌈n·q⌉. A single q
    * stays a literal: an explode of one literal plans two more Spark
    * jobs across medianMad's two passes (30 vs 28, OrderStatsSpec). */
  private def quota(cum: DataFrame, qs: Seq[Double]): DataFrame =
    cum.withColumn("q",
        if (qs.size == 1) lit(qs.head) else explode(array(qs.map(lit): _*)))
      .withColumn("need", ceil(col("n") * col("q")).cast("long"))

  /** The top rule: per group, the largest value whose cumulative mass
    * `cum_ge` reaches `need`. */
  private def top(cum: DataFrame, group: Seq[String],
      value: String): DataFrame =
    cum.filter(col("cum_ge") >= col("need"))
      .groupBy(group.map(col): _*)
      .agg(max(col(value)).as("threshold"))

  /** Both tails of a symmetric trim from ONE multi-q pass:
    * (key, n, lo, hi), `hi` the upper-tail threshold at `tail` and `lo`
    * the same rule at 1 − tail. Discrete (value-count table) when
    * `numBuckets` is None, bucketed otherwise. */
  private[operators] def twoTail(df: DataFrame, key: String, value: String,
      tail: Double, numBuckets: Option[Int]): DataFrame = {
    require(tail > 0 && tail < 0.5, s"tail $tail must be in (0, 0.5)")
    val qs = Seq(tail, 1.0 - tail)
    val vals = df.select(col(key), col(value))
    val th = numBuckets match {
      case Some(b) => upperTailBucketed(vals, Seq(key), value, qs, b)
      case None => upperTail(counts(vals, Seq(key), value), Seq(key),
        value, "cnt", qs)
    }
    def at(q: Double): Column = max(when(col("q") === q, col("threshold")))
    th.groupBy(col(key))
      .agg(max(col("n")).as("n"), at(1.0 - tail).as("lo"), at(tail).as("hi"))
  }
}
