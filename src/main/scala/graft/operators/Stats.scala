package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Statistical aggregate surface: variance/stddev/correlation/covariance
  * and percentiles. Spark's built-in `var_samp`/`corr` use streaming
  * (Welford-style) accumulation whose float rounding depends on partition
  * order — fine in production, but the correctness gate needs bit-exact
  * agreement with the single-threaded oracle. So the moments are assembled
  * from exact decimal power sums (order-independent), with the final
  * arithmetic in identically-shaped double expressions on both engines.
  */
object Stats {

  /** Exact decimal sum of x (2-dp money values): lossless at (18,4). */
  private def s1(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  /** Order-independent sum of x·y: the per-row product is IEEE double
    * (bit-identical on any engine), rounded once to 8 decimal places by
    * the decimal cast (unambiguous — true products have ≤4 decimals), then
    * summed exactly. Decimal×decimal would be cleaner but overflows
    * DuckDB's int64-backed DECIMAL(18) physical type and triggers Spark's
    * precision-loss scale reduction at (38,_) — double-then-decimal avoids
    * both engines' corner cases. */
  private def s2(x: Column, y: Column): Column =
    sum((x * y).cast(DecimalType(30, 8))).cast(DoubleType)

  // ---------------------------------------------------------------------
  // q44_stats_moments — per-priority variance, stddev, covariance and
  // correlation of order totals vs customer-key (an arbitrary but
  // deterministic second variable), from exact power sums.
  // ---------------------------------------------------------------------
  def q44StatsMoments(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice").as("x"),
        col("o_custkey").cast("double").as("y"))
    val g = o.groupBy(col("o_orderpriority")).agg(
      count(lit(1)).cast("double").as("n"),
      s1(col("x")).as("sx"), s1(col("y")).as("sy"),
      s2(col("x"), col("x")).as("sxx"),
      s2(col("y"), col("y")).as("syy"),
      s2(col("x"), col("y")).as("sxy"))
    // final rounding: the power sums are bit-identical, but the combining
    // arithmetic can differ by 1 ulp across engines (FMA contraction);
    // rounding far above ulp and far below data resolution removes it
    g.select(
      col("o_orderpriority"),
      col("n").cast("long").as("n_orders"),
      round((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1),
        2).as("var_x"),
      round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
        (col("n") - 1)), 4).as("stddev_x"),
      round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1),
        2).as("covar_xy"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
         sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 8)
        .as("corr_xy"))
  }

  val q44StatsMomentsSql: String =
    """WITH g AS (
      |  SELECT o_orderpriority,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(CAST(o_custkey AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(CAST(o_custkey AS DOUBLE) * CAST(o_custkey AS DOUBLE)
      |               AS DECIMAL(30,8))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(o_totalprice * CAST(o_custkey AS DOUBLE)
      |               AS DECIMAL(30,8))) AS DOUBLE) AS sxy
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority,
      |  CAST(n AS BIGINT) AS n_orders,
      |  ROUND((sxx - sx * sx / n) / (n - 1), 2) AS var_x,
      |  ROUND(sqrt((sxx - sx * sx / n) / (n - 1)), 4) AS stddev_x,
      |  ROUND((sxy - sx * sy / n) / (n - 1), 2) AS covar_xy,
      |  ROUND((n * sxy - sx * sy) /
      |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 8) AS corr_xy
      |FROM g""".stripMargin

  // ---------------------------------------------------------------------
  // q45_percentile — exact interpolated percentiles (Spark `percentile` ==
  // DuckDB `quantile_cont` up to final-ulp interpolation; rounded to 3dp,
  // far above the ~1e-10 drift, far below the data's spacing).
  // ---------------------------------------------------------------------
  def q45Percentile(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.groupBy(col("o_orderpriority")).agg(
      round(expr("percentile(o_totalprice, 0.5)"), 3).as("median"),
      round(expr("percentile(o_totalprice, 0.9)"), 3).as("p90"),
      round(expr("percentile(o_totalprice, 0.99)"), 3).as("p99"))
  }

  val q45PercentileSql: String =
    """SELECT o_orderpriority,
      |  ROUND(quantile_cont(o_totalprice, 0.5), 3) AS median,
      |  ROUND(quantile_cont(o_totalprice, 0.9), 3) AS p90,
      |  ROUND(quantile_cont(o_totalprice, 0.99), 3) AS p99
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // q54_approx_distinct — HLL++ approximate distinct (the built-in sketch;
  // no custom implementation needed per SURVEY §2B). Deterministic for a
  // given input but engine-specific → rows-only driver check; the spec
  // asserts the ≤5% relative-error contract vs exact counts.
  // ---------------------------------------------------------------------
  def q54ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    // tolerance-verdict output (fully oracle-checkable): the raw sketch
    // value is engine-specific, but "the sketch lands within its ≤5%
    // relative-error contract of the exact count" is a boolean DuckDB can
    // assert as TRUE — so the gate hash-checks the exact count AND that
    // the HLL++ estimate holds its contract, instead of a rows-only pass
    li.groupBy(col("l_returnflag")).agg(
      countDistinct(col("l_partkey")).as("exact_parts"),
      (abs(approx_count_distinct(col("l_partkey")) -
          countDistinct(col("l_partkey"))).cast("double") /
        countDistinct(col("l_partkey")) <= 0.05).as("within_5pct"))
  }

  val q54ApproxDistinctSql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS within_5pct
      |FROM lineitem GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q76_quantile_gate — approximate-percentile sketch with a tolerance
  // verdict (the q54 pattern for the quantile-sketch family): the exact
  // per-group upper median comes from the relational order statistic
  // (Curation.quantileThresholds — distinct-value counts, never a corpus
  // sort), the approximate one from percentile_approx (Spark's
  // KLL-style mergeable sketch), and the gate hash-checks the exact value
  // PLUS the boolean "the sketch lands within 5% of exact". The oracle
  // computes the exact statistic with the same rule and asserts TRUE — so
  // the sketch's error contract is driver-checked, not just spec-tested.
  // exact_median is an actual data value (no arithmetic), so double
  // equality across engines is safe.
  // ---------------------------------------------------------------------
  def q76QuantileGate(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val thr = graft.operators.Curation
      .quantileThresholds(o, "o_orderpriority", "o_totalprice", 0.5)
      .select(col("o_orderpriority"), col("n"), col("threshold"))
    val approx = o.groupBy(col("o_orderpriority"))
      .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(10000))
        .as("apx"))
    thr.join(approx, "o_orderpriority")
      .select(col("o_orderpriority"), col("n").as("n_orders"),
        col("threshold").as("exact_median"),
        (abs(col("apx") - col("threshold")) / col("threshold") <= 0.05)
          .as("within_5pct"))
  }

  val q76QuantileGateSql: String =
    """WITH c AS (SELECT o_orderpriority, o_totalprice, COUNT(*) AS cnt
      |           FROM orders GROUP BY 1, 2),
      |tot AS (SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1),
      |cum AS (SELECT o_orderpriority, o_totalprice,
      |          SUM(cnt) OVER (PARTITION BY o_orderpriority
      |            ORDER BY o_totalprice DESC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS cum_ge
      |        FROM c),
      |thr AS (SELECT cum.o_orderpriority, MAX(tot.n) AS n,
      |          MAX(o_totalprice) AS threshold
      |        FROM cum JOIN tot USING (o_orderpriority)
      |        WHERE cum_ge >= CAST(CEIL(tot.n * 0.5) AS BIGINT)
      |        GROUP BY 1)
      |SELECT o_orderpriority, n AS n_orders, threshold AS exact_median,
      |  TRUE AS within_5pct
      |FROM thr""".stripMargin

  // ---------------------------------------------------------------------
  // q56_weighted_mean — the typed Aggregator (UDAF) surface: exact
  // weighted mean of extended price by quantity per return flag, planned
  // by Catalyst as a regular partial+final typed aggregate.
  // ---------------------------------------------------------------------
  def q56WeightedMean(s: SparkSession, dir: String): DataFrame = {
    val wm = udaf(graft.functions.TypedAggregators.WeightedMean)
    val li = t(s, dir, "lineitem")
    // round(…, 6): DuckDB's wide-decimal→double cast is double-rounded
    // (int128→double, then ×10⁻ˢ) and can sit 1 ulp off the correctly
    // rounded value the JVM produces; 6 dp is far above that drift
    li.groupBy(col("l_returnflag")).agg(
      round(wm(col("l_extendedprice"), col("l_quantity")), 6).as("w_mean"),
      count(lit(1)).as("n_rows"))
  }

  val q56WeightedMeanSql: String =
    """SELECT l_returnflag,
      |  ROUND(CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,8))) AS DOUBLE)
      |    / CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE), 6) AS w_mean,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // q97_profile — per-column data profiling (the data-quality surface a
  // catalog crawler maintains next to the schema): one row per column
  // with null count, distinct count, and min/max, computed in a SINGLE
  // pass over the table (one aggregate, then explode to rows — the table
  // is never re-scanned per column). min/max run on the NATIVE type and
  // cast to string only in the output (string-min of longs would order
  // "10" < "9").
  //
  // `exactDistinct = false` (production default) uses the HLL++ sketch —
  // exact multi-column COUNT(DISTINCT) plans an Expand that multiplies
  // the scan by the column count, the one shape that does not survive a
  // 100× scale-up. The gate runs exact (DuckDB-checkable); the sketch
  // variant is the same plan minus the Expand.
  // ---------------------------------------------------------------------
  def profile(df: DataFrame, cols: Seq[String],
      exactDistinct: Boolean = false): DataFrame = {
    val aggs =
      cols.flatMap { c =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
          (if (exactDistinct) countDistinct(col(c))
           else approx_count_distinct(col(c))).as(s"__nd_$c"),
          min(col(c)).cast("string").as(s"__mn_$c"),
          max(col(c)).cast("string").as(s"__mx_$c"))
      } :+ count(lit(1)).as("__n")
    val agged = df.agg(aggs.head, aggs.tail: _*)
    val metrics = cols.map { c =>
      struct(lit(c).as("col_name"),
        col(s"__nn_$c").as("n_null"), col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_val"), col(s"__mx_$c").as("max_val"))
    }
    agged
      .select(col("__n").as("n_rows"), explode(array(metrics: _*)).as("m"))
      .select(col("m.col_name").as("col_name"), col("n_rows"),
        col("m.n_null").as("n_null"), col("m.n_distinct").as("n_distinct"),
        col("m.min_val").as("min_val"), col("m.max_val").as("max_val"))
  }

  /** Gate: profile orders with planted nulls on o_custkey (every 9th). */
  def q97Profile(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(
      col("o_orderkey"),
      when(col("o_orderkey") % 9 =!= 0, col("o_custkey")).as("o_custkey"),
      col("o_orderstatus"), col("o_orderpriority"))
    profile(o,
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
      exactDistinct = true)
  }

  val q97ProfileSql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_null,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_val,
         |  CAST(MAX($c) AS VARCHAR) AS max_val
         |FROM t""".stripMargin
    """WITH t AS (SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 9 <> 0 THEN o_custkey END AS o_custkey,
      |  o_orderstatus, o_orderpriority FROM orders)
      |""".stripMargin +
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(one).mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------------
  // Incrementally-maintained profile — q97's profile kept fresh per sync
  // batch through the Rollup partial store instead of re-scanning the
  // table: null counts and min/max are algebraic (insert-only batches,
  // the sync layer's immutable-file contract), and distinct is carried
  // as a mergeable HLL sketch (the union of per-batch sketches IS the
  // sketch of the union, so the estimate never depends on how the data
  // arrived in batches). Per batch this costs O(|batch|) + a one-row
  // merge — the profile of a 100 TB table stays current for the price
  // of each day's delta.
  // ---------------------------------------------------------------------
  /** The Rollup spec that carries a table's profile: per-column min/max,
    * null counts, and HLL distinct sketches in one global partial row.
    * Public so the warehouse maintenance loop can feed the same store
    * ([[graft.Warehouse]]). */
  def profileSpec(cols: Seq[String]): graft.pipeline.Rollup.Spec =
    profileSpec(cols, Nil)

  /** Profile spec with equi-width HISTOGRAM partials alongside — the
    * per-sync-maintained evidence [[graft.catalog.CatalogStats]]
    * converts into the CBO's equi-height histograms, so selectivity on
    * skewed columns stops being uniform-NDV guesswork. */
  def profileSpec(cols: Seq[String],
      hists: Seq[graft.pipeline.Rollup.Hist])
      : graft.pipeline.Rollup.Spec =
    graft.pipeline.Rollup.Spec(
      groupCols = Nil, minCols = cols, maxCols = cols,
      nullCountCols = cols, distinctSketchCols = cols, histCols = hists)

  def initProfileStore(spark: SparkSession, storeDir: String,
      df: DataFrame, cols: Seq[String], batchId: String,
      hists: Seq[graft.pipeline.Rollup.Hist] = Nil): Unit =
    graft.pipeline.Rollup.init(spark, storeDir, df,
      profileSpec(cols, hists), batchId)

  def mergeProfileStore(spark: SparkSession, storeDir: String,
      batch: DataFrame, cols: Seq[String], batchId: String,
      hists: Seq[graft.pipeline.Rollup.Hist] = Nil): Boolean =
    graft.pipeline.Rollup.merge(spark, storeDir, batch,
      profileSpec(cols, hists), batchId)

  /** The store's one partial row, reshaped to [[profile]]'s per-column
    * rows. `n_distinct` is the HLL estimate (the production default of
    * [[profile]] too — exact distinct is not mergeable). */
  def readProfileStore(spark: SparkSession, storeDir: String,
      cols: Seq[String]): DataFrame = {
    val r = graft.pipeline.Rollup.read(spark, storeDir, profileSpec(cols))
    val metrics = cols.map { c =>
      struct(lit(c).as("col_name"),
        col(s"nulls_$c").as("n_null"), col(s"nd_$c").as("n_distinct"),
        col(s"min_$c").cast("string").as("min_val"),
        col(s"max_$c").cast("string").as("max_val"))
    }
    r.select(col("n").as("n_rows"), explode(array(metrics: _*)).as("m"))
      .select(col("m.col_name").as("col_name"), col("n_rows"),
        col("m.n_null").as("n_null"), col("m.n_distinct").as("n_distinct"),
        col("m.min_val").as("min_val"), col("m.max_val").as("max_val"))
  }

  // ---------------------------------------------------------------------
  // q97b_profile_incremental — DERIVED ORACLE for the incremental
  // profile: the q97 table is fed through the store in three batches
  // (init + two merges) plus a replay of the middle batch (must no-op),
  // then read back. n_rows / n_null / min / max are exact and must match
  // DuckDB's from-scratch profile; the HLL distinct estimate is checked
  // Spark-side against the exact count with a ≤5% tolerance VERDICT
  // column (the q76 sketch-gate pattern) — DuckDB asserts TRUE.
  // ---------------------------------------------------------------------
  private lazy val profileGateBase: String =
    java.nio.file.Files.createTempDirectory("graft_prof_").toString

  def q97bProfileIncremental(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(
      col("o_orderkey"),
      when(col("o_orderkey") % 9 =!= 0, col("o_custkey")).as("o_custkey"),
      col("o_orderstatus"), col("o_orderpriority"))
    val cols =
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val store = s"$profileGateBase/ps_${dir.hashCode.toHexString}"
    if (!new java.io.File(s"$store.complete").exists()) {
      initProfileStore(s, store, o.filter(col("o_orderkey") % 3 === 0),
        cols, "b0")
      mergeProfileStore(s, store, o.filter(col("o_orderkey") % 3 === 1),
        cols, "b1")
      mergeProfileStore(s, store, o.filter(col("o_orderkey") % 3 === 1),
        cols, "b1") // at-least-once replay: must not double-count
      mergeProfileStore(s, store, o.filter(col("o_orderkey") % 3 === 2),
        cols, "b2")
      new java.io.File(s"$store.complete").createNewFile()
    }
    val exact = profile(o, cols, exactDistinct = true)
      .select(col("col_name"), col("n_distinct").as("nd_exact"))
    readProfileStore(s, store, cols)
      .join(broadcast(exact), "col_name")
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("min_val"), col("max_val"),
        (abs(col("n_distinct") - col("nd_exact")) <=
          col("nd_exact") * 0.05).as("nd_ok"))
  }

  val q97bProfileIncrementalSql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_null,
         |  CAST(MIN($c) AS VARCHAR) AS min_val,
         |  CAST(MAX($c) AS VARCHAR) AS max_val,
         |  TRUE AS nd_ok
         |FROM t""".stripMargin
    """WITH t AS (SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 9 <> 0 THEN o_custkey END AS o_custkey,
      |  o_orderstatus, o_orderpriority FROM orders)
      |""".stripMargin +
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(one).mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------------
  // q127_zscore_outliers — per-group z-score anomaly flagging: the
  // monitoring primitive behind "this partition's values drifted".
  // Group moments come from the exact decimal power sums above (order-
  // independent), the per-row z from identically-shaped double
  // expressions; the z output rounds to 6 dp (the q44 convention: far
  // above any 1-ulp cross-engine FMA difference, far below data
  // resolution). Scale: the |groups|-row stats table broadcasts back to
  // a map-only flag pass — the corpus never shuffles.
  // ---------------------------------------------------------------------
  def zscoreOutliers(df: DataFrame, group: String, value: String,
      id: String, threshold: Double): DataFrame = {
    val stats = df.groupBy(col(group)).agg(
      count(lit(1)).cast("double").as("n"),
      s1(col(value)).as("sx"),
      s2(col(value), col(value)).as("sxx"))
      .select(col(group), col("n"),
        (col("sx") / col("n")).as("mean"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
          / (col("n") - 1)).as("std"))
      // zero-variance (or singleton) groups have no outliers by
      // definition — and ANSI mode would throw on the division
      .filter(col("std") > 0.0)
    df.join(broadcast(stats), group)
      .withColumn("z", (col(value) - col("mean")) / col("std"))
      .filter(abs(col("z")) > threshold)
      .select(col(group), col(id), round(col("z"), 6).as("z"))
  }

  def q127ZscoreOutliers(s: SparkSession, dir: String): DataFrame =
    zscoreOutliers(t(s, dir, "events"), "event_type", "value",
      "event_id", threshold = 3.0)

  val q127ZscoreOutliersSql: String =
    """WITH stats AS (
      |  SELECT event_type,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(value * value AS DECIMAL(30,8)))
      |      AS DOUBLE) AS sxx
      |  FROM events GROUP BY event_type),
      |m AS (
      |  SELECT event_type, sx / n AS mean,
      |    sqrt((sxx - sx * sx / n) / (n - 1)) AS std
      |  FROM stats
      |  WHERE sqrt((sxx - sx * sx / n) / (n - 1)) > 0.0)
      |SELECT e.event_type, e.event_id,
      |  ROUND((e.value - m.mean) / m.std, 6) AS z
      |FROM events e JOIN m USING (event_type)
      |WHERE ABS((e.value - m.mean) / m.std) > 3.0""".stripMargin

  // ---------------------------------------------------------------------
  // q134_group_ols — per-group ordinary least squares (slope/intercept of
  // y on x), the grouped trend-fit behind "is this supplier's price
  // drifting with quantity" panels. Closed form from the same exact
  // decimal power sums as q44/q127 (s1/s2 — order-independent by
  // construction), so the only doubles are the final slope/intercept
  // expressions, shaped identically in both engines and rounded to 6 dp.
  // Scale: one shuffle on the group key; the dimension join (supplier →
  // nation) is a broadcast; nothing is iterative — OLS per group is one
  // aggregate, not a solver.
  // ---------------------------------------------------------------------
  def groupOls(df: DataFrame, group: String, x: String, y: String): DataFrame = {
    val sums = df.groupBy(col(group)).agg(
      count(lit(1)).as("n_rows"),
      s1(col(x)).as("sx"), s1(col(y)).as("sy"),
      s2(col(x), col(x)).as("sxx"), s2(col(x), col(y)).as("sxy"))
    val n = col("n_rows").cast("double")
    val denom = n * col("sxx") - col("sx") * col("sx")
    sums.filter(denom =!= 0.0)
      .select(col(group), col("n_rows"),
        round(((n * col("sxy") - col("sx") * col("sy")) / denom), 6)
          .as("slope"),
        round(((col("sy") - ((n * col("sxy") - col("sx") * col("sy"))
          / denom) * col("sx")) / n), 6).as("intercept"))
  }

  /** Two-feature least squares per group — y = a + b·x + c·z fit by the
    * 3×3 normal equations solved in closed form (Cramer), the smallest
    * genuinely MULTIPLE regression: partial slopes b and c are each
    * adjusted for the other regressor, which q134's simple slope cannot
    * express (omitted-variable bias is exactly the difference). Built
    * from the same exact decimal power sums as q134/q150 — nine sums
    * per group (n, Σx, Σz, Σy, Σx², Σz², Σxz, Σxy, Σzy), so the corpus
    * contributes one map-side-combined aggregate and every determinant
    * is a FIXED double tree over identical sums in both engines.
    * Groups with a singular system (collinear x, z — D = 0) are
    * filtered: no fit is a verdict, not a division. */
  def groupOls2(df: DataFrame, group: String, x: String, z: String,
      y: String): DataFrame = {
    val sums = df.groupBy(col(group)).agg(
      count(lit(1)).as("n_rows"),
      s1(col(x)).as("sx"), s1(col(z)).as("sz"), s1(col(y)).as("sy"),
      s2(col(x), col(x)).as("sxx"), s2(col(z), col(z)).as("szz"),
      s2(col(x), col(z)).as("sxz"),
      s2(col(x), col(y)).as("sxy"), s2(col(z), col(y)).as("szy"),
      s2(col(y), col(y)).as("syy"))
    val n = col("n_rows").cast("double")
    val dets = sums
      .withColumn("d",
        n * (col("sxx") * col("szz") - col("sxz") * col("sxz"))
          - col("sx") * (col("sx") * col("szz") - col("sxz") * col("sz"))
          + col("sz") * (col("sx") * col("sxz") - col("sxx") * col("sz")))
      .withColumn("da",
        col("sy") * (col("sxx") * col("szz") - col("sxz") * col("sxz"))
          - col("sx") * (col("sxy") * col("szz") - col("sxz") * col("szy"))
          + col("sz") * (col("sxy") * col("sxz") - col("sxx") * col("szy")))
      .withColumn("db",
        n * (col("sxy") * col("szz") - col("sxz") * col("szy"))
          - col("sy") * (col("sx") * col("szz") - col("sxz") * col("sz"))
          + col("sz") * (col("sx") * col("szy") - col("sxy") * col("sz")))
      .withColumn("dc",
        n * (col("sxx") * col("szy") - col("sxy") * col("sxz"))
          - col("sx") * (col("sx") * col("szy") - col("sxy") * col("sz"))
          + col("sy") * (col("sx") * col("sxz") - col("sxx") * col("sz")))
    // fit quality from the same sums: SSres = Σy² − a·Σy − b·Σxy − c·Σzy
    // (the least-squares orthogonality identity), SStot = Σy² − (Σy)²/n;
    // zero y-variance → NULL R² (a verdict, not a 0/0)
    val ssRes = col("syy") - (col("da") / col("d")) * col("sy") -
      (col("db") / col("d")) * col("sxy") -
      (col("dc") / col("d")) * col("szy")
    val ssTot = col("syy") - col("sy") * col("sy") / n
    dets.filter(col("d") =!= 0.0)
      .select(col(group), col("n_rows"),
        round(col("da") / col("d"), 6).as("intercept"),
        round(col("db") / col("d"), 6).as("b_x"),
        round(col("dc") / col("d"), 6).as("c_z"),
        when(ssTot =!= 0.0, round(lit(1.0) - ssRes / ssTot, 6))
          .as("r2"))
  }

  def q244Ols2(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val joined = li.join(broadcast(sup),
        li("l_suppkey") === sup("s_suppkey"))
    groupOls2(joined, "s_nationkey", "l_quantity", "l_discount",
      "l_extendedprice")
  }

  val q244Ols2Sql: String =
    """WITH sums AS (
      |  SELECT s.s_nationkey,
      |    COUNT(*) AS n_rows,
      |    CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l.l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sz,
      |    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
      |      AS sy,
      |    CAST(SUM(CAST(l.l_quantity * l.l_quantity AS DECIMAL(30,8)))
      |      AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l.l_discount * l.l_discount AS DECIMAL(30,8)))
      |      AS DOUBLE) AS szz,
      |    CAST(SUM(CAST(l.l_quantity * l.l_discount AS DECIMAL(30,8)))
      |      AS DOUBLE) AS sxz,
      |    CAST(SUM(CAST(l.l_quantity * l.l_extendedprice
      |      AS DECIMAL(30,8))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l.l_discount * l.l_extendedprice
      |      AS DECIMAL(30,8))) AS DOUBLE) AS szy,
      |    CAST(SUM(CAST(l.l_extendedprice * l.l_extendedprice
      |      AS DECIMAL(30,8))) AS DOUBLE) AS syy
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY s.s_nationkey),
      |dets AS (
      |  SELECT s_nationkey, n_rows, sy, sxy, szy, syy,
      |    CAST(n_rows AS DOUBLE) * (sxx * szz - sxz * sxz)
      |      - sx * (sx * szz - sxz * sz)
      |      + sz * (sx * sxz - sxx * sz) AS d,
      |    sy * (sxx * szz - sxz * sxz)
      |      - sx * (sxy * szz - sxz * szy)
      |      + sz * (sxy * sxz - sxx * szy) AS da,
      |    CAST(n_rows AS DOUBLE) * (sxy * szz - sxz * szy)
      |      - sy * (sx * szz - sxz * sz)
      |      + sz * (sx * szy - sxy * sz) AS db,
      |    CAST(n_rows AS DOUBLE) * (sxx * szy - sxy * sxz)
      |      - sx * (sx * szy - sxy * sz)
      |      + sy * (sx * sxz - sxx * sz) AS dc
      |  FROM sums)
      |SELECT s_nationkey, n_rows,
      |  ROUND(da / d, 6) AS intercept,
      |  ROUND(db / d, 6) AS b_x,
      |  ROUND(dc / d, 6) AS c_z,
      |  CASE WHEN syy - sy * sy / CAST(n_rows AS DOUBLE) <> 0.0 THEN
      |    ROUND(1.0 - (syy - (da / d) * sy - (db / d) * sxy
      |        - (dc / d) * szy)
      |      / (syy - sy * sy / CAST(n_rows AS DOUBLE)), 6)
      |  END AS r2
      |FROM dets WHERE d <> 0.0""".stripMargin

  def q134GroupOls(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val joined = li.join(broadcast(sup),
        li("l_suppkey") === sup("s_suppkey"))
    groupOls(joined, "s_nationkey", "l_quantity", "l_extendedprice")
  }

  val q134GroupOlsSql: String =
    """WITH sums AS (
      |  SELECT s.s_nationkey,
      |    COUNT(*) AS n_rows,
      |    CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
      |      AS sy,
      |    CAST(SUM(CAST(l.l_quantity * l.l_quantity AS DECIMAL(30,8)))
      |      AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l.l_quantity * l.l_extendedprice
      |      AS DECIMAL(30,8))) AS DOUBLE) AS sxy
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY s.s_nationkey)
      |SELECT s_nationkey, n_rows,
      |  ROUND((CAST(n_rows AS DOUBLE) * sxy - sx * sy)
      |    / (CAST(n_rows AS DOUBLE) * sxx - sx * sx), 6) AS slope,
      |  ROUND((sy - ((CAST(n_rows AS DOUBLE) * sxy - sx * sy)
      |    / (CAST(n_rows AS DOUBLE) * sxx - sx * sx)) * sx)
      |    / CAST(n_rows AS DOUBLE), 6) AS intercept
      |FROM sums
      |WHERE CAST(n_rows AS DOUBLE) * sxx - sx * sx <> 0.0""".stripMargin

  // ---------------------------------------------------------------------
  // q135_chi2_cells — chi-square independence evidence for a contingency
  // table (order priority × order status): observed count, expected
  // count under independence, and the cell's (O−E)²/E contribution. The
  // drift/independence sibling of q116's PSI. Emitted PER CELL — the
  // global statistic is a float fold over cells, so the gate keeps the
  // exact integer evidence plus per-cell doubles from identical
  // expression shapes (rounded 6 dp) and leaves the final ≤|cells|-term
  // sum to the consumer, dodging cross-engine reduction-order drift
  // entirely. Scale: one shuffle on the cell key; marginals are
  // reaggregates of the |cells|-row table; N is a one-row broadcast.
  // ---------------------------------------------------------------------
  def chi2Cells(df: DataFrame, rowDim: String, colDim: String): DataFrame = {
    val cells = df.groupBy(col(rowDim), col(colDim))
      .agg(count(lit(1)).as("n"))
    val rowTot = cells.groupBy(col(rowDim)).agg(sum(col("n")).as("rt"))
    val colTot = cells.groupBy(col(colDim)).agg(sum(col("n")).as("ct"))
    val total = cells.agg(sum(col("n")).cast("double").as("tot"))
    val e = (col("rt").cast("double") * col("ct").cast("double")) /
      col("tot")
    cells.join(broadcast(rowTot), Seq(rowDim))
      .join(broadcast(colTot), Seq(colDim))
      .crossJoin(broadcast(total))
      .select(col(rowDim), col(colDim), col("n"),
        round(e, 6).as("expected"),
        round((col("n").cast("double") - e) * (col("n").cast("double") - e)
          / e, 6).as("contrib"))
  }

  def q135Chi2Cells(s: SparkSession, dir: String): DataFrame =
    chi2Cells(t(s, dir, "orders"), "o_orderpriority", "o_orderstatus")

  val q135Chi2CellsSql: String =
    """WITH cells AS (
      |  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |rt AS (SELECT o_orderpriority, SUM(n) AS rt FROM cells GROUP BY 1),
      |ct AS (SELECT o_orderstatus, SUM(n) AS ct FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM cells)
      |SELECT c.o_orderpriority, c.o_orderstatus, c.n,
      |  ROUND(CAST(r.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / t.tot, 6)
      |    AS expected,
      |  ROUND((CAST(c.n AS DOUBLE)
      |      - CAST(r.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / t.tot)
      |    * (CAST(c.n AS DOUBLE)
      |      - CAST(r.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / t.tot)
      |    / (CAST(r.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / t.tot), 6)
      |    AS contrib
      |FROM cells c
      |JOIN rt r USING (o_orderpriority)
      |JOIN ct USING (o_orderstatus)
      |CROSS JOIN tot t""".stripMargin

  // ---------------------------------------------------------------------
  // q136_cusum_changepoint — offline change-point detection per key over
  // an ordered integer series, in INTEGER-ONLY arithmetic: the classic
  // CUSUM deviation S_k = Σ_{i≤k}(v_i − mean) is scaled by n to
  // S*_k = n·prefix_k − k·total (all int64), so the argmax over k — the
  // most likely level-shift point (Page 1954, scaled) — involves no
  // float anywhere. The monitoring answer to "WHEN did this supplier's
  // daily volume shift", where q127 answers "which rows are anomalous".
  //
  // Scale shape: one shuffle on the key (the window sort); per-key state
  // is the running sum; the argmax is a bounded per-key window
  // (row_number over the series, filter rn=1), never a global sort.
  // Overflow bound: n·prefix ≤ n²·max_v — a 10^6-tick series of 10^6
  // counts stays under 2^63.
  // ---------------------------------------------------------------------
  def cusumChangepoint(df: DataFrame, key: String, tick: String,
      value: String): DataFrame = {
    val ord = Window.partitionBy(col(key)).orderBy(col(tick).asc)
    val whole = Window.partitionBy(col(key))
    val scored = df
      .withColumn("__pfx", sum(col(value))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__k", row_number().over(ord))
      .withColumn("__tot", sum(col(value)).over(whole))
      .withColumn("__n", count(lit(1)).over(whole))
      .withColumn("__s",
        col("__n") * col("__pfx") - col("__k") * col("__tot"))
    val pick = Window.partitionBy(col(key))
      .orderBy(abs(col("__s")).desc, col(tick).asc)
    scored.withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1)
      .select(col(key), col("__n").as("n_ticks"),
        col(tick).as("cp_tick"), abs(col("__s")).as("max_dev"))
  }

  def q136CusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "lineitem")
      .select(col("l_suppkey"),
        datediff(to_date(col("l_shipdate")), lit("1992-01-01"))
          .cast("long").as("day"))
      .groupBy(col("l_suppkey"), col("day"))
      .agg(count(lit(1)).as("n_ship"))
    cusumChangepoint(obs, "l_suppkey", "day", "n_ship")
  }

  val q136CusumChangepointSql: String =
    """WITH obs AS (
      |  SELECT l_suppkey,
      |    datediff('day', DATE '1992-01-01',
      |             CAST(l_shipdate AS DATE))::BIGINT AS day,
      |    COUNT(*) AS n_ship
      |  FROM lineitem GROUP BY 1, 2),
      |scored AS (
      |  SELECT l_suppkey, day,
      |    SUM(n_ship) OVER (PARTITION BY l_suppkey ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx,
      |    ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY day) AS k,
      |    SUM(n_ship) OVER (PARTITION BY l_suppkey) AS tot,
      |    COUNT(*) OVER (PARTITION BY l_suppkey) AS n
      |  FROM obs),
      |s AS (
      |  SELECT l_suppkey, day, n,
      |    n * pfx - k * tot AS sdev
      |  FROM scored)
      |SELECT l_suppkey, n AS n_ticks, day AS cp_tick,
      |  CAST(ABS(sdev) AS BIGINT) AS max_dev
      |FROM (
      |  SELECT l_suppkey, day, n, sdev,
      |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
      |      ORDER BY ABS(sdev) DESC, day ASC) AS rn
      |  FROM s)
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // q243_breakpoint — two-segment least-squares break FITTING per key:
  // where q136's CUSUM scores how strongly a series deviates, this
  // finds the split b minimizing SSE_left + SSE_right — the fitted
  // structural break (the one-knot segmented regression / binary
  // segmentation step, Bai & Perron 1998 reduced to its relational
  // core). Everything data-dependent is integer (prefix Σy, Σy² over an
  // INTEGER series); each candidate's SSE is a FIXED double expression
  // over those integers — Q_p − S_p²/b plus the right-side mirror — so
  // the argmin compares identical doubles in both engines (the q135
  // integer-evidence-through-double pattern) and ties break to the
  // earliest tick.
  //
  // Scale shape: one shuffle on the key (the window sort), per-key
  // state = running integer sums; every tick is a candidate scored in
  // O(1) from the prefixes; the argmin is a per-key window. Overflow:
  // S_p² ≤ (n·max_y)² — a 10⁶-tick series of 10³ counts stays inside
  // int64 as long as n·max_y < 3·10⁹; beyond that, pre-aggregate ticks.
  // ---------------------------------------------------------------------
  def segmentedBreak(df: DataFrame, key: String, tick: String,
      value: String): DataFrame = {
    val ord = Window.partitionBy(col(key)).orderBy(col(tick).asc)
    val whole = Window.partitionBy(col(key))
    val scored = df
      .withColumn("__y2", col(value) * col(value))
      .withColumn("__sp", sum(col(value))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__qp", sum(col("__y2"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__b", row_number().over(ord))
      .withColumn("__s", sum(col(value)).over(whole))
      .withColumn("__q", sum(col("__y2")).over(whole))
      .withColumn("__n", count(lit(1)).over(whole))
      .filter(col("__b") < col("__n")) // both segments non-empty
    val bD = col("__b").cast("double")
    val nD = col("__n").cast("double")
    val spD = col("__sp").cast("double")
    val qpD = col("__qp").cast("double")
    val sD = col("__s").cast("double")
    val qD = col("__q").cast("double")
    val sse = (qpD - spD * spD / bD) +
      ((qD - qpD) - (sD - spD) * (sD - spD) / (nD - bD))
    val cand = scored.withColumn("__sse", sse)
    val pick = Window.partitionBy(col(key))
      .orderBy(col("__sse").asc, col(tick).asc)
    cand.withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1)
      .select(col(key), col("__n").as("n_ticks"),
        col(tick).as("break_tick"),
        round(col("__sse"), 6).as("sse"),
        round(spD / bD, 6).as("mean_left"),
        round((sD - spD) / (nD - bD), 6).as("mean_right"))
  }

  def q243Breakpoint(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "events")
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01"))
          .cast("long").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_ev"))
    segmentedBreak(obs, "event_type", "day", "n_ev")
  }

  val q243BreakpointSql: String =
    """WITH obs AS (
      |  SELECT event_type,
      |    datediff('day', DATE '2024-01-01',
      |             CAST(ts AS DATE))::BIGINT AS day,
      |    COUNT(*) AS n_ev
      |  FROM events GROUP BY 1, 2),
      |scored AS (
      |  SELECT event_type, day, n_ev,
      |    SUM(n_ev) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp,
      |    SUM(n_ev * n_ev) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qp,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS b,
      |    SUM(n_ev) OVER (PARTITION BY event_type) AS s,
      |    SUM(n_ev * n_ev) OVER (PARTITION BY event_type) AS q,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM obs),
      |cand AS (
      |  SELECT event_type, day, n,
      |    (CAST(qp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)
      |       / CAST(b AS DOUBLE))
      |    + ((CAST(q AS DOUBLE) - CAST(qp AS DOUBLE))
      |       - (CAST(s AS DOUBLE) - CAST(sp AS DOUBLE))
      |         * (CAST(s AS DOUBLE) - CAST(sp AS DOUBLE))
      |         / (CAST(n AS DOUBLE) - CAST(b AS DOUBLE))) AS sse,
      |    CAST(sp AS DOUBLE) / CAST(b AS DOUBLE) AS mean_left,
      |    (CAST(s AS DOUBLE) - CAST(sp AS DOUBLE))
      |      / (CAST(n AS DOUBLE) - CAST(b AS DOUBLE)) AS mean_right
      |  FROM scored WHERE b < n)
      |SELECT event_type, n AS n_ticks, day AS break_tick,
      |  ROUND(sse, 6) AS sse,
      |  ROUND(mean_left, 6) AS mean_left,
      |  ROUND(mean_right, 6) AS mean_right
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY sse ASC, day ASC) AS rn
      |  FROM cand)
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // q150_welch_ttest — per-stratum two-sample Welch t-test (unequal
  // variances): the A/B readout an experimentation pipeline computes per
  // segment (Welch 1947; df by Welch–Satterthwaite). Built from the SAME
  // exact decimal power sums as q44/q127/q134 — n, Σx, Σx² per
  // (stratum, arm) — so the aggregate is order-independent; the t and df
  // doubles come from identical expression shapes both engines evaluate
  // over those exact sums, rounded 6 dp, with the integer/exact evidence
  // (n per arm, the two means) alongside.
  //
  // Scale shape: one shuffle to the (stratum, arm) cell table (≤
  // |strata|·2 rows); the arm pivot is a self-join of THAT table —
  // nothing re-touches the fact scan. Zero-variance-both-arms cells
  // (se² = 0) are dropped rather than emitting ±inf.
  // ---------------------------------------------------------------------
  def welchTTest(df: DataFrame, stratum: String, arm: Column,
      armA: String, armB: String, x: Column): DataFrame = {
    val cells = df.select(col(stratum), arm.as("arm"), x.as("x"))
      .filter(col("arm").isin(armA, armB))
      .groupBy(col(stratum), col("arm"))
      .agg(count(lit(1)).as("n"), s1(col("x")).as("sx"),
        s2(col("x"), col("x")).as("sxx"))
      .filter(col("n") >= 2)
    def side(tag: String, want: String) = cells.filter(col("arm") === want)
      .select(col(stratum), col("n").as(s"n_$tag"),
        col("sx").as(s"sx_$tag"), col("sxx").as(s"sxx_$tag"))
    val j = side("a", armA).join(side("b", armB), stratum)
    def nd(tag: String) = col(s"n_$tag").cast("double")
    def mean(tag: String) = col(s"sx_$tag") / nd(tag)
    def variance(tag: String) =
      (col(s"sxx_$tag") - col(s"sx_$tag") * col(s"sx_$tag") / nd(tag)) /
        (nd(tag) - lit(1.0))
    val vOverNA = variance("a") / nd("a")
    val vOverNB = variance("b") / nd("b")
    val se2 = vOverNA + vOverNB
    j.filter(se2 > 0.0)
      .select(col(stratum), col("n_a"), col("n_b"),
        round(mean("a"), 6).as("mean_a"),
        round(mean("b"), 6).as("mean_b"),
        round((mean("a") - mean("b")) / sqrt(se2), 6).as("t_stat"),
        round((se2 * se2) /
          (vOverNA * vOverNA / (nd("a") - lit(1.0)) +
           vOverNB * vOverNB / (nd("b") - lit(1.0))), 6).as("df_w"))
  }

  def q150WelchTtest(s: SparkSession, dir: String): DataFrame =
    welchTTest(t(s, dir, "customer"), "c_nationkey",
      col("c_mktsegment"), "BUILDING", "AUTOMOBILE", col("c_acctbal"))

  val q150WelchTtestSql: String =
    """WITH cells AS (
      |  SELECT c_nationkey, c_mktsegment AS arm, COUNT(*) AS n,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(30,8)))
      |      AS DOUBLE) AS sxx
      |  FROM customer
      |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 2),
      |j AS (
      |  SELECT a.c_nationkey,
      |    a.n AS n_a, a.sx AS sx_a, a.sxx AS sxx_a,
      |    b.n AS n_b, b.sx AS sx_b, b.sxx AS sxx_b
      |  FROM cells a JOIN cells b USING (c_nationkey)
      |  WHERE a.arm = 'BUILDING' AND b.arm = 'AUTOMOBILE'),
      |m AS (
      |  SELECT c_nationkey, n_a, n_b,
      |    sx_a / CAST(n_a AS DOUBLE) AS mean_a,
      |    sx_b / CAST(n_b AS DOUBLE) AS mean_b,
      |    ((sxx_a - sx_a * sx_a / CAST(n_a AS DOUBLE))
      |      / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE) AS va_n,
      |    ((sxx_b - sx_b * sx_b / CAST(n_b AS DOUBLE))
      |      / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE) AS vb_n
      |  FROM j)
      |SELECT c_nationkey, n_a, n_b,
      |  ROUND(mean_a, 6) AS mean_a, ROUND(mean_b, 6) AS mean_b,
      |  ROUND((mean_a - mean_b) / sqrt(va_n + vb_n), 6) AS t_stat,
      |  ROUND(((va_n + vb_n) * (va_n + vb_n))
      |    / (va_n * va_n / (CAST(n_a AS DOUBLE) - 1.0)
      |      + vb_n * vb_n / (CAST(n_b AS DOUBLE) - 1.0)), 6) AS df_w
      |FROM m WHERE va_n + vb_n > 0.0""".stripMargin

  // ---------------------------------------------------------------------
  // q152_median_mad — per-group robust location/scale (median + median
  // absolute deviation), the outlier-resistant alternative to q127's
  // mean/std z-scoring that a quality-score pipeline actually wants when
  // the score distribution has a heavy junk tail (the mean chases the
  // tail; the median doesn't — Hampel 1974).
  //
  // Built as TWO passes of the bucketed order-statistics kernel
  // ([[OrderStats.upperTailBucketed]], the q68b operator):
  // median = its q=0.5 threshold (max v with #(x ≥ v) ≥ ⌈n/2⌉ — a
  // positional pick of an ACTUAL data value, so no interpolation doubles
  // to drift); MAD = the same pick over |x − median|. |x − median| is one
  // IEEE subtract+abs with identical shape in both engines, so every
  // output double is a function of exact positional selection —
  // hash-exact, no tolerance verdict.
  //
  // Scale shape: inherited from the continuous path — each pass is a
  // keys×buckets table plus a boundary-bucket-only value slice, NEVER a
  // corpus-sized per-key value window; the deviation join broadcasts the
  // |keys|-row median table.
  // ---------------------------------------------------------------------
  def medianMad(df: DataFrame, key: String, value: String): DataFrame = {
    val vals = df.select(col(key), col(value).cast("double").as("__x"))
    // ONE range probe serves both quantile passes (guide §1.2): the
    // median pass gets the exact [lo, hi]; the MAD pass's deviations are
    // bounded by [0, hi − lo] in closed form (median is an actual data
    // value in [lo, hi], so |x − median| ≤ hi − lo) — a covering hint is
    // all the bucket decomposition needs, and it removes the pass that
    // re-evaluated the deviation join just to learn its min/max
    val range = vals.agg(min(col("__x")), max(col("__x"))).head()
    val (lo, hi) =
      if (range.isNullAt(0)) (0.0, 0.0)
      else (range.getDouble(0), range.getDouble(1))
    // localCheckpoint: |keys| rows, but referenced by EVERY pass of the
    // MAD quantile (its bucket counts and boundary slice each
    // re-evaluate the deviation join) plus the final stats join —
    // without the pin the median's own multi-pass subtree re-runs inside
    // each of them (guide §5: cut lineage when recomputing an
    // intermediate is more expensive than holding it; the held state
    // here is keys-bounded, never corpus-bounded)
    val med = OrderStats.upperTailBucketed(vals, Seq(key), "__x", Seq(0.5),
        rangeHint = Some((lo, hi)))
      .select(col(key), col("n"), col("threshold").as("median"))
      .localCheckpoint()
    val dev = vals.join(broadcast(med.select(col(key), col("median"))), key)
      .select(col(key), abs(col("__x") - col("median")).as("__adev"))
    val mad = OrderStats.upperTailBucketed(dev, Seq(key), "__adev",
        Seq(0.5), rangeHint = Some((0.0, math.max(hi - lo, 0.0))))
      .select(col(key), col("threshold").as("mad"))
    med.join(mad, key)
      .select(col(key), col("n"), col("median"), col("mad"))
  }

  def q152MedianMad(s: SparkSession, dir: String): DataFrame =
    medianMad(t(s, dir, "customer"), "c_mktsegment", "c_acctbal")

  /** Robust outliers via the MODIFIED z-score (Iglewicz & Hoaglin 1993):
    * flag rows with 0.6745·|x − median|/MAD > threshold (3.5 the
    * standard). q127's mean/std z is itself dragged by the outliers it
    * hunts; median/MAD isn't — this is the detector a heavy-tailed
    * quality score actually needs, composed from [[medianMad]]. Scale:
    * the |keys|-row stats broadcast back; the flag scan is map-only. */
  def robustOutliers(df: DataFrame, group: String, value: String,
      id: String, threshold: Double = 3.5): DataFrame = {
    val stats = medianMad(df.select(col(group), col(value)), group, value)
      .filter(col("mad") > 0.0)
      .select(col(group), col("median"), col("mad"))
    val mz = lit(0.6745) * abs(col(value) - col("median")) / col("mad")
    df.join(broadcast(stats), group)
      .filter(mz > threshold)
      .select(col(group), col(id), round(mz, 6).as("mod_z"))
  }

  // ---------------------------------------------------------------------
  // q172_robust_outliers — planted 10x price spikes (every 997th order)
  // must flag under the modified z while the bulk distribution stays
  // quiet; the oracle rebuilds median/MAD with the q152 positional rule
  // and the identical flag expression.
  // ---------------------------------------------------------------------
  def q172RobustOutliers(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        (col("o_totalprice") *
          when(col("o_orderkey") % 997 === 0, 10.0).otherwise(1.0))
          .as("price"))
    robustOutliers(o, "o_orderpriority", "price", "o_orderkey")
  }

  val q172RobustOutliersSql: String =
    """WITH o AS (
      |  SELECT o_orderpriority, o_orderkey,
      |    o_totalprice * CASE WHEN o_orderkey % 997 = 0
      |      THEN 10.0 ELSE 1.0 END AS price
      |  FROM orders),
      |r AS (
      |  SELECT o_orderpriority AS g, price AS x,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY price DESC
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM o),
      |med AS (
      |  SELECT g, MAX(x) FILTER (WHERE cum_ge >= CEIL(n * 0.5)) AS median
      |  FROM r GROUP BY g),
      |d AS (
      |  SELECT o.o_orderpriority AS g, ABS(o.price - m.median) AS adev
      |  FROM o JOIN med m ON o.o_orderpriority = m.g),
      |r2 AS (
      |  SELECT g, adev,
      |    COUNT(*) OVER (PARTITION BY g ORDER BY adev DESC
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge,
      |    COUNT(*) OVER (PARTITION BY g) AS n
      |  FROM d),
      |mad AS (
      |  SELECT g, MAX(adev) FILTER (WHERE cum_ge >= CEIL(n * 0.5)) AS mad
      |  FROM r2 GROUP BY g),
      |stats AS (
      |  SELECT med.g, med.median, mad.mad
      |  FROM med JOIN mad USING (g) WHERE mad.mad > 0.0)
      |SELECT o.o_orderpriority, o.o_orderkey,
      |  ROUND(0.6745 * ABS(o.price - s.median) / s.mad, 6) AS mod_z
      |FROM o JOIN stats s ON o.o_orderpriority = s.g
      |WHERE 0.6745 * ABS(o.price - s.median) / s.mad > 3.5""".stripMargin

  val q152MedianMadSql: String =
    """WITH r AS (
      |  SELECT c_mktsegment AS g, c_acctbal AS x,
      |    COUNT(*) OVER (PARTITION BY c_mktsegment
      |      ORDER BY c_acctbal DESC
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge,
      |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      |  FROM customer),
      |med AS (
      |  SELECT g, MAX(n) AS n,
      |    MAX(x) FILTER (WHERE cum_ge >= CEIL(n * 0.5)) AS median
      |  FROM r GROUP BY g),
      |d AS (
      |  SELECT c.c_mktsegment AS g, ABS(c.c_acctbal - m.median) AS adev
      |  FROM customer c JOIN med m ON c.c_mktsegment = m.g),
      |r2 AS (
      |  SELECT g, adev,
      |    COUNT(*) OVER (PARTITION BY g ORDER BY adev DESC
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge,
      |    COUNT(*) OVER (PARTITION BY g) AS n
      |  FROM d),
      |mad AS (
      |  SELECT g, MAX(adev) FILTER (WHERE cum_ge >= CEIL(n * 0.5)) AS mad
      |  FROM r2 GROUP BY g)
      |SELECT med.g AS c_mktsegment, CAST(med.n AS BIGINT) AS n,
      |  med.median, mad.mad
      |FROM med JOIN mad USING (g)""".stripMargin

  // ---------------------------------------------------------------------
  // q155_mann_whitney — per-stratum Mann–Whitney U (Wilcoxon rank-sum;
  // Mann & Whitney 1947): the NONPARAMETRIC two-sample test — q150's
  // Welch assumes rough normality, which heavy-tailed quality scores
  // break; rank-sum only needs an ordering. With average ranks for ties,
  // every rank doubles to an integer: a value block with `cb` rows below
  // it and `cnt` members has average rank (2·cb + cnt + 1)/2, so
  // 2·R₁ = Σ_blocks ca·(2·cb + cnt + 1) is exact int64, as are
  // 2·U₁ = 2·R₁ − n₁(n₁+1) and the tie term Σ(t³−t). Only the final
  // normal-approximation z (tie-corrected, Lehmann 1975 form) is a
  // double — identical expression shapes over those integers, rounded
  // 6 dp, with the integers alongside as exact evidence.
  //
  // Scale shape: one shuffle to the per-(stratum, value) block table —
  // |distinct values| rows, not corpus rows; the rank prefix-sum windows
  // over THAT table per stratum; the final row is one aggregate per
  // stratum. Per-block counts feed t³ — int64-safe to ~2M rows per
  // exact tie block.
  // ---------------------------------------------------------------------
  def mannWhitney(df: DataFrame, stratum: String, arm: Column,
      armA: String, armB: String, x: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = df.select(col(stratum), arm.as("arm"), x.as("x"))
      .filter(col("arm").isin(armA, armB))
      .groupBy(col(stratum), col("x"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("arm") === armA, 1L).otherwise(0L)).as("ca"))
    val w = Window.partitionBy(col(stratum)).orderBy(col("x").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = blocks.withColumn("cb",
      coalesce(sum(col("cnt")).over(w), lit(0L)))
    val agg = ranked.groupBy(col(stratum)).agg(
      sum(col("ca")).as("n1"),
      sum(col("cnt") - col("ca")).as("n2"),
      sum(col("ca") * (lit(2L) * col("cb") + col("cnt") + lit(1L)))
        .as("two_r1"),
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"))
    def d(c: String) = col(c).cast("double")
    val nd = d("n1") + d("n2")
    val u1 = (d("two_r1") - d("n1") * (d("n1") + lit(1.0))) / lit(2.0)
    val mu = d("n1") * d("n2") / lit(2.0)
    val sig2 = d("n1") * d("n2") / lit(12.0) *
      ((nd + lit(1.0)) - d("ties") / (nd * (nd - lit(1.0))))
    agg.filter(col("n1") >= 1 && col("n2") >= 1 && sig2 > 0.0)
      .select(col(stratum), col("n1"), col("n2"),
        (col("two_r1") - col("n1") * (col("n1") + lit(1L))).as("two_u1"),
        round((u1 - mu) / sqrt(sig2), 6).as("z"))
  }

  def q155MannWhitney(s: SparkSession, dir: String): DataFrame =
    mannWhitney(t(s, dir, "customer"), "c_nationkey",
      col("c_mktsegment"), "BUILDING", "AUTOMOBILE", col("c_acctbal"))

  val q155MannWhitneySql: String =
    """WITH f AS (
      |  SELECT c_nationkey AS g, c_mktsegment AS arm, c_acctbal AS x
      |  FROM customer
      |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')),
      |v AS (
      |  SELECT g, x, COUNT(*) AS cnt,
      |    SUM(CASE WHEN arm = 'BUILDING' THEN 1 ELSE 0 END) AS ca
      |  FROM f GROUP BY g, x),
      |w AS (
      |  SELECT g, x, cnt, ca,
      |    COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY x ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM v),
      |agg AS (
      |  SELECT g,
      |    CAST(SUM(ca) AS BIGINT) AS n1,
      |    CAST(SUM(cnt - ca) AS BIGINT) AS n2,
      |    CAST(SUM(ca * (2 * cb + cnt + 1)) AS BIGINT) AS two_r1,
      |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
      |  FROM w GROUP BY g),
      |m AS (
      |  SELECT g, n1, n2, two_r1, ties,
      |    CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
      |    CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) AS nd,
      |    (CAST(two_r1 AS DOUBLE)
      |      - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)) / 2.0
      |      AS u1
      |  FROM agg)
      |SELECT g AS c_nationkey, n1, n2,
      |  CAST(two_r1 - n1 * (n1 + 1) AS BIGINT) AS two_u1,
      |  ROUND((u1 - n1d * n2d / 2.0)
      |    / sqrt(n1d * n2d / 12.0
      |      * ((nd + 1.0) - CAST(ties AS DOUBLE) / (nd * (nd - 1.0)))),
      |    6) AS z
      |FROM m
      |WHERE n1 >= 1 AND n2 >= 1
      |  AND n1d * n2d / 12.0
      |    * ((nd + 1.0) - CAST(ties AS DOUBLE) / (nd * (nd - 1.0))) > 0.0
      |""".stripMargin

  // ---------------------------------------------------------------------
  // q157_ks_test — per-stratum two-sample Kolmogorov–Smirnov distance:
  // D = max_x |F₁(x) − F₂(x)|, the distribution-shape drift test that
  // completes the family (q116 PSI needs binning, q155 ranks — KS reads
  // the raw ECDFs). ENTIRELY integer until the last division:
  // |F₁ − F₂| = |cum₁·n₂ − cum₂·n₁| / (n₁·n₂), so the argmax runs on
  // the exact int64 numerator; the witness x* (smallest x attaining the
  // max — a deterministic tie-break) and the integer evidence
  // (d_num, n₁, n₂) are emitted with D rounded 6 dp.
  //
  // Scale shape: q155's exactly — one shuffle to per-(stratum, value)
  // blocks, ECDF prefix-sums window over |distinct values| rows per
  // stratum, one aggregate row out. n₁·n₂ caps at ~9e18: int64-safe to
  // ~3e9 rows per arm per stratum.
  // ---------------------------------------------------------------------
  def ksTest(df: DataFrame, stratum: String, arm: Column,
      armA: String, armB: String, x: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = df.select(col(stratum), arm.as("arm"), x.as("x"))
      .filter(col("arm").isin(armA, armB))
      .groupBy(col(stratum), col("x"))
      .agg(sum(when(col("arm") === armA, 1L).otherwise(0L)).as("c1"),
        sum(when(col("arm") === armB, 1L).otherwise(0L)).as("c2"))
    val w = Window.partitionBy(col(stratum)).orderBy(col("x").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy(col(stratum))
    val cum = blocks
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
      .withColumn("n1", sum(col("c1")).over(tot))
      .withColumn("n2", sum(col("c2")).over(tot))
      .withColumn("dnum",
        abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
    val pick = Window.partitionBy(col(stratum))
      .orderBy(col("dnum").desc, col("x").asc)
    cum.withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1 && col("n1") >= 1 && col("n2") >= 1)
      .select(col(stratum), col("n1"), col("n2"),
        col("dnum").as("d_num"), col("x").as("d_at"),
        round(col("dnum").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double")), 6)
          .as("ks_d"))
  }

  def q157KsTest(s: SparkSession, dir: String): DataFrame =
    ksTest(t(s, dir, "customer"), "c_nationkey",
      col("c_mktsegment"), "BUILDING", "AUTOMOBILE", col("c_acctbal"))

  val q157KsTestSql: String =
    """WITH f AS (
      |  SELECT c_nationkey AS g, c_mktsegment AS arm, c_acctbal AS x
      |  FROM customer
      |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')),
      |v AS (
      |  SELECT g, x,
      |    SUM(CASE WHEN arm = 'BUILDING' THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN arm = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS c2
      |  FROM f GROUP BY g, x),
      |cum AS (
      |  SELECT g, x,
      |    SUM(c1) OVER (PARTITION BY g ORDER BY x ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
      |    SUM(c2) OVER (PARTITION BY g ORDER BY x ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
      |    SUM(c1) OVER (PARTITION BY g) AS n1,
      |    SUM(c2) OVER (PARTITION BY g) AS n2
      |  FROM v),
      |d AS (
      |  SELECT g, x, n1, n2,
      |    ABS(cum1 * n2 - cum2 * n1) AS dnum,
      |    ROW_NUMBER() OVER (PARTITION BY g
      |      ORDER BY ABS(cum1 * n2 - cum2 * n1) DESC, x ASC) AS rn
      |  FROM cum)
      |SELECT g AS c_nationkey, CAST(n1 AS BIGINT) AS n1,
      |  CAST(n2 AS BIGINT) AS n2, CAST(dnum AS BIGINT) AS d_num,
      |  x AS d_at,
      |  ROUND(CAST(dnum AS DOUBLE)
      |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS ks_d
      |FROM d WHERE rn = 1 AND n1 >= 1 AND n2 >= 1""".stripMargin

  /** Per-series AUTOCORRELATION at lags 1..`maxLag` — the serial-
    * dependence profile a time-series feature pipeline reads before
    * choosing model lags (and the residual-whiteness check after).
    * Per key, the series is the `value` column in `(orderCols)` order;
    * the lag-k pairs come from ONE window pass producing all lags
    * (a single `WindowExec`, shuffle-on-key only), and each lag's
    * Pearson r is assembled from exact decimal power sums over the
    * pair set (the q44/q134 discipline: order-independent sums, the
    * combining float arithmetic in one fixed expression shape, rounded
    * far above ulp). Pairs never cross keys; a series shorter than
    * k+1 has no lag-k pairs and emits no row for that (key, lag);
    * a single-pair group has zero variance and surfaces NaN. */
  def acf(df: DataFrame, key: String, orderCols: Seq[Column],
      value: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val w = Window.partitionBy(col(key)).orderBy(orderCols: _*)
    val lagged = df.select(
      (col(key) +: col(value).as("x") +:
        (1 to maxLag).map(k => lag(col(value), k).over(w).as(s"__l$k"))): _*)
    val stacked = lagged.select(col(key),
      explode(array((1 to maxLag).map(k =>
        struct(lit(k).as("lag"), col("x"),
          col(s"__l$k").as("y"))): _*)).as("p"))
      .select(col(key), col("p.lag").as("lag"), col("p.x").as("x"),
        col("p.y").as("y"))
      .filter(col("y").isNotNull)
    val g = stacked.groupBy(col(key), col("lag")).agg(
      count(lit(1)).cast("double").as("n"),
      s1(col("x")).as("sx"), s1(col("y")).as("sy"),
      s2(col("x"), col("x")).as("sxx"),
      s2(col("y"), col("y")).as("syy"),
      s2(col("x"), col("y")).as("sxy"))
    // a zero-variance side (single pair, constant run) has no defined r —
    // NULL, guarded BEFORE the division (ANSI mode raises on 0/0)
    val den = sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
      sqrt(col("n") * col("syy") - col("sy") * col("sy"))
    g.select(col(key), col("lag"),
      col("n").cast("long").as("n_pairs"),
      when(den =!= 0.0,
        round((col("n") * col("sxy") - col("sx") * col("sy")) / den, 8))
        .as("acf"))
  }

  /** Cross-correlation between two aligned series: Pearson r of
    * (a(t), b(t+lag)) for lag ∈ [−maxLag, maxLag] — the lead–lag
    * detector q175's ACF cannot express (ACF correlates a series with
    * ITSELF; CCF asks which of two series leads the other, the
    * "do clicks predict tomorrow's purchases" question). `a` carries
    * (t, x), `b` carries (t, y) on the same integer tick grid; only
    * ticks present on both sides at the shifted alignment pair up.
    *
    * Determinism: the power sums ride the s1/s2 exact decimal grid, so
    * each lag's r is one fixed double tree over identical sums — no
    * fold order anywhere. Scale: the lag expansion is ×(2L+1) on the
    * SERIES table (ticks ≪ corpus — the corpus was reduced to the
    * series by the caller's aggregate), joined on the shifted tick. */
  def crossCorrelation(a: DataFrame, b: DataFrame, maxLag: Int)
      : DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val lags = (-maxLag to maxLag).map(l => lit(l))
    val bShift = b.select(col("t"), col("y"))
      .withColumn("lag", explode(array(lags: _*)))
      .select((col("t") - col("lag")).as("t"), col("lag"), col("y"))
    val pairs = a.select(col("t"), col("x")).join(bShift, Seq("t"))
    val g = pairs.groupBy(col("lag")).agg(
      count(lit(1)).cast("double").as("n"),
      s1(col("x")).as("sx"), s1(col("y")).as("sy"),
      s2(col("x"), col("x")).as("sxx"),
      s2(col("y"), col("y")).as("syy"),
      s2(col("x"), col("y")).as("sxy"))
    val den = sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
      sqrt(col("n") * col("syy") - col("sy") * col("sy"))
    g.select(col("lag"), col("n").cast("long").as("n_pairs"),
      when(den =!= 0.0,
        round((col("n") * col("sxy") - col("sx") * col("sy")) / den, 8))
        .as("ccf"))
  }

  /** Theil–Sen robust trend per key: the MEDIAN of all pairwise slopes
    * (y_j − y_i)/(t_j − t_i), i < j — a single wild tick shifts OLS
    * arbitrarily but moves a median by one rank (29.3% breakdown
    * point; Sen 1968). The all-pairs expansion runs on the SERIES
    * table — ticks² per key where the caller already reduced the
    * corpus to ticks (the q245 argument), so "quadratic" is bounded by
    * the series length, not the data. Median selection is the exact
    * order statistic: rank pairs by (slope, t_i, t_j) — a total order
    * over identical doubles in both engines — and average the one or
    * two middle ranks. */
  def theilSen(df: DataFrame, key: String, tick: String, value: String)
      : DataFrame = {
    val a = df.select(col(key), col(tick).as("t1"), col(value).as("v1"))
    val b = df.select(col(key), col(tick).as("t2"), col(value).as("v2"))
    val slopes = a.join(b, Seq(key)).filter(col("t1") < col("t2"))
      .select(col(key), col("t1"), col("t2"),
        ((col("v2") - col("v1")).cast("double")
          / (col("t2") - col("t1")).cast("double")).as("slope"))
    val w = Window.partitionBy(col(key))
      .orderBy(col("slope").asc, col("t1").asc, col("t2").asc)
    val ranked = slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(Window.partitionBy(col(key))))
    ranked
      .filter(col("rn") === floor((col("np") + 1) / 2).cast("long") ||
        col("rn") === floor((col("np") + 2) / 2).cast("long"))
      .groupBy(col(key))
      .agg(max(col("np")).as("n_pairs"),
        round((sum(col("slope")) / count(lit(1)).cast("double")), 6)
          .as("median_slope"))
  }

  def q246TheilSen(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "events")
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01"))
          .cast("long").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_ev"))
    theilSen(obs, "event_type", "day", "n_ev")
  }

  val q246TheilSenSql: String =
    """WITH obs AS (
      |  SELECT event_type,
      |    datediff('day', DATE '2024-01-01',
      |             CAST(ts AS DATE))::BIGINT AS day,
      |    COUNT(*) AS n_ev
      |  FROM events GROUP BY 1, 2),
      |slopes AS (
      |  SELECT a.event_type, a.day AS t1, b.day AS t2,
      |    CAST(b.n_ev - a.n_ev AS DOUBLE)
      |      / CAST(b.day - a.day AS DOUBLE) AS slope
      |  FROM obs a JOIN obs b
      |    ON b.event_type = a.event_type AND a.day < b.day),
      |ranked AS (
      |  SELECT event_type, slope,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY slope ASC, t1 ASC, t2 ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS np
      |  FROM slopes)
      |SELECT event_type, MAX(np) AS n_pairs,
      |  ROUND(SUM(slope) / CAST(COUNT(*) AS DOUBLE), 6) AS median_slope
      |FROM ranked
      |WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
      |GROUP BY event_type""".stripMargin

  /** Mann–Kendall trend test per key (Mann 1945; Kendall 1975) —
    * Theil–Sen's classic hypothesis-test companion: S = Σ_{i<j}
    * sign(y_j − y_i) is a pure INTEGER statistic, and the tie-corrected
    * normal approximation Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)
    * (2t_g+5)]/18 with the ±1 continuity correction gives the z-score
    * as one fixed double tree over integer sums — the fully
    * distribution-free "is there ANY monotone trend" answer, immune to
    * the outliers and nonlinearity that break OLS slopes. Degenerate
    * keys (all values tied → Var = 0) surface NULL z. Same ticks²
    * series-table expansion as [[theilSen]]. */
  def mannKendall(df: DataFrame, key: String, tick: String,
      value: String): DataFrame = {
    val a = df.select(col(key), col(tick).as("t1"), col(value).as("v1"))
    val b = df.select(col(key), col(tick).as("t2"), col(value).as("v2"))
    val s = a.join(b, Seq(key)).filter(col("t1") < col("t2"))
      .select(col(key),
        when(col("v2") > col("v1"), 1L)
          .when(col("v2") < col("v1"), -1L).otherwise(0L).as("sgn"))
      .groupBy(col(key)).agg(sum(col("sgn")).as("s_stat"))
    val ties = df.groupBy(col(key), col(value)).agg(count(lit(1)).as("t"))
      .groupBy(col(key)).agg(
        sum(col("t")).as("n"),
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_term"))
    val nD = col("n").cast("double")
    val varS = (nD * (nD - 1.0) * (nD * 2.0 + 5.0)
      - col("tie_term").cast("double")) / 18.0
    val sD = col("s_stat").cast("double")
    s.join(ties, Seq(key))
      .select(col(key), col("n").as("n_ticks"), col("s_stat"),
        when(varS > 0.0,
          round(
            when(col("s_stat") > 0, (sD - 1.0) / sqrt(varS))
              .when(col("s_stat") < 0, (sD + 1.0) / sqrt(varS))
              .otherwise(lit(0.0)), 6)).as("z"))
  }

  /** Spearman rank correlation of value against TIME per key — the
    * trend EFFECT SIZE to q247's significance test: ρ ∈ [−1, 1] says
    * how close the series is to monotone, robust to any monotone
    * transform of the values. The whole statistic is INTEGER: time
    * ranks are 1..n (ticks unique per key), and tied value ranks enter
    * as 2·avgrank = 2·below + ties + 1 (the q233 rank algebra —
    * Pearson is scale-invariant, so the doubled ranks change nothing),
    * giving five integer power sums per key and one fixed double tree.
    * All-tied keys (zero rank variance) surface NULL. Int64 headroom:
    * sums grow like n³ — fine to million-tick series. */
  def spearmanTrend(df: DataFrame, key: String, tick: String,
      value: String): DataFrame = {
    val ord = Window.partitionBy(col(key)).orderBy(col(tick).asc)
    val rt = df.select(col(key), col(tick), col(value))
      .withColumn("rt", row_number().over(ord).cast("long"))
    val grp = df.groupBy(col(key), col(value)).agg(count(lit(1)).as("t"))
      .withColumn("below", coalesce(sum(col("t")).over(
        Window.partitionBy(col(key)).orderBy(col(value).asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(key), col(value),
        (col("below") * 2 + col("t") + 1).as("y2"))
    val rows = rt.join(grp, Seq(key, value))
    val g = rows.groupBy(col(key)).agg(
      count(lit(1)).as("n"),
      sum(col("rt")).as("sx"), sum(col("y2")).as("sy"),
      sum(col("rt") * col("rt")).as("sxx"),
      sum(col("y2") * col("y2")).as("syy"),
      sum(col("rt") * col("y2")).as("sxy"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double")
    val den = sqrt(nD * col("sxx").cast("double") - sxD * sxD) *
      sqrt(nD * col("syy").cast("double") - syD * syD)
    g.select(col(key), col("n").as("n_ticks"),
      when(den =!= 0.0,
        round((nD * col("sxy").cast("double") - sxD * syD) / den, 6))
        .as("rho"))
  }

  def q248Spearman(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "events")
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01"))
          .cast("long").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_ev"))
    spearmanTrend(obs, "event_type", "day", "n_ev")
  }

  val q248SpearmanSql: String =
    """WITH obs AS (
      |  SELECT event_type,
      |    datediff('day', DATE '2024-01-01',
      |             CAST(ts AS DATE))::BIGINT AS day,
      |    COUNT(*) AS n_ev
      |  FROM events GROUP BY 1, 2),
      |rt AS (
      |  SELECT event_type, day, n_ev,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY day ASC) AS BIGINT) AS rt
      |  FROM obs),
      |grp AS (
      |  SELECT event_type, n_ev,
      |    COALESCE(SUM(t) OVER (PARTITION BY event_type
      |      ORDER BY n_ev ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
      |      + t + 1 AS y2
      |  FROM (SELECT event_type, n_ev, COUNT(*) AS t
      |        FROM obs GROUP BY event_type, n_ev)),
      |rows_ AS (
      |  SELECT rt.event_type, rt.rt, g.y2
      |  FROM rt JOIN grp g
      |    ON g.event_type = rt.event_type AND g.n_ev = rt.n_ev),
      |s AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(rt) AS BIGINT) AS sx, CAST(SUM(y2) AS BIGINT) AS sy,
      |    CAST(SUM(rt * rt) AS BIGINT) AS sxx,
      |    CAST(SUM(y2 * y2) AS BIGINT) AS syy,
      |    CAST(SUM(rt * y2) AS BIGINT) AS sxy
      |  FROM rows_ GROUP BY event_type)
      |SELECT event_type, n AS n_ticks,
      |  CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |         * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <> 0.0
      |       THEN ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |           * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |  END AS rho
      |FROM s""".stripMargin

  def q247MannKendall(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "events")
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01"))
          .cast("long").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_ev"))
    mannKendall(obs, "event_type", "day", "n_ev")
  }

  val q247MannKendallSql: String =
    """WITH obs AS (
      |  SELECT event_type,
      |    datediff('day', DATE '2024-01-01',
      |             CAST(ts AS DATE))::BIGINT AS day,
      |    COUNT(*) AS n_ev
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT a.event_type,
      |    CAST(SUM(CASE WHEN b.n_ev > a.n_ev THEN 1
      |                  WHEN b.n_ev < a.n_ev THEN -1 ELSE 0 END)
      |      AS BIGINT) AS s_stat
      |  FROM obs a JOIN obs b
      |    ON b.event_type = a.event_type AND a.day < b.day
      |  GROUP BY a.event_type),
      |ties AS (
      |  SELECT event_type, CAST(SUM(t) AS BIGINT) AS n,
      |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      |  FROM (SELECT event_type, n_ev, COUNT(*) AS t
      |        FROM obs GROUP BY event_type, n_ev)
      |  GROUP BY event_type)
      |SELECT s.event_type, t.n AS n_ticks, s.s_stat,
      |  CASE WHEN (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) - 1.0)
      |          * (2.0 * CAST(t.n AS DOUBLE) + 5.0)
      |          - CAST(t.tie_term AS DOUBLE)) / 18.0 > 0.0 THEN
      |    ROUND(CASE
      |      WHEN s.s_stat > 0 THEN (CAST(s.s_stat AS DOUBLE) - 1.0)
      |        / sqrt((CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) - 1.0)
      |            * (2.0 * CAST(t.n AS DOUBLE) + 5.0)
      |            - CAST(t.tie_term AS DOUBLE)) / 18.0)
      |      WHEN s.s_stat < 0 THEN (CAST(s.s_stat AS DOUBLE) + 1.0)
      |        / sqrt((CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) - 1.0)
      |            * (2.0 * CAST(t.n AS DOUBLE) + 5.0)
      |            - CAST(t.tie_term AS DOUBLE)) / 18.0)
      |      ELSE 0.0 END, 6)
      |  END AS z
      |FROM s JOIN ties t USING (event_type)""".stripMargin

  // ---------------------------------------------------------------------
  // q245_ccf — daily click counts vs purchase counts at lags −3..+3:
  // positive lags ask whether clicks LEAD purchases. The oracle replays
  // the shifted-tick join and the power-sum Pearson expression per lag.
  // ---------------------------------------------------------------------
  def q245Ccf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    def daily(kind: String, as: String) = e
      .filter(col("event_type") === kind)
      .select(datediff(to_date(col("ts")), lit("2024-01-01"))
        .cast("long").as("t"))
      .groupBy(col("t")).agg(count(lit(1)).cast("double").as(as))
    crossCorrelation(daily("click", "x"), daily("purchase", "y"), 3)
  }

  val q245CcfSql: String =
    """WITH a AS (
      |  SELECT datediff('day', DATE '2024-01-01',
      |           CAST(ts AS DATE))::BIGINT AS t,
      |    CAST(COUNT(*) AS DOUBLE) AS x
      |  FROM events WHERE event_type = 'click' GROUP BY 1),
      |b AS (
      |  SELECT datediff('day', DATE '2024-01-01',
      |           CAST(ts AS DATE))::BIGINT AS t,
      |    CAST(COUNT(*) AS DOUBLE) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |p AS (
      |  SELECT l.lag, a.x, b.y
      |  FROM a
      |  JOIN (SELECT UNNEST(range(-3, 4)) AS lag) l ON TRUE
      |  JOIN b ON b.t - l.lag = a.t),
      |g AS (
      |  SELECT lag, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(30,8))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(y * y AS DECIMAL(30,8))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(30,8))) AS DOUBLE) AS sxy
      |  FROM p GROUP BY lag)
      |SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
      |  CASE WHEN sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)
      |            <> 0.0
      |       THEN ROUND((n * sxy - sx * sy)
      |         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 8)
      |  END AS ccf
      |FROM g""".stripMargin

  // ---------------------------------------------------------------------
  // q175_acf — serial correlation of event values at lags 1..3 per event
  // type (series ordered by (ts, event_id) — event_id makes the order
  // total). The oracle re-derives the identical lag pairs with LAG
  // windows and the same power-sum Pearson expression.
  // ---------------------------------------------------------------------
  def q175Acf(s: SparkSession, dir: String): DataFrame =
    acf(t(s, dir, "events"), "event_type",
      Seq(col("ts").asc, col("event_id").asc), "value", 3)

  val q175AcfSql: String =
    """WITH l AS (
      |  SELECT event_type, value AS x,
      |    LAG(value, 1) OVER w AS l1,
      |    LAG(value, 2) OVER w AS l2,
      |    LAG(value, 3) OVER w AS l3
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
      |p AS (
      |  SELECT event_type, 1 AS lag, x, l1 AS y FROM l WHERE l1 IS NOT NULL
      |  UNION ALL
      |  SELECT event_type, 2, x, l2 FROM l WHERE l2 IS NOT NULL
      |  UNION ALL
      |  SELECT event_type, 3, x, l3 FROM l WHERE l3 IS NOT NULL),
      |g AS (
      |  SELECT event_type, lag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(30,8))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(y * y AS DECIMAL(30,8))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(30,8))) AS DOUBLE) AS sxy
      |  FROM p GROUP BY event_type, lag)
      |SELECT event_type, lag, CAST(n AS BIGINT) AS n_pairs,
      |  CASE WHEN sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) <> 0.0
      |    THEN ROUND((n * sxy - sx * sy) /
      |      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 8)
      |  END AS acf
      |FROM g""".stripMargin

  /** BENFORD first-significant-digit audit — the classic fabricated-
    * numbers / unit-mix detector for financial and telemetry columns:
    * compare the observed first-digit distribution of `value` against
    * Benford's law p(d) = log10(1 + 1/d) with a chi-square statistic.
    * Evidence stays integer (per-digit counts — one scan, a 9-row
    * aggregate); the expected terms are fixed literal-shaped doubles,
    * so the final statistic is engine-reproducible. Rows with a NULL,
    * zero, or non-finite value are excluded (no first digit). */
  def benford(df: DataFrame, value: String): DataFrame = {
    // first significant digit of |x|: the leading char of the decimal
    // mantissa — string route, not log10 (pow/log at subnormal corners
    // differ across libm builds; substring of the formatted value is
    // exact for any finite double)
    val d = df.select(abs(col(value)).as("a"))
      .filter(col("a").isNotNull && col("a") > 0.0 &&
        !isnan(col("a")) && col("a") =!= Double.PositiveInfinity)
      .select(regexp_extract(format_number(col("a"), 10), "[1-9]", 0)
        .as("digit"))
      .filter(col("digit") =!= "")
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    // chi-square term per digit: (obs − n·p)² / (n·p); emitting per-digit
    // terms (not the global sum) keeps the float fold trivially ordered.
    // log10 (not ln-ratio) on BOTH engines — identical expression shape.
    // The grand total joins back as a one-row broadcast (a global window
    // would plan the no-partition WindowExec and its per-run warning).
    val expected = log10(lit(1.0) + lit(1.0) / col("digit").cast("double")) *
      col("n").cast("double")
    val dev = col("n_obs").cast("double") - expected
    d.crossJoin(broadcast(d.agg(sum(col("n_obs")).as("n"))))
      .select(col("digit"), col("n_obs"),
        round(expected, 4).as("n_expected"),
        round(dev * dev / expected, 4).as("chi2_term"))
  }

  // ---------------------------------------------------------------------
  // q182_benford — first-digit audit of order totals. o_totalprice is a
  // product of uniform-ish factors, so it bends toward Benford — the
  // gate checks the per-digit machinery (string-route digit extraction,
  // integer counts, fixed-shape expected/chi2 terms), not the verdict.
  // ---------------------------------------------------------------------
  def q182Benford(s: SparkSession, dir: String): DataFrame =
    benford(t(s, dir, "orders"), "o_totalprice")

  val q182BenfordSql: String =
    """WITH d AS (
      |  SELECT regexp_extract(format('{:.10f}', ABS(o_totalprice)),
      |    '[1-9]') AS digit
      |  FROM orders
      |  WHERE o_totalprice IS NOT NULL AND ABS(o_totalprice) > 0
      |    AND isfinite(o_totalprice)),
      |g AS (
      |  SELECT digit, COUNT(*) AS n_obs FROM d
      |  WHERE digit <> '' GROUP BY digit),
      |t AS (SELECT digit, n_obs, SUM(n_obs) OVER () AS n FROM g)
      |SELECT digit, n_obs,
      |  ROUND(log10(1.0 + 1.0 / CAST(digit AS DOUBLE))
      |    * CAST(n AS DOUBLE), 4) AS n_expected,
      |  ROUND((CAST(n_obs AS DOUBLE)
      |      - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * CAST(n AS DOUBLE))
      |    * (CAST(n_obs AS DOUBLE)
      |      - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * CAST(n AS DOUBLE))
      |    / (log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * CAST(n AS DOUBLE)),
      |    4) AS chi2_term
      |FROM t""".stripMargin

  /** STRATIFIED treatment-effect estimate — the observational A/B
    * readout (stratum-adjusted difference of means): within each
    * stratum, compare treated vs control outcome means; the overall
    * estimate weights per-stratum differences by stratum mass,
    * removing confounding that correlates with the strata. Per-stratum
    * means are exact decimal sums over exact counts; the overall ATE
    * is an ordered fold over stratum-sorted terms. Strata missing a
    * side surface NULL diff and drop from the ATE (standard common-
    * support trimming), with their mass excluded from the weights. */
  def strataAdjustedDiff(df: DataFrame, stratum: String,
      treat: Column, outcome: String): DataFrame = {
    val base = df.select(col(stratum).as("stratum"),
      treat.cast("boolean").as("__t"), col(outcome).as("__y"))
    val per = base.groupBy(col("stratum")).agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("n_treat"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("n_control"),
      s1(when(col("__t"), col("__y"))).as("__sy_t"),
      s1(when(!col("__t"), col("__y"))).as("__sy_c"))
    val diff = when(col("n_treat") > 0 && col("n_control") > 0,
      col("__sy_t") / col("n_treat").cast("double") -
        col("__sy_c") / col("n_control").cast("double"))
    val per2 = per.select(col("stratum"), col("n_treat"),
      col("n_control"),
      round(when(col("n_treat") > 0,
        col("__sy_t") / col("n_treat").cast("double")), 6).as("mean_treat"),
      round(when(col("n_control") > 0,
        col("__sy_c") / col("n_control").cast("double")), 6)
        .as("mean_control"),
      round(diff, 6).as("diff"),
      diff.as("__diff_raw"))
    // ATE over supported strata: Σ w_s·diff_s, w_s = stratum mass over
    // the SUPPORTED total — ordered fold, one-row broadcast back
    val ate = per2.filter(col("__diff_raw").isNotNull)
      .select(struct(col("stratum"),
        ((col("n_treat") + col("n_control")).cast("double") *
          col("__diff_raw")).as("wd")).as("st"),
        (col("n_treat") + col("n_control")).as("m"))
      .agg(array_sort(collect_list(col("st"))).as("__ts"),
        sum(col("m")).as("__n"))
      .select(round(aggregate(col("__ts"), lit(0.0d),
        (acc, x) => acc + x.getField("wd")) /
          col("__n").cast("double"), 6).as("ate"))
    per2.drop("__diff_raw").crossJoin(broadcast(ate))
  }

  // ---------------------------------------------------------------------
  // q194_strata_ate — outcome: per-user decimal value mass; treatment:
  // "user has any purchase event"; strata: user cohort (user_id % 5).
  // Planted confounding is irrelevant to the gate — it checks the
  // per-stratum decimal means, the common-support NULL rule, and the
  // stratum-ordered weighted fold.
  // ---------------------------------------------------------------------
  def q194StrataAte(s: SparkSession, dir: String): DataFrame = {
    val users = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("treated"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("y"))
      .select((col("user_id") % 5).as("cohort"), col("treated"),
        col("y"))
    strataAdjustedDiff(users, "cohort", col("treated") === 1L, "y")
      .withColumnRenamed("stratum", "cohort")
  }

  val q194StrataAteSql: String =
    """WITH users AS (
      |  SELECT user_id % 5 AS cohort,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS t,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS y
      |  FROM events GROUP BY user_id),
      |per AS (
      |  SELECT cohort,
      |    CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_treat,
      |    CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_control,
      |    CAST(SUM(CASE WHEN t = 1 THEN CAST(y AS DECIMAL(18,4)) END)
      |      AS DOUBLE) AS sy_t,
      |    CAST(SUM(CASE WHEN t = 0 THEN CAST(y AS DECIMAL(18,4)) END)
      |      AS DOUBLE) AS sy_c
      |  FROM users GROUP BY cohort),
      |per2 AS (
      |  SELECT cohort, n_treat, n_control,
      |    CASE WHEN n_treat > 0
      |      THEN sy_t / CAST(n_treat AS DOUBLE) END AS mt,
      |    CASE WHEN n_control > 0
      |      THEN sy_c / CAST(n_control AS DOUBLE) END AS mc,
      |    CASE WHEN n_treat > 0 AND n_control > 0
      |      THEN sy_t / CAST(n_treat AS DOUBLE)
      |         - sy_c / CAST(n_control AS DOUBLE) END AS d
      |  FROM per),
      |a AS (
      |  SELECT ROUND(list_reduce(list_prepend(0.0::DOUBLE,
      |      list(CAST(n_treat + n_control AS DOUBLE) * d ORDER BY cohort)
      |        FILTER (WHERE d IS NOT NULL)),
      |      (x, b) -> x + b)
      |    / CAST(SUM(n_treat + n_control)
      |        FILTER (WHERE d IS NOT NULL) AS DOUBLE), 6) AS ate
      |  FROM per2)
      |SELECT cohort, n_treat, n_control,
      |  ROUND(mt, 6) AS mean_treat, ROUND(mc, 6) AS mean_control,
      |  ROUND(d, 6) AS diff, a.ate
      |FROM per2 CROSS JOIN a""".stripMargin

  /** Q–Q COMPARISON table — side-by-side positional quantiles of one
    * value column across two cohorts at a shared quantile grid: the
    * table behind a quantile-quantile plot, and the distribution-shift
    * readout that names WHERE two cohorts diverge (KS says "they
    * differ", PSI says "how much"; this says "the p90s differ by X").
    * Built from the discrete positional rule ([[OrderStats.upperTail]]
    * — thresholds are actual data values, hash-exact) applied per
    * (cohort, q) from ONE cumulative window over the (cohort × distinct
    * value) table. */
  def qqTable(df: DataFrame, cohort: String, value: String,
      qs: Seq[Double]): DataFrame = {
    val th = OrderStats.upperTail(OrderStats.counts(df, Seq(cohort), value),
      Seq(cohort), value, "cnt", qs)
    val qAggs = qs.map(q =>
      max(when(col("q") === q, col("threshold")))
        .as(f"p${math.round((1 - q) * 100)}%02d"))
    th.groupBy(col(cohort))
      .agg(max(col("n")).as("n"), qAggs: _*)
  }

  // ---------------------------------------------------------------------
  // q201_qq_table — per-priority order-price quantile panel (top-rule at
  // q = 0.5/0.25/0.1 → p50/p75/p90 columns): the positional Q–Q table.
  // The oracle replays the same cumulative rule per quantile.
  // ---------------------------------------------------------------------
  def q201QqTable(s: SparkSession, dir: String): DataFrame =
    qqTable(t(s, dir, "orders"), "o_orderpriority", "o_totalprice",
      Seq(0.5, 0.25, 0.1))

  val q201QqTableSql: String =
    """WITH counts AS (
      |  SELECT o_orderpriority AS cohort, o_totalprice AS v,
      |    COUNT(*) AS cnt
      |  FROM orders GROUP BY 1, 2),
      |cum AS (
      |  SELECT cohort, v,
      |    SUM(cnt) OVER (PARTITION BY cohort ORDER BY v DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge,
      |    SUM(cnt) OVER (PARTITION BY cohort) AS n
      |  FROM counts)
      |SELECT cohort AS o_orderpriority, CAST(MAX(n) AS BIGINT) AS n,
      |  MAX(CASE WHEN cum_ge >= CEIL(n * 0.5) THEN v END) AS p50,
      |  MAX(CASE WHEN cum_ge >= CEIL(n * 0.25) THEN v END) AS p75,
      |  MAX(CASE WHEN cum_ge >= CEIL(n * 0.1) THEN v END) AS p90
      |FROM cum GROUP BY cohort""".stripMargin

  /** GINI COEFFICIENT of a nonnegative quantity per group — the
    * inequality/concentration readout ("how concentrated is token mass
    * across this source's documents"): G = (2·Σᵢ i·xᵢ)/(n·Σx) − (n+1)/n
    * over ascending-sorted values (i = 1..n). The rank-weighted sum
    * keeps everything exact: i·xᵢ is decimal-cast per row and summed
    * exactly, n is integer, and the two-term combining expression is
    * fixed-shape. One window sort per group (the per-key state is the
    * group's rows, never the corpus). Ties get deterministic ranks via
    * a value-then-tiebreak total order, which leaves G unchanged
    * (equal values commute in the weighted sum). */
  def giniByGroup(df: DataFrame, group: String, value: String,
      tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(group))
      .orderBy(col(value).asc, col(tiebreak).asc)
    val ranked = df.withColumn("__i", row_number().over(w))
    // a zero-mass group has no defined concentration — NULL, guarded
    // before the division (ANSI raises on /0)
    ranked.groupBy(col(group)).agg(
      count(lit(1)).as("n"),
      when(sum(col(value).cast(DecimalType(30, 4))).cast(DoubleType)
          =!= 0.0,
        round(
          (lit(2.0) * sum((col("__i") * col(value))
            .cast(DecimalType(30, 4))).cast(DoubleType)) /
            (count(lit(1)).cast("double") *
              sum(col(value).cast(DecimalType(30, 4))).cast(DoubleType)) -
            (count(lit(1)) + 1).cast("double") /
              count(lit(1)).cast("double"), 6)).as("gini"))
  }

  // ---------------------------------------------------------------------
  // q202_gini — character-mass concentration across each source's
  // documents: the "is this source one mega-page plus stubs" signal
  // behind mixture weighting. Exact rank-weighted decimal sums.
  // ---------------------------------------------------------------------
  def q202Gini(s: SparkSession, dir: String): DataFrame =
    giniByGroup(t(s, dir, "documents"), "source", "n_chars", "doc_id")

  val q202GiniSql: String =
    """WITH ranked AS (
      |  SELECT source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_chars ASC, doc_id ASC) AS i
      |  FROM documents)
      |SELECT source, COUNT(*) AS n,
      |  ROUND(
      |    (2.0 * CAST(SUM(CAST(i * n_chars AS DECIMAL(30,4))) AS DOUBLE))
      |      / (CAST(COUNT(*) AS DOUBLE)
      |        * CAST(SUM(CAST(n_chars AS DECIMAL(30,4))) AS DOUBLE))
      |    - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
      |    6) AS gini
      |FROM ranked GROUP BY source""".stripMargin

  /** BURSTINESS (Fano factor) of per-key event arrivals: variance-to-
    * mean ratio of the key's per-bucket counts — 1 for Poisson-like
    * arrivals, ≫1 for bursty sessions, the behavioral signal bot
    * detection and capacity planning read. Counts are integers, so the
    * variance comes from exact integer power sums (Σc, Σc²) and one
    * fixed-shape double expression. Buckets with zero events are NOT
    * imputed (observed-bucket convention, stated; a calendar-complete
    * variant composes with [[graft.operators.EventTime.resampleFfill]]). */
  def fanoFactor(df: DataFrame, key: String, bucket: Column): DataFrame = {
    val counts = df.groupBy(col(key), bucket.as("__b"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col(key)).agg(
      count(lit(1)).as("n_buckets"),
      sum(col("c")).as("n_events"),
      // single-bucket keys have no variance — the guard runs BEFORE
      // the (n-1) division (ANSI raises), and the filter then drops them
      when(count(lit(1)) > 1,
        round(((sum(col("c") * col("c")).cast("double") -
          sum(col("c")).cast("double") * sum(col("c")).cast("double") /
            count(lit(1)).cast("double")) /
          (count(lit(1)).cast("double") - lit(1.0))) /
          (sum(col("c")).cast("double") / count(lit(1)).cast("double")),
          6)).as("fano"))
      .filter(col("n_buckets") >= 2)
  }

  // ---------------------------------------------------------------------
  // q203_burstiness — per-user Fano factor of daily event counts: the
  // burstiness profile over the stream. Integer evidence; users with a
  // single active day drop (variance undefined).
  // ---------------------------------------------------------------------
  def q203Burstiness(s: SparkSession, dir: String): DataFrame =
    fanoFactor(t(s, dir, "events"), "user_id", to_date(col("ts")))

  val q203BurstinessSql: String =
    """WITH counts AS (
      |  SELECT user_id, CAST(ts AS DATE) AS b, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT user_id, COUNT(*) AS n_buckets,
      |    CAST(SUM(c) AS BIGINT) AS n_events,
      |    CAST(SUM(c * c) AS DOUBLE) AS s2, CAST(SUM(c) AS DOUBLE) AS s1,
      |    CAST(COUNT(*) AS DOUBLE) AS nb
      |  FROM counts GROUP BY user_id)
      |SELECT user_id, n_buckets, n_events,
      |  ROUND(((s2 - s1 * s1 / nb) / (nb - 1.0)) / (s1 / nb), 6) AS fano
      |FROM g WHERE n_buckets >= 2""".stripMargin

  /** TOP-SHARE concentration — what fraction of a group's total mass
    * its top-q rows hold ("the top 1% of documents carry 38% of the
    * tokens"): the tail-heaviness readout that decides sampling and
    * cap policies, complementing [[giniByGroup]] with an
    * interpretable number. The value cut comes from the positional
    * threshold rule (actual data value); mass above the cut is one
    * conditional decimal sum. Rows AT the threshold are included
    * (>= cut — deterministic, stated). */
  def topShare(df: DataFrame, group: String, value: String,
      q: Double): DataFrame = {
    val cut = graft.operators.Curation.quantileThresholds(
        df.select(col(group), col(value)), group, value, q)
      .select(col(group), col("threshold"))
    df.join(broadcast(cut), group)
      .groupBy(col(group))
      .agg(count(lit(1)).as("n"),
        sum(when(col(value) >= col("threshold"), 1L).otherwise(0L))
          .as("n_top"),
        when(sum(col(value).cast(DecimalType(30, 4))).cast(DoubleType)
            =!= 0.0,
          round(sum(when(col(value) >= col("threshold"), col(value))
              .cast(DecimalType(30, 4))).cast(DoubleType) /
            sum(col(value).cast(DecimalType(30, 4))).cast(DoubleType), 6))
          .as("top_share"))
  }

  // ---------------------------------------------------------------------
  // q218_top_share — per-source share of character mass held by the
  // top-10% longest documents. Integer counts + one exact-decimal
  // ratio.
  // ---------------------------------------------------------------------
  def q218TopShare(s: SparkSession, dir: String): DataFrame =
    topShare(t(s, dir, "documents"), "source", "n_chars", 0.1)

  val q218TopShareSql: String =
    """WITH counts AS (
      |  SELECT source, n_chars, COUNT(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |cum AS (
      |  SELECT source, n_chars,
      |    SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge,
      |    SUM(cnt) OVER (PARTITION BY source) AS n
      |  FROM counts),
      |cut AS (
      |  SELECT source, MAX(n_chars) AS threshold FROM cum
      |  WHERE cum_ge >= CEIL(n * 0.1) GROUP BY source)
      |SELECT d.source, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN d.n_chars >= c.threshold THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_top,
      |  ROUND(CAST(SUM(CASE WHEN d.n_chars >= c.threshold
      |        THEN CAST(d.n_chars AS DECIMAL(30,4)) END) AS DOUBLE)
      |    / CAST(SUM(CAST(d.n_chars AS DECIMAL(30,4))) AS DOUBLE), 6)
      |    AS top_share
      |FROM documents d JOIN cut c ON d.source = c.source
      |GROUP BY d.source""".stripMargin

  /** NULL-PATTERN profile — missingness CO-OCCURRENCE across columns:
    * per column pair, how often both are NULL together vs the product
    * of their marginal null rates (MCAR data keeps the ratio near 1;
    * structurally-linked gaps blow it up). One scan to per-row null
    * flags, one aggregate over the bounded column-pair space. */
  def nullPattern(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val flags = df.select(cols.map(c =>
      col(c).isNull.cast("long").as(s"__n_$c")): _*)
    val aggs = cols.map(c => sum(col(s"__n_$c")).as(s"null_$c")) ++
      cols.combinations(2).map { case Seq(a, b) =>
        sum(col(s"__n_$a") * col(s"__n_$b")).as(s"both_${a}_$b") }.toSeq :+
      count(lit(1)).as("n")
    val g = flags.agg(aggs.head, aggs.tail: _*)
    val rows = cols.combinations(2).map { case Seq(a, b) =>
      g.select(lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"null_$a").as("n_null_a"), col(s"null_$b").as("n_null_b"),
        col(s"both_${a}_$b").as("n_both"), col("n"),
        when(col(s"null_$a") > 0 && col(s"null_$b") > 0,
          round((col(s"both_${a}_$b").cast("double") *
            col("n").cast("double")) /
            (col(s"null_$a").cast("double") *
              col(s"null_$b").cast("double")), 6)).as("lift"))
    }.toSeq
    rows.reduce(_ unionAll _)
  }

  // ---------------------------------------------------------------------
  // q219_null_pattern — planted coupled missingness over customer:
  // every 5th row NULLs BOTH segment and balance-band (linked), every
  // 3rd NULLs the phone-ish comment column independently; the pair
  // lifts must separate coupled from independent gaps.
  // ---------------------------------------------------------------------
  def q219NullPattern(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(
      when(col("c_custkey") % 5 === 0, lit(null).cast("string"))
        .otherwise(col("c_mktsegment")).as("seg"),
      when(col("c_custkey") % 5 === 0, lit(null).cast("long"))
        .otherwise(floor(col("c_acctbal") / 1000.0).cast("long"))
        .as("band"),
      when(col("c_custkey") % 3 === 0, lit(null).cast("long"))
        .otherwise(col("c_nationkey").cast("long")).as("nat"))
    nullPattern(c, Seq("seg", "band", "nat"))
  }

  val q219NullPatternSql: String =
    """WITH c AS (
      |  SELECT
      |    CASE WHEN c_custkey % 5 = 0 THEN NULL
      |         ELSE c_mktsegment END AS seg,
      |    CASE WHEN c_custkey % 5 = 0 THEN NULL
      |         ELSE CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) END AS band,
      |    CASE WHEN c_custkey % 3 = 0 THEN NULL
      |         ELSE CAST(c_nationkey AS BIGINT) END AS nat
      |  FROM customer),
      |g AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN seg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_seg,
      |    CAST(SUM(CASE WHEN band IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_band,
      |    CAST(SUM(CASE WHEN nat IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_nat,
      |    CAST(SUM(CASE WHEN seg IS NULL AND band IS NULL THEN 1 ELSE 0
      |      END) AS BIGINT) AS b_sb,
      |    CAST(SUM(CASE WHEN seg IS NULL AND nat IS NULL THEN 1 ELSE 0
      |      END) AS BIGINT) AS b_sn,
      |    CAST(SUM(CASE WHEN band IS NULL AND nat IS NULL THEN 1 ELSE 0
      |      END) AS BIGINT) AS b_bn,
      |    COUNT(*) AS n
      |  FROM c)
      |SELECT 'seg' AS col_a, 'band' AS col_b, n_seg AS n_null_a,
      |  n_band AS n_null_b, b_sb AS n_both, n,
      |  CASE WHEN n_seg > 0 AND n_band > 0 THEN
      |    ROUND((CAST(b_sb AS DOUBLE) * CAST(n AS DOUBLE))
      |      / (CAST(n_seg AS DOUBLE) * CAST(n_band AS DOUBLE)), 6) END
      |    AS lift
      |FROM g
      |UNION ALL
      |SELECT 'seg', 'nat', n_seg, n_nat, b_sn, n,
      |  CASE WHEN n_seg > 0 AND n_nat > 0 THEN
      |    ROUND((CAST(b_sn AS DOUBLE) * CAST(n AS DOUBLE))
      |      / (CAST(n_seg AS DOUBLE) * CAST(n_nat AS DOUBLE)), 6) END
      |FROM g
      |UNION ALL
      |SELECT 'band', 'nat', n_band, n_nat, b_bn, n,
      |  CASE WHEN n_band > 0 AND n_nat > 0 THEN
      |    ROUND((CAST(b_bn AS DOUBLE) * CAST(n AS DOUBLE))
      |      / (CAST(n_band AS DOUBLE) * CAST(n_nat AS DOUBLE)), 6) END
      |FROM g""".stripMargin

  /** TRAILING-WINDOW positional quantile — per (key, day) the median
    * of the key's daily values over the last `window` days: the rolling
    * robust baseline behind anomaly bands. Built on the DAILY AGGREGATE
    * table (|keys|×|days| — corpus-independent), expanded by a bounded
    * range self-join (each day sees ≤ `window` trailing rows) and cut
    * by the positional top-rule per (key, day). Days with fewer than
    * `window` prior observations use what exists (leading-edge
    * convention, stated). */
  def rollingQuantile(daily: DataFrame, key: String, day: String,
      value: String, window: Int, q: Double): DataFrame = {
    val base = daily.select(col(key), col(day).as("__d"),
      col(value).as("__v"))
    val trail = base.select(col(key), col("__d").as("__td"),
      col("__v").as("__tv"))
    val joined = base.join(trail, Seq(key))
      .filter(col("__td") <= col("__d") &&
        col("__td") > col("__d") - window)
    OrderStats.upperTail(OrderStats.counts(joined, Seq(key, "__d"), "__tv"),
        Seq(key, "__d"), "__tv", "cnt", Seq(q))
      .select(col(key), col("__d").as(day), col("n").as("n_window"),
        col("threshold").as("rolling_q"))
  }

  // ---------------------------------------------------------------------
  // q222_rolling_quantile — trailing-7-day median of daily event-value
  // mass per event type. The oracle replays the bounded self-join and
  // the positional rule.
  // ---------------------------------------------------------------------
  def q222RollingQuantile(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01")).cast("long")
          .as("day"))
      .agg(graft.operators.sumDec(col("value")).as("v"))
    rollingQuantile(daily, "event_type", "day", "v", window = 7, q = 0.5)
  }

  val q222RollingQuantileSql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE))::BIGINT
      |      AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2),
      |j AS (
      |  SELECT a.event_type, a.day, b.v AS tv
      |  FROM daily a JOIN daily b ON a.event_type = b.event_type
      |    AND b.day <= a.day AND b.day > a.day - 7),
      |counts AS (
      |  SELECT event_type, day, tv, COUNT(*) AS c
      |  FROM j GROUP BY 1, 2, 3),
      |cum AS (
      |  SELECT event_type, day, tv,
      |    SUM(c) OVER (PARTITION BY event_type, day ORDER BY tv DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge,
      |    SUM(c) OVER (PARTITION BY event_type, day) AS n
      |  FROM counts)
      |SELECT event_type, day, CAST(MAX(n) AS BIGINT) AS n_window,
      |  MAX(tv) AS rolling_q
      |FROM cum WHERE cum_ge >= CEIL(n * 0.5)
      |GROUP BY event_type, day""".stripMargin

  /** SEASONALITY STRENGTH — how much of a daily series a weekday
    * profile explains: 1 − SS_residual/SS_total around the key's
    * per-weekday means (the variance-explained readout that decides
    * whether a forecast needs a seasonal term at all, next to q191's
    * seasonal-naive error). Exact decimal power sums per (key, weekday)
    * and per key; one fixed-shape combining expression; keys with zero
    * total variance surface NULL. */
  def seasonalityStrength(daily: DataFrame, key: String, day: String,
      value: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val base = daily.select(col(key), (col(day) % 7).as("__wd"),
      col(value).as("__v"))
    // per-weekday sums stay DECIMAL so the cross-weekday totals are
    // exact; the per-weekday residual terms are doubles, so SS_res is
    // an ORDERED fold over weekday-sorted terms (the q92 discipline —
    // a plain sum() of 7 doubles is partition-order-dependent)
    val byWd = base.groupBy(col(key), col("__wd"))
      .agg(count(lit(1)).cast("double").as("nw"),
        sum(col("__v").cast(DecimalType(30, 4))).as("swd"),
        sum((col("__v") * col("__v")).cast(DecimalType(30, 8))).as("swwd"))
    val term = col("swwd").cast(DoubleType) -
      col("swd").cast(DoubleType) * col("swd").cast(DoubleType) / col("nw")
    val g = byWd.groupBy(col(key)).agg(
      sum(col("nw")).as("n"),
      sum(col("swd")).cast(DoubleType).as("s"),
      sum(col("swwd")).cast(DoubleType).as("ss"),
      array_sort(collect_list(struct(col("__wd"), term.as("t"))))
        .as("__ts"))
    val ssRes = aggregate(col("__ts"), lit(0.0d),
      (acc, x) => acc + x.getField("t"))
    val ssTot = col("ss") - col("s") * col("s") / col("n")
    g.select(col(key), col("n").cast("long").as("n_days"),
      when(ssTot =!= 0.0,
        round(lit(1.0) - ssRes / ssTot, 6))
        .as("seasonality_strength"))
  }

  // ---------------------------------------------------------------------
  // q223_seasonality — weekday-profile variance-explained per event
  // type over daily value mass. The oracle replays the per-weekday
  // power-sum decomposition and the identical combining expression.
  // ---------------------------------------------------------------------
  def q223Seasonality(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01")).cast("long")
          .as("day"))
      .agg(graft.operators.sumDec(col("value")).as("v"))
    seasonalityStrength(daily, "event_type", "day", "v")
  }

  val q223SeasonalitySql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE))::BIGINT
      |      AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2),
      |by_wd AS (
      |  SELECT event_type, day % 7 AS wd,
      |    CAST(COUNT(*) AS DOUBLE) AS nw,
      |    SUM(CAST(v AS DECIMAL(30,4))) AS swd,
      |    SUM(CAST(v * v AS DECIMAL(30,8))) AS swwd
      |  FROM daily GROUP BY 1, 2),
      |g AS (
      |  SELECT event_type, SUM(nw) AS n,
      |    CAST(SUM(swd) AS DOUBLE) AS s,
      |    CAST(SUM(swwd) AS DOUBLE) AS ss,
      |    list_reduce(list_prepend(0.0::DOUBLE,
      |      list(CAST(swwd AS DOUBLE)
      |        - CAST(swd AS DOUBLE) * CAST(swd AS DOUBLE) / nw
      |        ORDER BY wd)), (a, b) -> a + b) AS ss_res
      |  FROM by_wd GROUP BY event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days,
      |  CASE WHEN ss - s * s / n <> 0.0 THEN
      |    ROUND(1.0 - ss_res / (ss - s * s / n), 6) END
      |    AS seasonality_strength
      |FROM g""".stripMargin

}
