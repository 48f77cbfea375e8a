package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables, Warehouse}
import graft.model.{CDColumn, CDTable, TypeLattice}
import graft.operators.TermIndex
import graft.pipeline.{Rollup, Sync}
import graft.sources.TsvSource

/** One benchmark run of one workload, driven by `run.py`:
  *
  * {{{
  *   Main --workload <sync_daily|warehouse_sql|operator_queries>
  *        --work <dir with plan.json> --seconds <n> --trace <0|1>
  * }}}
  *
  * The inputs (gzip-TSV extracts, source parquet, the plan) are generated
  * from the seed before this JVM starts; the engine sees only them. The run
  * writes `result.json` into the work dir: one record per step (the timed
  * operations and the untimed set-up), the output checks, and with
  * `--trace 1` the call spans and every Spark job the listener saw. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = new File(opt("work")).getAbsolutePath
    val trace = opt.getOrElse("trace", "0") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // graft.Bench's session config, at this host's core count
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config(Tables.SpreadScansKey, "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      // deep enough that every job's call site reaches an engine frame
      .config("spark.callstack.depth", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, work, opt("workload"),
      opt("seconds").toDouble, trace, cpus)
    try run.execute()
    finally {
      run.writeResult()
      spark.stop()
    }
  }
}

final class Run(spark: SparkSession, work: String, workload: String,
    seconds: Double, trace: Boolean, cpus: Int) {
  private val plan: JsonNode =
    Run.json.readTree(new File(s"$work/plan.json"))
  private val sc = spark.sparkContext
  private val recorder = if (trace) Some(new Recorder(spark)) else None
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  // ---- step and span bookkeeping ---------------------------------------

  private final case class Step(id: String, kind: String, name: String,
      timed: Boolean, startMs: Long, endMs: Long, seconds: Double,
      fsRead: Long, fsWrite: Long, error: Option[String],
      extra: Map[String, Any], round: Int)
  private val steps = mutable.ArrayBuffer.empty[Step]
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val notes = mutable.LinkedHashMap.empty[String, Any]
  private var firstTimedMs = -1L
  private var currentStep = ""
  /** Which repetition of the workload's op list a timed step belongs to. */
  private var currentRound = 1
  private var stepExtra = Map.empty[String, Any]

  /** Run `body` as one step: its own job group (so every job it causes
    * carries the step id), wall time, Hadoop byte counters. A throw is a
    * failed op, recorded and swallowed so the run completes. */
  private def step[T](kind: String, name: String, timed: Boolean = true)(
      body: => T): Option[T] = {
    val id = s"s${steps.size}"
    if (timed && firstTimedMs < 0) firstTimedMs = System.currentTimeMillis()
    sc.setJobGroup(id, s"$kind $name", interruptOnCancel = false)
    currentStep = id
    stepExtra = Map.empty
    val (r0, w0) = FsStats.snapshot()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try Right(body)
      catch { case NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: ${
          Option(e.getMessage).getOrElse("").take(300)}")
      }
    val dt = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    val (r1, w1) = FsStats.snapshot()
    sc.clearJobGroup()
    currentStep = ""
    steps += Step(id, kind, name, timed, wall0, wall1, dt, r1 - r0, w1 - w0,
      out.left.toOption, stepExtra, currentRound)
    out.toOption
  }

  /** Time one call into the engine's public surface as a span under the
    * current step; `layer` is where jobs without an engine frame on
    * their stack (the caller's own collect) are attributed. */
  private def call[T](layer: String, fn: String)(body: => T): T = {
    val s = System.currentTimeMillis()
    try body
    finally spans += Map("step" -> currentStep, "name" -> fn,
      "layer" -> layer, "start_ms" -> s,
      "end_ms" -> System.currentTimeMillis())
  }

  private def lastStepId: String = steps.last.id

  private def check(name: String, stepId: String, ok: Boolean,
      detail: => String = ""): Unit = checks.synchronized {
    checks += Map("name" -> name, "step" -> stepId, "ok" -> ok,
      "detail" -> (if (ok) "" else detail))
  }

  private def elapsedTimed: Double =
    (System.currentTimeMillis() - firstTimedMs) / 1000.0

  // ---- plan ------------------------------------------------------------

  private val schema: Seq[CDTable] = Run.schemaOf(plan)
  private val facts = plan.get("facts").elements().asScala.map(_.asText)
    .toSeq
  private val history = plan.get("history").asInt
  private val syncs = plan.get("syncs").elements().asScala.toSeq
  private val rounds = plan.get("rounds").elements().asScala.toIndexedSeq

  private def manifestOf(s: JsonNode): Seq[Sync.ManifestEntry] =
    s.get("manifest").elements().asScala.map(e =>
      Sync.ManifestEntry(e.get(0).asText, e.get(1).asText, e.get(2).asText))
      .toSeq

  private def tableOf(name: String): CDTable =
    schema.find(_.tableName == name).get

  private val lineitemRollup = Rollup.Spec(
    groupCols = Seq("l_returnflag", "l_linestatus"),
    sumCols = Seq("l_quantity", "l_extendedprice"))
  private val orderProfileCols = Seq("o_totalprice", "o_orderdate",
    "o_custkey")

  private def warehouse(dir: String, db: String): Warehouse =
    new Warehouse(spark, Warehouse.Config(dir, db = db,
      parallelism = cpus, canonicalize = true,
      canonicalSpecs = Map(
        "events" -> Warehouse.datePartitioned("ts", "event_date")),
      manifestTables = Seq("events"),
      maintainedRollups = Seq(
        Warehouse.RollupDef("lineitem_flags", "lineitem", lineitemRollup)),
      maintainedProfiles = Map("orders" -> orderProfileCols),
      maintainedSkipStats = Map("lineitem" -> Seq("l_shipdate")),
      maintainedBloomStats = Map("orders" -> Seq("o_orderkey")),
      maintainedIndexes = Seq(
        Warehouse.IndexDef("docs", "documents", "doc_id", "text")),
      maintainedPacks = Seq(
        Warehouse.PackDef("docs_pack", "documents", "doc_id", "text")),
      maintainedVectorIndexes = Seq(
        Warehouse.VectorIndexDef("vecs", "embeddings", "vec_id", "embedding")),
      onSummary = _ => ()))

  /** Source rows as delivered by the end of `day` (0 = cold sync). */
  private def delivered(table: String, day: Int): DataFrame = {
    val df = spark.read.parquet(s"$work/sliced/$table.parquet")
    val kept = if (facts.contains(table))
      df.filter(col("__slice") < history + day) else df
    kept.drop("__slice")
  }

  private def checkSummary(s: JsonNode, sum: Sync.SyncSummary): Unit = {
    val e = s.get("expect")
    val got = (sum.fetched, sum.skipped, sum.removed, sum.failed)
    val want = (e.get("fetched").asLong, e.get("skipped").asLong,
      e.get("removed").asLong, 0L)
    check(s"summary_${s.get("kind").asText}_d${s.get("day").asInt}",
      lastStepId, got == want, s"fetched/skipped/removed/failed $got, " +
        s"predicted $want")
  }

  private def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
  }

  // ---- workloads -------------------------------------------------------

  def execute(): Unit = workload match {
    case "sync_daily" => syncDaily()
    case "warehouse_sql" => warehouseSql()
    case "operator_queries" => operatorQueries()
    case other => throw new IllegalArgumentException(s"workload $other")
  }

  /** Set-up for the sync workloads: the JVM's first Spark job, so the
    * cold sync does not pay scheduler and codegen start-up. Anything
    * closer to a real sync (a warm-up sync, or a TSV-to-parquet round
    * trip) costs more set-up than the benchmark's time budget allows. */
  private def warmUp(): Unit = step("warmup", "first_job", timed = false)(
    spark.range(100000).selectExpr("sum(id)").collect())

  private def syncDaily(): Unit = {
    warmUp()
    val whDir = s"$work/wh"
    val wh = warehouse(whDir, "canvasdata")
    step("cold_sync", "cold")(call("Warehouse", "Warehouse.sync")(
      wh.sync(manifestOf(syncs.head), schema))).foreach(checkSummary(
        syncs.head, _))
    // one daily cycle: the next slice of every fact table and re-issued
    // dimension dumps, the same manifest again, then the day's forgets
    val day = 1
    def syncOf(kind: String) = syncs.find(s =>
      s.get("kind").asText == kind && s.get("day").asInt == day).get
    val (delta, noop) = (syncOf("delta"), syncOf("noop"))
    step("delta_sync", s"d$day")(call("Warehouse", "Warehouse.sync")(
      wh.sync(manifestOf(delta), schema))).foreach(checkSummary(delta, _))
    step("noop_sync", s"d$day")(call("Warehouse", "Warehouse.sync")(
      wh.sync(manifestOf(noop), schema))).foreach { s =>
      checkSummary(noop, s)
      val w = steps.last.fsWrite
      check(s"noop_writes_nothing_d$day", lastStepId, w == 0L,
        s"no-op sync wrote $w bytes")
    }
    val forgotten = plan.get("forgets").elements().asScala.toSeq
      .filter(_.get("day").asInt == day).map { f =>
        val (t, c) = (f.get("table").asText, f.get("column").asText)
        val keys = f.get("keys").elements().asScala.map(_.asLong).toSeq
        step("forget", s"$t.$c")(call("Warehouse", "Warehouse.forget")(
          wh.forget(schema, t, c, keys)))
        (t, c, keys)
      }
    notes("warehouse_bytes") = dirBytes(whDir)
    notes("delta_gz_bytes") = delta.get("gz_bytes").asLong
    notes("gz_bytes_delivered") =
      syncs.head.get("gz_bytes").asLong + delta.get("gz_bytes").asLong
    val endStep = steps.filter(_.timed).last.id
    // -- output checks, outside the timed region --
    step("check", "state", timed = false)(inParallel(
      schema.map(t => () => {
        val name = t.tableName
        var want = delivered(name, day)
        forgotten.filter(_._1 == name).foreach { case (_, c, keys) =>
          want = want.filter(!col(c).isin(keys: _*)) }
        val got = Digest.withParsedEmbedding(wh.canonicalTable(name)
          .select(t.columns.map(c => col(c.name)): _*))
        val (g, w) = (Digest.of(got), Digest.of(want))
        check(s"canonical_$name", endStep, g == w,
          s"canonical (rows, digest) $g, delivered minus forgotten $w")
      }) ++
      forgotten.toSeq.map { case (t, c, keys) => () => {
        val raw = TsvSource.read(spark,
          TypeLattice.toStructType(tableOf(t)), s"$whDir/raw_files/$t")
        val n = raw.filter(col(c).isin(keys: _*)).count()
        check(s"forgotten_raw_$t.$c", endStep, n == 0,
          s"$n raw rows still hold forgotten keys")
        val nc = wh.canonicalTable(t).filter(col(c).isin(keys: _*)).count()
        check(s"forgotten_canonical_$t.$c", endStep, nc == 0,
          s"$nc canonical rows still hold forgotten keys")
        if (t == "documents") {
          val docs = delivered("documents", day)
            .filter(col("doc_id").isin(keys: _*))
            .select((col("doc_id") + 30000000L).as("doc_id"), col("text"))
          val hits = wh.nearDupsIn("docs", docs)
            .filter(col("a").isin(keys: _*)).count()
          check("forgotten_neardup_index", endStep, hits == 0,
            s"$hits near-dup hits name forgotten documents")
        }
      } } :+ (() => checkRollup(wh, endStep))))
  }

  /** The output checks read only, so they run side by side: at this data
    * size each is a few short jobs, and their driver-side latency
    * overlaps. */
  private def inParallel(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  /** The maintained rollup equals a recompute over the canonical table
    * (the store reports decimal partial sums as double). */
  private def checkRollup(wh: Warehouse, stepId: String): Unit = {
    val got = wh.rollup("lineitem_flags", lineitemRollup)
    val want = rollupRecompute(wh.canonicalTable("lineitem"))
    val (g, w) = (render(got.collect().toSeq), render(want.collect().toSeq))
    check("rollup_recompute", stepId, g == w, s"rollup $g, recompute $w")
  }

  private def rollupRecompute(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
      count(lit(1)).as("n"),
      sum(col("l_quantity").cast("decimal(30,4)")).cast("double")
        .as("sum_l_quantity"),
      sum(col("l_extendedprice").cast("decimal(30,4)")).cast("double")
        .as("sum_l_extendedprice"))

  // ---- warehouse_sql ---------------------------------------------------

  private val statementNames = Seq("pricing_summary", "shipping_priority",
    "events_last_day", "lineitem_ship_window", "orders_point_lookup",
    "raw_orders_scan", "near_dup_probe", "ann_probe", "rollup_read",
    "profile_read")

  private def sqlText(name: String, r: JsonNode,
      t: String => String): String = name match {
    case "pricing_summary" =>
      s"""SELECT l_returnflag, l_linestatus,
         |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
         |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_base,
         |  SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS sum_disc,
         |  COUNT(*) AS n
         |FROM ${t("lineitem")}
         |WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin
    case "shipping_priority" =>
      s"""SELECT l.l_orderkey, o.o_orderdate,
         |  SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
         |      (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS revenue
         |FROM ${t("customer")} c
         |JOIN ${t("orders")} o ON c.c_custkey = o.o_custkey
         |JOIN ${t("lineitem")} l ON l.l_orderkey = o.o_orderkey
         |WHERE c.c_mktsegment = 'BUILDING'
         |  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
         |  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
         |GROUP BY l.l_orderkey, o.o_orderdate
         |ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
         |LIMIT 10""".stripMargin
    case "events_last_day" =>
      s"""SELECT event_type, COUNT(*) AS n,
         |  SUM(CAST(value AS DECIMAL(18,2))) AS total
         |FROM ${t("events")}
         |WHERE event_date = DATE '${lastEventDay}'
         |GROUP BY event_type""".stripMargin
    case "lineitem_ship_window" =>
      s"""SELECT COUNT(*) AS n,
         |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS total
         |FROM ${t("lineitem")}
         |WHERE l_shipdate >= TIMESTAMP '${r.get("ship_lo").asText} 00:00:00'
         |  AND l_shipdate < TIMESTAMP '${r.get("ship_hi").asText} 00:00:00'
         |""".stripMargin
    case "raw_orders_scan" =>
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
         |FROM ${t("raw_orders")}
         |GROUP BY o_orderpriority""".stripMargin
  }

  private var sqlDay = 0
  private def lastEventDay: String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(history + sqlDay - 1)
      .toString

  private def probeDocs(r: JsonNode): DataFrame = {
    import spark.implicits._
    r.get("probe_docs").elements().asScala.map(p =>
      (p.get(0).asLong, p.get(1).asText)).toSeq.toDF("doc_id", "text")
  }

  private def probeVecs(r: JsonNode): DataFrame = {
    import spark.implicits._
    r.get("probe_vecs").elements().asScala.map(p =>
      (p.get(0).asLong, p.get(1).elements().asScala.map(_.floatValue)
        .toArray)).toSeq.toDF("q_id", "q_emb")
  }

  /** One statement against the warehouse: the DataFrame it runs. */
  private def statement(wh: Warehouse, name: String,
      r: JsonNode): DataFrame = name match {
    case "orders_point_lookup" =>
      wh.readPointLookup("orders", "o_orderkey",
        r.get("order_keys").elements().asScala.map(_.asLong).toSeq)
    case "near_dup_probe" => wh.nearDupsIn("docs", probeDocs(r))
    case "ann_probe" => wh.annIn("vecs", probeVecs(r), k = 5)
    case "rollup_read" => wh.rollup("lineitem_flags", lineitemRollup)
    case "profile_read" => wh.profileOf("orders", orderProfileCols)
    case _ => wh.sql(sqlText(name, r, {
      case "raw_orders" => "canvasdata.orders"
      case x => s"canvasdata.${x}_canonical"
    }))
  }

  private def layerOfStatement(name: String): (String, String) = name match {
    case "orders_point_lookup" => ("Skipping", "Warehouse.readPointLookup")
    case "near_dup_probe" => ("Dedup", "Warehouse.nearDupsIn")
    case "ann_probe" => ("Similarity", "Warehouse.annIn")
    case "rollup_read" => ("Rollup", "Warehouse.rollup")
    case "profile_read" => ("Stats", "Warehouse.profileOf")
    case _ => ("Warehouse", "Warehouse.sql")
  }

  /** Canonical rendering of result rows for comparison: timestamps with
    * and without zone, decimals of any scale, in row-sorted order. */
  private def render(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case t: java.time.LocalDateTime => t.toString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }.mkString("|")).sorted

  private def warehouseSql(): Unit = {
    warmUp()
    val whDir = s"$work/wh"
    val wh = warehouse(whDir, "canvasdata")
    // set-up: the warehouse as sync_daily leaves it after its daily
    // delivery (no forget)
    sqlDay = 1
    step("setup", "cold_sync", timed = false)(
      wh.sync(manifestOf(syncs.head), schema))
    (1 to sqlDay).foreach { d =>
      val delta = syncs.find(s => s.get("kind").asText == "delta" &&
        s.get("day").asInt == d).get
      step("setup", s"delta_d$d", timed = false)(
        wh.sync(manifestOf(delta), schema))
    }
    // warm-up round over every statement, untimed
    statementNames.foreach(n => step("warmup", n, timed = false)(
      statement(wh, n, rounds(0)).collect()))
    val results = mutable.LinkedHashMap.empty[(Int, String), (String,
      Seq[Row])]
    var round = 0
    while (round == 0 || (elapsedTimed < seconds && round < rounds.size - 1)) {
      round += 1
      currentRound = round
      val r = rounds(round)
      r.get("order").elements().asScala.map(i => statementNames(i.asInt))
        .foreach { n =>
          val (layer, fn) = layerOfStatement(n)
          step("sql", n) {
            call(layer, fn) {
              val df = statement(wh, n, r)
              val rows = df.collect().toSeq
              stepExtra = sqlStats(df)
              if (round == 1) results((round, n)) = (lastStepIdNext, rows)
              rows
            }
          }
        }
    }
    notes("rounds") = round
    notes("warehouse_bytes") = dirBytes(whDir)
    step("check", "statements", timed = false)(
      checkStatements(wh, results.toMap))
  }

  // the step being recorded is appended after its body returns
  private def lastStepIdNext: String = s"s${steps.size}"

  /** Planning time and file pruning for one executed statement. */
  private def sqlStats(df: DataFrame): Map[String, Any] = {
    val qe = df.queryExecution
    val planningMs = qe.tracker.phases.values
      .map(p => p.endTimeMs - p.startTimeMs).sum
    if (!trace) return Map("planning_ms" -> planningMs)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object H extends AdaptiveSparkPlanHelper
    val scans = H.collect(qe.executedPlan) { case s: FileSourceScanExec => s }
    var read = 0L
    var total = 0L
    scans.foreach { s =>
      read += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      total += s.relation.location.rootPaths.map { p =>
        val fs = p.getFileSystem(sc.hadoopConfiguration)
        if (!fs.exists(p)) 0L
        else {
          val it = fs.listFiles(p, true)
          var n = 0L
          while (it.hasNext) {
            val f = it.next().getPath.getName
            if (!f.startsWith("_") && !f.startsWith(".") &&
              !f.endsWith(".crc")) n += 1
          }
          n
        }
      }.sum
    }
    Map("planning_ms" -> planningMs, "files_read" -> read,
      "files_total" -> total)
  }

  private def checkStatements(wh: Warehouse,
      results: Map[(Int, String), (String, Seq[Row])]): Unit = {
    val r = rounds(1)
    def src(t: String): String = s"src_$t"
    Seq("lineitem", "orders", "customer").foreach(t =>
      delivered(t, sqlDay).createOrReplaceTempView(src(t)))
    delivered("orders", sqlDay).createOrReplaceTempView(src("raw_orders"))
    delivered("events", sqlDay).withColumn("event_date", to_date(col("ts")))
      .createOrReplaceTempView(src("events"))
    results.foreach { case ((_, n), (stepId, rows)) =>
      val got = render(rows)
      n match {
        case "near_dup_probe" =>
          // each exact copy of an indexed document finds it first
          val best = rows.groupBy(_.getAs[Long]("b")).map { case (b, rs) =>
            b -> rs.maxBy(_.getAs[Double]("est")).getAs[Long]("a") }
          val ok = r.get("probe_docs").elements().asScala
            .filter(_.get(2).asLong >= 0)
            .forall(p => best.get(p.get(0).asLong).contains(p.get(2).asLong))
          check(s"sql_$n", stepId, ok, s"best matches $best")
        case "ann_probe" =>
          val top = rows.filter(_.getAs[Any]("rnk").toString == "1")
            .map(x => x.getAs[Long]("q_id") -> x.getAs[Long]("vec_id")).toMap
          val ok = r.get("probe_vecs").elements().asScala.forall(p =>
            top.get(p.get(0).asLong).contains(p.get(2).asLong))
          check(s"sql_$n", stepId, ok, s"top-1 $top")
        case "orders_point_lookup" =>
          val keys = r.get("order_keys").elements().asScala.map(_.asLong)
            .toSeq
          val want = render(delivered("orders", sqlDay)
            .filter(col("o_orderkey").isin(keys: _*)).collect().toSeq)
          check(s"sql_$n", stepId, got == want, s"$got vs $want")
        case "rollup_read" =>
          val want = render(rollupRecompute(delivered("lineitem", sqlDay))
            .collect().toSeq)
          check(s"sql_$n", stepId, got == want, s"$got vs $want")
        case "profile_read" =>
          val o = delivered("orders", sqlDay)
          val ok = orderProfileCols.forall { c =>
            val row = rows.find(_.getAs[String]("col_name") == c)
            val w = o.agg(min(col(c)).cast("string"), max(col(c))
              .cast("string"), sum(when(col(c).isNull, 1L).otherwise(0L)))
              .head()
            row.exists(x => x.getAs[String]("min_val") == w.getString(0) &&
              x.getAs[String]("max_val") == w.getString(1) &&
              x.getAs[Any]("n_null").toString == w.get(2).toString)
          }
          check(s"sql_$n", stepId, ok, s"profile $got")
        case _ =>
          val want = render(spark.sql(sqlText(n, r, src)).collect().toSeq)
          check(s"sql_$n", stepId, got == want && want.nonEmpty,
            s"${got.take(3)} vs ${want.take(3)}")
      }
    }
  }

  // ---- operator_queries ------------------------------------------------

  /** The operator queries timed, with the layer their caller-side jobs
    * belong to: one each from `Graph` (q122, the known failure),
    * `Components`, `TermIndex` and `Stats`. The time budget leaves out
    * the rest of the planned set (README.md). */
  private val operatorSet: Seq[(String, String)] = Seq(
    "q122_pagerank" -> "Graph", "q66_dedup_clusters" -> "Components",
    "q129_term_index" -> "TermIndex", "q152_median_mad" -> "Stats")

  /** One operator query. q129's entry in `SparkEntry.queries` keeps its
    * index under a fixed `/tmp` prefix; here it runs as the same three
    * public calls with the index inside the run's directory. */
  private def operatorQuery(q: String, dir: String): DataFrame = q match {
    case "q129_term_index" =>
      val idx = s"$work/term_index"
      val d = Tables.load(spark, dir, "documents")
      TermIndex.buildTermIndex(spark, d.filter(col("doc_id") % 2 === 0), idx)
      TermIndex.appendToTermIndex(spark, d.filter(col("doc_id") % 2 === 1),
        idx)
      TermIndex.probeTermIndex(spark, idx, Seq("spark", "merge", "window"),
        k = 15)
    case _ => SparkEntry.queries(q)(spark, dir)
  }

  private def operatorQueries(): Unit = {
    val dir = s"$work/src"
    // warm-up pass, untimed: gate fixtures, codegen and the first JIT
    // tier happen here and never inside a sample. The queries warm up side
    // by side, which overlaps their single-threaded driver work (planning,
    // code generation) and keeps set-up short.
    step("warmup", "operators", timed = false)(inParallel(
      operatorSet.map { case (q, _) => () => {
        operatorQuery(q, dir).collect(); () } }))
    spark.catalog.clearCache()
    val last = mutable.LinkedHashMap.empty[String, (String, DataFrame)]
    var pass = 0
    while (pass == 0 || elapsedTimed < seconds) {
      pass += 1
      currentRound = pass
      operatorSet.foreach { case (q, layer) =>
        step("operator", q) {
          call(layer, if (q == "q129_term_index") "TermIndex.*TermIndex"
              else s"SparkEntry.queries($q)") {
            val df = operatorQuery(q, dir)
            val rows = df.collect()
            last(q) = (lastStepIdNext,
              spark.createDataFrame(rows.toSeq.asJava, df.schema))
          }
        }
        spark.catalog.clearCache()
      }
    }
    notes("passes") = pass
    // results of the last pass, for the DuckDB oracle compare in run.py
    step("check", "dump", timed = false) {
      val out = s"$work/opq"
      last.foreach { case (q, (_, df)) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q") }
      notes("operator_steps") = last.map { case (q, (s, _)) => q -> s }.toMap
      Run.json.writeValue(new File(s"$out/oracle_sql.json"),
        operatorSet.map { case (q, _) => q -> SparkEntry.oracleSql(q) }
          .toMap)
    }
  }

  // ---- result ----------------------------------------------------------

  private def peakRssMb: Double = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)
  } catch { case NonFatal(_) => -1.0 }

  def writeResult(): Unit = {
    recorder.foreach(_.drain())
    val setupS = if (firstTimedMs < 0) -1.0
      else (firstTimedMs - jvmStartMs) / 1000.0
    val out = Map(
      "workload" -> workload, "cpus" -> cpus, "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb, "notes" -> notes.toMap,
      "steps" -> steps.map(s => Map("id" -> s.id, "kind" -> s.kind,
        "name" -> s.name, "timed" -> s.timed, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "fs_read_bytes" -> s.fsRead, "fs_write_bytes" -> s.fsWrite,
        "error" -> s.error, "extra" -> s.extra, "round" -> s.round)),
      "checks" -> checks, "spans" -> spans,
      "jobs" -> recorder.map(_.toJson).getOrElse(Nil),
      "stack_samples" -> recorder.map(_.samplesJson).getOrElse(Nil))
    Run.json.writeValue(new File(s"$work/result.json"), out)
  }
}

object Run {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The CD1 schema of the synced tables, as `plan.json` gives it. */
  def schemaOf(plan: JsonNode): Seq[CDTable] =
    plan.get("schema").fields().asScala.map { e =>
      CDTable(e.getKey, None, e.getValue.elements().asScala.map { c =>
        CDColumn(c.get("name").asText, c.get("type").asText,
          if (c.get("length").isNull) None else Some(c.get("length").asInt))
      }.toSeq)
    }.toSeq
}
