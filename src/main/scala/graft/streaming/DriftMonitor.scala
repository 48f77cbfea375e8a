package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Pca
import graft.pipeline.AppendCommit

/** [EXT] Streaming embedding-drift monitor — the linear-time MMD²
  * estimator ([[graft.operators.Pca.mmdDrift]]) maintained continuously
  * over an arriving embedding stream against a STATIC reference sample:
  * the observability loop a production corpus pipeline runs so a source
  * that silently changes embedding distribution (model swap, upstream
  * corruption, domain shift) pages someone before it poisons training.
  *
  * Semantics: rows pair in GLOBAL arrival order within each group — an
  * odd row carries over to meet the next batch's first row — and pair i
  * of a group scores against reference pair (i mod m), so the monitor's
  * cumulative statistic is a pure function of the arrived sequence, NOT
  * of how the stream was chopped into micro-batches (spec-proved
  * 1-batch ≡ N-batch, and gate-proved against an engine that never saw
  * batches at all). Evidence is (Σ floor(h·1e8) as exact integers,
  * n_pairs) per (group, batch) — integer sums are associative, so the
  * cumulative read is exact regardless of fold order (and the floor
  * quantization is a fixed IEEE tree, never an engine's-choice
  * double→decimal cast — the round-7 q234 lesson).
  *
  * Exactly-once: each micro-batch's evidence appends under the
  * [[AppendCommit]] ledger keyed by the micro-batch id — Structured
  * Streaming redelivers a failed batch under the SAME id, the ledger
  * no-ops the replay, and a crash mid-append converges by the
  * AppendCommit protocol. A batch's fold reads only PRIOR batches'
  * evidence (offsets + carried row), so a replay recomputes the same
  * alignment its first attempt used.
  *
  * Scale: per micro-batch cost is one window over the batch (bounded),
  * a broadcast join against per-group offsets (group cardinality =
  * model arity, like NB's classes) and the m-row reference table
  * (bounded sample — the estimator converges at ~10⁴ pairs, so m never
  * needs to track the corpus). Nothing rereads admitted history.
  */
object DriftMonitor {

  /** Pair a bounded reference sample (one distribution) by id order and
    * persist it as the monitor's comparison table (i, y0, y1). The
    * global window is over the REFERENCE SAMPLE only — bounded by
    * construction, never corpus-sized. */
  def buildReference(ref: DataFrame, id: String, vec: String,
      storeDir: String): Unit = {
    val w = Window.orderBy(col(id).asc)
    val idx = ref.select(col(id), col(vec))
      .withColumn("rn", (row_number().over(w) - 1).cast("long"))
      .withColumn("i", (col("rn") / 2).cast("long"))
    val ev = idx.filter(col("rn") % 2 === 0)
      .select(col("i"), col(vec).as("y0"))
    val od = idx.filter(col("rn") % 2 === 1)
      .select(col("i"), col(vec).as("y1"))
    ev.join(od, Seq("i")).coalesce(1)
      .write.mode("overwrite").parquet(s"$storeDir/ref")
  }

  private def evidenceRoot(storeDir: String) = s"$storeDir/evidence"

  private def evidenceOpt(spark: SparkSession, storeDir: String)
      : Option[DataFrame] = {
    val root = evidenceRoot(storeDir)
    val fs = graft.pipeline.Fs.of(root, spark)
    if (!fs.exists(new org.apache.hadoop.fs.Path(root))) None
    else {
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .filterNot(_.isDirectory)
        .map(_.getPath.toString)
        .filterNot(_.contains("/_"))
      if (files.isEmpty) None
      else {
        val df = spark.read.parquet(files.toIndexedSeq: _*)
        // FORMAT GUARD: the h-term sum changed scale when the float
        // discipline moved to floor(h·1e8) int64 quantization — the
        // new column name (`sum_hq`) IS the format version. A store
        // written before the change carries `sum_h` (raw-double-era
        // sums, 1e8× smaller); silently folding it into the cumulative
        // read would mix scales. Refuse and ask for a rebuild instead.
        require(!df.columns.contains("sum_h"),
          s"drift evidence at $root uses the pre-quantization format " +
            "(column sum_h) — incompatible with the fixed-point " +
            "sum_hq scale; rebuild the store from the source stream")
        Some(df)
      }
    }
  }

  /** The per-batch fold (usable standalone in tests or hand-rolled
    * foreachBatch). `batch` carries (group, id, vec). */
  def foreachBatchSink(storeDir: String, group: String, id: String,
      vec: String, d: Int): (DataFrame, Long) => Unit = { (batch, bid) =>
    val spark = batch.sparkSession
    val sid = s"stream$bid"
    val root = evidenceRoot(storeDir)
    if (!batch.isEmpty && !AppendCommit.isApplied(root, sid)) {
      // a crashed earlier attempt of THIS batch may have half-placed
      // tagged evidence files: clear them BEFORE planning the prior
      // read, or they (a) corrupt the offset/carry derivation and
      // (b) vanish mid-plan when appendBatch deletes them (the
      // documented AppendCommit live-read hazard)
      AppendCommit.clearCrashedAttempt(root, sid)
      val refDf = spark.read.parquet(s"$storeDir/ref")
      val m = refDf.count()
      require(m > 0, s"drift monitor at $storeDir has an empty reference")
      val prior = evidenceOpt(spark, storeDir)
      // per-group arrival offset and the carried (unpaired) last row
      val offs = prior.map(_.groupBy(col("g"))
          .agg(sum(col("n_rows")).as("off")))
      val carryRows = prior.map { p =>
        val wSeq = Window.partitionBy(col("g")).orderBy(col("seq").desc)
        p.withColumn("__r", row_number().over(wSeq))
          .filter(col("__r") === 1 && col("leftover").isNotNull)
          .join(p.groupBy(col("g")).agg(sum(col("n_rows")).as("__off")),
            Seq("g"))
          .select(col("g"), (col("__off") - 1).as("gpos"),
            col("leftover").as("v"))
      }
      val based = batch.select(col(group).as("g"), col(id).as("__id"),
          col(vec).as("v"))
        .withColumn("rn", (row_number().over(
          Window.partitionBy(col("g")).orderBy(col("__id").asc)) - 1)
          .cast("long"))
      val withOff = offs.fold(based.withColumn("off", lit(0L)))(o =>
        based.join(broadcast(o), Seq("g"), "left")
          .withColumn("off", coalesce(col("off"), lit(0L))))
      val rows = withOff
        .select(col("g"), (col("off") + col("rn")).as("gpos"), col("v"),
          col("off"))
      val all = carryRows.fold(rows.select(col("g"), col("gpos"), col("v")))(
        c => rows.select(col("g"), col("gpos"), col("v"))
          .unionByName(c))
      val ev = all.filter(col("gpos") % 2 === 0)
        .select(col("g"), (col("gpos") / 2).cast("long").as("p"),
          col("v").as("x0"))
      val od = all.filter(col("gpos") % 2 === 1)
        .select(col("g"), (col("gpos") / 2).cast("long").as("p"),
          col("v").as("x1"))
      val hRows = ev.join(od, Seq("g", "p"))
        .withColumn("ri", pmod(col("p"), lit(m)))
        .join(broadcast(refDf.withColumnRenamed("i", "ri")), Seq("ri"))
        .select(col("g"),
          Pca.mmdDot(col("x0"), col("x1")).as("dxx"),
          Pca.mmdDot(col("y0"), col("y1")).as("dyy"),
          Pca.mmdDot(col("x0"), col("y1")).as("dxy"),
          Pca.mmdDot(col("x1"), col("y0")).as("dyx"))
        .select(col("g"), Pca.mmdHq(d).as("hq"))
      val hAgg = hRows.groupBy(col("g"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("hq").cast(Pca.QSumDec)).as("sum_hq"))
      val nRows = rows.groupBy(col("g"))
        .agg(count(lit(1)).as("n_rows"), max(col("off")).as("off"))
      // the new leftover: the batch row sitting at the (now odd) end
      val leftovers = rows.join(nRows.select(col("g"),
          (col("off") + col("n_rows")).as("tot")), Seq("g"))
        .filter(col("tot") % 2 === 1 && col("gpos") === col("tot") - 1)
        .select(col("g"), col("v").as("leftover"))
      val evidence = nRows
        .join(hAgg, Seq("g"), "left")
        .join(leftovers, Seq("g"), "left")
        .select(col("g"), lit(bid).as("seq"), col("n_rows"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("sum_hq"), lit(0).cast(Pca.QSumDec)).as("sum_hq"),
          col("leftover"))
      AppendCommit.appendBatch(spark, root, sid) { tmp =>
        evidence.coalesce(1).write.mode("overwrite").parquet(tmp)
      }
    }
    ()
  }

  /** Cumulative drift per group: n_pairs and the decimal-exact mean of
    * all h terms folded so far (groups with no complete pair yet
    * surface NULL — a verdict, not a number). */
  def read(spark: SparkSession, storeDir: String): DataFrame =
    evidenceOpt(spark, storeDir) match {
      case None => throw new IllegalStateException(
        s"no drift evidence at $storeDir")
      case Some(p) =>
        p.groupBy(col("g"))
          .agg(sum(col("n_pairs")).as("n_pairs"),
            sum(col("sum_hq")).as("__sh"))
          .select(col("g"), col("n_pairs"),
            when(col("n_pairs") > 0,
              round((col("__sh").cast("double") / lit(Pca.GridScale))
                / col("n_pairs").cast("double"), 6)).as("mmd2"))
    }

  /** Per-process store dir for the gate (the q70 convention: cross-JVM
    * tmp sharing would race the commit protocols). */
  private lazy val gateStoreBase: String =
    java.nio.file.Files.createTempDirectory("graft_drift_").toString

  // ---------------------------------------------------------------------
  // q242_stream_drift — the monitor fed THREE micro-batches (vec_id
  // tertiles of every non-reference label, arrival = id order) against
  // a reference built from label 0, then read once. The oracle computes
  // the same statistic in one shot over the whole sequence — global
  // pairing, i mod m reference rotation, decimal mean — so the hash
  // match proves the carry/offset/ledger machinery makes the chopped
  // stream EQUAL to the never-chopped computation, against an engine
  // that has no batches at all.
  // ---------------------------------------------------------------------
  def q242StreamDrift(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.load(s, dir, "embeddings")
    val store = s"$gateStoreBase/dm_${dir.hashCode.toHexString}"
    if (!new java.io.File(s"$store.complete").exists()) {
      buildReference(e.filter(col("label") === 0), "vec_id", "embedding",
        store)
      val stream = e.filter(col("label") =!= 0)
        .select(col("label"), col("vec_id"), col("embedding"))
      val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
      val (t1, t2) = (maxId / 3, 2 * maxId / 3)
      val sink = foreachBatchSink(store, "label", "vec_id", "embedding",
        d = 64)
      sink(stream.filter(col("vec_id") < t1), 0L)
      sink(stream.filter(col("vec_id") >= t1 && col("vec_id") < t2), 1L)
      sink(stream.filter(col("vec_id") >= t2), 2L)
      new java.io.File(s"$store.complete").createNewFile()
    }
    read(s, store).select(col("g").as("label"), col("n_pairs"),
      col("mmd2"))
  }

  val q242StreamDriftSql: String = {
    def dotSql(a: String, b: String): String =
      s"""list_reduce(list_prepend(0.0::DOUBLE,
         |      [CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)
         |       FOR i IN range(1, len($a) + 1)]),
         |      (a, x) -> a + x)""".stripMargin
    def kernSql(dc: String): String =
      s"((1.0 + $dc / 64.0) * (1.0 + $dc / 64.0))"
    s"""WITH ridx AS (
       |  SELECT embedding,
       |    ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS rn
       |  FROM embeddings WHERE label = 0),
       |ref AS (
       |  SELECT e.i, e.embedding AS y0, o.embedding AS y1
       |  FROM (SELECT rn // 2 AS i, embedding FROM ridx
       |        WHERE rn % 2 = 0) e
       |  JOIN (SELECT rn // 2 AS i, embedding FROM ridx
       |        WHERE rn % 2 = 1) o ON o.i = e.i),
       |mm AS (SELECT COUNT(*) AS m FROM ref),
       |idx AS (
       |  SELECT label, embedding,
       |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id ASC) - 1
       |      AS rn
       |  FROM embeddings WHERE label <> 0),
       |pairs AS (
       |  SELECT e.label, e.i, e.embedding AS x0, o.embedding AS x1
       |  FROM (SELECT label, rn // 2 AS i, embedding FROM idx
       |        WHERE rn % 2 = 0) e
       |  JOIN (SELECT label, rn // 2 AS i, embedding FROM idx
       |        WHERE rn % 2 = 1) o
       |    ON o.label = e.label AND o.i = e.i),
       |dots AS (
       |  SELECT x.label,
       |    ${dotSql("x.x0", "x.x1")} AS dxx,
       |    ${dotSql("y.y0", "y.y1")} AS dyy,
       |    ${dotSql("x.x0", "y.y1")} AS dxy,
       |    ${dotSql("x.x1", "y.y0")} AS dyx
       |  FROM pairs x
       |  JOIN ref y ON y.i = x.i % (SELECT m FROM mm)),
       |hs AS (
       |  SELECT label,
       |    CAST(FLOOR(((${kernSql("dxx")} + ${kernSql("dyy")})
       |       - (${kernSql("dxy")} + ${kernSql("dyx")}))
       |      * 100000000.0) AS BIGINT) AS hq
       |  FROM dots)
       |SELECT label, COUNT(*) AS n_pairs,
       |  ROUND(CAST(SUM(CAST(hq AS DECIMAL(38,0))) AS DOUBLE)
       |      / 100000000.0 / CAST(COUNT(*) AS DOUBLE), 6)
       |    AS mmd2
       |FROM hs GROUP BY label""".stripMargin
  }
}
