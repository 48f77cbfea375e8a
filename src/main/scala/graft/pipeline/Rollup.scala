package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Incrementally-maintained rollup (a materialized aggregate kept fresh
  * per sync batch) — the aggregate-level analog of the reference's
  * incremental file sync (`sync-canvas-data-files.py:58-67`: only what
  * changed moves): instead of re-aggregating the full fact table after
  * every batch, the store holds MERGEABLE PARTIALS and each batch folds
  * in with one batch-sized aggregation + a |groups|-sized merge.
  * Re-aggregating 100 TB per day becomes touching O(|batch| + |groups|).
  *
  * Mergeable partials ([[Rollup.Spec]]): count; exact decimal sums (the
  * [[graft.operators.sumDec]] convention — bit-identical to a
  * from-scratch aggregate under any batch arrival order, decimal
  * addition being associative/commutative); min/max (min-of-mins /
  * max-of-maxes — algebraic under INSERT-ONLY batches, which is the
  * sync layer's immutable-file contract; a delete would need a rebuild);
  * per-column null counts; and HLL distinct-count sketches
  * (`hll_sketch_agg` partials unioned by `hll_union_agg` — the
  * DataSketches union of per-batch sketches equals the sketch of the
  * union, so estimates never drift with batch boundaries). Together
  * these are exactly the inputs of the per-column profile
  * ([[graft.operators.Stats.readProfileStore]]), making data-quality
  * observability incremental too.
  *
  * Idempotent replay: every batch carries a caller-supplied `batchId`;
  * applied ids are recorded in the store and a replayed id is a no-op —
  * the at-least-once delivery contract of the sync layer cannot
  * double-count. The partial store swaps behind [[SafeSwap]], and the
  * applied-id list lives INSIDE the swapped tree, so partials and the
  * replay ledger move atomically together.
  *
  * SINGLE-WRITER contract: replay-safety assumes one maintenance
  * writer at a time (the sync layer's own model — one daily driver).
  * Two CONCURRENT [[merge]] calls with different batch ids would both
  * pass the ledger check and the later SafeSwap would silently discard
  * the earlier fold; plain rename gives no cross-process compare-and-
  * swap to detect it. The contract is ENFORCED, not just documented:
  * [[init]]/[[merge]] run under a [[MaintenanceLock]] lease — a second
  * concurrent writer fails LOUDLY naming the holder instead of
  * vanishing a fold (spec: RollupSpec "concurrent merge"). Replays of
  * the SAME batch id at any later time are what the ledger protects
  * against, and that protection is exact.
  *
  * Limitations (documented, not hidden): holistic aggregates (exact
  * median, exact distinct) are not mergeable — the HLL sketch is the
  * mergeable stand-in for distinct (see q54/q76 for the sketch gates);
  * min/max assume insert-only batches as above.
  */
object Rollup {

  /** A mergeable fixed-width histogram over `col`: per group, the store
    * keeps a `map<bin, count>` with `bin = floor(value / binWidth)`.
    * Count sums are merge-associative, so batch boundaries cannot change
    * the histogram — and because `floor(x / w)` is one IEEE double
    * division + floor, ANY engine bins a value identically, making the
    * derived quantile bounds exactly cross-checkable (q103). Bins only
    * exist where data exists: the map is value-range-sparse, NOT
    * corpus-sized — |bins| ≤ range/binWidth per group. NULLs are
    * excluded (profile convention: quantiles are over scored rows). */
  final case class Hist(col: String, binWidth: Double) {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
  }

  /** The numeric projection a histogram bins over: TEMPORAL columns bin
    * on their catalog-internal scale — timestamps as epoch MICROS
    * (`binWidth` in micros: one hour = 3.6e9), dates as epoch DAYS —
    * exactly the units Catalyst's `FilterEstimation` compares plan
    * literals in, so a pushed CBO histogram over an event-time column
    * estimates range selectivity from measured mass instead of the
    * uniform min/max spread (the commonest skewed filter in an event
    * warehouse is a time column). Numerics bin as-is; the derived
    * quantile bounds ([[histQuantiles]]) come back on the same scale. */
  private def histInput(df: DataFrame, c: String)
      : org.apache.spark.sql.Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      // NTZ (the events-table shape): cast to instant under the session
      // zone — every graft session pins UTC, so this IS the epoch-micros
      // identity and bins agree with an oracle's epoch_us()
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(c).cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.DateType => unix_date(col(c))
      case _ => col(c)
    }

  /** Which mergeable aggregates the store maintains, per group. Empty
    * `groupCols` = one global row (the profile shape). */
  final case class Spec(
      groupCols: Seq[String],
      sumCols: Seq[String] = Nil,
      minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil,
      nullCountCols: Seq[String] = Nil,
      distinctSketchCols: Seq[String] = Nil,
      histCols: Seq[Hist] = Nil)

  /** Batch → partials: one aggregation over the batch only. */
  private def partials(df: DataFrame, spec: Spec): DataFrame = {
    val aggs =
      Seq(count(lit(1)).as("__cnt")) ++
        spec.sumCols.map(c =>
          sum(col(c).cast(DecimalType(30, 4))).as(s"__sum_$c")) ++
        spec.minCols.map(c => min(col(c)).as(s"__min_$c")) ++
        spec.maxCols.map(c => max(col(c)).as(s"__max_$c")) ++
        spec.nullCountCols.map(c =>
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")) ++
        spec.distinctSketchCols.map { c =>
          // hll_sketch_agg accepts int/bigint/string/binary only; other
          // types go through an injective string cast (Spark's double→
          // string is the shortest round-trip form, so distinct values
          // stay distinct and the estimate is over the same set)
          val in = df.schema(c).dataType match {
            case org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.LongType |
                 org.apache.spark.sql.types.StringType |
                 org.apache.spark.sql.types.BinaryType => col(c)
            case _ => col(c).cast("string")
          }
          hll_sketch_agg(in).as(s"__hll_$c")
        }
    val base =
      df.groupBy(spec.groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    // histogram partials need a per-(group, bin) count first — a second
    // batch-sized aggregation per hist column, joined back on the group
    // keys (via a constant key when the spec is global, so the left join
    // shape is uniform). A group whose batch rows are all-NULL gets an
    // empty map, not a NULL column.
    spec.histCols.foldLeft(base.withColumn("__gk", lit(0))) { (acc, h) =>
      val keyCols = spec.groupCols :+ "__gk"
      val binned = df
        .filter(col(h.col).isNotNull)
        .withColumn("__gk", lit(0))
        .groupBy((keyCols.map(col) :+
          floor(histInput(df, h.col) / h.binWidth).cast("long")
            .as("__bin")): _*)
        .agg(count(lit(1)).as("__bc"))
      val m = binned.groupBy(keyCols.map(col): _*)
        .agg(map_from_entries(collect_list(
          struct(col("__bin"), col("__bc")))).as(s"__hist_${h.col}"))
      // NULL-SAFE key match: a NULL group key is a real group (groupBy
      // keeps it, and base carries its counts) — a plain USING join
      // would never match it and silently hand it an empty histogram
      val mr = m.select(keyCols.map(c => col(c).as(s"__m_$c"))
        :+ col(s"__hist_${h.col}"): _*)
      val cond = keyCols.map(c => col(c) <=> col(s"__m_$c"))
        .reduce(_ && _)
      acc.join(mr, cond, "left")
        .drop(keyCols.map(c => s"__m_$c"): _*)
        .withColumn(s"__hist_${h.col}",
          coalesce(col(s"__hist_${h.col}"),
            map().cast("map<bigint,bigint>")))
    }.drop("__gk")
  }

  /** Partials ∪ partials → partials: the merge fold (|groups|-sized). */
  private def mergePartials(a: DataFrame, spec: Spec): DataFrame = {
    val aggs =
      Seq(sum(col("__cnt")).as("__cnt")) ++
        spec.sumCols.map(c => sum(col(s"__sum_$c")).as(s"__sum_$c")) ++
        spec.minCols.map(c => min(col(s"__min_$c")).as(s"__min_$c")) ++
        spec.maxCols.map(c => max(col(s"__max_$c")).as(s"__max_$c")) ++
        spec.nullCountCols.map(c =>
          sum(col(s"__nulls_$c")).as(s"__nulls_$c")) ++
        spec.distinctSketchCols.map(c =>
          hll_union_agg(col(s"__hll_$c")).as(s"__hll_$c")) ++
        spec.histCols.map(h =>
          collect_list(col(s"__hist_${h.col}")).as(s"__histl_${h.col}"))
    val g = a.groupBy(spec.groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    // fold the collected per-partial maps (≤ store+batch = 2 per group)
    // by summing counts bin-wise — map_zip_with over the key union
    spec.histCols.foldLeft(g) { (acc, h) =>
      acc.withColumn(s"__hist_${h.col}",
        aggregate(col(s"__histl_${h.col}"),
          map().cast("map<bigint,bigint>"),
          (m1, m2) => map_zip_with(m1, m2,
            (_, v1, v2) => coalesce(v1, lit(0L)) + coalesce(v2, lit(0L)))))
        .drop(s"__histl_${h.col}")
    }
  }

  /** Version of the HISTOGRAM BIN SCALE a persisted store's partials
    * were computed under. "2" = temporal columns bin on their
    * catalog-internal units (timestamps: epoch MICROS; dates: epoch
    * DAYS — [[histInput]]); stores written before that change binned
    * the raw value under the previous implicit scale, so merging a
    * new-scale batch into an old-scale store would mix bin ids from
    * two unit systems into one map — a silently corrupt histogram
    * pushed straight to the CBO. Stores carry the version in a
    * `_hist_scale` marker; [[merge]]/[[retract]] REFUSE a
    * temporal-histogram store whose marker mismatches (absent =
    * legacy), and [[graft.Warehouse]]'s maintenance rebuilds such a
    * store on first touch instead of folding into it. */
  val HistScaleVersion: String = "2"

  /** The spec's histogram columns that are temporal in `schema` — the
    * only ones whose bin ids changed with the scale version. */
  private def temporalHists(schema: org.apache.spark.sql.types.StructType,
      spec: Spec): Seq[String] =
    spec.histCols.map(_.col).filter(c =>
      schema.fields.find(_.name == c).map(_.dataType).exists(dt =>
        dt == org.apache.spark.sql.types.TimestampType ||
          dt == org.apache.spark.sql.types.TimestampNTZType ||
          dt == org.apache.spark.sql.types.DateType))

  private def writeHistScale(spark: SparkSession, dir: String,
      spec: Spec): Unit =
    if (spec.histCols.nonEmpty) {
      val fs = Fs.of(dir, spark)
      val os = fs.create(
        new org.apache.hadoop.fs.Path(dir, "_hist_scale"), true)
      try os.write(HistScaleVersion.getBytes("UTF-8"))
      finally os.close()
    }

  /** Is `storeDir`'s histogram bin scale the current one for a fold of
    * `schema`-shaped rows? Vacuously true when the spec has no
    * TEMPORAL histogram column (numeric bins never changed scale). */
  def histScaleCurrent(spark: SparkSession, storeDir: String,
      spec: Spec, schema: org.apache.spark.sql.types.StructType)
      : Boolean =
    temporalHists(schema, spec).isEmpty || {
      val fs = Fs.of(storeDir, spark)
      val m = new org.apache.hadoop.fs.Path(storeDir, "_hist_scale")
      fs.exists(m) && {
        val in = fs.open(m)
        try new String(in.readAllBytes(), "UTF-8").trim ==
          HistScaleVersion
        finally in.close()
      }
    }

  private def requireHistScale(spark: SparkSession, storeDir: String,
      spec: Spec, schema: org.apache.spark.sql.types.StructType): Unit =
    require(histScaleCurrent(spark, storeDir, spec, schema),
      s"store $storeDir holds temporal-histogram partials under a " +
        s"LEGACY bin scale (marker != $HistScaleVersion) — folding " +
        "would mix bin-id unit systems into one map; invalidate the " +
        "store and rebuild (the Warehouse maintenance loop does this " +
        "automatically)")

  /** Create the store from the initial fact snapshot. `batchIds` are the
    * units of replay (e.g. one id per source file) recorded atomically
    * with the partials. */
  def init(spark: SparkSession, storeDir: String, df: DataFrame,
      spec: Spec, batchIds: Seq[String]): Unit =
    MaintenanceLock.withLock(storeDir) {
      val p = partials(df, spec)
      SafeSwap.replace(storeDir) { tmp =>
        p.write.parquet(s"$tmp/partials")
        writeApplied(spark, tmp, batchIds)
        writeHistScale(spark, tmp, spec)
      }
    }

  def init(spark: SparkSession, storeDir: String, df: DataFrame,
      spec: Spec, batchId: String): Unit =
    init(spark, storeDir, df, spec, Seq(batchId))

  /** Fold one batch into the store, recording `batchIds` atomically with
    * the fold. A batch whose ids are ALL already applied is a no-op
    * (returns false); a PARTIALLY-applied id set is refused — the caller
    * derives the batch from [[appliedIds]] (as [[graft.Warehouse]]
    * does), so a mixed set means the batch contains rows the store
    * already counted. NOT safe under concurrent writers — see the
    * single-writer contract in the object doc. */
  def merge(spark: SparkSession, storeDir: String, batch: DataFrame,
      spec: Spec, batchIds: Seq[String]): Boolean =
    MaintenanceLock.withLock(storeDir) {
      SafeSwap.recover(storeDir)
      requireHistScale(spark, storeDir, spec, batch.schema)
      val applied = readApplied(spark, storeDir)
      val fresh = batchIds.filterNot(applied.contains)
      if (fresh.isEmpty) false
      else {
        require(fresh.size == batchIds.size,
          s"batch mixes applied and unapplied ids " +
            s"(${batchIds.size - fresh.size} of ${batchIds.size} " +
            "already applied) — filter the batch to unapplied units first")
        val merged = mergePartials(
          spark.read.parquet(s"$storeDir/partials")
            .unionByName(partials(batch, spec)),
          spec)
        SafeSwap.replace(storeDir) { tmp =>
          // the lazy read of the live partials executes inside this
          // write, strictly before SafeSwap renames the old tree aside
          merged.write.parquet(s"$tmp/partials")
          writeApplied(spark, tmp, applied ++ batchIds)
          writeHistScale(spark, tmp, spec)
        }
        true
      }
    }

  def merge(spark: SparkSession, storeDir: String, batch: DataFrame,
      spec: Spec, batchId: String): Boolean =
    merge(spark, storeDir, batch, spec, Seq(batchId))

  /** Is every aggregate in `spec` row-SUBTRACTABLE? Counts, sums, null
    * counts, and histogram bin counts form a group (deletion = merging
    * negated partials); min/max and HLL sketches do not — they cannot
    * un-see a row. */
  def subtractable(spec: Spec): Boolean =
    spec.minCols.isEmpty && spec.maxCols.isEmpty &&
      spec.distinctSketchCols.isEmpty

  private[pipeline] def retractIntentDir(storeDir: String,
      batchId: String): String = s"$storeDir/.retract_$batchId"

  /** Stage the deletion batch's partials (compute-once, temp+rename) —
    * a no-op when the stage already exists. Split out so the
    * crash-retry contract is directly testable. */
  private[pipeline] def stageRetraction(spark: SparkSession,
      storeDir: String, deleted: DataFrame, spec: Spec,
      batchId: String): Unit = {
    val fs = Fs.of(storeDir, spark)
    val intent = new org.apache.hadoop.fs.Path(
      retractIntentDir(storeDir, batchId))
    if (!fs.exists(intent)) {
      val tmp = new org.apache.hadoop.fs.Path(intent.toString + ".tmp")
      fs.delete(tmp, true)
      partials(deleted, spec).write.parquet(tmp.toString)
      if (!fs.rename(tmp, intent))
        throw new java.io.IOException(
          s"cannot stage retraction $batchId for $storeDir")
    }
  }

  /** Delete-propagation for [[subtractable]] specs: fold the DELETED
    * rows' partials in with NEGATED counts — the store then equals a
    * from-scratch init over the filtered facts (spec'd), no rebuild
    * scan. The deleted rows' partials are STAGED inside the store
    * (hidden `.retract_<id>` parquet, temp+rename) before the merge:
    * the caller captures the rows from the fact table BEFORE its own
    * purge, and a crash-retry that can no longer reproduce them (the
    * table rows are gone) replays from the stage instead of silently
    * subtracting nothing — the same compute-once discipline as
    * [[AppendCommit.runWithIntent]]. The stage travels atomically with
    * the applied-id ledger: both live in the store tree SafeSwap
    * replaces, so "merged" and "applied" commit together. Returns the
    * number of FACT rows retracted (the staged partials' Σ count — the
    * audit receipt [[graft.pipeline.Cascade.Summary]] reports); replay
    * of an applied id is a no-op returning 0 (indistinguishable from an
    * applied-but-empty retraction, which is equally a no-op). */
  def retract(spark: SparkSession, storeDir: String, deleted: DataFrame,
      spec: Spec, batchId: String): Long = {
    require(subtractable(spec),
      "only count/sum/nullCount/histogram partials are subtractable — " +
        "use invalidate() and rebuild for min/max/distinct specs")
    MaintenanceLock.withLock(storeDir) {
      SafeSwap.recover(storeDir)
      requireHistScale(spark, storeDir, spec, deleted.schema)
      val applied = readApplied(spark, storeDir)
      if (applied.contains(batchId)) 0L
      else {
        stageRetraction(spark, storeDir, deleted, spec, batchId)
        val intent = new org.apache.hadoop.fs.Path(
          retractIntentDir(storeDir, batchId))
        val nRetracted = {
          val r = spark.read.parquet(intent.toString)
            .agg(org.apache.spark.sql.functions
              .sum(col("__cnt"))).head()
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
        val negCols: Seq[Column] =
          spec.groupCols.map(col) ++
            Seq((col("__cnt") * -1L).as("__cnt")) ++
            spec.sumCols.map(c =>
              (col(s"__sum_$c") * -1).as(s"__sum_$c")) ++
            spec.nullCountCols.map(c =>
              (col(s"__nulls_$c") * -1L).as(s"__nulls_$c")) ++
            spec.histCols.map(h =>
              transform_values(col(s"__hist_${h.col}"),
                (_, v) => v * -1L).as(s"__hist_${h.col}"))
        val neg = spark.read.parquet(intent.toString).select(negCols: _*)
        val merged0 = mergePartials(
          spark.read.parquet(s"$storeDir/partials").unionByName(neg),
          spec)
        // normalize to fresh-build form: emptied groups leave, emptied
        // histogram bins leave their maps
        val merged = spec.histCols.foldLeft(
            merged0.filter(col("__cnt") > 0L)) { (acc, h) =>
          acc.withColumn(s"__hist_${h.col}",
            map_filter(col(s"__hist_${h.col}"), (_, v) => v =!= 0L))
        }
        SafeSwap.replace(storeDir) { tmp =>
          merged.write.parquet(s"$tmp/partials")
          writeApplied(spark, tmp, applied :+ batchId)
          writeHistScale(spark, tmp, spec)
        }
        nRetracted
      }
    }
  }

  /** RTBF cascade hook: partials are NOT row-subtractable (min/max and
    * distinct sketches cannot un-see a row), so a row-level delete on
    * the fact table invalidates the store wholesale — drop it; the next
    * maintenance pass re-inits from the (now filtered) facts, exactly
    * the absent-store path [[graft.Warehouse]] already takes. Loud and
    * structural beats silently-stale aggregates. Delete-propagation
    * WITHOUT the rebuild exists for subtractable specs — [[retract]]. */
  def invalidate(spark: SparkSession, storeDir: String): Unit =
    MaintenanceLock.withLock(storeDir) {
      val fs = Fs.of(storeDir, spark)
      fs.delete(new org.apache.hadoop.fs.Path(storeDir), true)
      ()
    }

  /** Does a store live at `storeDir` (healing a crashed swap first)? */
  def exists(spark: SparkSession, storeDir: String): Boolean = {
    SafeSwap.recover(storeDir)
    val fs = Fs.of(storeDir, spark)
    fs.exists(new org.apache.hadoop.fs.Path(s"$storeDir/partials"))
  }

  /** The applied-unit ledger — for callers that derive their next batch
    * from what the store has already seen ([[graft.Warehouse]]'s
    * maintenance derives "new files" as raw listing ∖ this). */
  def appliedIds(spark: SparkSession, storeDir: String): Seq[String] = {
    SafeSwap.recover(storeDir)
    readApplied(spark, storeDir)
  }

  /** Streaming maintenance: a `foreachBatch` sink that folds each
    * micro-batch into the store with the MICRO-BATCH ID as the replay
    * unit. Structured Streaming re-delivers a failed micro-batch under
    * the SAME id on restart, so the ledger turns the engine's
    * at-least-once `foreachBatch` contract into exactly-once store
    * maintenance — and because decimal/min/max/HLL partials are
    * merge-associative, how the stream is chopped into micro-batches
    * cannot change the final store (spec-proved 1-batch ≡ N-batch).
    * Usage: `stream.writeStream.foreachBatch(Rollup.foreachBatchSink(
    * dir, spec)).option("checkpointLocation", ...).start()`. */
  def foreachBatchSink(storeDir: String,
      spec: Spec): (DataFrame, Long) => Unit = { (batch, id) =>
    val spark = batch.sparkSession
    if (!exists(spark, storeDir))
      init(spark, storeDir, batch, spec, s"stream-$id")
    else merge(spark, storeDir, batch, spec, s"stream-$id")
    ()
  }

  /** Final aggregate view per group: `n`, `sum_c` (decimal→double cast
    * last, the sumDec convention), `min_c`/`max_c` (native type),
    * `nulls_c`, and `nd_c` (HLL distinct estimate). */
  def read(spark: SparkSession, storeDir: String, spec: Spec): DataFrame = {
    SafeSwap.recover(storeDir)
    val p = spark.read.parquet(s"$storeDir/partials")
    p.select(
      spec.groupCols.map(col) ++
        Seq(col("__cnt").as("n")) ++
        spec.sumCols.map(c =>
          col(s"__sum_$c").cast(DoubleType).as(s"sum_$c")) ++
        spec.minCols.map(c => col(s"__min_$c").as(s"min_$c")) ++
        spec.maxCols.map(c => col(s"__max_$c").as(s"max_$c")) ++
        spec.nullCountCols.map(c => col(s"__nulls_$c").as(s"nulls_$c")) ++
        spec.distinctSketchCols.map(c =>
          hll_sketch_estimate(col(s"__hll_$c")).as(s"nd_$c")): _*)
  }

  /** The raw `map<bin,count>` partial of one histogram column from a
    * GLOBAL-spec store (the profile shape: one row). The collect is
    * bounded by |bins| ≤ value-range/binWidth — never corpus-sized.
    * Absent column or empty store → empty map. */
  def histBins(spark: SparkSession, storeDir: String,
      histCol: String): Map[Long, Long] = {
    SafeSwap.recover(storeDir)
    val p = spark.read.parquet(s"$storeDir/partials")
    if (!p.columns.contains(s"__hist_$histCol")) return Map.empty
    val rows = p.select(col(s"__hist_$histCol")).collect()
    if (rows.isEmpty || rows.head.isNullAt(0)) Map.empty
    else rows.head.getMap[Long, Long](0).toMap
  }

  /** Histogram-derived quantile UPPER BOUNDS per group, from the stored
    * `map<bin,count>` partials of `histCol`: for each requested quantile
    * q, the smallest bin upper edge `(bin+1)·binWidth` whose cumulative
    * count reaches `ceil(q · n_scored)` — exact to within one binWidth of
    * the true order statistic, deterministically (no sketch error, no
    * randomness). Columns: group cols, `n_scored` (non-NULL rows), and
    * one `p<QQ>_ub` per quantile. A group with zero scored rows surfaces
    * NULL bounds. The plan stays |groups|×|bins|-sized: the corpus was
    * only touched at partial-build time. */
  def histQuantiles(spark: SparkSession, storeDir: String, spec: Spec,
      histCol: String, quantiles: Seq[Double]): DataFrame = {
    val h = spec.histCols.find(_.col == histCol).getOrElse(
      throw new IllegalArgumentException(
        s"$histCol has no histogram in the store spec"))
    SafeSwap.recover(storeDir)
    val p = spark.read.parquet(s"$storeDir/partials")
    val exploded = p.select(
      (spec.groupCols.map(col) :+
        explode_outer(col(s"__hist_$histCol")).as(Seq("__bin", "__bc"))): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(spec.groupCols.map(col): _*).orderBy(col("__bin").asc)
    val cum = exploded
      .withColumn("__n", sum(col("__bc")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(spec.groupCols.map(col): _*)))
      .withColumn("__cum", sum(col("__bc")).over(w))
    val qAggs = quantiles.map { q =>
      val name = f"p${math.round(q * 100)}%02d_ub"
      min(when(col("__cum") >= ceil(col("__n") * q),
        (col("__bin") + 1) * h.binWidth)).as(name)
    }
    cum.groupBy(spec.groupCols.map(col): _*)
      .agg(coalesce(max(col("__n")), lit(0L)).as("n_scored"),
        qAggs: _*)
  }

  /** Population-drift score between two maintained stores' histograms of
    * `histCol`: per group, the Population Stability Index
    * PSI = Σ_bins (p_b − q_b)·ln(p_b / q_b) over the UNION of both
    * stores' bins, with add-one smoothing p_b = (c_b + 1)/(n + B) so a
    * bin present on one side only stays finite (the standard fix — raw
    * PSI is undefined the moment a new bin appears, which is exactly
    * when you want the alarm). Convention: PSI < 0.1 stable, 0.1–0.25
    * drifting, > 0.25 shifted.
    *
    * This is what the maintained histograms are FOR operationally: the
    * reference store is yesterday's (or the training snapshot's) rollup,
    * the current store is maintained by the live sync — and the drift
    * check touches only the two |groups|×|bins| partial tables, never a
    * corpus. The per-group sum is an ordered fold over bin-sorted terms
    * (every input an integer count or an IEEE div/ln of integers), so
    * the double is bit-reproducible across engines and partitionings
    * (the q92/q103 discipline). Groups missing from one store entirely
    * surface with n_ref/n_cur = 0 and a PSI computed over the present
    * side's bins — visible, not dropped. */
  def histDrift(spark: SparkSession, refStore: String, curStore: String,
      spec: Spec, histCol: String): DataFrame = {
    require(spec.histCols.exists(_.col == histCol),
      s"$histCol has no histogram in the store spec")
    val keys = spec.groupCols
    def bins(store: String, side: String): DataFrame = {
      SafeSwap.recover(store)
      spark.read.parquet(s"$store/partials").select(
        (keys.map(col) :+
          explode(col(s"__hist_$histCol")).as(Seq("__bin", "__c"))): _*)
        .withColumn("__ref_c",
          if (side == "ref") col("__c") else lit(0L))
        .withColumn("__cur_c",
          if (side == "cur") col("__c") else lit(0L))
        .drop("__c")
    }
    val both = bins(refStore, "ref").unionByName(bins(curStore, "cur"))
      .groupBy((keys :+ "__bin").map(col): _*)
      .agg(sum(col("__ref_c")).as("__rc"), sum(col("__cur_c")).as("__cc"))
    val perKey = both.groupBy(keys.map(col): _*)
      .agg(sum(col("__rc")).as("n_ref"), sum(col("__cc")).as("n_cur"),
        count(lit(1)).as("n_bins"),
        array_sort(collect_list(
          struct(col("__bin"), col("__rc"), col("__cc")))).as("__bins"))
    val psi = aggregate(col("__bins"), lit(0.0d), (acc, x) => {
      val p = (x.getField("__rc").cast(DoubleType) + lit(1.0)) /
        (col("n_ref").cast(DoubleType) + col("n_bins").cast(DoubleType))
      val q = (x.getField("__cc").cast(DoubleType) + lit(1.0)) /
        (col("n_cur").cast(DoubleType) + col("n_bins").cast(DoubleType))
      acc + (p - q) * log(p / q)
    })
    perKey.select(
      (keys.map(col) :+ col("n_ref") :+ col("n_cur") :+ col("n_bins") :+
        psi.as("psi")): _*)
  }

  // --- the original count+sum surface (q96), now a Spec special case ---

  def init(spark: SparkSession, storeDir: String, df: DataFrame,
      groupCols: Seq[String], sumCols: Seq[String],
      batchId: String): Unit =
    init(spark, storeDir, df, Spec(groupCols, sumCols), batchId)

  def merge(spark: SparkSession, storeDir: String, batch: DataFrame,
      groupCols: Seq[String], sumCols: Seq[String],
      batchId: String): Boolean =
    merge(spark, storeDir, batch, Spec(groupCols, sumCols), batchId)

  /** Count+sum read view (group cols inferred from the stored schema). */
  def read(spark: SparkSession, storeDir: String,
      sumCols: Seq[String]): DataFrame = {
    SafeSwap.recover(storeDir)
    val p = spark.read.parquet(s"$storeDir/partials")
    val keep = p.columns.filterNot(_.startsWith("__")).toSeq
    p.select(
      keep.map(col) ++ Seq(col("__cnt").as("n")) ++
        sumCols.map(c =>
          col(s"__sum_$c").cast(DoubleType).as(s"sum_$c")): _*)
  }

  /** The ledger is collected and rewritten whole per merge — bounded by
    * the number of applied units (files/batches), the same cardinality
    * the sync layer's own listing already handles per run; at daily
    * cadence it stays KBs for years. If a deployment ever outgrows
    * that, the fix is the [[AppendCommit]] shape (one tiny file per
    * unit, listed not rewritten) — not compaction, since the Warehouse
    * diff needs every id. */
  private def writeApplied(spark: SparkSession, dir: String,
      ids: Seq[String]): Unit = {
    import spark.implicits._
    ids.toDF("batch_id").coalesce(1).write.parquet(s"$dir/applied")
  }

  /** The ledger's one column is known: no schema-inference job. */
  private def readApplied(spark: SparkSession, dir: String): Seq[String] =
    spark.read.schema("batch_id STRING").parquet(s"$dir/applied")
      .collect().map(_.getString(0)).toSeq

  // ---------------------------------------------------------------------
  // q96_rollup_incremental — DERIVED ORACLE for the whole maintenance
  // machinery: init on orders with doc-even keys, merge the odd half as a
  // batch, replay the same batch (must no-op), read the rollup. DuckDB
  // computes the same aggregate over the full table — equality holds iff
  // partial creation, the merge fold, exact decimal carry, AND replay
  // suppression are all correct (a double-applied batch inflates counts
  // and hash-fails).
  // ---------------------------------------------------------------------
  private lazy val gateBase: String =
    java.nio.file.Files.createTempDirectory("graft_rollup_").toString

  def q96RollupIncremental(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    val store = s"$gateBase/ru_${dir.hashCode.toHexString}"
    val groupCols = Seq("o_orderstatus")
    val sumCols = Seq("o_totalprice")
    if (!new java.io.File(s"$store.complete").exists()) {
      init(s, store, orders.filter(col("o_orderkey") % 2 === 0),
        groupCols, sumCols, "b0")
      merge(s, store, orders.filter(col("o_orderkey") % 2 === 1),
        groupCols, sumCols, "b1")
      // at-least-once replay: the same batch id must not double-count
      merge(s, store, orders.filter(col("o_orderkey") % 2 === 1),
        groupCols, sumCols, "b1")
      new java.io.File(s"$store.complete").createNewFile()
    }
    read(s, store, sumCols)
  }

  val q96RollupIncrementalSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
      |    AS sum_o_totalprice
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // q103_rollup_quantile — DERIVED ORACLE for the mergeable histogram
  // partials: per-status quantile bounds of o_totalprice maintained
  // incrementally (init even keys, merge odd, replay odd — must no-op),
  // then read as p50/p90 upper bounds. DuckDB re-derives the SAME bounds
  // from scratch with the same binning rule; since floor(x/width) and
  // (bin+1)·width are single IEEE double ops, the bounds are
  // bit-identical — the gate hash-checks real doubles, no tolerance
  // verdict. Equality holds iff batch binning, the map_zip_with merge
  // fold, replay suppression, AND the cumulative readout are all exact.
  // ---------------------------------------------------------------------
  def q103RollupQuantile(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    val store = s"$gateBase/hq_${dir.hashCode.toHexString}"
    val spec = Spec(groupCols = Seq("o_orderstatus"),
      histCols = Seq(Hist("o_totalprice", 1000.0)))
    if (!new java.io.File(s"$store.complete").exists()) {
      init(s, store, orders.filter(col("o_orderkey") % 2 === 0), spec,
        Seq("b0"))
      merge(s, store, orders.filter(col("o_orderkey") % 2 === 1), spec,
        Seq("b1"))
      merge(s, store, orders.filter(col("o_orderkey") % 2 === 1), spec,
        Seq("b1")) // replay: double-counting shifts the bounds → hash fail
      new java.io.File(s"$store.complete").createNewFile()
    }
    histQuantiles(s, store, spec, "o_totalprice", Seq(0.5, 0.9))
  }

  // ---------------------------------------------------------------------
  // q116_hist_drift — drift detection between two MAINTAINED stores: the
  // reference rollup holds the even-key half of orders, the current
  // rollup is built incrementally (init + merge + replay, which must
  // no-op) from the odd half with group 'O' prices shifted +10% — a
  // planted distribution shift in exactly one group. [[histDrift]]
  // compares the two partial tables; any error in the histogram
  // maintenance, the bin-union smoothing, or the ordered PSI fold moves
  // a double against the oracle, which recomputes both histograms and
  // the identical fold from the raw table.
  // ---------------------------------------------------------------------
  def q116HistDrift(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    val refStore = s"$gateBase/dr_ref_${dir.hashCode.toHexString}"
    val curStore = s"$gateBase/dr_cur_${dir.hashCode.toHexString}"
    val spec = Spec(groupCols = Seq("o_orderstatus"),
      histCols = Seq(Hist("o_totalprice", 1000.0)))
    if (!new java.io.File(s"$refStore.complete").exists()) {
      init(s, refStore, orders.filter(col("o_orderkey") % 2 === 0), spec,
        Seq("r0"))
      val cur = orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_totalprice",
          when(col("o_orderstatus") === "O", col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
      init(s, curStore, cur.filter(col("o_orderkey") % 3 === 0), spec,
        Seq("c0"))
      merge(s, curStore, cur.filter(col("o_orderkey") % 3 =!= 0), spec,
        Seq("c1"))
      merge(s, curStore, cur.filter(col("o_orderkey") % 3 =!= 0), spec,
        Seq("c1")) // replay: double-counted bins shift the PSI → hash fail
      new java.io.File(s"$refStore.complete").createNewFile()
    }
    histDrift(s, refStore, curStore, spec, "o_totalprice")
  }

  val q116HistDriftSql: String =
    """WITH ref AS (
      |  SELECT o_orderstatus,
      |    CAST(FLOOR(o_totalprice / 1000.0) AS BIGINT) AS bin,
      |    COUNT(*) AS c
      |  FROM orders WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL
      |  GROUP BY 1, 2),
      |cur AS (
      |  SELECT o_orderstatus,
      |    CAST(FLOOR(
      |      CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
      |           ELSE o_totalprice END / 1000.0) AS BIGINT) AS bin,
      |    COUNT(*) AS c
      |  FROM orders WHERE o_orderkey % 2 = 1 AND o_totalprice IS NOT NULL
      |  GROUP BY 1, 2),
      |both_ AS (
      |  SELECT COALESCE(r.o_orderstatus, c.o_orderstatus) AS o_orderstatus,
      |    COALESCE(r.bin, c.bin) AS bin,
      |    COALESCE(r.c, 0) AS rc, COALESCE(c.c, 0) AS cc
      |  FROM ref r FULL OUTER JOIN cur c
      |    ON r.o_orderstatus = c.o_orderstatus AND r.bin = c.bin),
      |k AS (
      |  SELECT o_orderstatus, SUM(rc) AS n_ref, SUM(cc) AS n_cur,
      |    COUNT(*) AS n_bins,
      |    list(struct_pack(bin := bin, rc := rc, cc := cc)
      |      ORDER BY bin) AS bins
      |  FROM both_ GROUP BY o_orderstatus)
      |SELECT o_orderstatus, CAST(n_ref AS BIGINT) AS n_ref,
      |  CAST(n_cur AS BIGINT) AS n_cur, CAST(n_bins AS BIGINT) AS n_bins,
      |  list_reduce(list_prepend(0.0::DOUBLE,
      |    [((CAST(b.rc AS DOUBLE) + 1.0)
      |        / (CAST(n_ref AS DOUBLE) + CAST(n_bins AS DOUBLE))
      |      - (CAST(b.cc AS DOUBLE) + 1.0)
      |        / (CAST(n_cur AS DOUBLE) + CAST(n_bins AS DOUBLE)))
      |     * ln(((CAST(b.rc AS DOUBLE) + 1.0)
      |        / (CAST(n_ref AS DOUBLE) + CAST(n_bins AS DOUBLE)))
      |       / ((CAST(b.cc AS DOUBLE) + 1.0)
      |        / (CAST(n_cur AS DOUBLE) + CAST(n_bins AS DOUBLE))))
      |     FOR b IN bins]),
      |    (a, x) -> a + x) AS psi
      |FROM k""".stripMargin

  // ---------------------------------------------------------------------
  // q278_temporal_psi — q116's drift gate with the DRIFTING COLUMN a
  // TIMESTAMP under the epoch-scaled bins (scale version 2): timestamps
  // are the commonest drifting column class in an event warehouse, and
  // the r12 scale-version migration specifically touched their bin
  // units, so the PSI fold must be pinned over epoch-micro bins, not
  // just numerics. The planted shift moves ONE group ('error') +48 h.
  // The fixture ALSO pins rebuild-not-fold: after the incremental
  // build, the current store's `_hist_scale` marker is rewritten to a
  // legacy version and the maintenance contract replays — the store
  // REBUILDS from the full snapshot (what [[graft.Warehouse]] does on
  // first touch); had the code folded into the legacy-scale store
  // instead, the merged map would mix bin-id unit systems and every
  // PSI double would move against the oracle.
  // ---------------------------------------------------------------------
  def q278TemporalPsi(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600.0 * 1e6
    val events = graft.Tables.load(s, dir, "events")
    val refStore = s"$gateBase/tp_ref_${dir.hashCode.toHexString}"
    val curStore = s"$gateBase/tp_cur_${dir.hashCode.toHexString}"
    val spec = Spec(groupCols = Seq("event_type"),
      histCols = Seq(Hist("ts", hourUs)))
    if (!new java.io.File(s"$refStore.complete").exists()) {
      init(s, refStore, events.filter(col("event_id") % 2 === 0), spec,
        Seq("r0"))
      val cur = events.filter(col("event_id") % 2 === 1)
        .withColumn("ts",
          when(col("event_type") === "error",
            col("ts") + expr("INTERVAL 48 HOURS"))
            .otherwise(col("ts")))
      init(s, curStore, cur.filter(col("event_id") % 3 === 0), spec,
        Seq("c0"))
      merge(s, curStore, cur.filter(col("event_id") % 3 =!= 0), spec,
        Seq("c1"))
      // legacy-scale store in the maintenance path: folding must be
      // REFUSED and the store rebuilt whole (the Warehouse first-touch
      // contract) — emulated exactly: plant the legacy marker, observe
      // the refusal, rebuild from the full snapshot
      locally {
        val fs = Fs.of(curStore, s)
        val os = fs.create(
          new org.apache.hadoop.fs.Path(curStore, "_hist_scale"), true)
        try os.write("1".getBytes("UTF-8")) finally os.close()
        val refused =
          try { merge(s, curStore, cur, spec, Seq("c2")); false }
          catch { case _: IllegalArgumentException => true }
        require(refused,
          "a legacy-scale temporal store must refuse the fold")
        fs.delete(new org.apache.hadoop.fs.Path(curStore), true)
        init(s, curStore, cur, spec, Seq("c0", "c1"))
      }
      new java.io.File(s"$refStore.complete").createNewFile()
    }
    histDrift(s, refStore, curStore, spec, "ts")
  }

  val q278TemporalPsiSql: String =
    """WITH ref AS (
      |  SELECT event_type,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS bin,
      |    COUNT(*) AS c
      |  FROM events WHERE event_id % 2 = 0 AND ts IS NOT NULL
      |  GROUP BY 1, 2),
      |cur AS (
      |  SELECT event_type,
      |    CAST(FLOOR(epoch_us(
      |      CASE WHEN event_type = 'error' THEN ts + INTERVAL 48 HOUR
      |           ELSE ts END) / 3600000000.0) AS BIGINT) AS bin,
      |    COUNT(*) AS c
      |  FROM events WHERE event_id % 2 = 1 AND ts IS NOT NULL
      |  GROUP BY 1, 2),
      |both_ AS (
      |  SELECT COALESCE(r.event_type, c.event_type) AS event_type,
      |    COALESCE(r.bin, c.bin) AS bin,
      |    COALESCE(r.c, 0) AS rc, COALESCE(c.c, 0) AS cc
      |  FROM ref r FULL OUTER JOIN cur c
      |    ON r.event_type = c.event_type AND r.bin = c.bin),
      |k AS (
      |  SELECT event_type, SUM(rc) AS n_ref, SUM(cc) AS n_cur,
      |    COUNT(*) AS n_bins,
      |    list(struct_pack(bin := bin, rc := rc, cc := cc)
      |      ORDER BY bin) AS bins
      |  FROM both_ GROUP BY event_type)
      |SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref,
      |  CAST(n_cur AS BIGINT) AS n_cur, CAST(n_bins AS BIGINT) AS n_bins,
      |  list_reduce(list_prepend(0.0::DOUBLE,
      |    [((CAST(b.rc AS DOUBLE) + 1.0)
      |        / (CAST(n_ref AS DOUBLE) + CAST(n_bins AS DOUBLE))
      |      - (CAST(b.cc AS DOUBLE) + 1.0)
      |        / (CAST(n_cur AS DOUBLE) + CAST(n_bins AS DOUBLE)))
      |     * ln(((CAST(b.rc AS DOUBLE) + 1.0)
      |        / (CAST(n_ref AS DOUBLE) + CAST(n_bins AS DOUBLE)))
      |       / ((CAST(b.cc AS DOUBLE) + 1.0)
      |        / (CAST(n_cur AS DOUBLE) + CAST(n_bins AS DOUBLE))))
      |     FOR b IN bins]),
      |    (a, x) -> a + x) AS psi
      |FROM k""".stripMargin

  val q103RollupQuantileSql: String =
    """WITH b AS (
      |  SELECT o_orderstatus,
      |    CAST(FLOOR(o_totalprice / 1000.0) AS BIGINT) AS bin,
      |    COUNT(*) AS cnt
      |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2),
      |c AS (
      |  SELECT o_orderstatus, bin, cnt,
      |    SUM(cnt) OVER (PARTITION BY o_orderstatus ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(cnt) OVER (PARTITION BY o_orderstatus) AS n
      |  FROM b)
      |SELECT o_orderstatus, CAST(MAX(n) AS BIGINT) AS n_scored,
      |  CAST(MIN(CASE WHEN cum >= CEIL(n * 0.5)
      |    THEN (bin + 1) * 1000.0 END) AS DOUBLE) AS p50_ub,
      |  CAST(MIN(CASE WHEN cum >= CEIL(n * 0.9)
      |    THEN (bin + 1) * 1000.0 END) AS DOUBLE) AS p90_ub
      |FROM c GROUP BY o_orderstatus""".stripMargin
}
