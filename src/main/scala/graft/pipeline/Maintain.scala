package graft.pipeline


import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Table maintenance: small-file compaction.
  *
  * Incremental pipelines are small-file factories — every sync batch,
  * streaming micro-batch, and partition-scoped merge appends a few files,
  * and a year of daily syncs turns a partition into thousands of
  * kilobyte-sized parquet files whose per-file open/footer cost comes to
  * dominate scans (the classic HDFS/S3 small-file problem; the reference
  * accumulates one gzip file per dump forever,
  * `sync-canvas-data-files.py:75-79`, and delegates the consequences to
  * Athena). [[compactPartitions]] is the maintenance operator that pays
  * the rewrite cost ONCE, partition-by-partition, to keep scans
  * O(bytes) instead of O(files).
  *
  * Scale design:
  *  - per-partition decision from the file LISTING only (count + bytes)
  *    — no data is read for partitions already in shape, so a run over a
  *    100 TB table with one fragmented day touches one day;
  *  - each rewrite is `read → coalesce(ceil(bytes/target))` — coalesce,
  *    not repartition: compaction is IO-bound by design and must not pay
  *    a shuffle (the rows are already where they belong);
  *  - each partition rewrites behind its own [[SafeSwap]], so a crash is
  *    confined to one partition, heals on the next run, and untouched
  *    partitions keep physical file identity (mtime-stable — cheap
  *    object-store sync/backup tools keep skipping them);
  *  - idempotent: a second run finds every partition within budget and
  *    rewrites nothing.
  */
object Maintain {

  final case class CompactSummary(partitionsSeen: Int,
      partitionsCompacted: Int, filesBefore: Long, filesAfter: Long)

  private def dataFiles(fs: FileSystem, dir: Path)
      : Array[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Compact every Hive partition directory (or the table root itself if
    * the table is unpartitioned) holding more than `maxFiles` data files
    * down to max(1, ceil(bytes / targetBytes)) files. Returns what was
    * seen and done. Single-writer like every maintenance op. */
  def compactPartitions(spark: SparkSession, path: String,
      targetBytes: Long, maxFiles: Int = 1): CompactSummary = {
    require(targetBytes > 0 && maxFiles >= 1,
      "targetBytes must be positive and maxFiles at least 1")
    val fs = Fs.of(path, spark)
    val root = new Path(path)
    val managed = Manifest.exists(path)
    if (managed) Manifest.recover(path)
    // pin the input file set to the SNAPSHOT: the raw listing of a
    // managed table also shows the retention window's tombed originals
    // (deferred deletes) — folding those into a compaction would
    // resurrect replaced rows
    val resolvedSet: Option[Set[String]] =
      if (managed) Manifest.resolve(path)
        .map(_.map(p => new Path(p).toUri.getPath).toSet)
      else None
    val partDirs = fs.listStatus(root).filter { st =>
      val n = st.getPath.getName
      st.isDirectory && n.contains("=") && !n.startsWith(".") &&
        !n.startsWith("_")
    }.map(_.getPath)
    // unpartitioned table → the root is the one "partition"
    val targets = if (partDirs.nonEmpty) partDirs.toSeq else Seq(root)
    var compacted = 0; var before = 0L; var after = 0L
    val repls = scala.collection.mutable.ArrayBuffer
      .empty[Manifest.Replacement]
    targets.foreach { pdir =>
      if (!managed) SafeSwap.recover(pdir.toString)
      val files = dataFiles(fs, pdir).filter(st => resolvedSet.forall(
        _.contains(st.getPath.toUri.getPath)))
      val bytes = files.map(_.getLen).sum
      val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      before += files.length
      if (files.length > maxFiles && files.length > want) {
        if (managed) {
          // reader-atomic variant ([[Manifest.replaceFilesBatch]]): the
          // coalesced copy lands under NEW cmp_-prefixed names in the
          // SAME dir; ONE commit below swaps every compacted
          // partition's file set together. No basePath on the read:
          // partition values live in the dir name, not in the rewritten
          // files (same content as the SafeSwap path).
          val olds = files.map(_.getPath.toString).toSeq
          repls += Manifest.Replacement(pdir.toString,
            spark.read.parquet(olds: _*).coalesce(want), "cmp_", olds)
        } else {
          // the lazy read executes inside the SafeSwap write action,
          // strictly before the live dir renames aside
          val df = spark.read.parquet(pdir.toString).coalesce(want)
          SafeSwap.replace(pdir.toString) { tmp =>
            df.write.mode("overwrite").parquet(tmp)
          }
          after += dataFiles(fs, pdir).length
        }
        compacted += 1
      } else after += files.length
    }
    if (repls.nonEmpty)
      // one generation for the whole op: a single atomicity point, and
      // earlier partitions' deferred-delete tombs cannot age out while
      // later partitions are still compacting
      after += Manifest.replaceFilesBatch(spark, path, repls.toSeq).sum
    // rewritten partitions invalidated any cached file listing for the
    // tree (same hazard as Upsert.mergeIntoPartitioned)
    if (compacted > 0) spark.catalog.refreshByPath(path)
    CompactSummary(targets.size, compacted, before, after)
  }

  final case class DeleteSummary(candidateFiles: Int, rewritten: Int,
      dropped: Int, rowsDeleted: Long)

  /** Above this many distinct keys, [[deleteByKey]] switches from
    * isin/literal expressions to a broadcast key frame for discovery
    * and rewrite filters (plans stay constant-size however many keys a
    * purge carries). */
  val LargeKeyThreshold: Int = 1000

  /** Broadcast key frame for the large-key paths: keys round-trip
    * through strings and cast to `dt`, matching the typed-probe/isin
    * equality semantics. */
  private def keyFrame(spark: SparkSession, keys: Seq[Any],
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    keys.distinct.map(v => if (v == null) null else v.toString)
      .toDF("__graft_ks")
      .select(col("__graft_ks").cast(dt).as("__graft_k"))
      .filter(col("__graft_k").isNotNull).distinct()
  }

  /** Rows of `df` whose `c` matches one of `keys` — literal
    * isInCollection below [[LargeKeyThreshold]], broadcast semi-join
    * above (constant-size plans however many keys an RTBF purge
    * carries). The restriction every cascade purge hook goes through. */
  def matchingKeys(df: org.apache.spark.sql.DataFrame, c: String,
      keys: Seq[Any]): org.apache.spark.sql.DataFrame =
    if (keys.distinct.size <= LargeKeyThreshold)
      df.filter(org.apache.spark.sql.functions.col(c)
        .isInCollection(keys))
    else df.join(
      org.apache.spark.sql.functions.broadcast(
        keyFrame(df.sparkSession, keys, df.schema(c).dataType)),
      df(c) === org.apache.spark.sql.functions.col("__graft_k"),
      "left_semi")

  /** LOUD lossy-cast rule, shared by every RTBF entry point: a non-null
    * key whose string form cannot cast to the column's type would
    * silently vanish from a purge (try_cast → NULL → no match) — the
    * caller must hear about a key it cannot delete, not get a summary
    * for the castable subset. try_cast keeps the check ANSI-agnostic (a
    * plain cast THROWS mid-job under ANSI instead of flagging). Names
    * ≤20 offending keys in the error. */
  def requireKeysCastable(spark: SparkSession,
      colType: org.apache.spark.sql.types.DataType, c: String,
      values: Seq[Any]): Unit = {
    import spark.implicits._
    val bad = values.distinct.filter(_ != null).map(_.toString)
      .toDF("__ks")
      .filter(org.apache.spark.sql.functions
        .expr(s"try_cast(__ks AS ${colType.sql})").isNull)
      .limit(20).collect().map(_.getString(0))
    require(bad.isEmpty,
      s"key(s) [${bad.mkString(", ")}] do not cast to " +
        s"$c's type ${colType.sql} — refusing a partial purge")
  }

  /** The loud lossy-cast rule for a DISTRIBUTED key frame
    * ([[deleteByKeyFrame]]): same contract as [[requireKeysCastable]] —
    * a non-null key that cannot cast to the column's type must fail the
    * purge loudly, never silently survive — checked without collecting
    * the keys (only ≤20 offending samples come back). */
  private[graft] def requireFrameCastable(
      raw: org.apache.spark.sql.DataFrame,
      colType: org.apache.spark.sql.types.DataType, c: String): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    val bad = raw
      .filter(col("__raw").isNotNull &&
        expr(s"try_cast(__raw AS ${colType.sql})").isNull)
      .limit(20).collect().map(r => String.valueOf(r.get(0)))
    require(bad.isEmpty,
      s"key(s) [${bad.mkString(", ")}] do not cast to " +
        s"$c's type ${colType.sql} — refusing a partial purge")
  }

  /** Complement of [[matchingKeys]]; NULL-keyed rows are KEPT on both
    * paths (a row whose key is unknown was not asked to die — the
    * three-valued-isin rule). */
  def droppingKeys(df: org.apache.spark.sql.DataFrame, c: String,
      keys: Seq[Any]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    if (keys.distinct.size <= LargeKeyThreshold)
      df.filter(col(c).isNull || !col(c).isin(keys: _*))
    else df.join(
      org.apache.spark.sql.functions.broadcast(
        keyFrame(df.sparkSession, keys, df.schema(c).dataType)),
      df(c) === col("__graft_k"), "left_anti")
  }

  /** Source-index column of [[writePerSource]]'s input (an Int). */
  private[graft] val SrcCol = "__graft_src"

  /** ONE write job for many per-file rewrites. `rows` carries each
    * surviving row's source index in [[SrcCol]] and its position within
    * that source in the `order` columns; every source's rows land, in source
    * order, in exactly one file under `tmp/<SrcCol>=i/`: hash-repartition
    * by source (a source never spans two tasks), sort within partitions
    * by (source, order) — which also satisfies the partitioned writer's
    * required ordering, so it adds no sort of its own — and
    * `partitionBy` the source on write. The source index and the order
    * columns never reach the data. Returns the part file per source
    * index that kept at least one row. The caller then publishes each
    * part under its own per-file protocol; `tmp` is a hidden dir the
    * caller's crash recovery already clears. */
  private[graft] def writePerSource(rows: org.apache.spark.sql.DataFrame,
      order: Seq[String], nSources: Int, tmp: Path, fs: FileSystem)(
      save: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =>
        Unit): Map[Int, Path] = {
    import org.apache.spark.sql.functions.col
    fs.delete(tmp, true) // a crashed attempt's leftover
    save(rows.repartition(math.max(1, nSources), col(SrcCol))
      .sortWithinPartitions((SrcCol +: order).map(col): _*)
      .drop(order: _*)
      .write.partitionBy(SrcCol).mode("overwrite"))
    def visible(p: Path) =
      !p.getName.startsWith("_") && !p.getName.startsWith(".")
    fs.listStatus(tmp).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(s"$SrcCol=")).flatMap { dir =>
        val i = dir.getName.stripPrefix(s"$SrcCol=").toIntOption
          .getOrElse(throw new java.io.IOException(
            s"rewrite rows without a source index under $tmp"))
        fs.listStatus(dir).map(_.getPath).find(visible).map(i -> _)
      }.toMap
  }

  /** A parquet file's Spark schema from its footer, read on the driver
    * — the schema Spark's own inference settles on (the Spark row schema
    * the writer embedded, else the converted parquet schema), without
    * the inference job a `spark.read.parquet(f)` launches per call. */
  private def footerSchema(spark: SparkSession, file: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter
    import org.apache.spark.sql.types.{DataType, StructType}
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(new java.net.URI(file)), spark.sparkContext.hadoopConfiguration))
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    Option(meta.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
      .collect { case st: StructType => st }
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(meta.getSchema))
  }

  /** The surviving rows of every partially-hit parquet file, each in the
    * file's OWN physical schema, written by one job per distinct schema
    * ([[writePerSource]]). The filter must see hive-partition columns
    * (the delete key may be one, and `dropKeys` resolves by name over
    * the basePath read), but the REWRITE must not embed them: a
    * rewritten file carrying the partition column as data while its
    * siblings encode it only in the directory name splits the tree's
    * schema — partition-scoped unions/merges over it start failing, and
    * every reader now depends on Spark's data-over-partition column
    * preference. The physical schemas (`schemaOf`: the footers, read on
    * the driver — no inference job per file) are handed to the reads, so
    * files of different schema versions never share a write. Returns the
    * part file written for each input file. */
  private def rewriteSurvivors(spark: SparkSession, tableDir: String,
      fs: FileSystem, files: Seq[String],
      schemaOf: String => org.apache.spark.sql.types.StructType,
      dropKeys: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Map[String, Path] = {
    import org.apache.spark.sql.functions.{col, element_at, typedLit}
    if (files.isEmpty) return Map.empty
    files.groupBy(schemaOf).toSeq.zipWithIndex.flatMap {
      case ((schema, group), g) =>
        val idx = group.zipWithIndex.toMap
        val rows = dropKeys(spark.read.schema(schema)
            .option("basePath", tableDir).parquet(group: _*)
            .select(col("*"), col("_metadata.file_path").as("__graft_path"),
              col("_metadata.row_index").as("__graft_row")))
          .select(schema.fieldNames.map(col).toIndexedSeq :+
            element_at(typedLit(idx), col("__graft_path")).as(SrcCol) :+
            col("__graft_row"): _*)
        val tmp = new Path(tableDir, s"$DelTmpBatch/g$g")
        writePerSource(rows, Seq("__graft_row"), group.size, tmp, fs)(
            _.parquet(tmp.toString))
          .map { case (i, part) => group(i) -> part }
      }.toMap
  }

  private val DelAside = ".del_aside_"

  /** [[rewriteSurvivors]]' hidden staging dir; [[recoverDeletes]] clears
    * it with every other `.del_tmp_` leftover. */
  private val DelTmpBatch = ".del_tmp_batch"

  private def delDest(orig: Path): Path =
    new Path(orig.getParent, s"del_${orig.getName}")

  /** Heal crashed [[deleteByKey]] attempts anywhere under `root`: an
    * aside file whose replacement landed is a leftover (dropped); one
    * whose replacement is missing is the last complete copy (restored).
    * Run on entry by [[deleteByKey]] itself. */
  private def recoverDeletes(fs: FileSystem, root: Path): Unit = {
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory) {
        if (n.startsWith(".del_tmp_")) fs.delete(st.getPath, true)
        else if (!n.startsWith("_") && !n.startsWith(".")) walk(st.getPath)
      }
      else if (n.startsWith(DelAside)) {
        val orig = new Path(st.getPath.getParent,
          n.stripPrefix(DelAside))
        if (fs.exists(delDest(orig))) fs.delete(st.getPath, false)
        else if (!fs.rename(st.getPath, orig))
          throw new java.io.IOException(
            s"delete recovery: cannot restore $orig")
      }
    }
    if (fs.exists(root)) walk(root)
  }

  /** Targeted hard delete — the right-to-be-forgotten operator: remove
    * every row whose `c` is in `values`, rewriting ONLY the files that
    * can contain them. At 100 TB a naive `filter + overwrite` rewrites
    * the whole table to delete one user; this goes through the table's
    * bloom skip stats ([[Skipping.candidateFilesEq]]) — candidate files
    * (bloom-matched + stats-unknown) are the complete superset of files
    * holding the keys (bloom has no false negatives), so every OTHER
    * file keeps its physical identity untouched (mtime-spec'd). A file
    * left empty by the delete is dropped outright.
    *
    * Per-file crash safety (SafeSwap's ordering at file granularity —
    * a shared directory has no dir-level atomicity to lean on): the
    * replacement is fully written HIDDEN, the original renames aside
    * hidden, the replacement renames in under a name DERIVED from the
    * original (`del_<orig>`), the aside drops. At every instant at
    * most one complete copy of the file's rows is visible (the one
    * rename-wide gap shows neither — same window SafeSwap has); a
    * crash at any point heals on the next run via [[recoverDeletes]]
    * (aside + replacement present → drop aside; aside only → restore).
    * Idempotent: a re-run finds zero matching rows and rewrites
    * nothing.
    *
    * The stats describing rewritten files are stale afterwards — the
    * deletion is a stale-delete event by the maintained-stats contract,
    * so [[Skipping.refreshStats]]/[[refreshBloom]] (or the next
    * Warehouse sync) rebuild; readers stay correct in the window via
    * the matched ∩ live-listing rule. Falls back to candidate = ALL
    * files when no bloom stats exist for `c` (correct, just unpruned).
    * Single maintenance writer, like every op here.
    *
    * MANIFEST-MANAGED tables ([[Manifest.enable]]) get the
    * reader-atomic protocol instead: every replacement lands COMPLETE
    * under its new name first, then ONE manifest commit swaps the whole
    * run's file set (the commit point — a [[Manifest.readSnapshot]]
    * reader sees the complete old state before it and the complete new
    * state after it, never the rename-wide gap), then the replaced
    * originals delete (immediately — this is right-to-be-forgotten;
    * retention would defeat it). A crash anywhere converges via
    * [[Manifest.recover]] on the next run. */
  def deleteByKey(spark: SparkSession, tableDir: String, c: String,
      values: Seq[Any]): DeleteSummary = {
    require(values.nonEmpty, "need at least one key to delete")
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    val fs = Fs.of(tableDir, spark)
    val managed = Manifest.exists(tableDir)
    if (managed) {
      Manifest.recover(tableDir)
      // RTBF collapses the retention window: replaced originals parked
      // in the deferred-delete tomb may hold the keys' bytes too, and
      // the raw candidate listing below would otherwise feed them back
      // into a rewrite (resurrecting replaced rows as live del_ files)
      Manifest.purgeAllTombs(tableDir)
    } else recoverDeletes(fs, new Path(tableDir))
    val hasBloom =
      fs.exists(new Path(tableDir, s"_skip_bloom_$c"))
    val candidates: Seq[String] =
      if (hasBloom) {
        val (m, u) = Skipping.candidateFilesEq(spark, tableDir, c, values)
        m ++ u
      } else {
        def walk(p: Path): Seq[String] =
          fs.listStatus(p).toSeq.flatMap { st =>
            val n = st.getPath.getName
            if (n.startsWith(".") || n.startsWith("_")) Seq.empty
            else if (st.isDirectory) walk(st.getPath)
            else Seq(st.getPath.toUri.toString)
          }
        walk(new Path(tableDir))
      }
    if (candidates.isEmpty)
      return DeleteSummary(0, 0, 0, 0L)
    // Above the threshold, keys travel as a BROADCAST one-column frame
    // instead of isin/literal expressions: a 50k-key purge would
    // otherwise inflate every plan with 50k literals (analysis +
    // codegen blowup) and the bloom probe with a 50k-element array.
    // Keys round-trip through strings and cast to the column's actual
    // type, so join equality matches the typed-probe/isin semantics.
    val distinctVals = values.distinct
    // footers are read on the driver, each at most once (no inference
    // job): `c` takes its type from the first candidate that carries it,
    // and the rewrite reuses the hit files' schemas. A partition column
    // (a `c=` directory on the candidates' paths) is typed by the
    // discovery read's partition discovery, without a footer read; a
    // candidate written before `c` was appended reads it as NULL, which
    // no key matches.
    val footers = scala.collection.mutable.Map
      .empty[String, org.apache.spark.sql.types.StructType]
    // keyed by path, so the listing's and `_metadata.file_path`'s
    // spellings of one file's URI share an entry
    def footer(f: String) = footers.getOrElseUpdate(
      new java.net.URI(f).getPath, footerSchema(spark, f))
    val root = new Path(tableDir).toUri.getPath
    val partitionKey = candidates.exists(f => new java.net.URI(f).getPath
      .stripPrefix(root).split('/').exists(_.startsWith(s"$c=")))
    val field =
      if (partitionKey) None
      else candidates.iterator.flatMap(footer(_).find(_.name == c))
        .nextOption()
    val read = spark.read
      .schema(org.apache.spark.sql.types.StructType(field.toSeq))
      .option("basePath", tableDir).parquet(candidates: _*)
    val colType = read.schema.find(_.name == c).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"deleteByKey: no column $c in $tableDir"))
    requireKeysCastable(spark, colType, c, distinctVals)
    val keysDf: Option[org.apache.spark.sql.DataFrame] =
      if (distinctVals.size <= LargeKeyThreshold) None
      else Some {
          import spark.implicits._
          distinctVals.map(v => if (v == null) null else v.toString)
            .toDF("__ks")
            .select(col("__ks").cast(colType).as("__k"))
            .filter(col("__k").isNotNull).distinct()
        }
    def dropKeys(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = keysDf match {
      case Some(k) => df.join(org.apache.spark.sql.functions.broadcast(k),
        df(c) === k("__k"), "left_anti")
      // NULL-keyed rows survive: `!isin` evaluates NULL for them (three-
      // valued logic) and a bare filter would silently DROP them — a
      // row whose key is unknown is not a row that was asked to die.
      // The broadcast path's anti-join already keeps them (null never
      // equals), so the two paths agree.
      case None => df.filter(col(c).isNull || !col(c).isin(values: _*))
    }
    // ONE batched discovery pass over the candidates (not one probe job
    // per file): exact per-file hit/total counts — bloom false
    // positives drop out here, and the rewrite loop below touches only
    // files that truly hold the keys
    val scanned = read.select(org.apache.spark.sql.functions
      .col("_metadata.file_path").as("file"), col(c))
    val hitRows = (keysDf match {
      case Some(k) =>
        scanned.join(org.apache.spark.sql.functions.broadcast(k),
            scanned(c) === k("__k"), "left")
          .groupBy(col("file"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("__k").isNotNull, 1L).otherwise(0L)).as("hits"))
      case None =>
        scanned.groupBy(col("file"))
          .agg(count(lit(1)).as("n"),
            sum(when(col(c).isin(values: _*), 1L).otherwise(0L))
              .as("hits"))
    }).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
      .filter(_._3 > 0L)
      .toSeq
    rewriteAndCommit(spark, tableDir, fs, managed, candidates.size,
      hitRows, footer, dropKeys)
  }

  /** The shared per-file rewrite machinery behind [[deleteByKey]] and
    * [[deleteByKeyFrame]]: given the discovery pass's exact per-file
    * (file, total, hits) counts and the surviving-rows filter, rewrite
    * each hit file under the per-file crash protocol (or drop it when
    * nothing survives), commit managed tables' swaps in one manifest
    * generation, and converge the skip trees. */
  private def rewriteAndCommit(spark: SparkSession, tableDir: String,
      fs: FileSystem, managed: Boolean, nCandidates: Int,
      hitRows: Seq[(String, Long, Long)],
      schemaOf: String => org.apache.spark.sql.types.StructType,
      dropKeys: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): DeleteSummary = {
    val deleted = hitRows.map(_._3).sum
    // nothing survives in a fully-hit file: it is dropped, not rewritten
    val (goneRows, partialRows) =
      hitRows.partition { case (_, n, hits) => hits == n }
    val gone = goneRows.map(_._1); val partial = partialRows.map(_._1)
    val parts =
      rewriteSurvivors(spark, tableDir, fs, partial, schemaOf, dropKeys)
    def part(f: String) = parts.getOrElse(f, throw new java.io.IOException(
      s"delete rewrite produced no data file for $f"))
    // manifest mode: (relative orig, relative replacement or None)
    val swaps: Seq[(String, Option[String])] =
      if (managed) {
        // the commit below drops a fully-hit file from the manifest; the
        // file itself deletes AFTER the commit
        gone.map(f => (Manifest.relativize(tableDir, f), None)) ++
          partial.map { f =>
            val dest = delDest(new Path(f))
            fs.delete(dest, false) // uncommitted leftover (post-recover
            // this only exists if recover itself raced; defensive)
            if (!fs.rename(part(f), dest))
              throw new java.io.IOException(s"delete: cannot place $dest")
            (Manifest.relativize(tableDir, f),
              Some(Manifest.relativize(tableDir, dest.toString)))
          }
      } else {
        gone.foreach(f => fs.delete(new Path(f), false))
        partial.foreach { f =>
          val fp = new Path(f)
          val aside = new Path(fp.getParent, s"$DelAside${fp.getName}")
          val dest = delDest(fp)
          fs.delete(dest, false) // leftover of a crashed attempt
          if (!fs.rename(fp, aside))
            throw new java.io.IOException(s"delete: cannot set $fp aside")
          if (!fs.rename(part(f), dest)) {
            fs.rename(aside, fp) // restore the last complete state
            throw new java.io.IOException(s"delete: cannot place $dest")
          }
          fs.delete(aside, false)
        }
        Nil
      }
    fs.delete(new Path(tableDir, DelTmpBatch), true)
    val rewritten = partial.size; val dropped = gone.size
    if (managed && swaps.nonEmpty) {
      // THE commit point: one atomic generation swap replaces every
      // touched original with its rewrite (or drops it) and folds in
      // any appends the old manifest had not caught up with
      val replacedOrDropped = swaps.map(_._1).toSet
      val cur = Manifest.resolve(tableDir).getOrElse(Seq.empty)
        .map(p => Manifest.relativize(tableDir, p))
      Manifest.commit(tableDir,
        cur.filterNot(replacedOrDropped) ++ swaps.flatMap(_._2))
      // deferred removal, after the commit — RTBF wants the bytes gone
      swaps.foreach { case (rel, _) =>
        fs.delete(new Path(tableDir, rel), false)
      }
    }
    if (rewritten > 0 || dropped > 0) {
      spark.catalog.refreshByPath(tableDir)
      // skip-tree hygiene (stats + blooms converge with the rewrite):
      // dead files' rows — and the bloom hashes of the purged keys they
      // carried — leave now, and the fresh del_ files get stats so
      // point lookups prune them immediately
      Skipping.refreshAllTrees(spark, tableDir)
    }
    DeleteSummary(nCandidates, rewritten, dropped, deleted)
  }

  /** [[deleteByKey]] for a DISTRIBUTED key set: remove every row whose
    * `c` matches the single-column `keys` frame, without the keys ever
    * materializing on the driver. This is the RTBF path for
    * CORPUS-PROPORTIONAL key sets — e.g. a component purge isolating
    * every spoke of a forgotten hub document, where the members of one
    * hot near-dup component can run to millions (the spam-cluster
    * shape): a `Seq[Any]` there is a driver OOM, not an API choice.
    *
    * Differences from the Seq path, both deliberate:
    *  - candidate discovery is the full live listing, not the bloom
    *    probe — the per-key driver-side bloom probes are themselves the
    *    scale hazard at this cardinality, and a key set this large
    *    touches most files anyway; discovery stays ONE batched scan
    *    either way, so only the file pruning is given up;
    *  - the key frame is pinned once (`localCheckpoint`) and joined —
    *    Spark broadcasts it when its measured size allows, shuffles
    *    otherwise; plans stay constant-size at any key count.
    *
    * Same loud lossy-cast rule, same NULL-keyed-rows-survive semantics
    * (anti-join equality — null never matches), same per-file crash
    * protocol and manifest handling as [[deleteByKey]]. Idempotent. */
  /** What [[retirePartitions]] did: whole hive partitions dropped from
    * the current manifest generation — O(metadata), zero rewrite. */
  final case class RetireSummary(partitionsRetired: Long,
      filesRetired: Long)

  /** AGE-BASED RETENTION — the lifecycle counterpart of the RTBF
    * deletes: retire every hive partition of `partitionCol` whose
    * value satisfies `drop`, by committing a NEW MANIFEST GENERATION
    * that simply omits those partitions' files. No data file is read
    * or rewritten — the operation is O(manifest), however many
    * terabytes the retired partitions hold — and the dropped files
    * ride the tomb list, so the standard manifest semantics apply
    * unchanged: concurrent readers that resolved the previous
    * generation still open every file they planned, time travel to
    * the previous generation still sees the retired data for the
    * retention window, and the bytes physically reclaim when the
    * window expires (the next commits' tomb purge).
    *
    * Requires a manifest-managed dir (reader-atomicity is the point —
    * an unmanaged directory drop yanks files out from under running
    * scans); rows in partitions the predicate keeps are NEVER touched
    * (partition-granular by contract: with the table partitioned BY
    * the retention column, partition-exact IS row-exact). The NULL
    * partition (`__HIVE_DEFAULT_PARTITION__`) is always kept — a row
    * with no date was not asked to expire (the deleteByKey
    * three-valued rule). Idempotent: retired partitions are no longer
    * in the manifest, so a replay drops nothing. */
  def retirePartitions(spark: SparkSession, tableDir: String,
      partitionCol: String, drop: String => Boolean): RetireSummary = {
    require(Manifest.exists(tableDir),
      s"retirePartitions needs a manifest-managed table dir " +
        s"($tableDir) — an unmanaged directory drop is not " +
        "reader-atomic; enable a manifest first")
    Manifest.recover(tableDir)
    val rels = Manifest.resolve(tableDir).getOrElse(Seq.empty)
      .map(p => Manifest.relativize(tableDir, p))
    val prefix = s"$partitionCol="
    def partVal(rel: String): Option[String] = rel.split('/')
      .find(_.startsWith(prefix)).map(_.stripPrefix(prefix))
    val (dead, live) = rels.partition(r => partVal(r).exists(v =>
      v != "__HIVE_DEFAULT_PARTITION__" && drop(v)))
    if (dead.isEmpty) RetireSummary(0L, 0L)
    else {
      Manifest.commit(tableDir, live, tombRels = dead)
      // skip-tree hygiene (the deleteByKey discipline): the commit
      // above physically purges any PRIOR generation's tombed files —
      // converge the per-file stats/bloom trees with what actually
      // left. Entries for files tombed by THIS retire stay until their
      // window expires (a later commit/refresh purges them and the
      // per-sync maintainSkipping converges then); stale rows are
      // correctness-safe either way — pruning is driven by the scan's
      // own manifest-resolved file list, never by the stats listing.
      Skipping.refreshAllTrees(spark, tableDir)
      RetireSummary(dead.flatMap(partVal).distinct.size.toLong,
        dead.size.toLong)
    }
  }

  def deleteByKeyFrame(spark: SparkSession, tableDir: String, c: String,
      keys: org.apache.spark.sql.DataFrame): DeleteSummary = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    require(keys.columns.length == 1,
      s"key frame must have exactly one column, got " +
        s"[${keys.columns.mkString(", ")}]")
    val fs = Fs.of(tableDir, spark)
    val managed = Manifest.exists(tableDir)
    if (managed) {
      Manifest.recover(tableDir)
      Manifest.purgeAllTombs(tableDir) // RTBF collapses retention
    } else recoverDeletes(fs, new Path(tableDir))
    val colType = spark.read.parquet(tableDir).schema.find(_.name == c)
      .map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"deleteByKeyFrame: no column $c in $tableDir"))
    val raw = keys.select(keys.col(keys.columns.head).as("__raw"))
    requireFrameCastable(raw, colType, c)
    // pinned: consumed by the emptiness probe, the discovery join, and
    // every per-file rewrite — and it may derive from the very tree this
    // delete rewrites (the purgeNodes staging), so it must not re-read
    val keysDf = raw.select(col("__raw").cast(colType).as("__k"))
      .filter(col("__k").isNotNull).distinct().localCheckpoint()
    if (keysDf.isEmpty) return DeleteSummary(0, 0, 0, 0L)
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st.getPath.toUri.toString)
      }
    val candidates = walk(new Path(tableDir))
    if (candidates.isEmpty) return DeleteSummary(0, 0, 0, 0L)
    def dropKeys(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      df.join(keysDf, df(c) === keysDf("__k"), "left_anti")
    val scanned = spark.read.option("basePath", tableDir)
      .parquet(candidates: _*)
      .select(org.apache.spark.sql.functions
        .col("_metadata.file_path").as("file"), col(c))
    val hitRows = scanned
      .join(keysDf, scanned(c) === keysDf("__k"), "left")
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__k").isNotNull, 1L).otherwise(0L)).as("hits"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
      .filter(_._3 > 0L)
      .toSeq
    rewriteAndCommit(spark, tableDir, fs, managed, candidates.size,
      hitRows, footerSchema(spark, _), dropKeys)
  }
}
