package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{CDTable, TypeLattice}
import graft.sources.TsvSource

/** Beyond-reference canonicalization layer (SURVEY.md §7 step 7): the
  * reference stores gzip TSV only — non-splittable (one scan task per file,
  * `sync-canvas-data-files.py:179,189-193`) and unpartitioned
  * (`'PartitionKeys': []`, `:184`), so every Athena query re-parses whole
  * files of text. This pass rewrites a raw table to Parquet once, making
  * all later scans columnar, splittable, and prunable.
  *
  * Scale rationale: at 100 TB, text re-parse dominates query time and gzip
  * forces task granularity = file granularity (stragglers). Parquet gives
  * row-group splits, column pruning, predicate pushdown, and dictionary/RLE
  * compression — the single highest-leverage change over the reference's
  * layout. Optional `partitionBy` a low-cardinality column adds Catalyst
  * partition pruning.
  */
object Canonicalize {

  val CanonicalPrefix = "canonical"

  /** Default parquet codec for the canonical layer: zstd — ~25-40% smaller
    * than snappy at comparable scan speed, and at 100 TB the canonical
    * layer's footprint (and the network bytes every scan moves) is the
    * dominant storage cost. Override per call for CPU-bound clusters. */
  val DefaultCodec = "zstd"

  /** True if `dir` was written by the streaming sink ([[canonicalizeStream]])
    * — it then carries a `_spark_metadata` commit log that batch readers
    * trust exclusively. */
  def isStreamSinkDir(path: String): Boolean = {
    val fs = Fs.of(path)
    fs.exists(new org.apache.hadoop.fs.Path(path, "_spark_metadata"))
  }

  /** Full rewrite of a raw table into the canonical layer, behind the
    * crash-safe swap: the live canonical data stays readable (and
    * restorable) until the replacement is completely written — a mid-job
    * crash never leaves readers a partial table.
    *
    * Refuses tables owned by the streaming sink (same hazard [[compact]]
    * refuses): a SafeSwap replace drops the `_spark_metadata` sink log
    * while the stream's checkpoint survives, and a later stream resume
    * recreates the log listing only post-resume batches — batch readers
    * then trust the log and silently hide every earlier row. Streamed
    * tables are refreshed by re-running [[canonicalizeStream]] against the
    * same checkpoint, and compacted with [[compactStreamed]].
    *
    * Optional `derive` runs before the write — for date-deriving a
    * partition column (e.g. `ts → ts_date`) so the canonical layer gains
    * Catalyst partition pruning the raw layer can't have. */
  def canonicalize(
      spark: SparkSession,
      warehouseDir: String,
      table: CDTable,
      partitionBy: Seq[String] = Nil,
      codec: String = DefaultCodec,
      derive: DataFrame => DataFrame = identity): String = {
    val raw = TsvSource.read(spark, TypeLattice.toStructType(table),
      s"$warehouseDir/${Sync.RawPrefix}/${table.tableName}")
    val out = s"$warehouseDir/$CanonicalPrefix/${table.tableName}"
    require(!isStreamSinkDir(out),
      s"$out was written by the streaming sink (_spark_metadata present); " +
        "a batch rewrite would desynchronize the sink log from the data — " +
        "refresh streamed tables by resuming canonicalizeStream instead")
    SafeSwap.replace(out) { tmp =>
      val writer = derive(raw).write.mode("overwrite")
        .option("compression", codec)
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*)
       else writer).parquet(tmp)
    }
    out
  }

  def readCanonical(spark: SparkSession, warehouseDir: String,
      table: String): DataFrame =
    spark.read.parquet(s"$warehouseDir/$CanonicalPrefix/$table")

  /** Fingerprint of a raw table's file listing — O(#files) metadata, zero
    * data read. The reference's change model is file-grained and files are
    * immutable once landed (`sync-canvas-data-files.py:58-67`: change =
    * new name appears / old name disappears; the fetch guard never
    * overwrites), so (path, length) pairs identify the raw state exactly.
    * Keys are root-RELATIVE paths (same basename in different subdirs must
    * not collide), and modification time is included as a tripwire for
    * in-place replacement — a contract violation the fingerprint exists to
    * catch (an extra rewrite is cheap; serving a stale canonical copy is
    * not).
    *
    * UPGRADE NOTE: this format (relative-path|len|mtime) replaced the
    * original basename|len keys, so the first canonicalize=true sync after
    * upgrading sees every existing marker as stale and full-rewrites every
    * canonical table ONCE — schedule that sync accordingly at large scale.
    * mtime in the key also means a byte-identical re-copy of a raw file
    * triggers a rewrite; that is the tripwire working as intended. */
  /** The raw table's sorted listing entries (`relpath|len|mtime`) — the
    * units the fingerprint hashes AND the delta the append-only fast
    * path diffs ([[canonicalizeIncremental]]). */
  private[pipeline] def rawListingEntries(spark: SparkSession,
      warehouseDir: String, table: String): Seq[String] = {
    val root = s"$warehouseDir/${Sync.RawPrefix}/$table"
    val fs = Fs.of(warehouseDir)
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) Seq.empty
    else {
      val rootPath = fs.makeQualified(p).toUri.getPath
      Fs.filesUnder(fs, p)
        .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
        .map { st =>
          val rel = st.getPath.toUri.getPath.stripPrefix(rootPath)
          // encLine: entries are stored newline-joined (`_raw_listing`)
          // and split back — a raw filename carrying a newline would
          // otherwise fragment its stored entry, so the intact current
          // entry re-enters the delta on EVERY sync and its rows
          // append again each time (silent duplication). Identity for
          // ordinary names; an exotic-named table's fingerprint shifts
          // once and takes one full rewrite (the upgrade-note
          // precedent).
          s"${AppendCommit.encLine(rel)}|${st.getLen}|" +
            s"${st.getModificationTime}"
        }.sorted
    }
  }

  private def fingerprintOf(entries: Seq[String]): String =
    if (entries.isEmpty) "empty"
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(entries.mkString("\n").getBytes("UTF-8"))
      md.digest().map("%02x".format(_)).mkString
    }

  def rawFingerprint(spark: SparkSession, warehouseDir: String,
      table: String): String =
    fingerprintOf(rawListingEntries(spark, warehouseDir, table))

  /** Marker twin storing the fingerprint's underlying LISTING, so the
    * next sync can diff file sets instead of only detecting "changed".
    * Absent on pre-upgrade tables — they take one full rewrite and gain
    * the listing then. */
  private val ListingFile = "_raw_listing"

  private def readStoredListing(fs: org.apache.hadoop.fs.FileSystem,
      out: String): Option[Seq[String]] = {
    val p = new org.apache.hadoop.fs.Path(out, ListingFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
      Some(txt.split("\n").toSeq.filter(_.nonEmpty))
    }
  }

  /** Marker storing the canonical layer's LOGICAL schema (the pre-write
    * dataframe shape — partition columns in their natural positions),
    * so the append path's schema guard costs one tiny file read instead
    * of a parquet footer resolution whose file-index LISTING is O(all
    * canonical files) at every delta sync. */
  private val SchemaFile = "_canon_schema"

  /** The schema key covers the LOGICAL field set AND the partition
    * spec: two trees with identical columns but different
    * `partitionBy` have incompatible directory layouts, so an append
    * under a changed partition spec would mix flat and partitioned
    * leaves (or conflicting partition columns) in one directory —
    * `spark.read.parquet` then fails with conflicting-directory-
    * structure errors, and with the fingerprint already advanced the
    * damage would be permanent. Folding the spec into the key routes
    * any partition-spec change to the full SafeSwap rewrite.
    * Pre-upgrade markers lack the header line and therefore mismatch
    * once — one extra full rewrite per table, never wrong data (the
    * `_raw_listing` upgrade-note precedent). */
  private def schemaKeyOf(s: org.apache.spark.sql.types.StructType,
      partitionBy: Seq[String]): String =
    s"partitionBy=${partitionBy.mkString(",")}\n" +
      s.fields.map(f => s"${f.name}\t${f.dataType.catalogString}")
        .sorted.mkString("\n")

  private def readStoredSchemaKey(fs: org.apache.hadoop.fs.FileSystem,
      out: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(out, SchemaFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim)
      finally in.close()
    }
  }

  private def writeMarkerAndListing(fs: org.apache.hadoop.fs.FileSystem,
      out: String, fp: String, entries: Seq[String],
      schemaKey: Option[String] = None): Unit = {
    // listing + schema first, marker second: the marker is the commit
    // point (a stale marker with a fresh listing just recomputes an
    // empty delta)
    val lp = new org.apache.hadoop.fs.Path(out, ListingFile)
    val ltmp = new org.apache.hadoop.fs.Path(out, s".$ListingFile.tmp")
    val os = fs.create(ltmp, true)
    try os.write(entries.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally os.close()
    fs.delete(lp, false)
    if (!fs.rename(ltmp, lp))
      throw new java.io.IOException(s"cannot place $lp")
    schemaKey.foreach { k =>
      val sos = fs.create(
        new org.apache.hadoop.fs.Path(out, SchemaFile), true)
      try sos.write(k.getBytes("UTF-8")) finally sos.close()
    }
    val mos = fs.create(
      new org.apache.hadoop.fs.Path(out, "_raw_fingerprint"), true)
    try mos.write(fp.getBytes("UTF-8")) finally mos.close()
  }

  /** Incremental canonicalize: rewrite only when the raw file set changed
    * since the last run (fingerprint marker stored next to the parquet).
    * On a daily sync where most tables are unchanged, this turns the
    * canonical refresh into one metadata listing per table instead of a
    * full text re-parse + parquet rewrite — at 100 TB that is the
    * difference between minutes and hours. Returns (path, rewritten).
    *
    * Tables owned by the streaming sink are SKIPPED (returns (out, false))
    * rather than rewritten: their refresh mechanism is resuming
    * [[canonicalizeStream]] against the same checkpoint (which drains
    * exactly the not-yet-processed raw files), and a batch SafeSwap here
    * would corrupt the sink log ([[canonicalize]] doc). Skipping keeps
    * `Warehouse.sync(canonicalize = true)` safe over a mixed warehouse. */
  /** Rebase the canonical layer's raw-fingerprint marker after an
    * out-of-band raw-layer change that provably does NOT change what
    * the canonical layer should hold (age-based raw retirement: the
    * deleted files' rows live only in partitions the retention
    * watermark already dropped and keeps dropping). Rewrites the
    * marker ONLY when it matched `before` — a canonical layer that was
    * already stale stays stale and rebuilds as it would have. Without
    * the rebase, every raw retirement would trigger a FULL canonical
    * rewrite at the next sync — an O(table) rewrite to delete bytes a
    * manifest drop already handled, exactly the cost class retention
    * exists to avoid. */
  def rebaseFingerprint(spark: SparkSession, warehouseDir: String,
      table: String, before: String): Unit = {
    val out = s"$warehouseDir/$CanonicalPrefix/$table"
    val fs = Fs.of(warehouseDir)
    val marker = new org.apache.hadoop.fs.Path(out, "_raw_fingerprint")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val cur = try new String(in.readAllBytes(), "UTF-8").trim
        finally in.close()
      if (cur == before) {
        val entries = rawListingEntries(spark, warehouseDir, table)
        writeMarkerAndListing(fs, out, fingerprintOf(entries), entries)
      }
    }
  }

  /** Incremental canonicalize with an APPEND-ONLY fast path. Unchanged
    * raw listing → one metadata read, no work. Pure file ADDITIONS —
    * the daily shape of the reference's accumulate-forever tables
    * (requests), where a full rewrite per sync would be O(table) to
    * land an O(day) delta — parse ONLY the new files and move their
    * parquet into the live tree under the [[AppendCommit]] protocol
    * (exactly-once under crash/retry: the delta's content id is the
    * ledger key, so a replay after a crash between data-move and
    * marker write is a no-op). Any other change (a deleted/stale file,
    * an in-place purge rewrite, a pre-upgrade table with no stored
    * listing) falls back to the full SafeSwap rewrite — which also
    * resets the ledger, correctly: the rewritten content includes
    * every applied delta.
    *
    * `appendable = false` forces the full-rewrite path — required when
    * `derive` is not ROW-LOCAL (the append path derives over the delta
    * rows alone, so a derive that aggregates across the corpus would
    * diverge from the rewrite it replaces). Losing `_raw_listing` (or
    * a crash mid-write) degrades to one full rewrite, never to wrong
    * data. */
  def canonicalizeIncremental(
      spark: SparkSession,
      warehouseDir: String,
      table: CDTable,
      partitionBy: Seq[String] = Nil,
      derive: DataFrame => DataFrame = identity,
      appendable: Boolean = true): (String, Boolean) = {
    val out = s"$warehouseDir/$CanonicalPrefix/${table.tableName}"
    if (isStreamSinkDir(out)) return (out, false)
    val entries = rawListingEntries(spark, warehouseDir, table.tableName)
    val fp = fingerprintOf(entries)
    val fs = Fs.of(warehouseDir)
    val marker = new org.apache.hadoop.fs.Path(out, "_raw_fingerprint")
    val current =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        try Some(new String(in.readAllBytes(), "UTF-8").trim)
        finally in.close()
      }
    if (current.contains(fp)) return (out, false)
    // the LOGICAL canonical schema — plan-only analysis over the raw
    // dir (no job, no file-listing of the canonical tree); written as
    // a marker so the guard below never pays a parquet footer
    // resolution (whose file index lists EVERY canonical file)
    val rawRoot = s"$warehouseDir/${Sync.RawPrefix}/${table.tableName}"
    val schemaKey =
      if (entries.isEmpty) None
      else Some(schemaKeyOf(derive(TsvSource.read(spark,
        TypeLattice.toStructType(table), rawRoot)).schema, partitionBy))
    val prev = if (appendable && current.isDefined)
      readStoredListing(fs, out) else None
    val curSet = entries.toSet
    val appendPlan = prev.filter(p => p.nonEmpty && p.forall(curSet))
      .flatMap { p =>
        val delta = entries.filterNot(p.toSet)
        if (delta.isEmpty) Some((delta, None))
        else {
          // entries are `relpath|len|mtime` where len/mtime are known
          // digit-only — parse the relpath from the RIGHT, so a raw
          // filename that itself contains '|' (legal on POSIX and in
          // upstream manifests) survives intact instead of truncating
          // at its first pipe and targeting a nonexistent path
          val files = delta.map { e =>
            val i2 = e.lastIndexOf('|')
            val i1 = e.lastIndexOf('|', i2 - 1)
            // decLine first (entries store the relpath encLine'd), then
            // globEscape: the delta read targets explicit FILES whose
            // names are manifest-controlled — a glob metacharacter in
            // a raw filename must read that file, not a sibling
            rawRoot + TsvSource.globEscape(
              AppendCommit.decLine(e.substring(0, i1)))
          }
          val df = derive(TsvSource.read(spark,
            TypeLattice.toStructType(table), files))
          // SCHEMA GUARD: appending under a schema that differs from
          // the live parquet (a version widened the table — q280's
          // lifecycle) would mix footer schemas in one directory and a
          // plain read silently resolves an arbitrary one. The stored
          // schema marker decides at one tiny read; a pre-upgrade
          // table without the marker falls back to the live footer
          // (field (name, type) SETS — the write relocates partition
          // columns, so read order differs).
          val same = readStoredSchemaKey(fs, out) match {
            case Some(k) => k == schemaKeyOf(df.schema, partitionBy)
            case None =>
              // pre-upgrade fallback: the footer field SET cannot see
              // a partition-spec change (the partition column appears
              // in both schemas either way), so additionally require
              // the live directory's partition-column chain — one
              // listStatus per partition level, never O(files) — to
              // equal this call's partitionBy
              def liveChain(p: org.apache.hadoop.fs.Path): Seq[String] = {
                val sub = fs.listStatus(p).filter(st =>
                  st.isDirectory && st.getPath.getName.contains("="))
                if (sub.isEmpty) Nil
                else sub.head.getPath.getName.takeWhile(_ != '=') +:
                  liveChain(sub.head.getPath)
              }
              try liveChain(new org.apache.hadoop.fs.Path(out)) ==
                partitionBy &&
                spark.read.parquet(out).schema.fields
                .map(f => (f.name, f.dataType)).toSet ==
                df.schema.fields.map(f => (f.name, f.dataType)).toSet
              catch { case _: Exception => false }
          }
          if (same) Some((delta, Some(df))) else None
        }
      }
    appendPlan match {
      case Some((delta, dfOpt)) =>
        dfOpt.foreach { df =>
          val batchId = "canon-" + AppendCommit.contentId(
            delta.mkString("\n"))
          AppendCommit.appendBatch(spark, out, batchId) { tmp =>
            val w = df.write.mode("overwrite")
              .option("compression", DefaultCodec)
            (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*)
             else w).parquet(tmp)
          }
        }
        writeMarkerAndListing(fs, out, fp, entries, schemaKey)
        (out, true)
      case None =>
        canonicalize(spark, warehouseDir, table, partitionBy,
          derive = derive)
        writeMarkerAndListing(fs, out, fp, entries, schemaKey)
        (out, true)
    }
  }

  /** Streaming canonicalization: continuously land raw gzip TSV as
    * canonical parquet. The parquet file sink + checkpoint gives
    * EXACTLY-ONCE output (the sink's commit log records which files each
    * batch wrote; a restarted query never re-emits a committed batch),
    * and the text file source's processed-files log pairs with the sync
    * layer's immutable-file contract — a landed raw file never mutates,
    * so "new file" is the only change event, which is precisely what the
    * source tracks. `Trigger.AvailableNow` drains everything currently
    * landed then stops: run it after each sync for an incremental
    * micro-batch refresh, or with a continuous trigger for a live feed.
    * Returns the started query; callers await it. */
  def canonicalizeStream(
      spark: SparkSession,
      warehouseDir: String,
      table: CDTable,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream
      .text(s"$warehouseDir/${Sync.RawPrefix}/${table.tableName}")
    val parsed = TsvSource.parse(raw, TypeLattice.toStructType(table))
    parsed.writeStream
      .format("parquet")
      .option("path", s"$warehouseDir/$CanonicalPrefix/${table.tableName}")
      .option("checkpointLocation", checkpointDir)
      .option("compression", DefaultCodec)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Small-file compaction for the canonical layer. Incremental syncs and
    * streaming ingestion accrete many small parquet files; at scale each
    * file costs a task, a footer read, and a NameNode/listing entry, and
    * scan throughput collapses long before data volume does. Rewrites the
    * table into ~`targetBytes` files (repartition, not coalesce — coalesce
    * merges *adjacent* partitions and inherits their skew) behind the same
    * crash-safe swap as the merge upsert. The incremental-canonicalize
    * fingerprint marker is preserved, so a following sync still recognizes
    * the raw layer as unchanged and does not undo the compaction.
    * Returns (files before, files after).
    *
    * Tables written by [[canonicalizeStream]] carry a `_spark_metadata`
    * streaming-sink commit log, and batch readers trust ONLY files listed
    * in it — rewriting the data while keeping (or dropping) that log would
    * silently hide rows from every subsequent batch read once the stream
    * resumes. Compacting such a table needs a sink-log-aware rewrite
    * (stop the stream, rewrite data + log, fresh checkpoint), so this
    * refuses rather than corrupt. */
  /** `maxFiles`: rewrite a leaf only when it holds MORE than this many
    * data files (and more than the byte-derived target count) — the
    * sync-wired auto-compaction trigger. The default 1 keeps the
    * manual-call behavior: any leaf reducible under `targetBytes`
    * compacts. */
  def compact(
      spark: SparkSession,
      warehouseDir: String,
      table: String,
      targetBytes: Long = 512L * 1024 * 1024,
      maxFiles: Int = 1): (Int, Int) = {
    val out = s"$warehouseDir/$CanonicalPrefix/$table"
    val fs = Fs.of(warehouseDir)
    val dir = new org.apache.hadoop.fs.Path(out)
    require(!isStreamSinkDir(out),
      s"$out was written by the streaming sink (_spark_metadata present); " +
        "compact would desynchronize the sink log from the data — use " +
        "compactStreamed (after stopping the stream)")
    // Partitioned layout: part files live under col=val/ subdirs. Each
    // LEAF directory is compacted independently — reading a leaf directly
    // involves no partition-column inference (the files carry only data
    // columns) and the directory names are untouched, so the layout AND
    // the partition value types survive byte-for-byte. This is also the
    // scale-correct shape: each partition rewrite is its own bounded job,
    // and untouched partitions cost nothing.
    def leaves(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val subdirs = fs.listStatus(p).filter(st =>
        st.isDirectory && st.getPath.getName.contains("="))
      if (subdirs.isEmpty) Seq(p)
      else subdirs.toSeq.flatMap(st => leaves(st.getPath))
    }
    // ALL data files, not only `part-` names: the append-only
    // incremental path tags its files `a_<batch>_N_part-...`, and a
    // name filter would undercount them out of the compaction decision
    def partFiles(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter(st =>
        st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
    var before = 0
    var after = 0
    leaves(dir).foreach { leaf =>
      val parts = partFiles(leaf)
      before += parts.length
      val totalBytes = parts.map(_.getLen).sum
      val nFiles =
        math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      if (parts.length > maxFiles && parts.length > nFiles) {
        // preserve the incremental-canonicalize markers when the leaf
        // IS the table root (unpartitioned layout): fingerprint,
        // listing, and the append-commit ledger — replay suppression
        // must survive the rewrite (the compacted content already
        // includes every applied delta)
        def readOpt(name: String): Option[String] = {
          val p = new org.apache.hadoop.fs.Path(leaf, name)
          if (!fs.exists(p)) None
          else {
            val in = fs.open(p)
            try Some(new String(in.readAllBytes(), "UTF-8"))
            finally in.close()
          }
        }
        val fp = readOpt("_raw_fingerprint")
        val listing = readOpt("_raw_listing")
        val schemaK = readOpt(SchemaFile)
        val hadLedger = fs.exists(
          new org.apache.hadoop.fs.Path(leaf, "_applied"))
        val df = spark.read.parquet(leaf.toString).repartition(nFiles)
        SafeSwap.replace(leaf.toString) { tmp =>
          df.write.mode("overwrite").option("compression", DefaultCodec)
            .parquet(tmp)
          def put(name: String, v: String): Unit = {
            val os = fs.create(
              new org.apache.hadoop.fs.Path(tmp, name), true)
            try os.write(v.getBytes("UTF-8")) finally os.close()
          }
          fp.foreach(put("_raw_fingerprint", _))
          listing.foreach(put("_raw_listing", _))
          schemaK.foreach(put(SchemaFile, _))
          if (hadLedger) AppendCommit.copyLedger(leaf.toString, tmp)
        }
      }
      after += partFiles(leaf).length
    }
    (before, after)
  }

  /** Small-file compaction for STREAM-WRITTEN canonical tables — the
    * sink-log-aware rewrite that [[compact]] refuses to improvise.
    *
    * CALLER CONTRACT: the stream writing this table must be STOPPED (for
    * `Trigger.AvailableNow` ingestion that is simply "between runs").
    *
    * Batch readers of a streamed table trust ONLY the files listed in its
    * `_spark_metadata` sink log, and a resumed stream appends batch
    * latest+1 to that same log — so the rewrite must keep the log, the
    * data, and the (untouched) source checkpoint mutually consistent:
    *
    *  1. read the table THROUGH the sink log (exactly the committed rows);
    *  2. rewrite into ~targetBytes files behind the crash-safe swap;
    *  3. regenerate the sink log inside the replacement dir with the SAME
    *     latest batch id (batches 0..latest-1 empty, latest listing every
    *     compacted file, `.compact` naming preserved by the real
    *     FileStreamSinkLog so interval derivation on resume is unchanged).
    *
    * A resumed stream then continues from its checkpoint offsets (the
    * processed-raw-files set is unaffected by the rewrite) and appends
    * batch latest+1; batch readers see exactly the compacted files.
    * Returns (files before, files after). */
  def compactStreamed(
      spark: SparkSession,
      warehouseDir: String,
      table: String,
      targetBytes: Long = 512L * 1024 * 1024): (Int, Int) = {
    import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSinkLog, SinkFileStatus}
    val out = s"$warehouseDir/$CanonicalPrefix/$table"
    require(isStreamSinkDir(out),
      s"$out has no _spark_metadata sink log — use compact() for " +
        "batch-written tables")
    val fs = Fs.of(warehouseDir)
    val oldLog = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
      s"$out/_spark_metadata", None)
    val oldFiles = oldLog.allFiles()
    // a sink log with no committed batch means the stream never completed
    // a batch: defaulting latest to 0 would write OUR batch 0, and the
    // resumed stream's own batch 0 would then be skipped as already
    // committed — silently dropping its rows. Refuse instead (there is
    // nothing to compact anyway).
    val latestBatch = oldLog.getLatest().map(_._1).getOrElse {
      throw new IllegalStateException(
        s"$out has a sink log with no committed batches — nothing to " +
          "compact; run the stream to completion first")
    }
    val before = oldFiles.length
    val totalBytes = oldFiles.map(_.size).sum
    val nFiles =
      math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // log-aware read: exactly the committed rows, never uncommitted parts
    val df = spark.read.parquet(out).repartition(nFiles)
    val outQualified = fs.makeQualified(new org.apache.hadoop.fs.Path(out))
    var after = 0
    SafeSwap.replace(out) { tmp =>
      df.write.mode("overwrite").option("compression", DefaultCodec)
        .parquet(tmp)
      val parts = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      after = parts.length
      // Regenerated log entries must carry the FINAL (post-swap) paths.
      val statuses = parts.map(st =>
        SinkFileStatus(st).copy(path =
          new org.apache.hadoop.fs.Path(outQualified, st.getPath.getName)
            .toUri.toString))
      val newLog = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
        s"$tmp/_spark_metadata", None)
      // rebuild the ladder 0..latest so every batch id the checkpoint has
      // committed resolves; only the latest carries files
      (0L to latestBatch).foreach { bid =>
        val files =
          if (bid == latestBatch) statuses
          else Array.empty[SinkFileStatus]
        require(newLog.add(bid, files),
          s"failed to regenerate sink log batch $bid for $out")
      }
    }
    (before, after)
  }

  /** Schema-drift detection (SURVEY.md §7 hard parts): the reference's
    * `update_table` is a full-replace — files landed under an older schema
    * silently mis-parse once the column list changes. This scans a raw
    * table and reports, per source file, how many lines don't have exactly
    * the expected field count, so a sync can quarantine stale files
    * instead of serving silently-shifted columns. */
  def validateRaw(spark: SparkSession, warehouseDir: String,
      table: CDTable): DataFrame = {
    import org.apache.spark.sql.functions._
    val expected = table.columns.size
    spark.read.text(s"$warehouseDir/${Sync.RawPrefix}/${table.tableName}")
      .select(input_file_name().as("file"),
        size(split(col("value"), "\t", -1)).as("n_fields"))
      .groupBy(col("file"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("n_fields") =!= expected, 1).otherwise(0))
          .as("n_malformed"))
  }
}
