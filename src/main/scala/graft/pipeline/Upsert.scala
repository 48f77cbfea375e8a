package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, when}

/** Record-level upsert (MERGE INTO semantics) over an immutable parquet
  * dataset — the record-grained extension of the reference's file-grained
  * change model ("change = new file appears + old file disappears",
  * `sync-canvas-data-files.py:58-67`):
  *
  *   matched-by-key target rows are replaced by the update rows; unmatched
  *   update rows are inserted; everything else is carried over.
  *
  * Implementation is copy-on-write: `target LEFT ANTI updates ∪ updates`
  * rewritten to a temp dir, then swapped in. One shuffle on the key.
  *
  * Swap ordering minimizes the data-loss window: the live dataset is
  * renamed ASIDE first (to a hidden dot-prefixed sibling), the rewrite
  * renamed in, and only then is the old dir deleted — at every step at
  * least one complete copy exists, and a failed swap-in restores the old
  * dir. A crash can at worst leave the data under the hidden aside dir
  * (recovered by [[recoverSwap]],
  * which runs automatically at the start of every merge). Single-statement
  * atomicity needs a manifest pointer or a table format (Iceberg/Delta) —
  * the dataflow (anti-join + union + rewrite) is identical there.
  *
  * Like SQL MERGE, update rows must be key-distinct — a multi-matching
  * source is rejected rather than silently inserting duplicates.
  *
  * At scale, partition the dataset and rewrite only partitions containing
  * update keys (partition pruning on the anti-join side).
  */
object Upsert {

  final case class MergeSummary(updated: Long, inserted: Long, total: Long)

  /** See [[SafeSwap.recover]] — kept as the public API surface. */
  def recoverSwap(spark: SparkSession, path: String): Boolean =
    SafeSwap.recover(path)

  def mergeInto(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String]): MergeSummary = {
    // manifest-managed tables must NOT whole-dir swap: SafeSwap would
    // replace the dir wholesale and take the manifest (and snapshot
    // isolation) with it — they go through Manifest.replaceFiles, which
    // lands the merged copy under new names, commits one generation,
    // and never makes the directory vanish
    val managed = Manifest.exists(path)
    if (managed) Manifest.recover(path) else SafeSwap.recover(path)
    // ONE pinned resolution drives both the target read and the
    // replaced-file list: resolving twice (read snapshot, then list
    // olds at commit time) opens a window where a file appended
    // between the two resolutions is deleted by the commit while its
    // rows were never in `merged` — silent row loss. With one pinned
    // list, a concurrent append stays a live file the commit carries
    // forward (stale-safe: its rows union with the merged output).
    val pinned: Option[Seq[String]] =
      if (managed) Manifest.resolve(path) else None
    val target = pinned match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        if (files.isEmpty) spark.read.parquet(path).limit(0)
        else spark.read.option("basePath", path).parquet(files: _*)
    }
    require(target.columns.toSet == updates.columns.toSet,
      s"schema mismatch (by name): ${target.columns.sorted.toSeq} vs " +
        s"${updates.columns.sorted.toSeq}")
    // MERGE semantics: a source row may match at most one way — duplicate
    // update keys would silently multiply rows, so reject them up front.
    val dupKeys = updates.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).count()
    require(dupKeys == 0L,
      s"updates contain duplicate merge keys on (${keys.mkString(", ")})")

    val updated = target.join(
      updates.selectExpr(keys: _*).distinct(), keys, "left_semi").count()
    val inserted = updates.join(target, keys, "left_anti").count()
    // total rows observed during the rewrite itself — no post-swap rescan
    val obs = new Observation("merge_total")
    val merged = target.join(updates, keys, "left_anti")
      .unionByName(updates)
      .observe(obs, count(lit(1)).as("total"))

    if (managed) {
      Manifest.replaceFiles(spark, path, path, merged, "ups_",
        pinned.getOrElse(Seq.empty))
    } else
      SafeSwap.replace(path) { tmp =>
        merged.write.mode("overwrite").parquet(tmp)
      }
    MergeSummary(updated, inserted, obs.get("total").asInstanceOf[Long])
  }

  /** Partition-scoped MERGE: the 100 TB complement of [[mergeInto]]'s
    * full-dataset copy-on-write. The dataset lives partitioned by
    * `partitionCol` (`path/<partitionCol>=<v>/…`, the
    * `write.partitionBy` layout); only partitions that CONTAIN update
    * keys are rewritten — every other partition's files are never read,
    * never copied, and keep their on-disk identity (the spec asserts
    * byte-identical files + mtimes).
    *
    * `partitionCol` must be one of `keys`: then a key addresses exactly
    * one partition and confining the rewrite to the updates' partition
    * values cannot strand a stale matching row elsewhere. (A mutable
    * partition attribute would need a delete-vector or table format —
    * out of scope, same caveat as [[mergeInto]]'s atomicity note.)
    * The returned summary's `total` counts rows in the REWRITTEN
    * partitions only — untouched partitions are, by design, never read.
    *
    * The distinct partition values of the update batch are collected to
    * the driver — bounded by the number of AFFECTED partitions (a daily
    * batch touches a handful), which is the quantity this operator
    * exists to keep small; each affected partition then merges behind
    * its own [[SafeSwap]], so a crash is confined to one partition and
    * heals on the next run. */
  def mergeIntoPartitioned(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      partitionCol: String): MergeSummary = {
    require(keys.contains(partitionCol),
      s"partition column $partitionCol must be part of the merge key " +
        "(otherwise a key could match rows in unrewritten partitions)")
    require(updates.filter(col(partitionCol).isNull).isEmpty,
      s"null $partitionCol in updates: null partition values are not " +
        "addressable as directories")
    val dupKeys = updates.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).count()
    require(dupKeys == 0L,
      s"updates contain duplicate merge keys on (${keys.mkString(", ")})")

    val affected = updates.select(col(partitionCol)).distinct()
      .collect().map(_.get(0))
    val restKeys = keys.filterNot(_ == partitionCol)
    // manifest-managed tables get the reader-atomic protocol
    // (Manifest.replaceFiles): merged rows land complete under new
    // ups_-prefixed names, one manifest commit swaps the partition's
    // file set, then the old files drop — a readSnapshot reader never
    // sees the SafeSwap rename-wide gap
    val managed = Manifest.exists(path)
    if (managed) Manifest.recover(path)
    // ONE pinned resolution for the whole op (the mergeInto rule): the
    // raw per-partition listing of a managed table also shows the
    // retention window's tombed originals — merging those would
    // resurrect replaced rows. All partitions then commit as ONE
    // generation (replaceFilesBatch) — a single atomicity point.
    val resolvedSet: Option[Set[String]] =
      if (managed) Manifest.resolve(path)
        .map(_.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath)
          .toSet)
      else None
    val repls = scala.collection.mutable.ArrayBuffer
      .empty[Manifest.Replacement]
    var updated = 0L; var inserted = 0L; var total = 0L
    val obsHandles = scala.collection.mutable.ArrayBuffer.empty[Observation]
    affected.foreach { pv =>
      // Hive partition-path escaping (the write.partitionBy convention):
      // a raw interpolation of e.g. 'a:b' would miss the on-disk
      // 'src=a%3Ab' directory and write a second, stale-row-stranding
      // 'src=a:b' next to it
      val pdir = s"$path/$partitionCol=" +
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(String.valueOf(pv))
      if (!managed) SafeSwap.recover(pdir)
      val slice = updates.filter(col(partitionCol) === lit(pv))
        .drop(partitionCol)
      val fs = Fs.of(pdir, spark)
      if (fs.exists(new org.apache.hadoop.fs.Path(pdir))) {
        // partitionBy layout: files under pc=v/ do not carry the column
        val olds = fs.listStatus(new org.apache.hadoop.fs.Path(pdir))
          .filter { st =>
            val n = st.getPath.getName
            st.isFile && !n.startsWith("_") && !n.startsWith(".")
          }.map(_.getPath.toString)
          .filter(p => resolvedSet.forall(
            _.contains(new org.apache.hadoop.fs.Path(p).toUri.getPath)))
          .toSeq
        // an existing but FILELESS partition dir (a keyed delete can
        // evacuate every file — e.g. an RTBF purge of a whole component)
        // has no schema to infer; it merges like a brand-new partition
        val target =
          if (olds.isEmpty) slice.limit(0)
          else if (managed) spark.read.parquet(olds: _*)
          else spark.read.parquet(pdir)
        updated += target.join(
          slice.selectExpr(restKeys: _*).distinct(), restKeys, "left_semi")
          .count()
        inserted += slice.join(target, restKeys, "left_anti").count()
        val obs = new Observation(s"merge_part_$pv")
        val merged = target.join(slice, restKeys, "left_anti")
          .unionByName(slice)
          .observe(obs, count(lit(1)).as("total"))
        if (managed) {
          repls += Manifest.Replacement(pdir, merged, "ups_", olds)
          obsHandles += obs // the write runs in the batch commit below
        } else {
          SafeSwap.replace(pdir) { tmp =>
            merged.write.mode("overwrite").parquet(tmp)
          }
          total += obs.get("total").asInstanceOf[Long]
        }
      } else {
        // brand-new partition: every update row is an insert — still
        // behind SafeSwap (or a manifest commit), so a crash mid-write
        // leaves only hidden/uncommitted files (overwritten or swept by
        // the next run), never a half-written live partition that
        // wedges subsequent merges
        val n = slice.count()
        inserted += n; total += n
        if (managed)
          repls += Manifest.Replacement(pdir, slice, "ups_", Seq.empty)
        else
          SafeSwap.replace(pdir) { tmp =>
            slice.write.mode("overwrite").parquet(tmp)
          }
      }
    }
    if (repls.nonEmpty) {
      Manifest.replaceFilesBatch(spark, path, repls.toSeq)
      total += obsHandles.map(_.get("total").asInstanceOf[Long]).sum
    }
    // the rewritten partitions invalidated any file listing Spark's
    // shared FileStatusCache holds for this tree — without the refresh,
    // a reader that touched the path earlier in the session plans
    // against pre-swap file names and fails with FILE_NOT_EXIST
    spark.catalog.refreshByPath(path)
    MergeSummary(updated, inserted, total)
  }

  /** SCD2 (slowly-changing-dimension type 2) history merge: fold a new
    * FULL snapshot into a validity-interval history table.
    *
    * `history` carries the snapshot's columns plus (`valid_from: Long`,
    * `valid_to: Long`, NULL = open); `snapshot` is the complete current
    * state tagged `version`. Semantics per key:
    *  - open row, key present, tracked values unchanged → carried open;
    *  - open row, values changed → closed at `version` + new open row;
    *  - open row, key absent from snapshot → closed (upstream delete);
    *  - new key → inserted open;
    *  - already-closed rows are immutable and carried verbatim.
    *
    * This is the record-grained evolution of the reference's full-replace
    * model (`update_table` keeps no history): the input is still a full
    * snapshot, but the warehouse keeps every version queryable by
    * validity interval (AS-OF reads = `valid_from <= v < valid_to`).
    *
    * Scale: ONE full-outer shuffle join of open-rows vs snapshot on the
    * key plus column-compare projections — no window, no driver state;
    * closed history is concatenated untouched (at 100 TB: a partition-
    * pruned carry-over, since closed partitions never rewrite). */
  def scd2Merge(history: DataFrame, snapshot: DataFrame,
      keys: Seq[String], version: Long): DataFrame = {
    val tracked = snapshot.columns.filterNot(keys.contains).toSeq
    require(tracked.nonEmpty, "snapshot must carry non-key columns")
    val open = history.filter(col("valid_to").isNull)
    val closedRows = history.filter(col("valid_to").isNotNull)

    val o = open.select(
      keys.map(col) ++
        tracked.map(c => col(c).as(s"o_$c")) :+
        col("valid_from").as("o_vf") :+ lit(1).as("in_o"): _*)
    val s = snapshot.withColumn("in_s", lit(1))
    val m = o.join(s, keys, "full_outer")
    val changed = tracked.map(c => !(col(s"o_$c") <=> col(c)))
      .reduce(_ || _)

    def shape(cols: Seq[org.apache.spark.sql.Column]) =
      keys.map(col) ++ cols

    val carried = m.filter(col("in_o") === 1 && col("in_s") === 1 && !changed)
      .select(shape(tracked.map(c => col(s"o_$c").as(c)) :+
        col("o_vf").as("valid_from") :+
        lit(null).cast("long").as("valid_to")): _*)
    val closedNow = m.filter(col("in_o") === 1 &&
        (col("in_s").isNull || changed))
      .select(shape(tracked.map(c => col(s"o_$c").as(c)) :+
        col("o_vf").as("valid_from") :+
        lit(version).as("valid_to")): _*)
    val opened = m.filter(col("in_s") === 1 &&
        (col("in_o").isNull || changed))
      .select(shape(tracked.map(col) :+
        lit(version).as("valid_from") :+
        lit(null).cast("long").as("valid_to")): _*)

    closedRows.select(carried.columns.map(col): _*)
      .unionByName(carried).unionByName(closedNow).unionByName(opened)
  }

  /** Partition-scoped SCD2: [[scd2Merge]] semantics with the closed
    * history physically LEFT IN PLACE instead of concatenated through the
    * writer. Layout under `path` (Hive partition discovery):
    *
    *   hist=open/        the current open rows (valid_to NULL)
    *   hist=closed_<v>/  rows closed at version v — written once, at the
    *                     merge that closed them, then never touched again
    *
    * Per merge, exactly two directories change: `hist=closed_<version>`
    * is written (overwrite — idempotent under re-run of the same
    * version) and `hist=open` is replaced behind [[SafeSwap]]. Every
    * older `hist=closed_*` directory keeps its on-disk identity — at
    * 100 TB the merge cost is O(open ∪ snapshot), not O(history). A
    * crash between the two writes leaves `closed_<version>` present
    * with the open dir un-swapped; re-running the same merge recomputes
    * the identical closed set from the still-open rows and overwrites
    * it, converging.
    *
    * Bootstrap an empty history from the first snapshot with
    * [[scd2Init]]; read the full history back with [[readScd2]] (drops
    * the layout column). */
  def scd2Init(spark: SparkSession, path: String, snapshot: DataFrame,
      version: Long): Unit = {
    val open = snapshot
      .withColumn("valid_from", lit(version))
      .withColumn("valid_to", lit(null).cast("long"))
    SafeSwap.replace(s"$path/hist=open") { tmp =>
      open.write.mode("overwrite").parquet(tmp)
    }
  }

  def readScd2(spark: SparkSession, path: String): DataFrame =
    spark.read.option("basePath", path).parquet(path).drop("hist")

  def scd2MergePartitioned(spark: SparkSession, path: String,
      snapshot: DataFrame, keys: Seq[String], version: Long): Unit = {
    SafeSwap.recover(s"$path/hist=open")
    val open = spark.read.parquet(s"$path/hist=open")
    // reuse the in-memory merge on JUST the open rows: an empty closed
    // side makes its output exactly carried ∪ closedNow ∪ opened
    val merged = scd2Merge(open, snapshot, keys, version)
    // the open-rows-only input makes merged = carried ∪ closedNow ∪
    // opened, so valid_to is either NULL (stays open) or `version`
    val closedNow = merged.filter(col("valid_to") === version).cache()
    val nextOpen = merged.filter(col("valid_to").isNull).cache()
    closedNow.count(); nextOpen.count() // materialize before any dir moves
    if (!closedNow.isEmpty)
      closedNow.write.mode("overwrite")
        .parquet(s"$path/hist=closed_$version")
    SafeSwap.replace(s"$path/hist=open") { tmp =>
      nextOpen.write.mode("overwrite").parquet(tmp)
    }
    closedNow.unpersist(); nextOpen.unpersist()
  }

  /** AS-OF dimension lookup against an SCD2 history: for each fact row
    * carrying a version/time `v`, the dimension row whose validity
    * interval covers it (`valid_from <= v` and `v < valid_to`, open
    * rows covering everything from their start). The point-in-time
    * join every SCD2 table exists to serve. One equi-join on the keys
    * with the interval predicate as a residual filter — per key the
    * history holds a handful of versions, so the fan-out is the
    * version count, not a range cross-product; at billions of facts
    * this is a plain shuffle-on-key join. Facts with no covering
    * version (before the key existed) surface with NULL dimension
    * columns — visible, not dropped. */
  def asOfLookup(history: DataFrame, facts: DataFrame, keys: Seq[String],
      versionCol: String): DataFrame = {
    val dimCols = history.columns
      .filterNot(c => keys.contains(c) || c == "valid_from" ||
        c == "valid_to").toSeq
    val h = history.select(
      keys.map(col) ++ dimCols.map(c => col(c).as(s"dim_$c")) :+
        col("valid_from") :+ col("valid_to"): _*)
    facts.join(h, keys.map(k => facts(k) === h(k))
        .reduce(_ && _) &&
        col("valid_from") <= facts(versionCol) &&
        (col("valid_to").isNull || facts(versionCol) < col("valid_to")),
      "left")
      .select(facts.columns.map(facts(_)) ++
        dimCols.map(c => col(s"dim_$c")) :+ col("valid_from"): _*)
  }

  // ---------------------------------------------------------------------
  // q216_scd2_lookup — the history q82 builds (v1 base, v2 mutation
  // through the real scd2Merge), probed point-in-time: facts at
  // versions 1 and 2 must see their era's balance — v1 facts the
  // original, v2 facts the mutated — and facts for keys born at v2 get
  // NULL at v1. The oracle rebuilds the same two-version history
  // declaratively and applies the identical interval rule.
  // ---------------------------------------------------------------------
  def q216Scd2Lookup(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val c = graft.Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"))
    val history0 = c
      .withColumn("valid_from", lit(1L))
      .withColumn("valid_to", lit(null).cast("long"))
    val snapshot = c.filter(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey"),
        (col("c_acctbal") + when(col("c_custkey") % 7 === 0, 100.0d)
          .otherwise(0.0d)).as("c_acctbal"))
      .unionByName(c.filter(col("c_custkey") % 11 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          col("c_acctbal")))
    val history = scd2Merge(history0, snapshot, Seq("c_custkey"), 2L)
    val facts = c.select(col("c_custkey"))
      .unionByName(c.filter(col("c_custkey") % 11 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey")))
      .withColumn("v", (col("c_custkey") % 2 + 1).cast("long"))
    asOfLookup(history, facts, Seq("c_custkey"), "v")
      .groupBy(col("v"), col("valid_from"),
        col("dim_c_acctbal").isNull.as("missing"))
      .agg(count(lit(1)).as("n"),
        graft.operators.sumDec(coalesce(col("dim_c_acctbal"), lit(0.0d)))
          .as("sum_bal"))
  }

  val q216Scd2LookupSql: String =
    """WITH c AS (SELECT c_custkey, c_acctbal FROM customer),
      |snap AS (
      |  SELECT c_custkey,
      |    c_acctbal + CASE WHEN c_custkey % 7 = 0 THEN 100.0
      |                     ELSE 0.0 END AS c_acctbal
      |  FROM c WHERE c_custkey % 13 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_acctbal FROM c
      |  WHERE c_custkey % 11 = 0),
      |hist AS (
      |  -- v1 rows: closed at 2 when changed-or-deleted, open otherwise
      |  SELECT c.c_custkey, c.c_acctbal, 1 AS valid_from,
      |    CASE WHEN s.c_custkey IS NULL OR s.c_acctbal <> c.c_acctbal
      |         THEN 2 END AS valid_to
      |  FROM c LEFT JOIN snap s ON c.c_custkey = s.c_custkey
      |  UNION ALL
      |  -- v2 rows: new keys and changed values open at 2
      |  SELECT s.c_custkey, s.c_acctbal, 2, NULL
      |  FROM snap s LEFT JOIN c ON s.c_custkey = c.c_custkey
      |  WHERE c.c_custkey IS NULL OR c.c_acctbal <> s.c_acctbal),
      |facts AS (
      |  SELECT c_custkey, c_custkey % 2 + 1 AS v FROM c
      |  UNION ALL
      |  SELECT c_custkey + 1000000, (c_custkey + 1000000) % 2 + 1
      |  FROM c WHERE c_custkey % 11 = 0),
      |j AS (
      |  SELECT f.c_custkey, f.v, h.c_acctbal AS dim_bal, h.valid_from
      |  FROM facts f LEFT JOIN hist h ON f.c_custkey = h.c_custkey
      |    AND h.valid_from <= f.v
      |    AND (h.valid_to IS NULL OR f.v < h.valid_to))
      |SELECT CAST(v AS BIGINT) AS v,
      |  CAST(valid_from AS BIGINT) AS valid_from,
      |  dim_bal IS NULL AS missing, COUNT(*) AS n,
      |  CAST(SUM(CAST(COALESCE(dim_bal, 0.0) AS DECIMAL(30,4)))
      |    AS DOUBLE) AS sum_bal
      |FROM j GROUP BY 1, 2, 3""".stripMargin

}
