package graft

import java.io.FileOutputStream
import java.nio.file.{Files, Path => JPath}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.model.{CDColumn, CDTable}
import graft.pipeline.{Maintain, Manifest}
import graft.pipeline.Sync.ManifestEntry

/** A forget rewrites every hit file in one write job per layer: the job
  * count does not grow with the number of hit files, and each rewritten
  * file keeps its own physical columns, its row order and its name
  * (`del_<orig>` for parquet, the original name for raw TSV). */
class ForgetRewriteSpec extends WarehouseSessionSpec {

  /** Key column values of file `i`: hit files carry key 7 twice, between
    * survivors; the last file of each run holds only key 7. */
  private def keys(i: Int, nHit: Int): Seq[Long] =
    if (i == nHit - 1) Seq(7L, 7L)
    else if (i < nHit) Seq(1L, 7L, 2L, 7L, 3L)
    else Seq(4L, 5L, 6L)

  private def files(dir: JPath): Seq[JPath] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.startsWith(".") &&
      !p.getFileName.toString.startsWith("_")).toList.sorted
    finally s.close()
  }

  private def gunzipLines(p: JPath): Seq[String] = {
    val in = new GZIPInputStream(Files.newInputStream(p))
    try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq
      .filter(_.nonEmpty)
    finally in.close()
  }

  test("raw gzip TSV: one rewrite job for 2 or 8 hit files; names, " +
    "columns and line order kept") {
    val schema = Seq(CDTable("t", None, Seq(CDColumn("id", "bigint"),
      CDColumn("k", "bigint"), CDColumn("v", "varchar", Some(8)))))
    def run(nHit: Int): Int = {
      val src = Files.createTempDirectory("fr_src")
      val lines = (0 until nHit + 2).map { i =>
        val name = f"part_$i%02d.tsv.gz"
        val ls = keys(i, nHit).zipWithIndex.map { case (k, j) =>
          s"${i * 10 + j}\t$k\tv$j" }
        val out = new GZIPOutputStream(
          new FileOutputStream(src.resolve(name).toFile))
        try out.write(ls.map(_ + "\n").mkString.getBytes("UTF-8"))
        finally out.close()
        name -> ls
      }
      val manifest = lines.map { case (n, _) =>
        ManifestEntry("t", n, src.resolve(n).toUri.toString) }
      val whDir = Files.createTempDirectory("fr_wh")
      val wh = new Warehouse(spark, Warehouse.Config(
        whDir.toUri.toString.stripSuffix("/"), db = s"cd_fr$nHit",
        parallelism = 2))
      wh.sync(manifest, schema)
      val jobs = JobCount(spark) { wh.forget(schema, "t", "k", Seq(7L)) }
      val raw = whDir.resolve("raw_files/t")
      assert(files(raw).map(_.getFileName.toString) == lines.map(_._1))
      lines.foreach { case (n, ls) =>
        assert(gunzipLines(raw.resolve(n)) ==
          ls.filterNot(_.split("\t")(1) == "7"), n)
      }
      jobs
    }
    assert(run(2) == run(8))
  }

  /** `nHit + 2` one-file writes under one table dir (hive-partitioned
    * by `dt` and manifest-enabled when `managed`), a delete of key 7,
    * and the per-file checks; returns the delete's job count. */
  private def parquetCase(nHit: Int, managed: Boolean): Int = {
    import spark.implicits._
    val dir = Files.createTempDirectory("fr_pq").resolve("t")
    val tableDir = dir.toUri.toString.stripSuffix("/")
    (0 until nHit + 2).foreach { i =>
      val df = keys(i, nHit).zipWithIndex
        .map { case (k, j) =>
          (i * 10L + j, k, s"v$j", s"2024-01-0${1 + i % 2}") }
        .toDF("id", "k", "v", "dt").coalesce(1)
      if (managed) df.write.mode("append").partitionBy("dt").parquet(tableDir)
      else df.drop("dt").write.mode("append").parquet(tableDir)
    }
    if (managed) Manifest.enable(spark, tableDir)
    def rows(p: JPath): Seq[Row] =
      spark.read.parquet(p.toUri.toString).collect().toSeq
    val before = files(dir).map(p => p -> rows(p))
    val jobs = JobCount(spark) {
      Maintain.deleteByKey(spark, tableDir, "k", Seq(7L)) }
    val after = files(dir).toSet
    before.foreach { case (p, rs) =>
      val kept = rs.filterNot(_.getLong(1) == 7L)
      val del = p.resolveSibling(s"del_${p.getFileName}")
      if (rs.forall(_.getLong(1) != 7L)) assert(after(p), s"$p untouched")
      else if (kept.isEmpty) assert(!after(p) && !after(del), s"$p dropped")
      else {
        assert(!after(p) && after(del), s"$p rewritten as $del")
        assert(spark.read.parquet(del.toUri.toString).columns.toSeq ==
          Seq("id", "k", "v"), s"$del keeps its physical columns")
        assert(rows(del) == kept, s"$del keeps its row order")
      }
    }
    if (managed)
      assert(Manifest.resolve(tableDir).get.map(_.split('/').last).sorted ==
        files(dir).map(_.getFileName.toString).sorted)
    jobs
  }

  test("unmanaged parquet: one rewrite job for 2 or 8 hit files") {
    assert(parquetCase(2, managed = false) == parquetCase(8, managed = false))
  }

  test("a parquet delete infers no schema: discovery, then one rewrite " +
    "job; a partition-column key deletes whole files") {
    // the delete key's type and the hit files' schemas come from their
    // footers, read on the driver: only the discovery aggregation and
    // the rewrite run jobs (two each: a shuffle map stage, then the
    // result), never a schema-inference read
    assert(parquetCase(2, managed = false) == PinnedJobs)
    assert(parquetCase(2, managed = true) == PinnedJobs)
    import spark.implicits._
    val tableDir = Files.createTempDirectory("fr_part").resolve("t")
      .toUri.toString.stripSuffix("/")
    Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-01"))
      .toDF("id", "dt").write.partitionBy("dt").parquet(tableDir)
    val sum = Maintain.deleteByKey(spark, tableDir, "dt",
      Seq(java.sql.Date.valueOf("2024-01-01")))
    assert(sum.rowsDeleted == 2L && sum.rewritten == 0, s"$sum")
    assert(spark.read.parquet(tableDir).as[(Long, java.sql.Date)].collect()
      .toSeq == Seq((2L, java.sql.Date.valueOf("2024-01-02"))))
  }

  /** Jobs of one [[parquetCase]] delete. */
  private val PinnedJobs = 4

  test("manifest-managed date-partitioned parquet: one rewrite job for " +
    "2 or 8 hit files, no partition column written as data") {
    assert(parquetCase(2, managed = true) == parquetCase(8, managed = true))
  }
}
