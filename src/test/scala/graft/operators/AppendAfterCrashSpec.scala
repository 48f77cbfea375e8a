package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** A build that crashed between SafeSwap's rename-aside and rename-in
  * leaves the whole store in its hidden aside copy. The next append must
  * heal it first; otherwise it creates a fresh live dir holding only the
  * batch, and the next replace deletes the stranded copy. */
class AppendAfterCrashSpec extends SparkSpec {

  /** One store kind: build, append, and a canonical read of the data
    * and ledger a reader sees. */
  private case class Store(name: String,
      build: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit,
      read: String => Seq[String])

  private def ledger(dir: String): Seq[String] =
    graft.pipeline.AppendCommit.appliedEntries(dir).map(_._2).sorted

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val stores = Seq(
    Store("term index",
      (d, dir) => TermIndex.buildTermIndex(spark, d, dir),
      (d, dir) => TermIndex.appendToTermIndex(spark, d, dir),
      dir => rowsOf(spark.read.parquet(s"$dir/postings")) ++ ledger(dir)),
    Store("gram index",
      (d, dir) => GramIndex.buildGramIndex(spark, d, 2, dir),
      (d, dir) => { GramIndex.appendToGramIndex(spark, d, 2, dir); () },
      dir => rowsOf(spark.read.parquet(s"$dir/grams")) ++ ledger(dir)),
    Store("pack store",
      (d, dir) => Curation.initPackStore(spark, dir, d, 8L, "b0"),
      (d, dir) => Curation.appendToPackStore(spark, dir, d, 8L, "b1"),
      dir => rowsOf(Curation.readPackStore(spark, dir)) ++ ledger(dir)))

  test("an append after a crashed build reads as build + append") {
    import spark.implicits._
    val base = Seq((1L, "the quick brown fox"), (2L, "jumps over the dog"))
      .toDF("doc_id", "text")
    val batch = Seq((3L, "a quick red fox jumps")).toDF("doc_id", "text")
    val lost = stores.filterNot { s =>
      val root = Files.createTempDirectory("crashed_build").toString
      val clean = s"$root/clean"
      s.build(base, clean)
      s.append(batch, clean)
      val crashed = s"$root/crashed"
      s.build(base, crashed)
      // the crash point: live dir renamed aside, swap-in never ran
      assert(new java.io.File(crashed)
        .renameTo(new java.io.File(s"$root/.crashed.__old")))
      s.append(batch, crashed)
      s.read(crashed) == s.read(clean)
    }.map(_.name)
    assert(lost.isEmpty, s"stores that lost their crashed build: $lost")
  }
}
