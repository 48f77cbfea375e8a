package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.{JobCount, SparkSpec}
import graft.operators.{Curation, Dedup, GramIndex, TermIndex}

/** Spark jobs per persisted-store operation, pinned at the counts the
  * per-family lifecycles ran before they shared one protocol: a count
  * that rises fails, a count that drops is reported. */
class PersistedStoreJobsSpec extends SparkSpec {

  private def docs(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"doc $i says the quick brown fox ${i % 3}"))
      .toDF("doc_id", "text")
  }

  private def atMost(what: String, pinned: Int)(run: => Unit): Unit = {
    val n = JobCount(spark)(run)
    assert(n <= pinned, s"$what: $n jobs, pinned at $pinned")
    if (n < pinned) info(s"$what: $n jobs (pinned at $pinned)")
  }

  /** build, append and purge of one family, each pinned. */
  private def lifecycle(family: String, pins: (Int, Int, Int))(
      build: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit,
      purge: (Seq[Any], String) => Unit): Unit = {
    val dir = Files.createTempDirectory(s"jobs_$family").resolve("s")
      .toString
    atMost(s"$family build", pins._1)(build(docs(1, 2, 3, 4), dir))
    atMost(s"$family append", pins._2)(append(docs(5, 6), dir))
    atMost(s"$family purge", pins._3)(purge(Seq(2L, 5L), dir))
  }

  test("MinHash index: build, append, purge") {
    lifecycle("minhash", (12, 18, 15))(
      Dedup.buildMinhashIndex(spark, _, _),
      Dedup.appendToMinhashIndex(spark, _, _),
      (k, d) => { Dedup.purgeMinhashIndex(spark, d, k); () })
  }

  test("term index: build, append, purge") {
    lifecycle("term", (5, 5, 10))(
      TermIndex.buildTermIndex(spark, _, _),
      TermIndex.appendToTermIndex(spark, _, _),
      (k, d) => { TermIndex.purgeDocs(spark, d, k); () })
  }

  test("gram index: build, append, purge") {
    lifecycle("gram", (5, 5, 6))(
      GramIndex.buildGramIndex(spark, _, 2, _),
      (b, d) => { GramIndex.appendToGramIndex(spark, b, 2, d); () },
      (k, d) => { GramIndex.purgeDocs(spark, d, k); () })
  }

  test("pack store: build, append, purge") {
    lifecycle("pack", (7, 7, 6))(
      (b, d) => Curation.initPackStore(spark, d, b, 16L, "b0"),
      (b, d) => Curation.appendToPackStore(spark, d, b, 16L, "b1"),
      (k, d) => { Curation.purgePackStore(spark, d, k); () })
  }

  test("MinHash and pack sinks: bootstrap, then append") {
    val root = Files.createTempDirectory("jobs_sinks")
    val mh = Dedup.foreachBatchIndexSink(root.resolve("mh").toString)
    atMost("minhash sink bootstrap", 15)(mh(docs(1, 2, 3), 0L))
    atMost("minhash sink append", 18)(mh(docs(4, 5), 1L))
    val pack = Curation.foreachBatchPackSink(root.resolve("pk").toString,
      16L)
    atMost("pack sink bootstrap", 7)(pack(docs(1, 2, 3), 0L))
    atMost("pack sink append", 7)(pack(docs(4, 5), 1L))
  }
}
