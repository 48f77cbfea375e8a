package graft.operators

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** A build that crashed between SafeSwap's rename-aside and rename-in
  * leaves the whole store in its hidden aside copy. Every entry point —
  * append, purge, compact, probe/read — must heal it first and then read
  * exactly as on the store that did not crash: an append would otherwise
  * create a fresh live dir holding only the batch (and the next replace
  * deletes the stranded copy), a purge would leave the forgotten rows in
  * the aside copy, and a compact or probe would fail on the missing
  * tree. */
class AppendAfterCrashSpec extends SparkSpec {

  /** One store kind over a base corpus and a batch: its build, its
    * entry points (each returns what a caller sees), and a canonical
    * read of the data and ledger a reader sees. */
  private type Op = (String, String => Seq[String])
  private case class Store(name: String, base: DataFrame,
      build: (DataFrame, String) => Unit, ops: Seq[Op],
      read: String => Seq[String])

  private def ledger(dir: String): Seq[String] =
    graft.pipeline.AppendCommit.appliedEntries(dir).map(_._2).sorted

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def unit(run: => Any): Seq[String] = { run; Nil }

  private lazy val docs = {
    import spark.implicits._
    Seq((1L, "the quick brown fox"), (2L, "jumps over the dog"),
      (4L, "the quick red dog")).toDF("doc_id", "text")
  }
  private lazy val docBatch = {
    import spark.implicits._
    Seq((3L, "a quick red fox jumps")).toDF("doc_id", "text")
  }
  private lazy val vecs = graft.Tables.load(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
  private lazy val queries = vecs.filter(col("vec_id") % 10 === 3)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  private def textStore(name: String, build: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit, purge: (Seq[Any], String) => Long,
      extra: Seq[Op],
      read: String => Seq[String]): Store =
    Store(name, docs, build,
      Seq[Op]("append" -> (d => unit(append(docBatch, d))),
        "purge" -> (d => Seq(purge(Seq(2L), d).toString))) ++ extra,
      read)

  /** A vector kind: `probe(dir)` is its probe, `compact` whether it is
    * routed (only cell-partitioned stores compact). */
  private def vectorStore(name: String, build: (DataFrame, String) => Unit,
      probe: String => DataFrame, compact: Boolean): Store = {
    val deleted = vecs.filter(col("vec_id") === 4L)
    Store(name, vecs.filter(col("vec_id") % 2 === 0), build,
      Seq[Op]("append" -> (d => unit(VectorIndex.append(spark,
          vecs.filter(col("vec_id") % 2 === 1), d))),
        "purge" -> (d =>
          Seq(VectorIndex.purge(spark, d, Seq(4L), deleted).toString)),
        "probe" -> (d => rowsOf(probe(d)))) ++
        (if (compact) Seq[Op]("compact" -> (d => unit(VectorIndex.compact(
          spark, d, maxFiles = 1)))) else Nil),
      d => rowsOf(spark.read.parquet(
          s"$d/${if (compact) "cells" else "codes"}")) ++ ledger(d) :+
        new String(Files.readAllBytes(
          Path.of(d, "_corpus_fingerprint")), "UTF-8"))
  }

  private lazy val stores = Seq(
    textStore("MinHash index", Dedup.buildMinhashIndex(spark, _, _),
      Dedup.appendToMinhashIndex(spark, _, _),
      (k, d) => Dedup.purgeMinhashIndex(spark, d, k),
      Seq[Op]("compact" -> (d => unit(Dedup.compactMinhashIndex(spark, d))),
        "probe" -> (d => rowsOf(Dedup.incrementalNearDups(spark, d,
          docBatch, minEst = 0.0)))),
      d => rowsOf(spark.read.parquet(s"$d/signatures")) ++
        rowsOf(Dedup.readMinhashBands(spark, d)) ++ ledger(d)),
    textStore("term index", TermIndex.buildTermIndex(spark, _, _),
      TermIndex.appendToTermIndex(spark, _, _),
      (k, d) => TermIndex.purgeDocs(spark, d, k),
      Seq[Op]("probe" -> (d => rowsOf(TermIndex.probeTermIndex(spark, d,
        Seq("quick", "dog"), k = 3)))),
      d => rowsOf(spark.read.parquet(s"$d/postings")) ++ ledger(d)),
    textStore("gram index", GramIndex.buildGramIndex(spark, _, 2, _),
      (b, d) => { GramIndex.appendToGramIndex(spark, b, 2, d); () },
      (k, d) => GramIndex.purgeDocs(spark, d, k),
      Seq[Op]("probe" -> (d => rowsOf(GramIndex.noveltyProbe(spark, docBatch,
        2, d)))),
      d => rowsOf(spark.read.parquet(s"$d/grams")) ++ ledger(d)),
    textStore("pack store",
      (b, d) => Curation.initPackStore(spark, d, b, 8L, "b0"),
      (b, d) => Curation.appendToPackStore(spark, d, b, 8L, "b1"),
      (k, d) => Curation.purgePackStore(spark, d, k),
      Seq[Op]("compact" -> (d => Curation.compactPackStore(spark, d, 8L, 0.0)
          .toSeq.map(_.toString)),
        "read" -> (d => rowsOf(Curation.readPackStore(spark, d)))),
      d => rowsOf(spark.read.parquet(s"$d/docs")) ++ ledger(d)),
    vectorStore("IVF", Similarity.buildIvfIndex(spark, _, _, nlist = 4),
      Similarity.probeIvfIndex(spark, _, queries, k = 3), compact = true),
    vectorStore("PQ", Quantize.buildPqIndex(spark, _, _, m = 4, k = 8),
      Quantize.probePqIndex(spark, _, queries, vecs, k = 3),
      compact = false),
    vectorStore("IVF-PQ",
      Quantize.buildIvfPqIndex(spark, _, _, nlist = 4, m = 4, k = 8),
      Quantize.probeIvfPqIndex(spark, _, queries, vecs, k = 3),
      compact = true),
    vectorStore("IVF-SQ8", Quantize.buildIvfSqIndex(spark, _, _, nlist = 4),
      Quantize.probeIvfSqIndex(spark, _, queries, vecs, k = 3),
      compact = true))

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p))))
    finally walk.close()
  }

  /** Each store built once; every op then runs on two copies of it —
    * one live, one left in the crash state (renamed aside). */
  private lazy val built: Map[String, Path] = stores.map { s =>
    val dir = Files.createTempDirectory("crashed_build").resolve("built")
    s.build(s.base, dir.toString)
    s.name -> dir
  }.toMap

  /** The "store op" pairs among `ops` whose crashed copy did not read
    * (result and store content) as the clean copy. */
  private def lost(ops: Set[String]): Seq[String] = stores.flatMap { s =>
    val root = built(s.name).getParent
    s.ops.filter(o => ops(o._1)).flatMap { case (op, run) =>
      val clean = root.resolve(s"clean_$op")
      // the crash point: the live dir renamed aside, swap-in never ran
      val crashed = root.resolve(s"crashed_$op")
      copyTree(built(s.name), clean)
      copyTree(built(s.name), root.resolve(s".crashed_$op.__old"))
      val seen = scala.util.Try(run(crashed.toString))
        .flatMap(r => scala.util.Try((r, s.read(crashed.toString))))
      val ok = seen.toOption.contains(
        (run(clean.toString), s.read(clean.toString)))
      if (ok) None else Some(s"${s.name} $op")
    }
  }

  test("an append after a crashed build reads as build + append") {
    val l = lost(Set("append"))
    assert(l.isEmpty, s"stores that lost their crashed build: $l")
  }

  test("purge, compact and probe/read after a crashed build read as " +
      "without the crash") {
    val l = lost(Set("purge", "compact", "probe", "read"))
    assert(l.isEmpty, s"entry points that lost a crashed build: $l")
  }
}
