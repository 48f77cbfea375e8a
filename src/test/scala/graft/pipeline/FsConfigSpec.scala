package graft.pipeline

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FilterFileSystem,
  LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}

import graft.SparkSpec

/** A local filesystem under its own scheme: only a conf that carries
  * `fs.reachfs.impl` can open a `reachfs://` path. Statuses are built
  * here because the local ones derive permissions from a `file:` URI. */
class ReachFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("reachfs:///")
  override def getScheme: String = "reachfs"
  override def getFileStatus(p: Path): FileStatus = {
    val f = pathToFile(p)
    if (!f.exists) throw new FileNotFoundException(p.toString)
    new FileStatus(f.length, f.isDirectory, 1, getDefaultBlockSize(p),
      f.lastModified, makeQualified(p))
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    val f = pathToFile(p)
    if (!f.exists) throw new FileNotFoundException(p.toString)
    if (f.isFile) Array(getFileStatus(p))
    else f.list().sorted.map(n => getFileStatus(new Path(p, n)))
  }
}

/** [[ReachFs]] without the located listings: on the local filesystem
  * without native IO, `listFiles` and `listLocatedStatus` build a
  * `LocatedFileStatus` per file, whose permission lookup forks a
  * process. */
class UnlocatedFs extends FilterFileSystem(new ReachFs) {
  override def listFiles(p: Path, recursive: Boolean)
      : RemoteIterator[LocatedFileStatus] =
    throw new UnsupportedOperationException(s"listFiles($p)")
  override def listLocatedStatus(p: Path)
      : RemoteIterator[LocatedFileStatus] =
    throw new UnsupportedOperationException(s"listLocatedStatus($p)")
}

/** The commit protocols open their filesystems on the session's Hadoop
  * conf ([[Fs]]), so a `spark.hadoop.*` filesystem setting reaches them
  * the same way it reaches Spark's own reads and writes. */
class FsConfigSpec extends SparkSpec {

  test("Sync, SafeSwap, AppendCommit and Manifest reach a session-only " +
    "filesystem scheme") {
    import spark.implicits._
    // what `spark.hadoop.fs.reachfs.impl` puts into the context's conf;
    // uncached, so every open must carry the setting itself
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.reachfs.impl", classOf[ReachFs].getName)
    hc.setBoolean("fs.reachfs.impl.disable.cache", true)
    try {
      val local = Files.createTempDirectory("reach")
      val root = s"reachfs://${local.toUri.getPath.stripSuffix("/")}"
      Files.createDirectories(local.resolve("raw_files/t"))
      Files.writeString(local.resolve("raw_files/t/a.tsv"), "1\n")
      assert(Sync.listState(spark, root) == Seq("raw_files/t/a.tsv"))

      val store = s"$root/store"
      SafeSwap.replace(store) { tmp =>
        Seq(1L, 2L).toDF("id").write.parquet(s"$tmp/data")
      }
      assert(AppendCommit.appendBatch(spark, store, "b1") { tmp =>
        Seq(3L).toDF("id").write.parquet(s"$tmp/data")
      })
      assert(spark.read.parquet(s"$store/data").as[Long].collect().sorted
        .toSeq == Seq(1L, 2L, 3L))

      val table = s"$root/table"
      Seq(4L, 5L).toDF("id").coalesce(1).write.parquet(table)
      Manifest.enable(spark, table)
      val rel = Manifest.resolve(table).get.map(Manifest.relativize(table, _))
      assert(rel.size == 1)
      Manifest.commit(table, rel)
      assert(Manifest.generations(table).size == 2)
      assert(spark.read.parquet(Manifest.resolve(table).get: _*).as[Long]
        .collect().sorted.toSeq == Seq(4L, 5L))
    } finally {
      hc.unset("fs.reachfs.impl")
      hc.unset("fs.reachfs.impl.disable.cache")
    }
  }

  test("the raw listings walk with listStatus and return what the " +
    "located listing returns") {
    val local = Files.createTempDirectory("unlocated")
    Seq("raw_files/t/a.tsv", "raw_files/t/.hidden", "raw_files/t/sub/b.tsv",
      "raw_files/t/.stage/c.tsv", "raw_files/u/d.tsv.gz").foreach { rel =>
      val f = local.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.writeString(f, rel)
    }
    Files.createDirectories(local.resolve("raw_files/u/empty"))
    val fileRoot = local.toUri.toString.stripSuffix("/")
    // what the located listing returns, on the plain local filesystem
    val state = Sync.listState(spark, fileRoot)
    val entries = Canonicalize.rawListingEntries(spark, fileRoot, "t")
    val fs = Fs.of(fileRoot, spark)
    val located = {
      val it = fs.listFiles(new Path(s"$fileRoot/raw_files"), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().getPath.toUri.getPath
      b.result()
    }
    assert(state.map(local.toUri.getPath + _).sorted == located.sorted)
    assert(state.toSet == Set("raw_files/t/a.tsv", "raw_files/t/.hidden",
      "raw_files/t/sub/b.tsv", "raw_files/t/.stage/c.tsv",
      "raw_files/u/d.tsv.gz"))
    assert(entries.map(_.split('|').head) ==
      Seq("/.stage/c.tsv", "/a.tsv", "/sub/b.tsv"))
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.reachfs.impl", classOf[UnlocatedFs].getName)
    hc.setBoolean("fs.reachfs.impl.disable.cache", true)
    try {
      val root = s"reachfs://${local.toUri.getPath.stripSuffix("/")}"
      intercept[UnsupportedOperationException](
        Fs.of(root, spark).listFiles(new Path(root), true))
      // ReachFs lists a directory in name order
      assert(Sync.listState(spark, root) == state.sorted)
      assert(Canonicalize.rawListingEntries(spark, root, "t") == entries)
    } finally {
      hc.unset("fs.reachfs.impl")
      hc.unset("fs.reachfs.impl.disable.cache")
    }
  }

  test("src/main opens filesystems only through Fs") {
    val main = java.nio.file.Paths.get("src/main")
    val offenders = {
      val s = Files.walk(main)
      try s.iterator().asScala.filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Fs.scala").flatMap { p: JPath =>
            Files.readAllLines(p).asScala.zipWithIndex.collect {
              case (line, i) if line.contains("new Configuration()") ||
                  line.contains("FileSystem.get(") => s"$p:${i + 1}: $line"
            }
          }.toList
      finally s.close()
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
