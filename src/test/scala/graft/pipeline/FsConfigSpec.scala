package graft.pipeline

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

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
