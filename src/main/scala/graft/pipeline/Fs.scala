package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one way the engine opens the Hadoop FileSystem of a path string:
  * `Path#getFileSystem`, never `FileSystem.get(new URI(path), …)`. A raw
  * path can hold characters illegal in a URI — a space in a warehouse
  * dir, a Hive partition value such as `priority=4-NOT SPECIFIED` —
  * which the strict single-argument URI parser rejects; Path's
  * constructor quotes them.
  *
  * The configuration is the session's `sparkContext.hadoopConfiguration`,
  * never a fresh `Configuration`: a fresh one re-parses the default
  * resources on first use (the top driver frame of a traced sync, once
  * per call), and it misses every `spark.hadoop.*` setting — a custom
  * `fs.<scheme>.impl`, credentials, committer knobs — so the commit
  * protocols would open a different filesystem than Spark's own reads
  * and writes. Executor closures carry the driver's conf in a
  * `SerializableConfiguration` and call the `Configuration` overload. */
object Fs {
  def of(path: String): FileSystem = of(path, sessionConf)

  def of(path: String, spark: SparkSession): FileSystem =
    of(path, spark.sparkContext.hadoopConfiguration)

  def of(path: String, conf: Configuration): FileSystem =
    new Path(path).getFileSystem(conf)

  /** Every entry under `root` that is not a directory, depth-first in
    * listing order — the entries of `fs.listFiles(root, true)`, through
    * `listStatus`: on the local filesystem without native IO,
    * `listFiles` builds a `LocatedFileStatus` per file, and its
    * permission lookup forks an `ls -ld` process per file. */
  def filesUnder(fs: FileSystem, root: Path): Seq[FileStatus] =
    fs.listStatus(root).toSeq.flatMap(st =>
      if (st.isDirectory) filesUnder(fs, st.getPath) else Seq(st))

  /** The active (else default) session's Hadoop conf; a bare
    * `Configuration` only where no session exists at all (executor
    * threads report none — they must pass the driver's conf). */
  private def sessionConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
}
