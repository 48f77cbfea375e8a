package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one way the engine opens the Hadoop FileSystem of a path string:
  * `Path#getFileSystem`, never `FileSystem.get(new URI(path), …)`. A raw
  * path can hold characters illegal in a URI — a space in a warehouse
  * dir, a Hive partition value such as `priority=4-NOT SPECIFIED` —
  * which the strict single-argument URI parser rejects; Path's
  * constructor quotes them. */
object Fs {
  def of(path: String): FileSystem =
    new Path(path).getFileSystem(new Configuration())

  def of(path: String, spark: SparkSession): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
