package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digest of a DataFrame: the row count and the
  * exact sum of a 64-bit hash of each row's canonical text. Columns are
  * taken in name order and rendered type-neutrally (timestamps with or
  * without time zone print the same in a UTC session), so the canonical
  * parquet layer, the raw TSV read and the generated parquet compare
  * equal when they hold the same rows. */
object Digest {
  def of(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(rowHash(df).as("h")).agg(count(lit(1)), sum(col("h")))
      .head()
    (r.getLong(0), dec(r, 1))
  }

  /** [[of]] per value of `key`, which is left out of the row text. */
  def byKey(df: DataFrame, key: String): Map[Int, (Long, BigDecimal)] = {
    val rest = df.drop(key)
    df.select(col(key).cast("int").as("k"), rowHash(rest).as("h"))
      .groupBy(col("k")).agg(count(lit(1)), sum(col("h"))).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), dec(r, 2)))).toMap
  }

  private def dec(r: org.apache.spark.sql.Row, i: Int): BigDecimal =
    Option(r.getDecimal(i)).map(BigDecimal(_)).getOrElse(BigDecimal(0))

  private def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.sortBy(_.name).toSeq.map(f =>
      coalesce(canon(col(s"`${f.name}`"), f.dataType), lit("\u0000")))
    xxhash64(concat_ws("\u0001", cols: _*)).cast(DecimalType(38, 0))
  }

  private def canon(c: Column, dt: DataType): Column = dt match {
    case TimestampType | TimestampNTZType =>
      date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    case _ => c.cast(StringType)
  }

  /** The raw layer carries embeddings as comma-joined float text; parse
    * them so they digest like the generated `array<float>` column. */
  def withParsedEmbedding(df: DataFrame): DataFrame =
    if (df.columns.contains("embedding") &&
        df.schema("embedding").dataType == StringType)
      df.withColumn("embedding",
        split(col("embedding"), ",").cast("array<float>"))
    else df

  /** Per-slice (rows, digest) of a table's generated extracts read back
    * through the engine's TSV source, and of the generated rows: equal
    * when every slice's file holds exactly that slice's rows. */
  def extractSlices(spark: org.apache.spark.sql.SparkSession, work: String,
      t: graft.model.CDTable)
      : (Map[Int, (Long, BigDecimal)], Map[Int, (Long, BigDecimal)]) = {
    val tsv = withParsedEmbedding(graft.sources.TsvSource.read(spark,
      graft.model.TypeLattice.toStructType(t),
      s"$work/extracts/${t.tableName}"))
    val got = byKey(tsv.withColumn("__slice", regexp_extract(
      input_file_name(), "-s(\\d+)\\.gz", 1)), "__slice")
    val want = byKey(
      spark.read.parquet(s"$work/sliced/${t.tableName}.parquet"), "__slice")
    (got, want)
  }
}
