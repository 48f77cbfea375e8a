package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** LazySimpleSerDe-compatible gzip TSV source/sink — the reference's one
  * and only storage format (`sync-canvas-data-files.py:177-202`: csv
  * classification, `\t` delimiter, gzip compression, `LazySimpleSerDe`).
  *
  * Parsing contract replicated exactly (SURVEY.md §1.2 "hard parts"):
  *  - literal `\N` is NULL (LazySimpleSerDe default null sequence);
  *  - there is NO quoting — a quote char is data; disabled via `\u0000`;
  *  - schema is always pushed, never inferred (the reference pulls schema
  *    from the API and pushes it to the catalog; inference could drift);
  *  - malformed numerics read as NULL, not error (PERMISSIVE mode);
  *  - gzip is whole-file compression → non-splittable, 1 task per file,
  *    same as Athena on the reference layout. The canonicalize step
  *    (see [[graft.pipeline.Canonicalize]]) rewrites to splittable
  *    columnar Parquet for the analytic layer.
  */
object TsvSource {

  val ReadOptions: Map[String, String] = Map(
    "sep" -> "\t",
    "nullValue" -> "\\N",
    "quote" -> "\u0000",
    "escape" -> "\u0000",
    "mode" -> "PERMISSIVE",
    "header" -> "false",
    "emptyValue" -> "")

  /** The LazySimpleSerDe projection over a one-string-column `value`
    * DataFrame — works identically on a batch text scan and a streaming
    * text source (the streaming canonicalizer reuses it):
    *  - `\N` → NULL (any type);
    *  - empty field → empty string, NOT null;
    *  - malformed numeric/timestamp → NULL via try_cast;
    *  - split limit -1 keeps trailing empty fields;
    *  - a row SHORTER than the schema pads missing trailing columns
    *    with NULL, a LONGER one ignores its extras — LazySimpleSerDe's
    *    positional schema-evolution contract. The reference's
    *    incremental tables (requests) accumulate raw files across
    *    schema versions, so after a version appends a column the table
    *    dir permanently mixes row widths; Athena reads old files under
    *    the new DDL without error and so must this scan
    *    (`try_element_at`: out-of-bounds → NULL even under ANSI mode,
    *    where plain `element_at` throws).
    * `carry` names columns of `raw` that pass through after the parsed
    * ones (the batched raw purge tags each line with its source file).
    */
  def parse(raw: DataFrame, schema: StructType,
      carry: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    val parts = split(col("value"), "\t", -1)
    val tmp = raw.select(schema.fields.indices.map(i =>
      try_element_at(parts, lit(i + 1)).as(s"_c$i")) ++ carry.map(col): _*)
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      val c = f.dataType match {
        case org.apache.spark.sql.types.StringType =>
          expr(s"nullif(_c$i, '\\\\N')")
        case dt =>
          expr(s"try_cast(nullif(_c$i, '\\\\N') AS ${dt.sql})")
      }
      c.as(f.name)
    }
    tmp.select(cols.toSeq ++ carry.map(col): _*)
  }

  /** Escape Hadoop glob metacharacters in a path: `DataFrameReader`
    * paths are GLOBS, so a raw file literally named `data[1].tsv`
    * passed verbatim silently reads a sibling (`data1.tsv`) or throws
    * path-not-exist — and raw filenames come from upstream manifests,
    * i.e. are user-controlled. Apply to every explicit-FILE read path
    * (directory-rooted reads built from config-controlled names don't
    * need it). Hadoop's glob grammar honors backslash escapes. */
  def globEscape(path: String): String =
    path.flatMap(c =>
      if ("\\*?[]{}".indexOf(c.toInt) >= 0) s"\\$c" else c.toString)

  /** Read with exact LazySimpleSerDe semantics. Spark's CSV reader can't
    * express them (it collapses unquoted empty strings to NULL), so this is
    * a text scan + `split` + `try_cast` projection — pure built-in,
    * codegen'd expressions. */
  def read(spark: SparkSession, schema: StructType, path: String): DataFrame =
    parse(spark.read.text(path), schema)

  /** Read an explicit file subset (the warehouse maintenance loop feeds
    * only a sync batch's NEW files through this — never the table dir). */
  def read(spark: SparkSession, schema: StructType,
      paths: Seq[String]): DataFrame =
    parse(spark.read.text(paths: _*), schema)

  /** Write a DataFrame as reference-layout gzip TSV (for fixtures and the
    * round-trip correctness gate). `compression` is a knob because the
    * raw-layer RTBF rewrite ([[graft.Warehouse]].forget) must preserve
    * the ORIGINAL file's codec — Spark's text reader infers the codec
    * from the file EXTENSION, so gzip bytes under a `.tsv` name read as
    * garbage. */
  def write(df: DataFrame, path: String,
      compression: String = "gzip"): Unit =
    writeWith(df.write, path, compression)

  /** [[write]] through a caller-shaped writer (a partitioned one). */
  def writeWith(w: DataFrameWriter[Row], path: String,
      compression: String): Unit =
    w
      .options(Map(
        "sep" -> "\t",
        "nullValue" -> "\\N",
        "quote" -> "\u0000",
        "escape" -> "\u0000",
        "emptyValue" -> "",
        "compression" -> compression,
        "header" -> "false"))
      .mode("overwrite")
      .csv(path)
}
