package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

import graft.model.{CDTable, TypeLattice}

/** Catalog upsert (SURVEY.md §2A A12): the reference's
  * `create_or_update_table` (`sync-canvas-data-files.py:170-235`) builds a
  * Glue external-table descriptor — location, TSV SerDe, typed columns with
  * comments — and create-or-updates it. Here the catalog is the Spark
  * session catalog and the descriptor is `CREATE TABLE ... USING
  * graft.sources.lazytsv` — the repo's own LazySimpleSerDe-exact source
  * ([[graft.sources.lazytsv.DefaultSource]]), so `spark.table(name)` and
  * `TsvSource.read` agree byte-for-byte (the builtin CSV reader collapses
  * unquoted empty strings to NULL, violating the SerDe contract).
  *
  * Semantics preserved:
  *  - full-replace upsert: the reference calls `update_table` with a fresh
  *    TableInput (`:229-235`), which Glue applies atomically. The v1
  *    session catalog has no single-statement replace (`CREATE OR REPLACE
  *    TABLE` is v2-only), so the swap is staged: CREATE the new definition
  *    under `<name>__staging` first (fully validated before anything is
  *    touched), then DROP + RENAME. A crash between those two statements
  *    leaves the complete new definition under the staging name — never
  *    lost — and [[recover]] (run automatically at the start of every
  *    upsert) completes the interrupted swap;
  *  - column and table comments carried (`:172,206-216`);
  *  - schema evolution = next sync pushes the new definition; files under
  *    a changed schema mis-parse the same way they would in Athena.
  */
object CatalogSync {

  /** Create `db` when missing; a catalog lookup, no DDL, when it
    * exists. */
  def ensureDatabase(spark: SparkSession, db: String): Unit =
    if (!spark.sessionState.catalog.databaseExists(db))
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `${qi(db)}`")

  /** Quote/escape a comment or path literal for DDL. */
  private def q(s: String): String = s.replace("'", "''")

  /** Escape a backtick-quoted identifier: table names come from an
    * untrusted external manifest/schema (the reference trusts the Canvas
    * API the same way, but interpolating into SQL text makes a stray
    * backtick a statement-breaker — and an injection vector). */
  private def qi(s: String): String = s.replace("`", "``")

  private def stagingName(table: String): String = table + "__staging"

  /** Table property holding [[definitionId]] of the definition a table
    * was created from. */
  private val DefinitionProp = "graft.definition"

  private def definitionDdl(db: String, t: CDTable, location: String,
      name: String): String = {
    val cols = t.columns.map { c =>
      val comment = c.description
        .map(d => s" COMMENT '${q(d.take(254))}'").getOrElse("")
      s"  `${qi(c.name)}` ${TypeLattice.toDdl(c)}$comment"
    }.mkString(",\n")
    val tblComment = t.description
      .map(d => s"\nCOMMENT '${q(d.take(254))}'").getOrElse("")
    s"""CREATE TABLE `${qi(db)}`.`${qi(name)}` (
       |$cols
       |)
       |USING graft.sources.lazytsv$tblComment
       |LOCATION '${q(location)}'""".stripMargin
  }

  /** Content id of the live definition of `t` at `location` — columns,
    * types, comments, provider and location, under the live name (a
    * staged twin carries the id of the table it will become). */
  private def definitionId(db: String, t: CDTable,
      location: String): String =
    graft.pipeline.AppendCommit.contentId(
      definitionDdl(db, t, location, t.tableName))

  /** Build the CREATE TABLE statement for a CD table over a TSV location —
    * the analog of the reference's TableInput dict (`:174-218`). The
    * definition's id rides along as [[DefinitionProp]]. */
  def createTableDdl(db: String, t: CDTable, location: String,
      nameOverride: Option[String] = None): String =
    definitionDdl(db, t, location, nameOverride.getOrElse(t.tableName)) +
      s"\nTBLPROPERTIES ('$DefinitionProp' = '${
        definitionId(db, t, location)}')"

  /** Complete a swap interrupted between DROP and RENAME: if the table is
    * absent but its staging twin exists, the staging definition IS the
    * intended new table — promote it. Returns true if a recovery ran. */
  def recover(spark: SparkSession, db: String, table: String): Boolean = {
    val main = s"`${qi(db)}`.`${qi(table)}`"
    val stag = s"`${qi(db)}`.`${qi(stagingName(table))}`"
    val mainExists = spark.catalog.tableExists(main)
    val stagExists = spark.catalog.tableExists(stag)
    if (!mainExists && stagExists) {
      spark.sql(s"ALTER TABLE $stag RENAME TO `${qi(db)}`.`${qi(table)}`")
      true
    } else false
  }

  /** Register the canonical Parquet layer under `<table>_canonical` so the
    * catalog resolves BOTH layers by name — the reference's entire product
    * is catalog-resolved tables (`sync-canvas-data-files.py:170-235`
    * registers every table in Glue so Athena resolves by name), and a
    * canonical layer reachable only by path would leave analysts on the
    * slow raw TSV scan by default.
    *
    * Registered as a VIEW over the parquet path, not a catalog table, for
    * two reasons: (1) `CREATE OR REPLACE VIEW` is a single atomic
    * statement, so the full-replace upsert needs no staging dance; (2) the
    * view re-resolves the path's file listing at query time, so a SafeSwap
    * rewrite (canonicalize/compact) or newly-arrived partitions are
    * visible immediately — a catalog table would serve a stale cached
    * listing until an explicit REFRESH TABLE. Partition discovery and
    * pruning work through the view (the path read discovers `col=val/`
    * dirs). Names: a raw table literally named `x_canonical` would collide
    * with the canonical view of `x`; the guard below surfaces that as an
    * explicit error naming the colliding object rather than letting
    * CREATE OR REPLACE VIEW shadow it (or fail with whatever analysis
    * error fires first).
    *
    * `changed = false` (the canonical refresh rewrote nothing) keeps an
    * existing view whose text already names this location: the replace
    * would only re-infer the same parquet schema, one Spark job per
    * table per no-op sync. */
  def registerCanonicalView(spark: SparkSession, db: String, table: String,
      location: String, changed: Boolean = true): Unit = {
    ensureDatabase(spark, db)
    val viewName = s"${table}_canonical"
    val fq = s"`${qi(db)}`.`${qi(viewName)}`"
    val text = s"SELECT * FROM parquet.`${qi(location)}`"
    if (spark.catalog.tableExists(fq)) {
      val kind = spark.catalog.getTable(fq).tableType
      require(kind == "VIEW",
        s"cannot register canonical view $db.$viewName: a $kind table " +
          "with that name already exists (a raw table carrying the " +
          "_canonical suffix) — rename the raw table or the canonical " +
          "layer would shadow it")
      if (!changed && spark.sessionState.catalog.getTableMetadata(
          TableIdentifier(viewName, Some(db))).viewText.contains(text))
        return
    }
    spark.sql(s"CREATE OR REPLACE VIEW $fq AS $text")
  }

  /** SQL-REACHABLE TIME TRAVEL: one view per RETAINED generation of a
    * manifest-managed table — `<table>__at_g<N>` — so an analyst reads
    * the previous snapshot mid-maintenance from SQL text, no Scala API
    * in hand ([[graft.pipeline.Manifest.readSnapshot]] is the engine
    * underneath; the retention window's tomb files make the previous
    * generation readable for free). Views are SESSION-scoped and
    * re-registered per sync (the q261 lesson: catalog objects are
    * per-session, disk state is the truth) — and deliberately so: a
    * PERSISTENT view would need the file list as O(files) SQL text,
    * while the temp view's plan carries the resolved file index
    * directly. Views of generations that fell out of retention drop.
    * Returns the retained generation numbers (empty when unmanaged). */
  def registerSnapshotViews(spark: SparkSession, table: String,
      location: String): Seq[Long] = {
    import graft.pipeline.Manifest
    if (!Manifest.exists(location)) return Seq.empty
    val gens = Manifest.generations(location)
    val prefix = s"${table}__at_g"
    // Spark lower-cases registered temp-view names, so the stale-view
    // match must compare case-insensitively: a mixed-case table name
    // would otherwise never match its own views, leaving __at_g<N>
    // views of out-of-retention generations resolving purged files
    val prefixLc = prefix.toLowerCase(java.util.Locale.ROOT)
    // temp views only: a catalog-wide listing would also resolve the
    // permanent views other tables' sync pipelines replace concurrently
    spark.sessionState.catalog.listLocalTempViews("*")
      .map(_.table)
      .filter(_.toLowerCase(java.util.Locale.ROOT).startsWith(prefixLc))
      .filter(n => n.substring(prefixLc.length).toLongOption
        .exists(g => !gens.contains(g)))
      .foreach(v => spark.catalog.dropTempView(v))
    gens.foreach { g =>
      Manifest.readSnapshot(spark, location, g)
        .createOrReplaceTempView(s"$prefix$g")
    }
    gens
  }

  /** Create-or-update, returning "created" | "updated" exactly like the
    * reference (`:227,234`). A live table whose [[DefinitionProp]]
    * already names this definition counts as "updated" and runs no DDL:
    * the swap would re-create the same table. */
  def createOrUpdateTable(
      spark: SparkSession, db: String, t: CDTable, location: String): String = {
    // the staging namespace is reserved: a real table named X__staging
    // would be silently dropped by an upsert of X (and recover() could
    // promote it over a missing X)
    require(!t.tableName.endsWith("__staging"),
      s"table name '${t.tableName}' collides with the reserved staging " +
        "suffix '__staging'")
    ensureDatabase(spark, db)
    recover(spark, db, t.tableName)
    val main = s"`${qi(db)}`.`${qi(t.tableName)}`"
    val stag = s"`${qi(db)}`.`${qi(stagingName(t.tableName))}`"
    if (spark.catalog.tableExists(main)) {
      if (spark.sessionState.catalog.getTableMetadata(
          TableIdentifier(t.tableName, Some(db))).properties
          .get(DefinitionProp).contains(definitionId(db, t, location)))
        return "updated"
      // full-replace via staged swap: validate the new DDL completely
      // before the live table is touched (tables are external — LOCATION
      // pinned — so every step is metadata-only, no data moves).
      spark.sql(s"DROP TABLE IF EXISTS $stag")
      spark.sql(createTableDdl(db, t, location,
        nameOverride = Some(stagingName(t.tableName))))
      spark.sql(s"DROP TABLE $main")
      spark.sql(s"ALTER TABLE $stag RENAME TO `${qi(db)}`.`${qi(t.tableName)}`")
      "updated"
    } else {
      spark.sql(createTableDdl(db, t, location))
      "created"
    }
  }
}
