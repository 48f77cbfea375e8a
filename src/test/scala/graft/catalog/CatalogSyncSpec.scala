package graft.catalog

import graft.SparkSpec
import graft.model.{CDColumn, CDTable}

class CatalogSyncSpec extends SparkSpec {

  private val t = CDTable("course_dim", Some("canvas courses"), Seq(
    CDColumn("id", "bigint", None, Some("primary key")),
    CDColumn("name", "varchar", Some(256), Some("course name")),
    CDColumn("created_at", "datetime")))

  test("DDL carries types, comments, location, SerDe-exact format") {
    val ddl = CatalogSync.createTableDdl("cd", t, "/tmp/wh/raw_files/course_dim")
    assert(ddl.contains("`id` bigint COMMENT 'primary key'"))
    assert(ddl.contains("`name` varchar(256)"))
    assert(ddl.contains("`created_at` timestamp"))
    assert(ddl.contains("USING graft.sources.lazytsv"))
    assert(ddl.contains("COMMENT 'canvas courses'"))
    assert(ddl.contains("LOCATION '/tmp/wh/raw_files/course_dim'"))
  }

  test("upsert returns created then updated (full-replace semantics)") {
    val loc = java.nio.file.Files.createTempDirectory("cat_loc").toString
    assert(CatalogSync.createOrUpdateTable(spark, "cd_cat", t, loc) == "created")
    assert(CatalogSync.createOrUpdateTable(spark, "cd_cat", t, loc) == "updated")
    // evolved schema is fully replaced
    val evolved = t.copy(columns = t.columns :+ CDColumn("extra", "integer"))
    assert(CatalogSync.createOrUpdateTable(spark, "cd_cat", evolved, loc)
      == "updated")
    val cols = spark.table("cd_cat.course_dim").schema.fieldNames.toSeq
    assert(cols == Seq("id", "name", "created_at", "extra"))
  }

  /** Catalog DDL events (create, drop, rename of tables and databases)
    * posted while `run` runs. */
  private def ddlEvents(run: => Unit): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: CreateTablePreEvent | _: DropTablePreEvent |
            _: RenameTablePreEvent | _: CreateDatabasePreEvent |
            _: AlterTablePreEvent =>
          seen.add(e.getClass.getSimpleName)
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { run; org.apache.spark.ListenerDrain(sc) }
    finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("an unchanged re-upsert runs no DDL; a changed comment or column " +
    "still swaps") {
    val loc = java.nio.file.Files.createTempDirectory("cat_same").toString
    val db = "cd_cat_same"
    assert(CatalogSync.createOrUpdateTable(spark, db, t, loc) == "created")
    val created = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("course_dim", Some(db)))
      .createTime
    var out = ""
    assert(ddlEvents { out = CatalogSync.createOrUpdateTable(spark, db, t,
      loc) }.isEmpty, "an unchanged definition must run no DDL")
    assert(out == "updated")
    assert(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("course_dim", Some(db)))
      .createTime == created, "the live table must not be re-created")
    def swaps(next: CDTable, nextLoc: String = loc): Unit = {
      val ev = ddlEvents {
        assert(CatalogSync.createOrUpdateTable(spark, db, next, nextLoc) ==
          "updated")
      }
      assert(ev.contains("RenameTablePreEvent"), s"no swap for $next: $ev")
    }
    val recommented = t.copy(columns = t.columns.map(c =>
      if (c.name == "name") c.copy(description = Some("the course title"))
      else c))
    swaps(recommented)
    assert(spark.table(s"$db.course_dim").schema("name").getComment()
      .contains("the course title"))
    val widened = recommented.copy(columns =
      recommented.columns :+ CDColumn("extra", "integer"))
    swaps(widened)
    assert(spark.table(s"$db.course_dim").schema.fieldNames.last == "extra")
    swaps(widened.copy(description = Some("courses, renamed")))
    swaps(widened.copy(description = Some("courses, renamed")),
      java.nio.file.Files.createTempDirectory("cat_same2").toString)
  }

  test("escaped quotes in comments don't break DDL") {
    val tricky = t.copy(description = Some("it's a 'test'"))
    val loc = java.nio.file.Files.createTempDirectory("cat_loc2").toString
    assert(CatalogSync.createOrUpdateTable(spark, "cd_cat2", tricky, loc)
      == "created")
  }

  test("interrupted swap never loses the definition; recover completes it") {
    val loc = java.nio.file.Files.createTempDirectory("cat_loc3").toString
    val db = "cd_cat3"
    assert(CatalogSync.createOrUpdateTable(spark, db, t, loc) == "created")
    // Simulate a crash between DROP and RENAME: stage the evolved
    // definition, drop the live table, then "die" before the rename.
    val evolved = t.copy(columns = t.columns :+ CDColumn("extra", "integer"))
    spark.sql(CatalogSync.createTableDdl(db, evolved, loc,
      nameOverride = Some("course_dim__staging")))
    spark.sql(s"DROP TABLE `$db`.`course_dim`")
    // the new definition survives under the staging name
    assert(spark.catalog.tableExists(s"`$db`.`course_dim__staging`"))
    // recover promotes it
    assert(CatalogSync.recover(spark, db, "course_dim"))
    val cols = spark.table(s"$db.course_dim").schema.fieldNames.toSeq
    assert(cols == Seq("id", "name", "created_at", "extra"))
    // and the next upsert runs recovery implicitly — simulate again, then
    // upsert straight through
    spark.sql(CatalogSync.createTableDdl(db, t, loc,
      nameOverride = Some("course_dim__staging")))
    spark.sql(s"DROP TABLE `$db`.`course_dim`")
    assert(CatalogSync.createOrUpdateTable(spark, db, evolved, loc) == "updated")
    assert(spark.table(s"$db.course_dim").schema.fieldNames.length == 4)
  }

  test("backticks in identifiers are escaped — DDL stays one statement") {
    // names come from an untrusted external schema: a stray backtick must
    // not terminate the quoted identifier (statement breakage / injection)
    val tricky = CDTable("odd`name", Some("desc"), Seq(
      CDColumn("col`1", "bigint", None, Some("weird col"))))
    val ddl = CatalogSync.createTableDdl("d`b", tricky, "/tmp/x'y")
    assert(ddl.contains("`odd``name`"))
    assert(ddl.contains("`col``1`"))
    assert(ddl.contains("`d``b`"))
    assert(ddl.contains("LOCATION '/tmp/x''y'"))
    // proof it parses as a single well-formed statement with the intended
    // identifiers, not wherever the raw backtick would have cut it
    val plan = spark.sessionState.sqlParser.parsePlan(ddl)
    assert(plan.toString.contains("odd`name"))
  }

  test("catalog table and TsvSource.read agree on empty string vs NULL") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("cat_serde").toString
    // row: id=1, name='' (empty, NOT null), note=\N (null)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-000.tsv"),
      "1\t\t\\N\n2\tok\tx\n".getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("note", StringType)))
    val viaSource = graft.sources.TsvSource.read(spark, schema, dir)
      .orderBy("id").collect()
    val tbl = CDTable("serde_t", None, Seq(
      CDColumn("id", "bigint"), CDColumn("name", "varchar", Some(10)),
      CDColumn("note", "varchar", Some(10))))
    CatalogSync.createOrUpdateTable(spark, "cd_serde", tbl, dir)
    val viaCatalog = spark.table("cd_serde.serde_t").orderBy("id").collect()
    assert(viaSource.length == 2 && viaCatalog.length == 2)
    viaSource.zip(viaCatalog).foreach { case (a, b) => assert(a == b) }
    // the SerDe contract: empty field is empty string, \N is NULL
    assert(viaCatalog(0).getString(1) == "")
    assert(viaCatalog(0).isNullAt(2))
  }

  test("a raw table named x_canonical blocks the canonical view of x") {
    import spark.implicits._
    val db = "cd_collide"
    val loc = java.nio.file.Files.createTempDirectory("cat_loc4").toString
    val pq = java.nio.file.Files.createTempDirectory("cat_loc4pq").toString
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(pq)
    // a REAL raw table that happens to carry the canonical suffix
    val clash = CDTable("course_dim_canonical", None,
      Seq(CDColumn("id", "bigint")))
    assert(CatalogSync.createOrUpdateTable(spark, db, clash, loc)
      == "created")
    // registering the canonical view of course_dim must surface a clear
    // error, not silently shadow either object
    val e = intercept[IllegalArgumentException] {
      CatalogSync.registerCanonicalView(spark, db, "course_dim", pq)
    }
    assert(e.getMessage.contains("course_dim_canonical"),
      s"error should name the colliding object: ${e.getMessage}")
    // the raw table survives untouched and still resolves as a TABLE
    assert(spark.table(s"$db.course_dim_canonical").schema
      .fieldNames.sameElements(Array("id")))
    // and re-registering over an EXISTING canonical view stays allowed
    CatalogSync.registerCanonicalView(spark, db, "other_table", pq)
    CatalogSync.registerCanonicalView(spark, db, "other_table", pq)
    assert(spark.table(s"$db.other_table_canonical").count() == 1)
  }
}
