package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.model.{CDColumn, CDTable}
import graft.pipeline.Sync._

/** Sync pipeline semantics (SURVEY.md §5): convergence, idempotency,
  * stale delete, dry-run, and the ScalaCheck diff properties. */
class SyncSpec extends SparkSpec {

  private def tmpDir(prefix: String): Path =
    Files.createTempDirectory(prefix)

  /** Fake "Canvas API": writes source files on local disk, returns a
    * manifest of file:// URLs. */
  private def makeSource(dir: Path,
      files: Seq[(String, String, String)]): Seq[ManifestEntry] =
    files.map { case (table, name, content) =>
      val d = dir.resolve(table)
      Files.createDirectories(d)
      val f = d.resolve(name)
      Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }

  private val schema = Seq(
    CDTable("account_dim", Some("accounts"), Seq(
      CDColumn("id", "bigint"),
      CDColumn("name", "varchar", Some(50), Some("account name")),
      CDColumn("balance", "double precision"))))

  test("first sync fetches everything, second sync skips everything") {
    val src = tmpDir("graft_src")
    val wh = tmpDir("graft_wh").toUri.toString.stripSuffix("/")
    val manifest = makeSource(src, Seq(
      ("account_dim", "f1.tsv", "1\talice\t10.5\n2\t\\N\t\\N\n"),
      ("account_dim", "f2.tsv", "3\tbob\t-2.0\n")))

    val s1 = Sync.run(spark, wh, manifest, schema, db = "cd_test1",
      parallelism = 2)
    assert(s1.fetched == 2 && s1.skipped == 0 && s1.removed == 0)
    assert(s1.tablesCreated == 1 && s1.tablesUpdated == 0)

    val s2 = Sync.run(spark, wh, manifest, schema, db = "cd_test1",
      parallelism = 2)
    assert(s2.fetched == 0 && s2.skipped == 2 && s2.removed == 0)
    assert(s2.tablesCreated == 0 && s2.tablesUpdated == 1)

    // warehouse is queryable through the catalog with correct parse
    // semantics: \N → NULL
    val rows = spark.table("cd_test1.account_dim")
      .orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2))
    assert(rows(2).getString(1) == "bob")
  }

  test("shrunk manifest deletes stale keys; grown manifest fetches only new") {
    val src = tmpDir("graft_src2")
    val wh = tmpDir("graft_wh2").toUri.toString.stripSuffix("/")
    val all = makeSource(src, Seq(
      ("t", "a.tsv", "1\n"), ("t", "b.tsv", "2\n"), ("t", "c.tsv", "3\n")))
    val sch = Seq(CDTable("t", None, Seq(CDColumn("id", "integer"))))

    Sync.run(spark, wh, all, sch, db = "cd_test2", parallelism = 2)
    val shrunk = Sync.run(spark, wh, all.take(2), sch, db = "cd_test2",
      parallelism = 2)
    assert(shrunk.removed == 1 && shrunk.fetched == 0 && shrunk.skipped == 2)
    // file for c.tsv is gone; re-adding it re-fetches exactly one
    val regrow = Sync.run(spark, wh, all, sch, db = "cd_test2",
      parallelism = 2)
    assert(regrow.fetched == 1 && regrow.skipped == 2 && regrow.removed == 0)
  }

  test("dry-run mutates nothing") {
    val src = tmpDir("graft_src3")
    val wh = tmpDir("graft_wh3").toUri.toString.stripSuffix("/")
    val manifest = makeSource(src, Seq(("t", "a.tsv", "1\n")))
    val sch = Seq(CDTable("t", None, Seq(CDColumn("id", "integer"))))
    val s = Sync.run(spark, wh, manifest, sch, db = "cd_dry", dryRun = true,
      parallelism = 2)
    assert(s.dryRun)
    assert(Sync.listState(spark, wh).size == 0)
    assert(!spark.catalog.databaseExists("cd_dry") ||
      spark.catalog.listTables("cd_dry").count() == 0)
  }

  test("diff properties: fetch ∪ skip = manifest, delete = state ∖ manifest") {
    val keyGen = Gen.listOf(Gen.choose(0, 30).map(i => s"t/f$i"))
    val prop = Prop.forAll(keyGen, keyGen) {
      (manifestKeys: List[String], stateKeys: List[String]) =>
        val manifest = manifestKeys.distinct.map { k =>
          val Array(t, f) = k.split("/")
          ManifestEntry(t, f, s"file:///dev/null/$k")
        }
        val state = stateKeys.distinct.map(k => s"${Sync.RawPrefix}/$k")
        val p = Sync.plan(manifest, state)
        val fetch = p.toFetch.map(_.key).toSet
        val skip = p.toSkip.toSet
        val delete = p.toDelete.toSet
        val mKeys = manifest.map(Sync.keyOf).toSet
        (fetch ++ skip) == mKeys &&
          fetch.intersect(skip).isEmpty &&
          delete == (state.toSet -- mKeys)
    }
    // the diff is a driver-side set lookup (no Spark job per trial)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }
}
