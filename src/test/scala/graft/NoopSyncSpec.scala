package graft

import java.nio.file.Files

import graft.model.{CDColumn, CDTable}
import graft.pipeline.Sync.ManifestEntry

/** A re-sync of an unchanged manifest costs a bounded handful of Spark
  * jobs and writes nothing: the diff is driver-side, the fan-outs do not
  * launch, unchanged canonical views stay, and the maintained stores'
  * ledgers read without schema inference. */
class NoopSyncSpec extends WarehouseSessionSpec {

  /** Hadoop bytes written so far, over every filesystem scheme. */
  private def written: Long = {
    val it = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .iterator()
    var w = 0L
    while (it.hasNext)
      Option(it.next().getLong("bytesWritten")).foreach(w += _)
    w
  }

  test("a no-op Warehouse.sync runs at most 8 Spark jobs and writes 0 bytes") {
    val src = Files.createTempDirectory("noop_src")
    def put(table: String, name: String, rows: Seq[String]): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name)
      Files.writeString(f, rows.mkString("", "\n", "\n"))
      ManifestEntry(table, name, f.toUri.toString)
    }
    val manifest = Seq(
      put("events", "e1.tsv", Seq("1\t2024-01-01 10:00:00\t7",
        "2\t2024-01-02 11:00:00\t8")),
      put("events", "e2.tsv", Seq("3\t2024-01-02 12:00:00\t7")),
      put("lineitem", "l1.tsv", Seq("1\tA\t2.5\t2024-01-01 00:00:00",
        "2\tB\t1.5\t2024-01-03 00:00:00")),
      put("orders", "o1.tsv", Seq("1\t10.0", "2\t20.0")))
    val schema = Seq(
      CDTable("events", None, Seq(CDColumn("event_id", "bigint"),
        CDColumn("ts", "datetime"), CDColumn("user_id", "bigint"))),
      CDTable("lineitem", None, Seq(CDColumn("l_orderkey", "bigint"),
        CDColumn("l_flag", "varchar", Some(1)),
        CDColumn("l_quantity", "double precision"),
        CDColumn("l_shipdate", "datetime"))),
      CDTable("orders", None, Seq(CDColumn("o_orderkey", "bigint"),
        CDColumn("o_totalprice", "double precision"))))
    val wh = new Warehouse(spark, Warehouse.Config(
      Files.createTempDirectory("noop_wh").toUri.toString.stripSuffix("/"),
      db = "cd_noop", parallelism = 2, canonicalize = true,
      canonicalSpecs = Map(
        "events" -> Warehouse.datePartitioned("ts", "event_date")),
      manifestTables = Seq("events"),
      maintainedRollups = Seq(Warehouse.RollupDef("li_flags", "lineitem",
        pipeline.Rollup.Spec(Seq("l_flag"), Seq("l_quantity")))),
      maintainedProfiles = Map("orders" -> Seq("o_totalprice")),
      maintainedSkipStats = Map("lineitem" -> Seq("l_shipdate")),
      maintainedBloomStats = Map("orders" -> Seq("o_orderkey"))))
    wh.sync(manifest, schema)
    var s: pipeline.Sync.SyncSummary = null
    val w0 = written
    val jobs = JobCount(spark) { s = wh.sync(manifest, schema) }
    val bytes = written - w0
    assert(s.fetched == 0 && s.skipped == manifest.size && s.removed == 0)
    assert(jobs <= 8, s"no-op sync ran $jobs Spark jobs")
    assert(bytes == 0L, s"no-op sync wrote $bytes bytes")
  }
}
