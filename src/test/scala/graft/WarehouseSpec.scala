package graft

import java.nio.file.Files

import graft.model.{CDColumn, CDTable}
import graft.pipeline.Sync.ManifestEntry

/** End-to-end "reference user" scenario: sync a two-table extract, then run
  * analyst SQL (a join + aggregate) against the catalog — the full
  * migration surface in one test. */
class WarehouseSpec extends WarehouseSessionSpec {

  test("sync then analyst SQL across synced tables") {
    val src = Files.createTempDirectory("wh_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val manifest = Seq(
      put("course_dim", "c1.tsv",
        "1\tIntro Spark\t10\n2\tAdvanced SQL\t20\n3\t\\N\t10\n"),
      put("enrollment_fact", "e1.tsv",
        "1\t100\n1\t101\n2\t100\n2\t102\n2\t103\n3\t104\n"))
    val schema = Seq(
      CDTable("course_dim", Some("courses"), Seq(
        CDColumn("id", "bigint"),
        CDColumn("name", "varchar", Some(100)),
        CDColumn("account_id", "integer"))),
      CDTable("enrollment_fact", None, Seq(
        CDColumn("course_id", "bigint"),
        CDColumn("user_id", "bigint"))))

    val whDir = Files.createTempDirectory("wh_root").toUri.toString
      .stripSuffix("/")
    val notified = scala.collection.mutable.ArrayBuffer
      .empty[pipeline.Sync.SyncSummary]
    val wh = new Warehouse(spark,
      Warehouse.Config(whDir, db = "cd_wh", parallelism = 2,
        canonicalize = true, onSummary = notified += _))
    val s1 = wh.sync(manifest, schema)
    assert(s1.fetched == 2 && s1.tablesCreated == 2)
    // the notification hook (SNS analog) fired with the run's counts
    assert(notified.toSeq == Seq(s1))

    val res = wh.sql(
      """SELECT c.account_id, COUNT(*) AS n_enrollments,
        |       COUNT(DISTINCT e.user_id) AS n_users
        |FROM cd_wh.enrollment_fact e
        |JOIN cd_wh.course_dim c ON e.course_id = c.id
        |GROUP BY c.account_id
        |ORDER BY c.account_id""".stripMargin).collect()
    assert(res.length == 2)
    assert(res(0).getInt(0) == 10 && res(0).getLong(1) == 3L) // courses 1+3
    assert(res(1).getInt(0) == 20 && res(1).getLong(1) == 3L) // course 2
    assert(res(1).getLong(2) == 3L)

    // canonical layer carries the same rows
    assert(wh.canonicalTable("enrollment_fact").count() == 6L)
    // ... and is catalog-resolved by name (the reference's product shape:
    // analysts resolve tables through the catalog, not paths), planning a
    // parquet scan instead of the raw TSV scan
    val cat = spark.table("cd_wh.`enrollment_fact_canonical`")
    assert(cat.count() == 6L)
    assert(cat.exceptAll(wh.canonicalTable("enrollment_fact")).isEmpty &&
      wh.canonicalTable("enrollment_fact").exceptAll(cat).isEmpty,
      "catalog view must serve exactly the canonical rows")
    val plan = cat.queryExecution.executedPlan.toString
    assert(plan.contains("Format: Parquet"),
      s"canonical view must plan a parquet scan:\n$plan")
    // second sync is a no-op on data, full-replace on catalog
    val s2 = wh.sync(manifest, schema)
    assert(s2.fetched == 0 && s2.skipped == 2 && s2.tablesUpdated == 2)
    assert(notified.toSeq == Seq(s1, s2))
    // the view survives the full-replace and still resolves
    assert(spark.table("cd_wh.`enrollment_fact_canonical`").count() == 6L)
  }

  test("sync auto-refreshes maintained rollup and profile at O(new files)") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_maint_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(CDTable("fact", None, Seq(
      CDColumn("grp", "varchar", Some(10)),
      CDColumn("x", "double precision"),
      CDColumn("id", "bigint"))))
    val m1 = Seq(
      put("fact", "f1.tsv", "a\t1.5\t1\nb\t2.5\t2\na\t\\N\t3\n"),
      put("fact", "f2.tsv", "b\t4.0\t4\na\t0.5\t5\n"))
    val whDir = Files.createTempDirectory("wh_maint_root").toUri.toString
      .stripSuffix("/")
    val spec = graft.pipeline.Rollup.Spec(Seq("grp"), sumCols = Seq("x"))
    val wh = new Warehouse(spark,
      Warehouse.Config(whDir, db = "cd_whm", parallelism = 2,
        maintainedRollups = Seq(Warehouse.RollupDef("by_grp", "fact", spec)),
        maintainedProfiles = Map("fact" -> Seq("grp", "x", "id"))))
    wh.sync(m1, schema)

    def rollupRows() = wh.rollup("by_grp", spec)
      .select("grp", "n", "sum_x").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rollupRows() === Set(("a", 3L, 2.0), ("b", 2L, 6.5)))
    def profRows() = wh.profileOf("fact", Seq("grp", "x", "id"))
      .select("col_name", "n_rows", "n_null", "min_val", "max_val")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))).toMap
    assert(profRows()("x") === ((5L, 1L, "0.5", "4.0")))
    assert(profRows()("id") === ((5L, 0L, "1", "5")))

    // the refresh unit is the file: both stores' ledgers hold exactly
    // the per-file ids, which is what makes the next sync fold ONLY the
    // delta (and a replayed file impossible to double-count)
    val store = s"$whDir/_maintained/rollup_by_grp"
    assert(graft.pipeline.Rollup.appliedIds(spark, store).sorted ==
      Seq("f1.tsv", "f2.tsv"))

    // second sync adds one file; the refresh folds just it — proven by
    // the ledger gaining exactly that id and the values updating
    val m2 = m1 :+ put("fact", "f3.tsv", "a\t10.0\t6\nc\t1.0\t7\n")
    wh.sync(m2, schema)
    assert(rollupRows() ===
      Set(("a", 4L, 12.0), ("b", 2L, 6.5), ("c", 1L, 1.0)))
    assert(profRows()("x") === ((7L, 1L, "0.5", "10.0")))
    assert(graft.pipeline.Rollup.appliedIds(spark, store).sorted ==
      Seq("f1.tsv", "f2.tsv", "f3.tsv"))

    // a third sync with nothing new leaves both stores untouched (the
    // UpsertSpec identity pattern: same files, same mtimes)
    def snapshot(): Map[String, Long] = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(whDir), spark.sparkContext.hadoopConfiguration)
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
        fs.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq(st.getPath.toString -> st.getModificationTime)
        }
      walk(new org.apache.hadoop.fs.Path(s"$whDir/_maintained")).toMap
    }
    val before = snapshot()
    wh.sync(m2, schema)
    assert(snapshot() == before,
      "a delta-free sync must not rewrite the maintained stores")

    // stale-delete of a folded file → detected via the ledger → rebuild
    // over the survivors (min/max/HLL partials cannot subtract)
    val m3 = m2.filterNot(_.filename == "f1.tsv")
    wh.sync(m3, schema)
    assert(rollupRows() ===
      Set(("a", 2L, 10.5), ("b", 1L, 4.0), ("c", 1L, 1.0)))
    assert(graft.pipeline.Rollup.appliedIds(spark, store).sorted ==
      Seq("f2.tsv", "f3.tsv"))
  }

  test("maintained pack store: syncs append at the frontier, placements " +
      "never move, and with invalidateOnForget=true a forget drops the " +
      "store so the next sync re-packs the filtered corpus") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_pack_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(CDTable("docs", None, Seq(
      CDColumn("doc_id", "bigint"),
      CDColumn("body", "text"))))
    def doc(id: Long, words: Int) =
      s"$id\t${Seq.fill(words)("w").mkString(" ")}"
    val m1 = Seq(
      put("docs", "d1.tsv", s"${doc(1, 3)}\n${doc(2, 5)}\n"),
      put("docs", "d2.tsv", s"${doc(3, 4)}\n"))
    val whDir = Files.createTempDirectory("wh_pack_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir, db = "cd_whp",
      parallelism = 2, canonicalize = true,
      maintainedPacks =
        Seq(Warehouse.PackDef("train", "docs", "doc_id", "body",
          budget = 8L, invalidateOnForget = true))))
    wh.sync(m1, schema)
    def placements() = wh.packOf("train")
      .select("doc_id", "off", "bin").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // init packs the full snapshot in doc_id order: 3,5,4 tokens
    assert(placements() ==
      Map(1L -> (0L, 0L), 2L -> (3L, 0L), 3L -> (8L, 1L)))
    // a later file appends at the frontier (12); earlier rows unmoved
    wh.sync(m1 :+ put("docs", "d3.tsv", s"${doc(4, 6)}\n"), schema)
    assert(placements() == Map(1L -> (0L, 0L), 2L -> (3L, 0L),
      3L -> (8L, 1L), 4L -> (12L, 1L)))
    // forget doc 2 → store invalidated, next sync re-packs WITHOUT it
    val sum = wh.forget(schema, "docs", "doc_id", Seq(2L))
    assert(sum.invalidated.contains("pack_train"), s"$sum")
    wh.sync(m1 :+ put("docs", "d3.tsv", s"${doc(4, 6)}\n"), schema)
    assert(placements() ==
      Map(1L -> (0L, 0L), 3L -> (3L, 0L), 4L -> (7L, 0L)),
      "the rebuild must pack the filtered corpus from offset zero")
  }

  test("sync auto-refreshes a maintained enrichment view file-additively") {
    val src = Files.createTempDirectory("wh_view_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(
      CDTable("fact", None, Seq(
        CDColumn("k", "bigint"), CDColumn("x", "double precision"))),
      CDTable("dim", None, Seq(
        CDColumn("k", "bigint"), CDColumn("attr", "varchar", Some(10)))))
    val m1 = Seq(
      put("fact", "f1.tsv", "1\t1.5\n2\t2.5\n"),
      put("dim", "d1.tsv", "1\talpha\n2\tbeta\n"))
    val whDir = Files.createTempDirectory("wh_view_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark,
      Warehouse.Config(whDir, db = "cd_whv", parallelism = 2,
        maintainedViews = Seq(
          Warehouse.ViewDef("enriched", "fact", "dim", Seq("k")))))
    wh.sync(m1, schema)
    def rows() = wh.view("enriched").select("k", "x", "attr").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(rows() == Set((1L, 1.5, "alpha"), (2L, 2.5, "beta")))

    def viewFiles(): Map[String, Long] = {
      val dir = new java.io.File(new java.net.URI(
        s"$whDir/_maintained/view_enriched/view"))
      dir.listFiles
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> f.lastModified).toMap
    }
    val before = viewFiles()
    // sync 2: one new fact file — only its rows join, old files untouched
    val m2 = m1 :+ put("fact", "f2.tsv", "1\t9.0\n3\t7.0\n")
    wh.sync(m2, schema)
    assert(rows() == Set((1L, 1.5, "alpha"), (2L, 2.5, "beta"),
      (1L, 9.0, "alpha")), "unmatched fact k=3 drops; batch rows join")
    val after = viewFiles()
    before.foreach { case (n, m) =>
      assert(after.get(n).contains(m),
        s"pre-existing view file $n must be untouched by the refresh")
    }
    // delta-free sync: byte-identical store
    wh.sync(m2, schema)
    assert(viewFiles() == after,
      "a delta-free sync must not rewrite the view")
    // stale-delete of a joined fact file → rebuild from survivors
    val m3 = m2.filterNot(_.filename == "f1.tsv")
    wh.sync(m3, schema)
    assert(rows() == Set((1L, 9.0, "alpha")))
  }

  test("sync keeps histogram quantile bounds fresh through a maintained rollup") {
    val src = Files.createTempDirectory("wh_hist_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(CDTable("fact", None, Seq(
      CDColumn("grp", "varchar", Some(10)),
      CDColumn("x", "double precision"),
      CDColumn("id", "bigint"))))
    val m1 = Seq(
      put("fact", "f1.tsv", "a\t1.5\t1\nb\t2.5\t2\na\t\\N\t3\n"),
      put("fact", "f2.tsv", "b\t4.0\t4\na\t0.5\t5\n"))
    val whDir = Files.createTempDirectory("wh_hist_root").toUri.toString
      .stripSuffix("/")
    val spec = graft.pipeline.Rollup.Spec(Seq("grp"),
      histCols = Seq(graft.pipeline.Rollup.Hist("x", 1.0)))
    val wh = new Warehouse(spark,
      Warehouse.Config(whDir, db = "cd_whh", parallelism = 2,
        maintainedRollups = Seq(Warehouse.RollupDef("hist", "fact", spec))))
    wh.sync(m1, schema)
    def bounds() = wh.quantilesOf("hist", spec, "x", Seq(0.5, 0.9))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // hand-derived: a's scored values {1.5, 0.5} (NULL excluded) → bins
    // {1, 0}, p50 ub = 1.0, p90 ub = 2.0; b's {2.5, 4.0} → 3.0 / 5.0
    assert(bounds() == Map(
      "a" -> ((2L, 1.0, 2.0)), "b" -> ((2L, 3.0, 5.0))))
    // the next sync's new file shifts a's upper tail and adds group c
    wh.sync(m1 :+ put("fact", "f3.tsv", "a\t10.0\t6\nc\t1.0\t7\n"), schema)
    assert(bounds() == Map(
      "a" -> ((3L, 2.0, 11.0)), "b" -> ((2L, 3.0, 5.0)),
      "c" -> ((1L, 2.0, 2.0))))
  }

  test("canonical layer partitions via per-table specs and prunes from SQL") {
    val src = Files.createTempDirectory("wh_part_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val manifest = Seq(put("request_fact", "r1.tsv",
      "1\t2024-01-01 10:00:00\t1.5\n" +
        "2\t2024-01-01 23:59:59\t2.5\n" +
        "3\t2024-01-02 00:00:01\t3.5\n" +
        "4\t2024-01-03 12:00:00\t4.5\n"))
    val schema = Seq(CDTable("request_fact", None, Seq(
      CDColumn("id", "bigint"),
      CDColumn("ts", "datetime"),
      CDColumn("v", "double precision"))))
    val whDir = Files.createTempDirectory("wh_part_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark,
      Warehouse.Config(whDir, db = "cd_whp", parallelism = 2,
        canonicalize = true,
        canonicalSpecs = Map(
          "request_fact" -> Warehouse.datePartitioned("ts", "ts_date"))))
    wh.sync(manifest, schema)

    val cat = spark.table("cd_whp.`request_fact_canonical`")
    assert(cat.count() == 4L)
    // a date predicate through the CATALOG name must partition-prune
    val q = cat.filter(org.apache.spark.sql.functions.col("ts_date") ===
        "2024-01-01")
      .select("id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ts_date"),
      s"expected partition pruning through the catalog view:\n$plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("maintained MinHash index: build on sync, O(batch) append, probe-ready") {
    val src = Files.createTempDirectory("wh_idx_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    // three UNRELATED sentences (near-dup probes must collide with one
    // doc only); the probe text tweaks a single word, keeping most
    // 3-gram shingles shared with its source
    val sentences = Map(
      "alpha" -> ("the quick brown fox jumps over the lazy dog and runs " +
        "far away into the deep green forest tonight"),
      "beta" -> ("pack my box with five dozen liquor jugs while the band " +
        "played waltzes on the crowded pier all evening"),
      "gamma" -> ("sphinx of black quartz judge my vow under the bright " +
        "morning sun beside the quiet harbor wall today"))
    def sentence(tag: String) = sentences(tag)
    val schema = Seq(
      CDTable("docs", None, Seq(
        CDColumn("doc_id", "bigint"),
        CDColumn("text", "varchar", Some(500)))))
    val m1 = Seq(put("docs", "d1.tsv",
      s"1\t${sentence("alpha")}\n2\t${sentence("beta")}\n"))
    val whDir = Files.createTempDirectory("wh_idx_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark,
      Warehouse.Config(whDir, db = "cd_whi", parallelism = 2,
        maintainedIndexes = Seq(
          Warehouse.IndexDef("docs_nd", "docs", "doc_id", "text"))))
    wh.sync(m1, schema)

    import spark.implicits._
    def probe(id: Long, text: String) =
      wh.nearDupsIn("docs_nd", Seq((id, text)).toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a near-copy of doc 1 collides with it and only it
    assert(probe(100L, sentence("alpha")) == Set((1L, 100L)))

    def idxFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      val root = new java.io.File(new java.net.URI(
        s"$whDir/_maintained/index_docs_nd"))
      walk(root).filter { f =>
        val n = f.getName
        !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
      }.map(f => f.getPath -> f.lastModified).toMap
    }
    val before = idxFiles()
    // sync 2: one new raw file appends file-additively
    val m2 = m1 :+ put("docs", "d2.tsv", s"3\t${sentence("gamma")}\n")
    wh.sync(m2, schema)
    assert(probe(200L, sentence("gamma")) == Set((3L, 200L)),
      "the appended batch's doc must be probe-visible")
    val after = idxFiles()
    before.foreach { case (n, mt) =>
      assert(after.get(n).contains(mt),
        s"pre-existing index file $n must keep physical identity") }
    assert(after.size > before.size, "the append must add files")
    // sync 3: nothing new — the refresh is a ledger no-op
    wh.sync(m2, schema)
    assert(idxFiles() == after, "an unchanged listing must not rewrite")
  }

  test("a multi-file backlog folds in ONE batch, not one job per file") {
    val src = Files.createTempDirectory("wh_bk_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(
      CDTable("fact", None, Seq(
        CDColumn("k", "bigint"), CDColumn("x", "double precision"))),
      CDTable("dim", None, Seq(
        CDColumn("k", "bigint"), CDColumn("attr", "varchar", Some(10)))))
    val m1 = Seq(
      put("fact", "f1.tsv", "1\t1.0\n"),
      put("dim", "d1.tsv", "1\talpha\n2\tbeta\n"))
    val whDir = Files.createTempDirectory("wh_bk_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark,
      Warehouse.Config(whDir, db = "cd_whb", parallelism = 2,
        maintainedViews = Seq(
          Warehouse.ViewDef("enriched", "fact", "dim", Seq("k")))))
    wh.sync(m1, schema)
    def batchEntries(): Seq[(String, String)] =
      pipeline.AppendCommit.appliedEntries(
          s"$whDir/_maintained/view_enriched")
        .filter(_._1.startsWith(pipeline.FreshFold.Tag))
    val gen0 = batchEntries().size
    // a 3-file backlog (outage recovery) arrives in one sync
    val m2 = m1 ++ Seq(
      put("fact", "f2.tsv", "2\t2.0\n"),
      put("fact", "f3.tsv", "1\t3.0\n"),
      put("fact", "f4.tsv", "2\t4.0\n"))
    wh.sync(m2, schema)
    val entries = batchEntries()
    assert(entries.size == gen0 + 1,
      s"3 fresh files must fold as ONE ledger batch, got ${entries.size - gen0}")
    val payload = entries.map(_._2).find(p =>
      p.contains("f2.tsv")).getOrElse("")
    assert(Seq("f2.tsv", "f3.tsv", "f4.tsv").forall(payload.contains),
      s"the batch payload must cover the whole backlog: $payload")
    val rows = wh.view("enriched").select("k", "x", "attr").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(rows == Set((1L, 1.0, "alpha"), (2L, 2.0, "beta"),
      (1L, 3.0, "alpha"), (2L, 4.0, "beta")))
    // replayed sync: no new batch, content identical
    wh.sync(m2, schema)
    assert(batchEntries().size == gen0 + 1)
  }

  test("maintained IVF vector index: build on sync, O(batch) append, ANN probe, stale-delete retrain") {
    import spark.implicits._
    val src = Files.createTempDirectory("wh_vx_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(
      CDTable("vecs", None, Seq(
        CDColumn("vec_id", "bigint"),
        CDColumn("emb", "varchar", Some(200)))))
    // two well-separated clusters so nlist=2 centroids are stable
    def v(id: Long, a: Double, b: Double) = s"$id\t$a,$b,0.0,0.0"
    val m1 = Seq(put("vecs", "v1.tsv",
      Seq(v(1, 1.0, 0.1), v(2, 1.0, 0.2), v(3, 0.1, 1.0),
        v(4, 0.2, 1.0)).mkString("", "\n", "\n")))
    val whDir = Files.createTempDirectory("wh_vx_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark,
      Warehouse.Config(whDir, db = "cd_whx", parallelism = 2,
        maintainedVectorIndexes = Seq(
          Warehouse.VectorIndexDef("emb_ann", "vecs", "vec_id", "emb",
            nlist = 2, replicas = 1))))
    wh.sync(m1, schema)
    def nn(qid: Long, a: Double, b: Double): Seq[Long] =
      wh.annIn("emb_ann",
          Seq((qid, Seq(a.toFloat, b.toFloat, 0.0f, 0.0f)))
            .toDF("q_id", "q_emb"),
          k = 1, nprobe = 1)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(nn(100L, 1.0, 0.15) == Seq(1L) || nn(100L, 1.0, 0.15) == Seq(2L))
    def idxFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(new java.net.URI(
        s"$whDir/_maintained/vindex_emb_ann")))
        .filter { f =>
          val n = f.getName
          !n.startsWith("_") && !n.startsWith(".") &&
            n.endsWith(".parquet")
        }.map(f => f.getPath -> f.lastModified).toMap
    }
    val before = idxFiles()
    // sync 2: a new raw file appends under FROZEN centroids — O(batch)
    val m2 = m1 :+ put("vecs", "v2.tsv",
      Seq(v(5, 0.15, 1.0)).mkString("", "\n", "\n"))
    wh.sync(m2, schema)
    val after = idxFiles()
    before.foreach { case (n, mt) =>
      assert(after.get(n).contains(mt),
        s"pre-existing index file $n must keep physical identity") }
    assert(after.size > before.size, "the append must add cell files")
    assert(nn(101L, 0.15, 0.99) == Seq(5L),
      "the appended vector must be probe-visible")
    // replayed sync: ledger no-op
    wh.sync(m2, schema)
    assert(idxFiles() == after, "an unchanged listing must not rewrite")
    // periodic cell-file compaction through the warehouse surface:
    // fewer files, identical probes, later appends still converge
    val preCompact = idxFiles()
    val cs = wh.compactVectorIndex("emb_ann")
    assert(cs.partitionsSeen > 0)
    assert(idxFiles().size <= preCompact.size)
    assert(nn(104L, 0.15, 0.99) == Seq(5L),
      "probe results must survive compaction")
    // stale-delete → rebuild (retrain) over survivors
    val m3 = m2.filterNot(_.filename == "v1.tsv")
    wh.sync(m3, schema)
    assert(nn(102L, 0.15, 0.99) == Seq(5L))
    assert(wh.annIn("emb_ann",
        Seq((103L, Seq(1.0f, 0.1f, 0.0f, 0.0f))).toDF("q_id", "q_emb"),
        k = 4, nprobe = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSet == Set(5L),
      "rebuilt index must hold only the surviving corpus")
  }

  test("a pinned intent naming a deleted file triggers the rebuild path") {
    val src = Files.createTempDirectory("wh_gi_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(
      CDTable("fact", None, Seq(
        CDColumn("k", "bigint"), CDColumn("x", "double precision"))),
      CDTable("dim", None, Seq(
        CDColumn("k", "bigint"), CDColumn("attr", "varchar", Some(10)))))
    val m1 = Seq(
      put("fact", "f1.tsv", "1\t1.0\n"),
      put("dim", "d1.tsv", "1\talpha\n"))
    val whDir = Files.createTempDirectory("wh_gi_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark,
      Warehouse.Config(whDir, db = "cd_whg", parallelism = 2,
        maintainedViews = Seq(
          Warehouse.ViewDef("enriched", "fact", "dim", Seq("k")))))
    wh.sync(m1, schema)
    // double-fault: a crashed refresh pinned a file that a stale-delete
    // then removed — the fold can neither run (file gone) nor be retried
    // under a different id; the ONLY convergent move is a store rebuild
    val store = new java.io.File(new java.net.URI(
      s"$whDir/_maintained/view_enriched"))
    Files.writeString(store.toPath.resolve("_fold_intent"), "ghost.tsv")
    wh.sync(m1, schema) // folded ∪ intent ⊄ listing → rebuild
    assert(!new java.io.File(store, "_fold_intent").exists(),
      "the rebuild must clear the orphaned intent with the store")
    val rows = wh.view("enriched").select("k", "x", "attr").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(rows == Set((1L, 1.0, "alpha")),
      "the rebuilt view must serve the surviving listing exactly")
    // and the next delta folds normally
    val m2 = m1 :+ put("fact", "f2.tsv", "1\t2.0\n")
    wh.sync(m2, schema)
    assert(wh.view("enriched").count() == 2L)
  }

  test("maintained IVFADC (pq) vector index: codes-only appends, ADC probe") {
    import spark.implicits._
    val src = Files.createTempDirectory("wh_pq_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(
      CDTable("vecs", None, Seq(
        CDColumn("vec_id", "bigint"),
        CDColumn("emb", "varchar", Some(200)))))
    def v(id: Long, a: Double, b: Double) = s"$id\t$a,$b,0.0,0.0"
    val m1 = Seq(put("vecs", "v1.tsv",
      Seq(v(1, 1.0, 0.1), v(2, 1.0, 0.2), v(3, 0.1, 1.0),
        v(4, 0.2, 1.0)).mkString("", "\n", "\n")))
    val whDir = Files.createTempDirectory("wh_pq_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark,
      Warehouse.Config(whDir, db = "cd_whpq", parallelism = 2,
        maintainedVectorIndexes = Seq(
          Warehouse.VectorIndexDef("emb_adc", "vecs", "vec_id", "emb",
            nlist = 2, replicas = 1,
            codec = graft.operators.VectorIndex.Pq(m = 2, k = 4)))))
    wh.sync(m1, schema)
    val store = new java.io.File(new java.net.URI(
      s"$whDir/_maintained/vindex_emb_adc"))
    assert(new java.io.File(store, "codebook").exists(),
      "pq index must carry its codebook")
    def corpus() = {
      val t = schema.head
      graft.sources.TsvSource.read(spark,
        graft.model.TypeLattice.toStructType(t),
        new java.io.File(new java.net.URI(
          s"$whDir/${pipeline.Sync.RawPrefix}/vecs")).listFiles()
          .filter(_.getName.endsWith(".tsv")).map(_.toURI.toString).toSeq)
        .select($"vec_id",
          org.apache.spark.sql.functions.split($"emb", ",")
            .cast("array<float>").as("embedding"))
    }
    def nn(qid: Long, a: Double, b: Double): Seq[Long] =
      wh.annAdcIn("emb_adc",
          Seq((qid, Seq(a.toFloat, b.toFloat, 0.0f, 0.0f)))
            .toDF("q_id", "q_emb"), corpus(), k = 1, nprobe = 2)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(Seq(Seq(1L), Seq(2L)).contains(nn(100L, 1.0, 0.15)))
    // sync 2: a new file appends codes under the FROZEN codebook
    val m2 = m1 :+ put("vecs", "v2.tsv",
      Seq(v(5, 0.15, 1.0)).mkString("", "\n", "\n"))
    wh.sync(m2, schema)
    assert(nn(101L, 0.15, 0.99) == Seq(5L),
      "the appended vector must be ADC-probe-visible")
  }

  test("maintained skip stats over the canonical layer; pruned reads stay exact") {
    val src = Files.createTempDirectory("wh_sk_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(
      CDTable("fact", None, Seq(
        CDColumn("k", "bigint"), CDColumn("c", "bigint"))))
    val m1 = Seq(put("fact", "f1.tsv",
      (1L to 50L).map(k => s"$k\t${k % 7}").mkString("", "\n", "\n")))
    val whDir = Files.createTempDirectory("wh_sk_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark,
      Warehouse.Config(whDir, db = "cd_whs", parallelism = 2,
        canonicalize = true,
        maintainedSkipStats = Map("fact" -> Seq("k")),
        maintainedBloomStats = Map("fact" -> Seq("c"))))
    wh.sync(m1, schema)
    val canonical = new java.io.File(new java.net.URI(
      s"$whDir/${pipeline.Canonicalize.CanonicalPrefix}/fact"))
    assert(new java.io.File(canonical, "_skip_stats").exists(),
      "sync must materialize the min/max stats beside the canonical data")
    assert(new java.io.File(canonical, "_skip_bloom_c").exists(),
      "sync must materialize the bloom stats beside the canonical data")
    def rangeRows() = wh.readRange("fact", "k", 10L, 20L)
      .collect().map(_.getLong(0)).toSet
    assert(rangeRows() == (10L to 20L).toSet)
    assert(wh.readPointLookup("fact", "c", Seq(3L))
      .collect().map(_.getLong(0)).toSet ==
      (1L to 50L).filter(_ % 7 == 3).toSet)
    // a second sync lands more data; the canonical rewrite replaces the
    // file set and the stats follow it — reads stay exact
    val m2 = m1 :+ put("fact", "f2.tsv",
      (100L to 120L).map(k => s"$k\t${k % 7}").mkString("", "\n", "\n"))
    wh.sync(m2, schema)
    assert(wh.readRange("fact", "k", 100L, 110L)
      .collect().map(_.getLong(0)).toSet == (100L to 110L).toSet)
    assert(wh.readPointLookup("fact", "c", Seq(2L))
      .collect().map(_.getLong(0)).toSet ==
      ((1L to 50L) ++ (100L to 120L)).filter(_ % 7 == 2).toSet)
    // and ANALYST SQL prunes transparently (SkippingFilePrune is
    // session-registered by the Warehouse): a range filter over the
    // canonical catalog view scans only the stats-matched files
    val q = wh.sql(
      "SELECT k FROM cd_whs.`fact_canonical` WHERE k >= 100 AND k <= 110")
    assert(q.collect().map(_.getLong(0)).toSet == (100L to 110L).toSet)
    val scanned = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.toSeq
    }.flatten
    val total = wh.canonicalTable("fact").inputFiles.length
    assert(total > 1 && scanned.nonEmpty && scanned.size < total,
      s"plain SQL must prune: scanned ${scanned.size} of $total files")
  }

  test("sync keeps canonical manifests current; maintenance over the " +
      "canonical dir is then reader-atomic") {
    import graft.pipeline.Manifest
    val src = Files.createTempDirectory("wh_mani_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(
      CDTable("fact", None, Seq(
        CDColumn("k", "bigint"), CDColumn("c", "bigint"))))
    val m1 = Seq(put("fact", "f1.tsv",
      (1L to 50L).map(k => s"$k\t${k % 7}").mkString("", "\n", "\n")))
    val whDir = Files.createTempDirectory("wh_mani_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark,
      Warehouse.Config(whDir, db = "cd_whm", parallelism = 2,
        canonicalize = true,
        maintainedBloomStats = Map("fact" -> Seq("k")),
        manifestTables = Seq("fact")))
    wh.sync(m1, schema)
    val cdir =
      s"$whDir/${pipeline.Canonicalize.CanonicalPrefix}/fact"
    assert(Manifest.exists(cdir),
      "sync must leave the canonical dir manifest-managed")
    assert(Manifest.readSnapshot(spark, cdir)
      .select("k").collect().map(_.getLong(0)).toSet == (1L to 50L).toSet)
    // an unchanged second sync commits no new generation
    val g1 = Manifest.current(cdir).get
    wh.sync(m1, schema)
    assert(Manifest.current(cdir).get == g1,
      "no data moved — the manifest must not churn generations")
    // a canonical rewrite (new sync data) re-commits; snapshot follows
    val m2 = m1 :+ put("fact", "f2.tsv",
      (100L to 110L).map(k => s"$k\t${k % 7}").mkString("", "\n", "\n"))
    wh.sync(m2, schema)
    assert(Manifest.readSnapshot(spark, cdir)
      .select("k").collect().map(_.getLong(0)).toSet ==
      ((1L to 50L) ++ (100L to 110L)).toSet)
    // and manifest-managed maintenance composes: a keyed hard delete
    // over the canonical dir commits reader-atomically
    val sum = graft.pipeline.Maintain.deleteByKey(spark, cdir, "k",
      Seq(5L, 105L))
    assert(sum.rowsDeleted == 2L, s"$sum")
    assert(Manifest.readSnapshot(spark, cdir)
      .select("k").collect().map(_.getLong(0)).toSet ==
      (((1L to 50L) ++ (100L to 110L)).toSet -- Set(5L, 105L)))
  }

  test("kitchen-sink sync: every maintenance family refreshes in one pass " +
      "and again on the delta") {
    import spark.implicits._
    val src = Files.createTempDirectory("wh_ks_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(
      CDTable("fact", None, Seq(
        CDColumn("k", "bigint"), CDColumn("x", "double precision"))),
      CDTable("dim", None, Seq(
        CDColumn("k", "bigint"), CDColumn("attr", "varchar", Some(10)))),
      CDTable("docs", None, Seq(
        CDColumn("doc_id", "bigint"), CDColumn("text", "varchar", Some(500)))),
      CDTable("vecs", None, Seq(
        CDColumn("vec_id", "bigint"), CDColumn("emb", "varchar", Some(100)))),
      CDTable("ev", None, Seq(
        CDColumn("event_id", "bigint"), CDColumn("d", "date"))))
    val sentence = "the quick brown fox jumps over the lazy dog and " +
      "runs far away into the deep green forest tonight"
    val other = "pack my box with five dozen liquor jugs while the band " +
      "played waltzes on the crowded pier all evening"
    val m1 = Seq(
      put("fact", "f1.tsv",
        (1L to 40L).map(k => s"$k\t${k * 1.5}").mkString("", "\n", "\n")),
      put("dim", "d1.tsv", "1\talpha\n2\tbeta\n"),
      put("docs", "doc1.tsv", s"1\t$sentence\n"),
      put("vecs", "v1.tsv", "1\t1.0,0.0\n2\t0.9,0.1\n3\t0.0,1.0\n4\t0.1,0.9\n"),
      put("ev", "e1.tsv",
        "1\t2024-01-01\n2\t2024-01-05\n3\t2024-01-20\n4\t2024-01-25\n"))
    val whDir = Files.createTempDirectory("wh_ks_root").toUri.toString
      .stripSuffix("/")
    val spec = pipeline.Rollup.Spec(Nil, sumCols = Seq("x"))
    val wh = new Warehouse(spark, Warehouse.Config(whDir, db = "cd_whk",
      parallelism = 2, canonicalize = true,
      maintainedRollups = Seq(Warehouse.RollupDef("tot", "fact", spec)),
      maintainedProfiles = Map("fact" -> Seq("k")),
      maintainedViews = Seq(
        Warehouse.ViewDef("enr", "fact", "dim", Seq("k"))),
      maintainedIndexes = Seq(
        Warehouse.IndexDef("nd", "docs", "doc_id", "text")),
      maintainedVectorIndexes = Seq(
        Warehouse.VectorIndexDef("ann", "vecs", "vec_id", "emb",
          nlist = 2, replicas = 1),
        Warehouse.VectorIndexDef("sqx", "vecs", "vec_id", "emb",
          nlist = 2, replicas = 1,
          codec = graft.operators.VectorIndex.Sq8)),
      maintainedSkipStats = Map("fact" -> Seq("k")),
      maintainedBloomStats = Map("fact" -> Seq("k")),
      maintainedPacks = Seq(Warehouse.PackDef("pk", "docs", "doc_id",
        "text", budget = 16L, compactHoleRatio = 0.05)),
      canonicalSpecs = Map("ev" -> Warehouse.CanonicalSpec(Seq("d"))),
      manifestTables = Seq("ev")))
    wh.sync(m1, schema)
    assert(wh.rollup("tot", spec).select("sum_x").head().getDouble(0) ==
      (1L to 40L).map(_ * 1.5).sum)
    assert(wh.view("enr").count() == 2L) // k=1,2 join the dim
    assert(wh.nearDupsIn("nd",
      Seq((9L, sentence)).toDF("doc_id", "text")).count() == 1L)
    assert(wh.annIn("ann", Seq((9L, Seq(1.0f, 0.05f)))
      .toDF("q_id", "q_emb"), k = 1, nprobe = 1).count() == 1L)
    def vecCorpus() = graft.sources.TsvSource.read(spark,
        graft.model.TypeLattice.toStructType(schema.find(
          _.tableName == "vecs").get),
        new java.io.File(new java.net.URI(s"$whDir/raw_files/vecs"))
          .listFiles().filterNot(f => f.getName.startsWith(".") ||
            f.getName.startsWith("_")).map(_.getPath).toSeq)
      .select($"vec_id", org.apache.spark.sql.functions.split($"emb", ",").cast("array<float>")
        .as("embedding"))
    assert(wh.annSqIn("sqx", Seq((9L, Seq(1.0f, 0.05f)))
      .toDF("q_id", "q_emb"), vecCorpus(), k = 1, nprobe = 1)
      .count() == 1L)
    assert(wh.readRange("fact", "k", 10L, 12L).count() == 3L)
    assert(wh.readPointLookup("fact", "k", Seq(7L)).count() == 1L)
    // one delta sync refreshes EVERYTHING
    val m2 = m1 ++ Seq(
      put("fact", "f2.tsv", "2\t100.0\n50\t1.0\n"),
      put("docs", "doc2.tsv", s"2\t$other\n"),
      put("vecs", "v2.tsv", "5\t0.05,0.95\n"))
    wh.sync(m2, schema)
    assert(wh.rollup("tot", spec).select("sum_x").head().getDouble(0) ==
      (1L to 40L).map(_ * 1.5).sum + 101.0)
    assert(wh.view("enr").count() == 3L) // the new k=2 row joined
    assert(wh.nearDupsIn("nd",
      Seq((10L, other)).toDF("doc_id", "text")).count() == 1L)
    assert(wh.annIn("ann", Seq((10L, Seq(0.06f, 0.94f)))
        .toDF("q_id", "q_emb"), k = 1, nprobe = 1)
      .collect().map(_.getAs[Long]("vec_id")).toSeq == Seq(5L))
    assert(wh.annSqIn("sqx", Seq((10L, Seq(0.06f, 0.94f)))
        .toDF("q_id", "q_emb"), vecCorpus(), k = 1, nprobe = 1)
      .collect().map(_.getAs[Long]("vec_id")).toSeq == Seq(5L),
      "the SQ8 index must fold the delta sync's vectors too")
    assert(wh.readRange("fact", "k", 45L, 60L).count() == 1L)
    assert(wh.profileOf("fact", Seq("k"))
      .filter($"col_name" === "k").select("n_rows").head().getLong(0) == 42L)
    // --- the round-12 families, in the SAME warehouse pass ------------
    // retention: retire ev partitions older than Jan 10 (manifest drop)
    assert(wh.canonicalTable("ev").count() == 4L)
    val ret = wh.retireOlderThan("ev", "d", "2024-01-10")
    assert(ret.partitionsRetired == 2L, ret.toString)
    assert(wh.canonicalTable("ev").count() == 2L)
    // forget one doc: the placement-preserving pack purge leaves a hole
    // whose ratio (~half the tokens) exceeds compactHoleRatio — the
    // NEXT sync's maintenance auto-compacts to epoch 1
    assert(wh.packEpochOf("pk") == 0L)
    wh.forget(schema, "docs", "doc_id", Seq(1L))
    assert(wh.nearDupsIn("nd",
      Seq((11L, sentence)).toDF("doc_id", "text")).count() == 0L,
      "the forgotten doc must leave the MinHash index")
    // delta 3: a LATE ev row older than the watermark rides in — the
    // per-sync re-enforcement must retire it on arrival
    val m3 = m2 ++ Seq(put("ev", "e2.tsv",
      "5\t2024-01-02\n6\t2024-01-21\n"))
    wh.sync(m3, schema)
    assert(wh.canonicalTable("ev").count() == 3L,
      "late row >= watermark ingests; the expired one retires on landing")
    assert(wh.packEpochOf("pk") == 1L,
      "the hole ratio must have triggered the epoch re-pack")
    val placements = wh.packOf("pk").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(placements.keySet == Set(2L) && placements(2L) == 0L,
      s"dense re-pack expected: $placements")
    // vacuum leaves a healthy warehouse
    wh.vacuum()
    assert(wh.rollup("tot", spec).select("sum_x").head().getDouble(0) ==
      (1L to 40L).map(_ * 1.5).sum + 101.0)
    // audit surfaces: the forget shows as one completed request with
    // its one key; the retention watermark is queryable
    val fst = wh.forgetStatus("docs").collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq.sorted
    assert(fst == Seq(("done", -1L), ("req", 1L)), fst.toString)
    val rst = wh.retentionStatus().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(rst == Seq(("ev", "d", "2024-01-10")), rst.toString)
    // watermark durability: each cutoff lands as a NEW generation file
    // (no delete-then-rename window that could lose the only copy);
    // superseded generations GC after the new one is in place
    val retDir = java.nio.file.Paths.get(new java.net.URI(whDir))
      .resolve("_retention")
    def wmFiles() = java.nio.file.Files.list(retDir).iterator()
    locally {
      import scala.jdk.CollectionConverters._
      val names0 = wmFiles().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSeq
      assert(names0 == Seq("ev.g1"), names0.toString)
      wh.retireOlderThan("ev", "d", "2024-01-12")
      val names1 = wmFiles().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSeq
      assert(names1 == Seq("ev.g2"), names1.toString)
      // a crashed NEXT write (orphaned staging tmp) never obscures the
      // live generation
      java.nio.file.Files.writeString(retDir.resolve(".ev.g3.tmp"), "x")
      val rst2 = wh.retentionStatus().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      assert(rst2 == Seq(("ev", "d", "2024-01-12")), rst2.toString)
    }
  }

  test("store init reads the canonical parquet layer when current, raw TSV otherwise") {
    val src = Files.createTempDirectory("wh_cb_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(
      CDTable("fact", None, Seq(
        CDColumn("grp", "varchar", Some(5)), CDColumn("x", "bigint"))))
    val m1 = Seq(put("fact", "f1.tsv", "a\t1\na\t2\nb\t5\n"))
    def mkWh(canonical: Boolean): (Warehouse, String) = {
      val whDir = Files.createTempDirectory("wh_cb_root").toUri.toString
        .stripSuffix("/")
      (new Warehouse(spark, Warehouse.Config(whDir,
        db = s"cd_whc_$canonical", parallelism = 2,
        canonicalize = canonical,
        maintainedRollups = Seq(Warehouse.RollupDef("g", "fact",
          pipeline.Rollup.Spec(Seq("grp"), sumCols = Seq("x")))))),
        whDir)
    }
    val (whC, _) = mkWh(canonical = true)
    val (whR, _) = mkWh(canonical = false)
    whC.sync(m1, schema); whR.sync(m1, schema)
    // the snapshot source is canonical iff enabled and current
    val t = schema.head
    assert(whC.readTableSnapshot(t, Seq("f1.tsv"))._2,
      "canonicalized warehouse must snapshot from parquet")
    assert(!whR.readTableSnapshot(t, Seq("f1.tsv"))._2,
      "raw warehouse must snapshot from TSV")
    // and both paths produce the identical rollup store content
    val spec = pipeline.Rollup.Spec(Seq("grp"), sumCols = Seq("x"))
    def rows(wh: Warehouse) = wh.rollup("g", spec)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows(whC) == rows(whR) && rows(whC).nonEmpty,
      "canonical-backed init must be value-identical to the raw init")
  }

  test("forget: an RTBF delete leaves every layer — raw TSV (in place, " +
      "same names), canonical, minhash + vector indexes, view, " +
      "rollup (retracted) and profile (invalidated) — and neither a " +
      "re-run nor the next sync resurrects anything") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_forget_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(
      CDTable("docs", None, Seq(
        CDColumn("doc_id", "bigint"),
        CDColumn("g", "varchar", Some(10)),
        CDColumn("text", "varchar", Some(200)),
        CDColumn("emb", "varchar", Some(100)))),
      CDTable("grp_dim", None, Seq(
        CDColumn("g", "varchar", Some(10)),
        CDColumn("label", "varchar", Some(20)))))
    def doc(id: Long, g: String, seed: Int): String =
      s"$id\t$g\tword$seed alpha beta gamma tail$id extra$seed\t" +
        s"0.$seed,0.${seed + 1},0.${seed + 2},0.${seed + 3}"
    val m = Seq(
      put("docs", "d1.tsv",
        (1L to 6L).map(i => doc(i, if (i % 2 == 0) "a" else "b",
          (i % 4).toInt)).mkString("", "\n", "\n") + "\\N\tb\tnull " +
          "keyed row stays here\t0.9,0.9,0.9,0.9\n"),
      put("docs", "d2.tsv",
        (7L to 12L).map(i => doc(i, if (i % 2 == 0) "a" else "b",
          (i % 4).toInt)).mkString("", "\n", "\n")),
      put("grp_dim", "g1.tsv", "a\tgroup A\nb\tgroup B\n"))
    val whDir = Files.createTempDirectory("wh_forget_root").toUri.toString
      .stripSuffix("/")
    val rollSpec = pipeline.Rollup.Spec(Seq("g"), sumCols = Seq("doc_id"))
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whf", parallelism = 2, canonicalize = true,
      maintainedRollups = Seq(Warehouse.RollupDef("by_g", "docs",
        rollSpec)),
      maintainedProfiles = Map("docs" -> Seq("doc_id", "g")),
      maintainedViews = Seq(Warehouse.ViewDef("v1", "docs", "grp_dim",
        Seq("g"))),
      maintainedIndexes = Seq(Warehouse.IndexDef("mh", "docs",
        "doc_id", "text")),
      maintainedVectorIndexes = Seq(Warehouse.VectorIndexDef("vx",
        "docs", "doc_id", "emb", nlist = 2, replicas = 1))))
    wh.sync(m, schema)
    val keys: Seq[Any] = Seq(3L, 7L)

    val sum = wh.forget(schema, "docs", "doc_id", keys)
    assert(sum.rawRows == 2L && sum.canonicalRows == 2L, s"$sum")
    // raw layer: same file names (the sync diff must keep skipping
    // them), keys gone, the NULL-keyed row alive
    val st = graft.model.TypeLattice.toStructType(schema.head)
    val raw = graft.sources.TsvSource.read(spark, st,
      Seq(s"$whDir/raw_files/docs/d1.tsv", s"$whDir/raw_files/docs/d2.tsv"))
    assert(raw.filter(col("doc_id").isInCollection(keys)).count() == 0L)
    assert(raw.filter(col("doc_id").isNull).count() == 1L &&
      raw.count() == 11L)
    // canonical layer
    assert(wh.canonicalTable("docs")
      .filter(col("doc_id").isInCollection(keys)).count() == 0L)
    // maintained indexes: no trace of the ids in the stored files
    assert(spark.read
      .parquet(s"$whDir/_maintained/index_mh/signatures")
      .filter(col("doc_id").isInCollection(keys)).count() == 0L)
    assert(spark.read.parquet(s"$whDir/_maintained/vindex_vx/cells")
      .filter(col("vec_id").isInCollection(keys)).count() == 0L)
    // view copies leave with the facts
    assert(pipeline.JoinView.read(spark, s"$whDir/_maintained/view_v1")
      .filter(col("doc_id").isInCollection(keys)).count() == 0L)
    // subtractable rollup RETRACTED in place: equals the filtered truth
    def rollupRows() = wh.rollup("by_g", rollSpec)
      .select("g", "n").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rollupRows() == Set(("a", 6L), ("b", 5L)), s"${rollupRows()}")
    // profile invalidated, then REBUILT by the next sync over the
    // purged files — never stale, never resurrecting
    assert(!pipeline.Rollup.exists(spark,
      s"$whDir/_maintained/profile_docs"))
    wh.sync(m, schema)
    assert(wh.profileOf("docs", Seq("doc_id", "g"))
      .filter(col("col_name") === "doc_id").head().getLong(1) == 11L,
      "the rebuilt profile must count the post-forget rows")
    assert(raw.filter(col("doc_id").isInCollection(keys)).count() == 0L &&
      wh.canonicalTable("docs")
        .filter(col("doc_id").isInCollection(keys)).count() == 0L,
      "the next sync must not resurrect forgotten rows")
    // convergent re-run
    val again = wh.forget(schema, "docs", "doc_id", keys)
    assert(again.rawRows == 0L && again.canonicalRows == 0L, s"$again")

    // ---- durability: upstream RE-DELIVERY under a NEW file name ----
    // the name-keyed diff can't skip d3.tsv (never seen), so without
    // the journal sweep the forgotten doc 3 would re-ingest into raw,
    // canonical, AND the indexes maintained this sync
    val m2 = m :+ put("docs", "d3.tsv",
      doc(3L, "b", 1) + "\n" + doc(13L, "b", 2) + "\n")
    wh.sync(m2, schema)
    val raw3 = graft.sources.TsvSource.read(spark, st,
      s"$whDir/raw_files/docs/d3.tsv")
    assert(raw3.select("doc_id").collect().map(_.getLong(0)).toSeq ==
      Seq(13L),
      "the sweep must purge the re-delivered forgotten row from the " +
        "fresh file before anything ingests it")
    assert(wh.canonicalTable("docs")
      .filter(col("doc_id") === 3L).count() == 0L)
    assert(wh.canonicalTable("docs")
      .filter(col("doc_id") === 13L).count() == 1L,
      "the fresh file's OTHER rows must still ingest")
    assert(spark.read
      .parquet(s"$whDir/_maintained/index_mh/signatures")
      .filter(col("doc_id") === 3L).count() == 0L,
      "a maintained index fed from the fresh file must never see the " +
        "forgotten id")
    assert(spark.read
      .parquet(s"$whDir/_maintained/index_mh/signatures")
      .filter(col("doc_id") === 13L).count() == 1L)

    // ---- durability: a CRASHED cascade (journal present, completion
    // marker missing) finishes at the next sync without the caller ----
    val reqId5 = pipeline.AppendCommit.contentId("docs|doc_id|5")
    val fdir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/_forget/docs"))
    java.nio.file.Files.writeString(fdir.resolve(s"req_$reqId5"),
      "doc_id\n5")
    wh.sync(m2, schema)
    assert(java.nio.file.Files.exists(fdir.resolve(s"done_$reqId5")),
      "the sweep must complete and mark the crashed request")
    val rawAll = graft.sources.TsvSource.read(spark, st,
      Seq(s"$whDir/raw_files/docs/d1.tsv", s"$whDir/raw_files/docs/d2.tsv",
        s"$whDir/raw_files/docs/d3.tsv"))
    assert(rawAll.filter(col("doc_id") === 5L).count() == 0L)
    assert(wh.canonicalTable("docs")
      .filter(col("doc_id") === 5L).count() == 0L)
    assert(spark.read
      .parquet(s"$whDir/_maintained/index_mh/signatures")
      .filter(col("doc_id") === 5L).count() == 0L)
    assert(pipeline.JoinView.read(spark, s"$whDir/_maintained/view_v1")
      .filter(col("doc_id") === 5L).count() == 0L)
  }

  test("forget on a schema-APPENDED column over version-mixed raw " +
      "files: pre-widening short rows read NULL — never match, never " +
      "crash — and the purge completes across both layers") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_evo_src")
    def put(name: String, content: String): ManifestEntry = {
      val f = src.resolve(name); Files.writeString(f, content)
      ManifestEntry("mx", name, f.toUri.toString)
    }
    val v1 = Seq(CDTable("mx", None, Seq(
      CDColumn("id", "bigint"), CDColumn("txt", "varchar", Some(50)))))
    val v2 = Seq(CDTable("mx", None, Seq(
      CDColumn("id", "bigint"), CDColumn("txt", "varchar", Some(50)),
      CDColumn("owner", "bigint"))))
    val whDir = Files.createTempDirectory("wh_evo_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_evo", parallelism = 2, canonicalize = true))
    val fA = put("a.tsv", "1\tone\n2\ttwo\n") // v1 width: no owner yet
    wh.sync(Seq(fA), v1)
    val fB = put("b.tsv", "3\tthree\t77\n4\tfour\t88\n")
    wh.sync(Seq(fA, fB), v2)
    val sum = wh.forget(v2, "mx", "owner", Seq(77L))
    assert(sum.rawRows == 1L && sum.canonicalRows == 1L, s"$sum")
    val st = graft.model.TypeLattice.toStructType(v2.head)
    val raw = graft.sources.TsvSource.read(spark, st, Seq(
      s"$whDir/raw_files/mx/a.tsv", s"$whDir/raw_files/mx/b.tsv"))
    assert(raw.count() == 3L)
    assert(raw.filter(col("owner") === 77L).count() == 0L)
    // the v1 rows survive with NULL owner (NULL never matches a key)
    assert(raw.filter(col("owner").isNull).count() == 2L)
    assert(wh.canonicalTable("mx")
      .filter(col("owner") === 77L).count() == 0L)
    assert(wh.canonicalTable("mx").count() == 3L)
    // idempotent: the next sync resurrects nothing
    wh.sync(Seq(fA, fB), v2)
    assert(wh.canonicalTable("mx")
      .filter(col("owner") === 77L).count() == 0L)
  }

  test("forget refuses an uncastable key LOUDLY even when the canonical " +
      "layer is absent (canonicalize=false): the raw-only path must not " +
      "silently skip the key deleteByKey would have refused") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_forget_bad")
    val d = src.resolve("docs"); Files.createDirectories(d)
    val f = d.resolve("d1.tsv")
    Files.writeString(f, "1\tone\n2\ttwo\n")
    val schema = Seq(CDTable("docs", None, Seq(
      CDColumn("doc_id", "bigint"),
      CDColumn("text", "varchar", Some(50)))))
    val m = Seq(ManifestEntry("docs", "d1.tsv", f.toUri.toString))
    val whDir = Files.createTempDirectory("wh_forget_bad_root").toUri
      .toString.stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whfb", parallelism = 1, canonicalize = false))
    wh.sync(m, schema)
    val ex = intercept[IllegalArgumentException] {
      wh.forget(schema, "docs", "doc_id", Seq(1L, "not-a-number"))
    }
    assert(ex.getMessage.contains("not-a-number"),
      s"the refusal must name the offending key: ${ex.getMessage}")
    val st = graft.model.TypeLattice.toStructType(schema.head)
    assert(graft.sources.TsvSource.read(spark, st,
      s"$whDir/raw_files/docs/d1.tsv").count() == 2L,
      "a refused forget must purge NOTHING — no partial delete")
  }

  test("cross-column forget: a request keyed by a non-id column cascades " +
      "to id-keyed maintained indexes and the pack store through a " +
      "staged key mapping") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_xcol_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(CDTable("docs", None, Seq(
      CDColumn("doc_id", "bigint"),
      CDColumn("lang", "varchar", Some(8)),
      CDColumn("text", "varchar", Some(200)),
      CDColumn("emb", "varchar", Some(100)))))
    def doc(id: Long, lang: String): String =
      s"$id\t$lang\tword$id alpha beta gamma tail$id\t" +
        s"0.$id,0.${id + 1},0.${id + 2},0.${id + 3}"
    val langOf = (id: Long) => if (id == 3L || id == 7L) "xx" else "en"
    val m = Seq(
      put("docs", "d1.tsv",
        (1L to 4L).map(i => doc(i, langOf(i))).mkString("", "\n", "\n")),
      put("docs", "d2.tsv",
        (5L to 8L).map(i => doc(i, langOf(i))).mkString("", "\n", "\n")))
    val whDir = Files.createTempDirectory("wh_xcol_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whx", parallelism = 2, canonicalize = true,
      maintainedIndexes = Seq(Warehouse.IndexDef("mh", "docs",
        "doc_id", "text")),
      maintainedVectorIndexes = Seq(Warehouse.VectorIndexDef("vx",
        "docs", "doc_id", "emb", nlist = 2, replicas = 1)),
      maintainedPacks = Seq(Warehouse.PackDef("pk", "docs",
        "doc_id", "text", budget = 16L))))
    wh.sync(m, schema)
    val before = wh.packOf("pk").select("doc_id", "off", "bin")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

    // the request arrives keyed by the USER-FACING column, not the ids
    val sum = wh.forget(schema, "docs", "lang", Seq("xx"))
    assert(sum.rawRows == 2L && sum.canonicalRows == 2L, s"$sum")
    assert(sum.purged("index_mh") > 0L, s"$sum")
    assert(sum.purged("vindex_vx") > 0L, s"$sum")
    assert(sum.purged("pack_pk") == 2L, s"$sum")
    val gone = Seq[Any](3L, 7L)
    assert(spark.read
      .parquet(s"$whDir/_maintained/index_mh/signatures")
      .filter(col("doc_id").isInCollection(gone)).count() == 0L,
      "the id-keyed MinHash index must purge the MAPPED doc ids")
    assert(spark.read.parquet(s"$whDir/_maintained/vindex_vx/cells")
      .filter(col("vec_id").isInCollection(gone)).count() == 0L)
    val after = wh.packOf("pk").select("doc_id", "off", "bin")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(after == before.removedAll(Seq(3L, 7L)),
      "surviving placements must be exactly the pre-forget ones " +
        s"(holes, no re-pack): $after vs $before")
    assert(wh.canonicalTable("docs")
      .filter(col("lang") === "xx").count() == 0L)
    // the mapping was STAGED under the journal pre-destruction (a
    // crash-retry would replay the exact original id set from it) and
    // DELETED with the completion marker — once done_ lands no path
    // reads it again, and it holds forgotten-content metadata that
    // must not outlive its purpose
    val fdir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/_forget/docs"))
    val mapFiles = java.nio.file.Files.list(fdir).iterator()
    val mapped = scala.jdk.CollectionConverters
      .IteratorHasAsScala(mapFiles).asScala
      .filter(_.getFileName.toString.startsWith("map_")).toSeq
    assert(mapped.isEmpty,
      s"mapping stages must clear at completion: $mapped")
    // convergent re-run, and the next sync resurrects nothing
    val again = wh.forget(schema, "docs", "lang", Seq("xx"))
    assert(again.rawRows == 0L && again.canonicalRows == 0L)
    wh.sync(m, schema)
    assert(wh.canonicalTable("docs")
      .filter(col("lang") === "xx").count() == 0L)
    assert(spark.read
      .parquet(s"$whDir/_maintained/index_mh/signatures")
      .filter(col("doc_id").isInCollection(gone)).count() == 0L)
  }

  test("a refused forget never journals: unknown column, uncastable " +
      "key, and an unmappable maintained-index key column all fail " +
      "BEFORE the journal write, so no later sync can replay them") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_refuse_src")
    val d = src.resolve("docs"); Files.createDirectories(d)
    val f = d.resolve("d1.tsv")
    Files.writeString(f, "1\tone two three\n2\ttwo three four\n")
    val schema = Seq(CDTable("docs", None, Seq(
      CDColumn("doc_id", "bigint"),
      CDColumn("text", "varchar", Some(50)))))
    val m = Seq(ManifestEntry("docs", "d1.tsv", f.toUri.toString))
    val whDir = Files.createTempDirectory("wh_refuse_root").toUri
      .toString.stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whr", parallelism = 1, canonicalize = false))
    wh.sync(m, schema)
    val fdir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/_forget/docs"))
    def reqFiles(): Seq[String] =
      if (!java.nio.file.Files.exists(fdir)) Nil
      else scala.jdk.CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.list(fdir).iterator()).asScala
        .map(_.getFileName.toString).filter(_.startsWith("req_")).toSeq
    intercept[IllegalArgumentException] {
      wh.forget(schema, "docs", "nope", Seq(1L))
    }
    intercept[IllegalArgumentException] {
      wh.forget(schema, "docs", "doc_id", Seq("not-a-number"))
    }
    // an index keyed by a column the table does not have: unmappable —
    // refused loudly, before journaling
    val whBad = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whr", parallelism = 1, canonicalize = false,
      maintainedIndexes = Seq(Warehouse.IndexDef("mh", "docs",
        "ghost", "text"))))
    val ex = intercept[IllegalArgumentException] {
      whBad.forget(schema, "docs", "doc_id", Seq(1L))
    }
    assert(ex.getMessage.contains("ghost"), ex.getMessage)
    assert(reqFiles().isEmpty,
      s"refused requests must never journal: ${reqFiles()}")
    // and the warehouse is not wedged: the next sync succeeds
    wh.sync(m, schema)
  }

  test("sweepForgets QUARANTINES a deterministically-invalid journal " +
      "(renamed failed_) instead of wedging every future sync; valid " +
      "crashed requests still complete") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_quar_src")
    val d = src.resolve("docs"); Files.createDirectories(d)
    val f = d.resolve("d1.tsv")
    Files.writeString(f, "1\tone\n2\ttwo\n3\tthree\n")
    val schema = Seq(CDTable("docs", None, Seq(
      CDColumn("doc_id", "bigint"),
      CDColumn("text", "varchar", Some(50)))))
    val m = Seq(ManifestEntry("docs", "d1.tsv", f.toUri.toString))
    val whDir = Files.createTempDirectory("wh_quar_root").toUri
      .toString.stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whq", parallelism = 1, canonicalize = true))
    wh.sync(m, schema)
    // hand-planted journals, the only way an invalid request can exist
    // (forget() refuses pre-journal): a bad column and an uncastable key
    val fdir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/_forget/docs"))
    java.nio.file.Files.createDirectories(fdir)
    java.nio.file.Files.writeString(fdir.resolve("req_badcol"),
      "nope\n5")
    java.nio.file.Files.writeString(fdir.resolve("req_badkey"),
      "doc_id\nxyz")
    // plus a VALID crashed cascade that must still complete
    java.nio.file.Files.writeString(fdir.resolve("req_ok2"),
      "doc_id\n2")
    wh.sync(m, schema) // must not throw
    def names(): Set[String] = scala.jdk.CollectionConverters
      .IteratorHasAsScala(java.nio.file.Files.list(fdir).iterator())
      .asScala.map(_.getFileName.toString).toSet
    assert(names().contains("failed_req_badcol") &&
      names().contains("failed_req_badkey"), names().toString)
    assert(!names().contains("req_badcol") &&
      !names().contains("req_badkey"), names().toString)
    assert(names().contains("done_ok2"),
      "the valid crashed cascade must still complete: " + names())
    assert(wh.canonicalTable("docs")
      .filter(col("doc_id") === 2L).count() == 0L)
    // stable under further syncs: quarantined files stay out of the way
    wh.sync(m, schema)
    assert(names().contains("failed_req_badcol"))
  }

  test("a forget heals a pack store whose build crashed mid-swap, then " +
      "purges it") {
    val src = Files.createTempDirectory("wh_pkc_src")
    val f = src.resolve("d1.tsv")
    Files.writeString(f, "1\ta b c\n2\td e f g\n")
    val m = Seq(ManifestEntry("docs", "d1.tsv", f.toUri.toString))
    val schema = Seq(CDTable("docs", None, Seq(
      CDColumn("doc_id", "bigint"), CDColumn("body", "text"))))
    val whDir = Files.createTempDirectory("wh_pkc_root")
    val wh = new Warehouse(spark, Warehouse.Config(
      whDir.toUri.toString.stripSuffix("/"), db = "cd_whpc",
      parallelism = 2, maintainedPacks =
        Seq(Warehouse.PackDef("train", "docs", "doc_id", "body",
          budget = 8L))))
    wh.sync(m, schema)
    // the crash point: the live store renamed aside, swap-in never ran
    val store = whDir.resolve("_maintained")
    assert(store.resolve("pack_train").toFile
      .renameTo(store.resolve(".pack_train.__old").toFile))
    val sum = wh.forget(schema, "docs", "doc_id", Seq(2L))
    assert(sum.purged.get("pack_train").contains(1L), s"$sum")
    assert(wh.packOf("train").select("doc_id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("pack-store forget (default, placement-preserving): deleted " +
      "placements leave as HOLES, untouched files keep physical " +
      "identity, and appends continue at the unchanged frontier") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_pkf_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(CDTable("docs", None, Seq(
      CDColumn("doc_id", "bigint"),
      CDColumn("body", "text"))))
    def doc(id: Long, words: Int) =
      s"$id\t${Seq.fill(words)("w").mkString(" ")}"
    val m1 = Seq(put("docs", "d1.tsv", s"${doc(1, 3)}\n${doc(2, 5)}\n"))
    val whDir = Files.createTempDirectory("wh_pkf_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir, db = "cd_whpf",
      parallelism = 2, canonicalize = true,
      maintainedPacks =
        Seq(Warehouse.PackDef("train", "docs", "doc_id", "body",
          budget = 8L))))
    wh.sync(m1, schema)
    // a second sync appends doc 3 as its own file set (frontier 8)
    val m2 = m1 :+ put("docs", "d2.tsv", s"${doc(3, 4)}\n")
    wh.sync(m2, schema)
    def placements() = wh.packOf("train")
      .select("doc_id", "off", "bin").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(placements() ==
      Map(1L -> (0L, 0L), 2L -> (3L, 0L), 3L -> (8L, 1L)))
    val docsDir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/_maintained/pack_train/docs"))
    def fileState(): Map[String, (Long, Long)] = scala.jdk
      .CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.list(docsDir).iterator()).asScala
      .filter(p => !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .map(p => p.getFileName.toString ->
        (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toMap
    val beforeFiles = fileState()
    val sum = wh.forget(schema, "docs", "doc_id", Seq(2L))
    assert(sum.purged("pack_train") == 1L, s"$sum")
    assert(sum.invalidated.isEmpty, s"placement-preserving, not " +
      s"invalidate: $sum")
    // doc 2's span [3, 8) is now a HOLE in bin 0; survivors unmoved
    assert(placements() == Map(1L -> (0L, 0L), 3L -> (8L, 1L)))
    // files that never held doc 2 keep byte + mtime identity
    val afterFiles = fileState()
    val untouched = afterFiles.keySet.intersect(beforeFiles.keySet)
    assert(untouched.nonEmpty,
      "the append's files must survive the purge untouched")
    untouched.foreach { n =>
      assert(afterFiles(n) == beforeFiles(n),
        s"$n changed across a purge that did not touch it")
    }
    // the frontier is UNCHANGED by the purge: the next append lands at
    // 12 (sum of PLACED tokens), not at 7 (sum of surviving tokens)
    wh.sync(m2 :+ put("docs", "d3.tsv", s"${doc(4, 6)}\n"), schema)
    assert(placements() == Map(1L -> (0L, 0L), 3L -> (8L, 1L),
      4L -> (12L, 1L)),
      "a post-forget append must land at the unchanged frontier")
    // replay converges
    assert(wh.forget(schema, "docs", "doc_id", Seq(2L))
      .purged("pack_train") == 0L)
  }

  test("forget-journal compaction: completed requests fold into one " +
      "generation-numbered suppression file per column; re-delivery " +
      "purging is unchanged; a crashed compaction heals") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_jc_src")
    def put(table: String, name: String, content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(CDTable("docs", None, Seq(
      CDColumn("doc_id", "bigint"),
      CDColumn("text", "varchar", Some(50)))))
    val m1 = Seq(put("docs", "d1.tsv",
      (1L to 9L).map(i => s"$i\tdoc number $i").mkString("", "\n", "\n")))
    val whDir = Files.createTempDirectory("wh_jc_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir, db = "cd_whjc",
      parallelism = 1, canonicalize = true, forgetCompactEvery = 2))
    wh.sync(m1, schema)
    val fdir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/_forget/docs"))
    def names(): Set[String] =
      if (!java.nio.file.Files.exists(fdir)) Set.empty
      else scala.jdk.CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.list(fdir).iterator()).asScala
        .map(_.getFileName.toString).toSet
    wh.forget(schema, "docs", "doc_id", Seq(1L))
    wh.forget(schema, "docs", "doc_id", Seq(2L))
    assert(names().count(_.startsWith("req_")) == 2)
    // the sync's sweep folds the two DONE requests into generation 1
    wh.sync(m1, schema)
    assert(names().contains("sup_doc_id_g1e"), names().toString)
    assert(names().count(_.startsWith("req_")) == 0 &&
      names().count(_.startsWith("done_")) == 0, names().toString)
    assert(java.nio.file.Files.readString(fdir.resolve("sup_doc_id_g1e"))
      .split("\n").toSet == Set("1", "2"))
    // below the threshold: the next request coexists with the sup file
    wh.forget(schema, "docs", "doc_id", Seq(3L))
    wh.sync(m1, schema)
    assert(names().count(_.startsWith("req_")) == 1)
    // re-delivery under a NEW name: keys from BOTH the suppression file
    // (1) and the live journal (3) purge; unrelated rows ingest
    val m2 = m1 :+ put("docs", "d2.tsv", "1\tagain\n3\tagain\n7\tagain\n")
    wh.sync(m2, schema)
    val st = graft.model.TypeLattice.toStructType(schema.head)
    assert(graft.sources.TsvSource.read(spark, st,
      s"$whDir/raw_files/docs/d2.tsv").select("doc_id").collect()
      .map(_.getLong(0)).toSeq == Seq(7L),
      "sup- and journal-borne keys must BOTH purge the fresh file")
    // crashed compaction: the sup of generation 2 landed but the folded
    // request files did not delete — plus one more forget to cross the
    // threshold; the next sweep must converge (fold everything into a
    // fresh generation, drop the superseded one and the leftovers)
    val req3 = names().find(_.startsWith("req_")).get
    val sup1 = java.nio.file.Files
      .readString(fdir.resolve("sup_doc_id_g1e")).split("\n").toSet
    java.nio.file.Files.writeString(fdir.resolve("sup_doc_id_g2"),
      (sup1 + "3").toSeq.sorted.mkString("\n"))
    wh.forget(schema, "docs", "doc_id", Seq(4L))
    wh.sync(m2, schema)
    val sups = names().filter(_.startsWith("sup_"))
    assert(sups.size == 1, s"one live generation expected: $sups")
    val liveSup = sups.head
    assert(java.nio.file.Files.readString(fdir.resolve(liveSup))
      .split("\n").toSet == Set("1", "2", "3", "4"),
      "the new generation must be the union of everything folded")
    assert(!names().exists(_.startsWith("req_")) &&
      !names().exists(_.startsWith("done_")),
      s"folded journals must clear: ${names()}")
    assert(!names().contains(req3))
    // and the compacted history still suppresses re-delivery
    val m3 = m2 :+ put("docs", "d3.tsv", "2\tzombie\n4\tzombie\n9\tok\n")
    wh.sync(m3, schema)
    assert(graft.sources.TsvSource.read(spark, st,
      s"$whDir/raw_files/docs/d3.tsv").select("doc_id").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("cross-column forget refuses a corpus-shaped request LOUDLY at " +
      "the forgetMaxMappedIds ceiling, and a journaled replay of one " +
      "quarantines instead of wedging the sync") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_cap_src")
    val d = src.resolve("docs"); Files.createDirectories(d)
    val f = d.resolve("d1.tsv")
    Files.writeString(f,
      (1L to 6L).map(i => s"$i\ten\tword$i alpha beta gamma")
        .mkString("", "\n", "\n"))
    val schema = Seq(CDTable("docs", None, Seq(
      CDColumn("doc_id", "bigint"),
      CDColumn("lang", "varchar", Some(8)),
      CDColumn("text", "varchar", Some(80)))))
    val m = Seq(ManifestEntry("docs", "d1.tsv", f.toUri.toString))
    val whDir = Files.createTempDirectory("wh_cap_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whcap", parallelism = 1, canonicalize = true,
      forgetMaxMappedIds = 3,
      maintainedIndexes = Seq(Warehouse.IndexDef("mh", "docs",
        "doc_id", "text"))))
    wh.sync(m, schema)
    // every doc is lang=en → the mapping (6 ids) exceeds the ceiling (3)
    val ex = intercept[IllegalArgumentException] {
      wh.forget(schema, "docs", "lang", Seq("en"))
    }
    assert(ex.getMessage.contains("forgetMaxMappedIds"), ex.getMessage)
    // the refused request WAS journaled (the guard is data-dependent,
    // not pre-journal-deterministic) — the sweep must quarantine it
    // PRE-DESTRUCTION rather than fail every future sync: no layer may
    // change under a refused cascade
    wh.sync(m, schema) // must not throw
    val fdir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/_forget/docs"))
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(
      java.nio.file.Files.list(fdir).iterator()).asScala
      .map(_.getFileName.toString).toSet
    assert(names.exists(_.startsWith("failed_req_")), names.toString)
    assert(!names.exists(_.startsWith("req_")), names.toString)
    val st = graft.model.TypeLattice.toStructType(schema.head)
    assert(graft.sources.TsvSource.read(spark, st,
      s"$whDir/raw_files/docs/d1.tsv").count() == 6L,
      "a quarantined request must not have purged the raw layer")
    assert(spark.read
      .parquet(s"$whDir/_maintained/index_mh/signatures")
      .select("doc_id").distinct().count() == 6L,
      "a quarantined request must not have touched the index")
    wh.sync(m, schema) // stable thereafter
    // an in-ceiling request still cascades normally
    val ok = wh.forget(schema, "docs", "doc_id", Seq(1L))
    assert(ok.rawRows == 1L)
  }

  test("sweepForgets quarantines a CORRUPTED suppression file (keys " +
      "that no longer cast) instead of wedging the sync; journal-borne " +
      "suppression keeps working") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_supq_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("docs"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("docs", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("docs", None, Seq(
      CDColumn("doc_id", "bigint"),
      CDColumn("text", "varchar", Some(50)))))
    val m1 = Seq(put("d1.tsv", "1\tone\n2\ttwo\n3\tthree\n"))
    val whDir = Files.createTempDirectory("wh_supq_root").toUri
      .toString.stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whsq", parallelism = 1, canonicalize = true))
    wh.sync(m1, schema)
    wh.forget(schema, "docs", "doc_id", Seq(2L))
    // corruption: a sup file whose keys cannot cast to doc_id's type
    val fdir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/_forget/docs"))
    java.nio.file.Files.writeString(fdir.resolve("sup_doc_id_g1"),
      "corrupted-key")
    // re-delivery carrying the journaled key (2) under a new name
    wh.sync(m1 :+ put("d2.tsv", "2\tagain\n9\tok\n"), schema)
    def names(): Set[String] = scala.jdk.CollectionConverters
      .IteratorHasAsScala(java.nio.file.Files.list(fdir).iterator())
      .asScala.map(_.getFileName.toString).toSet
    assert(names().contains("failed_sup_doc_id_g1"), names().toString)
    assert(!names().contains("sup_doc_id_g1"), names().toString)
    val st = graft.model.TypeLattice.toStructType(schema.head)
    assert(graft.sources.TsvSource.read(spark, st,
      s"$whDir/raw_files/docs/d2.tsv").select("doc_id").collect()
      .map(_.getLong(0)).toSeq == Seq(9L),
      "the journal-borne key must still purge the fresh file")
  }

  test("suppression files and done requests are judged JOURNAL-" +
      "INTRINSICALLY: a store def whose idCol is not a table column " +
      "quarantines the CRASHED request (whose cascade needs the " +
      "mapping) but never the suppression history (which feeds only " +
      "the fresh-file purge) — no RTBF resurrection after a config " +
      "mistake") {
    val src = Files.createTempDirectory("wh_scope_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("docs"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("docs", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("docs", None, Seq(
      CDColumn("doc_id", "bigint"),
      CDColumn("text", "varchar", Some(50)))))
    val m1 = Seq(put("d1.tsv", "1\tone\n2\ttwo\n3\tthree\n4\tfour\n"))
    val whDir = Files.createTempDirectory("wh_scope_root").toUri
      .toString.stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whscope", parallelism = 1, canonicalize = true,
      forgetCompactEvery = 1))
    wh.sync(m1, schema)
    wh.forget(schema, "docs", "doc_id", Seq(2L))
    wh.sync(m1, schema) // folds the done request into sup_doc_id_g1
    val fdir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/_forget/docs"))
    def names(): Set[String] = scala.jdk.CollectionConverters
      .IteratorHasAsScala(java.nio.file.Files.list(fdir).iterator())
      .asScala.map(_.getFileName.toString).toSet
    assert(names().contains("sup_doc_id_g1e"), names().toString)
    // the misconfiguration: a maintained index keyed by a column docs
    // does not have — new forgets refuse pre-journal; the question is
    // what the sweep does to EXISTING history
    val bad = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whscope", parallelism = 1, canonicalize = true,
      forgetCompactEvery = 1,
      maintainedIndexes = Seq(Warehouse.IndexDef("mh", "docs",
        "ghost_col", "text"))))
    // a crashed request (journal present, no completion marker) keyed
    // by doc_id: its cascade would need the store mapping, which the
    // bad def cannot provide — quarantine it
    java.nio.file.Files.writeString(fdir.resolve("req_deadbeef00000001"),
      "doc_id\n3")
    // a re-delivery of the SUPPRESSED key under a new name, planted
    // directly in the raw layer (sweep-visible, maintenance untouched)
    val rawDir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/raw_files/docs"))
    java.nio.file.Files.writeString(rawDir.resolve("d2.tsv"),
      "2\tzombie\n9\tok\n")
    bad.sweepForgets(schema)
    assert(names().contains("sup_doc_id_g1e"),
      s"suppression history must survive a bad store def: ${names()}")
    assert(names().contains("failed_req_deadbeef00000001") &&
      !names().contains("req_deadbeef00000001"),
      s"the crashed cascade must quarantine: ${names()}")
    val st = graft.model.TypeLattice.toStructType(schema.head)
    assert(graft.sources.TsvSource.read(spark, st,
      s"$whDir/raw_files/docs/d2.tsv").select("doc_id").collect()
      .map(_.getLong(0)).toSeq == Seq(9L),
      "the suppressed key must still purge the fresh file")
  }

  /** The suppression-purge scenario, run through BOTH size-adaptive
    * paths: `literalPath = false` forces the distributed key-frame
    * join (bound 0 — every file counts as large), `literalPath = true`
    * uses the default bound, under which this history is provably
    * small and purges via driver-resident literal keys. Same end
    * state either way — the bound is a cost switch, not a semantics
    * switch. */
  private def supPurgeScenario(literalPath: Boolean): Unit = {
    val src = Files.createTempDirectory("wh_supbig_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("docs"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("docs", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("docs", None, Seq(
      CDColumn("doc_id", "bigint"),
      CDColumn("text", "varchar", Some(50)))))
    val n = 4000L
    val m1 = Seq(put("d1.tsv",
      (1L to n).map(i => s"$i\tdoc $i").mkString("", "\n", "\n")))
    val whDir = Files.createTempDirectory("wh_supbig_root").toUri
      .toString.stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = if (literalPath) "cd_whsuplit" else "cd_whsupbig",
      parallelism = 1, canonicalize = true,
      forgetCompactEvery = 1,
      sweepLiteralMaxBytes =
        if (literalPath) 4L * 1024 * 1024 else 0L))
    wh.sync(m1, schema)
    // one big forget (3× the isin threshold), folded into a sup file
    wh.forget(schema, "docs", "doc_id",
      (1L to n).filter(_ % 4 != 0).map(i => i: Any))
    wh.sync(m1, schema)
    val fdir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/_forget/docs"))
    assert(java.nio.file.Files.exists(fdir.resolve("sup_doc_id_g1e")))
    // re-delivery mixing suppressed and fresh keys under a new name
    val m2 = m1 :+ put("d2.tsv",
      (1L to 40L).map(i => s"$i\tagain $i").mkString("", "\n", "\n"))
    wh.sync(m2, schema)
    val st = graft.model.TypeLattice.toStructType(schema.head)
    assert(graft.sources.TsvSource.read(spark, st,
      s"$whDir/raw_files/docs/d2.tsv").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq ==
      (1L to 40L).filter(_ % 4 == 0).toSeq,
      "exactly the non-suppressed quarter survives the fresh file")
    // and the canonical layer agrees end-to-end: the purged original
    // (n/4 survivors) plus the purged re-delivery (10 survivors)
    assert(wh.canonicalTable("docs").count() ==
      (1L to n).count(_ % 4 == 0) + (1L to 40L).count(_ % 4 == 0))
  }

  test("fresh-file suppression purge is DISTRIBUTED end-to-end: a " +
      "suppression file past the size-adaptive bound purges a " +
      "re-delivery through the key-frame join path, exactly") {
    supPurgeScenario(literalPath = false)
  }

  test("fresh-file suppression purge, LITERAL path: the same history " +
      "under the default byte bound purges via driver-resident keys " +
      "— identical end state, minimal job count") {
    supPurgeScenario(literalPath = true)
  }

  test("cross-column mapping stages delete at completion and the " +
      "sweep GCs orphaned map_ files — forgotten-content metadata " +
      "does not outlive its purpose") {
    val src = Files.createTempDirectory("wh_mapgc_src")
    val d = src.resolve("docs"); Files.createDirectories(d)
    val f = d.resolve("d1.tsv")
    Files.writeString(f,
      (1L to 6L).map(i => s"$i\tu${i % 2}\tword$i alpha beta gamma")
        .mkString("", "\n", "\n"))
    val schema = Seq(CDTable("docs", None, Seq(
      CDColumn("doc_id", "bigint"),
      CDColumn("user", "varchar", Some(8)),
      CDColumn("text", "varchar", Some(80)))))
    val m = Seq(ManifestEntry("docs", "d1.tsv", f.toUri.toString))
    val whDir = Files.createTempDirectory("wh_mapgc_root").toUri
      .toString.stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whmapgc", parallelism = 1, canonicalize = true,
      forgetCompactEvery = 0, // compaction disabled — the ADVICE leak
      maintainedIndexes = Seq(Warehouse.IndexDef("mh", "docs",
        "doc_id", "text"))))
    wh.sync(m, schema)
    val fdir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/_forget/docs"))
    def names(): Set[String] = scala.jdk.CollectionConverters
      .IteratorHasAsScala(java.nio.file.Files.list(fdir).iterator())
      .asScala.map(_.getFileName.toString).toSet
    // a cross-column forget stages map_<req>_doc_id pre-destruction,
    // then deletes it when the completion marker lands
    wh.forget(schema, "docs", "user", Seq("u1"))
    assert(names().exists(_.startsWith("done_")), names().toString)
    assert(!names().exists(_.startsWith("map_")),
      s"mapping stages must clear at completion: ${names()}")
    // an orphaned stage (no req_ for its id): the next sweep GCs it
    java.nio.file.Files.writeString(
      fdir.resolve("map_cafebabe00000001_doc_id"), "1\n3")
    wh.sync(m, schema)
    assert(!names().exists(_.startsWith("map_")),
      s"orphaned mapping stages must GC: ${names()}")
  }

  test("drift-triggered retrain, IVF affinity path: a calm append " +
      "keeps the frozen index; an ANGULAR-drift batch (new direction " +
      "the centroids never saw) rebuilds it over the full listing") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_drift_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("vecs"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("vecs", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("vecs", None, Seq(
      CDColumn("vec_id", "bigint"),
      CDColumn("emb", "varchar", Some(100)))))
    def v(id: Long, x: Double, y: Double, z: Double) =
      s"$id\t$x,$y,$z,0.0"
    // two clusters on e1/e2 — the training distribution
    val f0 = put("v0.tsv", (1L to 8L).map(i =>
      if (i % 2 == 0) v(i, 1.0, 0.05 * i, 0.0)
      else v(i, 0.05 * i, 1.0, 0.0)).mkString("", "\n", "\n"))
    // calm: more of the same directions
    val f1 = put("v1.tsv", (9L to 12L).map(i =>
      if (i % 2 == 0) v(i, 1.0, 0.03 * i, 0.0)
      else v(i, 0.03 * i, 1.0, 0.0)).mkString("", "\n", "\n"))
    // drift: a brand-new direction (e3) the centroids never saw
    val f2 = put("v2.tsv", (13L to 16L).map(i =>
      v(i, 0.0, 0.0, 1.0)).mkString("", "\n", "\n"))
    val whDir = Files.createTempDirectory("wh_drift_root").toUri
      .toString.stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whdrift", parallelism = 1,
      maintainedVectorIndexes = Seq(Warehouse.VectorIndexDef("vx",
        "vecs", "vec_id", "emb", nlist = 2, replicas = 1,
        retrainDriftThreshold = 0.3))))
    val store = s"$whDir/_maintained/vindex_vx"
    def nonRebuild(): Long = pipeline.AppendCommit.appliedEntries(store)
      .count(!_._1.startsWith(pipeline.FreshFold.Tag)).toLong
    wh.sync(Seq(f0), schema)
    val base = operators.Similarity.driftBase(spark, store)
    assert(base.exists(_ > 0.9), s"two tight clusters: $base")
    wh.sync(Seq(f0, f1), schema)
    assert(nonRebuild() == 1L,
      "the calm batch must APPEND (no retrain): one batch ledger entry")
    wh.sync(Seq(f0, f1, f2), schema)
    assert(nonRebuild() == 0L,
      "the drifted batch must trigger a full rebuild: only the " +
        "rawbatch covered marker survives")
    // the rebuilt index routes the new direction: nprobe=1 finds the
    // e3 vectors for an e3 query (pre-retrain centroids could not)
    import spark.implicits._
    val q = Seq((99L, Seq(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("q_id", "q_emb")
    val got = wh.annIn("vx", q, k = 3, nprobe = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(13L, 14L, 15L) || got == Set(14L, 15L, 16L) ||
      got.subsetOf(Set(13L, 14L, 15L, 16L)),
      s"e3 neighbors expected, got $got")
  }

  test("forgetIdentity: all-or-nothing admission (one bad mapping " +
      "changes NOTHING anywhere), then per-table journals + cascades; " +
      "a crash after journaling completes at the next sync") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_fid_src")
    def put(table: String, name: String,
        content: String): ManifestEntry = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry(table, name, f.toUri.toString)
    }
    val schema = Seq(
      CDTable("posts", None, Seq(
        CDColumn("doc_id", "bigint"),
        CDColumn("text", "varchar", Some(50)))),
      CDTable("ratings", None, Seq(
        CDColumn("ref_id", "bigint"),
        CDColumn("score", "bigint"))))
    val m = Seq(
      put("posts", "p1.tsv", (1L to 6L).map(i => s"$i\tpost $i")
        .mkString("", "\n", "\n")),
      put("ratings", "r1.tsv", (1L to 6L).map(i => s"$i\t${i % 5}")
        .mkString("", "\n", "\n")))
    val whDir = Files.createTempDirectory("wh_fid_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whfid", parallelism = 1, canonicalize = true,
      identityMap = Map(
        "author" -> Seq(("posts", "doc_id"), ("ratings", "ref_id")))))
    wh.sync(m, schema)
    // admission: the SECOND mapping names a bad column — nothing may
    // journal or purge for the first either
    val ex = intercept[IllegalArgumentException] {
      wh.forgetIdentity(schema,
        Seq(("posts", "doc_id"), ("ratings", "nope")), Seq(2L))
    }
    assert(ex.getMessage.contains("nope"), ex.getMessage)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/_forget/posts"))),
      "a refused identity request must not journal anywhere")
    assert(wh.canonicalTable("posts").count() == 6L)
    // an unregistered identity refuses loudly, naming the known ones
    val exId = intercept[IllegalArgumentException] {
      wh.forgetIdentity(schema, "reviewer", Seq(2L))
    }
    assert(exId.getMessage.contains("reviewer") &&
      exId.getMessage.contains("author"), exId.getMessage)
    // the valid request, through the CONFIG REGISTRY: the call site
    // names the identity kind and the keys, nothing else — the
    // registered map fans out over both tables
    val receipts = wh.forgetIdentity(schema, "author", Seq(2L, 5L))
    assert(receipts(("posts", "doc_id")).rawRows == 2L)
    assert(receipts(("ratings", "ref_id")).rawRows == 2L)
    assert(wh.canonicalTable("posts").count() == 4L)
    assert(wh.canonicalTable("ratings").count() == 4L)
    // crash-after-journal durability across the fan-out: plant both
    // per-table journals exactly as forgetIdentity writes them (the
    // state after a crash in the cascade step), then sync
    Seq("posts" -> "doc_id", "ratings" -> "ref_id").foreach {
      case (tn, c) =>
        val fdir = java.nio.file.Paths.get(
          new java.net.URI(s"$whDir/_forget/$tn"))
        java.nio.file.Files.writeString(
          fdir.resolve("req_feedf00d00000001"), s"$c\n3")
    }
    wh.sync(m, schema)
    Seq("posts", "ratings").foreach { tn =>
      val fdir = java.nio.file.Paths.get(
        new java.net.URI(s"$whDir/_forget/$tn"))
      assert(java.nio.file.Files.exists(
        fdir.resolve("done_feedf00d00000001")),
        s"$tn's crashed identity cascade must complete at the sweep")
    }
    assert(wh.canonicalTable("posts")
      .filter(col("doc_id") === 3L).count() == 0L)
    assert(wh.canonicalTable("ratings")
      .filter(col("ref_id") === 3L).count() == 0L)
  }

  test("raw-layer retirement: wholly-old files reclaim, mixed files " +
      "survive, the suppression ledger defeats re-fetch, retirement " +
      "alone triggers no canonical rewrite, and a crash between " +
      "ledger and delete converges via the stale delete") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("wh_rr_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("ev"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("ev", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("ev", None, Seq(
      CDColumn("event_id", "bigint"),
      CDColumn("d", "date"))))
    val oldContent = "1\t2024-01-01\n2\t2024-01-02\n3\t2024-01-03\n"
    val fOld = put("old.tsv", oldContent)
    val fMix = put("mix.tsv", "4\t2024-01-02\n5\t2024-01-20\n")
    val whDir = Files.createTempDirectory("wh_rr_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whrr", parallelism = 1, canonicalize = true,
      canonicalSpecs = Map("ev" -> Warehouse.CanonicalSpec(Seq("d"))),
      manifestTables = Seq("ev")))
    wh.sync(Seq(fOld, fMix), schema)
    wh.retireOlderThan("ev", "d", "2024-01-10")
    def canonFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(java.nio.file.Paths.get(
        new java.net.URI(s"$whDir/canonical/ev")).toFile)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val canonBefore = canonFiles()
    val rr = wh.retireRawOlderThan(schema, "ev", "d")
    assert(rr.filesRetired == 1L && rr.bytesReclaimed ==
      oldContent.length.toLong, rr.toString)
    val rawDir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/raw_files/ev"))
    assert(!java.nio.file.Files.exists(rawDir.resolve("old.tsv")))
    assert(java.nio.file.Files.exists(rawDir.resolve("mix.tsv")),
      "a file with any current row must survive")
    // full upstream manifest still lists the retired name: no re-fetch
    val s2 = wh.sync(Seq(fOld, fMix), schema)
    assert(s2.fetched == 0L && s2.skipped == 2L, s2.toString)
    assert(!java.nio.file.Files.exists(rawDir.resolve("old.tsv")),
      "the suppression ledger must defeat the A4 anti-join")
    // retirement + the no-op sync rewrote NO canonical data file (the
    // fingerprint rebase — a full rewrite to delete already-dropped
    // partitions is the cost class retention exists to avoid)
    assert(canonFiles() == canonBefore,
      "raw retirement must not trigger a canonical rewrite")
    assert(wh.canonicalTable("ev").collect()
      .map(_.getLong(0)).toSet == Set(5L))
    // crash between ledger and delete: the file is back on disk while
    // the ledger already names it — the next sync's stale delete (A9)
    // completes the reclaim instead of resurrecting it
    java.nio.file.Files.writeString(rawDir.resolve("old.tsv"),
      oldContent)
    val s3 = wh.sync(Seq(fOld, fMix), schema)
    assert(s3.removed == 1L && s3.fetched == 0L, s3.toString)
    assert(!java.nio.file.Files.exists(rawDir.resolve("old.tsv")),
      "a crashed retirement must converge, not resurrect")
  }

  test("retireRawWithRetention: setting a retention policy reclaims " +
      "raw bytes on the NEXT sync, no second manual call") {
    val src = Files.createTempDirectory("wh_arr_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("ev"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("ev", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("ev", None, Seq(
      CDColumn("event_id", "bigint"),
      CDColumn("d", "date"))))
    val fOld = put("old.tsv", "1\t2024-01-01\n2\t2024-01-02\n")
    val fCur = put("cur.tsv", "3\t2024-01-20\n")
    val whDir = Files.createTempDirectory("wh_arr_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_wharr", parallelism = 1, canonicalize = true,
      canonicalSpecs = Map("ev" -> Warehouse.CanonicalSpec(Seq("d"))),
      manifestTables = Seq("ev"),
      retireRawWithRetention = true))
    wh.sync(Seq(fOld, fCur), schema)
    wh.retireOlderThan("ev", "d", "2024-01-10")
    val rawDir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/raw_files/ev"))
    assert(java.nio.file.Files.exists(rawDir.resolve("old.tsv")),
      "retireOlderThan alone is metadata-only")
    // the next routine sync reclaims the raw bytes through the same
    // watermark (its file carries the date column) and the ledger
    // keeps the still-listed name from re-fetching
    val s2 = wh.sync(Seq(fOld, fCur), schema)
    assert(!java.nio.file.Files.exists(rawDir.resolve("old.tsv")),
      "the sync must auto-retire wholly-old raw files")
    assert(java.nio.file.Files.exists(rawDir.resolve("cur.tsv")))
    assert(s2.fetched == 0L, s2.toString)
    val s3 = wh.sync(Seq(fOld, fCur), schema)
    assert(s3.fetched == 0L && !java.nio.file.Files.exists(
      rawDir.resolve("old.tsv")), "no resurrection, no re-retire loop")
    assert(wh.canonicalTable("ev").collect()
      .map(_.getLong(0)).toSet == Set(3L))
  }

  test("sync-wired canonical auto-compaction: append syncs accrete " +
      "small files until the policy bound, the hot leaf collapses, " +
      "in-shape leaves keep file identity, markers and the append " +
      "ledger survive, and later appends still append") {
    val src = Files.createTempDirectory("wh_cmp_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("ev"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("ev", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("ev", None, Seq(
      CDColumn("event_id", "bigint"),
      CDColumn("d", "date"))))
    val whDir = Files.createTempDirectory("wh_cmp_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whcmp", parallelism = 1, canonicalize = true,
      canonicalSpecs = Map("ev" -> Warehouse.CanonicalSpec(Seq("d"),
        compactAtFiles = 2))))
    val canonRoot = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/canonical/ev"))
    def leafFiles(leaf: String): Map[String, Long] = {
      val d = canonRoot.resolve(leaf).toFile
      if (!d.exists()) Map.empty
      else d.listFiles().filter(f => f.isFile &&
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    // sync 1: one row in each of two partitions (full canonicalize)
    val f1 = put("f1.tsv", "1\t2024-01-01\n2\t2024-02-01\n")
    wh.sync(Seq(f1), schema)
    // sync 2: append into the same leaf — 2 files there, AT the bound
    val f2 = put("f2.tsv", "3\t2024-01-01\n")
    wh.sync(Seq(f1, f2), schema)
    assert(leafFiles("d=2024-01-01").size == 2)
    val febBefore = leafFiles("d=2024-02-01")
    assert(febBefore.size == 1)
    // sync 3: a third january-range file crosses the bound — the hot
    // leaf auto-compacts; february is in shape and keeps its file
    // identity byte-for-byte (mtime-pinned)
    val f3 = put("f3.tsv", "4\t2024-01-01\n")
    wh.sync(Seq(f1, f2, f3), schema)
    assert(leafFiles("d=2024-01-01").size == 1,
      s"the over-bound leaf must compact: ${leafFiles("d=2024-01-01")}")
    assert(leafFiles("d=2024-02-01") == febBefore,
      "an in-shape leaf must keep file identity (mtime)")
    assert(wh.canonicalTable("ev").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    // the compaction preserved the fingerprint: an unchanged re-sync
    // is a metadata no-op (no rewrite undoing the compaction)
    val janAfter = leafFiles("d=2024-01-01")
    wh.sync(Seq(f1, f2, f3), schema)
    assert(leafFiles("d=2024-01-01") == janAfter,
      "an unchanged sync must not rewrite a compacted leaf")
    // the append ledger survived: the NEXT delta still takes the
    // append fast path (tagged file) instead of a full rewrite
    val f4 = put("f4.tsv", "5\t2024-01-01\n")
    wh.sync(Seq(f1, f2, f3, f4), schema)
    val janNames = leafFiles("d=2024-01-01").keys
    assert(janNames.exists(_.startsWith("a_canon-")),
      s"post-compaction deltas must still append: $janNames")
    assert(wh.canonicalTable("ev").count() == 5L)
  }

  test("auto-compaction composes with maintained skip stats: the same " +
      "sync compacts then rebuilds stats over the compacted file set, " +
      "and pruned reads stay exact") {
    val src = Files.createTempDirectory("wh_cmps_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("fact"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("fact", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("fact", None, Seq(
      CDColumn("k", "bigint"), CDColumn("v", "bigint"))))
    val whDir = Files.createTempDirectory("wh_cmps_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whcmps", parallelism = 1, canonicalize = true,
      canonicalSpecs = Map("fact" -> Warehouse.CanonicalSpec(
        compactAtFiles = 2)),
      maintainedSkipStats = Map("fact" -> Seq("k"))))
    var ms = Seq(put("f1.tsv",
      (1L to 30L).map(k => s"$k\t${k * 2}").mkString("", "\n", "\n")))
    wh.sync(ms, schema)
    // two appends cross the bound on the third sync
    ms = ms :+ put("f2.tsv",
      (31L to 60L).map(k => s"$k\t${k * 2}").mkString("", "\n", "\n"))
    wh.sync(ms, schema)
    ms = ms :+ put("f3.tsv",
      (61L to 90L).map(k => s"$k\t${k * 2}").mkString("", "\n", "\n"))
    wh.sync(ms, schema)
    val canon = new java.io.File(new java.net.URI(
      s"$whDir/canonical/fact"))
    val dataFiles = canon.listFiles().filter(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(dataFiles.length == 1,
      s"3 accreted files must compact to 1: ${dataFiles.map(_.getName).toSeq}")
    // the skip stats were rebuilt AFTER compaction in that same sync:
    // a pruned range read over the compacted file set stays exact
    assert(new java.io.File(canon, "_skip_stats").exists())
    assert(wh.readRange("fact", "k", 40L, 70L)
      .collect().map(_.getLong(0)).toSet == (40L to 70L).toSet,
      "stats-pruned reads must follow the compacted file set")
  }

  test("sync-wired auto-compaction on a MANIFEST-MANAGED table is " +
      "reader-atomic and keeps reads exact") {
    val src = Files.createTempDirectory("wh_cmpm_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("ev"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("ev", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("ev", None, Seq(
      CDColumn("event_id", "bigint"),
      CDColumn("d", "date"))))
    val whDir = Files.createTempDirectory("wh_cmpm_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whcmpm", parallelism = 1, canonicalize = true,
      manifestTables = Seq("ev"),
      canonicalSpecs = Map("ev" -> Warehouse.CanonicalSpec(Seq("d"),
        compactAtFiles = 2))))
    var ms = Seq(put("f1.tsv", "1\t2024-01-01\n"))
    wh.sync(ms, schema)
    (2 to 4).foreach { i =>
      ms = ms :+ put(s"f$i.tsv", s"$i\t2024-01-01\n")
      wh.sync(ms, schema)
    }
    // the manifest resolves to the compacted file set; content exact
    assert(wh.canonicalTable("ev").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    val leaf = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/canonical/ev/d=2024-01-01")).toFile
    val live = graft.pipeline.Manifest.resolve(
      s"$whDir/canonical/ev").get
    assert(live.count(_.contains("d=2024-01-01")) <= 2,
      s"the managed leaf must have compacted: ${live.mkString(",")}")
    assert(leaf.exists())
  }

  test("raw retirement composes with the O(delta) append path: the " +
      "rebased listing keeps the NEXT pure addition on the append " +
      "fast path, not a full rewrite") {
    val src = Files.createTempDirectory("wh_rra_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("ev"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("ev", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("ev", None, Seq(
      CDColumn("event_id", "bigint"),
      CDColumn("d", "date"))))
    val fOld = put("old.tsv", "1\t2024-01-01\n")
    val fCur = put("cur.tsv", "5\t2024-01-20\n")
    val whDir = Files.createTempDirectory("wh_rra_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whrra", parallelism = 1, canonicalize = true,
      canonicalSpecs = Map("ev" -> Warehouse.CanonicalSpec(Seq("d"))),
      manifestTables = Seq("ev"), retireRawWithRetention = true))
    wh.sync(Seq(fOld, fCur), schema)
    wh.retireOlderThan("ev", "d", "2024-01-10")
    wh.sync(Seq(fOld, fCur), schema) // auto-retires old.tsv, rebases
    val rawDir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/raw_files/ev"))
    assert(!java.nio.file.Files.exists(rawDir.resolve("old.tsv")))
    val canon = new java.io.File(new java.net.URI(
      s"$whDir/canonical/ev"))
    def dataFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(canon).filter(f => !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = dataFiles()
    // a pure addition AFTER retirement: the rebased listing must diff
    // as a superset → append path (tagged file, originals untouched)
    val fNew = put("new.tsv", "6\t2024-01-21\n")
    wh.sync(Seq(fOld, fCur, fNew), schema)
    val after = dataFiles()
    assert(before.forall { case (n, m) => after.get(n).contains(m) },
      s"retirement must not force the next delta onto the rewrite " +
        s"path: $before vs $after")
    assert(after.keys.exists(p =>
      new java.io.File(p).getName.startsWith("a_canon-")),
      s"the post-retirement delta must land as an append: ${after.keys}")
    // retention keeps filtering the canonical read; the new row shows
    assert(wh.canonicalTable("ev").collect()
      .map(_.getLong(0)).toSet == Set(5L, 6L))
  }

  test("raw-retirement discovery is O(new files): a no-new-files call " +
      "issues ZERO Spark jobs, a new file scans ONLY itself, and an " +
      "in-place forget rewrite re-keys and rescans") {
    val src = Files.createTempDirectory("wh_rrl_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("ev"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("ev", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("ev", None, Seq(
      CDColumn("event_id", "bigint"),
      CDColumn("d", "date"))))
    val fOld = put("old.tsv", "1\t2024-01-01\n2\t2024-01-02\n")
    val fMix = put("mix.tsv", "4\t2024-01-02\n5\t2024-01-20\n")
    val whDir = Files.createTempDirectory("wh_rrl_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whrrl", parallelism = 1, canonicalize = true,
      canonicalSpecs = Map("ev" -> Warehouse.CanonicalSpec(Seq("d"))),
      manifestTables = Seq("ev")))
    wh.sync(Seq(fOld, fMix), schema)
    wh.retireOlderThan("ev", "d", "2024-01-10")
    // first call: both files are unknown — discovery scans them once
    // and persists their write-once stats
    assert(wh.retireRawOlderThan(schema, "ev", "d").filesRetired == 1L)
    // count jobs + data records read during a window
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          records.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    def measured[A](f: => A): (A, Int, Long) = {
      jobs.set(0); records.set(0L)
      spark.sparkContext.addSparkListener(listener)
      val r = try { val x = f; Thread.sleep(1200); x }
        finally spark.sparkContext.removeSparkListener(listener)
      (r, jobs.get(), records.get())
    }
    // no new files: the ledger answers everything — ZERO jobs, zero
    // raw-data reads (the recurring daily shape at 100 TB)
    val (rr2, j2, _) = measured(wh.retireRawOlderThan(schema, "ev", "d"))
    assert(rr2.filesRetired == 0L)
    assert(j2 == 0,
      s"a no-new-files retirement must launch no Spark job, saw $j2")
    // one new 3-row file: discovery reads exactly those 3 lines —
    // mix.tsv (2 known rows) is never re-read
    val fNew = put("new.tsv",
      "6\t2024-01-03\n7\t2024-01-04\n8\t2024-01-05\n")
    wh.sync(Seq(fOld, fMix, fNew), schema)
    val (rr3, _, rec3) = measured(
      wh.retireRawOlderThan(schema, "ev", "d"))
    assert(rr3.filesRetired == 1L, rr3.toString)
    assert(rec3 == 3L,
      s"discovery must scan ONLY the new file's 3 rows, read $rec3")
    // an in-place RTBF rewrite (the one sanctioned raw mutation)
    // changes (len, mtime): the stale ledger entry is unreachable by
    // key and the file rescans — dropping its current row makes it
    // wholly-old and it retires instead of being pinned forever
    val rawDir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/raw_files/ev"))
    java.nio.file.Files.writeString(rawDir.resolve("mix.tsv"),
      "4\t2024-01-02\n")
    // java.nio bypasses Hadoop's LocalFS checksum sidecar — drop it or
    // the rescan read fails its CRC
    java.nio.file.Files.deleteIfExists(rawDir.resolve(".mix.tsv.crc"))
    val (rr4, _, rec4) = measured(
      wh.retireRawOlderThan(schema, "ev", "d"))
    assert(rr4.filesRetired == 1L,
      s"the rewritten wholly-old file must retire: $rr4")
    assert(rec4 == 1L,
      s"the rescan must read only the rewritten file's 1 row, read $rec4")
    assert(!java.nio.file.Files.exists(rawDir.resolve("mix.tsv")))
  }

  test("retirement stats ledger: re-pointing the watermark column is " +
      "refused (stale-max reuse unreachable; ledger column-keyed as " +
      "defense-in-depth), exotic filenames retire instead of pinning, " +
      "malformed ledger lines degrade to rescan") {
    val src = Files.createTempDirectory("wh_rrc_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("ev"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("ev", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("ev", None, Seq(
      CDColumn("event_id", "bigint"),
      CDColumn("d1", "date"), CDColumn("d2", "date"))))
    // file A: d1 all OLD-ish (max 2024-02-01), d2 all NEW — retirable
    // under a d1 watermark cut before Feb, NOT under a d2 watermark
    val fA = put("a.tsv", "1\t2024-02-01\t2024-12-01\n")
    val whDir = Files.createTempDirectory("wh_rrc_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whrrc", parallelism = 1, canonicalize = true,
      canonicalSpecs = Map("ev" ->
        Warehouse.CanonicalSpec(Seq("d1", "d2"))),
      manifestTables = Seq("ev")))
    wh.sync(Seq(fA), schema)
    // watermark on d1, cut BEFORE a's d1 max: survives, and the d1
    // ledger caches max(d1) = 2024-02-01
    wh.retireOlderThan("ev", "d1", "2024-01-15")
    assert(wh.retireRawOlderThan(schema, "ev", "d1").filesRetired == 0L)
    val rawDir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/raw_files/ev"))
    assert(java.nio.file.Files.exists(rawDir.resolve("a.tsv")))
    // RE-POINTING the watermark to another column is REFUSED loudly
    // (one retention column per table) — the stale-max data-loss
    // scenario (cached max(d1)=2024-02-01 < a d2 cutoff deleting a
    // file whose d2 rows are all current) is unreachable through the
    // public API, and the ledger is additionally keyed by (table,
    // column) as defense-in-depth should multi-column retention ever
    // arrive
    val ex = intercept[IllegalArgumentException] {
      wh.retireOlderThan("ev", "d2", "2024-03-01")
    }
    assert(ex.getMessage.contains("d1"), ex.getMessage)
    assert(java.nio.file.Files.exists(rawDir.resolve("a.tsv")))
    // exotic filename: '|' and space are URI-percent-encoded by
    // input_file_name — the decoded match must find the scan result,
    // so the wholly-old file RETIRES instead of pinning forever
    java.nio.file.Files.writeString(
      rawDir.resolve("we ird|f.tsv"),
      "2\t2023-01-01\t2023-01-01\n")
    val rr = wh.retireRawOlderThan(schema, "ev", "d1")
    assert(rr.filesRetired == 1L,
      s"the exotic-named wholly-old file must retire: $rr")
    assert(!java.nio.file.Files.exists(rawDir.resolve("we ird|f.tsv")))
    // a malformed ledger line (corruption / future format) must not
    // brick retirement — the parser skips it and the file rescans
    graft.pipeline.AppendCommit.markApplied(
      s"$whDir/_retention/rawstats_ev__d1", "st_garbage",
      "not-a-valid-entry\nneither\tis\tthis")
    assert(wh.retireRawOlderThan(schema, "ev", "d1").filesRetired == 0L)
  }

  test("hostile raw filenames: glob metacharacters survive sync → " +
      "forget → retirement; a newline name round-trips the " +
      "suppression ledger without suppressing an innocent neighbor") {
    val src = Files.createTempDirectory("wh_hn_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("ev"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("ev", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("ev", None, Seq(
      CDColumn("event_id", "bigint"),
      CDColumn("d", "date"))))
    // glob chars in the name: `ev[1].tsv` is ALSO a glob matching the
    // innocent sibling `ev1.tsv` — an unescaped read path would
    // silently process the wrong file
    val fGlob = put("ev[1].tsv", "1\t2024-06-01\n2\t2024-06-02\n")
    val fSib = put("ev1.tsv", "9\t2024-06-03\n")
    val whDir = Files.createTempDirectory("wh_hn_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whhn", parallelism = 1, canonicalize = true,
      canonicalSpecs = Map("ev" -> Warehouse.CanonicalSpec(Seq("d"))),
      manifestTables = Seq("ev")))
    wh.sync(Seq(fGlob, fSib), schema)
    assert(wh.canonicalTable("ev").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 9L))
    // forget a key that lives ONLY in the bracket-named file: the raw
    // sweep must find the hit (URI-decoded match), rewrite THAT file
    // (glob-escaped read), and leave the sibling untouched
    val fs = wh.forget(schema, "ev", "event_id", Seq(2L))
    assert(fs.rawRows == 1L, s"raw sweep must hit the glob-named file: $fs")
    assert(wh.canonicalTable("ev").collect().map(_.getLong(0)).toSet ==
      Set(1L, 9L))
    val rawDir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/raw_files/ev"))
    assert(java.nio.file.Files.readString(rawDir.resolve("ev1.tsv")) ==
      "9\t2024-06-03\n", "the innocent glob-matching sibling must " +
      "never be rewritten")
    assert(!java.nio.file.Files.readString(rawDir.resolve("ev[1].tsv"))
      .contains("2\t2024-06-02"), "the forgotten row must leave the " +
      "bracket-named raw file")
    // newline in a retired name: written RAW into the newline-delimited
    // suppression ledger, "evil\nold.tsv" splits into two entries — one
    // suppressing the innocent live "old.tsv" forever (silent missing
    // data), one never matching the real file. The encoded ledger must
    // retire the newline file AND still fetch the innocent one.
    val fEvil = put("evil\nold.tsv", "3\t2020-01-01\n")
    wh.sync(Seq(fGlob, fSib, fEvil), schema)
    wh.retireOlderThan("ev", "d", "2024-01-01")
    val rr = wh.retireRawOlderThan(schema, "ev", "d")
    assert(rr.filesRetired == 1L, s"the newline-named wholly-old file " +
      s"must retire: $rr")
    assert(!java.nio.file.Files.exists(rawDir.resolve("evil\nold.tsv")))
    val fInnocent = put("old.tsv", "4\t2024-07-01\n")
    val s2 = wh.sync(Seq(fGlob, fSib, fEvil, fInnocent), schema)
    assert(s2.fetched == 1L, s"the innocent old.tsv must FETCH — a raw " +
      s"ledger write would suppress it as a phantom retiree: $s2")
    assert(s2.skipped == 3L, s"the retired newline name must stay " +
      s"suppressed (no re-fetch): $s2")
    assert(java.nio.file.Files.exists(rawDir.resolve("old.tsv")))
    assert(wh.canonicalTable("ev").collect().map(_.getLong(0)).toSet ==
      Set(1L, 4L, 9L))
  }

  test("newline-hostile ledger payloads: a forget key with an embedded " +
      "newline never replays as its innocent fragments, a newline-named " +
      "file cannot shadow a future file in the swept ledger, and its " +
      "listing entry does not re-append rows on later syncs") {
    val src = Files.createTempDirectory("wh_nl_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("ev"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("ev", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("ev", None, Seq(
      CDColumn("k", "text"), CDColumn("d", "date"))))
    val fBase = put("base.tsv",
      "a\t2024-06-01\nb\t2024-06-02\nc\t2024-06-03\n")
    val fEvil = put("evil\nold.tsv", "z\t2024-06-04\n")
    val whDir = Files.createTempDirectory("wh_nl_root").toUri.toString
      .stripSuffix("/")
    // forgetCompactEvery = 1: the suppression-file path (encode on
    // compaction, decode on purge) is exercised too, not just the
    // journal round-trip
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whnl", parallelism = 1, canonicalize = true,
      canonicalSpecs = Map("ev" -> Warehouse.CanonicalSpec(Seq("d"))),
      manifestTables = Seq("ev"), forgetCompactEvery = 1))
    def canonKeys(): Seq[String] = wh.canonicalTable("ev").collect()
      .map(_.getString(0)).toSeq.sorted
    wh.sync(Seq(fBase, fEvil), schema)
    assert(canonKeys() == Seq("a", "b", "c", "z"))
    // a key carrying a newline identifies NO row (TSV rows cannot) —
    // journaled raw it would replay as forgets of the INNOCENT keys
    // "a" and "b"
    val f1 = wh.forget(schema, "ev", "k", Seq("a\nb"))
    assert(f1.rawRows == 0L && canonKeys() == Seq("a", "b", "c", "z"),
      s"a newline key must delete nothing: $f1")
    wh.forget(schema, "ev", "k", Seq("c"))
    assert(canonKeys() == Seq("a", "b", "z"))
    // re-delivery under the newline name's FRAGMENT: "old.tsv" must be
    // treated as fresh (a raw swept ledger would list the fragment and
    // skip its purge — resurrecting the forgotten key), purged of "c",
    // and its innocent "a" row must survive the journal replay
    put("old.tsv", "c\t2024-06-10\na\t2024-06-11\nd\t2024-06-12\n")
    wh.sync(Seq(fBase, fEvil,
      ManifestEntry("ev", "old.tsv",
        src.resolve("ev").resolve("old.tsv").toUri.toString)), schema)
    assert(canonKeys() == Seq("a", "a", "b", "d", "z"),
      "forgotten c purged; innocent fragment keys a/b and file old.tsv " +
        "intact; no duplicate z from a fragmented listing entry")
    // the two requests compacted into a suppression file — a later
    // fresh file must purge "c" from IT (decoded), keep fragment "b",
    // and the still-present newline-named raw file must not re-append
    put("next.tsv", "b\t2024-06-20\nc\t2024-06-21\ne\t2024-06-22\n")
    wh.sync(Seq(fBase, fEvil,
      ManifestEntry("ev", "old.tsv",
        src.resolve("ev").resolve("old.tsv").toUri.toString),
      ManifestEntry("ev", "next.tsv",
        src.resolve("ev").resolve("next.tsv").toUri.toString)), schema)
    assert(canonKeys() == Seq("a", "a", "b", "b", "d", "e", "z"),
      "suppression purge must drop only the true forgotten key")
  }

  test("legacy raw suppression generations read VERBATIM: a legacy " +
      "key containing a literal codec triplet still purges its true " +
      "rows, and the first compaction folds it into an encoded 'e' " +
      "generation") {
    val src = Files.createTempDirectory("wh_ls_src")
    def put(name: String, content: String): ManifestEntry = {
      val d = src.resolve("ev"); Files.createDirectories(d)
      val f = d.resolve(name); Files.writeString(f, content)
      ManifestEntry("ev", name, f.toUri.toString)
    }
    val schema = Seq(CDTable("ev", None, Seq(
      CDColumn("k", "text"), CDColumn("d", "date"))))
    val fBase = put("base.tsv", "a\t2024-06-01\n")
    val whDir = Files.createTempDirectory("wh_ls_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whls", parallelism = 1, canonicalize = true,
      canonicalSpecs = Map("ev" -> Warehouse.CanonicalSpec(Seq("d"))),
      manifestTables = Seq("ev"), forgetCompactEvery = 1))
    wh.sync(Seq(fBase), schema)
    // a PRE-CODEC compaction left this generation: keys stored raw,
    // one legally containing the literal three characters '%0A'.
    // Decoded unconditionally it would become the key "x\ny" — the
    // real "x%0Ay" rows would never purge again (RTBF resurrection)
    val fdir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/_forget/ev"))
    java.nio.file.Files.createDirectories(fdir)
    java.nio.file.Files.writeString(fdir.resolve("sup_k_g1"),
      "gone\nx%0Ay\n")
    val fFresh = put("fresh.tsv",
      "x%0Ay\t2024-06-10\nkeep\t2024-06-11\ngone\t2024-06-12\n")
    wh.sync(Seq(fBase, fFresh), schema)
    val keys = wh.canonicalTable("ev").collect()
      .map(_.getString(0)).toSeq.sorted
    assert(keys == Seq("a", "keep"),
      s"the literal-%0A key and 'gone' must purge from the fresh " +
        s"file under the RAW (legacy) interpretation: $keys")
    // a new forget triggers compaction (forgetCompactEvery = 1): the
    // legacy generation folds into an encoded one and is superseded
    wh.forget(schema, "ev", "k", Seq("a"))
    wh.sync(Seq(fBase, fFresh), schema)
    val supNames = new java.io.File(fdir.toString).listFiles()
      .map(_.getName).filter(_.startsWith("sup_")).toSeq
    assert(supNames == Seq("sup_k_g2e"),
      s"compaction must supersede the legacy generation with an " +
        s"encoded one: $supNames")
    // the folded generation still carries the legacy key in its TRUE
    // form: a re-delivery of the literal-%0A row purges again
    val fAgain = put("again.tsv", "x%0Ay\t2024-07-01\nb\t2024-07-02\n")
    wh.sync(Seq(fBase, fFresh, fAgain), schema)
    val keys2 = wh.canonicalTable("ev").collect()
      .map(_.getString(0)).toSeq.sorted
    assert(keys2 == Seq("b", "keep"),
      s"the encoded generation must keep purging the literal-%0A " +
        s"key (and 'a' from the new request): $keys2")
  }

  test("vacuum: crash debris GCs in one pass — completed-swap asides " +
      "and uncommitted tmps drop, orphaned asides RESTORE, journal " +
      "staging clears, quarantined journals are counted never deleted") {
    val src = Files.createTempDirectory("wh_vac_src")
    val d = src.resolve("docs"); Files.createDirectories(d)
    val f = d.resolve("d1.tsv"); Files.writeString(f, "1\tone\n2\ttwo\n")
    val schema = Seq(CDTable("docs", None, Seq(
      CDColumn("doc_id", "bigint"),
      CDColumn("text", "varchar", Some(50)))))
    val m = Seq(ManifestEntry("docs", "d1.tsv", f.toUri.toString))
    val whDir = Files.createTempDirectory("wh_vac_root").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, Warehouse.Config(whDir,
      db = "cd_whvac", parallelism = 1, canonicalize = true))
    wh.sync(m, schema)
    wh.forget(schema, "docs", "doc_id", Seq(2L))
    val root = java.nio.file.Paths.get(new java.net.URI(whDir))
    def mk(rel: String, dir: Boolean): Unit = {
      val p = root.resolve(rel)
      if (dir) { java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.writeString(p.resolve("part-0"), "x") }
      else {
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, "x")
      }
    }
    // completed-swap leftover: live store + its aside
    mk("_maintained/.rollup_r.__old", dir = true)
    mk("_maintained/rollup_r/part-live", dir = false)
    // orphaned aside: NO live dir — the aside is the last complete copy
    mk("_maintained/.lost_store.__old", dir = true)
    // uncommitted swap tmp
    mk("_maintained/.rollup_r.__swap_tmp", dir = true)
    // raw-purge aside whose original is live
    mk("raw_files/docs/.forget_aside_d1.tsv", dir = false)
    // forget-journal staging + a quarantined journal
    mk("_forget/docs/.req_deadbeef.tmp", dir = false)
    mk("_forget/docs/.sup_doc_id_g9.tmpdir", dir = true)
    mk("_forget/docs/failed_req_bad", dir = false)
    // BOTH debris kinds for one store, live dir MISSING: the aside is
    // the only complete copy — it must RESTORE (recovered), the tmp
    // must drop, and the counters must say so regardless of listing
    // order (the tmp's SafeSwap.recover would otherwise consume the
    // aside first and the stale __old entry would miscount as a
    // completed-swap leftover)
    mk("_maintained/.both_store.__old", dir = true)
    mk("_maintained/.both_store.__swap_tmp", dir = true)
    // a crashed retention-watermark write: the orphaned staging tmp
    // drops (the prior watermark generation is still the live copy)
    mk("_retention/.docs.g2.tmp", dir = false)
    val sum = wh.vacuum()
    assert(sum.recovered == 2L, sum.toString)   // .lost_store + .both_store
    assert(sum.asidesRemoved == 2L, sum.toString)
    assert(sum.tmpDirsRemoved == 5L, sum.toString)
    assert(sum.quarantined == 1L, sum.toString)
    assert(java.nio.file.Files.exists(
      root.resolve("_maintained/both_store/part-0")),
      "with both __old and __swap_tmp and no live dir, the aside is " +
        "the last complete copy — restore it, count it recovered")
    assert(!java.nio.file.Files.exists(
      root.resolve("_maintained/.both_store.__old")))
    assert(!java.nio.file.Files.exists(
      root.resolve("_maintained/.both_store.__swap_tmp")))
    assert(!java.nio.file.Files.exists(
      root.resolve("_retention/.docs.g2.tmp")))
    assert(java.nio.file.Files.exists(
      root.resolve("_maintained/lost_store/part-0")),
      "an aside without a live dir is the last complete copy — restore")
    assert(!java.nio.file.Files.exists(
      root.resolve("_maintained/.rollup_r.__old")))
    assert(!java.nio.file.Files.exists(
      root.resolve("_maintained/.rollup_r.__swap_tmp")))
    assert(!java.nio.file.Files.exists(
      root.resolve("raw_files/docs/.forget_aside_d1.tsv")))
    assert(!java.nio.file.Files.exists(
      root.resolve("_forget/docs/.req_deadbeef.tmp")))
    assert(java.nio.file.Files.exists(
      root.resolve("_forget/docs/failed_req_bad")),
      "quarantined journals are the audit trail — never deleted")
    // idempotent; the warehouse still works end-to-end
    val again = wh.vacuum()
    assert(again.recovered == 0L && again.tmpDirsRemoved == 0L &&
      again.asidesRemoved == 0L && again.quarantined == 1L)
    assert(wh.canonicalTable("docs").count() == 1L)
  }
}
