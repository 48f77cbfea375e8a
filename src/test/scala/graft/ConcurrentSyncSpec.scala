package graft

import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.model.{CDColumn, CDTable}
import graft.pipeline.{AppendCommit, Par, Sync}
import graft.pipeline.Sync.ManifestEntry

/** A sync's per-table pipelines (and a table's stores) run concurrently,
  * bounded by `Config.parallelism`: the warehouse they leave is the one
  * the sequential order leaves, a failing table does not stop the
  * others, and every job carries the caller's job group. */
class ConcurrentSyncSpec extends WarehouseSessionSpec {

  private val schema = Seq(
    CDTable("events", None, Seq(CDColumn("event_id", "bigint"),
      CDColumn("ts", "datetime"), CDColumn("user_id", "bigint"))),
    CDTable("orders", None, Seq(CDColumn("o_orderkey", "bigint"),
      CDColumn("o_totalprice", "double precision"))),
    CDTable("lineitem", None, Seq(CDColumn("o_orderkey", "bigint"),
      CDColumn("l_flag", "varchar", Some(1)),
      CDColumn("l_quantity", "double precision"),
      CDColumn("l_shipdate", "datetime"))),
    CDTable("docs", None, Seq(CDColumn("doc_id", "bigint"),
      CDColumn("text", "varchar", Some(500)))),
    CDTable("vecs", None, Seq(CDColumn("vec_id", "bigint"),
      CDColumn("emb", "varchar", Some(100)))))

  private val liSpec = pipeline.Rollup.Spec(Seq("l_flag"), Seq("l_quantity"))

  /** Every store kind the sync maintains, over the five tables. */
  private def config(whDir: String, db: String, parallelism: Int,
      onSummary: Sync.SyncSummary => Unit,
      canonicalSpecs: Map[String, Warehouse.CanonicalSpec] = Map.empty) =
    Warehouse.Config(whDir, db = db, parallelism = parallelism,
      canonicalize = true,
      canonicalSpecs = Map(
        "events" -> Warehouse.datePartitioned("ts", "event_date")) ++
        canonicalSpecs,
      manifestTables = Seq("events"),
      maintainedRollups = Seq(
        Warehouse.RollupDef("li_flags", "lineitem", liSpec)),
      maintainedProfiles = Map("orders" -> Seq("o_totalprice")),
      maintainedSkipStats = Map("lineitem" -> Seq("l_shipdate")),
      maintainedBloomStats = Map("orders" -> Seq("o_orderkey")),
      maintainedViews = Seq(
        Warehouse.ViewDef("li_orders", "lineitem", "orders",
          Seq("o_orderkey"))),
      maintainedIndexes = Seq(
        Warehouse.IndexDef("nd", "docs", "doc_id", "text")),
      maintainedPacks = Seq(
        Warehouse.PackDef("pk", "docs", "doc_id", "text", budget = 16L)),
      maintainedVectorIndexes = Seq(
        Warehouse.VectorIndexDef("ann", "vecs", "vec_id", "emb",
          nlist = 2, replicas = 1)),
      onSummary = onSummary)

  /** The cold manifest and the delta one: new fact files, and the
    * orders dump re-issued under a new name (a stale delete). */
  private def manifests(): (Seq[ManifestEntry], Seq[ManifestEntry]) = {
    val src = Files.createTempDirectory("csync_src")
    def put(table: String, name: String, rows: Seq[String]) = {
      val d = src.resolve(table); Files.createDirectories(d)
      val f = d.resolve(name)
      Files.writeString(f, rows.mkString("", "\n", "\n"))
      ManifestEntry(table, name, f.toUri.toString)
    }
    val s1 = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest tonight"
    val s2 = "pack my box with five dozen liquor jugs while the band " +
      "played waltzes on the crowded pier all evening"
    val m1 = Seq(
      put("events", "e1.tsv", Seq("1\t2024-01-01 10:00:00\t7",
        "2\t2024-01-02 11:00:00\t8", "3\t2024-01-02 12:00:00\t7")),
      put("orders", "o1.tsv", Seq("1\t10.0", "2\t20.0", "3\t30.0")),
      put("lineitem", "l1.tsv", Seq("1\tA\t2.5\t2024-01-01 00:00:00",
        "2\tB\t1.5\t2024-01-03 00:00:00", "9\tA\t4.0\t2024-01-04 00:00:00")),
      put("docs", "d1.tsv", Seq(s"1\t$s1", s"2\t$s2")),
      put("vecs", "v1.tsv", Seq("1\t1.0,0.0", "2\t0.9,0.1", "3\t0.0,1.0",
        "4\t0.1,0.9")))
    val m2 = m1.filterNot(_.filename == "o1.tsv") ++ Seq(
      put("events", "e2.tsv", Seq("4\t2024-01-03 09:00:00\t9")),
      put("orders", "o2.tsv", Seq("1\t10.0", "2\t25.0", "3\t30.0",
        "4\t40.0")),
      put("lineitem", "l2.tsv", Seq("3\tB\t1.0\t2024-01-05 00:00:00",
        "4\tA\t2.0\t2024-01-06 00:00:00")),
      put("docs", "d2.tsv", Seq(s"3\t$s1 again", s"4\t$s2 once more")),
      put("vecs", "v2.tsv", Seq("5\t0.05,0.95", "6\t0.95,0.05")))
    (m1, m2)
  }

  private def walk(dir: JPath): Seq[JPath] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toList.sorted finally s.close()
  }

  private def children(dir: JPath): Seq[JPath] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  private def hidden(root: JPath, p: JPath): Boolean =
    root.relativize(p).iterator().asScala.exists(_.toString.startsWith("."))

  private def md5(xs: Seq[String]): String =
    AppendCommit.contentId(xs.sorted.mkString("\n"))

  private val writeId =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  /** What a sync leaves, path → digest: the bytes of every raw file, the
    * rows of every parquet table (canonical tables and store tables) and
    * the ids of every append ledger. Two warehouses differ in what no
    * sync order decides — the root, parquet write ids, and the raw
    * files' mtimes that canonical batch ids hash — so file paths in rows
    * and the canonical layer's ledger ids are compared without them. */
  private def state(whDir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(new java.net.URI(whDir))
    val all = walk(root).filterNot(hidden(root, _))
    def rel(p: JPath) = root.relativize(p).toString
    def norm(row: String) =
      row.replace(root.toString, "WH").replaceAll(writeId, "ID")
        .replaceAll("canon-[0-9a-f]{16}", "canon-H")
    def partDir(p: JPath) = p.getFileName.toString.contains("=")
    val raw = all.filter(p => Files.isRegularFile(p) &&
        rel(p).startsWith(Sync.RawPrefix) &&
        !p.getFileName.toString.startsWith("_"))
      .map(p => rel(p) -> md5(Seq(
        java.util.Base64.getEncoder.encodeToString(Files.readAllBytes(p)))))
    val tables = all.filter { d =>
      Files.isDirectory(d) && !partDir(d) && !rel(d).startsWith(Sync.RawPrefix) &&
        children(d).exists { c =>
          val n = c.getFileName.toString
          (n.endsWith(".parquet") && !n.startsWith("_")) ||
            (Files.isDirectory(c) && partDir(c))
        }
    }.map(d => rel(d) ->
      md5(spark.read.parquet(d.toUri.toString).toJSON.collect().toSeq
        .map(norm)))
    val ledgers = all.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString == "_applied")
      .map { p =>
        val ids = AppendCommit.appliedEntries(p.getParent.toUri.toString)
          .map(_._1)
        rel(p) -> md5(
          if (rel(p).startsWith("canonical/"))
            ids.map(_.replaceAll("[0-9a-f]{16}", "H"))
          else ids)
      }
    (raw ++ tables ++ ledgers).toMap
  }

  test("a sync at parallelism 1 and 4 leaves the same warehouse: cold, " +
    "delta, no-op and forget") {
    val (m1, m2) = manifests()
    def run(p: Int): (Seq[Sync.SyncSummary], Seq[Map[String, String]]) = {
      val whDir = Files.createTempDirectory(s"csync_wh$p").toUri.toString
        .stripSuffix("/")
      val summaries = mutable.ArrayBuffer.empty[Sync.SyncSummary]
      val wh = new Warehouse(spark,
        config(whDir, s"cd_csync$p", p, summaries += _))
      val states = Seq(
        () => wh.sync(m1, schema), () => wh.sync(m2, schema),
        () => wh.sync(m2, schema),
        () => wh.forget(schema, "docs", "doc_id", Seq(1L)),
        () => wh.forget(schema, "events", "user_id", Seq(7L))
      ).map { step => step(); state(whDir) }
      (summaries.toSeq, states)
    }
    val (sum1, st1) = run(1)
    val (sum4, st4) = run(4)
    assert(sum1 == sum4)
    assert(sum1.map(s => (s.fetched, s.skipped, s.removed)) ==
      Seq((5L, 0L, 0L), (5L, 4L, 1L), (0L, 9L, 0L)))
    // every layer is covered: raw, canonical, each store kind, ledgers
    val keys = st1.last.keySet
    Seq("raw_files/docs/d1.tsv", "canonical/events", "canonical/lineitem",
      "_maintained/rollup_li_flags", "_maintained/profile_orders",
      "_maintained/view_li_orders", "_maintained/index_nd",
      "_maintained/pack_pk", "_maintained/vindex_ann").foreach { k =>
      assert(keys.exists(_.startsWith(k)), s"no digest under $k: $keys")
    }
    assert(keys.exists(_.endsWith("_applied")))
    st1.zip(st4).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.keySet == b.keySet, s"step $i: layers differ")
      val diff = a.keySet.filter(k => a(k) != b(k))
      assert(diff.isEmpty, s"step $i: parallelism 1 and 4 differ in $diff")
    }
  }

  test("a failing table's pipeline lets the others finish; the failure " +
    "reaches the caller and the summary is sent once") {
    val (m1, _) = manifests()
    val whDir = Files.createTempDirectory("csync_fail").toUri.toString
      .stripSuffix("/")
    var sent = 0
    val wh = new Warehouse(spark, config(whDir, "cd_csync_fail", 4,
      _ => sent += 1, canonicalSpecs = Map("vecs" -> Warehouse.CanonicalSpec(
        derive = _ => throw new IllegalStateException("vecs derive broke")))))
    val e = intercept[IllegalStateException](wh.sync(m1, schema))
    assert(e.getMessage == "vecs derive broke")
    assert(sent == 1)
    val keys = state(whDir).keySet
    Seq("canonical/events", "canonical/orders", "canonical/lineitem",
      "canonical/docs", "_maintained/rollup_li_flags",
      "_maintained/profile_orders", "_maintained/index_nd",
      "_maintained/pack_pk").foreach { k =>
      assert(keys.exists(_.startsWith(k)), s"$k not refreshed: $keys")
    }
    assert(!keys.exists(_.startsWith("_maintained/vindex_ann")),
      "the failed table's stores must not run")
    assert(wh.canonicalTable("lineitem").count() == 3L)
    assert(wh.profileOf("orders", Seq("o_totalprice"))
      .select("n_rows").head().getLong(0) == 3L)
  }

  test("every job a concurrent sync starts carries the caller's job group") {
    val (m1, m2) = manifests()
    val whDir = Files.createTempDirectory("csync_group").toUri.toString
      .stripSuffix("/")
    val wh = new Warehouse(spark, config(whDir, "cd_csync_group", 4, _ => ()))
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("csync-caller", "concurrent sync")
    try {
      wh.sync(m1, schema)
      wh.sync(m2, schema)
      org.apache.spark.ListenerDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val seen = groups.asScala.toSeq
    assert(seen.size > 20, s"expected the syncs' jobs, saw ${seen.size}")
    assert(seen.forall(_ == "csync-caller"), seen.distinct.toString)
  }

  test("a forget at parallelism 1 and 4 leaves the same warehouse: " +
    "MinHash and pack store, a mapped key, rollup, profile and view") {
    val (m1, m2) = manifests()
    def run(p: Int): (Seq[Warehouse#ForgetSummary], Map[String, String]) = {
      val whDir = Files.createTempDirectory(s"cforget_wh$p").toUri.toString
        .stripSuffix("/")
      val wh = new Warehouse(spark, config(whDir, s"cd_cforget$p", p, _ => ()))
      wh.sync(m1, schema)
      wh.sync(m2, schema)
      val sums = Seq(
        wh.forget(schema, "docs", "doc_id", Seq(1L, 3L)),
        // the vector index is keyed by vec_id: the cascade maps to it
        wh.forget(schema, "vecs", "emb", Seq("0.9,0.1", "0.05,0.95")),
        wh.forget(schema, "lineitem", "o_orderkey", Seq(1L, 3L)),
        wh.forget(schema, "orders", "o_orderkey", Seq(2L)))
      (sums, state(whDir))
    }
    val (sum1, st1) = run(1)
    val (sum4, st4) = run(4)
    def fields(s: Warehouse#ForgetSummary) =
      (s.canonicalRows, s.rawRows, s.purged, s.invalidated)
    assert(sum1.map(fields) == sum4.map(fields))
    assert(sum1.map(s => (s.canonicalRows, s.rawRows, s.purged.keySet,
      s.invalidated)) == Seq(
      (2L, 2L, Set("index_nd", "pack_pk"), Nil),
      (2L, 2L, Set("vindex_ann"), Nil),
      (2L, 2L, Set("rollup_li_flags", "view_li_orders"), Nil),
      (1L, 1L, Set.empty, Seq("profile_orders"))))
    assert(sum1.forall(_.purged.values.forall(_ > 0L)), s"$sum1")
    assert(st1.keySet == st4.keySet)
    val diff = st1.keySet.filter(k => st1(k) != st4(k))
    assert(diff.isEmpty, s"parallelism 1 and 4 differ in $diff")
  }

  /** Overwrite every visible parquet file under `dir` (relative to the
    * warehouse) with bytes no reader accepts; returns the undo. */
  private def breakParquet(whDir: String, dir: String): () => Unit = {
    val root = java.nio.file.Paths.get(new java.net.URI(s"$whDir/$dir"))
    val saved = walk(root).filter(p => !hidden(root, p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => p -> Files.readAllBytes(p))
    assert(saved.nonEmpty, s"no parquet file under $dir")
    saved.foreach { case (p, b) =>
      Files.write(p, Array.fill(b.length)(7.toByte)) }
    () => saved.foreach { case (p, b) => Files.write(p, b) }
  }

  /** A forget of `keys` on `table` that fails while `broken` (a dir
    * under the warehouse) cannot be read; the warehouse it leaves once
    * the dir is mended and one sync has run must be the one a forget
    * that never failed leaves. `check` sees the warehouse right after
    * the failure (the dir mended), and the state before the forget. */
  private def failedForgetConverges(name: String, table: String, c: String,
      keys: Seq[Any], broken: String)(
      check: (Warehouse, String, Map[String, String]) => Unit): Unit = {
    val (m1, _) = manifests()
    def warehouse(tag: String) = {
      val whDir = Files.createTempDirectory(s"cforget_$tag").toUri.toString
        .stripSuffix("/")
      (whDir, new Warehouse(spark, config(whDir, s"cd_$name$tag", 4, _ => ())))
    }
    val (refDir, ref) = warehouse("ref")
    ref.sync(m1, schema)
    ref.forget(schema, table, c, keys)
    ref.sync(m1, schema)
    val (whDir, wh) = warehouse("fail")
    wh.sync(m1, schema)
    val before = state(whDir)
    val mend = breakParquet(whDir, broken)
    try intercept[Exception](wh.forget(schema, table, c, keys))
    finally mend()
    val fdir = java.nio.file.Paths.get(
      new java.net.URI(s"$whDir/_forget/$table"))
    val names = children(fdir).map(_.getFileName.toString)
    assert(names.exists(_.startsWith("req_")) &&
      !names.exists(_.startsWith("done_")), s"the journal stays open: $names")
    check(wh, whDir, before)
    wh.sync(m1, schema)
    assert(children(fdir).exists(_.getFileName.toString.startsWith("done_")))
    // every layer but the forget ledger itself: the sweep also records
    // the files it re-purged as covered, which a clean forget skips
    def layers(whDir: String) =
      state(whDir).filterNot(_._1.startsWith("_forget/"))
    val (got, want) = (layers(whDir), layers(refDir))
    assert(got.keySet == want.keySet)
    val diff = got.keySet.filter(k => got(k) != want(k))
    assert(diff.isEmpty,
      s"the swept forget differs from the clean one in $diff")
  }

  test("a failing phase-1 unit runs no destructive step; the next sync's " +
    "sweep converges to the forget that never failed") {
    // the pack store's purge reads its broken placements in phase 1
    failedForgetConverges("cforget_p1", "docs", "doc_id", Seq(1L),
      "_maintained/pack_pk") { (wh, whDir, before) =>
      val after = state(whDir)
      val layers = before.keySet.filter(k =>
        k.startsWith(Sync.RawPrefix) || k.startsWith("canonical/"))
      assert(layers.exists(_.startsWith("canonical/docs")))
      layers.foreach(k => assert(after.get(k) == before.get(k), s"$k changed"))
      assert(wh.canonicalTable("docs").count() == 2L)
    }
  }

  test("a failing phase-2 unit lets the other destructive steps finish; " +
    "the failure reaches the caller and the sweep converges") {
    // the join view's purge reads its broken rows in phase 2
    failedForgetConverges("cforget_p2", "lineitem", "o_orderkey", Seq(1L),
      "_maintained/view_li_orders/view") { (wh, whDir, _) =>
      import org.apache.spark.sql.functions.col
      assert(wh.canonicalTable("lineitem")
        .filter(col("o_orderkey") === 1L).count() == 0L)
      assert(wh.canonicalTable("lineitem").count() == 2L)
      val raw = new String(Files.readAllBytes(java.nio.file.Paths.get(
        new java.net.URI(s"$whDir/raw_files/lineitem/l1.tsv"))), "UTF-8")
      assert(!raw.linesIterator.exists(_.startsWith("1\t")), raw)
    }
  }

  test("Par runs every unit, then rethrows the earliest failure with the " +
    "others suppressed, at any width") {
    Seq(1, 3).foreach { width =>
      val ran = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val e = intercept[RuntimeException] {
        Par.each(1 to 6, width) { i =>
          ran.add(i)
          if (i % 2 == 0) throw new RuntimeException(s"unit $i")
        }
      }
      assert(ran.asScala.toSeq.sorted == (1 to 6), s"width $width")
      assert(e.getMessage == "unit 2", s"width $width")
      assert(e.getSuppressed.map(_.getMessage).toSeq ==
        Seq("unit 4", "unit 6"), s"width $width")
    }
    assert(Par.map(Seq(3, 1, 2), 2)(_ * 10) == Seq(30, 10, 20))
  }
}
