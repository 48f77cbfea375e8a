package graft.pipeline

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Ledger compaction contract of [[AppendCommit]]: entries survive any
  * interleaving of compaction, crashed compaction, and new appends —
  * and the ledger's file count stays bounded under unbounded batches. */
class AppendCommitSpec extends AnyFunSuite {

  private def tmpRoot(): String =
    Files.createTempDirectory("ledger").toString + "/store"

  private def ledgerFiles(root: String): Seq[String] = {
    val d = new java.io.File(s"$root/_applied")
    if (!d.exists()) Seq.empty
    else d.listFiles().toSeq.map(_.getName).filterNot(_.endsWith(".crc"))
  }

  test("compaction preserves every entry, payload-exact, and isApplied") {
    val root = tmpRoot()
    val entries = (1 to 20).map(i => s"b$i" -> s"payload\twith\nnewline-$i")
    entries.foreach { case (id, p) => AppendCommit.markApplied(root, id, p) }
    assert(AppendCommit.compactLedger(root) == 20)
    // all per-batch files folded into exactly one compacted generation
    assert(ledgerFiles(root) == Seq("_compacted_1"))
    assert(entries.forall { case (id, _) => AppendCommit.isApplied(root, id) })
    assert(!AppendCommit.isApplied(root, "b21"))
    assert(AppendCommit.appliedEntries(root).toMap == entries.toMap,
      "payloads (incl. tabs/newlines) must survive compaction byte-exact")
    // idempotent: a second compaction with nothing to fold is a no-op
    assert(AppendCommit.compactLedger(root) == 20)
    assert(ledgerFiles(root) == Seq("_compacted_1"))
  }

  test("appends after compaction land plain and fold into the next generation") {
    val root = tmpRoot()
    (1 to 5).foreach(i => AppendCommit.markApplied(root, s"x$i", s"v$i"))
    AppendCommit.compactLedger(root)
    AppendCommit.markApplied(root, "x6", "v6")
    assert(ledgerFiles(root).toSet == Set("_compacted_1", "x6"))
    assert(AppendCommit.isApplied(root, "x3") && AppendCommit.isApplied(root, "x6"))
    assert(AppendCommit.compactLedger(root) == 6)
    assert(ledgerFiles(root) == Seq("_compacted_2"))
    assert(AppendCommit.appliedEntries(root).toMap ==
      (1 to 6).map(i => s"x$i" -> s"v$i").toMap)
  }

  test("a crashed compaction (entry both compacted and plain) reads exact and heals") {
    val root = tmpRoot()
    (1 to 4).foreach(i => AppendCommit.markApplied(root, s"c$i", s"p$i"))
    AppendCommit.compactLedger(root)
    // crash simulation: generation 1 was placed but the source deletes
    // never ran — recreate a plain duplicate and a stale tmp
    AppendCommit.markApplied(root, "c2", "p2")
    Files.write(java.nio.file.Paths.get(s"$root/_applied/._compacted_9.tmp"),
      "junk".getBytes("UTF-8"))
    assert(AppendCommit.appliedEntries(root).toMap ==
      (1 to 4).map(i => s"c$i" -> s"p$i").toMap,
      "duplicate compacted+plain entries must read as one")
    assert(AppendCommit.compactLedger(root) == 4)
    assert(ledgerFiles(root).filterNot(_.startsWith(".")) == Seq("_compacted_2"))
  }

  test("ledger file count stays bounded across AutoCompactAt-many appends") {
    val root = tmpRoot()
    (1 to AppendCommit.AutoCompactAt + 3).foreach(i =>
      AppendCommit.markApplied(root, s"s$i"))
    val files = ledgerFiles(root)
    assert(files.size < AppendCommit.AutoCompactAt,
      s"auto-compaction must have folded the ledger, saw ${files.size} files")
    assert((1 to AppendCommit.AutoCompactAt + 3).forall(i =>
      AppendCommit.isApplied(root, s"s$i")))
  }

  test("cumulativeFingerprint classifies by id NAMESPACE: covered " +
      "markers skip whatever their payload looks like; a malformed " +
      "content entry throws instead of silently dropping") {
    val root = tmpRoot()
    new java.io.File(root).mkdirs()
    Files.writeString(java.nio.file.Paths.get(root, "_corpus_fingerprint"),
      "10|100|k=1")
    AppendCommit.markApplied(root, "ab12cd34", "5|7")
    // a FreshFold covered marker whose FILE-LIST payload happens to
    // match the n|h shape — by-namespace classification must skip it
    // (the old payload-shape sniffing would have summed it)
    AppendCommit.markApplied(root, s"${FreshFold.Tag}deadbeef", "3|9")
    AppendCommit.markApplied(root, "files-feed1234", "f1\nf2")
    AppendCommit.markApplied(root, "rawfile-x.gz", "")
    AppendCommit.markApplied(root, "stream-7")
    assert(AppendCommit.cumulativeFingerprint(root)
      == Some("15|107|k=1"))
    // an unregistered-namespace entry with a non-fingerprint payload is
    // a contract violation — loud, never a wrong cumulative count
    AppendCommit.markApplied(root, "mystery99", "not-a-fingerprint")
    intercept[Exception] { AppendCommit.cumulativeFingerprint(root) }
  }

  test("a retried batch clears its crashed attempt's files at depths 0 " +
      "to 3 and keeps other batches'; filesOfBatch sees every depth") {
    val root = tmpRoot()
    val rels = Seq("f.bin", "t/f.bin", "t/p=1/f.bin", "t/p=1/q=2/f.bin")
    def stage(tmp: String): Unit = rels.foreach { r =>
      val f = java.nio.file.Paths.get(tmp, r)
      Files.createDirectories(f.getParent)
      Files.writeString(f, r)
    }
    def placed(batch: String): Seq[String] = {
      val s = Files.walk(java.nio.file.Paths.get(root))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(s"a_${batch}_")).toList
      finally s.close()
    }
    assert(AppendCommit.appendBatch(null, root, "b0")(stage))
    assert(AppendCommit.appendBatch(null, root, "b1")(stage))
    // a crash after b1's moves, before its ledger entry
    assert(new java.io.File(s"$root/_applied/b1").delete())
    assert(AppendCommit.appendBatch(null, root, "b1")(stage))
    assert(placed("b1").size == rels.size && placed("b0").size == rels.size)
    Seq("b0", "b1").foreach { b =>
      val files = AppendCommit.filesOfBatch(root, b)
      assert(files.size == rels.size, s"$b: $files")
      rels.foreach { r =>
        val dir = r.split('/').init.mkString("/")
        assert(files.exists(f => f.contains(s"/store/${
          if (dir.isEmpty) "" else dir + "/"}a_${b}_")), s"$b lacks $r")
      }
    }
  }

  test("hidden or path-hostile batch ids are rejected") {
    val root = tmpRoot()
    intercept[IllegalArgumentException](AppendCommit.markApplied(root, "_x"))
    intercept[IllegalArgumentException](AppendCommit.markApplied(root, ".x"))
    intercept[IllegalArgumentException](AppendCommit.markApplied(root, "a/b"))
    intercept[IllegalArgumentException](AppendCommit.markApplied(root, ""))
  }
}
