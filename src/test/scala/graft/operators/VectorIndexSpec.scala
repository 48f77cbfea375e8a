package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

class VectorIndexSpec extends SparkSpec {

  private def bytesUnder(dir: java.io.File): Map[String, Seq[Byte]] = {
    val walk = java.nio.file.Files.walk(dir.toPath)
    try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => dir.toPath.relativize(p).toString ->
        java.nio.file.Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  test("every vector-index kind heals a crashed build swap in ensure: " +
      "no retrain, model files and marker unchanged") {
    val e = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // (kind, ensure, model dirs, marker params after `n|h`) — the
    // marker grammar is the on-disk format stores written earlier
    // must keep matching
    val kinds: Seq[(String, (DataFrame, String) => Boolean, Seq[String],
        String)] = Seq(
      ("IVF", Similarity.ensureIvfIndex(spark, _, _, nlist = 4,
        replicas = 2), Seq("centroids"), "|nlist=4|replicas=2"),
      ("PQ", Quantize.ensurePqIndex(spark, _, _, m = 4, k = 8),
        Seq("codebook"), "|m=4|k=8"),
      ("IVF-PQ", Quantize.ensureIvfPqIndex(spark, _, _, nlist = 4,
        replicas = 2, m = 4, k = 8), Seq("centroids", "codebook"),
        "|nlist=4|replicas=2|m=4|k=8"),
      ("IVF-SQ8", Quantize.ensureIvfSqIndex(spark, _, _, nlist = 4,
        replicas = 2), Seq("centroids", "sqparams"),
        "|nlist=4|replicas=2|sq=8"))
    kinds.foreach { case (kind, ensure, modelDirs, params) =>
      val root = java.nio.file.Files.createTempDirectory("vi_aside")
      val idx = root.resolve("idx").toFile
      assert(ensure(e, idx.toString), s"$kind: first ensure must build")
      def model() = modelDirs.map(d => bytesUnder(new java.io.File(idx, d)))
      def marker() = new String(java.nio.file.Files.readAllBytes(
        idx.toPath.resolve("_corpus_fingerprint")), "UTF-8")
      val (modelBefore, markerBefore) = (model(), marker())
      assert(modelBefore.forall(_.nonEmpty), s"$kind: model files missing")
      assert(markerBefore == Similarity.corpusFingerprint(e) + params,
        s"$kind: marker '$markerBefore'")
      // a crash between SafeSwap's rename-aside and rename-in leaves
      // only the hidden aside copy
      assert(idx.renameTo(root.resolve(".idx.__old").toFile))
      assert(!ensure(e, idx.toString),
        s"$kind: ensure must heal the aside copy, not retrain")
      assert(model() == modelBefore, s"$kind: model files changed")
      assert(marker() == markerBefore, s"$kind: marker changed")
    }
  }
}
