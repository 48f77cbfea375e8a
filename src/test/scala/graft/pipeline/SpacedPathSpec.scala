package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec

/** Store roots whose names hold a space: a raw path is not a URI, so
  * every commit protocol must open its filesystem through [[Fs]]. */
class SpacedPathSpec extends SparkSpec {

  test("SafeSwap, AppendCommit and FreshFold work under a spaced dir") {
    import spark.implicits._
    val root = Files.createTempDirectory("canvas warehouse").toString +
      "/my store"
    SafeSwap.replace(root) { tmp =>
      Seq(1L, 2L).toDF("id").write.parquet(s"$tmp/data")
    }
    assert(AppendCommit.appendBatch(spark, root, "b1") { tmp =>
      Seq(3L).toDF("id").write.parquet(s"$tmp/data")
    })
    assert(spark.read.parquet(s"$root/data").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L))
    val folded = FreshFold.foldFresh(root, Seq("f 1", "f 2")) { (_, id) =>
      AppendCommit.markApplied(root, id, "")
    }
    assert(folded == 2 && FreshFold.covered(root) == Set("f 1", "f 2"))
  }
}
