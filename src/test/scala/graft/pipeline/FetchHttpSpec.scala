package graft.pipeline

import java.net.InetSocketAddress
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.SparkSpec
import graft.pipeline.Sync.{FetchTask, ManifestEntry}
import graft.model.{CDColumn, CDTable}

/** The fetch path against real HTTP (the reference's actual transport,
  * `fetch-canvas-data-file.py:33-38`): chunked streaming copy, idempotent
  * re-fetch, and failure isolation (a 404 must not poison the batch). */
class FetchHttpSpec extends SparkSpec {

  private def withServer[T](routes: Map[String, Array[Byte]])(
      f: Int => T): T = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    routes.foreach { case (path, body) =>
      server.createContext(path, new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          ex.sendResponseHeaders(200, body.length.toLong)
          val os = ex.getResponseBody
          os.write(body); os.close()
        }
      })
    }
    server.start()
    try f(server.getAddress.getPort)
    finally server.stop(0)
  }

  test("HTTP fetch streams to the warehouse and is idempotent") {
    val payload = ("1\talice\n2\tbob\n" * 1000).getBytes("UTF-8")
    withServer(Map("/files/a.tsv" -> payload)) { port =>
      val wh = Files.createTempDirectory("http_wh").toUri.toString
        .stripSuffix("/")
      val manifest = Seq(ManifestEntry("t", "a.tsv",
        s"http://127.0.0.1:$port/files/a.tsv"))
      val sch = Seq(CDTable("t", None,
        Seq(CDColumn("id", "bigint"), CDColumn("name", "text"))))
      val s1 = Sync.run(spark, wh, manifest, sch, db = "cd_http",
        parallelism = 2)
      assert(s1.fetched == 1)
      // byte-exact landing
      val landed = java.nio.file.Paths.get(
        new java.net.URI(s"$wh/raw_files/t/a.tsv"))
      assert(java.nio.file.Files.readAllBytes(landed).sameElements(payload))
      // idempotent: second run skips (no re-download)
      val s2 = Sync.run(spark, wh, manifest, sch, db = "cd_http",
        parallelism = 2)
      assert(s2.fetched == 0 && s2.skipped == 1)
    }
  }

  test("a 404 fetch is isolated: reported failed, no partial state, " +
    "and the rest of the batch still lands") {
    withServer(Map("/files/ok.tsv" -> "1\n".getBytes("UTF-8"))) { port =>
      val wh = Files.createTempDirectory("http_wh2").toUri.toString
        .stripSuffix("/")
      val tasks = Seq(
        FetchTask("raw_files/t/missing.tsv",
          s"http://127.0.0.1:$port/files/missing.tsv"),
        FetchTask("raw_files/t/ok.tsv",
          s"http://127.0.0.1:$port/files/ok.tsv"))
      val res = Sync.fetchAll(spark, wh, tasks, parallelism = 1)
      // the failure is isolated and reported, not thrown
      assert(res.failedKeys == Seq("raw_files/t/missing.tsv"))
      assert(res.fetched == 1)
      // the good file committed; no committed object for the failed key
      val dir = java.nio.file.Paths.get(new java.net.URI(s"$wh/raw_files/t"))
      val committed = {
        val s = java.nio.file.Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toSeq
            .filterNot(_.getFileName.toString.startsWith("."))
            .map(_.getFileName.toString)
        } finally s.close()
      }
      assert(committed == Seq("ok.tsv"), s"committed: $committed")
      // and the failure surfaces in the run summary
      val manifest = Seq(
        ManifestEntry("t", "missing.tsv",
          s"http://127.0.0.1:$port/files/missing.tsv"))
      val sch = Seq(CDTable("t", None, Seq(CDColumn("id", "bigint"))))
      val sum = Sync.run(spark, wh, manifest, sch, db = "cd_http2",
        parallelism = 1)
      assert(sum.failed == 1 &&
        sum.failedKeys == Seq("raw_files/t/missing.tsv"))
    }
  }
}
