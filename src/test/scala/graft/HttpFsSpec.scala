package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.io.GraftHttpFileSystem

/** Minimal HTTP object server shared by the filesystem and runner-CLI
  * suites: HEAD (Content-Length) + ranged GET over the files of one
  * directory — the subset of an object-store API a scan needs. With
  * `auth` set, every request must carry the matching HMAC Authorization
  * header (GraftHttpFileSystem.signFor) or it is refused with 401 —
  * the server side of the credential surface the runner's -i/-k flags
  * configure. `bytesServed` and `getsServed` count the body bytes and the
  * GETs the server answered. */
object TestHttpObjectServer {
  def serve(dir: String, auth: Option[(String, String)] = None,
            bytesServed: Option[java.util.concurrent.atomic.AtomicLong] =
              None,
            getsServed: Option[java.util.concurrent.atomic.AtomicLong] =
              None): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = try {
        val expected = GraftHttpFileSystem.signFor(
          auth, ex.getRequestMethod, ex.getRequestURI.getPath)
        if (expected.exists(sig =>
            Option(ex.getRequestHeaders.getFirst("Authorization"))
              .forall(_ != sig))) {
          ex.sendResponseHeaders(401, -1); return
        }
        val p = Paths.get(dir, ex.getRequestURI.getPath)
        if (!Files.exists(p)) { ex.sendResponseHeaders(404, -1); return }
        val bytes = Files.readAllBytes(p)
        ex.getRequestMethod match {
          case "HEAD" =>
            ex.getResponseHeaders.add("Content-Length", bytes.length.toString)
            ex.sendResponseHeaders(200, -1)
          case _ =>
            getsServed.foreach(_.incrementAndGet())
            Option(ex.getRequestHeaders.getFirst("Range")) match {
              case Some(r) =>
                val spec = r.stripPrefix("bytes=").split("-", 2)
                val lo = spec(0).toInt
                val hi = if (spec(1).isEmpty) bytes.length - 1 else spec(1).toInt
                val chunk = bytes.slice(lo, math.min(hi, bytes.length - 1) + 1)
                ex.getResponseHeaders.add(
                  "Content-Range", s"bytes $lo-$hi/${bytes.length}")
                ex.sendResponseHeaders(206, chunk.length)
                ex.getResponseBody.write(chunk)
                bytesServed.foreach(_.addAndGet(chunk.length.toLong))
              case None =>
                ex.sendResponseHeaders(200, bytes.length)
                ex.getResponseBody.write(bytes)
                bytesServed.foreach(_.addAndGet(bytes.length.toLong))
            }
        }
      } finally ex.close() // every path, or keep-alive clients stall
    })
    server.start()
    server
  }
}

/** End-to-end remote-object-store execution: the flagship query runs
  * against parquet served by an in-process HTTP object server through
  * the ghttp:// monitored filesystem — the sandbox-faithful analog of
  * the reference's s3-over-plain-HTTP profile (its object store speaks
  * HTTP too; runner.cc:210 disables SSL), with the reference's read-op /
  * byte accounting checked against real wire traffic. */
class HttpFsSpec extends SparkTestBase {
  import TestHttpObjectServer.serve

  test("flagship query executes against the HTTP object profile with op accounting") {
    val server = serve(sf0001)
    try {
      spark.sparkContext.hadoopConfiguration
        .set("fs.ghttp.impl", "graft.io.GraftHttpFileSystem")
      val remoteDir = s"ghttp://127.0.0.1:${server.getAddress.getPort}"
      GraftHttpFileSystem.resetCounters()
      val remote = ops.ScanFilterOps.queries("q_scan_flagship")(spark, remoteDir)
        .collect().toSeq
      val (gets, heads, bytes) = GraftHttpFileSystem.snapshot
      val local = ops.ScanFilterOps.queries("q_scan_flagship")(spark, sf0001)
        .collect().toSeq
      assert(remote == local, "remote result differs from local")
      assert(gets > 0 && heads > 0, s"no wire traffic counted ($gets/$heads)")
      // metadata cache (reference README.md:98): however many times the
      // file index stats the object during the query, one object = at
      // most one wire HEAD
      assert(heads <= 1, s"$heads HEADs for one object — metadata cache miss")
      // scale posture over the wire: projection + filter pushdown mean the
      // scan must NOT fetch the whole object — footer + the 5 referenced
      // column chunks only (the reference reads only the footer and the
      // needed column chunks of its multi-MB file the same way)
      val fileSize = Files.size(Paths.get(sf0001, "lineitem.parquet"))
      assert(bytes > 0 && bytes < fileSize,
        s"read $bytes of $fileSize-byte object — column pruning not effective")
    } finally server.stop(0)
  }

  test("credentialed object server: anonymous reads 401, signed reads succeed") {
    val creds = ("TESTKEY", "TESTSECRET")
    val server = serve(sf0001, auth = Some(creds))
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      conf.set("fs.ghttp.impl", "graft.io.GraftHttpFileSystem")
      val remoteDir = s"ghttp://127.0.0.1:${server.getAddress.getPort}"
      // no credentials configured → the server refuses the HEAD with 401
      // and the failure names the missing conf keys
      conf.unset("fs.ghttp.auth.id"); conf.unset("fs.ghttp.auth.secret")
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      val e = intercept[Exception] {
        ops.ScanFilterOps.queries("q_scan_flagship")(spark, remoteDir).collect()
      }
      assert(chain(e).exists(t => Option(t.getMessage)
        .exists(_.contains("401"))), s"expected a 401 failure, got $e")
      // with the pair set, every request is signed and the result matches
      // local (fresh authority → fresh FS instance picking up the conf)
      conf.set("fs.ghttp.auth.id", creds._1)
      conf.set("fs.ghttp.auth.secret", creds._2)
      val server2 = serve(sf0001, auth = Some(creds))
      try {
        val authedDir = s"ghttp://127.0.0.1:${server2.getAddress.getPort}"
        val remote = ops.ScanFilterOps.queries("q_scan_flagship")(spark, authedDir)
          .collect().toSeq
        val local = ops.ScanFilterOps.queries("q_scan_flagship")(spark, sf0001)
          .collect().toSeq
        assert(remote == local, "signed remote result differs from local")
      } finally server2.stop(0)
    } finally {
      server.stop(0)
      spark.sparkContext.hadoopConfiguration.unset("fs.ghttp.auth.id")
      spark.sparkContext.hadoopConfiguration.unset("fs.ghttp.auth.secret")
    }
  }

  test("footer memo: a second footer read of an object issues no GET, a new length does") {
    withTempDir("graft_memo_") { dir =>
      val obj = Paths.get(dir, "obj.parquet")
      Files.copy(Paths.get(sf0001, "lineitem.parquet"), obj)
      val gets = new java.util.concurrent.atomic.AtomicLong
      val server = serve(dir, getsServed = Some(gets))
      try {
        val uri = java.net.URI.create(
          s"ghttp://127.0.0.1:${server.getAddress.getPort}/")
        val conf = new org.apache.hadoop.conf.Configuration(false)
        conf.set("fs.ghttp.impl", "graft.io.GraftHttpFileSystem")
        val path = new org.apache.hadoop.fs.Path(uri.resolve("obj.parquet"))
        // a fresh instance (no cached HEAD) per read; parquet's own read
        // order: the length tail, then footer + tail, both sequential
        def footerRead(): Unit = {
          val fs = org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)
          try {
            val len = fs.getFileStatus(path).getLen
            val in = fs.open(path)
            try {
              val tail = new Array[Byte](8)
              in.seek(len - 8)
              in.readFully(tail)
              assert(new String(tail, 4, 4, "US-ASCII") == "PAR1")
              val n = java.nio.ByteBuffer.wrap(tail, 0, 4)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
              in.seek(len - 8 - n)
              in.readFully(new Array[Byte](n))
              // a positioned read of the same tail range is a hit too
              in.readFully(len - 8, tail)
            } finally in.close()
          } finally fs.close()
        }
        def delta(body: => Unit): (Long, Long) = {
          val (ops0, _, _) = GraftHttpFileSystem.snapshot
          val g0 = gets.get
          body
          val (ops1, _, _) = GraftHttpFileSystem.snapshot
          (ops1 - ops0, gets.get - g0)
        }
        assert(delta(footerRead()) == (2L, 2L), "first read: tail + footer")
        assert(delta(footerRead()) == (0L, 0L), "second read hit the wire")
        // the same name with another length is another object
        Files.copy(Paths.get(sf0001, "orders.parquet"), obj,
                   java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        assert(delta(footerRead()) == (2L, 2L), "new length served stale")
      } finally server.stop(0)
    }
  }

  test("vectored read: adjacent ranges are one GET, ranges past the minimum seek two") {
    withTempDir("graft_vectored_") { dir =>
      val size = 1 << 20
      Files.write(Paths.get(dir, "obj.bin"),
                  Array.tabulate[Byte](size)(i => (i * 31 + i / 251).toByte))
      val gets = new java.util.concurrent.atomic.AtomicLong
      val server = serve(dir, getsServed = Some(gets))
      try {
        val uri = java.net.URI.create(
          s"ghttp://127.0.0.1:${server.getAddress.getPort}/")
        val conf = new org.apache.hadoop.conf.Configuration(false)
        conf.set("fs.ghttp.impl", "graft.io.GraftHttpFileSystem")
        val fs = org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)
        val in = fs.open(new org.apache.hadoop.fs.Path(uri.resolve("obj.bin")))
        try {
          val gap = in.minSeekForVectorReads
          // (GETs the stream counted, GETs the server answered), per
          // vectored read of `ranges` (given out of order), whose buffers
          // must equal positioned reads of the same ranges
          def vectored(ranges: Seq[(Long, Int)]): (Long, Long) = {
            val want = ranges.map { case (at, n) =>
              val b = new Array[Byte](n); in.readFully(at, b); b.toSeq }
            val asked = ranges.map { case (at, n) =>
              org.apache.hadoop.fs.FileRange.createFileRange(at, n) }
            val (ops0, _, _) = GraftHttpFileSystem.snapshot
            val g0 = gets.get
            in.readVectored(asked.asJava, n => java.nio.ByteBuffer.allocate(n))
            val (ops1, _, _) = GraftHttpFileSystem.snapshot
            for ((r, w) <- asked.zip(want)) {
              val buf = r.getData.get()
              val got = new Array[Byte](buf.remaining)
              buf.get(got)
              assert(got.toSeq == w, s"range ${r.getOffset}+${r.getLength}")
            }
            (ops1 - ops0, gets.get - g0)
          }
          assert(vectored(Seq(6000L -> 3000, 1000L -> 5000, 9000L -> 100)) ==
                   (1L, 1L), "adjacent ranges")
          assert(vectored(Seq(100000L -> 700, 100700L + gap + 1 -> 900)) ==
                   (2L, 2L), "ranges past the minimum seek")
        } finally { in.close(); fs.close() }
      } finally server.stop(0)
    }
  }

  test("ghttp is read-only: writes are refused") {
    val server = serve(sf0001)
    try {
      spark.sparkContext.hadoopConfiguration
        .set("fs.ghttp.impl", "graft.io.GraftHttpFileSystem")
      val port = server.getAddress.getPort
      val e = intercept[Exception] {
        spark.range(3).write.mode("overwrite")
          .parquet(s"ghttp://127.0.0.1:$port/out.parquet")
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(t =>
        Option(t.getMessage).exists(_.contains("read-only"))))
    } finally server.stop(0)
  }
}
