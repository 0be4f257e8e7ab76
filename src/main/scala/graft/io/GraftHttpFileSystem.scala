package graft.io

import java.io.{EOFException, IOException, InputStream}
import java.net.{HttpURLConnection, URI, URL}
import java.nio.ByteBuffer
import java.util.concurrent.CompletableFuture
import java.util.concurrent.atomic.AtomicLong
import java.util.function.IntFunction

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A read-only Hadoop FileSystem over plain-HTTP object GETs, with exact
  * per-request op/byte accounting — the Spark-first re-expression of the
  * reference's monitored filesystem (runner.cc:75–172 wraps DuckDB's
  * httpfs the same way: every ranged read is counted as one op and its
  * bytes accumulated, producing the run-level "read ops / bytes read"
  * stats). The reference speaks to its object store over plain HTTP
  * (`SET s3_use_ssl=false`, runner.cc:210), so an HTTP object server IS
  * the faithful remote profile; stock `fs.http.impl` can't back a scan
  * (no listStatus/seek), hence this implementation.
  *
  * Semantics mirror an object store, not a POSIX tree: every path is an
  * immutable object (no directories, no listing of prefixes, no writes).
  * `open` returns a lazily-connecting seekable stream: each `seek` that
  * breaks the current position closes the connection and the next read
  * issues one `Range: bytes=pos-` GET — so sequential scans cost one op
  * per reopened region, exactly how the reference's byte-range reads
  * count (runner.cc:109–117). `readFully(pos, …)` (the parquet footer)
  * issues one bounded-range GET per call, and `readVectored` (parquet's
  * column chunks) one per run of nearby ranges. Reads that start
  * in an object's last 64 KiB — the parquet footer and its length tail —
  * go to the wire once per JVM ([[GraftHttpFileSystem.tailMemo]]): the
  * runner's driver reads each footer for the schema, then the scan task
  * reads it twice more.
  *
  * Register with `spark.hadoop.fs.ghttp.impl = graft.io.GraftHttpFileSystem`
  * and read `ghttp://host:port/object.parquet`. Counters are global
  * (AtomicLong) because FileSystem instances are cache-managed by
  * Hadoop; [[GraftHttpFileSystem.snapshot]] + [[resetCounters]] give the
  * per-run delta, same as the reference's run-level stat block.
  */
class GraftHttpFileSystem extends FileSystem {
  import GraftHttpFileSystem._

  private var fsUri: URI = _
  private var auth: Option[(String, String)] = None
  private var readahead: Long = 1L << 20

  override def initialize(uri: URI, conf: org.apache.hadoop.conf.Configuration)
      : Unit = {
    super.initialize(uri, conf)
    setConf(conf)
    fsUri = URI.create(s"$scheme://${uri.getAuthority}")
    // Credential surface mirroring the reference's access-key flags
    // (runner.cc:211–216 wires -i/-k into its object-store connection):
    // when both keys are configured every request carries a deterministic
    // HMAC-signed Authorization header; servers that require auth reject
    // anonymous requests with 401 (tested end-to-end in RunnerSpec).
    auth = for {
      id <- Option(conf.get("fs.ghttp.auth.id"))
      secret <- Option(conf.get("fs.ghttp.auth.secret"))
    } yield (id, secret)
    readahead = conf.getLong("fs.ghttp.readahead.bytes", 1L << 20)
  }

  private def scheme: String = "ghttp"
  override def getScheme: String = scheme
  override def getUri: URI = fsUri

  private def toHttp(path: Path): URL = {
    val u = path.toUri
    new URL(s"http://${Option(u.getAuthority).getOrElse(fsUri.getAuthority)}${u.getPath}")
  }

  /** Per-object metadata cache (reference README.md:98 caches object
    * metadata the same way): objects in this profile are immutable, and
    * Spark's file index may stat one object several times per query
    * (listing, then split planning, then open) — without the cache each
    * stat is a wire HEAD. Instance-lifetime is the right scope: Hadoop's
    * FS cache keeps one instance per (scheme, authority, ugi), so the
    * cache lives exactly as long as the connection profile it fronts. */
  private val statusCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileStatus]()

  override def getFileStatus(f: Path): FileStatus =
    // computeIfAbsent so concurrent stats of one object (parallel split
    // planning) collapse to a single wire HEAD; a failed fetch (404/401)
    // propagates and caches nothing.
    statusCache.computeIfAbsent(f.toUri.getPath, _ => fetchFileStatus(f))

  private def fetchFileStatus(f: Path): FileStatus = {
    val url = toHttp(f)
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("HEAD")
    signFor(auth, "HEAD", url.getPath).foreach(
      conn.setRequestProperty("Authorization", _))
    try {
      if (conn.getResponseCode == 401)
        throw new org.apache.hadoop.security.AccessControlException(
          s"$f: HTTP 401 — server requires credentials " +
            "(fs.ghttp.auth.id / fs.ghttp.auth.secret; runner flags -i/-k)")
      if (conn.getResponseCode != 200)
        throw new java.io.FileNotFoundException(
          s"$f: HTTP ${conn.getResponseCode}")
      headOps.incrementAndGet()
      val len = conn.getHeaderFieldLong("Content-Length", -1L)
      // fail fast here rather than as a baffling always-EOF stream later:
      // an object profile without a declared length can't back a scan
      if (len < 0)
        throw new java.io.IOException(
          s"$f: HEAD response has no Content-Length — not an object store")
      new FileStatus(len, false, 1, 128L << 20, 0L, f)
    } finally conn.disconnect()
  }

  /** Object stores list objects, not directories; Spark's file index
    * lists the exact path it was given — one object, one status. */
  override def listStatus(f: Path): Array[FileStatus] =
    Array(getFileStatus(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val len = getFileStatus(f).getLen
    new FSDataInputStream(
      new HttpObjectInputStream(toHttp(f), len, auth, readahead))
  }

  override def setWorkingDirectory(d: Path): Unit = ()
  override def getWorkingDirectory: Path = new Path(fsUri)

  private def readOnly = new UnsupportedOperationException(
    s"$scheme:// is a read-only object profile")
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    throw readOnly
  override def append(f: Path, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream =
    throw readOnly
  override def rename(src: Path, dst: Path): Boolean = throw readOnly
  override def delete(f: Path, recursive: Boolean): Boolean = throw readOnly
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    throw readOnly
}

object GraftHttpFileSystem {
  /** Ranged GETs issued (the reference's "read ops"). */
  val readOps = new AtomicLong(0)
  /** HEAD (metadata) requests — counted separately; the reference's op
    * count covers data reads only. */
  val headOps = new AtomicLong(0)
  /** Bytes actually consumed off the wire. */
  val bytesRead = new AtomicLong(0)

  def snapshot: (Long, Long, Long) =
    (readOps.get(), headOps.get(), bytesRead.get())
  def resetCounters(): Unit = { readOps.set(0); headOps.set(0); bytesRead.set(0) }

  /** Reads that start this close to an object's end are memoized. */
  private final val TailBytes = 64L << 10
  /** The memo is dropped whole when it would pass this many bytes. */
  private final val MemoMaxBytes = 32L << 20

  /** The bytes read from the wire at a start position in an object's
    * tail, keyed by (object URL, object length, start): a positioned
    * read's range, or what a sequential run from a seek consumed. Objects
    * are immutable and another length means another object, so an entry
    * never goes stale. A later read from the same start that wants no
    * more than the entry holds is served from it: not a GET, so it moves
    * neither [[readOps]] nor [[bytesRead]], and the counters keep
    * matching what the server answered. */
  private val tailMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long),
                                                Array[Byte]]()
  private val tailMemoBytes = new AtomicLong(0)

  private def remember(key: (String, Long, Long), bytes: Array[Byte]): Unit =
    if (bytes.nonEmpty) {
      tailMemo.merge(key, bytes, (a, b) => if (a.length >= b.length) a else b)
      if (tailMemoBytes.addAndGet(bytes.length) > MemoMaxBytes) {
        tailMemo.clear()
        tailMemoBytes.set(0)
      }
    }

  /** Deterministic request signature: `GRAFT <id>:<hex(hmac-sha256(secret,
    * method + "\n" + path))>`. A keyed MAC rather than the raw secret in a
    * header — the shape of object-store request signing (the reference's
    * store authenticates each request from its access-key pair the same
    * way), minus provider-specific canonicalization. */
  def signFor(auth: Option[(String, String)], method: String,
              path: String): Option[String] =
    auth.map { case (id, secret) =>
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(
        secret.getBytes("UTF-8"), "HmacSHA256"))
      val sig = mac.doFinal(s"$method\n$path".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      s"GRAFT $id:$sig"
    }

  /** Seekable HTTP object stream: one `Range: bytes=pos-…` GET per
    * repositioned read region, BOUNDED by a readahead window
    * (fs.ghttp.readahead.bytes, default 1 MiB). An unbounded to-EOF
    * range would have the server transmit the whole object remainder
    * for every repositioned region the scan only samples — measured
    * 2.1x the object size pushed per flagship query against 0.7x
    * consumed (RunnerSpec's wire-reconciliation test) — while a
    * window caps over-push at one window per GET; a sequential
    * consumer that crosses the window end transparently reopens at
    * the boundary (one further counted op per window, the S3 client
    * random-fadvise pattern). */
  private final class HttpObjectInputStream(url: URL, len: Long,
                                            auth: Option[(String, String)],
                                            readahead: Long)
      extends InputStream with Seekable with PositionedReadable {

    private def openSigned(): HttpURLConnection = {
      val c = url.openConnection().asInstanceOf[HttpURLConnection]
      signFor(auth, "GET", url.getPath).foreach(
        c.setRequestProperty("Authorization", _))
      c
    }

    private var pos = 0L
    private var in: InputStream = _
    private var conn: HttpURLConnection = _

    // In the tail: the bytes taken off the wire since `runStart`,
    // memoized at the next seek, memo hit or close. `memoized`: the
    // current region is a memo hit, which the counters skip.
    private var runStart = 0L
    private var taken: java.io.ByteArrayOutputStream = _
    private var memoized = false

    private def key(at: Long) = (url.toString, len, at)

    private def ensureOpen(): InputStream = {
      if (in == null) {
        if (pos >= len - TailBytes) {
          val hit = tailMemo.get(key(pos))
          if (hit != null) {
            endRun()
            in = new java.io.ByteArrayInputStream(hit)
            memoized = true
            return in
          }
          if (taken == null) {
            taken = new java.io.ByteArrayOutputStream
            runStart = pos
          }
        }
        memoized = false
        conn = openSigned()
        val hi =
          if (readahead > 0) math.min(pos + readahead, len) - 1 else len - 1
        conn.setRequestProperty("Range", s"bytes=$pos-$hi")
        val rc = conn.getResponseCode
        if (rc != 206 && rc != 200)
          throw new java.io.IOException(s"$url: HTTP $rc for range $pos-")
        readOps.incrementAndGet()
        in = conn.getInputStream
        // A server MAY ignore Range and answer 200 with the whole object
        // (RFC 7233); consuming from offset 0 as if it were `pos` would
        // silently corrupt reads — skip up to position (those bytes DID
        // cross the wire, so they count).
        if (rc == 200 && pos > 0) {
          in.skipNBytes(pos)
          bytesRead.addAndGet(pos)
        }
      }
      in
    }

    private def closeCurrent(): Unit = {
      if (in != null) {
        in.close(); if (conn != null) conn.disconnect(); in = null; conn = null
      }
    }

    private def endRun(): Unit = {
      if (taken != null) remember(key(runStart), taken.toByteArray)
      taken = null
    }

    override def seek(newPos: Long): Unit = {
      if (newPos != pos) { endRun(); closeCurrent(); pos = newPos }
    }
    override def getPos: Long = pos
    override def seekToNewSource(targetPos: Long): Boolean = false

    override def read(): Int = {
      if (pos >= len) return -1
      var b = ensureOpen().read()
      if (b < 0) { // readahead window exhausted mid-object: next window
        closeCurrent()
        b = ensureOpen().read()
      }
      if (b >= 0) {
        pos += 1
        if (!memoized) {
          bytesRead.incrementAndGet()
          if (taken != null) taken.write(b)
        }
      }
      b
    }

    override def read(b: Array[Byte], off: Int, l: Int): Int = {
      if (pos >= len) return -1
      var n = ensureOpen().read(b, off, l)
      if (n < 0) { // readahead window exhausted mid-object: next window
        closeCurrent()
        n = ensureOpen().read(b, off, l)
      }
      if (n > 0) {
        pos += n
        if (!memoized) {
          bytesRead.addAndGet(n)
          if (taken != null) taken.write(b, off, n)
        }
      }
      n
    }

    // One bounded-range GET per positioned read — the parquet footer /
    // column-chunk access pattern, and exactly one counted op each —
    // unless a tail read's range is already memoized.
    override def read(position: Long, buffer: Array[Byte], offset: Int,
                      length: Int): Int = {
      if (position >= len) return -1
      val hi = math.min(position + length, len) - 1
      val want = (hi - position + 1).toInt
      val inTail = position >= len - TailBytes
      if (inTail) {
        val hit = tailMemo.get(key(position))
        if (hit != null && hit.length >= want) {
          System.arraycopy(hit, 0, buffer, offset, want)
          return want
        }
      }
      val c = openSigned()
      c.setRequestProperty("Range", s"bytes=$position-$hi")
      try {
        val rc = c.getResponseCode
        if (rc != 206 && rc != 200)
          throw new java.io.IOException(s"$url: HTTP $rc for range $position-$hi")
        readOps.incrementAndGet()
        val s = c.getInputStream
        // range-ignoring server (200 = whole object): skip to the offset
        // instead of silently reading the wrong bytes (see ensureOpen)
        if (rc == 200 && position > 0) {
          s.skipNBytes(position)
          bytesRead.addAndGet(position)
        }
        var total = 0
        var n = 0
        while (total < length && n >= 0) {
          n = s.read(buffer, offset + total, length - total)
          if (n > 0) total += n
        }
        bytesRead.addAndGet(total)
        if (inTail)
          remember(key(position),
                   java.util.Arrays.copyOfRange(buffer, offset, offset + total))
        total
      } finally c.disconnect()
    }

    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
                           length: Int): Unit = {
      val n = read(position, buffer, offset, length)
      if (n < length)
        throw new EOFException(s"$url: wanted $length bytes at $position, got $n")
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)

    // Parquet asks for a row group's column chunks in one vectored call.
    // Hadoop's default makes one positioned GET per range; here ranges
    // closer than `minSeekForVectorReads` merge (up to
    // `maxReadSizeForVectorReads`) and each merged range is one counted
    // positioned read, so a row group whose read columns lie together is
    // one GET, and the gaps between merged ranges are bytes off the wire.
    override def readVectored(ranges: java.util.List[_ <: FileRange],
                              allocate: IntFunction[ByteBuffer]): Unit = {
      val sorted = VectoredReadUtils.validateAndSortRanges(
        ranges, java.util.Optional.of(len))
      VectoredReadUtils.mergeSortedRanges(sorted, 1, minSeekForVectorReads,
          maxReadSizeForVectorReads).forEach { merged =>
        val parts = merged.getUnderlying
        try {
          val bytes = new Array[Byte](merged.getLength)
          readFully(merged.getOffset, bytes, 0, bytes.length)
          parts.forEach { r =>
            val buf = allocate(r.getLength)
            buf.put(bytes, (r.getOffset - merged.getOffset).toInt, r.getLength)
            buf.flip()
            r.setData(CompletableFuture.completedFuture(buf))
          }
        } catch { case e: IOException =>
          parts.forEach(r => r.setData(CompletableFuture.failedFuture(e)))
        }
      }
    }

    override def close(): Unit = { endRun(); closeCurrent() }
  }
}
