package graft.io

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, LocalFileSystem,
  Path}

/** The local filesystem with the read accounting of
  * [[GraftHttpFileSystem]]: the reference's monitored FileSystem
  * (runner.cc:75–172) counts every read request and its bytes whatever
  * the scheme, so `file://` sources get the same stat-block meaning as
  * objects. A request is one positioned read, or one run of sequential
  * reads from the position a seek (or the open) left — what one ranged
  * GET serves on ghttp. Bytes are the bytes handed to the reader.
  *
  * Register with `spark.hadoop.fs.file.impl =
  * graft.io.CountingLocalFileSystem` (the runner's session does).
  * Counters are JVM-global, as Hadoop caches FileSystem instances;
  * [[CountingLocalFileSystem.snapshot]] gives the per-run delta. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    new FSDataInputStream(
      new CountingLocalFileSystem.Counted(super.open(f, bufferSize)))
}

object CountingLocalFileSystem {
  /** Read requests, as defined above. */
  val readOps = new AtomicLong(0)
  /** Bytes read. */
  val bytesRead = new AtomicLong(0)

  def snapshot: (Long, Long) = (readOps.get(), bytesRead.get())

  private final class Counted(in: FSDataInputStream) extends FSInputStream {
    /** Where a read continuing the current request would start. */
    private var next = -1L

    private def sequential(at: Long, n: Int): Unit = if (n > 0) {
      if (at != next) readOps.incrementAndGet()
      next = at + n
      bytesRead.addAndGet(n)
    }

    override def read(): Int = {
      val at = in.getPos
      val b = in.read()
      if (b >= 0) sequential(at, 1)
      b
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val at = in.getPos
      val n = in.read(b, off, len)
      sequential(at, n)
      n
    }

    override def read(position: Long, buffer: Array[Byte], offset: Int,
                      length: Int): Int = {
      val n = in.read(position, buffer, offset, length)
      if (n > 0) { readOps.incrementAndGet(); bytesRead.addAndGet(n) }
      n
    }

    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
                           length: Int): Unit = {
      in.readFully(position, buffer, offset, length)
      readOps.incrementAndGet()
      bytesRead.addAndGet(length)
    }

    override def skip(n: Long): Long = in.skip(n)
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean =
      in.seekToNewSource(targetPos)
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }
}
