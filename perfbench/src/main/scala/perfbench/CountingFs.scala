package perfbench

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, Path, RawLocalFileSystem}

/** A local Hadoop `FileSystem` under the `cfs:` scheme that counts what the
  * program opens and reads. The traced run points the tree URI at it
  * (`cfs:///abs/tree`); executors of a `local[n]` session share the JVM,
  * so the counters see every task. */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = CountingFs.Uri
  override def getScheme: String = CountingFs.Scheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.opens.computeIfAbsent(f.toUri.getPath, _ => new AtomicLong())
      .incrementAndGet()
    new FSDataInputStream(new CountingFs.CountingIn(super.open(f, bufferSize)))
  }
}

object CountingFs {
  val Scheme = "cfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** Opens per path, and bytes read through opened streams. */
  val opens = new ConcurrentHashMap[String, AtomicLong]()
  val bytesRead = new AtomicLong()

  def reset(): Unit = { opens.clear(); bytesRead.set(0L) }
  def objectsOpened: Long = {
    var n = 0L; opens.values().forEach(v => n += v.get()); n
  }
  def openedPaths: Seq[String] = {
    val b = Seq.newBuilder[String]; opens.keySet().forEach(k => b += k); b.result().sorted
  }

  /** The Hadoop configuration key that maps the scheme to this class. */
  val ConfKey = s"fs.$Scheme.impl"

  /** A local path as a URI on the counting file system. */
  def uriOf(localPath: String): String = s"$Scheme://$localPath"

  final class CountingIn(in: FSDataInputStream) extends FSInputStream {
    private def add(n: Int): Int = { if (n > 0) bytesRead.addAndGet(n); n }
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
    override def read(): Int = { val b = in.read(); if (b >= 0) bytesRead.incrementAndGet(); b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = add(in.read(b, off, len))
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
      add(in.read(pos, b, off, len))
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }
}
