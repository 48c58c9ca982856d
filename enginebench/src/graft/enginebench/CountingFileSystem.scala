package graft.enginebench

import java.util.EnumSet
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A `file:` file system that counts metadata operations and bytes per
  * table root, for the traced run only (registered through
  * `spark.hadoop.fs.file.impl`; `CountingLocalFs` counts the `FileContext`
  * renames into the same counters). Hadoop's own `LocalFileSystem` statistics
  * report 0 read and write ops for these calls, so the wrapper counts them
  * itself, once per call at the public entry point. The checksum layer
  * below it (`.crc` side files) is not counted separately.
  */
final class CountingFileSystem extends FilterFileSystem(new LocalFileSystem()) {
  import CountingFileSystem._

  override def getScheme: String = "file"

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val r = count(f, "open")
    if (r == null) super.open(f, bufferSize)
    else {
      if (f.getName.endsWith(".gz")) add(r, "open_gz", 1)
      new FSDataInputStream(new CountingInput(super.open(f, bufferSize), counter(r, "bytes_read")))
    }
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    wrapOut(f, count(f, "create"),
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt): FSDataOutputStream =
    wrapOut(f, count(f, "create"),
      super.create(f, permission, flags, bufferSize, replication, blockSize, progress, checksumOpt))

  override def createNonRecursive(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    wrapOut(f, count(f, "create"),
      super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress))

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    wrapOut(f, count(f, "create"), super.append(f, bufferSize, progress))

  override def rename(src: Path, dst: Path): Boolean = { count(src, "rename"); super.rename(src, dst) }

  override def delete(f: Path, recursive: Boolean): Boolean = { count(f, "delete"); super.delete(f, recursive) }

  override def listStatus(f: Path): Array[FileStatus] = { count(f, "list"); super.listStatus(f) }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    count(f, "list"); super.listLocatedStatus(f)
  }

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    count(f, "list"); super.listStatusIterator(f)
  }

  override def getFileStatus(f: Path): FileStatus = { count(f, "status"); super.getFileStatus(f) }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count(f, "mkdirs"); super.mkdirs(f, permission)
  }

  override def mkdirs(f: Path): Boolean = { count(f, "mkdirs"); super.mkdirs(f) }

  private def wrapOut(f: Path, root: String, out: FSDataOutputStream): FSDataOutputStream =
    if (root == null) out
    else new FSDataOutputStream(new CountingOutput(out, counter(root, "bytes_written")), null)
}

object CountingFileSystem {
  val ops: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete", "mkdirs")
  val byteKinds: Seq[String] = Seq("bytes_read", "bytes_written")

  private val counters = new ConcurrentHashMap[String, LongAdder]()
  // (absolute path prefix, root name); longest prefix wins
  @volatile private var roots: Seq[(String, String)] = Nil
  /** While paused, calls are not counted: the benchmark's own metadata
    * probes between batches must not show up as engine IO.
    */
  @volatile var paused: Boolean = false

  def register(name: String, dir: String): Unit = synchronized {
    val prefix = new java.io.File(dir).getAbsoluteFile.toPath.normalize.toString
    roots = ((prefix, name) +: roots.filterNot(_._2 == name)).sortBy(-_._1.length)
  }

  /** Count one `op` on `f` against its root; returns the root's name, or
    * null when `f` is under no registered root (or counting is paused).
    */
  def count(f: Path, op: String): String = {
    val r = rootOf(f)
    if (r != null) add(r, op, 1)
    r
  }

  private def rootOf(f: Path): String = {
    if (paused) return null
    val p = f.toUri.getPath
    if (p == null) return null
    val it = roots.iterator
    while (it.hasNext) {
      val (prefix, name) = it.next()
      if (p == prefix || (p.startsWith(prefix) && p.charAt(prefix.length) == '/')) return name
    }
    null
  }

  private def counter(root: String, kind: String): LongAdder =
    counters.computeIfAbsent(s"$root.$kind", _ => new LongAdder)

  private def add(root: String, kind: String, n: Long): Unit = counter(root, kind).add(n)

  /** Current totals, keyed `root.kind`. */
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap
  }

  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }

  /** Run a known operation sequence under a scratch root and require the
    * counted deltas to match it exactly; fail the run otherwise.
    */
  def selfCheck(fs: FileSystem, dir: String): Unit = {
    require(fs.isInstanceOf[CountingFileSystem],
      s"traced run needs the counting file system, got ${fs.getClass.getName}")
    register("selfcheck", dir)
    val d = new Path(dir)
    val before = snapshot()
    fs.mkdirs(d)
    val out = fs.create(new Path(d, "a"), true)
    out.write(new Array[Byte](1000))
    out.close()
    fs.listStatus(d)
    fs.rename(new Path(d, "a"), new Path(d, "b"))
    fs.getFileStatus(new Path(d, "b"))
    val in = fs.open(new Path(d, "b"))
    in.readFully(0L, new Array[Byte](1000))
    in.close()
    fs.delete(d, true)
    val got = delta(snapshot(), before).filter(_._1.startsWith("selfcheck.")).filter(_._2 != 0L)
    val want = Map("mkdirs" -> 1L, "create" -> 1L, "list" -> 1L, "rename" -> 1L, "status" -> 1L,
      "open" -> 1L, "delete" -> 1L, "bytes_written" -> 1000L, "bytes_read" -> 1000L)
      .map { case (k, v) => s"selfcheck.$k" -> v }
    require(got == want, s"counting file system self-check: want $want, got $got")
    // a FileContext rename (its own existence probes aside) counts once
    fs.create(new Path(d, "c"), true).close()
    val renames = snapshot().getOrElse("selfcheck.rename", 0L)
    FileContext.getFileContext(d.toUri, fs.getConf)
      .rename(new Path(d, "c"), new Path(d, "e"), Options.Rename.NONE)
    require(snapshot().getOrElse("selfcheck.rename", 0L) == renames + 1,
      "counting file system self-check: FileContext rename not counted")
    fs.delete(d, true)
  }
}

private final class CountingOutput(out: java.io.OutputStream, bytes: LongAdder)
    extends java.io.OutputStream {
  override def write(b: Int): Unit = { out.write(b); bytes.add(1) }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = { out.write(b, off, len); bytes.add(len.toLong) }
  override def flush(): Unit = out.flush()
  override def close(): Unit = out.close()
}

private final class CountingInput(in: FSDataInputStream, bytes: LongAdder) extends FSInputStream {
  override def read(): Int = { val b = in.read(); if (b >= 0) bytes.add(1); b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(b, off, len); if (n > 0) bytes.add(n.toLong); n
  }
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(pos, b, off, len); if (n > 0) bytes.add(n.toLong); n
  }
  override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(pos, b, off, len); bytes.add(len.toLong)
  }
  override def readFully(pos: Long, b: Array[Byte]): Unit = readFully(pos, b, 0, b.length)
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def skip(n: Long): Long = in.skip(n)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}
