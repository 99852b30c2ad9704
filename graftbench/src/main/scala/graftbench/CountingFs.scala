package graftbench

import java.io.FilterOutputStream
import java.util.concurrent.CompletableFuture
import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem,
  LocatedFileStatus, Options, Path, PathFilter, RemoteIterator}
import org.apache.hadoop.fs.impl.OpenFileParameters
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Hadoop FS operation counts by kind and by graft path class.
  *
  * One process-wide registry: executors of a `local[N]` session run in
  * the driver JVM, so task-side opens and creates land here too.
  */
object FsCounts {
  val Kinds: IndexedSeq[String] =
    IndexedSeq("open", "create", "rename", "delete", "list", "status", "mkdirs")
  val Classes: IndexedSeq[String] = IndexedSeq("data", "log", "meta", "lock", "dv", "stats")

  private val ops = new AtomicLongArray(Kinds.size * Classes.size)
  private val written = new AtomicLongArray(Classes.size)
  // checkpoints are one log file name pattern (`c%08d.json`)
  private val checkpoints = new java.util.concurrent.atomic.AtomicLong()
  // distinct data files opened since the last `resetOpened` (pruning)
  private val opened = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def classOf(p: Path): Int = {
    val s = p.toUri.getPath
    if (s.contains("/_graft_versions")) 1
    else if (s.contains("/_graft_meta.json") || s.contains("/_graft_transforms.json")) 2
    else if (s.contains("/_graft_lock")) 3
    else if (s.contains("/_graft_dv")) 4
    else if (s.contains("/_graft_stats")) 5
    else 0
  }

  def count(kind: Int, p: Path): Unit = {
    val c = classOf(p)
    ops.incrementAndGet(kind * Classes.size + c)
    if (kind == 1 && c == 1 && p.getName.matches("c\\d{8}\\.json")) checkpoints.incrementAndGet()
    if (kind == 0 && c == 0 && p.getName.endsWith(".parquet")) opened.add(p.toUri.getPath)
  }

  def addWritten(cls: Int, n: Long): Unit = written.addAndGet(cls, n)

  /** A point-in-time copy: `ops(kind)(class)`, bytes written per class,
    * checkpoint files created.
    */
  final case class Snap(ops: Array[Long], written: Array[Long], checkpoints: Long) {
    def op(kind: String, cls: String): Long =
      ops(Kinds.indexOf(kind) * Classes.size + Classes.indexOf(cls))
    def byKind(kind: String): Long = Classes.map(op(kind, _)).sum
    def byClass(cls: String): Long = Kinds.map(op(_, cls)).sum
    def total: Long = ops.sum
    def bytes: Long = written.sum
    def bytes(cls: String): Long = written(Classes.indexOf(cls))
    def -(o: Snap): Snap = Snap(ops.zip(o.ops).map { case (a, b) => a - b },
      written.zip(o.written).map { case (a, b) => a - b }, checkpoints - o.checkpoints)
    def +(o: Snap): Snap = Snap(ops.zip(o.ops).map { case (a, b) => a + b },
      written.zip(o.written).map { case (a, b) => a + b }, checkpoints + o.checkpoints)
  }
  val Zero: Snap = Snap(new Array(Kinds.size * Classes.size), new Array(Classes.size), 0L)

  def snap(): Snap = Snap(Array.tabulate(ops.length())(ops.get),
    Array.tabulate(written.length())(written.get), checkpoints.get())

  def resetOpened(): Unit = opened.clear()
  def openedCount: Int = opened.size
}

/** `file:` filesystem that counts every outermost call into it by kind
  * and path class ([[FsCounts]]). It subclasses `LocalFileSystem`, so the
  * checksum layer (`.crc` side files, verified reads) behaves exactly as
  * in an uncounted run. Installed through `spark.hadoop.fs.file.impl`,
  * only in traced runs.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  // ChecksumFileSystem calls back into `this` (create → mkdirs, …):
  // only the outermost call is an operation of the caller
  private def counted[T](kind: Int, p: Path)(body: => T): T = {
    val d = depth.get
    if (d == 0) FsCounts.count(kind, p)
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(0, f)(super.open(f, bufferSize))
  override protected def openFileWithOptions(f: Path, params: OpenFileParameters)
      : CompletableFuture[FSDataInputStream] =
    counted(0, f)(super.openFileWithOptions(f, params))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    counted(1, f)(countBytes(f,
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)))

  override def create(f: Path, permission: FsPermission, flags: java.util.EnumSet[CreateFlag],
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable, opt: Options.ChecksumOpt): FSDataOutputStream =
    counted(1, f)(countBytes(f, super.create(f, permission, flags, bufferSize,
      replication, blockSize, progress, opt)))

  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    counted(1, f)(countBytes(f, super.createNonRecursive(f, permission, overwrite,
      bufferSize, replication, blockSize, progress)))

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    counted(1, f)(countBytes(f, super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress)))

  override def rename(src: Path, dst: Path): Boolean = counted(2, src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(3, f)(super.delete(f, recursive))
  override def listStatus(f: Path): Array[FileStatus] = counted(4, f)(super.listStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted(4, f)(super.listStatusIterator(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(4, f)(super.listLocatedStatus(f))
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] =
    counted(4, f)(super.listStatus(f, filter))
  override def getFileStatus(f: Path): FileStatus = counted(5, f)(super.getFileStatus(f))
  override def mkdirs(f: Path): Boolean = counted(6, f)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted(6, f)(super.mkdirs(f, permission))

  private def countBytes(f: Path, inner: FSDataOutputStream): FSDataOutputStream = {
    val cls = FsCounts.classOf(f)
    new FSDataOutputStream(new FilterOutputStream(inner) {
      override def write(b: Int): Unit = { inner.write(b); FsCounts.addWritten(cls, 1) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        inner.write(b, off, len); FsCounts.addWritten(cls, len)
      }
      override def flush(): Unit = inner.flush()
      override def close(): Unit = inner.close()
    }, null)
  }
}

object CountingLocalFileSystem {
  private val depth = ThreadLocal.withInitial[Int](() => 0)
}
