package jobbench

import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream,
  FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with every top-level metadata and data-open
  * call recorded in [[FsTrace]]. Installed for the traced run only,
  * through `spark.hadoop.fs.file.impl`.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import FsTrace.op

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    op("open", f)(super.open(f, bufferSize))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    op("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    op("create", f)(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    op("rename", src)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    op("delete", f)(super.delete(f, recursive))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    op("mkdirs", f)(super.mkdirs(f, permission))

  override def mkdirs(f: Path): Boolean = op("mkdirs", f)(super.mkdirs(f))

  override def getFileStatus(f: Path): FileStatus =
    op("stat", f)(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    FsTrace.list(f)(super.listStatus(f))

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    op("list", f)(super.listLocatedStatus(f))

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    op("list", f)(super.listStatusIterator(f))
}

/** One recorded filesystem call. `frames` are the program's
  * (`graft.`) and the benchmark's (`jobbench.`) stack frames,
  * innermost first, as `Class.method`; `entries` is the number of
  * statuses a list returned.
  */
final case class FsOp(kind: String, path: String, startNs: Long, endNs: Long,
    executor: Boolean, committer: Boolean,
    frames: Vector[String], entries: Int) {
  def innermost: String = Trace.innermost(frames)
  def layer: String = Trace.layerOf(frames)
  def under(marker: String): Boolean = frames.exists(_.contains(marker))
}

object FsTrace {
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[FsOp]()

  private val walker =
    java.lang.StackWalker.getInstance(java.lang.StackWalker.Option.SHOW_HIDDEN_FRAMES)

  /** Count only the outermost call per thread, so a wrapper method
    * that delegates to another counted one records one op.
    */
  def op[T](kind: String, p: Path)(body: => T): T = timed[T](kind, p)(body, (_: T) => 0)

  def list(p: Path)(body: => Array[FileStatus]): Array[FileStatus] =
    timed[Array[FileStatus]]("list", p)(body, (a: Array[FileStatus]) => if (a == null) 0 else a.length)

  private def timed[T](kind: String, p: Path)(body: => T, entries: T => Int): T = {
    val d = depth.get
    if (d > 0 || !Trace.on) body
    else {
      depth.set(1)
      val t0 = System.nanoTime()
      try {
        val r = body
        record(kind, p, t0, entries(r))
        r
      } finally depth.set(0)
    }
  }

  private def record(kind: String, p: Path, t0: Long, n: Int): Unit = {
    val t1 = System.nanoTime()
    var committer = false
    val frames = Vector.newBuilder[String]
    walker.forEach { f =>
      val c = f.getClassName
      if (c.startsWith("graft.") || c.startsWith("jobbench.")) {
        if (!c.startsWith("jobbench.Counting") && !c.startsWith("jobbench.FsTrace"))
          frames += s"$c.${f.getMethodName}"
      } else if (c.contains("OutputCommitter") || c.contains("FileFormatWriter") ||
        c.contains("HadoopMapReduceCommitProtocol")) committer = true
    }
    val executor = Thread.currentThread.getName.startsWith("Executor task launch")
    ops.add(FsOp(kind, p.toString, t0, t1, executor, committer,
      frames.result(), n))
  }
}
