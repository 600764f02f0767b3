package graft.streaming

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, FsConstants, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Spark `CheckpointFileManager` that keeps local checkpoints off the
  * process-fork path.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` shells out to
  * `chmod` on every file create and mkdir, and Spark's default
  * FileContext-based manager adds `readlink` forks on every rename. A
  * micro-batch writes a handful of checkpoint files per stateful
  * partition (offset/commit logs, state-store deltas and snapshots, the
  * sink's `_spark_metadata`), so a small stream spends most of its
  * wall time in `fork`, not in rows.
  *
  *   - `file:` paths (and scheme-less ones under a `file:///` default
  *     FS) go through Spark's FileSystem-based manager over a private
  *     Hadoop `LocalFileSystem` whose raw layer reads and sets modes with
  *     `java.nio` ([[LocalCheckpointFileManager.NioRawLocalFileSystem]]).
  *     The checksum layer is Hadoop's own, so the same `.crc` sidecars
  *     are written. Reads verify them: a corrupted checkpoint file fails
  *     with `ChecksumException`, where Spark's default FileContext-based
  *     manager (Hadoop 3.4 `LocalFs`) reads the raw bytes unchecked.
  *   - Every other path gets exactly Spark's default manager
  *     (`CheckpointFileManager.create` with this class unset), so HDFS
  *     and object-store checkpoints are untouched.
  *
  * Installed through Spark's `spark.sql.streaming.checkpointFileManagerClass`
  * by [[LocalCheckpointFileManager.install]]; contract pinned against the
  * default manager in CheckpointFileManagerSpec.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (Option(path.toUri.getScheme)
        .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file")
      new LocalCheckpointFileManager.ForkFreeManager(path, hadoopConf)
    else {
      val stock = new Configuration(hadoopConf)
      stock.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, stock)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Makes this manager the session's checkpoint file manager unless the
    * session already names one. Called by every graft.streaming source,
    * before the query starts: a query's session conf is cloned at
    * `start()`.
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  /** Permission bits of a mode word (07777). */
  private val ModeBits = 0xfff

  /** Spark's FileSystem-based manager over Hadoop's checksummed
    * `LocalFileSystem` on a [[NioRawLocalFileSystem]], configured as
    * `FileSystem.get` configures the cached one. */
  private[graft] class ForkFreeManager(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override val fs: FileSystem = {
      val local = new LocalFileSystem(new NioRawLocalFileSystem)
      local.setConf(conf)
      local.initialize(FsConstants.LOCAL_FS_URI, conf)
      local
    }
  }

  /** `RawLocalFileSystem` that reads and sets file modes through the JDK's
    * `unix` attribute view (one `stat`/`chmod` syscall) instead of forking
    * `chmod`, `ls` or `stat`. The permission bits and the sticky bit
    * round-trip as they do through the shell commands. The `unix` view
    * exists on every POSIX JDK (Linux, macOS).
    */
  private[graft] class NioRawLocalFileSystem extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setAttribute(pathToFile(p).toPath, "unix:mode",
        Integer.valueOf(permission.toShort & ModeBits))

    override def getFileStatus(f: Path): FileStatus = {
      val file = pathToFile(f)
      val a = try Files.readAttributes(file.toPath,
          "unix:mode,size,isDirectory,lastModifiedTime,lastAccessTime,owner,group")
        catch { case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $f does not exist") }
      def attr[T](k: String) = a.get(k).asInstanceOf[T]
      new FileStatus(attr[java.lang.Long]("size"), attr[java.lang.Boolean]("isDirectory"),
        1, getDefaultBlockSize(f),
        attr[FileTime]("lastModifiedTime").toMillis,
        attr[FileTime]("lastAccessTime").toMillis,
        new FsPermission((attr[Integer]("mode") & ModeBits).toShort),
        attr[UserPrincipal]("owner").getName, attr[GroupPrincipal]("group").getName,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }

    /** A directory's entries already go through [[getFileStatus]]; a plain
      * file would get Hadoop's lazily forking status object instead. */
    override def listStatus(f: Path): Array[FileStatus] =
      if (Files.isDirectory(pathToFile(f).toPath)) super.listStatus(f)
      else Array(getFileStatus(f))
  }
}
