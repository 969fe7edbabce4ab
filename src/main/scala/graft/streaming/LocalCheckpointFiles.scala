package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager of the program's streams ([[Pipeline.startStream]]).
  * On `file:` paths it is Spark's FileSystemBasedCheckpointFileManager over
  * one shared checksummed LocalFileSystem whose chmod is a java.nio call:
  * without the native Hadoop library, Hadoop forks a `chmod` per created
  * file and directory, and Spark's default FileContext manager a `readlink`
  * per rename, ~2.5 ms each. The files are the default manager's: `.crc`
  * side files, temp file + rename, FileAlreadyExistsException on an
  * existing target without overwrite, the umask's mode. Any other scheme
  * gets Spark's default manager. */
final class LocalCheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {
  private val files: CheckpointFileManager =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file")
      new FileSystemBasedCheckpointFileManager(path, conf) {
        override protected val fs: FileSystem = LocalCheckpointFiles.localFs(conf)
      }
    else {
      val stock = new Configuration(conf)
      stock.unset(LocalCheckpointFiles.ManagerKey)
      CheckpointFileManager.create(path, stock)
    }

  def createAtomic(p: Path, overwriteIfPossible: Boolean) = files.createAtomic(p, overwriteIfPossible)
  def open(p: Path) = files.open(p)
  def list(p: Path, filter: PathFilter) = files.list(p, filter)
  def mkdirs(p: Path): Unit = files.mkdirs(p)
  def exists(p: Path): Boolean = files.exists(p)
  def delete(p: Path): Unit = files.delete(p)
  def isLocal: Boolean = files.isLocal
  def createCheckpointDirectory(): Path = files.createCheckpointDirectory()
  override def close(): Unit = files.close()
}

object LocalCheckpointFiles {
  /** Spark's internal conf: the class a query builds its checkpoint file managers from. */
  val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private var shared: FileSystem = _

  /** One instance for all managers, set up from the first conf it sees (as
    * Hadoop's FileSystem cache does): a copy per manager costs heap. */
  private def localFs(conf: Configuration): FileSystem = synchronized {
    if (shared == null) {
      val fs = new LocalFileSystem(new RawLocalFileSystem {
        override def setPermission(p: Path, permission: FsPermission): Unit = {
          val bits = permission.toShort // PosixFilePermission runs OWNER_READ (0400) … OTHERS_EXECUTE
          Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermission.values
            .filter(q => (bits >> (8 - q.ordinal) & 1) == 1).toSet.asJava)
        }
      })
      fs.initialize(URI.create("file:///"), conf)
      shared = fs
    }
    shared
  }
}
