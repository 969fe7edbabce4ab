package graft.streaming

import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The contract [[LocalCheckpointFiles]] keeps with Spark's default
  * (FileContext) checkpoint file manager on a local directory: each check
  * runs on both managers, and a file either one wrote reads back through
  * the stock manager. */
class LocalCheckpointFilesSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def managers(dir: JPath): Seq[(String, CheckpointFileManager)] = {
    val p = new Path(dir.toUri)
    Seq("local" -> new LocalCheckpointFiles(p, conf),
      "stock" -> new FileContextBasedCheckpointFileManager(p, conf))
  }

  private def write(m: CheckpointFileManager, p: Path, bytes: Array[Byte],
                    overwrite: Boolean = true): Unit = {
    val out = m.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(bytes)
    out.close()
  }

  private def stockRead(p: Path): Array[Byte] = {
    val in = new FileContextBasedCheckpointFileManager(p.getParent, conf).open(p)
    try in.readAllBytes() finally in.close()
  }

  private val payload = Array.tabulate[Byte](12 * 1024)(i => (i * 31).toByte)

  test("local writes, renames and mkdirs fork no process") {
    val dir = Files.createTempDirectory("lcf_forks")
    val (_, commands) = LocalCheckpointFilesSpec.processStarts {
      // a scheme-less path resolves to the default filesystem, file: here
      val m = new LocalCheckpointFiles(new Path(dir.toString), conf)
      m.mkdirs(new Path(dir.resolve("offsets").toUri))
      (0 until 3).foreach(i => write(m, new Path(dir.resolve(s"offsets/$i").toUri), payload))
      m.delete(new Path(dir.resolve("offsets/0").toUri))
      // the control: the recording sees a process this test starts
      new ProcessBuilder("ls", dir.toString).start().waitFor()
    }
    val mine = commands.filter(_.contains(dir.getFileName.toString))
    assert(mine.size == 1 && mine.head.startsWith("ls "), mine.mkString("\n"))
  }

  test("createAtomic without overwrite onto an existing file throws and keeps its bytes") {
    for ((name, m) <- managers(Files.createTempDirectory("lcf_exists"))) {
      val p = new Path(Files.createTempDirectory(s"lcf_exists_$name").resolve("0").toUri)
      write(m, p, payload)
      intercept[FileAlreadyExistsException](write(m, p, Array[Byte](1, 2, 3), overwrite = false))
      assert(stockRead(p).sameElements(payload), name)
    }
  }

  test("cancel leaves no target file and no temp file") {
    for ((name, m) <- managers(Files.createTempDirectory("lcf_cancel"))) {
      val dir = Files.createTempDirectory(s"lcf_cancel_$name")
      val p = new Path(dir.resolve("1").toUri)
      val out = m.createAtomic(p, overwriteIfPossible = false)
      out.write(payload)
      out.cancel()
      assert(!m.exists(p), name)
      assert(dir.toFile.list().isEmpty, s"$name: ${dir.toFile.list().mkString(",")}")
    }
  }

  test("a written file has its .crc and reads back through either manager; a flipped byte fails the read") {
    val dir = Files.createTempDirectory("lcf_crc")
    val local = new LocalCheckpointFiles(new Path(dir.toUri), conf)
    for ((name, m) <- managers(dir)) {
      val p = new Path(dir.resolve(name).toUri)
      write(m, p, payload)
      assert(Files.exists(dir.resolve(s".$name.crc")), dir.toFile.list().mkString(","))
      assert(stockRead(p).sameElements(payload), name)
      val in = local.open(p)
      assert(try in.readAllBytes().sameElements(payload) finally in.close(), name)
      val bytes = Files.readAllBytes(dir.resolve(name))
      bytes(100) = (bytes(100) ^ 1).toByte
      Files.write(dir.resolve(name), bytes)
      // the stock (FileContext) manager's read does not verify the .crc on
      // this Hadoop: it returns the flipped bytes
      withClue(name)(intercept[ChecksumException] {
        val in = local.open(p)
        try in.readAllBytes() finally in.close()
      })
    }
  }

  test("files, their .crc and directories get the stock manager's modes") {
    val modes = managers(Files.createTempDirectory("lcf_mode")).map { case (name, m) =>
      val dir = Files.createTempDirectory(s"lcf_mode_$name")
      write(m, new Path(dir.resolve("3").toUri), payload)
      m.mkdirs(new Path(dir.resolve("d/e").toUri))
      Seq("3", ".3.crc", "d", "d/e").map(f => Files.getPosixFilePermissions(dir.resolve(f)))
    }
    assert(modes.distinct.size == 1, modes)
  }
}

object LocalCheckpointFilesSpec {

  /** Runs `body` under a JFR recording of `jdk.ProcessStart`; returns its
    * result and the command line of every process started meanwhile. */
  def processStarts[T](body: => T): (T, Seq[String]) = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val file = Files.createTempFile("process_starts", ".jfr")
    try {
      rec.dump(file)
      (out, jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
        .map(_.getString("command")).toSeq)
    } finally { rec.close(); Files.delete(file) }
  }
}
