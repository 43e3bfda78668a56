package graft.streaming

import graft.ops.Sources
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The proofs' checkpoint manager publishes a file only by an atomic
  * rename, never leaves a temp file behind and handles `file:` paths
  * only. Each manager is built the way Spark builds one: by
  * `CheckpointFileManager.create` from the conf key the proof scope sets.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def manager(dir: String): CheckpointFileManager = {
    val conf = new Configuration()
    conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[LocalCheckpointFileManager].getName)
    val fm = CheckpointFileManager.create(new Path(dir), conf)
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    fm
  }

  private def write(fm: CheckpointFileManager, p: Path, overwrite: Boolean,
      text: String) = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out
  }

  private def read(p: Path): String =
    new String(Files.readAllBytes(Paths.get(p.toUri.getPath)), UTF_8)

  private def names(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet

  test("a file is invisible until close") {
    val dir = Sources.scratch("graft_lcfm")
    val fm = manager(dir)
    val p = new Path(dir, "0")
    val out = write(fm, p, overwrite = false, "v1")
    assert(!fm.exists(p) && !fm.list(new Path(dir)).exists(_.getPath.getName == "0"))
    out.close()
    assert(fm.exists(p) && read(p) == "v1")
    assert(names(dir) == Set("0"), "no temp file and no .crc sidecar")
  }

  test("cancel leaves no temp file") {
    val dir = Sources.scratch("graft_lcfm")
    val fm = manager(dir)
    val out = write(fm, new Path(dir, "0"), overwrite = false, "v1")
    assert(names(dir).nonEmpty)
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("no-overwrite onto an existing file throws, keeps the file and drops the temp") {
    val dir = Sources.scratch("graft_lcfm")
    val fm = manager(dir)
    val p = new Path(dir, "0")
    write(fm, p, overwrite = false, "v1").close()
    val out = write(fm, p, overwrite = false, "v2")
    intercept[FileAlreadyExistsException](out.close())
    assert(read(p) == "v1" && names(dir) == Set("0"))
  }

  test("overwrite replaces the file in one rename") {
    val dir = Sources.scratch("graft_lcfm")
    val fm = manager(dir)
    val p = new Path(dir, "0")
    write(fm, p, overwrite = true, "v1").close()
    val out = write(fm, p, overwrite = true, "v2")
    assert(read(p) == "v1")
    out.close()
    assert(read(p) == "v2" && names(dir) == Set("0"))
  }

  test("directories are created and a non-file: path is rejected") {
    val dir = Sources.scratch("graft_lcfm")
    val fm = manager(s"$dir/ck")
    assert(fm.createCheckpointDirectory().toUri.getScheme == "file")
    fm.mkdirs(new Path(s"$dir/ck/offsets"))
    assert(Files.isDirectory(Paths.get(s"$dir/ck/offsets")))
    intercept[IllegalArgumentException](
      new LocalCheckpointFileManager(new Path("hdfs://namenode:8020/ck"), new Configuration()))
    intercept[IllegalArgumentException](
      fm.createAtomic(new Path("hdfs://namenode:8020/ck/0"), false))
  }
}
