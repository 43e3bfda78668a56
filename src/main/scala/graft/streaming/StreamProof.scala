package graft.streaming

import graft.GraftSession
import graft.ops.Sources
import java.io.{BufferedOutputStream, File}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, FSDataOutputStream, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** The lifecycle of a gated streaming proof (the `graft.ops.Events`
  * e-queries): a static file fixture streamed through a real
  * micro-batch query, drained, stopped and read back as a batch result
  * the oracle can check. This is the only code that starts, drains or
  * cleans up such a query.
  *
  * '''Conf scope''' ([[withProofConf]]), per query, since a fresh
  * checkpoint pins these at query start:
  *  - ''state partitions ≤ 2.'' Every stateful micro-batch commits one
  *    state-store instance per stateful operator per shuffle partition
  *    (open + delta + snapshot bookkeeping each trigger). At 32
  *    partitions a 4-trigger symmetric join writes ~500 tiny state files
  *    for a 100 k-row fixture; at 8 the streaming family spent ~¼ of its
  *    27 s in that churn, while the proofs' state is a few hundred keys.
  *    Production sizes state partitions to stream volume too (state must
  *    fit per-partition memory), so a deployment that sets the session
  *    default high keeps it: the scope only ever lowers to the gate size.
  *  - ''one class loader.'' `start()` runs the query on a clone of the
  *    session, and with artifact isolation on (Spark's default) the clone
  *    gets a class loader of its own. `CodeGenerator`'s cache is keyed by
  *    class loader and source, so every stream recompiled code the JVM had
  *    already compiled, though the sources are byte-identical from run to
  *    run. With `spark.sql.artifact.isolation.enabled=false` the clone
  *    shares the session's loader and its codegen cache, and the proofs
  *    run generated code, as production streams and every batch query do.
  *    No proof adds artifacts, so isolation guarded nothing here.
  *  - ''the checkpoint manager'', [[LocalCheckpointFileManager]] (see
  *    Checkpoints).
  *  - the caller's `extra` pairs, e.g. [[RocksDBStateStore]] or
  *    [[NoDataBatchesOff]].
  *
  * '''Checkpoints''' are per-run scaffolding (offset WAL, state deltas,
  * commit log), not the data path; production jobs put them on HDFS/S3.
  * Each query gets a fresh one under a per-JVM root on tmpfs
  * (`/dev/shm/graft_stream_ck/<uuid>`, or the temp dir when `/dev/shm`
  * is absent): on a disk-backed temp dir every trigger paid real fsync
  * latency for throwaway metadata. They are written through
  * [[LocalCheckpointFileManager]]: without libhadoop, Spark's default
  * manager has Hadoop fork a `chmod` or `readlink` process for every
  * offset, commit and state file and each `.crc` sidecar (181 forks per
  * e1b run, most of its commit phase). The checkpoint is deleted when its
  * query stops (Spark never deletes a user-specified one), and the root
  * goes with the scratch dirs at JVM exit. The root is per JVM because
  * deleting the shared parent would clobber a concurrently running JVM's
  * live checkpoints.
  *
  * '''Results''': [[toMemory]] hands back the memory sink's table and
  * drops its view, so a long-lived session keeps no sink rows once the
  * result is gone; [[drain]] serves the parquet and `foreachBatch`
  * sinks; [[twoLifetimes]] runs the restart-recovery shape.
  */
private[graft] object StreamProof {

  /** RocksDB state-store provider, required by transformWithState. */
  val RocksDBStateStore: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Spark schedules one extra no-data micro-batch whenever the watermark
    * advanced, purely to evict state and emit watermark-driven results.
    * Proofs whose emission is arrival-driven (inner joins, append-mode
    * dedup, update-mode aggs, data-driven session/pattern flushes) get
    * nothing from that batch: it costs a full trigger (~0.3–0.7 s) and
    * emits zero rows, so they turn it off. Proofs whose results are
    * watermark-driven (the outer joins' NULL rows) must keep it. */
  val NoDataBatchesOff: (String, String) =
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** The directory every proof checkpoint lives under. */
  private[graft] lazy val checkpointRoot: File = {
    val shm = new File("/dev/shm")
    val dir =
      if (shm.isDirectory && shm.canWrite) {
        val d = new File(new File(shm, "graft_stream_ck"), UUID.randomUUID().toString)
        d.mkdirs()
        d
      } else Files.createTempDirectory("graft_stream_ck").toFile
    Sources.deleteAtExit(dir)
    dir
  }

  /** Runs `f` under the proof conf scope (see the class doc). */
  def withProofConf[T](s: SparkSession, extra: (String, String)*)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    GraftSession.withConf(s, Seq(
      key -> math.min(s.conf.get(key).toInt, 2).toString,
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[LocalCheckpointFileManager].getName) ++ extra: _*)(f)
  }

  /** A file-source stream over the parquet files at `path`. */
  def files(s: SparkSession, schema: StructType, path: String,
      perTrigger: Int): DataFrame =
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", perTrigger.toString).parquet(path)

  /** Streams `ds` into a memory sink in output `mode` until the source
    * is drained, and returns the sink's final table. The sink's view is
    * dropped before this returns; the result keeps the sink itself. */
  def toMemory(ds: Dataset[_], mode: String): DataFrame = {
    val s = ds.sparkSession
    val name = "graft_proof_" + UUID.randomUUID().toString.replace("-", "")
    try {
      drain(ds.writeStream.format("memory").queryName(name).outputMode(mode))
      s.table(name)
    } finally s.catalog.dropTempView(name)
  }

  /** Starts `w` on a fresh checkpoint, drains the source, stops the
    * query and deletes the checkpoint. */
  def drain(w: DataStreamWriter[_]): Unit = {
    val ck = freshCheckpoint()
    try run(w, ck) finally FileUtils.deleteQuietly(ck)
  }

  /** Restart recovery: `query` over the parquet files in `fixture`,
    * written to a parquet sink by two query lifetimes on one checkpoint.
    * The first lifetime sees the first half of the files (by name); the
    * second starts after the rest have landed and must resume where the
    * first stopped. Returns the sink directory. */
  def twoLifetimes(s: SparkSession, schema: StructType, fixture: String,
      perTrigger: Int)(query: DataFrame => DataFrame): String = {
    val all = new File(fixture).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val work = Sources.scratch("graft_restart")
    val src = new File(work, "src")
    src.mkdirs()
    val (first, rest) = all.splitAt(all.size / 2)
    val ck = freshCheckpoint()
    try Seq(first, rest).foreach { half =>
      half.foreach(f => Files.copy(f.toPath, new File(src, f.getName).toPath,
        StandardCopyOption.REPLACE_EXISTING))
      run(query(files(s, schema, src.getPath, perTrigger))
        .writeStream.format("parquet").option("path", s"$work/data")
        .outputMode("append"), ck)
    } finally FileUtils.deleteQuietly(ck)
    s"$work/data"
  }

  private def freshCheckpoint(): File = new File(checkpointRoot, UUID.randomUUID().toString)

  private def run(w: DataStreamWriter[_], ck: File): Unit = {
    val q = w.option("checkpointLocation", ck.getPath).start()
    try q.processAllAvailable() finally q.stop()
  }
}

/** The checkpoint manager of the proofs: Spark's FileSystem-based
  * manager with every write done through java.nio, for `file:` paths
  * only. Hadoop's local file system sets the permission of each file and
  * directory it creates, and without libhadoop that forks `chmod`; the
  * FileContext-based default also forks `readlink` on every rename.
  * Here a file is written to a temp file by `Files.newOutputStream` and
  * published by an atomic rename, so it is invisible until `close`; a
  * temp file that may not replace an existing file is deleted. Directories
  * come from `Files.createDirectories`. Reads, listings and
  * deletes stay with the parent. No `.crc` sidecar is written; Hadoop
  * reads a file without one unverified.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(
      LocalCheckpointFileManager.requireLocal(path, hadoopConf), hadoopConf) {

  /** `p` as a java.nio path; a path of another file system fails. */
  private def local(p: Path): java.nio.file.Path =
    Paths.get(fs.makeQualified(p).toUri)

  override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

  override def createTempFile(p: Path): FSDataOutputStream = {
    val f = local(p)
    Files.createDirectories(f.getParent)
    new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
  }

  override def renameTempFile(src: Path, dst: Path,
      overwriteIfPossible: Boolean): Unit = {
    val (s, d) = (local(src), local(dst))
    if (!overwriteIfPossible && Files.exists(d)) {
      Files.delete(s)
      throw new FileAlreadyExistsException(s"$dst exists; not overwriting it")
    }
    Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
  }

  override def createCheckpointDirectory(): Path = {
    val q = fs.makeQualified(path)
    Files.createDirectories(local(q))
    q
  }
}

object LocalCheckpointFileManager {
  private def requireLocal(p: Path, conf: Configuration): Path = {
    val scheme = Option(p.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    require(scheme == "file",
      s"LocalCheckpointFileManager handles file: paths only, not $p")
    p
  }
}
