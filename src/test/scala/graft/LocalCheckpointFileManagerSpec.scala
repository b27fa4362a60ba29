package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{EventStreams, LocalCheckpointFileManager}

/** The `java.nio` checkpoint manager keeps the contract Spark's
  * metadata logs rely on, delegates non-`file:` paths, and never
  * overrides a manager the user chose. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private val T0 = 1705276800000000000L

  private def manager(dir: JPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(m: LocalCheckpointFileManager, p: Path, body: String,
                    overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  private def read(m: LocalCheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: JPath): Set[String] = {
    val st = Files.walk(dir)
    try st.iterator.asScala.filter(_ != dir).map(d => dir.relativize(d).toString).toSet
    finally st.close()
  }

  test("no-overwrite create on an existing file throws Hadoop's FileAlreadyExistsException and keeps the old bytes") {
    val dir = Files.createTempDirectory("graft_lcfm")
    val m = manager(dir)
    val p = new Path(dir.toUri.toString, "0")
    write(m, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(m, p, "second", overwrite = false)
    }
    assert(read(m, p) == "first")
    assert(names(dir) == Set("0"), s"temp file left behind: ${names(dir)}")
  }

  test("overwrite replaces the file") {
    val dir = Files.createTempDirectory("graft_lcfm")
    val m = manager(dir)
    val p = new Path(dir.toUri.toString, "state/1.delta")
    write(m, p, "old", overwrite = true)
    write(m, p, "new", overwrite = true)
    assert(read(m, p) == "new")
    assert(names(dir) == Set("state", "state/1.delta"), s"unexpected files: ${names(dir)}")
  }

  test("cancel leaves no temp file and publishes nothing") {
    val dir = Files.createTempDirectory("graft_lcfm")
    val m = manager(dir)
    val out = m.createAtomic(new Path(dir.toUri.toString, "7"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).exists(_.endsWith(".tmp")), "bytes must stage in a temp file")
    out.cancel()
    out.close() // after cancel: a no-op, as in Spark's manager
    assert(names(dir).isEmpty, s"cancel left files: ${names(dir)}")
  }

  test("list honours its filter; open, exists and delete behave like Hadoop's") {
    val dir = Files.createTempDirectory("graft_lcfm")
    val m = manager(dir)
    val root = new Path(dir.toUri.toString)
    Seq("1", "2", "10", ".3.tmp").foreach(n => write(m, new Path(root, n), n, overwrite = false))
    val numeric: PathFilter = (p: Path) => p.getName.forall(_.isDigit)
    val listed = m.list(root, numeric)
    assert(listed.map(_.getPath.getName).toSet == Set("1", "2", "10"))
    assert(listed.forall(s => s.isFile && s.getLen == s.getPath.getName.length))
    // listed paths are absolute file: paths Spark can reopen
    assert(listed.forall(s => s.getPath.toUri.getScheme == "file"))
    assert(read(m, listed.find(_.getPath.getName == "10").get.getPath) == "10")
    assert(m.list(root).length == 4)

    assert(m.exists(new Path(root, "2")) && !m.exists(new Path(root, "9")))
    intercept[java.io.FileNotFoundException](m.open(new Path(root, "9")))
    m.delete(new Path(root, "2"))
    m.delete(new Path(root, "9")) // missing: not an error
    assert(!m.exists(new Path(root, "2")))
    m.mkdirs(new Path(root, "a/b"))
    write(m, new Path(root, "a/b/c"), "c", overwrite = false)
    m.delete(new Path(root, "a")) // recursive
    assert(!Files.exists(dir.resolve("a")))
  }

  test("a non-file: path is delegated to Spark's FileContext manager") {
    val dir = Files.createTempDirectory("graft_lcfm")
    // a viewfs mount onto the temp dir: a different scheme that still
    // lands on local disk, so the delegate's writes are observable
    val conf = new Configuration()
    conf.set("fs.viewfs.mounttable.graft.link./ckpt", dir.toUri.toString)
    val root = new Path("viewfs://graft/ckpt")
    val m = new LocalCheckpointFileManager(root, conf)
    val out = m.createAtomic(new Path(root, "0"), overwriteIfPossible = false)
    out.write("v".getBytes(UTF_8))
    out.close()
    assert(Files.readString(dir.resolve("0")) == "v")
    // Spark's manager writes through Hadoop's checksummed local file
    // system, which puts a .crc beside the file; the nio path never does
    assert(names(dir).contains(".0.crc"), s"write did not go through Spark's manager: ${names(dir)}")
  }

  private def writeEvents(dst: File, ids: Range, append: Boolean): Unit = {
    import spark.implicits._
    ids.map(i => (i.toLong, T0 + i * 1000000000L, i.toLong % 3, "click", i * 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode(if (append) "append" else "overwrite").parquet(dst.getPath)
  }

  /** One AvailableNow run of the event stream on `ckpt`; the event ids
    * it emitted. */
  private def runOnce(base: File, ckpt: JPath): Seq[Long] = {
    val got = ArrayBuffer.empty[Long]
    val q = EventStreams.readEvents(spark, base.getPath).select("event_id")
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized(got ++= b.collect().map(_.getLong(0)))
        ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    got.synchronized(got.toVector)
  }

  test("a query stopped and restarted on its own checkpointLocation resumes without re-emitting rows") {
    val base = Files.createTempDirectory("graft_lcfm_q").toFile
    val evDir = new File(base, "events.parquet")
    writeEvents(evDir, 1 to 10, append = false)
    val ckpt = Files.createTempDirectory("graft_lcfm_ckpt")
    assert(runOnce(base, ckpt).sorted == (1L to 10L))
    assert(spark.conf.get(LocalCheckpointFileManager.ConfKey) ==
      classOf[LocalCheckpointFileManager].getName)
    writeEvents(evDir, 11 to 13, append = true)
    assert(runOnce(base, ckpt).sorted == (11L to 13L), "restart re-emitted or lost rows")
    assert(runOnce(base, ckpt).isEmpty, "an idle restart emitted rows")
    val files = names(ckpt)
    assert(files.contains("offsets/1") && files.contains("commits/1"), s"no second batch: $files")
    assert(!files.exists(_.endsWith(".crc")), s"checkpoint written by Spark's manager: $files")
  }

  test("a user-set checkpointFileManagerClass is not overridden") {
    val key = LocalCheckpointFileManager.ConfKey
    val prior = spark.conf.getOption(key)
    val sparks = classOf[FileContextBasedCheckpointFileManager].getName
    val base = Files.createTempDirectory("graft_lcfm_user").toFile
    writeEvents(new File(base, "events.parquet"), 1 to 3, append = false)
    try {
      spark.conf.unset(key)
      graft.streaming.DocStreams.readDocs(spark, base.getPath)
      assert(spark.conf.get(key) == classOf[LocalCheckpointFileManager].getName,
        "an unset key must get the graft manager")

      spark.conf.set(key, sparks)
      val ckpt = Files.createTempDirectory("graft_lcfm_ckpt")
      assert(runOnce(base, ckpt).sorted == (1L to 3L))
      assert(spark.conf.get(key) == sparks, "the reader overrode the user's manager")
      assert(names(ckpt).exists(_.endsWith(".crc")),
        s"the user's manager did not write the checkpoint: ${names(ckpt)}")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
