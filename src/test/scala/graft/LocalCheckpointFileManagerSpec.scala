package graft

import java.nio.file.{Files, Path => NioPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{LocalCheckpointFileManager, StreamingTripPipeline}

/** The engine's fork-free checkpoint manager: exclusive and overwriting
  * commits, cancel, the listing's hidden names, the sidecars a checkpoint
  * of Spark's default manager carries, and the fallback for other
  * schemes.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def conf: Configuration = spark.sessionState.newHadoopConf()

  private def manager(dir: String) =
    new LocalCheckpointFileManager(new Path(dir), conf)

  private def put(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes("UTF-8"))
    out.close()
  }

  private def names(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toSet

  private def tree(dir: String): Seq[NioPath] =
    Files.walk(Paths.get(dir)).iterator().asScala.toSeq

  private def text(p: String) = Files.readString(Paths.get(p))

  test("the session builders select the manager") {
    assert(spark.conf.get(LocalCheckpointFileManager.ConfKey) ===
      classOf[LocalCheckpointFileManager].getName)
    assert(CheckpointFileManager.create(new Path(tempDir("sel")), conf)
      .isInstanceOf[LocalCheckpointFileManager])
  }

  test("a no-overwrite commit onto an existing file throws Hadoop's FileAlreadyExistsException") {
    val dir = tempDir("excl")
    val fm = manager(dir)
    val p = new Path(s"$dir/0")
    put(fm, p, "first", overwrite = false)
    // both racers opened before either committed: the second loses
    val a = fm.createAtomic(p, false)
    a.write("second".getBytes("UTF-8"))
    intercept[FileAlreadyExistsException] { a.close() }
    a.cancel() // what HDFSMetadataLog does after the conflict
    assert(text(s"$dir/0") === "first")
    assert(names(dir) === Set("0"))
  }

  test("cancel leaves neither the temp file nor the target") {
    val dir = tempDir("cancel")
    val out = manager(dir).createAtomic(new Path(s"$dir/1"), false)
    out.write("partial".getBytes("UTF-8"))
    assert(names(dir).exists(_.endsWith(".tmp")))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("an overwrite replaces the file and drops its stale ChecksumFs sidecar") {
    val dir = tempDir("over")
    val p = new Path(s"$dir/2")
    // written through ChecksumFs, as Spark's default manager does
    val fc = FileContext.getLocalFSFileContext(conf)
    val old = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    old.write("old bytes".getBytes("UTF-8"))
    old.close()
    assert(names(dir) === Set("2", ".2.crc"))
    put(manager(dir), p, "new, longer bytes", overwrite = true)
    assert(names(dir) === Set("2"))
    val in = fc.open(p)
    try assert(new String(in.readAllBytes(), "UTF-8") === "new, longer bytes")
    finally in.close()
  }

  test("list hides only ChecksumFs sidecars and the manager's temp files") {
    val dir = tempDir("list")
    Seq("1.delta", "1.delta.crc", ".1.delta.crc", "2.zip",
      ".2.zip.0f8e3c1a-5e2b-4b5c-9a1e-2c3d4e5f6a7b.tmp", "_metadata")
      .foreach(n => Files.write(Paths.get(dir, n), Array[Byte](1)))
    val listed = manager(dir).list(new Path(dir)).map(_.getPath.getName).toSet
    // Spark's state checksum files (`<file>.crc`, no dot) stay visible
    assert(listed === Set("1.delta", "1.delta.crc", "2.zip", "_metadata"))
  }

  test("delete removes a file with its sidecar, and a missing path quietly") {
    val dir = tempDir("del")
    Seq("3", ".3.crc").foreach(n => Files.write(Paths.get(dir, n), Array[Byte](1)))
    val fm = manager(dir)
    fm.delete(new Path(s"$dir/3"))
    fm.delete(new Path(s"$dir/absent"))
    assert(names(dir).isEmpty)
  }

  test("a simobj path gets Spark's default manager") {
    val c = conf
    c.set("fs.simobj.impl", classOf[SimObjFileSystem].getName)
    val raw = tempDir("simobj")
    val p = new Path(s"simobj://$raw/ckpt")
    val spark0 = new Configuration(c)
    spark0.unset(LocalCheckpointFileManager.ConfKey)
    val fm = new LocalCheckpointFileManager(p, c)
    assert(fm.impl.getClass === CheckpointFileManager.create(p, spark0).getClass)
    SimObjFileSystem.renamedPaths.clear()
    put(fm, new Path(p, "0"), "x", overwrite = false)
    // Spark's manager commits by rename; the local one never does
    assert(SimObjFileSystem.renamedPaths.asScala.exists(_.endsWith(".tmp")))
    assert(text(s"$raw/ckpt/0") === "x")
  }

  test("a checkpoint of Spark's default manager restarts under this one exactly once") {
    implicit val ctx = spark.sqlContext
    val ckpt = tempDir("ckpt")
    val out = tempDir("out")
    val input = MemoryStream[String]
    def start() = StreamingTripPipeline.pipeline(input.toDF())
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_$id")
      }
      .start()
    def trip(i: Int): Seq[String] = Seq(
      s"""{"trip_id":"t$i","data_type":"trip_start","pickup_datetime":"2024-05-25 10:00:00"}""",
      s"""{"trip_id":"t$i","data_type":"trip_end","dropoff_datetime":"2024-05-25 10:30:00","fare_amount":$i.0,"passenger_count":1.0}""")
    def run(trips: Range): Unit = {
      val q = start()
      try { input.addData(trips.flatMap(trip)); q.processAllAvailable() }
      finally q.stop()
    }

    spark.conf.unset(LocalCheckpointFileManager.ConfKey)
    try run(1 to 4)
    finally LocalCheckpointFileManager.install(spark)
    def sidecars = tree(ckpt).map(_.getFileName.toString)
      .filter(n => n.startsWith(".") && n.endsWith(".crc"))
    val before = sidecars
    assert(before.nonEmpty, "the default manager writes ChecksumFs sidecars")
    // trip 5 is held in state across a restart: start before, end after
    input.addData(trip(5).take(1))
    run(6 to 8)
    input.addData(trip(5).drop(1))
    run(9 to 10)

    val trips = spark.read.parquet(s"$out/batch_*")
      .select("trip_id").as[String].collect().toSeq
    assert(trips.sorted === (1 to 10).map(i => s"t$i").sorted)
    // new commits carry no sidecar, and no temp file survives
    assert(sidecars.toSet === before.toSet)
    assert(!tree(ckpt).exists(_.getFileName.toString.endsWith(".tmp")))
    assert(Files.exists(Paths.get(ckpt, "commits", "2")))
  }
}
