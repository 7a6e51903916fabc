package graft.streaming

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** A local FS under the `cnt:` scheme that counts renames, to see which
  * manager a non-`file:` checkpoint path reaches. */
class CountingLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("cnt:///")
  override def rename(src: Path, dst: Path): Boolean = {
    CountingLocalFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

object CountingLocalFs {
  val renames = new AtomicInteger
}

class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def tempDir(): NioPath = Files.createTempDirectory("graft-cfm")
  private def manager(dir: NioPath): CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())
  private def names(dir: NioPath): Set[String] =
    Using.resource(Files.list(dir))(_.iterator.asScala.map(_.getFileName.toString).toSet)
  private def write(fm: CheckpointFileManager, p: Path, s: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("an atomic write is visible only after close, never under its final name before") {
    val dir = tempDir()
    val fm = manager(dir)
    val target = new Path(dir.toUri.toString, "0")
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    out.write("offsets".getBytes(UTF_8))
    out.flush()
    assert(!fm.exists(target))
    val temps = names(dir)
    assert(temps.size == 1 && temps.head.matches("""\.0\.[0-9a-f-]{36}\.tmp"""), temps)
    out.close()
    assert(names(dir) == Set("0"))
    assert(read(fm, target) == "offsets")
    out.close() // a second close does nothing
    out.cancel()
    assert(names(dir) == Set("0") && read(fm, target) == "offsets")
  }

  test("cancel leaves neither the file nor its temp file") {
    val dir = tempDir()
    val fm = manager(dir)
    val target = new Path(dir.toUri.toString, "1.delta")
    val out = fm.createAtomic(target, overwriteIfPossible = true)
    out.write(Array.fill[Byte](100000)(7))
    out.cancel()
    assert(names(dir).isEmpty)
    out.cancel()
    out.close()
    assert(names(dir).isEmpty)
  }

  test("a no-overwrite write onto an existing file throws Hadoop's " +
    "FileAlreadyExistsException and keeps the old bytes") {
    val dir = tempDir()
    val fm = manager(dir)
    val target = new Path(dir.toUri.toString, "2")
    write(fm, target, "first writer", overwrite = false)
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    out.write("second writer".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel()
    assert(read(fm, target) == "first writer")
    assert(names(dir) == Set("2"))
  }

  test("an overwrite replaces the file and removes a stale .crc left by " +
    "Spark's default manager") {
    val dir = tempDir()
    val target = new Path(dir.toUri.toString, "3.delta")
    val default = new FileContextBasedCheckpointFileManager(target.getParent, new Configuration())
    write(default, target, "old state", overwrite = true)
    assert(names(dir) == Set("3.delta", ".3.delta.crc"))
    write(manager(dir), target, "new state, longer than the old one", overwrite = true)
    assert(names(dir) == Set("3.delta"))
    // a checksum-verified read sees the new bytes, no stale checksum
    assert(read(default, target) == "new state, longer than the old one")
    write(default, target, "again", overwrite = true)
    assert(read(manager(dir), target) == "again")
  }

  test("open, list, mkdirs and delete: missing paths, filters, directories") {
    val dir = tempDir()
    val fm = manager(dir)
    val root = dir.toUri.toString
    intercept[FileNotFoundException](fm.open(new Path(root, "missing")))
    intercept[FileNotFoundException](fm.list(new Path(root, "missing")))
    Seq("1", "2", "10").foreach(n => write(fm, new Path(root, n), n, overwrite = false))
    Files.writeString(dir.resolve(".1.crc"), "stale")
    val odd = new PathFilter { def accept(p: Path): Boolean = p.getName.toInt % 2 == 1 }
    assert(fm.list(new Path(root), odd).map(_.getPath.getName).toSet == Set("1"))
    val all = fm.list(new Path(root)).map(s => s.getPath.getName -> s.getLen).toMap
    assert(all == Map("1" -> 1L, "2" -> 1L, "10" -> 2L))
    fm.delete(new Path(root, "1"))
    assert(names(dir) == Set("2", "10"))
    fm.delete(new Path(root, "missing"))
    val sub = new Path(root, "state/0/1")
    fm.mkdirs(sub)
    write(fm, new Path(sub, "1.delta"), "d", overwrite = true)
    assert(fm.list(new Path(root, "state")).map(s => s.getPath.getName -> s.isDirectory)
      .toSeq == Seq("0" -> true))
    fm.delete(new Path(root, "state"))
    assert(!fm.exists(new Path(root, "state")) && names(dir) == Set("2", "10"))
    assert(fm.isLocal)
  }

  test("a checkpoint under another scheme goes to Spark's default manager") {
    val dir = tempDir()
    val conf = new Configuration()
    conf.set("fs.cnt.impl", classOf[CountingLocalFs].getName)
    val root = new Path(s"cnt://${dir.toUri.getPath}")
    val fm = new LocalCheckpointFileManager(root, conf)
    val before = CountingLocalFs.renames.get
    write(fm, new Path(root, "0"), "offsets", overwrite = false)
    assert(CountingLocalFs.renames.get == before + 1)
    assert(read(fm, new Path(root, "0")) == "offsets")
    assert(Files.readString(dir.resolve("0")) == "offsets")
    // the local manager itself would have renamed without the test FS
    write(manager(dir), new Path(dir.toUri.toString, "1"), "x", overwrite = false)
    assert(CountingLocalFs.renames.get == before + 1)
  }

  /** Runs `body` with the session's checkpoint manager set to `cls`
    * (`None`: Spark's default), restoring the caller's setting after. */
  private def withManager[T](cls: Option[String])(body: => T): T = {
    val saved = spark.conf.getOption(ManagerKey)
    cls.fold(spark.conf.unset(ManagerKey))(spark.conf.set(ManagerKey, _))
    try body
    finally saved.fold(spark.conf.unset(ManagerKey))(spark.conf.set(ManagerKey, _))
  }

  test("a stateful query restarts across Spark's default manager and this " +
    "one with exact counts and no lost or repeated batch") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ckpt = tempDir()
    val mem = MemoryStream[String]
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
    def run(cls: Option[String], data: Seq[String]): Unit = withManager(cls) {
      val q = mem.toDS().groupBy($"value").count()
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (df: DataFrame, id: Long) =>
          batches.synchronized {
            batches += id -> df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          }
          ()
        }
        .start()
      try {
        data.grouped(3).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      } finally q.stop()
      assert(q.exception.isEmpty, q.exception)
    }
    val offsets = ckpt.resolve("offsets")
    val parts = Seq(
      None -> Seq("a", "b", "a", "c", "a", "b"),
      Some(classOf[LocalCheckpointFileManager].getName) -> Seq("b", "c", "c", "a", "d", "b"),
      None -> Seq("d", "a", "c", "b", "b", "e"))
    val crcsByPart = parts.map { case (cls, data) =>
      run(cls, data)
      names(offsets).count(_.endsWith(".crc"))
    }
    // part 1 left checksums; part 2 wrote two batches and no checksum
    assert(crcsByPart(0) == 2 && crcsByPart(1) == 2 && crcsByPart(2) == 4, crcsByPart)
    assert(batches.map(_._1) == (0L until 6L), batches)
    val last = batches.flatMap(_._2).foldLeft(Map.empty[String, Long])(_ + _)
    assert(last == parts.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap)
  }
}
