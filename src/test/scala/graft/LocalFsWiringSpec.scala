package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.security.Permission
import java.util.concurrent.ConcurrentHashMap

import scala.annotation.nowarn
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem}

import graft.fs.{NioLocalFileSystem, NioLocalFs}
import graft.ingest.{Ingest, Pipeline}
import graft.model.Schemas.RunContext
import graft.streaming.Streams

/** A session carrying [[Harness.LocalFsConfs]] writes through graft's
  * local filesystem, and an hourly run plus a stream run start no
  * `chmod` or `readlink` process.
  */
class LocalFsWiringSpec extends SparkTestBase {

  test("FileSystem and FileContext resolve file: to graft's classes") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).getClass === classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getClass ===
      classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass === classOf[NioLocalFs])
  }

  /** Runs `body` with a `SecurityManager` that counts the processes
    * started, by program name, and permits everything; returns the counts.
    * Cancels the test when this JDK forbids installing one.
    */
  @nowarn("cat=deprecation")
  private def countingExecs(body: => Unit): Map[String, Int] = {
    val counts = new ConcurrentHashMap[String, Int]()
    val counter = new SecurityManager {
      override def checkPermission(perm: Permission): Unit = ()
      override def checkPermission(perm: Permission, context: Any): Unit = ()
      override def checkExec(cmd: String): Unit =
        counts.merge(Paths.get(cmd).getFileName.toString, 1, _ + _)
    }
    val previous = System.getSecurityManager
    val installed =
      try { System.setSecurityManager(counter); true }
      catch { case _: UnsupportedOperationException | _: SecurityException => false }
    assume(installed, "this JDK does not allow installing a SecurityManager")
    try body finally System.setSecurityManager(previous)
    counts.asScala.toMap
  }

  test("one hour through runAll plus one stream run starts no chmod or readlink") {
    val base = Files.createTempDirectory("localfs_spawn")
    val snapshot = new String(Files.readAllBytes(Paths.get(s"$FixtureDir/station_status.json")))
      .linesIterator.next()
    val weather = new String(Files.readAllBytes(Paths.get(s"$FixtureDir/weather.json")))
      .linesIterator.next()
    val drop = Files.createDirectory(base.resolve("drop"))
    Files.writeString(drop.resolve("hour_0000.json"), snapshot)
    val execs = countingExecs {
      Pipeline.runAll(spark, _ => snapshot, _ => weather, Ingest.weatherUrl(48.85, 2.35, "key"),
        RunContext("2024-02-01 01:00:00", "velib_spark", "load"), base.resolve("zone").toString)
      val q = Streams.availableNowParquetWriter(
        Streams.dedupedStationUpdates(Streams.velibStream(spark, drop.toString)),
        base.resolve("out").toString, base.resolve("ckpt").toString).start()
      q.awaitTermination(60000)
      assert(!q.isActive)
    }
    assert(spark.read.parquet(base.resolve("out").toString).count() > 0)
    assert(spark.read.parquet(base.resolve("zone/curated/station_status").toString).count() === 3)
    assert(execs.getOrElse("chmod", 0) === 0 && execs.getOrElse("readlink", 0) === 0, execs)
  }
}
