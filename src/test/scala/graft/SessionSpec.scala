package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.scalatest.funsuite.AnyFunSuite

/** The session factory, the between-query reaper, and the guard that
  * keeps the factory the only place a session is built. */
class SessionSpec extends AnyFunSuite {
  import TestSpark._

  test("TestSpark.spark carries every Session.local setting") {
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    assert(sc.getConf.get("spark.ui.enabled") == "false")
    Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.files.openCostInBytes" -> "16384",
      "spark.sql.files.minPartitionNum" -> "4",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.conf.get("spark.sql.warehouse.dir").contains("graft-warehouse"))
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
    assert(LogManager.getLogger("org.apache.spark.rdd").getLevel == Level.ERROR)
  }

  test("Session.reap empties the CacheManager and the persisted RDDs") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val cached = spark.range(100).toDF("id").persist()
    cached.count()
    spark.range(50).toDF("id").localCheckpoint()
    assert(!cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Session.reap(spark)
    assert(cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("no file under src/main/scala but graft/Session.scala builds a session") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val needle = "SparkSession." + "builder" // split: this file must not match
    val walk = Files.walk(root)
    val builders = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
      .map(p => root.relativize(p).toString).toSet
    finally walk.close()
    assert(builders == Set("graft/Session.scala"))
  }
}
