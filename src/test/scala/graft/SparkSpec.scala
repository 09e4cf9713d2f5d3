package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
  def table(name: String) = spark.read.parquet(s"$sfDir/$name.parquet")

  private val testDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A new directory `target/<prefix><random>`, deleted with its contents
    * when the running test ends. */
  def targetTempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get("target"), prefix)
    testDirs.add(dir)
    dir.toString
  }

  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally while (!testDirs.isEmpty) {
      val walk = java.nio.file.Files.walk(testDirs.poll())
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }

  /** events with `ts` normalized to a session-tz timestamp regardless of
    * the fixture's stored dtype (legacy raw-nanos BIGINT or timestamp).
    * Same dispatch as the main registry's loader. */
  def eventsDF: org.apache.spark.sql.DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.api.StandardQueries.rebuildTs(table("events"))
  }

  /** `body`'s value and the Spark jobs started while it ran. A marker job
    * started after it flushes the listener queue, which delivers events in
    * order, so every earlier job start has been counted once the marker's
    * is seen. */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = "job-count-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "marker job start never delivered")
      (out, seen.size - 1)
    } finally sc.removeSparkListener(listener)
  }
}
