package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.{functions => F}

import graft.{SparkEntry, SparkSpec}

/** [[Streams.toMemory]]: the eager result must equal the batch plan's,
  * and neither a finished nor a failed run may leave a session temp view
  * or a checkpoint directory behind. */
class StreamsSpec extends SparkSpec {

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def checkpointDirs(): Set[String] = {
    val parent = Paths.get(System.getProperty("java.io.tmpdir"))
    val ls = Files.list(parent)
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(Streams.CheckpointPrefix)).toSet
    finally ls.close()
  }

  /** A file-source stream over `n` ids in one parquet file, and its
    * batch counterpart. */
  private def ids(n: Int): (DataFrame, DataFrame) = {
    val dir = Files.createTempDirectory("streams_src").toString
    spark.range(n).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val batch = spark.read.parquet(dir)
    (spark.readStream.schema(batch.schema).parquet(dir), batch)
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(F.col).toSeq: _*).collect().toSeq

  test("append and complete modes return the batch plan's rows") {
    val (sdf, batch) = ids(20)
    val project = (df: DataFrame) => df.select(F.col("id"), (F.col("id") * 3).as("x"))
    val appended = Streams.toMemory(project(sdf))
    assert(!appended.isStreaming)
    assert(sorted(appended) === sorted(project(batch)))
    assert(appended.count() === 20L)

    val agg = (df: DataFrame) =>
      df.groupBy((F.col("id") % 3).as("k")).agg(F.count(F.lit(1)).as("n"), F.sum("id").as("s"))
    val completed = Streams.toMemory(agg(sdf), "complete")
    assert(sorted(completed) === sorted(agg(batch)))
    assert(completed.orderBy("k").collect().map(_.getLong(1)).toSeq === Seq(7L, 7L, 6L))
  }

  test("a finished run leaves no temp view and no checkpoint directory") {
    val (sdf, _) = ids(10)
    val views = tempViews()
    val ckpts = checkpointDirs()
    val out = Streams.toMemory(sdf.groupBy().count(), "complete")
    assert(tempViews() === views)
    assert(checkpointDirs() === ckpts)
    // the released view does not invalidate the returned frame
    assert(out.head().getLong(0) === 10L)
  }

  test("a failing stream rethrows and still releases its view and checkpoint") {
    val (sdf, _) = ids(10)
    val views = tempViews()
    val ckpts = checkpointDirs()
    val e = intercept[StreamingQueryException] {
      Streams.toMemory(sdf.select(F.assert_true(F.col("id") < 5).as("ok")))
    }
    assert(e.getMessage.contains("id < 5"))
    assert(tempViews() === views)
    assert(checkpointDirs() === ckpts)
  }

  test("registry streaming queries leave the session's temp views unchanged") {
    for (name <- Seq("streaming_dedup", "streaming_quality_score")) {
      val views = tempViews()
      val out = SparkEntry.queries(name)(spark, sfDir)
      assert(out.count() > 0L, name)
      assert(tempViews() === views, name)
    }
  }
}
