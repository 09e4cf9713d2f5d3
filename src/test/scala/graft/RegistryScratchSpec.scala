package graft

import java.io.File

import org.apache.spark.sql.{functions => F}

import graft.api.StandardQueries

/** Registry queries that write a scratch directory delete it once their
  * output is consumed inside [[graft.core.Owner.scope]], as Verify and
  * Bench run them; fixture schemas are read afresh when a fixture is
  * rewritten. */
class RegistryScratchSpec extends SparkSpec {

  /** `target/tmp` entries besides the stream-source links, which are kept
    * on purpose. */
  private def scratchDirs(): Set[String] =
    Option(new File("target/tmp").list()).fold(Set.empty[String])(
      _.filterNot(_.startsWith("stream_src_")).toSet)

  test("one query per scratch site leaves rows and no target/tmp directory") {
    for (name <- Seq("profile_store_roundtrip", "csv_source_profile", "streaming_ivfpq",
        "streaming_ivfpq_ingest", "ivfpq_persisted_search", "streaming_dedup_store",
        "warc_file_scan", "crawl_to_corpus_shards", "corpus_shard_sink")) {
      val before = scratchDirs()
      val (rows, during) = graft.core.Owner.scope {
        val rows = SparkEntry.queries(name)(spark, sfDir).collect()
        (rows, scratchDirs() -- before)
      }
      assert(rows.nonEmpty, name)
      assert(during.nonEmpty, s"$name wrote no scratch directory")
      assert(scratchDirs() -- before === Set.empty[String], name)
    }
  }

  test("a fixture rewritten with a new schema in one JVM is read with the new schema") {
    val dir = targetTempDir("schema-memo-")
    val write = (df: org.apache.spark.sql.DataFrame) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    write(spark.range(3).toDF("a"))
    assert(StandardQueries.tableSchema(spark, dir, "t").fieldNames.toSeq === Seq("a"))
    write(spark.range(3).select(F.col("id").cast("string").as("b"), F.col("id").as("c")))
    assert(StandardQueries.tableSchema(spark, dir, "t").fieldNames.toSeq === Seq("b", "c"))
  }
}
