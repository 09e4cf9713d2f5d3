package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{functions => F}

import graft.SparkSpec

/** Curated-corpus sink ([[CorpusSink]]): deterministic shard files +
  * manifest, read-back verification, and tamper detection. */
class CorpusSinkSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = spark.range(200L)
    .select(F.col("id"),
      F.concat(F.col("id").cast("string"), F.lit("\ttext body "),
        (F.col("id") % 7).cast("string")).as("line"))

  test("write -> verify round trip: every shard matches its manifest") {
    val dir = targetTempDir("corpussink")
    val man = CorpusSink.writeCorpusShards(
      corpus, F.col("line"), F.col("id"), dir, 4)
    assert(man.count() == 4)
    val v = CorpusSink.verifyShards(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getBoolean(3)))
    assert(v.length == 4 && v.forall(_._3))
    assert(v.map(_._2).sum == 200L)
    // shard files are gzip text under shard=N/
    assert(Files.list(Paths.get(dir)).toArray.map(_.toString)
      .count(_.contains("shard=")) == 4)
  }

  test("sharding and in-file order are deterministic across runs and partitionings") {
    val d1 = targetTempDir("corpusdet1")
    val d2 = targetTempDir("corpusdet2")
    CorpusSink.writeCorpusShards(corpus, F.col("line"), F.col("id"), d1, 4)
    CorpusSink.writeCorpusShards(corpus.repartition(13), F.col("line"),
      F.col("id"), d2, 4)
    def shardLines(dir: String): Map[Int, Seq[String]] =
      CorpusSink.readShards(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq
        .groupBy(_._1).map { case (s, ls) => s -> ls.map(_._2).toSeq }
    // same shard membership; per-shard file CONTENT including order is
    // identical (the reproducible-training-order contract)
    val a = shardLines(d1)
    val b = shardLines(d2)
    assert(a == b)
  }

  test("a line containing CR/LF fails the write LOUDLY (never silent corruption)") {
    val dir = targetTempDir("corpusnl")
    val bad = spark.range(3L).select(F.col("id"),
      F.when(F.col("id") === 1L, F.lit("first half\nsecond half"))
        .otherwise(F.lit("clean line")).as("line"))
    val e = intercept[Exception] {
      CorpusSink.writeCorpusShards(bad, F.col("line"), F.col("id"), dir, 2)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("CR/LF")), messages(e).mkString(" | "))
  }

  test("a NULL line fails the write LOUDLY (the text writer would emit an empty line)") {
    val dir = targetTempDir("corpusnull")
    val bad = spark.range(3L).select(F.col("id"),
      F.when(F.col("id") === 1L, F.lit(null).cast("string"))
        .otherwise(F.lit("clean line")).as("line"))
    val e = intercept[Exception] {
      CorpusSink.writeCorpusShards(bad, F.col("line"), F.col("id"), dir, 2)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("NULL")), messages(e).mkString(" | "))
  }

  test("an empty corpus writes an empty manifest and verifies clean") {
    val dir = targetTempDir("corpusempty")
    val empty = corpus.where(F.lit(false))
    val man = CorpusSink.writeCorpusShards(empty, F.col("line"), F.col("id"), dir, 4)
    assert(man.count() == 0)
    assert(CorpusSink.verifyShards(spark, dir).count() == 0)
  }

  test("a tampered shard file fails verification for that shard only") {
    val dir = targetTempDir("corpustamper")
    CorpusSink.writeCorpusShards(corpus, F.col("line"), F.col("id"), dir, 4)
    // replace one shard's file wholesale with different (valid gzip)
    // content — count AND digest must flip the match flag
    val shard0 = Files.list(Paths.get(s"$dir/shard=0")).toArray
      .map(_.toString).filter(_.endsWith(".txt.gz")).head
    val tampered = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write("tampered line\n".getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    Files.write(Paths.get(shard0), tampered,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    // drop the local-FS .crc sidecar (an artifact of RawLocalFileSystem
    // testing only — object stores have no client sidecar): the
    // MANIFEST digest is the layer under test
    val p0 = Paths.get(shard0)
    Files.deleteIfExists(p0.resolveSibling("." + p0.getFileName + ".crc"))
    val v = CorpusSink.verifyShards(spark, dir)
      .collect().map(r => (r.getInt(0), r.getBoolean(3))).toMap
    assert(v == Map(0 -> false, 1 -> true, 2 -> true, 3 -> true))
  }
}
