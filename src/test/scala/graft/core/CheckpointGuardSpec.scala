package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library code takes a local checkpoint through [[Checkpoint]]: a
  * function-local one through `scoped`, one a returned result reads
  * through `pin`. A raw `.localCheckpoint(` is allowed only where the
  * call releases it before returning; each such site is listed here with
  * its reason. The list may only shrink. */
class CheckpointGuardSpec extends AnyFunSuite {

  /** File under `src/main/scala` → why each raw site in it is released
    * before its call returns (one entry a site). */
  private val allowed: Map[String, Seq[String]] = Map(
    "graft/streaming/DedupStream.scala" -> Seq(
      "upsertKeepers: the merged batch, released once written"),
    "graft/pipeline/TextAnalysis.scala" -> Seq(
      "bpeTrainMerges: the first vocabulary frame of the merge loop",
      "bpeTrainMerges: each round's frame, released once superseded or the merges are collected"),
    "graft/analysis/DataAudit.scala" -> Seq(
      "spearmanMatrix: the complete-case base, released once summed",
      "spearmanMatrix: the rank table, released once summed"),
    "graft/pipeline/ConnectedComponents.scala" -> Seq(
      "components: the canonical edge list, released once collected on the driver " +
        "or superseded by the first star round"))

  private def sites(): Map[String, Int] = {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    try files.iterator().asScala
      .filter(p => Files.isRegularFile(p) && (p.toString.endsWith(".scala") ||
        p.toString.endsWith(".java")))
      .map(p => root.relativize(p).toString -> count(p))
      .filter { case (file, n) => n > 0 && file != "graft/core/Checkpoint.scala" }
      .toMap
    finally files.close()
  }

  private def count(p: Path): Int =
    Files.readAllLines(p).asScala.map(_.split("\\.localCheckpoint\\(", -1).length - 1).sum

  test("every raw localCheckpoint outside Checkpoint is on the allow-list") {
    assert(sites() === allowed.map { case (file, reasons) => file -> reasons.size })
  }
}
