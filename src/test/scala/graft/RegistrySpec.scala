package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract registry consistency: a typo'd key would silently
  * turn an oracle-checked query into a missing one (or an orphan
  * oracle the driver can never run).
  */
class RegistrySpec extends AnyFunSuite {

  test("every oracle key has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("query names are unique across modules (no ++ overwrites)") {
    val all = Seq(
      ops.Relational.queries, ops.EventAnalytics.queries, ops.PumpOps.queries,
      ops.TextAnalysis.queries, ops.Dedup.queries, ops.Similarity.queries,
      ops.Multimodal.queries, ops.Temporal.queries, ops.Suites.queries,
      ops.Clustering.queries, ops.Formats.queries, ops.Skew.queries,
      ops.SqlSuite.queries, ops.Breadth.queries, ops.TrainingData.queries,
      ops.Frequency.queries, ops.Graph.queries, ops.Audit.queries,
      ops.Behavior.queries, ops.GraphAnn.queries)
    val keys = all.flatMap(_.keys)
    val dupes = keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(dupes.isEmpty, s"duplicate query names: $dupes")
    assert(keys.size == SparkEntry.queries.size)
  }

  test("registry size matches the documented surface") {
    assert(SparkEntry.queries.size == 365)
    // every query — including the approximate ones, which emit
    // deterministic bound-check gate rows — has a DuckDB oracle
    assert(SparkEntry.oracleSql.size == 365)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  /** Every line under `src/main/scala/graft/ops` containing one of `banned`. */
  private def opsLinesWith(banned: Seq[String]): Seq[String] = {
    val ops = java.nio.file.Paths.get("src/main/scala/graft/ops")
    assert(java.nio.file.Files.isDirectory(ops), s"${ops.toAbsolutePath} missing")
    val stream = java.nio.file.Files.walk(ops)
    try stream.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if banned.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
        }
      }
    finally stream.close()
  }

  test("ops memos use graft.util.Memo, never a hand-rolled registered map") {
    val hits = opsLinesWith(Seq("registerMemo(", "new java.util.concurrent.ConcurrentHashMap"))
    if (hits.nonEmpty) fail(hits.mkString("hand-rolled memo maps:\n", "\n", ""))
  }

  test("ops streams drive through StreamTuning and OrderedFeed, never hand-rolled") {
    val hits = opsLinesWith(Seq(".writeStream", "Trigger.AvailableNow",
      "\"maxFilesPerTrigger\", 1", "/commits\").list()"))
    if (hits.nonEmpty) fail(hits.mkString("hand-rolled stream drives:\n", "\n", ""))
  }
}
