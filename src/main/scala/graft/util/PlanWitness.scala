package graft.util

import org.apache.spark.sql.DataFrame

/** Executed-plan scan witnesses shared by every stamped-stats
  * maintenance check (the graph manifest read in GraphAnn, the meta
  * check in IndexKind), so the two cannot drift.
  */
object PlanWitness {

  private def norm(p: String): String =
    java.nio.file.Paths.get(p.stripPrefix("file:"))
      .toAbsolutePath.normalize.toString

  /** True iff every file-source leaf of `df`'s EXECUTED plan scanned
    * ONLY the directory at `wantPath` (and at least one leaf exists —
    * an empty plan proves nothing). The measured form of "the
    * per-trigger decision read the manifest/meta, not the data": at
    * 100 TB this is the difference between a KB control read per
    * micro-batch and an index scan per micro-batch.
    */
  def scanOnly(df: DataFrame, wantPath: String): Boolean = {
    val scanned = df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten
    val want = norm(wantPath)
    scanned.nonEmpty && scanned.forall(p => norm(p) == want)
  }

  /** True iff the executed plan's file-source leaves scanned only
    * directories inside `wantPaths` (set form, for multi-unit control
    * reads such as a manifest + one meta unit).
    */
  def scanOnlyWithin(df: DataFrame, wantPaths: Seq[String]): Boolean = {
    val scanned = df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten
    val want = wantPaths.map(norm).toSet
    scanned.nonEmpty && scanned.forall(p => want.contains(norm(p)))
  }
}
