package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

/** What the generator promises about a set of log files: the routed
  * sink's rows per table with an order-insensitive checksum, drops per
  * reason, and the answers of the readback queries.
  */
final case class Expect(tables: Map[String, (Long, Long)], drops: Map[String, Long],
    records: Long, logBytes: Long, readDate: String, dateCounts: Map[String, Long],
    topDurations: Map[String, Seq[Long]], session: (Long, Long)) {
  def rows: Long = tables.values.map(_._1).sum

  def merge(b: Expect): Expect = {
    def sum[K](x: Map[K, Long], y: Map[K, Long]) =
      (x.keySet ++ y.keySet).map(k => k -> (x.getOrElse(k, 0L) + y.getOrElse(k, 0L))).toMap
    Expect(
      (tables.keySet ++ b.tables.keySet).map { t =>
        val (n1, x1) = tables.getOrElse(t, (0L, 0L))
        val (n2, x2) = b.tables.getOrElse(t, (0L, 0L))
        t -> (n1 + n2, x1 ^ x2)
      }.toMap,
      sum(drops, b.drops), records + b.records, logBytes + b.logBytes,
      readDate, sum(dateCounts, b.dateCounts),
      (topDurations.keySet ++ b.topDurations.keySet).map { ib =>
        ib -> (topDurations.getOrElse(ib, Nil) ++ b.topDurations.getOrElse(ib, Nil))
          .sorted(Ordering[Long].reverse).take(Expect.TopN)
      }.toMap,
      (session._1 + b.session._1, session._2 ^ b.session._2))
  }
}

object Expect {
  /** Durations kept per InfoBase by the top-N readback query. */
  val TopN = 20

  /** Expectation for one file's records; a file whose name carries an
    * out-of-range hour drops every record as `bad_hour`.
    */
  def of(recs: Seq[TechLogGen.Record], bytes: Long, readDate: String,
      badHour: Boolean = false): Expect = {
    val rows = if (badHour) Nil else recs.flatMap(_.row)
    val drops =
      if (badHour) Map("bad_hour" -> recs.length.toLong)
      else recs.filter(_.row.isEmpty).groupBy(_.dropReason).map { case (k, v) => k -> v.length.toLong }
    val target = TechLogGen.TargetSession & 0xFFFFFFFFL
    val sess = rows.filter(_.sessionId == target)
    Expect(
      rows.groupBy(r => TechLogGen.tableOf(r.eventType)).map { case (t, rs) =>
        t -> (rs.length.toLong, rs.foldLeft(0L)(_ ^ _.hash)) },
      drops, recs.length.toLong, bytes, readDate,
      rows.filter(_.eventDate == readDate).groupBy(_.eventType)
        .map { case (k, v) => k -> v.length.toLong },
      rows.groupBy(_.infoBase).map { case (ib, rs) =>
        ib -> rs.map(_.duration).sorted(Ordering[Long].reverse).take(TopN) },
      (sess.length.toLong, sess.foldLeft(0L)(_ ^ _.hash)))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def save(e: Expect, p: Path): Unit = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("tables", e.tables.map { case (k, (n, x)) => k -> java.util.List.of(n, x) }.asJava)
    m.put("drops", e.drops.asJava)
    m.put("records", e.records)
    m.put("logBytes", e.logBytes)
    m.put("readDate", e.readDate)
    m.put("dateCounts", e.dateCounts.asJava)
    m.put("topDurations", e.topDurations.map { case (k, v) => k -> v.asJava }.asJava)
    m.put("session", java.util.List.of(e.session._1, e.session._2))
    mapper.writeValue(p.toFile, m)
  }

  def load(p: Path): Expect = {
    val n = mapper.readTree(p.toFile)
    def longs(f: String) = n.get(f).fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    Expect(
      n.get("tables").fields().asScala.map(e =>
        e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asLong)).toMap,
      longs("drops"), n.get("records").asLong, n.get("logBytes").asLong,
      n.get("readDate").asText, longs("dateCounts"),
      n.get("topDurations").fields().asScala.map(e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asLong).toSeq).toMap,
      (n.get("session").get(0).asLong, n.get("session").get(1).asLong))
  }
}
