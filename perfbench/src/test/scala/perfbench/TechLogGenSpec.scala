package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.parse.TechLogParser

class TechLogGenSpec extends AnyFunSuite {
  private val hour = TechLogGen.baseHour(7L)
  private def file(seed: Long, key: Long) =
    TechLogGen.fileRecords(seed, key, hour, 3000, key * 100000L).toVector

  test("the same seed writes byte-identical files; another seed does not") {
    val a = TechLogGen.render(file(7L, 3L).iterator)
    assert(java.util.Arrays.equals(a, TechLogGen.render(file(7L, 3L).iterator)))
    assert(!java.util.Arrays.equals(a, TechLogGen.render(file(8L, 3L).iterator)))
  }

  test("every well-formed record parses back to the generator's fields") {
    val recs = file(11L, 5L)
    val rows = recs.flatMap(_.row)
    assert(rows.length > 2900)
    recs.foreach { rec =>
      val lines = rec.text.split("\n", -1).toSeq
      // each record is exactly one assembled record: only its first line
      // starts a record
      assert(TechLogParser.isNewLogRecord(lines.head))
      assert(!lines.tail.exists(TechLogParser.isNewLogRecord), rec.text)
      rec.row.foreach { row =>
        val e = TechLogParser.parseLine(lines)
        assert(e.Component == row.eventType)
        assert(e.User == row.user)
        assert(e.Database == row.infoBase)
        assert(e.ProcessName == row.processName)
        assert(e.SessionID == row.sessionRaw)
        assert(e.ClientID == row.clientId)
        assert(e.ConnectID == row.connectionId)
        assert(e.SQL == row.sql, rec.text)
        assert(e.Rows == row.rows)
        assert(e.RowsAffected == row.rowsAffected)
        assert(e.Context == row.context, rec.text)
        assert(e.LogTimestamp.takeWhile(_ != '-') ==
          f"${row.eventTimeMicros / 60000000L % 60}%02d:${row.eventTimeMicros / 1000000L % 60}%02d." +
          f"${row.eventTimeMicros % 1000000L}%06d")
        assert(e.LogTimestamp.drop(e.LogTimestamp.indexOf('-') + 1).toLong == row.duration)
      }
    }
  }

  test("traffic has the promised shape") {
    val recs = (0L until 20L).flatMap(file(3L, _))
    val rows = recs.flatMap(_.row)
    val share = rows.groupBy(_.eventType).map { case (k, v) => k -> v.length.toDouble / rows.length }
    assert(share("DBMSSQL") > 0.3 && share("TTIMEOUT") < 0.05)
    val malformed = recs.count(_.row.isEmpty).toDouble / recs.length
    assert(malformed > 0.005 && malformed < 0.02)
    assert(recs.filter(_.row.isEmpty).map(_.dropReason).toSet == Set("no_time_match", "bad_time"))
    val sizes = recs.map(_.text.getBytes("UTF-8").length).sorted
    assert(sizes.last > 20 * sizes(sizes.length / 2)) // heavy tail
    assert(rows.exists(r => r.sql.contains("\n") && r.sql.contains("\\") && r.sql.contains("'")))
    assert(rows.exists(r => r.context.contains("\n") && r.context.exists(c => c >= 'А' && c <= 'я')))
    assert(rows.exists(_.sessionRaw > 0xFFFFFFFFL))
    assert(TechLogGen.render(Iterator.empty).take(3).sameElements(Array(0xEF, 0xBB, 0xBF).map(_.toByte)))
  }
}
