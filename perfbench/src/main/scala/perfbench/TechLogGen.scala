package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Seeded 1C technological-log generator.
  *
  * Every record is a pure function of (seed, file index, record index),
  * so the same seed writes byte-identical files and files can be written
  * in parallel. Each well-formed record carries the sink row the pump
  * must produce from it ([[TechLogGen.Row]]); each planted malformed
  * record carries the `drop_reason` `etl.Transform.withReason` must
  * give it.
  *
  * Traffic shape. The numbers below (component shares, the Pareto
  * Context size, per-process volumes) are assumed, not fitted to a real
  * 1C log; calibrate them once a real sample is at hand.
  *  - component shares are skewed (DBMSSQL ≈ 40 %, TTIMEOUT ≈ 2 %);
  *  - record size is heavy-tailed (Pareto line counts in Context);
  *  - SQL and Context span several lines, with quotes, backslash
  *    escapes and embedded `YYYY-MM-DD HH:MM:SS` timestamps;
  *  - user, infobase and Context text is Cyrillic UTF-8, and every file
  *    starts with a BOM;
  *  - ≈ 1 % of records are malformed (`no_time_match`, `bad_time`).
  */
object TechLogGen {

  /** The checked columns of one routed sink row (ExceptionType and
    * ErrorText are constant NULL and left out).
    */
  final case class Row(eventDate: String, eventTimeMicros: Long,
      eventType: String, duration: Long, user: String, infoBase: String,
      sessionRaw: Long, clientId: Long, connectionId: Long, sql: String,
      rows: Int, rowsAffected: Int, context: String, processName: String) {
    /** The sink keeps SessionID mod 2^32. */
    def sessionId: Long = sessionRaw & 0xFFFFFFFFL
    /** Same field order and separator as [[Checks.rowHash]]. */
    def canonical: String = Seq(eventDate, eventTimeMicros, eventType,
      duration, user, infoBase, sessionId, clientId, connectionId, sql,
      rows, rowsAffected, context, processName).mkString(Sep)
    def hash: Long = xxhash64(canonical)
  }

  /** One rendered record: its text (lines joined by '\n', no trailing
    * newline) and either the row it must become or its drop reason.
    */
  final case class Record(text: String, row: Option[Row], dropReason: String)

  val Sep = "\u0001"

  /** Spark's `xxhash64` of one string value (seed 42). */
  def xxhash64(s: String): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** Component → routed table; everything else goes to [[DefaultTable]]. */
  val TableMap: Map[String, String] = Map("DBMSSQL" -> "sql_events",
    "SDBL" -> "sdbl_events", "CALL" -> "call_events", "EXCP" -> "excp_events")
  val DefaultTable = "logs"
  def tableOf(component: String): String = TableMap.getOrElse(component, DefaultTable)
  val Tables: Seq[String] = (TableMap.values.toSeq :+ DefaultTable).sorted

  private val Components = Array("DBMSSQL", "SDBL", "CALL", "TLOCK", "EXCP",
    "CONN", "SCALL", "TTIMEOUT")
  private val ComponentCdf = cdf(Array(40, 22, 14, 7, 6, 5, 4, 2))
  private val Users = Array("Иванов И.И.", "Петрова А.С.", "Сидоров",
    "Администратор", "Обмен", "Кузнецова Е.В.", "robot", "Смирнов О.П.",
    "Волков", "Бухгалтер1", "Склад_2", "ivanov")
  private val InfoBases = Array("УТ_Прод", "БП_Бухгалтерия", "ЗУП_Кадры",
    "ERP_Main", "ДО_Архив")
  private val Hosts = Array("srv-app01", "srv-app02", "ws-buh-07", "ws-sklad")
  private val Modules = Array("Документ.РеализацияТоваровУслуг.МодульОбъекта",
    "ОбщийМодуль.ОбменДанными.Модуль", "Справочник.Номенклатура.Форма.ФормаСписка",
    "РегистрНакопления.ТоварыНаСкладах.МодульНабораЗаписей",
    "Обработка.ЗакрытиеМесяца.Форма", "ОбщийМодуль.ПроведениеСервер.Модуль")
  private val Methods = Array("ОбработкаПроведения", "Выполнить()",
    "ПриЗаписи", "ЗаполнитьТабличнуюЧасть", "ПолучитьДанные()")

  /** Session id that the backfill readback fetches (the most frequent). */
  val TargetSession: Long = sessionOf(0)
  private def sessionOf(idx: Int): Long =
    if (idx % 7 == 3) (1L << 33) + idx else 1000L + idx

  private def cdf(w: Array[Int]): Array[Double] = {
    val total = w.sum.toDouble
    w.scanLeft(0)(_ + _).tail.map(_ / total)
  }
  private def pick(cdf: Array[Double], u: Double): Int = {
    var i = 0
    while (i < cdf.length - 1 && u >= cdf(i)) i += 1
    i
  }

  private val NameFmt = DateTimeFormatter.ofPattern("yyMMddHH")
  private val DateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private val SqlTsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Scrub = """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}""".r

  /** First hour of a seed's log timeline (a whole day, mid-2025). */
  def baseHour(seed: Long): LocalDateTime =
    LocalDateTime.of(2025, 5, 1, 0, 0).plusDays(Math.floorMod(seed, 40L))

  /** `yyMMddHH.log`, the 1C rotation name. */
  def fileName(hour: LocalDateTime): String = hour.format(NameFmt) + ".log"

  private def rng(seed: Long, file: Long, record: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L ^ file * 0xC2B2AE3D27D4EB4FL ^
      record * 0x165667B19E3779F9L)

  /** Record `index` of the file for `hour`: its event time sits at
    * `offsetMicros` into the hour, its ConnectID is `id` (unique per
    * generated data set, so every sink row is distinct).
    */
  def record(seed: Long, fileKey: Long, index: Long, hour: LocalDateTime,
      offsetMicros: Long, id: Long): Record = {
    val r = rng(seed, fileKey, index)
    val comp = Components(pick(ComponentCdf, r.nextDouble()))
    val mm = (offsetMicros / 60000000L).toInt
    val ss = ((offsetMicros / 1000000L) % 60).toInt
    val frac = (offsetMicros % 1000000L).toInt
    val duration = math.min(4000000000L,
      math.exp(r.nextGaussian() * 1.8 + 8.5).toLong)
    val ib = InfoBases(math.min(InfoBases.length - 1,
      (r.nextDouble() * r.nextDouble() * InfoBases.length).toInt))
    val user = Users((math.pow(r.nextDouble(), 2) * Users.length).toInt)
    val session = sessionOf((math.pow(r.nextDouble(), 3) * 200).toInt)
    val clientId = r.nextInt(5000).toLong
    val thread = r.nextInt(90000) + 1000
    val kind = r.nextInt(1000)
    val hasSql = comp == "DBMSSQL" || comp == "SDBL"
    val rows = if (hasSql) r.nextInt(2000) else 0
    val affected = if (hasSql && r.nextInt(4) == 0) r.nextInt(50) else 0
    val (sqlRendered, sqlExpected) = if (hasSql) sqlText(r, comp, hour) else ("", "")
    val context = if (r.nextInt(10) < 7) contextText(r) else ""

    // malformed shapes keep a boundary-matching line so the assembler
    // still splits them as records of their own
    val ts =
      if (kind < 5) "ERR"
      else if (kind < 10) f"${60 + mm % 40}%02d:$ss%02d.$frac%06d"
      else f"$mm%02d:$ss%02d.$frac%06d"
    val sb = new java.lang.StringBuilder(256)
    sb.append(ts).append('-').append(duration).append(',').append(comp)
      .append(',').append(r.nextInt(6)).append(",process=rphost")
      .append(",p:processName=").append(ib)
      .append(",OSThread=").append(thread)
      .append(",t:clientID=").append(clientId)
      .append(",t:applicationName=1CV8C")
      .append(",t:computerName=").append(Hosts(r.nextInt(Hosts.length)))
      .append(",t:connectID=").append(id)
      .append(",SessionID=").append(session)
      .append(",Usr='").append(user).append('\'')
      .append(",DataBase=").append(ib)
    if (kind < 5) sb.append(",at=").append(f"$mm%02d:$ss%02d.$frac%06d-0")
    if (hasSql) {
      sb.append(",Trans=").append(r.nextInt(2)).append(",dbpid=").append(r.nextInt(300))
        .append(",Rows=").append(rows).append(",RowsAffected=").append(affected)
        .append(",Sql=").append(sqlRendered)
    }
    if (context.nonEmpty) sb.append(",Context='").append(context).append('\'')
    val reason =
      if (kind < 5) "no_time_match"
      else if (kind < 10) "bad_time"
      else "ok"
    val row =
      if (reason != "ok") None
      else {
        val micros = hour.toEpochSecond(ZoneOffset.UTC) * 1000000L + offsetMicros
        Some(Row(hour.toLocalDate.format(DateFmt), micros, comp, duration, user,
          ib, session, clientId, id, sqlExpected, rows, affected, context, ib))
      }
    Record(sb.toString, row, reason)
  }

  /** (rendered `Sql=` payload incl. quotes, text the parser must give). */
  private def sqlText(r: java.util.Random, comp: String,
      hour: LocalDateTime): (String, String) = {
    val stamp = hour.plusMinutes(r.nextInt(60)).format(SqlTsFmt)
    val lines =
      if (comp == "DBMSSQL") Seq(
        s"SELECT T1._IDRRef, T1._Description, T1._Fld${r.nextInt(900) + 100}",
        s"FROM dbo._Reference${r.nextInt(90) + 10} T1",
        s"WHERE T1._Date_Time >= '$stamp' AND T1._Code LIKE 'C:\\Base\\${r.nextInt(99)}%'") ++
        (if (r.nextInt(3) == 0) Seq(s"ORDER BY T1._Fld${r.nextInt(900)} DESC") else Nil)
      else Seq(
        "ВЫБРАТЬ Номенклатура.Ссылка КАК Ссылка",
        "ИЗ Справочник.Номенклатура КАК Номенклатура",
        f"""ГДЕ Номенклатура.Код = "${r.nextInt(99999)}%05d" И Дата > '$stamp'""")
    val logical = lines.mkString("\n")
    val quote = if (r.nextBoolean()) '"' else '\''
    val rendered = new java.lang.StringBuilder(logical.length + 16)
    rendered.append(quote)
    logical.foreach { c =>
      if (c == quote || c == '\\') rendered.append('\\')
      rendered.append(c)
    }
    rendered.append(quote)
    (rendered.toString, Scrub.replaceAllIn(logical, "").trim)
  }

  /** Multi-line Cyrillic call stack, Pareto line count (α = 1.2). Never
    * holds '=' or ',' — a record without Sql is header-parsed whole —
    * nor a line the record-boundary pattern would match.
    */
  private def contextText(r: java.util.Random): String = {
    val n = math.min(120, (1.0 / math.pow(1.0 - r.nextDouble(), 1 / 1.2)).toInt)
    (0 until n).map { i =>
      val m = Modules(r.nextInt(Modules.length))
      val line = s"$m : ${r.nextInt(4000) + 1} : ${Methods(r.nextInt(Methods.length))}"
      if (i == 0 && r.nextInt(4) == 0) s"Запрос 'ВЫБРАТЬ ПЕРВЫЕ 1' $line" else line
    }.mkString("\n")
  }

  /** Render a whole file: BOM, then records terminated by '\n'. */
  def render(records: Iterator[Record]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(1 << 16)
    sb.append('\uFEFF')
    records.foreach(rec => sb.append(rec.text).append('\n'))
    sb.toString.getBytes(UTF_8)
  }

  /** Records of one hourly file with `n` records spread over the hour. */
  def fileRecords(seed: Long, fileKey: Long, hour: LocalDateTime, n: Int,
      idBase: Long): Iterator[Record] = {
    val spacing = 3600L * 1000000L / math.max(n, 1)
    Iterator.range(0, n).map { i =>
      val off = i * spacing + rng(seed, fileKey, -1L - i).nextLong(math.max(spacing, 1))
      record(seed, fileKey, i, hour, off, idBase + i)
    }
  }

  /** Marks a file as written long before any drain starts, so the
    * connector's idle-admission window never holds its last record.
    */
  def age(p: Path): Unit =
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.from(
      Instant.now().minusSeconds(3600)))
}
