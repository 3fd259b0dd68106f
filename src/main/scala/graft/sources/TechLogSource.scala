package graft.sources

import java.nio.file.{FileVisitResult, Files, NoSuchFileException, Paths, SimpleFileVisitor, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.RecordAssembler
import graft.model.LogEntry
import graft.parse.TechLogParser

/** DataSource V2 connector for 1C technological logs: the reference's
  * ingest (dir walk → multi-line record assembly → header/SQL/Context
  * parse, SURVEY §2.1 S1-S3/P1-P6) surfaced as a first-class Spark
  * source —
  *
  *   spark.read.format("techlog").load("/logs")
  *
  * It is the pump's only reader of .log files: `LogPump.pumpBatch`,
  * `StreamingPump.pumpStream` (and so `PumpMain`) and q244 all load
  * through it.
  *
  * Scan shape: rotated .log files bin-packed into InputPartitions by
  * cumulative size plus a 4 MB open cost per file (`maxPartitionBytes`,
  * default 128 MB — task count tracks max(bytes, file count); 1C
  * rotates hourly so files are bounded and the plan stays narrow and
  * shuffle-free), with V2 column
  * pruning (SupportsPushDownRequiredColumns) and equality/range/In/not-null
  * filter pushdown (SupportsPushDownFilters): a filtered
  * `select(Component)` parses each record once and materializes only
  * passing rows with only the pruned columns. Predicates on the
  * `Timestamp` column (the `YYMMDDHH.log` base name — the filename IS
  * the hour) additionally prune the FILE LIST before any I/O, so a
  * time-range scan opens only the matching rotated files. Files are
  * opened through the Hadoop FS API, so the same connector reads local
  * paths here and any HDFS-compatible store on a real cluster.
  *
  * File selection matches the reference's glob `FilePattern`
  * (`scan.go:116-124` translates `*`/`?` globs to an anchored regex):
  * `option("pathGlobFilter", "rphost_*.log")` filters base names
  * (default `*.log`).
  *
  * Options: `path`, `pathGlobFilter`, `maxPartitionBytes`, and for
  * streams `maxFilesPerTrigger` and `idleAdmitMs`; `fs.*`/`hadoop.*`
  * options configure the Hadoop FS of a remote store.
  */
class TechLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "techlog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TechLogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TechLogTable(properties.asScala.toMap)
}

object TechLogSource {
  /** LogEntry's 25 columns (InsertedAt surfaces as TIMESTAMP). */
  val schema: StructType = org.apache.spark.sql.Encoders.product[LogEntry].schema
    .asInstanceOf[StructType]

  /** One Hadoop Configuration per JVM: construction parses the
    * *-default.xml resources under a class-level lock, so a fresh
    * Configuration per partition serializes every concurrent task on
    * it (measured 6.6 s vs 0.9 s for the whole sf0.1 scan).
    */
  private[sources] lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** The serializable subset of options the executors need (the DSv2
    * way to carry credentials and endpoints to executors — the
    * session's spark.hadoop.* values are not reachable from a
    * TableProvider, so remote stores configure the connector via
    * options).
    */
  private[sources] def fsOptions(conf: Map[String, String]): Map[String, String] =
    conf.filter { case (k, _) => k.startsWith("fs.") || k.startsWith("hadoop.") }

  private[sources] def hadoopConfFor(conf: Map[String, String]): org.apache.hadoop.conf.Configuration = {
    val fsOpts = fsOptions(conf)
    if (fsOpts.isEmpty) hadoopConf
    else {
      val c = new org.apache.hadoop.conf.Configuration(hadoopConf)
      fsOpts.foreach { case (k, v) =>
        c.set(k.stripPrefix("hadoop."), v) }
      c
    }
  }

  /** Base-name predicate from the reference's glob `FilePattern`
    * (`scan.go:116-124`: `.`→`\.`, `*`→`.*`, `?`→`.`, anchored both
    * ends), read from `pathGlobFilter` (default `*.log`).
    */
  private[sources] def nameMatcher(conf: Map[String, String]): String => Boolean = {
    val glob = conf.getOrElse("pathGlobFilter", "*.log")
    val re = ("^" + glob.replace(".", "\\.").replace("*", ".*")
      .replace("?", ".") + "$").r
    (name: String) => re.matches(name)
  }

  /** Name-sorted recursive listing: (path, size, mtimeMs). The mtime
    * feeds the streaming idle-admission rule (a current-hour file
    * whose writer has gone idle flushes its in-progress record, the
    * reference's 2 s idle flush, `tail.go:79-85`).
    */
  private[sources] def listLogFiles(conf: Map[String, String]): Seq[(String, Long, Long)] = {
    val root = conf.getOrElse("path",
      throw new IllegalArgumentException("techlog source requires a path"))
    val matches = nameMatcher(conf)
    val uri = new Path(root).toUri
    val out =
      if (uri.getScheme == null || uri.getScheme == "file") {
        // local fast path: Hadoop's RawLocalFileSystem (no native lib)
        // FORKS A SHELL PER FILE to load permission bits during
        // listing — ~8 ms × every rotated file, on the driver, every
        // plan. NIO walks the tree without touching permissions. The
        // same missing native lib makes it fork a `chmod` per created
        // file; the lake sink avoids that through graft.util.LocalFs.
        val visitor = new LocalLogFiles(Paths.get(uri.getPath), matches)
        Files.walkFileTree(visitor.root, visitor)
        visitor.found.result()
      } else {
        val fs = FileSystem.get(uri, hadoopConfFor(conf))
        val it = fs.listFiles(new Path(root), /* recursive = */ true)
        val b = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && matches(f.getPath.getName))
            b += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        b.result()
      }
    out.sortBy(_._1)
  }

  /** Local-tree walk collecting matching regular files with size and
    * mtime from the walker's own attributes, one stat per file. A file
    * (or directory) that 1C retention deletes between the directory
    * read and its stat is skipped — the next listing drops it from the
    * offset like any deleted file — instead of failing the stream.
    */
  private[graft] final class LocalLogFiles(val root: NioPath, matches: String => Boolean)
      extends SimpleFileVisitor[NioPath] {
    val found = Vector.newBuilder[(String, Long, Long)]
    override def visitFile(p: NioPath, attrs: BasicFileAttributes): FileVisitResult = {
      // a symlinked file is listed with its target's size and mtime; a
      // dangling link keeps the link's own attributes and is skipped
      val a = if (!attrs.isSymbolicLink) attrs
        else try Files.readAttributes(p, classOf[BasicFileAttributes])
        catch { case _: java.io.IOException => attrs }
      if (a.isRegularFile && matches(p.getFileName.toString))
        found += ((p.toString, a.size, a.lastModifiedTime.toMillis))
      FileVisitResult.CONTINUE
    }
    override def visitFileFailed(p: NioPath, e: java.io.IOException): FileVisitResult =
      e match {
        case _: NoSuchFileException if p != root => FileVisitResult.CONTINUE
        case _ => throw e
      }
  }

  /** Bytes [from, min(to, current size)) of a file: the driver's tail
    * windows and the executors' slices. A read that fills its buffer
    * returns the buffer itself, so a slice is copied once, into its
    * String.
    */
  private[sources] def readRange(path: String, from: Long, to: Long,
      hconf: org.apache.hadoop.conf.Configuration): Array[Byte] = {
    require(to - from <= Int.MaxValue, s"readRange window > 2 GB in $path")
    // cap at the CURRENT length: the file may have been truncated
    // since the listing (readFully past EOF throws)
    def window(size: Long): Int = math.max(0L, math.min(size, to) - from).toInt
    val uri = new Path(path).toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      val ch = java.nio.channels.FileChannel.open(Paths.get(uri.getPath))
      try {
        val buf = java.nio.ByteBuffer.allocate(window(ch.size()))
        ch.position(from)
        while (buf.hasRemaining && ch.read(buf) >= 0) {}
        if (buf.hasRemaining) java.util.Arrays.copyOf(buf.array(), buf.position())
        else buf.array()
      } finally ch.close()
    } else {
      val fs = FileSystem.get(uri, hconf)
      val arr = new Array[Byte](window(fs.getFileStatus(new Path(path)).getLen))
      val in = fs.open(new Path(path))
      try in.readFully(from, arr) finally in.close()
      arr
    }
  }

  /** Align a streaming admission target to safe boundaries. A listing
    * catches the writer wherever it happens to be, so the raw size can
    * split a line (even a UTF-8 sequence) or a multi-line record; the
    * reference never commits either — its tail consumes whole lines
    * and stores offsets only after a complete record flush
    * (`tail.go:79-85`).
    *
    *  - always: cap at the byte AFTER the last '\n' ≤ size (whole
    *    lines only — a partial trailing line stays pending, exactly
    *    like the reference's line scanner);
    *  - `holdBackRecord` (the still-hot current-hour file): cap at the
    *    START of the last record-boundary line, holding the
    *    record-in-progress back until a later boundary line arrives,
    *    the writer goes idle, or the file rotates.
    *
    * Scans backward in growing chunks from the end — the in-progress
    * tail is small, so this is one 64 KB read per changed file in the
    * common case.
    */
  private[graft] def alignedAdmit(path: String, size: Long, holdBackRecord: Boolean,
      hconf: org.apache.hadoop.conf.Configuration,
      maxChunk: Long = 1L << 30): Long = {
    // maxChunk: a >1 GB run without the sought boundary is not a
    // techlog — hold everything (return 0) rather than buffer it all;
    // parameterized so the spec pins the guard without 1 GiB of IO
    var chunk = 64L * 1024
    while (size > 0) {
      if (chunk > maxChunk && size > maxChunk) return 0L
      val from = math.max(0L, size - chunk)
      val bytes = readRange(path, from, size, hconf)
      var i = bytes.length - 1
      while (i >= 0 && bytes(i) != '\n') i -= 1
      if (i < 0) {
        if (from == 0) return 0L // no complete line in the whole file
        chunk *= 4
      } else {
        val lineEnd = from + i + 1
        if (!holdBackRecord) return lineEnd
        // if the partial trailing line ALREADY matches the boundary
        // pattern, a new record has provably started at lineEnd — the
        // unanchored match can't be undone by more bytes — so every
        // byte before it belongs to complete records: admit them all
        if (i < bytes.length - 1) {
          val partial = new String(bytes, i + 1, bytes.length - (i + 1),
            java.nio.charset.StandardCharsets.UTF_8).replace("\u0000", "")
          if (TechLogParser.isNewLogRecord(partial)) return lineEnd
        }
        // otherwise the partial line may continue the last record:
        // walk the complete lines in [from, lineEnd) backward; the
        // START of the last boundary line is the admission point
        // (that record is the unconfirmed one, held back)
        var end = (lineEnd - from).toInt // exclusive, ends with '\n'
        while (end > 0) {
          var ls = end - 1
          while (ls > 0 && bytes(ls - 1) != '\n') ls -= 1
          if (ls > 0 || from == 0) { // ls == 0 with from > 0 → partial line
            val line = new String(bytes, ls, end - 1 - ls,
              java.nio.charset.StandardCharsets.UTF_8).replace("\u0000", "") // tail.go:98 NUL strip
            if (TechLogParser.isNewLogRecord(line)) return from + ls
          }
          end = ls
        }
        if (from == 0) return 0L // no boundary line at all yet
        chunk *= 4
      }
    }
    0L
  }

  private[sources] def baseName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** File-list pruning from pushed predicates on the `Timestamp`
    * column, whose value IS the source file's base name (`YYMMDDHH
    * .log` — 1C encodes the hour in the name). Lexicographic order on
    * the names equals chronological order, so equality/range/IN
    * filters select rotated files without opening any of them: a
    * `Timestamp >= '25052608.log'` scan over a month of logs reads
    * only the matching hours. The same predicates are ALSO evaluated
    * per-record in the reader, so pruning is purely an I/O saving —
    * never a correctness dependency.
    */
  private[sources] def pruneByName(slices: Seq[TechLogFileSlice],
      pushed: Array[Filter]): Seq[TechLogFileSlice] = {
    val preds: Array[String => Boolean] = pushed.collect {
      case EqualTo("Timestamp", v: String) => (n: String) => n == v
      case GreaterThan("Timestamp", v: String) => (n: String) => n > v
      case GreaterThanOrEqual("Timestamp", v: String) => (n: String) => n >= v
      case LessThan("Timestamp", v: String) => (n: String) => n < v
      case LessThanOrEqual("Timestamp", v: String) => (n: String) => n <= v
      case In("Timestamp", vs) =>
        val set = vs.collect { case s: String => s }.toSet
        (n: String) => set.contains(n)
    }
    if (preds.isEmpty) slices
    else slices.filter(s => preds.forall(_(baseName(s.path))))
  }

  /** Bin-pack contiguous slices into partitions by cumulative COSTED
    * size: actual bytes plus a 4 MB open cost per file (the built-in
    * file source's defaults: 128 MB partitions, 4 MB open cost). One
    * partition per tiny file would schedule a task per hourly
    * rotation; packing by bytes alone would serialize thousands
    * of small files into one task — the open-cost padding balances
    * both, scaling task count with max(bytes, file count).
    */
  private[sources] def packPartitions(slices: Seq[TechLogFileSlice],
      conf: Map[String, String]): Array[InputPartition] = {
    val target = conf.getOrElse("maxPartitionBytes", s"${128L * 1024 * 1024}").toLong
    val openCost = 4L * 1024 * 1024
    val parts = Array.newBuilder[InputPartition]
    val cur = Seq.newBuilder[TechLogFileSlice]
    var cost = 0L
    var n = 0
    slices.foreach { s =>
      val len = s.end - s.start
      if (n > 0 && cost + len + openCost > target) {
        parts += TechLogFilePartition(cur.result()); cur.clear(); cost = 0L; n = 0
      }
      cur += s; cost += len + openCost; n += 1
    }
    if (n > 0) parts += TechLogFilePartition(cur.result())
    parts.result()
  }
}

final class TechLogTable(conf: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"techlog(${conf.getOrElse("path", "?")})"
  override def schema(): StructType = TechLogSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TechLogScanBuilder(conf ++ options.asScala)
}

final class TechLogScanBuilder(conf: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = TechLogSource.schema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** Accept equality, range, IN and not-null predicates: the reader
    * evaluates them on the parsed record before any row is
    * materialized, so Spark drops its post-scan Filter for them
    * entirely; `Timestamp` predicates additionally prune the file
    * list (see TechLogSource.pruneByName).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // never claim the TimestampType column: the source Filter carries
    // java.sql.Timestamp while the record field is java.time.Instant,
    // so a reader-side comparison would silently drop every row
    def pushable(a: String): Boolean =
      TechLogSource.schema.fieldNames.contains(a) &&
        TechLogSource.schema(a).dataType != TimestampType
    val (ours, rest) = filters.partition {
      case EqualTo(a, _) => pushable(a)
      case GreaterThan(a, _) => pushable(a)
      case GreaterThanOrEqual(a, _) => pushable(a)
      case LessThan(a, _) => pushable(a)
      case LessThanOrEqual(a, _) => pushable(a)
      case In(a, _) => pushable(a)
      case IsNotNull(a) => pushable(a)
      case _ => false
    }
    pushed = ours
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new TechLogScan(conf, required, pushed)
}

final class TechLogScan(conf: Map[String, String], required: StructType,
    pushed: Array[Filter] = Array.empty)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def description(): String =
    s"techlog PushedFilters: [${pushed.mkString(", ")}]"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    // batch snapshot: each file read [0, size-at-listing) so a file
    // growing mid-query yields a consistent point-in-time scan
    val slices = TechLogSource.listLogFiles(conf)
      .map { case (p, len, _) => TechLogFileSlice(p, 0L, len) }
    TechLogSource.packPartitions(
      TechLogSource.pruneByName(slices, pushed), conf)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new TechLogReaderFactory(required.fieldNames, pushed, TechLogSource.fsOptions(conf))
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TechLogMicroBatchStream(conf, required, pushed)
}

/** Per-file byte-offset streaming checkpoint — the reference's
  * `processed` map (`watcher.go`/`tail.go:21-27`: path → committed
  * offset, re-tail from offset when `size > offset`,
  * `scan.go:95-103`) expressed as a DSv2 Offset. The offset IS the
  * map `path → committed size`, so
  *
  *  - a still-growing current-hour file is re-admitted for exactly its
  *    appended byte range (no per-file data-loss window),
  *  - files discovered in NEW subdirectories (the per-process dirs the
  *    reference walks, `watcher.go:56`) are ingested no matter where
  *    they sort relative to already-committed paths, and
  *  - retention-deleted files drop out of the map without shifting
  *    anything else — replayed batches read exactly the recorded byte
  *    ranges.
  *
  * Committed sizes are never raw listing sizes (unless the caller
  * opts out with `idleAdmitMs=0`): they are aligned to safe
  * boundaries first (`alignedAdmit`) — whole lines always, and for
  * any still-hot (recently-written) file, whole RECORDS: the
  * record-in-progress is held back until a later boundary line
  * arrives or the writer goes idle (`idleAdmitMs`, default 2 s — the
  * reference's per-file idle flush). This holds for continuous
  * triggers AND Trigger.AvailableNow drains (only the LISTING is
  * frozen there). A raw listing size can catch the writer mid-record
  * (even mid-UTF-8-sequence); the reference only stores offsets after
  * a complete record flush (`tail.go:79-85`).
  *
  * Scale note: the offset is O(live files) and 1C retention bounds the
  * live set (hours × processes), so checkpoint size stays small even
  * at 100 TB/day ingest; the per-batch work is the byte DELTA, never a
  * re-scan. A file whose size SHRANK was rotated/rewritten in place —
  * it is re-read from 0 (the reference's tail would silently skip;
  * re-reading is the lossless choice for an immutable-sink pipeline).
  */
final case class TechLogOffset(files: Map[String, Long]) extends Offset {
  override def json(): String = {
    val om = TechLogOffset.mapper
    val node = om.createObjectNode()
    val sizes = node.putObject("fileSizes")
    files.toSeq.sortBy(_._1).foreach { case (p, s) => sizes.put(p, s) }
    om.writeValueAsString(node)
  }
}

object TechLogOffset {
  private[sources] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parse either the current `{"fileSizes":{path:size,…}}` form or a
    * pre-round-4 `{"fileCount":N}` checkpoint (legacy count into the
    * name-sorted listing — upgraded in place by resolving the first N
    * currently-listed names at their current sizes, which preserves
    * the old scheme's semantics exactly: those files were committed
    * whole-file, with no append tracking).
    */
  def parse(json: String, conf: Map[String, String]): TechLogOffset = {
    val node = mapper.readTree(json)
    if (node.has("fileSizes")) {
      val sizes = node.get("fileSizes")
      val b = Map.newBuilder[String, Long]
      sizes.fields().asScala.foreach(e => b += ((e.getKey, e.getValue.asLong())))
      TechLogOffset(b.result())
    } else {
      val n = node.get("fileCount").asInt()
      TechLogOffset(TechLogSource.listLogFiles(conf).take(n)
        .map { case (p, s, _) => p -> s }.toMap)
    }
  }
}

final class TechLogMicroBatchStream(conf: Map[String, String],
    required: StructType, pushed: Array[Filter] = Array.empty)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  // Trigger.AvailableNow: freeze the LISTING at query start so the run
  // drains exactly the then-visible backlog (in admission-control-
  // bounded batches) and terminates, ignoring data that keeps
  // arriving. Admission rules (alignment, holdback, idle flush) are
  // identical to the continuous path — only the listing is frozen, so
  // a drain racing a live writer still never commits a torn record; a
  // held-back tail simply waits for the next periodic drain (or set
  // idleAdmitMs=0 when writes are known quiesced).
  @volatile private var availableNowTarget: Option[Seq[(String, Long, Long)]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(TechLogSource.listLogFiles(conf))
  override def initialOffset(): Offset = TechLogOffset(Map.empty)
  /** Spark calls the (start, limit) form on admission-control sources. */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")
  /** Idle-admission window (ms): a file younger than this holds back
    * its record-in-progress (see alignedAdmit); once its writer goes
    * idle the pending record flushes — the reference's 2 s idle flush
    * (`tail.go:79-85`), applied to EVERY tailed file exactly like the
    * reference's per-file tails (hour rollover flushes the old file's
    * final record the same way). 0 disables holdback (admit raw
    * listed sizes — callers that KNOW writes are quiesced).
    */
  private val idleAdmitMs = conf.getOrElse("idleAdmitMs", "2000").toLong
  /** (path, size, holdBack) → aligned target, valid while the file's
    * size is unchanged: a hot file that is all held back (target ==
    * prev) would otherwise pay its tail read on EVERY trigger.
    */
  private val admitMemo =
    scala.collection.mutable.HashMap.empty[(String, Long, Boolean), Long]
  /** Admission control: `maxFilesPerTrigger` caps how many CHANGED
    * files (new, grown, or truncated) one micro-batch admits, so a
    * backlog after downtime drains in bounded batches instead of one
    * giant catch-up batch. There is no record cap: the reference's
    * count flush (`batch.go:59`) sends a FULL batch early, it never
    * holds records back, so the trigger period plus this file cap is
    * the whole B1 port (see COVERAGE.md, B1).
    */
  override def getDefaultReadLimit: ReadLimit =
    conf.get("maxFilesPerTrigger").map(n => ReadLimit.maxFiles(n.toInt))
      .getOrElse(ReadLimit.allAvailable())
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val committed = start.asInstanceOf[TechLogOffset].files
    val files = availableNowTarget.getOrElse(TechLogSource.listLogFiles(conf))
    val names = files.map(_._1).toSet
    // deleted files leave the map (bounded checkpoint under retention)
    val kept = committed.filter { case (p, _) => names(p) }
    // prune memo entries for deleted files AND superseded sizes (a
    // growing file would otherwise leave one stale entry per batch)
    val sizeByPath = files.map(f => f._1 -> f._2).toMap
    admitMemo.filterInPlace { case ((p, s, _), _) => sizeByPath.get(p).contains(s) }
    val now = System.currentTimeMillis()
    val hconf = TechLogSource.hadoopConfFor(conf)
    // admission target per size-changed file, aligned to safe
    // boundaries; only files whose committed offset would MOVE count
    // as changed (a grown-but-all-held-back file does not consume a
    // maxFilesPerTrigger slot). LAZY so a ReadMaxFiles cap stops the
    // per-file tail reads after maxFiles admissions — a post-downtime
    // backlog costs O(maxFiles) reads per trigger, not O(backlog).
    val changed = files.iterator.flatMap { case (p, sz, mtime) =>
      val prev = committed.getOrElse(p, 0L)
      if (sz == prev) None
      else {
        val holdBack = idleAdmitMs > 0 && (now - mtime) < idleAdmitMs
        val target =
          if (idleAdmitMs <= 0) sz // holdback disabled: raw size
          else {
            // retention can delete the file between the listing and
            // this tail read — skip it this batch (the next listing
            // drops it from the offset) instead of failing the
            // stream; failures are NOT memoized
            val aligned = admitMemo.get((p, sz, holdBack)).getOrElse {
              try {
                val v = TechLogSource.alignedAdmit(p, sz, holdBack, hconf)
                admitMemo((p, sz, holdBack)) = v
                v
              } catch { case _: java.io.IOException => prev }
            }
            if (sz < prev) aligned // truncated: re-read [0, aligned)
            else math.max(prev, aligned) // grown: never regress
          }
        if (target == prev) None else Some(p -> target)
      }
    }
    val capped = limit match {
      case mf: ReadMaxFiles => changed.take(mf.maxFiles())
      case _ => changed
    }
    TechLogOffset(kept ++ capped)
  }
  override def deserializeOffset(json: String): Offset =
    TechLogOffset.parse(json, conf)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  /** The batch is the byte DELTA between two offset maps — computed
    * purely from the checkpointed maps, never from current FS state,
    * so a replay after restart reads exactly the original ranges even
    * if files grew, appeared, or were deleted in between.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TechLogOffset].files
    val e = end.asInstanceOf[TechLogOffset].files
    val slices = e.toSeq.sortBy(_._1).flatMap { case (p, endSz) =>
      val from = s.getOrElse(p, 0L)
      if (endSz > from) Some(TechLogFileSlice(p, from, endSz))
      else if (endSz < from) Some(TechLogFileSlice(p, 0L, endSz)) // truncated → re-read
      else None
    }
    TechLogSource.packPartitions(
      TechLogSource.pruneByName(slices, pushed), conf)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new TechLogReaderFactory(required.fieldNames, pushed, TechLogSource.fsOptions(conf))
}

/** A byte range [start, end) of one rotated log file. Batch scans use
  * [0, size-at-listing); streaming deltas start at the previously
  * committed size (append re-read, reference `tail.go:21-27`).
  */
final case class TechLogFileSlice(path: String, start: Long, end: Long)

final case class TechLogFilePartition(slices: Seq[TechLogFileSlice]) extends InputPartition

final class TechLogReaderFactory(requiredCols: Array[String],
    pushed: Array[Filter], fsOpts: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TechLogFileReader(
      partition.asInstanceOf[TechLogFilePartition].slices, requiredCols, pushed,
      fsOpts)
}

/** Reads byte slices of rotated log files: record assembly + parse,
  * then projects the pruned columns into InternalRows.
  */
final class TechLogFileReader(slices: Seq[TechLogFileSlice], requiredCols: Array[String],
    pushed: Array[Filter], fsOpts: Map[String, String] = Map.empty)
    extends PartitionReader[InternalRow] {

  // pushed-predicate evaluation on the parsed record, before any row
  // is materialized (equality/range/IN + not-null; LogEntry fields are
  // never null, so IsNotNull is vacuously true)
  private def cmp(a: String): (LogEntry, Any) => Int = {
    val idx = TechLogSource.schema.fieldIndex(a)
    TechLogSource.schema.fields(idx).dataType match {
      case StringType => (e, v) =>
        e.productElement(idx).asInstanceOf[String].compareTo(v.asInstanceOf[String])
      case IntegerType => (e, v) => java.lang.Integer.compare(
        e.productElement(idx).asInstanceOf[Int], v.asInstanceOf[Number].intValue())
      case LongType => (e, v) => java.lang.Long.compare(
        e.productElement(idx).asInstanceOf[Long], v.asInstanceOf[Number].longValue())
      case dt => throw new IllegalStateException(s"unpushable type $dt for $a")
    }
  }
  private val checks: Array[LogEntry => Boolean] = pushed.map {
    case EqualTo(a, v) =>
      val idx = TechLogSource.schema.fieldIndex(a)
      (e: LogEntry) => e.productElement(idx) == v
    case GreaterThan(a, v) => val c = cmp(a); (e: LogEntry) => c(e, v) > 0
    case GreaterThanOrEqual(a, v) => val c = cmp(a); (e: LogEntry) => c(e, v) >= 0
    case LessThan(a, v) => val c = cmp(a); (e: LogEntry) => c(e, v) < 0
    case LessThanOrEqual(a, v) => val c = cmp(a); (e: LogEntry) => c(e, v) <= 0
    case In(a, vs) =>
      val idx = TechLogSource.schema.fieldIndex(a)
      val set = vs.toSet
      (e: LogEntry) => set.contains(e.productElement(idx))
    case IsNotNull(_) => (_: LogEntry) => true
    case f => throw new IllegalStateException(s"unpushable filter $f")
  }

  private val records: Iterator[LogEntry] = {
    val hconf = TechLogSource.hadoopConfFor(fsOpts)
    slices.iterator.flatMap { slice =>
      // exactly [start, min(end, current size)): `end` is the size this
      // batch committed — bytes appended since belong to a later delta
      // and must not leak into a replayed batch
      val content = new String(
        TechLogSource.readRange(slice.path, slice.start, slice.end, hconf),
        java.nio.charset.StandardCharsets.UTF_8)
      val lines = content.split("\n", -1)
      val trimmed = if (lines.nonEmpty && lines.last.isEmpty) lines.init else lines
      val base = TechLogSource.baseName(slice.path)
      RecordAssembler.splitRecords(trimmed.iterator.map(_.stripSuffix("\r")))
        .map(ls => TechLogParser.parseLine(ls).copy(Timestamp = base))
    }
  }

  // pruned-column projectors, bound once per reader
  private val all = TechLogSource.schema
  private val projectors: Array[LogEntry => Any] = requiredCols.map { name =>
    val idx = all.fieldIndex(name)
    val isTs = all.fields(idx).dataType == TimestampType
    (e: LogEntry) => {
      val v = e.productElement(idx)
      v match {
        case s: String => UTF8String.fromString(s)
        case i: java.time.Instant if isTs => DateTimeUtils.instantToMicros(i)
        case other => other
      }
    }
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    while (records.hasNext) {
      val e = records.next()
      if (checks.forall(_(e))) {
        val row = new GenericInternalRow(projectors.length)
        var i = 0
        while (i < projectors.length) { row.update(i, projectors(i)(e)); i += 1 }
        current = row
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
