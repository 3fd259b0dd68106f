package graft.ingest

import graft.parse.TechLogParser

/** Multi-line record assembly (reference: `internal/watcher/tail.go:88-115`
  * + boundary regex `scan.go:16-21`): NUL bytes are stripped per line, a
  * line containing the boundary pattern flushes the buffered record, and
  * leading non-boundary lines form a (malformed) record that the
  * downstream transform drops — same as the reference.
  *
  * The `techlog` connector (graft.sources.TechLogSource) splits every
  * byte slice it reads with `splitRecords`, batch and streaming alike.
  */
object RecordAssembler {

  /** Pure record-splitting over one file's lines. */
  def splitRecords(lines: Iterator[String]): Iterator[Seq[String]] =
    new Iterator[Seq[String]] {
      private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      private var pending: Seq[String] = null
      private var exhausted = false

      private def advance(): Unit = {
        while (pending == null && !exhausted) {
          if (lines.hasNext) {
            val clean = lines.next().replace("\u0000", "") // tail.go:98
            if (TechLogParser.isNewLogRecord(clean) && buf.nonEmpty) {
              pending = buf.toVector
              buf.clear()
            }
            buf += clean
          } else {
            exhausted = true
            if (buf.nonEmpty) { pending = buf.toVector; buf.clear() }
          }
        }
      }

      override def hasNext: Boolean = { advance(); pending != null }
      override def next(): Seq[String] = {
        advance()
        val r = pending; pending = null; r
      }
    }
}
