package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{OrderedFeed, StreamTuning, TmpDirs}

/** The finite-stream drive: a chunked feed arrives one chunk per
  * micro-batch, the crash/replay driver replays exactly the orphaned
  * batch, and a failed drive reaches its caller with no query left
  * running.
  */
class DriveSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** A 3-chunk feed: chunk k holds k + 2 rows tagged `chunk = k`.
    * Written last chunk first, so only the mtime pin orders arrival.
    */
  private def feed(tag: String): String = {
    val dir = TmpDirs.scratch(s"drive-feed-$tag")
    (2 to 0 by -1).foreach { k =>
      OrderedFeed.writeChunk(s"$dir/c$k", k, spark.range(k + 2)
        .select(lit(k.toLong).as("chunk"), col("id").as("row")))
    }
    dir
  }

  test("a 3-chunk OrderedFeed drains as batches 0, 1, 2 in chunk order, one file each") {
    val dir = feed("order")
    val seen = ArrayBuffer.empty[(Long, Seq[Long], Long, Long)]
    StreamTuning.drain(OrderedFeed.stream(spark, dir)) { (batch, id) =>
      val chunks = batch.select(col("chunk")).distinct().collect()
        .map(_.getLong(0)).toSeq
      val files = batch.select(input_file_name()).distinct().count()
      seen.synchronized(seen += ((id, chunks, files, batch.count())))
    }
    assert(seen.toSeq == Seq((0L, Seq(0L), 1L, 2L), (1L, Seq(1L), 1L, 3L),
      (2L, Seq(2L), 1L, 4L)))
  }

  Seq(0L, 1L).foreach { crashAt =>
    test(s"crashRestart at crashAt = $crashAt: run 1 dies, run 2 replays, each chunk lands once") {
      val dir = feed(s"crash$crashAt")
      val out = TmpDirs.scratch(s"drive-crash-out-$crashAt")
      val ckpt = TmpDirs.scratch(s"drive-crash-ckpt-$crashAt")
      val attempts = ArrayBuffer.empty[(Long, Boolean)]
      var committedAtCrash = Seq.empty[Long]
      StreamTuning.crashRestart(spark, OrderedFeed.stream(spark, dir), ckpt,
          crashAt, width = 2,
          between = () => committedAtCrash = StreamTuning.committedBatches(ckpt)) {
        (batch, id, dies) =>
          attempts.synchronized(attempts += ((id, dies)))
          batch.write.mode("overwrite").parquet(s"$out/batch_id=$id")
      }
      assert(committedAtCrash == (0L until crashAt))
      // run 1: 0..crashAt, dying at crashAt; run 2: crashAt replayed, then the rest
      val run1 = (0L to crashAt).map(id => (id, id == crashAt))
      val run2 = (crashAt to 2L).map(id => (id, false))
      assert(attempts.toSeq == run1 ++ run2)
      assert(StreamTuning.committedBatches(ckpt) == Seq(0L, 1L, 2L))
      val rows = spark.read.parquet(out)
        .select(col("batch_id"), col("chunk"), col("row")).collect()
        .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2))).sorted.toSeq
      val expected = for (k <- 0L to 2L; r <- 0L until k + 2) yield (k, k, r)
      assert(rows == expected)
      assert(spark.streams.active.isEmpty)
    }
  }

  test("crashRestart fails its require when run 1 never crashes") {
    val dir = feed("nocrash")
    val ckpt = TmpDirs.scratch("drive-nocrash-ckpt")
    val e = intercept[IllegalArgumentException] {
      StreamTuning.crashRestart(spark, OrderedFeed.stream(spark, dir), ckpt,
        crashAt = 5L, width = 2) { (_, _, _) => () }
    }
    assert(e.getMessage.contains("run 1 must die on the injected crash"))
    assert(spark.streams.active.isEmpty)
  }

  test("a failing sink's exception reaches the caller and no query stays active") {
    val dir = feed("fail")
    val e = intercept[StreamingQueryException] {
      StreamTuning.drain(OrderedFeed.stream(spark, dir)) { (_, id) =>
        if (id == 1L) throw new IllegalStateException("sink failed in batch 1")
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "sink failed in batch 1"))
    assert(spark.streams.active.isEmpty)
  }

  test("serve-while-grow: a failed growth fails the run and stops the serve stream") {
    val name = "graft_swg_failing_grow"
    val serving = new CountDownLatch(1)
    try {
      intercept[StreamingQueryException] {
        graft.ops.Clustering.serveWhileGrowRun(spark, sf, name, "failing-grow",
          baseBuild = () => java.nio.file.Files.createDirectories(
            graft.ops.Clustering.tableLocation(spark, name)),
          // growth fails once the serve stream is inside a batch
          append = (_, _) => {
            serving.await(60, TimeUnit.SECONDS)
            throw new IllegalStateException("growth failed")
          },
          probe = (_, batch: DataFrame) => {
            serving.countDown()
            Thread.sleep(120000)
            batch
          })
      }
      assert(spark.streams.active.isEmpty,
        s"still active: ${spark.streams.active.map(_.name).mkString(", ")}")
    } finally spark.streams.active.foreach(_.stop())
  }
}
