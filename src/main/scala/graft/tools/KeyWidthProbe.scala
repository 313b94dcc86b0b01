package graft.tools

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.model.OplogEntry
import graft.streaming.{OplogPipeline, QuorumDedup, StreamBench}

/** THE CDC KEY-WIDTH A/B (round-17 verdict ask 7, carried to round 19
  * as the stretch it was marked): the round-17 identity re-key widened
  * the quorum state key from `h` (8 B) to `(h, ts, tsInc)` (20 B) to
  * fix the in-horizon-update drop. Three rounds of in-band meters say
  * the fee is sub-noise; this probe prices it on the record.
  *
  * Protocol: the standard CDC bench fixture
  * ([[StreamBench.prepareFixture]] — events ×3 replica copies,
  * co-partitioned on `h`), then the QUORUM STAGE ALONE metered under
  * the two keyings, interleaved A/B/A/B over `rounds` rounds with a
  * fresh checkpoint per run (the apply stage is deliberately excluded:
  * its cost is key-width-independent and would dilute the measured
  * difference). The NARROW control reconstructs the pre-r17 `h`-only
  * keying with the SAME state machine ([[QuorumDedup.step]] /
  * [[QuorumDedup.timeoutFire]], the spec'd kernel) — on this fixture
  * `h` is op-unique (event_id), so the two forms are semantically
  * identical here and differ ONLY in key bytes through the state
  * store; the control is NOT shippable (the re-key exists because real
  * consumers overload `h` as the document key).
  *
  * Output: one JSON line with per-run rows/s and the median fee.
  * Usage: `runMain graft.tools.KeyWidthProbe [rounds]` (default 3;
  * sf dir from SPARK_GRAFT_SF_DIR, default sf0.1 — the bench meter's
  * own scale). */
object KeyWidthProbe {

  /** the pre-r17 h-only keying, kernel shared with the shipped form. */
  private def narrowQuorum(ds: Dataset[OplogEntry], depth: Int)(
      implicit spark: SparkSession): Dataset[OplogEntry] = {
    import spark.implicits._
    ds.groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, events: Iterator[OplogEntry],
            state: GroupState[QuorumDedup.QuorumState]) =>
          if (state.hasTimedOut) {
            val st = state.getOption.getOrElse(
              QuorumDedup.QuorumState(0, emitted = false))
            val out = QuorumDedup.timeoutFire(st, depth).iterator
            state.remove()
            out
          } else {
            var st = state.getOption.getOrElse(
              QuorumDedup.QuorumState(0, emitted = false))
            val out = scala.collection.mutable.ArrayBuffer.empty[OplogEntry]
            var firstTs: Option[java.sql.Timestamp] = None
            events.foreach { e =>
              if (firstTs.isEmpty) firstTs = Some(e.ts)
              if (!st.emitted && st.pending.isEmpty) st = st.copy(pending = Some(e))
              val (next, fire) = QuorumDedup.step(st, depth)
              st = next
              if (fire) out += e
            }
            if (st.emitted && st.pending.nonEmpty) st = st.copy(pending = None)
            state.update(st)
            firstTs.foreach(ts => state.setTimeoutTimestamp(
              math.max(ts.getTime + 1, state.getCurrentWatermarkMs() + 1)))
            out.iterator
          }
      }
  }

  private def meterQuorum(spark: SparkSession, srcDir: String,
      checkpoint: String, wideKey: Boolean): (Double, Long, Long) = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val priorParts = spark.conf.get("spark.sql.shuffle.partitions")
    val priorProg =
      spark.conf.getOption("spark.sql.streaming.numRecentProgressUpdates")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    try {
      val src = spark.readStream.schema(OplogEntry.schema)
        .option("maxFilesPerTrigger", "8").json(srcDir)
      val filtered = OplogPipeline.staticFilter(src)
        .withWatermark("ts", "3650 days").as[OplogEntry]
      val deduped =
        if (wideKey) QuorumDedup(filtered, 3)
        else narrowQuorum(filtered, 3)
      val emitted = new java.util.concurrent.atomic.AtomicLong(0L)
      val t0 = System.nanoTime()
      val q = deduped.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[OplogEntry], _: Long) =>
          emitted.addAndGet(b.count())
          ()
        }
        .start()
      try q.awaitTermination() finally q.stop()
      val elapsed = (System.nanoTime() - t0) / 1e9
      val inputRows = q.recentProgress.filter(_.numInputRows > 0)
        .map(_.numInputRows).sum
      (if (elapsed > 0) inputRows / elapsed else 0.0, inputRows, emitted.get())
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", priorParts)
      priorProg match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.numRecentProgressUpdates")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val rounds = args.headOption.map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val scratch = java.nio.file.Files.createTempDirectory("graft-keywidth")
      .toFile.getAbsolutePath
    try {
      val ops = StreamBench.prepareFixture(spark, sfDir, s"$scratch/oplog")
      val wide = Seq.newBuilder[Double]
      val narrow = Seq.newBuilder[Double]
      var emittedMismatch = false
      (1 to rounds).foreach { i =>
        // interleaved so a host drift hits both arms equally, and the
        // WITHIN-ROUND order alternates so JVM/codegen warmup doesn't
        // systematically tax whichever arm runs first (observed: the
        // first run of the process is ~40% under its own warm rate)
        def runWide() = meterQuorum(spark, s"$scratch/oplog",
          s"$scratch/ckpt-wide-$i", wideKey = true)
        def runNarrow() = meterQuorum(spark, s"$scratch/oplog",
          s"$scratch/ckpt-narrow-$i", wideKey = false)
        val ((wr, _, we), (nr, _, ne)) =
          if (i % 2 == 1) { val w = runWide(); (w, runNarrow()) }
          else { val n = runNarrow(); (runWide(), n) }
        if (we != ne) emittedMismatch = true
        wide += wr
        narrow += nr
        println(f"""{"probe":"key_width_run","round":$i,"wide_rows_per_sec":$wr%.0f,"narrow_rows_per_sec":$nr%.0f,"emitted_wide":$we,"emitted_narrow":$ne}""")
      }
      val mw = BenchOne.median(wide.result())
      val mn = BenchOne.median(narrow.result())
      println(f"""{"probe":"key_width_summary","rounds":$rounds,"ops":$ops,"wide_median_rows_per_sec":$mw%.0f,"narrow_median_rows_per_sec":$mn%.0f,"wide_over_narrow":${mw / math.max(1e-9, mn)}%.3f,"emitted_mismatch":$emittedMismatch}""")
    } finally {
      spark.stop()
      new scala.reflect.io.Directory(new java.io.File(scratch)).deleteRecursively()
    }
  }
}
