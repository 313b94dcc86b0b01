package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Dedup
import graft.streaming.{NearDupBand, NearDupStream}

/** `neardup_gate`: the seeded corpus admitted one file per micro-batch
  * through `NearDupStream.flag` + `fold`. The gate's bucket state grows
  * with every admitted document, so the window is placed by work: the
  * first `WarmBatches` files warm up, the next `timedBatches(seconds)`
  * are timed, and every run times the same files at the same state size. */
object NearDupGate {

  val FileDocs = 500
  /** micro-batches of warm-up before the window opens; counted in `setup_s`. */
  val WarmBatches = 6
  /** timed micro-batches per second of `--seconds`: about the gate's
    * batch rate on a 4-core host, so the window lasts about that long. */
  val BatchesPerSecond = 1.6
  def timedBatches(seconds: Double): Int = math.max(4, math.ceil(seconds * BatchesPerSecond).toInt)
  private val Schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  /** writes one file per wave, modification times pinned in wave order
    * (the file source admits files oldest first). */
  def writeWaves(dir: File, waves: Seq[Seq[Gen.Doc]]): Unit = {
    val base = System.currentTimeMillis() - waves.length * 1000L
    waves.zipWithIndex.foreach { case (w, i) =>
      val f = new File(dir, f"d$i%05d.json")
      Gen.writeLines(f, w.iterator.map(Gen.docLine))
      f.setLastModified(base + i * 1000L)
    }
  }

  final class Gate(ctx: Ctx, in: File, work: File, tracer: Tracer, parent: Int) {
    val verdicts = new ConcurrentLinkedQueue[(Long, Long, Option[Long])]()   // (batch, doc, dup_of)
    val query: StreamingQuery = {
      val spark = ctx.spark
      import spark.implicits._
      val src = spark.readStream.schema(Schema).option("maxFilesPerTrigger", 1).json(in.getPath)
      NearDupStream.flag(src).writeStream
        .option("checkpointLocation", new File(work, "ckpt").getPath)
        .outputMode("append")
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (b: Dataset[NearDupBand], id: Long) =>
          tracer.span("NearDupStream.fold", id, parent) { _ =>
            NearDupStream.fold(b.toDF()).select($"doc_id", $"dup_of").as[(Long, Option[Long])]
              .collect().foreach { case (d, o) => verdicts.add((id, d, o)) }
          }
        }
        .start()
    }
  }

  /** band hashes as the gate computes them: xxhash64 (seed 42) over each
    * band's four MinHash positions. */
  private def bands(mh: Array[Long]): Seq[(Int, Long)] = (0 until 16).map { b =>
    var h = 42L
    (0 until 4).foreach(r => h = XXH64.hashLong(mh(4 * b + r), h))
    (b, h)
  }

  /** Driver replay of the gate's discipline: waves in admission order,
    * doc_id order inside a wave, a band's first unmatched arrival claims
    * its bucket, a later arrival matches the first claimant agreeing on
    * ≥ tau64 positions; verdict = smallest matched claimant. */
  def replay(waves: Seq[Seq[Gen.Doc]], sigs: Map[Long, Array[Long]]): Map[Long, Option[Long]] = {
    val buckets = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuffer[(Long, Array[Long])]]
    val out = mutable.HashMap.empty[Long, Option[Long]]
    for (w <- waves; d <- w.sortBy(_.id); mh <- sigs.get(d.id)) {
      var hits = List.empty[Long]
      bands(mh).foreach { key =>
        val cl = buckets.getOrElseUpdate(key, mutable.ArrayBuffer.empty)
        cl.find(c => agree(c._2, mh) >= NearDupStream.DefaultTau64) match {
          case Some(c) => hits ::= c._1
          case None => cl += ((d.id, mh))
        }
      }
      out(d.id) = hits.minOption
    }
    out.toMap
  }

  private def agree(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var c = 0
    while (i < a.length) { if (a(i) == b(i)) c += 1; i += 1 }
    c
  }

  final case class Drain(docs: Long, seconds: Double, batches: Seq[ProgressLog.Event], lastBatch: Long,
      verdicts: Map[Long, Option[Long]])

  private def drain(ctx: Ctx, in: File, waves: Int, timed: Int): Drain =
    ctx.tracer.span("NearDupGate.drain") { span =>
      val g = new Gate(ctx, in, ctx.dir("run"), ctx.tracer, span)
      try {
        val (open, batches) = ctx.progress.window(g.query, WarmBatches, timed, () => ctx.markSetupDone()) {
          _.last.p.batchId >= waves - 1
        }
        val last = batches.last
        val got = g.verdicts.asScala.filter(_._1 <= last.p.batchId).map(v => v._2 -> v._3).toMap
        Drain(batches.map(_.p.numInputRows).sum, (last.atNs - open.atNs) / 1e9, batches, last.p.batchId, got)
      } finally g.query.stop()
    }

  def run(ctx: Ctx): Outcome = {
    val timed = timedBatches(ctx.seconds)
    val corpus = Gen.corpus(ctx.seed, (WarmBatches + timed + 1) * FileDocs)
    val waves = corpus.toSeq.grouped(FileDocs).toSeq
    val in = ctx.dir("docs")
    writeWaves(in, waves)
    val d = drain(ctx, in, waves.length, timed)
    // the reference signatures, sketched once the JIT has warmed the kernel
    val t0 = System.nanoTime()
    val sigs = corpus.iterator.flatMap(d => Dedup.sketchText(d.text).map(d.id -> _)).toMap
    val sketchMs = (System.nanoTime() - t0) / 1e6
    val want = replay(waves.take(d.lastBatch.toInt + 1), sigs)
    val bad = (want.keySet ++ d.verdicts.keySet).count(k => want.get(k) != d.verdicts.get(k))
    val ms = d.batches.map(e => ProgressLog.dur(e.p, "triggerExecution"))
    val tail = Stats.tail(ms)
    val e2e = Map("throughput_per_s" -> d.docs / d.seconds, "latency_ms_p50" -> Stats.median(ms),
      "latency_ms_tail" -> tail.value)
    val (q1, _, q3) = Stats.quartiles(ms)
    val notes = Seq(f"neardup: ${d.docs} docs in ${d.seconds}%.3f s over ${d.batches.length} batches; " +
      f"batch ms quartiles $q1%.0f / ${Stats.median(ms)}%.0f / $q3%.0f, tail p${tail.pct}%.0f; " +
      s"checked ${want.size} verdicts, $bad wrong")
    if (!ctx.trace) return Outcome(want.size.toLong, bad.toLong, e2e, Map.empty, notes)

    val so = d.batches.map(_.p.stateOperators(0))
    def mean(xs: Seq[Double]) = xs.sum / xs.length
    def durs(es: Seq[ProgressLog.Event]) = es.map(e => ProgressLog.dur(e.p, "triggerExecution"))
    val (traced, untraced) = d.batches.partition(e => ctx.tracer.traces(e.p.batchId))
    val layers = Map(
      "NearDupStream.band_rows" -> 16.0 * d.docs,
      "NearDupStream.state_rows" -> so.last.numRowsTotal.toDouble,
      "NearDupStream.state_bytes" -> so.last.memoryUsedBytes.toDouble,
      "NearDupStream.update_ms" -> mean(so.map(_.allUpdatesTimeMs.toDouble)),
      "NearDupStream.commit_ms" -> mean(so.map(_.commitTimeMs.toDouble)),
      "NearDupStream.flagged" -> d.verdicts.count(_._2.isDefined).toDouble,
      "Dedup.sketch_ms" -> sketchMs,
      "microbatch.batches" -> d.batches.length.toDouble,
      "microbatch.query_planning_ms" -> mean(d.batches.map(e => ProgressLog.dur(e.p, "queryPlanning"))),
      "microbatch.wal_commit_ms" -> mean(d.batches.map(e => ProgressLog.dur(e.p, "walCommit"))),
      "microbatch.commit_offsets_ms" -> mean(d.batches.map(e => ProgressLog.dur(e.p, "commitOffsets"))),
      "microbatch.trigger_ms_p50" -> Stats.median(ms),
      "trace.overhead_pct" -> Tracer.overheadPct(durs(traced), durs(untraced)))
    Outcome(want.size.toLong, bad.toLong, e2e, layers, notes)
  }
}
