package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

/** `cdc_tail`: the CDC chain under an open-loop arrival schedule. Ops
  * are pre-rendered into small per-member files at setup; one injector
  * thread renames each into its member directory at a fixed wall-clock
  * time, whatever the chain is doing.
  *
  * Runnable through run.py but not listed in BENCHMARK.json: its
  * freshness medians spread 25-39% over ten seeds on a shared 4-core
  * host, beyond the benchmark's 25% bound. The open-loop validity
  * figures (injector lateness, freshness in the first and last third)
  * go to the run's notes on stderr. */
object CdcTail {
  import CdcChain._

  /** offered load, ops per second (each op lands on all three members). */
  val Rate = 400
  val FileOps = 100
  val TailTrigger = Trigger.ProcessingTime("200 milliseconds")
  /** schedule seconds before the sampled window opens (JIT, codegen,
    * first-batch planning); counted in `setup_s`. The schedule is fixed
    * in ops, so every run samples the same ops. With 8 s, freshness
    * still fell through the window (first-third p50 10-25% above the
    * last third's on a 4-core host); 16 s shortens that trend. */
  val WarmSeconds = 16.0

  /** an op is schedule-injected when the last of its replica copies is:
    * file [a, b) of a member lands at b / Rate seconds. */
  private def landsAt(f: Gen.MemberFile): Double = f.until.toDouble / Rate

  final case class Sample(schedS: Double, freshMs: Double, batch: Long)
  final case class Drain(samples: Seq[Sample], lateMs: Seq[Double], drainS: Double, published: Double,
      checked: Int, bad: Int, missing: Int, batches: Seq[ProgressLog.Event], rows: Seq[CdcChain.IndexRow],
      quorumIn: Double)

  private def drain(ctx: Ctx): Drain = {
    val tracer = ctx.tracer
    val n = ((WarmSeconds + ctx.seconds) * Rate).toInt
    val ops = Gen.oplog(ctx.seed, 0, n)
    val files = Gen.memberFiles(n, FileOps, Members).sortBy(f => (landsAt(f), f.member))
    val stage = ctx.dir("stage")
    val staged = files.map(f => f -> Gen.writeMemberFile(new File(stage, s"m${f.member}"), ops, f))
    val root = ctx.dir("members")
    (0 until Members).foreach(m => memberDir(root, m).mkdirs())
    // op idx → schedule time its quorum became available
    val sched = new Array[Double](n)
    files.foreach(f => (f.from until f.until).foreach(i => sched(i) = math.max(sched(i), landsAt(f))))

    val work = ctx.dir("run")
    val (chain, q, t0, late, drainS) = tracer.span("CdcTail.schedule") { span =>
      val chain = new CdcChain(ctx.spark, tracer, span)
      val q = chain.start(root, work, 4, TailTrigger, Int.MaxValue)
      val t0 = System.nanoTime()
      try {
        val late = staged.map { case (f, src) =>
          val due = t0 + (landsAt(f) * 1e9).toLong
          var now = System.nanoTime()
          while (now < due) {
            val ms = (due - now) / 1000000L
            if (ms > 1) Thread.sleep(ms - 1) else Thread.onSpinWait()
            now = System.nanoTime()
          }
          Files.move(src.toPath, new File(memberDir(root, f.member), f.name).toPath,
            StandardCopyOption.ATOMIC_MOVE)
          if (landsAt(f) >= WarmSeconds) ctx.markSetupDone()
          require(q.exception.isEmpty, s"chain failed: ${q.exception.get}")
          (System.nanoTime() - due) / 1e6
        }
        val injectedAt = System.nanoTime()
        q.processAllAvailable()
        (chain, q, t0, late, (System.nanoTime() - injectedAt) / 1e9)
      } finally q.stop()
    }

    // each op's publication: the first committed index row of its key whose
    // clock has reached the op's
    val rows = readIndex(ctx.spark, work)
    val byKey = rows.groupBy(r => (r.ns, r.docId)).map { case (k, rs) => k -> rs.sortBy(_.batch) }
    val pub = chain.published.asScala
    val samples = ops.iterator.filter(o => !o.filtered && sched(o.idx) >= WarmSeconds).map { o =>
      val batch = byKey.getOrElse((o.ns, o.key.toString), Seq.empty)
        .find(r => r.tsUs > o.tsUs || (r.tsUs == o.tsUs && r.tsInc >= o.inc)).map(_.batch)
      val at = batch.flatMap(pub.get)
      Sample(sched(o.idx), at.fold(Double.NaN)(t => (t - t0) / 1e6 - sched(o.idx) * 1000),
        batch.getOrElse(-1L))
    }.toSeq
    val ok = samples.filterNot(_.freshMs.isNaN)
    val want = Gen.lww(ops.iterator)
    // publication rate over the sampled window, up to the last sample's publication
    val lastPubS = ok.map(s => s.schedS + s.freshMs / 1000).max
    Drain(ok, late, drainS, ok.length / (lastPubS - WarmSeconds), want.size, mismatches(liveOf(rows), want),
      samples.length - ok.length, ctx.progress.of(q.id).filter(_.p.numInputRows > 0), rows,
      Members * ops.count(!_.filtered).toDouble)
  }

  def run(ctx: Ctx): Outcome = {
    val d = drain(ctx)
    val fresh = d.samples.map(_.freshMs)
    val tail = Stats.tail(fresh)
    val lateP99 = Stats.percentile(d.lateMs.sorted.toIndexedSeq, 99)
    val third = ctx.seconds / 3
    def p50Between(a: Double, b: Double) = {
      val xs = d.samples.filter(s => s.schedS - WarmSeconds >= a && s.schedS - WarmSeconds < b).map(_.freshMs)
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    val first = p50Between(0, third)
    val lastThird = p50Between(2 * third, ctx.seconds)
    // open-loop validity: the injector kept its schedule and no backlog
    // built up; a chain that keeps up drains within about two batches
    val batchS = Stats.median(d.batches.map(e => ProgressLog.dur(e.p, "triggerExecution"))) / 1000
    val invalid = Seq(
      (lateP99 > 100) -> f"injector fell behind: late p99 = $lateP99%.1f ms",
      (lastThird > 2 * first + 500) -> f"backlog grew: fresh p50 $first%.1f ms → $lastThird%.1f ms",
      (d.drainS > 1 + 3 * batchS) -> f"backlog left after the schedule: ${d.drainS}%.1f s to drain, batch p50 $batchS%.2f s"
    ).collect { case (true, why) => why }
    val e2e = Map("throughput_per_s" -> d.published, "latency_ms_p50" -> Stats.median(fresh),
      "latency_ms_tail" -> tail.value)
    val notes = Seq(f"tail: ${fresh.length} ops sampled at $Rate ops/s; fresh p50 ${Stats.median(fresh)}%.1f ms, " +
      f"p${tail.pct}%.0f ${tail.value}%.1f ms; first third p50 $first%.1f, last third $lastThird%.1f; " +
      f"gen_late_ms p99 $lateP99%.2f; drain after schedule ${d.drainS}%.2f s; " +
      s"${d.missing} unpublished, ${d.bad} of ${d.checked} live keys mismatched") ++
      invalid.map("INVALID run: " + _)
    val failed = (d.bad + d.missing).toLong
    val attempted = (fresh.length + d.missing).toLong
    if (!ctx.trace) return Outcome(attempted, failed, e2e, Map.empty, notes, valid = invalid.isEmpty)

    val (traced, untraced) = d.samples.partition(s => ctx.tracer.traces(s.batch))
    val layers = CdcLayers.stream(d.batches, d.quorumIn) ++ CdcLayers.index(ctx.tracer, d.batches, d.rows) ++ Map(
      "OplogConnector.rows_read" -> d.batches.map(_.p.numInputRows.toDouble).sum,
      "trace.overhead_pct" -> Tracer.overheadPct(traced.map(_.freshMs), untraced.map(_.freshMs)))
    Outcome(attempted, failed, e2e, layers, notes, valid = invalid.isEmpty)
  }
}
