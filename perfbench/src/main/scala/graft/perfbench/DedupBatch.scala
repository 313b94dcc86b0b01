package graft.perfbench

import java.io.File

import org.apache.spark.sql.Row

import graft.SparkEntry
import graft.operators.Dedup

/** `dedup_batch`: the seeded corpus as an sf-shaped table directory and a
  * fixed list of batch catalog queries over it, run warm through
  * `SparkEntry.queries`. */
object DedupBatch {

  val CorpusDocs = 1000
  /** warm-up passes (codegen, JIT), counted in `setup_s`: pass times keep
    * falling for about four passes (cold 8-11 s, then about 2.6, 2.6 and
    * 2.0 s on a 4-core host). */
  val WarmPasses = 4
  /** timed passes per second of `--seconds`: about the pass rate on a
    * 4-core host, so the timed passes last about that long. */
  val PassesPerSecond = 0.6
  def timedPasses(seconds: Double): Int = math.max(4, math.ceil(seconds * PassesPerSecond).toInt)
  val Queries: Seq[String] =
    Seq("dedup_minhash_lsh", "dedup_ngram_jaccard", "text_search_topk")

  /** row count and an order-insensitive hash of a result. */
  private def digest(rows: Array[Row]): (Int, Int) =
    (rows.length, scala.util.hashing.MurmurHash3.unorderedHash(rows.iterator.map(_.toString)))

  final case class QueryRun(name: String, fromMs: Long, toMs: Long, digest: (Int, Int)) {
    def seconds: Double = (toMs - fromMs) / 1000.0
  }
  final case class Pass(index: Int, seconds: Double, queries: Seq[QueryRun])

  /** one pass over the query list; the tracer sees it as batch `index`. */
  private def pass(ctx: Ctx, dir: String, tracer: Tracer, index: Int): Pass =
    tracer.span("DedupBatch.pass", index) { span =>
      val t0 = System.nanoTime()
      val runs = Queries.map { name =>
        tracer.span(s"dedup_batch.$name", index, span) { _ =>
          val from = System.currentTimeMillis()
          val rows = SparkEntry.queries(name)(ctx.spark, dir).collect()
          QueryRun(name, from, System.currentTimeMillis(), digest(rows))
        }
      }
      Pass(index, (System.nanoTime() - t0) / 1e9, runs)
    }

  def writeCorpus(ctx: Ctx, docs: Array[Gen.Doc], dir: File): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    docs.toSeq.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(new File(dir, "documents.parquet").getPath)
  }

  /** passes numbered `from` until `from + n`. */
  private def passes(ctx: Ctx, dir: String, tracer: Tracer, from: Int, n: Int): Seq[Pass] =
    (from until from + n).map(i => pass(ctx, dir, tracer, i))

  def run(ctx: Ctx): Outcome = {
    val docs = Gen.corpus(ctx.seed, CorpusDocs)
    val dir = ctx.dir("sf").getPath
    writeCorpus(ctx, docs, new File(dir))
    val jobs = if (ctx.trace) Some(new JobLog(ctx.spark)) else None
    // the first warm pass's results are the reference
    val warm = passes(ctx, dir, new Tracer(false), -WarmPasses, WarmPasses)
    ctx.markSetupDone()
    val ref = warm.head.queries.map(q => q.name -> q.digest).toMap

    val ps = passes(ctx, dir, ctx.tracer, 0, timedPasses(ctx.seconds))
    val bad = (warm ++ ps).map(_.queries.count(q => q.digest != ref(q.name))).sum
    val secs = ps.map(_.seconds)
    val tail = Stats.tail(secs.map(_ * 1000))
    val e2e = Map("throughput_per_s" -> CorpusDocs / Stats.median(secs),
      "latency_ms_p50" -> Stats.median(secs) * 1000, "latency_ms_tail" -> tail.value)
    def perQuery(p: Pass) = p.queries.map(q => f"${q.name}=${q.seconds}%.2f").mkString(" ")
    val notes = Seq(f"dedup_batch: ${ps.length} passes, median ${Stats.median(secs)}%.3f s; " +
      s"$bad result digests differ from the first warm pass; " +
      ref.map { case (k, (n, h)) => s"$k=$n rows/#${h.toHexString}" }.mkString(", "),
      "query s, first warm pass: " + perQuery(warm.head) + "; last pass: " + perQuery(ps.last),
      "pass s, warm then timed: " + (warm ++ ps).map(p => f"${p.seconds}%.2f").mkString(" "))
    val attempted = ((warm.length + ps.length) * Queries.length).toLong
    if (!ctx.trace) return Outcome(attempted, bad.toLong, e2e, Map.empty, notes)

    val t0 = System.nanoTime()
    docs.foreach(d => Dedup.sketchText(d.text))
    val sketchMs = (System.nanoTime() - t0) / 1e6
    val layers = ps.last.queries.flatMap { q =>
      val w = jobs.get.window(q.fromMs, q.toMs)
      val k = s"dedup_batch.${q.name}"
      Seq(s"$k.s" -> Stats.median(ps.flatMap(_.queries.filter(_.name == q.name)).map(_.seconds)),
        s"$k.jobs" -> w.jobs.toDouble, s"$k.stages" -> w.stages.toDouble, s"$k.tasks" -> w.tasks.toDouble,
        s"$k.task_ms" -> w.taskMs, s"$k.driver_gap_ms" -> w.driverGapMs,
        s"$k.shuffle_bytes" -> w.shuffleBytes, s"$k.spill_bytes" -> w.spillBytes)
    }.toMap ++ Map(
      "Dedup.sketch_ms" -> sketchMs,
      "trace.overhead_pct" -> Tracer.overheadPct(
        ps.filter(p => ctx.tracer.traces(p.index)).map(_.seconds),
        ps.filterNot(p => ctx.tracer.traces(p.index)).map(_.seconds)))
    Outcome(attempted, bad.toLong, e2e, layers, notes)
  }
}
