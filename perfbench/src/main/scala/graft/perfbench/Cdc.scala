package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.OplogEntry
import graft.sources.{IndexSink, OplogConnector, OplogOffset}
import graft.streaming.{OplogApply, OplogPipeline, QuorumDedup}

/** The CDC chain as the benchmark drives it: DSv2 oplog connector →
  * `staticFilter` → `QuorumDedup` →
  * `OplogApply.currentState` → `writeIndexBatch`, over one 3-member
  * replica set. `prefix` cuts the chain after a layer (1 = connector,
  * 2 = + filter and quorum, 3 = + apply, 4 = the full chain); a cut
  * chain counts its output rows instead of indexing them. The call that
  * ends a batch is traced as a child of the span `parent`. A traced
  * chain also counts the rows leaving `QuorumDedup` and `OplogApply`
  * with `Dataset.observe`, read back from each batch's progress. */
final class CdcChain(spark: SparkSession, tracer: Tracer, parent: Int = -1) {
  import CdcChain._

  /** batch id → monotonic time its `writeIndexBatch` call returned. */
  val published = new ConcurrentHashMap[Long, Long]()

  def start(root: File, work: File, prefix: Int, trigger: Trigger, maxFiles: Int): StreamingQuery = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    def counted[T](name: String, ds: Dataset[T]): Dataset[T] =
      if (tracer.enabled) ds.observe(name, count(lit(1)).as("rows")) else ds
    val src = spark.readStream.format("graft.sources.OplogSourceProvider")
      .option("topology", Topology)
      .option("maxFilesPerTrigger", maxFiles.toString)
      .load(root.getPath)
    lazy val deduped = counted(QuorumOut, QuorumDedup(
      OplogPipeline.staticFilter(src).withWatermark("ts", Lateness).as[OplogEntry], Depth))
    lazy val applied = counted(ApplyOut, OplogApply.currentState(deduped, Lateness))
    val out: DataFrame = prefix match {
      case 1 => src
      case 2 => deduped.toDF()
      case _ => applied.toDF()
    }
    val indexDir = new File(work, "index").getPath
    out.writeStream
      .outputMode("append")
      .option("checkpointLocation", new File(work, "ckpt").getPath)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (prefix < 4) tracer.span("CdcChain.count", id, parent)(_ => b.count())
        else {
          tracer.span("IndexSink.writeIndexBatch", id, parent) { _ =>
            OplogPipeline.writeIndexBatch(b, indexDir, id)
          }
          published.put(id, System.nanoTime())
        }
        ()
      }
      .start()
  }
}

object CdcChain {
  val Depth = 3
  val Members = 3
  val Topology: String = "s0/" + Gen.Hosts.mkString(",")
  /** the engine's default horizon. Members' copies of one op land at
    * most two files apart, about 5 s of oplog clock, so none is late;
    * quorum state and tombstones are reaped behind it, as in service. */
  val Lateness = "10 seconds"
  /** `observe` names of the traced chain's row counters. */
  val QuorumOut = "quorum_out"
  val ApplyOut = "apply_out"

  /** rows a traced chain's counter `name` saw in a batch. */
  def observed(e: ProgressLog.Event, name: String): Double =
    Option(e.p.observedMetrics.get(name)).map(_.getAs[Long]("rows").toDouble).getOrElse(0.0)

  def memberDir(root: File, m: Int): File =
    new File(OplogConnector.memberDir(root.getPath, "s0", s"r${m + 1}", 27018 + m))
  def memberId(m: Int): String = s"s0/r${m + 1}:${27018 + m}"

  /** per member, the ops consumed up to a connector offset (json). */
  def consumed(offsetJson: String, files: Seq[Gen.MemberFile]): IndexedSeq[Int] = {
    val pos = OplogOffset.fromJson(offsetJson).positions
    (0 until Members).map { m =>
      val last = pos.getOrElse(memberId(m), "")
      files.find(f => f.member == m && f.name == last).map(_.until).getOrElse(0)
    }
  }

  /** One committed index row: the applied state of a key as of a batch. */
  final case class IndexRow(ns: String, docId: String, op: String, tsUs: Long, tsInc: Int, batch: Long)

  /** Every committed index row with its epoch, through `IndexSink.readCommitted`. */
  def readIndex(spark: SparkSession, work: File): Seq[IndexRow] = {
    import spark.implicits._
    val root = new File(work, "index/oplog")
    if (!root.isDirectory) return Seq.empty
    val data = "struct<data:struct<ns:string,docId:string,op:string,tsUs:bigint,tsInc:int>>"
    IndexSink.readCommitted(spark, root.getPath)
      .select(from_json($"value", data, Map.empty[String, String]).as("j"),
        regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long").as("batch"))
      .select($"j.data.ns", $"j.data.docId", $"j.data.op", $"j.data.tsUs", $"j.data.tsInc", $"batch")
      .as[IndexRow].collect().toSeq
  }

  /** the live (ns, docId) → (tsUs, tsInc, op) view of index rows. */
  def liveOf(rows: Seq[IndexRow]): Gen.Live =
    rows.groupBy(r => (r.ns, r.docId)).iterator.map { case (k, rs) =>
      val r = rs.maxBy(r => (r.tsUs, r.tsInc))
      k -> (r.tsUs, r.tsInc, r.op)
    }.filter(_._2._3 != "d").toMap

  /** keys whose live state differs between the engine and the reference. */
  def mismatches(got: Gen.Live, want: Gen.Live): Int =
    (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))

  def writeBacklog(root: File, ops: Array[Gen.Op], files: Seq[Gen.MemberFile]): Unit =
    files.foreach(f => Gen.writeMemberFile(memberDir(root, f.member), ops, f))
}

/** `cdc_catchup`: a pre-written backlog drained closed-loop. The window
  * is placed by work: the first `WarmBatches` micro-batches warm up, the
  * next `timedBatches(seconds)` are timed, and the backlog holds one
  * batch more than both, so every run times the same slice of the input. */
object CdcCatchup {
  import CdcChain._

  val FileOps = 2000
  /** files admitted per micro-batch; the connector takes them
    * round-robin, so each member gives two. */
  val MaxFiles = 6
  private val BatchOps = FileOps * MaxFiles / Members
  /** micro-batches of warm-up (JIT, codegen, first-batch planning) before
    * the window opens; counted in `setup_s`. */
  val WarmBatches = 6
  /** timed micro-batches per second of `--seconds`: about the chain's
    * batch rate on a 4-core host, so the window lasts about that long. */
  val BatchesPerSecond = 1.5
  def timedBatches(seconds: Double): Int = math.max(4, math.ceil(seconds * BatchesPerSecond).toInt)

  /** a timed drain: `startCut`/`endCut` are the per-member op offsets
    * at the window's open and close. */
  final case class Drain(lines: Long, seconds: Double, batches: Seq[ProgressLog.Event],
      lastBatch: Long, startCut: IndexedSeq[Int], endCut: IndexedSeq[Int], work: File)

  /** runs one chain over the backlog: `WarmBatches` of warm-up, then
    * `timed` timed batches. */
  private def drain(ctx: Ctx, root: File, files: Seq[Gen.MemberFile], prefix: Int, timed: Int,
      tag: String, onOpen: () => Unit): Drain =
    ctx.tracer.span(s"CdcCatchup.drain.$tag") { span =>
      val work = ctx.dir(s"run-$tag")
      val chain = new CdcChain(ctx.spark, ctx.tracer, span)
      val q = chain.start(root, work, prefix, Trigger.ProcessingTime(0), MaxFiles)
      val total = files.filter(_.member == 0).map(_.until).max
      try {
        val (open, batches) = ctx.progress.window(q, WarmBatches, timed, onOpen) { d =>
          consumed(d.last.p.sources(0).endOffset, files).min >= total
        }
        val last = batches.last
        val startCut = consumed(open.p.sources(0).endOffset, files)
        val endCut = consumed(last.p.sources(0).endOffset, files)
        val lines = startCut.indices.map(m => (endCut(m) - startCut(m)).toLong).sum
        Drain(lines, (last.atNs - open.atNs) / 1e9, batches, last.p.batchId, startCut, endCut, work)
      } finally q.stop()
    }

  def run(ctx: Ctx): Outcome = {
    val timed = timedBatches(ctx.seconds)
    val ops = Gen.oplog(ctx.seed, 0, (WarmBatches + timed + 1) * BatchOps)
    val files = Gen.memberFiles(ops.length, FileOps, Members)
    val root = ctx.dir("members")
    writeBacklog(root, ops, files)
    ctx.phase("inputs written")

    // traced: a full-chain drain warms every layer's code, then the four
    // cut chains run under the same warm-up, slice and window, the full
    // chain last; untraced: the full chain alone
    if (ctx.trace) drain(ctx, root, files, 4, 1, "jit", () => ())
    val cut = (if (ctx.trace) 1 to 4 else 4 to 4).map { p =>
      p -> drain(ctx, root, files, p, timed, s"prefix$p", () => if (p == 4) ctx.markSetupDone())
    }.toMap
    val d = cut(4)
    // check: the committed live state == LWW over every op all members delivered
    val rows = readIndex(ctx.spark, d.work).filter(_.batch <= d.lastBatch)
    val want = Gen.lww(ops.iterator.take(d.endCut.min))
    val bad = mismatches(liveOf(rows), want)

    val batchMs = d.batches.map(e => ProgressLog.dur(e.p, "triggerExecution"))
    val tail = Stats.tail(batchMs)
    val e2e = Map("throughput_per_s" -> d.lines / d.seconds, "latency_ms_p50" -> Stats.median(batchMs),
      "latency_ms_tail" -> tail.value)
    val (q1, _, q3) = Stats.quartiles(batchMs)
    val notes = Seq(f"catchup: ${d.lines} lines in ${d.seconds}%.3f s over ${d.batches.length} batches; " +
      f"batch ms quartiles $q1%.0f / ${Stats.median(batchMs)}%.0f / $q3%.0f, tail p${tail.pct}%.0f; " +
      s"checked ${want.size} live keys, $bad mismatched")
    if (!ctx.trace) return Outcome(want.size.toLong, bad.toLong, e2e, Map.empty, notes)

    val usPerLine = cut.map { case (p, dp) => p -> dp.seconds * 1e6 / dp.lines }
    def rowsIn(dp: Drain) = dp.batches.map(_.p.numInputRows.toDouble).sum
    // lines past the filter in a drain: the unfiltered ops of each member's consumed range
    val kept = ops.scanLeft(0)((n, o) => if (o.filtered) n else n + 1)
    val quorumIn = d.startCut.indices.map(m => kept(d.endCut(m)) - kept(d.startCut(m))).sum.toDouble
    val (traced, untraced) = d.batches.partition(e => ctx.tracer.traces(e.p.batchId))
    val layers = CdcLayers.stream(d.batches, quorumIn) ++ CdcLayers.index(ctx.tracer, d.batches, rows) ++ Map(
      "OplogConnector.rows_read" -> rowsIn(d),
      "OplogConnector.rows_pushed_out" -> (d.lines - rowsIn(d)),
      "OplogConnector.rows_per_s" -> cut(1).lines / cut(1).seconds,
      "prefix.connector_us_per_line" -> usPerLine(1),
      "prefix.filter_quorum_us_per_line" -> (usPerLine(2) - usPerLine(1)),
      "prefix.apply_us_per_line" -> (usPerLine(3) - usPerLine(2)),
      "prefix.index_us_per_line" -> (usPerLine(4) - usPerLine(3)),
      "trace.overhead_pct" -> Tracer.overheadPct(
        traced.map(e => ProgressLog.dur(e.p, "triggerExecution")),
        untraced.map(e => ProgressLog.dur(e.p, "triggerExecution"))))
    Outcome(want.size.toLong, bad.toLong, e2e, layers, notes)
  }
}

/** Per-layer figures read off a chain's progress and spans. */
object CdcLayers {
  private def mean(xs: Seq[Double]) = xs.sum / xs.length

  /** progress `stateOperators` lists the operators top-down: index 0 is
    * `OplogApply`, index 1 `QuorumDedup`. */
  def stream(batches: Seq[ProgressLog.Event], quorumIn: Double): Map[String, Double] = {
    val ps = batches.map(_.p)
    val quorumOut = batches.map(CdcChain.observed(_, CdcChain.QuorumOut)).sum
    def op(i: Int, name: String): Map[String, Double] = {
      val so = ps.map(_.stateOperators(i))
      Map(
        s"$name.state_rows" -> so.last.numRowsTotal.toDouble,
        s"$name.state_bytes" -> so.last.memoryUsedBytes.toDouble,
        s"$name.update_ms" -> mean(so.map(_.allUpdatesTimeMs.toDouble)),
        s"$name.commit_ms" -> mean(so.map(_.commitTimeMs.toDouble)))
    }
    op(1, "QuorumDedup") ++ op(0, "OplogApply") ++ Map(
      "QuorumDedup.rows_in" -> quorumIn,
      "QuorumDedup.rows_out" -> quorumOut,
      "QuorumDedup.emit_ratio" -> quorumOut / quorumIn,
      "OplogApply.rows_in" -> quorumOut,
      "OplogApply.rows_out" -> batches.map(CdcChain.observed(_, CdcChain.ApplyOut)).sum,
      "OplogConnector.latest_offset_ms" -> mean(ps.map(ProgressLog.dur(_, "latestOffset"))),
      "OplogConnector.get_batch_ms" -> mean(ps.map(ProgressLog.dur(_, "getBatch"))),
      "microbatch.batches" -> ps.length.toDouble,
      "microbatch.query_planning_ms" -> mean(ps.map(ProgressLog.dur(_, "queryPlanning"))),
      "microbatch.wal_commit_ms" -> mean(ps.map(ProgressLog.dur(_, "walCommit"))),
      "microbatch.commit_offsets_ms" -> mean(ps.map(ProgressLog.dur(_, "commitOffsets"))),
      "microbatch.trigger_ms_p50" -> Stats.median(ps.map(ProgressLog.dur(_, "triggerExecution")))
    )
  }

  /** index writes of the data batches `batches`: the mean traced
    * `writeIndexBatch` span, the epochs and the rows they committed. */
  def index(tracer: Tracer, batches: Seq[ProgressLog.Event], rows: Seq[CdcChain.IndexRow]): Map[String, Double] = {
    val ids = batches.map(_.p.batchId).toSet
    val ms = tracer.all.filter(s => s.name == "IndexSink.writeIndexBatch" && ids(s.batch))
      .map(s => (s.endNs - s.startNs) / 1e6)
    Map("IndexSink.write_ms" -> (if (ms.isEmpty) Double.NaN else ms.sum / ms.length),
      "IndexSink.epochs" -> ids.size.toDouble,
      "IndexSink.rows" -> rows.count(r => ids(r.batch)).toDouble)
  }
}
