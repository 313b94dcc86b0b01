package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one workload run measured. `e2e` and `layers` map metric names
  * to values; run.py attaches the units declared in BENCHMARK.json. A
  * run is `valid` unless its load shape broke (open-loop workloads). */
final case class Outcome(attempted: Long, failed: Long, e2e: Map[String, Double],
    layers: Map[String, Double], notes: Seq[String], valid: Boolean = true)

/** Per-run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double, val trace: Boolean,
    val work: File, val progress: ProgressLog, val tracer: Tracer) {
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  @volatile private var setupS = -1.0

  def dir(rel: String): File = { val d = new File(work, rel); d.mkdirs(); d }

  /** the first timed op is about to run: everything so far was set-up. */
  def markSetupDone(): Unit =
    if (setupS < 0) { setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0; phase("window open") }
  def setupSeconds: Double = setupS

  /** set-up phase log on stderr: seconds since JVM start. */
  def phase(name: String): Unit =
    System.err.println(f"perfbench: $name at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s")
}

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --cores <n>
  * --trace-out <file>`.
  * Prints one `PERFBENCH_RESULT {...}` line for run.py to format. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "cdc_catchup" -> CdcCatchup.run,
    "cdc_tail" -> CdcTail.run,
    "neardup_gate" -> NearDupGate.run,
    "dedup_batch" -> DedupBatch.run)

  private def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
      .mkString("{", ",", "}")
  private def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val cores = opts("cores").toInt
    val work = new File(opts("work"))
    val spark = GraftSession.builderDefaults(
        SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "tmp").getAbsolutePath)
      .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, opts("trace") == "1",
      work, new ProgressLog(spark), new Tracer(opts("trace") == "1"))
    ctx.phase("session up")
    val out = try body(ctx) finally { spark.stop(); ctx.phase("session stopped") }
    ctx.tracer.dump(new File(opts("trace-out")))
    println(s"""PERFBENCH_RESULT {"valid":${out.valid},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"setup_s":${ctx.setupSeconds},"e2e":${json(out.e2e)},""" +
      s""""layers":${json(out.layers)},"notes":${out.notes.map(str).mkString("[", ",", "]")}}""")
  }
}
