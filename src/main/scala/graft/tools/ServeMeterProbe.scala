package graft.tools

import org.apache.spark.sql.SparkSession

/** Repeat-runs the BENCH's serve meter (StreamBench.benchServe — the
  * exact code path behind `serve_queries_per_sec`) in one JVM, printing
  * every attempt. Round-20 use: the meter read 1298 q/s in the r19
  * build recording but 1035/691/1063 in three later windows with ZERO
  * serve-path code diff — this probe answers whether a clean window
  * still reaches the floor (noise) or the dip reproduces everywhere
  * (regression to bisect). */
object ServeMeterProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val n = if (args.nonEmpty) args(0).toInt else 5
    val spark = graft.GraftSession.builderDefaults(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-servemeter"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rates = (1 to n).map { i =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val scr = java.nio.file.Files.createTempDirectory("graft-servemeter")
        .toFile.getAbsolutePath
      try {
        val r = graft.streaming.StreamBench.benchServe(spark, sfDir, scr)
        println(f"[servemeter] attempt $i rate=${r.rowsPerSec}%.0f q/s " +
          f"batches=${r.batches} p50=${r.batchMsP50}ms max=${r.batchMsMax}ms " +
          f"elapsed=${r.elapsedSec}%.2fs")
        r.rowsPerSec
      } finally {
        scala.reflect.io.Directory(new java.io.File(scr)).deleteRecursively()
        ()
      }
    }
    println(f"[servemeter] best=${rates.max}%.0f median=${BenchOne.median(rates)}%.0f over $n attempts")
    spark.stop()
  }
}
