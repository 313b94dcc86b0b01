package graft.tools

import org.apache.spark.sql.SparkSession

/** Interleaved A/B for the shingle-pass width dial
  * (`graft.dedup.shingles.pinnedWidth`, see Dedup.shingleSets): arms
  * alternate WITHIN one JVM and the within-round ORDER alternates per
  * round (the KeyWidthProbe lesson: the first run of a JVM sits well
  * under its warm rate, and a fixed order taxes one arm
  * systematically). Prices pinned-N-wide (parallel kernel, N CountMin
  * sketches tree-merged) against unpinned (serial kernel, one sketch)
  * on the CMS-consumer queries. */
object ShingleWidthProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val rounds = if (args.nonEmpty) args(0).toInt else 6
    val queries = if (args.length > 1) args.drop(1).toSeq
      else Seq("dedup_ngram_jaccard", "dedup_threshold_curve", "dedup_containment")
    val spark = graft.GraftSession.builderDefaults(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-shinglewidth"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runArm(pin: Int): Double = {
      if (pin > 0) spark.conf.set("graft.dedup.shingles.pinnedWidth", pin.toString)
      else spark.conf.unset("graft.dedup.shingles.pinnedWidth")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val t0 = System.nanoTime()
      queries.foreach(q => graft.SparkEntry.queries(q)(spark, sfDir).count())
      (System.nanoTime() - t0) / 1e9
    }
    // one untimed warmup of each arm (classload/codegen)
    runArm(0); runArm(cpus)
    val res = (1 to rounds).map { r =>
      val pinFirst = r % 2 == 1
      val (a, b) = if (pinFirst) (runArm(cpus), runArm(0)) else (runArm(0), runArm(cpus))
      val (pinned, unpinned) = if (pinFirst) (a, b) else (b, a)
      println(f"[shinglewidth] round $r pinned=$pinned%.2f unpinned=$unpinned%.2f (order=${if (pinFirst) "P-U" else "U-P"})")
      (pinned, unpinned)
    }
    val mp = BenchOne.median(res.map(_._1))
    val mu = BenchOne.median(res.map(_._2))
    println(f"[shinglewidth] median pinned=$mp%.3f unpinned=$mu%.3f ratio=${mp / mu}%.3f over $rounds rounds (${queries.mkString(",")})")
    spark.stop()
  }
}
