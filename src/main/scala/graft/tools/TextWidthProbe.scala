package graft.tools

import org.apache.spark.sql.SparkSession

/** Interleaved A/B for the TEXT kernel width dial
  * (`graft.text.kernel.pinnedWidth`, see TextAnalysis.kernelSpread) —
  * the ShingleWidthProbe discipline applied to the four text kernel
  * spreads round 19 kept pinned without pricing (verdict item 6):
  * arms alternate WITHIN one JVM and the within-round ORDER alternates
  * per round. Reports PER-QUERY medians (not a trio total) so each
  * call site's default can be set independently. */
object TextWidthProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val rounds = if (args.nonEmpty) args(0).toInt else 6
    val queries = if (args.length > 1) args.drop(1).toSeq
      else Seq("text_bigrams", "text_pmi_collocations", "text_bm25",
        "text_repetition", "text_search_topk")
    val spark = graft.GraftSession.builderDefaults(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-textwidth"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runArm(pin: Int): Map[String, Double] = {
      spark.conf.set("graft.text.kernel.pinnedWidth", pin.toString)
      queries.map { q =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, sfDir).count()
        q -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }
    // one untimed warmup of each arm (classload/codegen)
    runArm(0); runArm(cpus)
    val res = (1 to rounds).map { r =>
      val pinFirst = r % 2 == 1
      val (a, b) = if (pinFirst) (runArm(cpus), runArm(0)) else (runArm(0), runArm(cpus))
      val (p, u) = if (pinFirst) (a, b) else (b, a)
      queries.foreach { q =>
        println(f"[textwidth] round $r $q pinned=${p(q)}%.3f unpinned=${u(q)}%.3f (order=${if (pinFirst) "P-U" else "U-P"})")
      }
      (p, u)
    }
    queries.foreach { q =>
      val mp = BenchOne.median(res.map(_._1(q)))
      val mu = BenchOne.median(res.map(_._2(q)))
      println(f"[textwidth] MEDIAN $q pinned=$mp%.3f unpinned=$mu%.3f ratio=${mp / mu}%.3f over $rounds rounds")
    }
    spark.stop()
  }
}
