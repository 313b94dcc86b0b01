package graft.tools
import org.apache.spark.sql.SparkSession
object BenchOne {
  /** True median: the mean of the two middle values for an even count
    * (indexing `size / 2` alone reports the upper middle). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.GraftSession.builderDefaults(
      SparkSession.builder().master("local[32]").appName("graft-benchone"), 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCHONE_RUNS", "2").toInt
    args.drop(1).foreach { name =>
      val ts = (1 to runs).map { i =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir).count()
        val t = (System.nanoTime()-t0)/1e9
        println(f"[benchone] $name run$i $t%.2f s")
        t
      }
      val warm = ts.drop(1)
      if (warm.nonEmpty)
        println(f"[benchone] $name warm_median=${median(warm)}%.3f warm_min=${warm.min}%.3f")
    }
    spark.stop()
  }
}
