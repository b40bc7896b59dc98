package graft.tools

import graft._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession

/** Round-14 sf10 measurement of two read-side changes:
  *
  *  1. `sim_kmeans` rewrite (native argmin kernel + fused update) vs
  *     the recorded 57.5 s wall.
  *  2. Bloom semi-join prefilter inside the REGISTRY q5/q3 (on/off via
  *     `graft.bloom.semijoin`), exec-only, plans prepared once.
  */
object Exp23 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf10")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.files.minPartitionNum", "1")
      .config("spark.locality.wait", "0")
      .config("spark.network.timeout", "600s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)

    val reg = Registry.all.map(q => q.name -> q).toMap
    def bloom[T](on: Boolean)(body: => T): T = {
      spark.conf.set("graft.bloom.semijoin", on.toString)
      try body finally spark.conf.unset("graft.bloom.semijoin")
    }

    // ---- read-side arms, Bench-style prepared ----
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "kmeans_new" -> (() => reg("sim_kmeans").run(spark, sfDir)),
      "q5_bloom" -> (() => bloom(true)(reg("q5_local_supplier").run(spark, sfDir))),
      "q5_nobloom" -> (() => bloom(false)(reg("q5_local_supplier").run(spark, sfDir))),
      "q3_bloom" -> (() => bloom(true)(reg("q3_shipping_priority").run(spark, sfDir))),
      "q3_nobloom" -> (() => bloom(false)(reg("q3_shipping_priority").run(spark, sfDir))))
    val prepared = builds.map { case (name, mk) =>
      val b0 = System.nanoTime()
      val df = mk()
      df.queryExecution.executedPlan
      println(f"== exp23 build $name%-12s ${(System.nanoTime() - b0) / 1e9}%.3f s")
      name -> df
    }
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "4").toInt
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    for (round <- 0 to passes; (name, df) <- prepared) {
      val t0 = System.nanoTime()
      val n = df.queryExecution.executedPlan.clone().executeCollect().length
      val sec = (System.nanoTime() - t0) / 1e9
      if (round > 0) times(name) = times(name) :+ sec
      if (round == 0) println(s"== exp23 warmup $name rows $n")
      System.gc()
    }
    prepared.foreach { case (name, _) =>
      val ts = times(name)
      println(f"== exp23 $name%-12s min ${ts.min}%.3f  " +
        f"passes ${ts.map(t => f"$t%.3f").mkString(", ")}")
    }
    spark.stop()
  }
}
