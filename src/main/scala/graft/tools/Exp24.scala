package graft.tools

import graft._
import graft.commands.LakeEngine
import graft.format._
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-14 sf10 measurement, part 2:
  *
  *  - kmeans with the native fixed-point conversion kernel
  *    (graft_to_fixed) on top of the argmin/vecsum rewrite.
  *  - dml_delete / dml_update under the NEW write layout (32 MB row
  *    groups), interleaved on fresh metadata clones.
  *  - q_date_extract / q13 floor probes: bare scan+count of the same
  *    columns, so the residual over the floor is attributable.
  */
object Exp24 {
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

    // ---- read-side arms ----
    def dateFloor: DataFrame = Tables.orders(spark, sfDir)
      .agg(count(col("o_orderdate")).as("n"), sum(col("o_totalprice")).as("s"))
    def q13Floor: DataFrame = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .agg(count(col("o_custkey")).as("n"))
    def q13Preagg: DataFrame = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
      .agg(count(lit(1)).as("n"), sum("n_orders").as("s"))
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "kmeans_v2" -> (() => reg("sim_kmeans").run(spark, sfDir)),
      "date_extract" -> (() => reg("q_date_extract").run(spark, sfDir)),
      "date_floor" -> (() => dateFloor),
      "q13" -> (() => reg("q13_order_distribution").run(spark, sfDir)),
      "q13_floor" -> (() => q13Floor),
      "q13_preagg" -> (() => q13Preagg))
    val prepared = builds.map { case (name, mk) =>
      val b0 = System.nanoTime()
      val df = mk()
      df.queryExecution.executedPlan
      println(f"== exp24 build $name%-13s ${(System.nanoTime() - b0) / 1e9}%.3f s")
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
      if (round == 0) println(s"== exp24 warmup $name rows $n")
      System.gc()
    }
    prepared.foreach { case (name, _) =>
      val ts = times(name)
      println(f"== exp24 $name%-13s min ${ts.min}%.3f  " +
        f"passes ${ts.map(t => f"$t%.3f").mkString(", ")}")
    }

    // ---- DML arms under the new layout ----
    val root = Files.createTempDirectory("graft-exp24-")
    try {
      val orders = Tables.orders(spark, sfDir)
      val stats = orders.agg(
        min(col("o_orderkey")), max(col("o_orderkey")),
        min(col("o_orderdate")), max(col("o_orderdate")), count(lit(1))).head()
      val (minK, maxK) = (stats.getLong(0), stats.getLong(1))
      val (minD, maxD) =
        (stats.getAs[java.time.LocalDateTime](2), stats.getAs[java.time.LocalDateTime](3))
      val n = stats.getLong(4)
      val span = maxK - minK + 1
      val (lo, hi) = (minK + (span * 0.30).toLong, minK + (span * 0.45).toLong)
      val dSpanSec = java.time.Duration.between(minD, maxD).getSeconds
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      val d1s = minD.plusSeconds((dSpanSec * 0.30).toLong).withNano(0).format(fmt)
      val d2s = minD.plusSeconds((dSpanSec * 0.45).toLong).withNano(0).format(fmt)
      val delCond = s"o_orderdate >= TIMESTAMP_NTZ'$d1s' AND o_orderdate < TIMESTAMP_NTZ'$d2s'"
      val updCond = s"o_orderkey >= $lo AND o_orderkey <= $hi"
      val catalog = new LakeCatalog(root.toString)
      val engine = new LakeEngine(spark, catalog)
      def build(name: String, sortCol: String): LakeTable = {
        val t = catalog.createTable(name, orders.schema,
          sortOrder = Seq(SortField(sortCol)),
          properties = Map("write.max-records-per-file" -> math.max(n / 8, 1L).toString))
        engine.insert(t, orders)
        t
      }
      val baseDel = build("orders_del", "o_orderdate")
      val baseUpd = build("orders_upd", "o_orderkey")
      def copyTree(src: Path, dst: Path): Unit = {
        import scala.jdk.CollectionConverters._
        Files.walk(src).iterator().asScala.foreach { p =>
          val t = dst.resolve(src.relativize(p))
          if (Files.isDirectory(p)) Files.createDirectories(t)
          else { Files.createDirectories(t.getParent); Files.copy(p, t) }
        }
      }
      var runIdx = 0
      def freshClone(base: LakeTable): LakeTable = {
        runIdx += 1
        val loc = root.resolve(s"run-$runIdx")
        copyTree(Paths.get(base.location, "metadata"), loc.resolve("metadata"))
        Files.createDirectories(loc.resolve("data"))
        LakeTable.load(loc.toString)
      }
      val arms = Seq(("delete", baseDel, true), ("update", baseUpd, false))
      val dtimes = scala.collection.mutable.Map.empty[String, List[Double]]
        .withDefaultValue(Nil)
      for (round <- 0 to passes; (name, base, isDel) <- arms) {
        val t = freshClone(base)
        val t0 = System.nanoTime()
        if (isDel) engine.delete(t, delCond)
        else engine.update(t, updCond, Map("o_totalprice" -> "o_totalprice + 1.0"))
        val sec = (System.nanoTime() - t0) / 1e9
        if (round > 0) dtimes(name) = dtimes(name) :+ sec
        System.gc()
      }
      arms.foreach { case (name, _, _) =>
        val ts = dtimes(name)
        println(f"== exp24 $name%-14s min ${ts.min}%.3f  " +
          f"passes ${ts.map(t => f"$t%.3f").mkString(", ")}")
      }
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
    spark.stop()
  }
}
