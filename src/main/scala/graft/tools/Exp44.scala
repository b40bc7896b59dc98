package graft.tools

import graft.commands.{LakeEngine, Merge}
import graft.format._
import graft.Tables
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round 17, verdict task 1: decompose `dml_scd1_merge` — the last
  * unexplained sf10 weak entry (2.04x vs oracle, scd2 twin at 1.98x) —
  * on the CURRENT dataset, where no phase timing has ever been taken
  * (the r15 decomposition predates the regenerated /tmp/sf10).
  *
  * Reproduces BenchDml's exact scd1/scd2 scenarios (same base-table
  * build, same source batch, same metadata-clone-per-pass isolation),
  * then:
  *  - phase-times each merge via GRAFT_MERGE_TIMING (set it when
  *    launching) — keyPrune / planFiles / diffProbe / rewrite / commit;
  *  - A/Bs the interior-bound cluster split target
  *    (graft.write.clusterSplitTargetBytes) on THIS dataset, arms
  *    interleaved, min-of-N.
  *
  * Run: GRAFT_MERGE_TIMING=1 SPARK_GRAFT_SF_DIR=/tmp/sf10 \
  *        sbt -batch "runMain graft.tools.Exp44"
  */
object Exp44 {

  private def copyTree(src: Path, dst: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    }
  }

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf10")
    val passes = sys.env.getOrElse("EXP44_PASSES", "3").toInt
    val spark = SparkSession.builder()
      .withExtensions(new graft.sqlext.LakeSqlExtensions)
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.files.minPartitionNum", "1")
      .config("spark.locality.wait", "0")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val root = Files.createTempDirectory("graft-exp44-")
    val orders = Tables.orders(spark, d)
    val stats = orders.agg(
      min(col("o_orderkey")), max(col("o_orderkey")),
      min(col("o_orderdate")), max(col("o_orderdate")), count(lit(1))).head()
    val (minK, maxK) = (stats.getLong(0), stats.getLong(1))
    val maxD = stats.getAs[java.time.LocalDateTime](3)
    val minD = stats.getAs[java.time.LocalDateTime](2)
    val n = stats.getLong(4)
    val span = maxK - minK + 1
    val lo = minK + (span * 0.30).toLong
    val hi = minK + (span * 0.45).toLong
    val props = Map("write.max-records-per-file" -> math.max(n / 8, 1L).toString)

    val catalog = new LakeCatalog(root.toString)
    val engine = new LakeEngine(spark, catalog)
    val baseScd = {
      val t = catalog.createTable("orders_scd", orders.schema,
        sortOrder = Seq(SortField("o_orderkey")), properties = props)
      engine.insert(t, orders)
      t
    }
    import org.apache.spark.sql.types.{StructField, StructType, TimestampNTZType}
    val scd2Schema = StructType(orders.schema.fields ++ Seq(
      StructField("effective_start", TimestampNTZType),
      StructField("effective_end", TimestampNTZType)))
    val baseScd2 = {
      val t = catalog.createTable("orders_scd2", scd2Schema,
        sortOrder = Seq(SortField("o_orderkey")), properties = props)
      engine.insert(t, orders
        .withColumn("effective_start", lit(minD).cast("timestamp_ntz"))
        .withColumn("effective_end", lit(null).cast("timestamp_ntz")))
      t
    }
    val effTs = maxD.plusDays(1).withNano(0)

    def scd1Source() = {
      val base = Tables.orders(spark, d)
      val upd = base
        .filter(col("o_orderkey").between(lo, hi) && col("o_orderkey") % 20 === 7)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .withColumn("op", lit("U"))
      val ins = base.filter(col("o_orderkey") % 100 === 3)
        .withColumn("o_orderkey", col("o_orderkey") + span)
        .withColumn("op", lit("I"))
      upd.unionByName(ins)
    }

    var runIdx = 0
    def freshClone(base: LakeTable): LakeTable = {
      runIdx += 1
      val loc = root.resolve(s"run-$runIdx")
      copyTree(Paths.get(base.location, "metadata"), loc.resolve("metadata"))
      Files.createDirectories(loc.resolve("data"))
      LakeTable.load(loc.toString)
    }

    def runScd1(): Double = {
      val t = freshClone(baseScd)
      val t0 = System.nanoTime()
      Merge.scd1(engine, t, scd1Source(), Merge.Scd1Options(
        keyCols = Seq("o_orderkey"), operationTypeColumn = Some("op")))
      (System.nanoTime() - t0) / 1e9
    }
    def runScd2(): Double = {
      val t = freshClone(baseScd2)
      val t0 = System.nanoTime()
      Merge.scd2(engine, t, scd1Source(), Merge.Scd2Options(
        keyCols = Seq("o_orderkey"), effectiveTimestamp = effTs,
        operationTypeColumn = Some("op")))
      (System.nanoTime() - t0) / 1e9
    }

    // warmup (JIT/codegen) — one per scenario, untimed
    runScd1(); runScd2()

    // A/B the interior-bound cluster split target (the write-parallelism
    // knob): 8m default (5 buckets on this dataset) vs 2m (17 buckets)
    val arms = Seq("target=8m" -> "8m", "target=2m" -> "2m")
    val results = scala.collection.mutable.Map[String, Vector[Double]]()
    (1 to passes).foreach { p =>
      arms.foreach { case (label, v) =>
        sys.props("graft.write.clusterSplitTargetBytes") = v
        System.err.println(s"--- pass $p scd1 $label ---")
        results(s"scd1 $label") = results.getOrElse(s"scd1 $label", Vector.empty) :+ runScd1()
        System.err.println(s"--- pass $p scd2 $label ---")
        results(s"scd2 $label") = results.getOrElse(s"scd2 $label", Vector.empty) :+ runScd2()
      }
    }
    sys.props.remove("graft.write.clusterSplitTargetBytes")
    val load = scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    println(s"[exp44] sf=$d loadavg=$load passes=$passes")
    results.toSeq.sortBy(_._1).foreach { case (k, t) =>
      println(f"[exp44] $k%-14s min=${t.min}%6.3f  passes=${t.map(x => f"$x%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
