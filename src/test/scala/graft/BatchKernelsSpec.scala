package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.BatchKernels

/** Round-21 columnar-batch aggregate kernels: the adopted
  * q_date_extract / q_events_hourly rewrites must produce BIT-IDENTICAL
  * results to the row plans they replace, on the fixtures AND on
  * adversarial data the fixtures don't exercise (null group keys, null
  * values, pre-epoch timestamps, round-half-up tie doubles,
  * NaN/Infinity). The engagement gate must refuse any plan that isn't
  * the bare columnar scan the kernel expects (filters, computed
  * projections), and must engage under BOTH AQE settings (verify runs
  * AQE-default, bench AQE-off).
  */
class BatchKernelsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("kernels engage on the fixture scans under AQE on and off") {
    for (aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        val orders = Tables.orders(spark, sfDir)
          .select(col("o_orderdate"), col("o_totalprice"))
        assert(BatchKernels.dateExtract(orders).isDefined, s"dateExtract aqe=$aqe")
        val events = Tables.events(spark, sfDir)
          .select(col("ts"), col("event_type"), col("value"))
        assert(BatchKernels.eventsHourly(events).isDefined, s"eventsHourly aqe=$aqe")
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("gate refuses filters, computed projections, and wrong shapes") {
    val o = Tables.orders(spark, sfDir)
    // filter above the scan: the kernel would silently drop the predicate
    assert(BatchKernels.dateExtract(
      o.filter(col("o_totalprice") > 0)
        .select(col("o_orderdate"), col("o_totalprice"))).isEmpty)
    // computed projection: not a bare column
    assert(BatchKernels.dateExtract(
      o.select(col("o_orderdate"),
        (col("o_totalprice") * 2).as("o_totalprice"))).isEmpty)
    // wrong column types
    assert(BatchKernels.dateExtract(
      o.select(col("o_orderdate"), col("o_orderkey"))).isEmpty)
    // non-scan source
    import spark.implicits._
    val local = Seq((java.time.LocalDateTime.now(), 2.0)).toDF("a", "b")
    assert(BatchKernels.dateExtract(local.select(col("a"), col("b"))).isEmpty)
  }

  test("q_date_extract kernel matches the row plan on the fixture") {
    graft.functions.GraftFunctions.register(spark)
    val o = Tables.orders(spark, sfDir)
    val kernel = BatchKernels.dateExtract(
      o.select(col("o_orderdate"), col("o_totalprice"))).get
      .orderBy("y", "m")
    val row = o.groupBy(year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"),
        (sum(call_function("graft_dunscaled", col("o_totalprice").cast(DoubleType), lit(2)))
          .cast(DecimalType(38, 0)) / lit(100L)).cast(DoubleType).as("total"))
      .orderBy("y", "m")
    graft.functions.GraftFunctions.register(spark)
    assert(rows(kernel) == rows(row))
  }

  test("q_events_hourly kernel matches the row plan on the fixture") {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.events(spark, sfDir)
    val kernel = BatchKernels.eventsHourly(
      e.select(col("ts"), col("event_type"), col("value"))).get
      .orderBy("hour", "event_type")
    val base = e.withColumn("us", expr("unix_micros(cast(ts as timestamp))"))
    val b = when(col("us") >= 0, expr("us div 3600000000"))
      .otherwise(expr("((us + 1) div 3600000000) - 1"))
    val row = base.groupBy(b.as("b"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(call_function("graft_dunscaled", col("value").cast(DoubleType), lit(6)))
          .cast(DecimalType(38, 0)) / lit(1000000L)).cast(DoubleType).as("sum_value"))
      .select(expr("cast(timestamp_micros(b * 3600000000) as timestamp_ntz)").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour", "event_type")
    assert(rows(kernel) == rows(row))
  }

  test("adversarial parquet: nulls, pre-epoch timestamps, ties, NaN/Inf") {
    graft.functions.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("bk_adv").toString
    val schema = StructType(Seq(
      StructField("o_orderdate", TimestampNTZType),
      StructField("o_totalprice", DoubleType)))
    val us = 86400000000L // one day
    val mk = (m: Long, v: java.lang.Double) =>
      org.apache.spark.sql.Row(
        if (m == Long.MinValue) null
        else java.time.LocalDateTime.ofEpochSecond(m / 1000000L, ((m % 1000000L + 1000000L) % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC),
        v)
    val data = Seq[(Long, java.lang.Double)](
      (0L, 1.005),                      // classic tie at scale 2
      (0L, 2.675),                      // another tie
      (1L, 0.015),                      // tie in the first micro of a day
      (-1L, 10.0),                      // 1us before epoch -> 1969-12-31
      (-us * 400, 5.5),                 // well pre-epoch
      (-us * 400 + 1, Double.NaN),      // NaN -> null contribution
      (us * 45, Double.PositiveInfinity), // Inf -> null contribution
      (us * 45, 1.0e17),                // near the unscaled-overflow edge
      (us * 45, null),                  // null value, counted row
      (Long.MinValue, 3.0),             // null date group
      (Long.MinValue, null)             // null date, null value
    ).map(t => mk(t._1, t._2))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava),
      schema).repartition(3).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = spark.read.parquet(s"$dir/t.parquet")
    val base = t.select(col("o_orderdate"), col("o_totalprice"))
    val kernel = BatchKernels.dateExtract(base).get.orderBy("y", "m")
    assert(rows(kernel).nonEmpty)
    val row = t.groupBy(year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"),
        (sum(call_function("graft_dunscaled", col("o_totalprice").cast(DoubleType), lit(2)))
          .cast(DecimalType(38, 0)) / lit(100L)).cast(DoubleType).as("total"))
      .orderBy("y", "m")
    assert(rows(kernel) == rows(row))
  }
}
