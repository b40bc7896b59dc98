package graft

import graft.plans.Hints
import org.apache.spark.sql.functions._

/** Pins for the size-gated join-strategy helper after the round-12
  * sf10 cliff: below the threshold the side broadcasts; above it the
  * fallback must be a shuffled-hash build (NOT the silent sort-merge
  * default that sorted 60M fact rows at sf10), and `hashFallback =
  * false` must keep the join unhinted for the spill-safe path. */
class HintsSpec extends SparkSpec {

  private def bigSide = {
    // force the gate to fail regardless of session threshold: a plan
    // whose Catalyst estimate is far above any sane broadcast limit
    spark.range(0, 1000).toDF("k")
  }

  // sf50-shape stats: 1G rows x 8B = 8 GiB estimate (never executed),
  // past the 4 GB fact floor that engages the measured path
  private def bigFact = spark.range(0, 1L << 30).toDF("k")

  // a side whose MEASURED bytes exceed the 128 MB cap: one long column
  // is 24 B/row (8 B value + 8 B slot + 8 B null bitset), so this is
  // 1.5x the cap; counting a range is cheap
  private def overCapSide = spark.range(0, Hints.MeasuredCapBytes / 16).toDF("k")

  test("gate pass: small bound broadcasts") {
    val dim = spark.range(0, 100).toDF("k")
    val fact = spark.range(0, 1000).toDF("k")
    val j = fact.join(Hints.broadcastIfSmall(dim, bound = dim), "k")
    assert(j.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("gate fail: fallback is shuffled-hash, never sort-merge") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1") // 1 byte: gate must fail
    try {
      val fact = spark.range(0, 1000).toDF("k")
      val side = Hints.broadcastIfSmall(bigSide, bound = bigSide)
      val plan = fact.join(side, "k").queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"), s"fallback not SHJ:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"sort-merge survived:\n$plan")

      val unhinted = Hints.broadcastIfSmall(bigSide, bound = bigSide, hashFallback = false)
      val plan2 = fact.join(unhinted, "k").queryExecution.optimizedPlan.toString
      assert(!plan2.contains("shuffle_hash"), s"hashFallback=false still hinted:\n$plan2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("measured path: exact count rescues a side the static gate rejects") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1") // static gate must fail
    try {
      val fact = spark.range(0, 1000).toDF("k")
      // 100 rows x 8B long = 800B, far under the 128MB measured cap;
      // the sf50-shape fact side engages the measured path
      val side = Hints.broadcastIfSmall(bigSide.limit(100), bound = bigSide,
        countOnFail = Some(bigSide.limit(100)), factSide = Some(bigFact))
      val plan = fact.join(side, "k").queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"measured count did not broadcast:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("measured path is OFF by default (local negative, tools/Exp21)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val fact = spark.range(0, 1000).toDF("k")
      val side = Hints.broadcastIfSmall(bigSide.limit(100), bound = bigSide,
        countOnFail = Some(bigSide.limit(100)))
      val plan = fact.join(side, "k").queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"), s"default should stay SHJ:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("auto-engage: sf50-shape fact volume flips the measured rescue on") {
    // Round 19: the Exp21 sf50 trend line (q3 broadcast -12%, q5 ~tie
    // vs the sf10 negative) wired the rescue to engage automatically
    // when the caller's fact side clears the 4 GB fact floor.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1") // static gate fails
    try {
      val fact = spark.range(0, 1000).toDF("k")
      val side = Hints.broadcastIfSmall(bigSide.limit(100), bound = bigSide,
        countOnFail = Some(bigSide.limit(100)), factSide = Some(bigFact))
      val plan = fact.join(side, "k").queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"sf50-shape fact did not auto-engage the measured rescue:\n$plan")

      // sf1-shape stats: a few MB of fact — the measured NEGATIVE band;
      // must stay on the static shuffled-hash arm
      val smallFact = spark.range(0, 1000).toDF("k")
      val side2 = Hints.broadcastIfSmall(bigSide.limit(100), bound = bigSide,
        countOnFail = Some(bigSide.limit(100)), factSide = Some(smallFact))
      val plan2 = fact.join(side2, "k").queryExecution.executedPlan.toString
      assert(plan2.contains("ShuffledHashJoin"),
        s"sf1-shape fact flipped the rescue (below-crossover regression):\n$plan2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("auto-engage pathological stats: empty-relation fact never engages") {
    // Round-20 adversarial sweep (a): a factSide with degenerate stats —
    // an empty relation's ~0-byte estimate — must stay on the static
    // shuffled-hash arm, not engage the rescue.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val fact = spark.range(0, 1000).toDF("k")
      val emptyFact = spark.range(0, 0).toDF("k")
      val side = Hints.broadcastIfSmall(bigSide.limit(100), bound = bigSide,
        countOnFail = Some(bigSide.limit(100)), factSide = Some(emptyFact))
      val plan = fact.join(side, "k").queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"),
        s"empty-relation fact engaged the measured rescue:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("auto-engage pathological stats: inflated post-filter estimate only reaches the MEASURED gate") {
    // A filter whose Catalyst estimate stays at the unfiltered child's
    // size (the default) can spuriously clear the 4g floor — fail-safe
    // by construction: the worst it can do is take the measured arm,
    // whose exact-bytes cap still decides. Pin both halves: the inflated
    // estimate does engage, and the decision is the measured one.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val fact = spark.range(0, 1000).toDF("k")
      // 8 GiB child estimate; the filter keeps ~nothing but Catalyst's
      // default selectivity leaves the estimate above the 4g floor
      val inflated = spark.range(0, 1L << 30).toDF("k").filter(col("k") < 10)
      val side = Hints.broadcastIfSmall(bigSide.limit(100), bound = bigSide,
        countOnFail = Some(bigSide.limit(100)), factSide = Some(inflated))
      val plan = fact.join(side, "k").queryExecution.executedPlan.toString
      // small measured side -> rescue fires (engage happened, cap passed)
      assert(plan.contains("BroadcastHashJoin"),
        s"inflated estimate did not reach the measured gate:\n$plan")
      // same inflated fact, but a side whose measured bytes exceed the
      // 128 MB cap: the measured gate must REFUSE — an absurd estimate
      // can never bypass the byte cap
      val side2 = Hints.broadcastIfSmall(overCapSide, bound = bigSide,
        countOnFail = Some(overCapSide), factSide = Some(inflated))
      val plan2 = fact.join(side2, "k").queryExecution.executedPlan.toString
      assert(plan2.contains("ShuffledHashJoin"),
        s"inflated estimate bypassed the measured cap:\n$plan2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("measured count runs ONCE at build time, never per execution") {
    // Round-20 adversarial sweep (a): the rescue's count job is paid at
    // plan-build time inside broadcastIfSmall; re-executing the returned
    // plan (the bench's prepared-statement shape) must not re-count.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    val jobCount = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    // the listener bus is private[spark]; poll the counter to quiescence
    // (stable across one 50ms window, bounded at 5s) instead
    def settle(): Long = {
      var last = -1L; var cur = jobCount.get(); var spins = 0
      while (cur != last && spins < 100) {
        Thread.sleep(50); last = cur; cur = jobCount.get(); spins += 1
      }
      cur
    }
    def jobsDuring[A](body: => A): Long = {
      val before = settle(); body; settle() - before
    }
    try {
      val small = spark.range(0, 100).toDF("k")
      var side: org.apache.spark.sql.DataFrame = null
      val buildJobs = jobsDuring {
        side = Hints.broadcastIfSmall(small, bound = bigSide, countOnFail = Some(small),
          factSide = Some(bigFact))
      }
      assert(buildJobs >= 1, "measured count never ran a Spark job at build time")
      val joined = spark.range(0, 1000).toDF("k").join(side, "k")
      val j1 = jobsDuring(joined.collect())
      val j2 = jobsDuring(joined.collect())
      assert(j2 <= j1,
        s"steady-state re-execution ran MORE jobs than the first ($j2 vs $j1) — " +
          "the measured count is being re-paid per execution")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("measured path: string bytes are measured, not defaultSize-guessed") {
    // 200 rows x 1MB strings = 200MB real payload; StringType.defaultSize
    // (20B flat) would claim ~10KB and pass the 128MB cap. The measured
    // gate must see the real bytes and refuse the broadcast.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val fat = spark.range(0, 200).select(col("id").as("k"),
        repeat(lit("x"), 1 << 20).as("payload"))
      val fact = spark.range(0, 1000).toDF("k")
      val side = Hints.broadcastIfSmall(fat, bound = fat, countOnFail = Some(fat),
        factSide = Some(bigFact))
      val plan = fact.join(side, "k").queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"),
        s"string-heavy side broadcast past the measured cap:\n$plan")
      // and a genuinely small string side still rescues
      val thin = spark.range(0, 50).select(col("id").as("k"), lit("s").as("payload"))
      val side2 = Hints.broadcastIfSmall(thin, bound = bigSide, countOnFail = Some(thin),
        factSide = Some(bigFact))
      val plan2 = fact.join(side2, "k").queryExecution.executedPlan.toString
      assert(plan2.contains("BroadcastHashJoin"), s"thin string side not rescued:\n$plan2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("measured path: count above the cap still degrades to shuffled-hash") {
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val fact = spark.range(0, 1000).toDF("k")
      val side = Hints.broadcastIfSmall(overCapSide, bound = bigSide,
        countOnFail = Some(overCapSide), factSide = Some(bigFact))
      val plan = fact.join(side, "k").queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"), s"over-cap count still broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"sort-merge survived:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
  }

  test("measured path: disabled broadcast (threshold<=0) skips the count entirely") {
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // a proxy that would THROW if executed: proves count() is never run
      val poison = spark.range(0, 10).toDF("k")
        .filter(org.apache.spark.sql.functions.udf((k: Long) => {
          if (k >= 0) throw new IllegalStateException("counted a poison proxy")
          true
        }).apply(col("k")))
      val side = Hints.broadcastIfSmall(bigSide, bound = bigSide,
        countOnFail = Some(poison))
      val plan = spark.range(0, 1000).toDF("k").join(side, "k")
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("broadcast"), s"broadcast hint with broadcasting disabled:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
  }
}
