package graft.extras

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.AccumulatorV2

/** Deduplication operators for training corpora: exact, MinHash-LSH,
  * SimHash, n-gram Jaccard, embedding-cosine (SURVEY §7.1.7).
  *
  * Scale design: every variant is a shuffle-on-key pipeline — exact dedup
  * hashes the text, LSH variants shuffle on (band, bandHash) buckets so
  * candidate generation is linear in corpus size (never an O(n²) cross
  * join), and only bucket-mates pay the exact verification cost. At 100 TB
  * the bucket join is the standard MinHash-LSH plan; banding parameters
  * (b=16, r=4 by default) target Jaccard ~0.7+ recall.
  */
object Dedup {

  /** Max-tracking accumulator for [[BucketSkewMonitor]]. */
  private final class MaxLongAccumulator extends AccumulatorV2[java.lang.Long, java.lang.Long] {
    private var _v = 0L
    override def isZero: Boolean = _v == 0L
    override def copy(): MaxLongAccumulator = {
      val a = new MaxLongAccumulator; a._v = _v; a
    }
    override def reset(): Unit = _v = 0L
    override def add(v: java.lang.Long): Unit = if (v > _v) _v = v
    override def merge(o: AccumulatorV2[java.lang.Long, java.lang.Long]): Unit =
      if (o.value > _v) _v = o.value
    override def value: java.lang.Long = _v
  }

  /** Observable record of the bucket-size cap: how many buckets (and
    * member rows) the skew guard dropped, and the largest bucket seen.
    * Accumulator-backed so the numbers survive ANY adaptive re-planning:
    * `observe()`/CollectMetrics was tried first, but AQE's
    * empty-relation propagation replaces the semi-join subtree with an
    * empty relation when every bucket is dropped — exactly the
    * degenerate case the metrics exist for — and harvests no metrics
    * from the pruned subtree. Accumulators ride task completion of the
    * counts stage, which always runs. Named, so they also surface
    * per-stage in the Spark UI / event log with no code on the caller's
    * side. Retries/speculation can over-count (at-least-once) — these
    * are observability signals, never correctness inputs. */
  final class BucketSkewMonitor(spark: SparkSession, name: String) {
    private[Dedup] val oversizedBuckets =
      spark.sparkContext.longAccumulator(s"$name.oversized_buckets")
    private[Dedup] val oversizedRows =
      spark.sparkContext.longAccumulator(s"$name.oversized_rows")
    private[Dedup] val maxBucket = new MaxLongAccumulator
    spark.sparkContext.register(maxBucket, s"$name.max_bucket_size")
    /** (oversized_buckets, oversized_rows, max_bucket_size) seen so far. */
    def stats: Map[String, Long] = Map(
      "oversized_buckets" -> oversizedBuckets.value,
      "oversized_rows" -> oversizedRows.value,
      "max_bucket_size" -> maxBucket.value.longValue())
  }

  /** Skew-guarded bucket grouping shared by the three pair generators:
    * one aggregation whose buffer counts the bucket exactly while
    * retaining at most `maxBucketSize + 1` members
    * ([[graft.functions.BoundedSortedCollect]]). Singleton and over-cap
    * buckets come back with a NULL member list and are filtered; a
    * degenerate mega-bucket (10 M near-identical docs — or worse,
    * 768-dim vectors riding the struct) never accumulates ANYWHERE:
    * every partial buffer is bounded, so both executor memory and the
    * per-key shuffle volume are O(tasks * cap) at any corpus skew.
    *
    * The cap is never silent: every call records
    * `oversized_buckets` / `oversized_rows` / `max_bucket_size` through
    * a [[BucketSkewMonitor]] (a caller-supplied one, else a fresh
    * internal one whose named accumulators still surface in the UI and
    * event log), reading exact sizes off the grouped stream.
    *
    * Cost: exactly one shuffle of the member stream — the previous
    * shape (count aggregation, then a semi-join, then collect_list)
    * paid a second counts exchange and a join to get the same bound. */
  private def cappedBuckets(
      members: DataFrame, keyCols: Seq[String], elemCol: Column,
      maxBucketSize: Int, name: String,
      monitor: Option[BucketSkewMonitor]): DataFrame = {
    val key = keyCols.map(col)
    val mon = monitor.getOrElse(new BucketSkewMonitor(members.sparkSession, name))
    // ONE aggregation does the counting AND the bounded collection
    // ([[graft.functions.BoundedSortedCollect]]): `bs.n` is the exact
    // bucket size, `bs.ids` the full sorted member list iff
    // 2 <= n <= cap (else NULL). The buffer — including every map-side
    // PARTIAL buffer — holds at most cap+1 elements, so a degenerate
    // mega-bucket neither accumulates nor ships more than
    // tasks*(cap+1) members through the single shuffle. This replaced
    // the round-8 count-then-semi-join-then-collect shape: same hard
    // memory bound, one exchange instead of two aggregations and a
    // join (the "counts shuffle" the round-9 review flagged is gone).
    graft.functions.GraftFunctions.register(members.sparkSession)
    val elem = call_function("graft_bounded_sorted_set", elemCol, lit(maxBucketSize))
    val grouped = members.groupBy(key: _*).agg(elem.as("bs"))
    // side-effecting always-true filter on the (small, one-row-per-
    // bucket) grouped stream; nondeterministic so Catalyst never folds,
    // splits or re-derives it. Capture the (serializable) accumulators
    // only — the monitor itself holds the SparkSession.
    val (accB, accR, accM) = (mon.oversizedBuckets, mon.oversizedRows, mon.maxBucket)
    val record = udf((m: Long) => {
      if (m > maxBucketSize) { accB.add(1L); accR.add(m) }
      accM.add(m)
      true
    }).asNondeterministic()
    grouped.filter(record(col("bs.n")))
      .where(col("bs.ids").isNotNull)
      .select(key :+ col("bs.ids").as("ms"): _*)
  }

  /** Exact dedup: one representative (min id) per identical text. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Exact dedup keeping one row per text (the min-id representative). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Exact pairwise n-gram Jaccard for candidate pairs (a, b). Expects
    * columns sh_a / sh_b of distinct shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) > 0,
      size(array_intersect(a, b)).cast(DoubleType) / size(array_union(a, b)))
      .otherwise(lit(0.0))

  /** All (i < j) pairs within a sorted member array. */
  private def comboPairs(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("a"), y.as("b")))))

  /** MinHash-LSH near-dup pairs: shingle -> minhash -> band -> bucket
    * grouping -> exact Jaccard verification. Returns (id_a, id_b,
    * jaccard) with id_a < id_b and jaccard >= threshold.
    *
    * Identical texts collapse first: one representative (the min id) per
    * distinct text runs through LSH, and its signature row carries the
    * sorted member list of its text group. Candidate generation groups
    * bucket members and emits in-bucket pairs directly — one shuffle on
    * (band, bh) — instead of self-joining the bucket table (two shuffles
    * + a distinct). The verify joins attach both representatives'
    * shingle hashes AND member lists, so a verified representative pair
    * expands by exploding the two lists (every member of group a with
    * every member of group b, at the representatives' Jaccard), and the
    * in-group pairs (Jaccard 1.0) come from the same signature rows: no
    * membership join. The signature rows are lazily checkpointed, so the
    * bucket pipeline, both verification joins and the in-group pairs
    * share one computation inside the consuming job.
    *
    * `maxBucketSize` bounds the quadratic blow-up of a degenerate bucket
    * (m members -> m^2/2 pairs AND an m-element collected list): over-cap
    * buckets are dropped BEFORE member collection (see [[cappedBuckets]]
    * — both the pair count and the aggregation buffer stay bounded, and
    * the drop is observable). With b independent bands a true near-dup
    * pair collides in many bands, so a capped bucket's pairs almost
    * surely re-surface in a less-loaded band; the cap trades a sliver of
    * recall for a hard bound on worst-case memory — the standard LSH
    * skew guard at corpus scale. A member list is bounded by the same
    * cap. */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxBucketSize: Int = 10000,
      monitor: Option[BucketSkewMonitor] = None): DataFrame = {
    val spark = df.sparkSession
    // -------- identical-text collapse (round 15) --------
    // Byte-identical texts have identical shingle sets, identical
    // signatures, and pairwise Jaccard exactly 1.0 — running them
    // through LSH is pure waste that COMPOUNDS: m copies of a text sit
    // together in every band bucket, so pair emission grows ~m² per
    // bucket and every one of those pairs pays the exact-Jaccard array
    // verify. On the sf10 bench corpus (600k docs, 4,992 distinct
    // texts, groups of 120-240 copies) that waste was 87% of the whole
    // bench's wall. So: group by md5(text) in ONE bounded aggregation
    // (exact count + capped sorted member list, the [[cappedBuckets]]
    // buffer bound) and run the LSH pipeline on one representative per
    // distinct text. Groups past `maxBucketSize` are dropped whole — the
    // same observable rule as a capped bucket (today such a group
    // saturates every bucket it touches), recorded through the same
    // monitor.
    graft.functions.GraftFunctions.register(spark)
    val keyed = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("text"), md5(col(textCol)).as("tkey"))
    val mon = monitor.getOrElse(new BucketSkewMonitor(spark, "graft.dedup.skew.exact_groups"))
    val (accB, accR, accM) = (mon.oversizedBuckets, mon.oversizedRows, mon.maxBucket)
    val record = udf((m: Long) => {
      if (m > maxBucketSize) { accB.add(1L); accR.add(m) }
      accM.add(m)
      true
    }).asNondeterministic()
    // one shuffle over (unique-per-partition) texts: map-side partials
    // already collapse same-partition copies, so the exchange carries
    // roughly the distinct corpus, not the raw one. `members` is the
    // group's sorted id list (a singleton group is just its rep).
    val groups = keyed.groupBy("tkey")
      .agg(min(col("id")).as("rep_id"), first(col("text")).as("text"),
        call_function("graft_bounded_sorted_set", col("id"), lit(maxBucketSize)).as("bs"))
      .filter(record(col("bs.n")))
      .where(col("bs.n") <= maxBucketSize)
      .select(col("rep_id").as("id"), col("text"),
        coalesce(col("bs.ids"), array(col("rep_id"))).as("members"))
    // -------- LSH on representatives only --------
    // shingle HASHES, not strings ([[signatureIndex]] is the shared
    // derivation): the verify join compares sorted distinct longs with
    // a merge walk (vs building a UTF8String hash set per candidate
    // pair) and ships 8 bytes per distinct shingle. Profiled at sf1
    // (tools/LshProbe, 60k docs, 407k candidates): the string-set
    // verify was ~90% of the whole pipeline's work.
    //
    // One fused byte-scan produces shingles AND signature; the result
    // feeds the bucket pipeline, both verification joins and the
    // in-group pairs, so pin it behind a (lazy) checkpoint — branches
    // would otherwise re-derive the whole hash tree. eager=false keeps
    // the materialization inside the first consuming job instead of a
    // separate build-time barrier.
    val base = signatureRows(groups, "id", "text", Seq("members"),
        shingleSize, numHashes, bands)
      .localCheckpoint(eager = false)
    val buckets = base
      .select(col("id"), posexplode(col("bands")).as(Seq("band", "bh")))
    // bucket-mates only: shuffle on (band, bh), never a global cross join
    val grouped = cappedBuckets(buckets, Seq("band", "bh"),
      col("id"), maxBucketSize,
      "graft.dedup.skew.minhash", monitor)
      .withColumnRenamed("ms", "ids")
    // all (i < j) pairs within a bucket, then global pair-dedup. The
    // dedup shuffles on id_a alone: that partitioning also serves the
    // verify's id_a join, so the pair list crosses ONE exchange. (A
    // map-side partial dedup would save little: a pair's copies come
    // from different band buckets, hence mostly different partitions.)
    val cand = grouped.select(explode(comboPairs(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .repartition(col("id_a"))
      .distinct()
    val repPairs = verifyJaccard(cand, base.select(col("id"), col("shh"), col("members")),
      threshold, broadcastPairs = false)
    // -------- expand back to document ids --------
    // cross-group pairs: every member of group a pairs with every member
    // of group b at the REPS' jaccard (identical texts per group); the
    // groups are disjoint, so no pair repeats
    val expanded = repPairs
      .select(explode(col("members_a")).as("m_a"), col("members_b"), col("jaccard"))
      .select(col("m_a"), explode(col("members_b")).as("m_b"), col("jaccard"))
      .select(least(col("m_a"), col("m_b")).as("id_a"),
        greatest(col("m_a"), col("m_b")).as("id_b"), col("jaccard"))
    // in-group pairs: jaccard exactly 1.0, no verify. Groups whose text
    // yields an EMPTY shingle set never pair (matching the exact-Jaccard
    // oracle's 0/0 -> no-pair): signatureRows already dropped their rows.
    val internal = base.where(size(col("members")) > 1)
      .select(explode(comboPairs(col("members"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"),
        lit(1.0).as("jaccard"))
      .where(lit(1.0) >= lit(threshold))
    expanded.unionByName(internal)
  }

  /** Shared exact-Jaccard verification of a candidate pair list against
    * an (id, shh, ...) table; every further column of `shh` is attached
    * to both sides too and returned suffixed `_a` / `_b`.
    * `broadcastPairs = false` (full dedup): the
    * BARE pair list (16 bytes/row) joins shuffle-hash as build side for
    * the first array attach — a bounded hash table at any corpus size —
    * and the second attach is a SORT-MERGE join: after the first join
    * the pair side carries `shh_a` arrays, so a hash build there is
    * pair-count x array-size and dies at scale (measured: an 8 GB
    * single-partition LongHashedRelation at sf10, where the bare-pairs
    * builds stayed in the MBs). SMJ sorts spill; nothing verify-side
    * holds more than a partition's sort buffer in memory.
    * `broadcastPairs = true` (incremental): the bare batch-proportional
    * pair list broadcasts into BOTH array-attach joins, so the
    * corpus-sized shingle side streams without shuffling; the two
    * batch-proportional attached halves — both carrying arrays — meet
    * in a sort-merge join for the same reason. */
  private def verifyJaccard(
      cand: DataFrame, shh: DataFrame, threshold: Double,
      broadcastPairs: Boolean): DataFrame = {
    val attached = shh.columns.filterNot(_ == "id").toSeq
    def side(s: String): DataFrame =
      shh.select(col("id").as(s"id_$s") +: attached.map(c => col(c).as(s"${c}_$s")): _*)
    val withSh = if (broadcastPairs) {
      // Broadcast ONLY the bare (id_a, id_b) list — never a join result
      // carrying shingle arrays (pairs x multi-KB arrays would blow the
      // broadcast limit / driver heap on long-document batches). Each
      // side attaches its array with the corpus STREAMING past the
      // broadcast pair list; the final (id_a, id_b) equi-join re-unites
      // the two batch-proportional halves with a batch-proportional
      // shuffle — nothing corpus-sized ever shuffles or broadcasts.
      val bare = broadcast(cand)
      val ja = side("a").join(bare, "id_a")
      val jb = side("b").join(bare, "id_b")
      ja.hint("merge").join(jb, Seq("id_a", "id_b"))
    } else {
      cand.hint("shuffle_hash").join(side("a"), "id_a")
        .hint("merge").join(side("b"), "id_b")
    }
    val carried = attached.filterNot(_ == "shh").flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b")))
    withSh.select(Seq(col("id_a"), col("id_b"),
        TextAnalysis.jaccardHashes(col("shh_a"), col("shh_b")).as("jaccard")) ++ carried: _*)
      .filter(col("jaccard") >= threshold)
  }

  /** Signature-index rows for MinHash-LSH: one (id, shh, bands,
    * sig_params) row per document — [[minhashPairs]]'s per-run
    * derivation, and the state a production corpus maintains in a lake
    * table so each new ingest batch is checked incrementally without
    * re-reading or re-hashing a single existing document. `shh` (sorted
    * distinct shingle hashes) powers the exact-Jaccard verify; `bands`
    * the LSH bucket join; `sig_params` stamps the hashing parameters so
    * a consumer built with DIFFERENT parameters fails fast instead of
    * silently losing recall (band hashes from mismatched signature
    * widths never collide). Null ids and empty-shingle docs are
    * excluded (they can never pair). */
  def signatureIndex(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame =
    signatureRows(df, idCol, textCol, Seq.empty, shingleSize, numHashes, bands)

  /** [[signatureIndex]] rows that also carry the `carry` columns of `df`
    * (after `shh`, before `bands`). */
  private def signatureRows(
      df: DataFrame, idCol: String, textCol: String, carry: Seq[String],
      shingleSize: Int, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    df.select(Seq(col(idCol).as("id"),
        TextAnalysis.shinglesWithMinhashHashed(col(textCol), shingleSize, numHashes).as("smh")) ++
        carry.map(col): _*)
      .select(Seq(col("id"), col("smh.shh").as("shh"), col("smh.sig").as("sig")) ++
        carry.map(col): _*)
      .filter(size(col("shh")) > 0 && col("id").isNotNull)
      .withColumn("bands", TextAnalysis.bandHashes(col("sig"), bands, rows))
      .withColumn("sig_params", lit(s"$shingleSize:$numHashes:$bands"))
      .drop("sig")
  }

  /** Incremental MinHash-LSH: near-dup pairs INVOLVING a new ingest
    * batch — new-vs-new and new-vs-index, never index-vs-index (those
    * pairs were reported when their documents were ingested). The cost
    * is proportional to the BATCH, not the corpus:
    *  - only the new batch is tokenized/hashed (the index ships
    *    precomputed signatures, parameter-checked against `sig_params`
    *    so a mismatched index fails fast instead of silently losing
    *    recall);
    *  - the index's exploded bucket rows SEMI-JOIN against the batch's
    *    (broadcast) band-key list BEFORE the bounded grouping, so the
    *    grouping shuffle carries only the corpus rows in buckets the
    *    batch actually touches (old-only buckets can never yield a
    *    kept pair). The batch key list is batch-proportional by
    *    construction — for a corpus-sized "batch" use [[minhashPairs]];
    *  - the (batch-proportional) candidate pair list BROADCASTS into
    *    the verify joins, so the corpus shingle table streams without
    *    shuffling.
    * A re-ingested id (already in the index) never pairs with itself.
    * The index is scanned by the bucket pipeline and the verify join —
    * pass a materialized source (lake table / checkpoint), not a
    * recomputation plan.
    * Returns (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold. */
  def minhashPairsIncremental(
      index: DataFrame, newDocs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxBucketSize: Int = 10000,
      monitor: Option[BucketSkewMonitor] = None): DataFrame = {
    val params = s"$shingleSize:$numHashes:$bands"
    val newBase = signatureIndex(newDocs, idCol, textCol, shingleSize, numHashes, bands)
      .localCheckpoint(eager = false)
    // fail fast on a parameter-mismatched index: assert_true rides the
    // bands column, which the bucket explode evaluates for EVERY index
    // row (a mismatch cannot hide behind empty join results); no extra
    // job, and the error names the drift
    val idx = index.withColumn("bands", when(
        assert_true(col("sig_params") === lit(params),
          lit(s"signature index parameters != $params")).isNull,
        col("bands")))
    val newBuckets = newBase.select(struct(col("id"), lit(true).as("is_new")).as("m"),
      posexplode(col("bands")).as(Seq("band", "bh")))
    // batch band keys broadcast; corpus bucket rows that miss them drop
    // BEFORE the grouping shuffle
    val newKeys = newBuckets.select("band", "bh").distinct()
    val idxBuckets = idx.select(struct(col("id"), lit(false).as("is_new")).as("m"),
        posexplode(col("bands")).as(Seq("band", "bh")))
      .join(broadcast(newKeys), Seq("band", "bh"), "left_semi")
    val grouped = cappedBuckets(newBuckets.unionByName(idxBuckets),
      Seq("band", "bh"), col("m"), maxBucketSize,
      "graft.dedup.skew.minhash.inc", monitor)
      .where(exists(col("ms"), m => m.getField("is_new")))
    val combos = flatten(transform(col("ms"), (x, i) =>
      transform(slice(col("ms"), i + lit(2), size(col("ms"))),
        y => struct(x.getField("id").as("a"), y.getField("id").as("b"),
          (x.getField("is_new") || y.getField("is_new")).as("n")))))
    val cand = grouped.select(explode(combos).as("p"))
      .where(col("p.n") && col("p.a") =!= col("p.b"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
    // re-ingested ids appear on both sides; the batch's signature wins,
    // via a broadcast anti-join on the (batch-proportional) id list —
    // the corpus side streams, nothing corpus-sized shuffles
    val shh = newBase.select(col("id"), col("shh")).unionByName(
      idx.select(col("id"), col("shh"))
        .join(broadcast(newBase.select(col("id"))), Seq("id"), "left_anti"))
    verifyJaccard(cand, shh, threshold, broadcastPairs = true)
  }

  /** Connected components over a near-dup pair list — the step that turns
    * pairwise matches into dedup GROUPS (one representative per cluster).
    * Returns (id, component) for every id appearing in `pairs`, where
    * component is the minimum id reachable.
    *
    * Iterative min-label propagation: each round is ONE job — the eager
    * reliable checkpoint that materializes the new labels also counts
    * label decreases through an accumulator, so convergence needs no
    * separate count() pass. Reliable (HDFS-style) checkpoints rather
    * than localCheckpoint: local blocks pin to executors, and one lost
    * executor at cluster scale would mean recomputing the whole chain
    * from nothing. Rounds are bounded by the cluster diameter, which
    * for near-dup graphs is tiny; no driver-side graph state. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(spark.conf.getOption("spark.graft.checkpoint.dir").getOrElse(
        java.nio.file.Files.createTempDirectory("graft-ckpt-").toString))
    val edges = pairs
      .select(col(aCol).cast(LongType).as("a"), col(bCol).cast(LongType).as("b"))
      .filter(col("a") =!= col("b"))
    val undirected = edges
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .checkpoint()
    var labels = undirected.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id"))
      .checkpoint()
    var converged = false
    while (!converged) {
      // the accumulator rides the checkpoint job; task retries can only
      // inflate a nonzero count, never turn a genuine 0 into nonzero,
      // so `value == 0` remains an exact convergence test
      val acc = sc.longAccumulator("graft.cc.changed")
      val fold = udf((c: Long, n: Long) => {
        if (n < c) acc.add(1L); math.min(c, n)
      })
      val neighborMin = undirected
        .join(labels.select(col("id").as("b"), col("comp")), "b")
        .groupBy(col("a")).agg(min(col("comp")).as("ncomp"))
      val next = labels
        .join(neighborMin.select(col("a").as("id"), col("ncomp")), Seq("id"), "left")
        .select(col("id"),
          fold(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
        .checkpoint() // eager: one job materializes labels AND the counter
      converged = acc.value == 0
      labels = next
    }
    labels.select(col("id"), col("comp").as("component"))
  }

  /** End-to-end near-dedup: LSH candidate pairs -> exact verify ->
    * clusters -> keep the min-id representative of each cluster (plus
    * every unpaired row). The full corpus-dedup flow in one call. */
  def dropNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, threshold = threshold)
    val comps = connectedComponents(pairs, "id_a", "id_b")
    val drop = comps.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup pairs: 64-bit signature, 4×16-bit band buckets,
    * hamming-distance verification via bit_count(xor).
    *
    * Same skew-guarded bucket shape as [[minhashPairs]]: members are
    * collected per (band, bucket) — the 64-bit signature rides the
    * struct so verification needs NO join at all — and buckets past
    * `maxBucketSize` are dropped before member collection
    * ([[cappedBuckets]]), so neither the m²/2 pairs nor the m-element
    * buffer ever exist. A degenerate corpus (every document
    * near-identical) lands in one bucket per band and would otherwise
    * go quadratic; with 4 independent bands a true near-dup pair in a
    * capped bucket usually re-surfaces in a less-loaded band. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 10000,
      monitor: Option[BucketSkewMonitor] = None): DataFrame = {
    val base = df.select(col(idCol).as("id"),
        TextAnalysis.simhash64(TextAnalysis.tokens(col(textCol))).as("sim"))
      .withColumn("bands", TextAnalysis.simhashBands(col("sim")))
    // (no checkpoint: the one-pass cappedBuckets consumes the member
    // stream exactly once, so the signature computes once by construction)
    val buckets = base.select(col("id"), col("sim"),
      posexplode(col("bands")).as(Seq("band", "bh")))
    val grouped = cappedBuckets(buckets, Seq("band", "bh"),
      struct(col("id"), col("sim")), maxBucketSize,
      "graft.dedup.skew.simhash", monitor)
    // all (i < j) pairs with hamming computed in place (id sorted first
    // in the struct, so pair order is id_a < id_b)
    val combos = flatten(transform(col("ms"), (x, i) =>
      transform(slice(col("ms"), i + lit(2), size(col("ms"))),
        y => struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
          bit_count(x.getField("sim").bitwiseXOR(y.getField("sim"))).as("hamming")))))
    grouped.select(explode(combos).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("p.hamming").as("hamming"))
      .distinct() // a pair may collide in several bands
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding near-dup pairs via signed-random-projection buckets +
    * exact cosine verification (unit-norm vectors: cosine == dot).
    *
    * Skew guard as in [[minhashPairs]]/[[simhashPairs]]: per-bucket
    * collect_list + in-bucket pair emission, over-cap buckets dropped
    * BEFORE member collection ([[cappedBuckets]]) — critical here,
    * because each member carries its full vector: a 10 M-clone corpus
    * at 768 dims would otherwise accumulate ~60 GB into ONE aggregation
    * buffer before the size filter could drop it. The cap defaults
    * lower than the text variants (cap × dim × 4 bytes of bounded agg
    * state per bucket). */
  def embeddingPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, srpBits: Int = 16,
      maxBucketSize: Int = 4096,
      monitor: Option[BucketSkewMonitor] = None): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("sig", Similarity.srpSignature(col("v"), srpBits))
    // (no checkpoint: the one-pass cappedBuckets consumes the member
    // stream exactly once, so the signature computes once by construction)
    val grouped = cappedBuckets(base, Seq("sig"),
      struct(col("id"), col("v")), maxBucketSize,
      "graft.dedup.skew.embedding", monitor)
    val combos = flatten(transform(col("ms"), (x, i) =>
      transform(slice(col("ms"), i + lit(2), size(col("ms"))),
        y => struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
          Similarity.dot(x.getField("v"), y.getField("v")).as("cosine")))))
    grouped.select(explode(combos).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("p.cosine").as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
