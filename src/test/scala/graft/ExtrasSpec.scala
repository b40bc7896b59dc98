package graft

import graft.extras.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class ExtrasSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = queries.DedupQueries.corpus(spark, sf)

  test("minhash-LSH recall: every injected exact duplicate pair is found") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val injected = Tables.documents(spark, sf).filter(col("doc_id") % 5 === 0)
      .select("doc_id").as[Long].collect()
      .map(id => (id, id + 10000)).toSet
    assert(injected.subsetOf(pairs),
      s"missing ${injected -- pairs} of ${injected.size} injected dup pairs")
  }

  test("simhash finds exact duplicates at hamming 0") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val injected = Tables.documents(spark, sf).filter(col("doc_id") % 5 === 0)
      .select("doc_id").as[Long].collect()
      .map(id => (id, id + 10000)).toSet
    assert(injected.subsetOf(pairs))
  }

  test("connected components: chains converge to min-id labels across hops") {
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, disjoint pair 20-21
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) === 1L))
    assert(Seq(10L, 11L, 12L).forall(comp(_) === 10L))
    assert(Seq(20L, 21L).forall(comp(_) === 20L))
    // injected exact dups cluster with their originals through LSH pairs
    val lsh = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5)
    val cc = Dedup.connectedComponents(lsh, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    Tables.documents(spark, sf).filter(col("doc_id") % 5 === 0)
      .select("doc_id").as[Long].collect()
      .filter(id => cc.contains(id) && cc.contains(id + 10000))
      .foreach(id => assert(cc(id) === cc(id + 10000)))
  }

  test("exact dedup drops exactly the injected duplicates") {
    val n = Tables.documents(spark, sf).count()
    val deduped = Dedup.dropExactDuplicates(corpus, "doc_id", "text")
    assert(deduped.count() === n) // one representative per original text
    assert(deduped.filter(col("doc_id") >= 10000).isEmpty) // min-id kept
  }

  test("near-dedup end-to-end keeps one representative per cluster") {
    val deduped = Dedup.dropNearDuplicates(corpus, "doc_id", "text", threshold = 0.5)
    // every injected exact copy (id+10000) clusters with its original and
    // is dropped; originals (min id) all survive
    assert(deduped.filter(col("doc_id") >= 10000).isEmpty)
    val originals = Tables.documents(spark, sf).count()
    val kept = deduped.count()
    assert(kept <= originals && kept > 0)
  }

  test("bounded sorted set: equals sort_array(collect_list) for surviving groups") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // groups of size 1..40 with random long elements, cap 20
    val rows = (0 until 200).flatMap { g =>
      (0 until (1 + rnd.nextInt(40))).map(_ => (g, rnd.nextLong() % 1000))
    }.toDF("g", "v")
    val got = rows.groupBy("g")
      .agg(call_function("graft_bounded_sorted_set", col("v"), lit(20)).as("bs"))
      .select(col("g"), col("bs.n").as("n"), col("bs.ids").as("ids"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), Option(r.getSeq[Long](2))))).toMap
    val expect = rows.groupBy("g")
      .agg(count(lit(1)).as("n"), sort_array(collect_list(col("v"))).as("ids"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (g, (n, ids)) =>
      val (gn, gids) = got(g)
      assert(gn === n, s"group $g count")
      if (n >= 2 && n <= 20) assert(gids.get == ids, s"group $g ids")
      else assert(gids.isEmpty, s"group $g should be dropped (n=$n)")
    }
    // struct elements (the simhash/embedding shape) survive the
    // serialize/merge path too
    val srows = (0 until 50).map(i => (i % 3, i.toLong, s"p$i")).toDF("g", "id", "p")
    val sgot = srows.repartition(7).groupBy("g")
      .agg(call_function("graft_bounded_sorted_set",
        struct(col("id"), col("p")), lit(100)).as("bs"))
      .select(col("g"), col("bs.ids").as("ids"))
      .collect().map(r => r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0))).toMap
    assert(sgot.values.forall(ids => ids == ids.sorted && ids.length >= 16))
  }

  test("incremental LSH: batch pairs only, equal to the full run's slice") {
    import spark.implicits._
    // corpus: 30 docs; batch: 10 more, 5 of which clone corpus docs and
    // 2 of which clone each other
    def mk(i: Long, t: String): (Long, String) = (i, t)
    val corpusDocs = (0L until 30L).map(i => mk(i, s"base document number $i with some shared words " + ("filler " * 6))).toDF("doc_id", "text")
    val batch = ((100L until 105L).map(i => mk(i, s"base document number ${i - 100} with some shared words " + ("filler " * 6))) ++
      Seq(mk(105L, "a fresh batch doc with totally novel content here indeed"),
        mk(106L, "a fresh batch doc with totally novel content here indeed"),
        mk(107L, "unrelated text entirely"), mk(108L, "another unrelated one"),
        mk(109L, "yet another different thing"))).toDF("doc_id", "text")
    val idx = Dedup.signatureIndex(corpusDocs, "doc_id", "text", 3, 64, 16)
    val inc = Dedup.minhashPairsIncremental(idx, batch, "doc_id", "text",
        3, 64, 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every pair touches the batch
    assert(inc.forall(p => p._1 >= 100L || p._2 >= 100L), inc.toString)
    // the clone pairs are found (corpus-vs-batch and batch-vs-batch)
    (0L until 5L).foreach(i => assert(inc.contains((i, i + 100L)), s"missing ($i, ${i + 100})"))
    assert(inc.contains((105L, 106L)))
    // equal to the full-corpus run restricted to batch-touching pairs
    val full = Dedup.minhashPairs(corpusDocs.unionByName(batch), "doc_id", "text",
        3, 64, 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      .filter(p => p._1 >= 100L || p._2 >= 100L)
    assert(inc === full)

    // re-ingest: a batch containing an already-indexed id must not pair
    // the document with itself (and still pairs with true neighbors)
    val reingest = Seq((3L, s"base document number 3 with some shared words " + ("filler " * 6)))
      .toDF("doc_id", "text")
    val re = Dedup.minhashPairsIncremental(idx, reingest, "doc_id", "text",
        3, 64, 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!re.contains((3L, 3L)), s"self-pair leaked: $re")
    assert(re.forall(p => p._1 != p._2), re.toString)

    // parameter drift fails fast instead of silently losing recall
    val err = intercept[Exception] {
      Dedup.minhashPairsIncremental(
        Dedup.signatureIndex(corpusDocs, "doc_id", "text", 3, 64, 8),
        batch, "doc_id", "text", 3, 64, 16, threshold = 0.5).count()
    }
    assert(err.getMessage != null &&
      (err.getMessage.contains("signature index parameters") ||
        Option(err.getCause).exists(_.getMessage.contains("signature index parameters"))),
      s"wrong error: $err")
  }

  test("degenerate corpus: simhash/embedding bucket caps bound the blow-up") {
    // 10k identical documents land in ONE bucket per band; without the
    // cap that is 10k²/2 pairs per band. With the cap the buckets drop
    // and the pipelines complete with bounded (here: zero) output.
    val clones = (0 until 10000).map(i => (i.toLong, "the same document text, repeated verbatim"))
      .toDF("doc_id", "text")
    val sp = Dedup.simhashPairs(clones, "doc_id", "text", maxHamming = 0, maxBucketSize = 100)
    assert(sp.count() === 0, "capped buckets must drop, not explode")

    val vec = Array.fill(16)(0.25f)
    val sameVecs = (0 until 10000).map(i => (i.toLong, vec)).toDF("vec_id", "embedding")
    val ep = Dedup.embeddingPairs(sameVecs, "vec_id", "embedding",
      threshold = 0.5, maxBucketSize = 100)
    assert(ep.count() === 0, "capped embedding buckets must drop, not explode")

    // sanity: with the cap above the corpus size the same inputs DO pair
    val few = (0 until 5).map(i => (i.toLong, "the same document text, repeated verbatim"))
      .toDF("doc_id", "text")
    assert(Dedup.simhashPairs(few, "doc_id", "text", maxHamming = 0).count() === 10)
    val fewVecs = (0 until 5).map(i => (i.toLong, vec)).toDF("vec_id", "embedding")
    assert(Dedup.embeddingPairs(fewVecs, "vec_id", "embedding", threshold = 0.5).count() === 10)
  }

  test("bucket cap engages BEFORE member collection and is observable") {
    // the cap must bound the aggregation BUFFER, not just the emitted
    // pairs: bucket grouping runs through the bounded-buffer aggregate
    // (graft_bounded_sorted_set), never a plain collect_list — a
    // mega-bucket never accumulates anywhere, including map-side
    // partial buffers (the pre-round-10 shape bounded the final buffer
    // with a count + semi-join, at the price of a second exchange)
    val clones = (0 until 5000).map(i => (i.toLong, "identical text " + "pad " * 8))
      .toDF("doc_id", "text")
    val mon = new Dedup.BucketSkewMonitor(spark, "test.skew.mh")
    val mp = Dedup.minhashPairs(clones, "doc_id", "text",
      maxBucketSize = 50, monitor = Some(mon))
    val plan = mp.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bounded_sorted_set"),
      s"bucket grouping must use the bounded aggregate:\n$plan")
    assert(!plan.contains("collect_list"),
      s"unbounded collect_list must not appear in the bucket plan:\n$plan")
    assert(mp.count() === 0)
    val m = mon.stats
    // since the round-15 identical-text collapse the 5000 clones form ONE
    // over-cap text group, dropped whole BEFORE any band bucket exists —
    // one observed drop carrying all 5000 rows (accumulators are
    // at-least-once, so assert floors not exact counts where retried
    // stages could inflate)
    assert(m("oversized_buckets") >= 1L, s"cap drop not observed: $m")
    assert(m("oversized_rows") >= 5000L, s"dropped rows not counted: $m")
    assert(m("max_bucket_size") === 5000L, s"max bucket wrong: $m")

    // under-cap corpus: zero oversized buckets observed, pairs intact
    val mon2 = new Dedup.BucketSkewMonitor(spark, "test.skew.emb")
    val vec = Array.fill(16)(0.25f)
    val fewVecs = (0 until 5).map(i => (i.toLong, vec)).toDF("vec_id", "embedding")
    val ep = Dedup.embeddingPairs(fewVecs, "vec_id", "embedding",
      threshold = 0.5, monitor = Some(mon2))
    assert(ep.count() === 10)
    assert(mon2.stats("oversized_buckets") === 0L)
    assert(mon2.stats("max_bucket_size") === 5L)
  }

  test("SRP ANN: rank-1 is the query itself with sim ~1") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 5)
    val top = Similarity.srpTopK(emb, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 5, maxHamming = 6)
      .filter(col("rank") === 1)
      .select("qid", "cid", "sim").collect()
    assert(top.length === 5)
    top.foreach { r =>
      assert(r.getLong(0) === r.getLong(1), s"rank-1 for ${r.getLong(0)} is ${r.getLong(1)}")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-3)
    }
  }

  test("brute-force top-k: native id types, one schema on both finish paths") {
    // string ids must survive end-to-end (the old impl cast to Long and
    // crashed), and the driver-finish and window-fallback paths must
    // return the SAME schema and the SAME rows
    val docs = Seq(("a", Array(1.0f, 0.0f)), ("b", Array(0.9f, 0.1f)),
      ("c", Array(0.0f, 1.0f)), ("d", Array(0.5f, 0.5f)))
      .toDF("doc", "vec")
    val q = docs.filter(col("doc") === "a")
    val driver = Similarity.bruteForceTopK(docs, "doc", "vec", q, "doc", "vec", k = 2)
    // maxPartialRows=0 opts out of the driver finish -> window plan
    val window = Similarity.bruteForceTopK(docs, "doc", "vec", q, "doc", "vec",
      k = 2, maxPartialRows = 0)
    assert(driver.schema.map(f => (f.name, f.dataType)) ===
      window.schema.map(f => (f.name, f.dataType)),
      "driver and window finishes must agree on schema")
    val d = driver.collect().map(r => (r.getString(0), r.getString(1), r.getInt(3)))
    val w = window.collect().map(r => (r.getString(0), r.getString(1), r.getInt(3)))
    assert(d.toSet === w.toSet, s"paths disagree: ${d.toSeq} vs ${w.toSeq}")
    assert(d.toSet === Set(("a", "a", 1), ("a", "b", 2)))

    // an over-cap query set must go STRAIGHT to the window plan — the
    // a-priori bound (#partitions x #queries x k) trips without any
    // driver-side materialization of the partials
    val over = Similarity.bruteForceTopK(docs, "doc", "vec", q, "doc", "vec",
      k = 2, maxPartialRows = 1)
    assert(over.queryExecution.executedPlan.toString.contains("Window") ||
      over.queryExecution.optimizedPlan.toString.contains("Window"),
      "over-cap query set should take the distributed window finish")
    assert(over.collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("a", "a"), ("a", "b")))
  }

  test("SRP ANN recall vs brute force is reasonable") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 5))
    val approx = pairs(Similarity.srpTopK(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 5, maxHamming = 6))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall") // hamming-6 probe of 16-bit SRP
  }

  test("IVF ANN: rank-1 is the query itself; recall vs brute force is reasonable") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 5)
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4)
    val top = ivf.filter(col("rank") === 1).select("qid", "cid", "sim").collect()
    assert(top.length === 5)
    top.foreach { r =>
      // the query's own cell is always its first probe, so it finds itself
      assert(r.getLong(0) === r.getLong(1))
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-3)
    }
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 5))
    val recall = (exact & pairs(ivf)).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall $recall") // 4/16 cells probed
  }

  test("language ID: CJK routing and marker words") {
    val df = Seq(
      (1L, "the cat sat on the mat and it was happy that day"),
      (2L, "der hund ist nicht mit der katze und das ist gut"),
      (3L, "le chat est dans la maison et les oiseaux"),
      (4L, "el perro y el gato en la casa que es grande"),
      (5L, "中文文本处理测试样例")).toDF("id", "text")
    val got = df.select(col("id"), TextAnalysis.langId(col("text")).as("lang"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "en" && got(2L) === "de" && got(3L) === "fr" &&
      got(4L) === "es" && got(5L) === "zh")
  }

  test("quality score is bounded and favors clean text") {
    val df = Seq(
      (1L, "a well formed document with many sensible words in a row " * 5),
      (2L, "@@@@ 12 !!! 99 ### 00 $$$ 11 %% 22")).toDF("id", "text")
    val scores = df.select(col("id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .as[(Long, Double)].collect().toMap
    assert(scores.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores(1L) > scores(2L))
  }

  test("fused text->signature paths match the array-based ones") {
    val docs = Tables.documents(spark, sf).limit(200)
      .select(col("doc_id"), col("text"))
      .union(Seq((90001L, "  one two  three one two three "), (90002L, "")).toDF())
    val viaArrays = docs.select(col("doc_id"),
      TextAnalysis.minhashSignature(TextAnalysis.distinctShingles(col("text"), 3), 8).as("mh"),
      TextAnalysis.simhash64(TextAnalysis.tokens(col("text"))).as("sh"))
    val fused = docs.select(col("doc_id"),
      TextAnalysis.minhashFromText(col("text"), 3, 8).as("mh"),
      TextAnalysis.simhashFromText(col("text")).as("sh"))
    assert(viaArrays.exceptAll(fused).isEmpty && fused.exceptAll(viaArrays).isEmpty)
  }

  test("hashed-shingle verify matches the string-set jaccard exactly") {
    // the verify join runs on sorted distinct shingle HASHES; pin (a)
    // shh == sorted distinct xxhash64 of the string shingles, (b) sig
    // bit-identical to the string-scan's, (c) merge-walk jaccard ==
    // array_intersect/union jaccard over the strings, pairwise on real
    // corpus text + adversarial edges
    val docs = Tables.documents(spark, sf).limit(120)
      .select(col("doc_id"), col("text"))
      .union(Seq((90001L, "  one two  three one two three "), (90002L, ""),
        (90003L, "one two"), (90004L, "x y z x y z x y z")).toDF())
    val both = docs.select(col("doc_id"),
      TextAnalysis.shinglesWithMinhash(col("text"), 3, 16).as("s"),
      TextAnalysis.shinglesWithMinhashHashed(col("text"), 3, 16).as("h"))
    val flat = both.select(col("doc_id"),
      col("s.sh").as("sh"), col("s.sig").as("sigS"),
      col("h.shh").as("shh"), col("h.sig").as("sigH"))
    assert(flat.filter(col("sigS") =!= col("sigH")).isEmpty)
    val refHashes = flat.select(col("doc_id"),
      sort_array(array_distinct(transform(col("sh"), s => xxhash64(s)))).as("ref"),
      col("shh"))
    // graft's shingle hash seeds xxhash64 differently than the SQL
    // function — compare through set size + pairwise jaccard instead of
    // raw values when seeds differ; sizes must match exactly
    assert(refHashes.filter(size(col("ref")) =!= size(col("shh"))).isEmpty)
    val a = flat.select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("shh").as("shh_a"))
    val b = flat.select(col("doc_id").as("id_b"), col("sh").as("sh_b"), col("shh").as("shh_b"))
    val cmp = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(Dedup.jaccard(array_distinct(col("sh_a")), array_distinct(col("sh_b"))).as("js"),
        TextAnalysis.jaccardHashes(col("shh_a"), col("shh_b")).as("jh"))
    assert(cmp.filter(abs(col("js") - col("jh")) > 1e-12).isEmpty)
  }

  test("byte-scan token counters match the split/regex formulations") {
    // corpus rows + adversarial edges: empty, all-ws, unicode (2/3/4-byte
    // code points), control chars, runs crossing class boundaries
    val edges = Seq(
      (90001L, ""), (90002L, " \t\n\f\r "), (90003L, "a"),
      (90004L, "abc123!?x9 9x  --  a1b2c3"), (90005L, "héllo wörld"),
      (90006L, "日本語テキスト 與 中文"), (90007L, "mixé123日本"),
      (90008L, " a b"), (90009L, "emoji 😀😁 end"),
      (90010L, "  leading and trailing  "), (90011L, "a-b_c.d,e"),
      (90012L, "12 34.56 7e8"))
    val docs = Tables.documents(spark, sf).limit(300)
      .select(col("doc_id"), col("text"))
      .union(edges.toDF())
    val cmp = docs.select(
      TextAnalysis.tokenCount(col("text")).as("ws_fast"),
      size(TextAnalysis.tokens(col("text"))).as("ws_ref"),
      TextAnalysis.bpeTokenCount(col("text")).as("bpe_fast"),
      size(TextAnalysis.bpeTokens(col("text"))).as("bpe_ref"),
      TextAnalysis.fingerprint(col("text")).as("fp_fast"),
      TextAnalysis.fingerprintExpr(col("text")).as("fp_ref"))
    assert(cmp.filter(col("ws_fast") =!= col("ws_ref") ||
      col("bpe_fast") =!= col("bpe_ref") ||
      col("fp_fast") =!= col("fp_ref")).isEmpty)
  }

  test("fingerprint is whitespace-normalization invariant") {
    val df = Seq((1L, "hello   world foo"), (2L, " hello world\tfoo ")).toDF("id", "text")
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).as[Long].collect()
    assert(fps(0) === fps(1))
  }

  test("multimodal: histogram mass equals byte length; frames deterministic") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    val media = Multimodal.withFakeMedia(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(spark, media, "doc_id")
    val bad = feats.filter(
      aggregate(col("histogram"), lit(0L), (a, x) => a + x) =!= col("byte_len"))
    assert(bad.isEmpty)
    def frames() = Multimodal.sampleFrames(media, "doc_id", 4)
      .select(col("doc_id"), col("frame_no"), col("frame_len"),
        base64(col("frame_bytes")).as("b64"))
      .orderBy("doc_id", "frame_no").collect().map(_.toString)
    assert(frames().sameElements(frames()))
  }

  test("multimodal: registered MediaCodec routes by mime; stub stays fallback") {
    import graft.extras.{MediaCodec, MediaCodecs}
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 9)
    val media = Multimodal.withFakeMedia(docs, "doc_id", "text")
    try {
      // a "real" image codec: constant features so routing is observable
      MediaCodecs.register(new MediaCodec {
        override def accepts(mime: String): Boolean = mime.startsWith("image/")
        override def features(bytes: Array[Byte], mime: String): Array[Long] =
          Array.fill(16)(7L)
        override def sampleFrames(bytes: Array[Byte], mime: String, n: Int): Seq[Array[Byte]] =
          Seq.fill(n)(Array[Byte](1, 2, 3))
      })
      val feats = Multimodal.extractFeatures(spark, media, "doc_id").collect()
      feats.foreach { r =>
        val hist: Seq[Long] = r.getSeq[Long](r.fieldIndex("histogram"))
        if (r.getString(1).startsWith("image/")) assert(hist.forall(_ == 7L),
          s"image row not routed to registered codec: $r")
        else assert(hist.sum == r.getInt(2), s"non-image row left the stub: $r")
      }
      // codec-routed frames: image docs get codec frames, others stub windows
      val frames = Multimodal.decodeFrames(spark, media, "doc_id", 2).collect()
      assert(frames.nonEmpty && frames.forall(_.getAs[Array[Byte]]("frame_bytes") != null))
    } finally MediaCodecs.reset()
    // stub-only parity: histogram mass == byte length (default path intact)
    val stubFeats = Multimodal.extractFeatures(spark, media, "doc_id")
    assert(stubFeats.filter(
      aggregate(col("histogram"), lit(0L), (a, x) => a + x) =!= col("byte_len")).isEmpty)
  }

  test("real codecs: synthesized PNG/WAV decode to construction facts; JPEG roundtrips") {
    import graft.extras.{JvmImageCodec, JvmWavCodec, MediaSynth}
    // PNG: javax.imageio must inflate the IDAT and see the exact pixels
    val id = 13L
    val (w, h) = ((1 + id % 8).toInt, (1 + id % 6).toInt)
    val expectedLum = (for { y <- 0 until h; x <- 0 until w } yield (id + 3 * x + 5 * y) % 256).sum
    val pf = JvmImageCodec.features(MediaSynth.png(id), "image/png")
    assert(pf.take(3).toSeq === Seq(w.toLong, h.toLong, expectedLum))
    assert(pf.length === 19, "width/height/lumSum + 16-bin histogram")
    assert(pf.drop(3).sum === w.toLong * h, "histogram mass = pixel count")

    // WAV: RIFF chunk walk + PCM sample reassembly
    val n = (100 + id % 50).toInt
    val rate = 8000 + (id % 3) * 4000
    val expectedSum = (0 until n).map(i => ((id * 31 + i * 7) % 65536) - 32768).sum
    val wf = JvmWavCodec.features(MediaSynth.wav(id), "audio/wav")
    assert(wf.take(6).toSeq === Seq(1L, rate, 16L, n * 2L, n * 2 * 1000L / (rate * 2), expectedSum))

    // JPEG: encode with the JDK, decode through the codec — dims survive
    val img = new java.awt.image.BufferedImage(20, 10, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    val jf = JvmImageCodec.features(baos.toByteArray, "image/jpeg")
    assert(jf(0) === 20L && jf(1) === 10L)

    // undecodable payloads degrade to the stub byte histogram (16 bins)
    assert(JvmImageCodec.features("not an image".getBytes, "image/png").length === 16)
    assert(JvmWavCodec.features("not a wav".getBytes, "audio/wav").length === 16)

    // a corrupt RIFF chunk length (0xFFFFFFF8 -> would be -8 as an Int)
    // must degrade to the stub, not spin the executor or throw
    val evil = MediaSynth.wav(1L)
    evil(16) = 0xf8.toByte; evil(17) = 0xff.toByte
    evil(18) = 0xff.toByte; evil(19) = 0xff.toByte // fmt chunk length field
    assert(JvmWavCodec.features(evil, "audio/wav").length === 16)
    val truncated = java.util.Arrays.copyOf(MediaSynth.wav(1L), 50)
    assert(JvmWavCodec.features(truncated, "audio/wav").length >= 16) // parse or stub, never throw

    // 16-bit grayscale (TYPE_USHORT_GRAY): samples reach 65535 — must
    // bucket via the sRGB path, not index out of a 16-bin histogram
    val gray16 = new java.awt.image.BufferedImage(8, 4, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    gray16.getRaster.setSample(0, 0, 0, 65535)
    val g16 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(gray16, "png", g16)
    val gf = JvmImageCodec.features(g16.toByteArray, "image/png")
    assert(gf(0) === 8L && gf(1) === 4L && gf.length === 19)
    // indexed color (palette PNG): the single band is a palette INDEX;
    // the codec must decode via sRGB, not report indices as luminance
    // (the JDK's own GIF writer mangles tiny indexed images, so the
    // palette fixture rides PNG)
    val pal = new java.awt.image.BufferedImage(4, 2, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    (0 until 4).foreach(x => (0 until 2).foreach(y => pal.setRGB(x, y, 0xffffffff))) // opaque white
    val palOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(pal, "png", palOut)
    val pf2 = JvmImageCodec.features(palOut.toByteArray, "image/png")
    assert(pf2(2) === 4L * 2 * 255, s"white palette image must read as luminance 255: ${pf2.toSeq}")
  }

  test("MJPEG codec: real frame walk, second live video registration") {
    import graft.extras.{JvmImageCodec, JvmMjpegCodec, MediaCodecs, StubMediaCodec}
    def jpegFrame(seed: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, (seed + 3 * x + 5 * y) % 256)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val frames = (0 until 5).map(i => jpegFrame(40 * i, 8, 6))
    val mjpeg = frames.reduce(_ ++ _)
    // the segment walk finds every concatenated frame exactly
    assert(JvmMjpegCodec.frameRanges(mjpeg).size === 5)
    val f = JvmMjpegCodec.features(mjpeg, "video/mjpeg")
    assert(f(0) === 5L, "frame count")
    assert(f(1) === 8L && f(2) === 6L, "first frame dimensions")
    // each sampled frame is the SAME luminance plane the image codec
    // decodes from that frame's bytes (strips concatenated = full plane)
    val sampled = JvmMjpegCodec.sampleFrames(mjpeg, "video/mjpeg", 5)
    assert(sampled.size === 5)
    frames.zip(sampled).foreach { case (fb, got) =>
      val ref = JvmImageCodec.sampleFrames(fb, "image/jpeg", 6).reduce(_ ++ _)
      assert(got.toSeq === ref.toSeq, "frame luminance mismatch")
    }
    // a truncated tail degrades to the complete frames, never throws
    assert(JvmMjpegCodec.frameRanges(mjpeg.dropRight(7)).size === 4)
    // spec-legal 0xFF fill bytes before a marker (JPEG B.1.1.2) must not
    // derail the segment walk into reading a bogus length
    val padded = frames.head.take(2) ++
      Array(0xff.toByte, 0xff.toByte) ++ frames.head.drop(2)
    assert(JvmMjpegCodec.frameRanges(padded).size === 1)
    assert(StubMediaCodec.features(Array[Byte](1, 2), "video/mjpeg").length === 16)
    // routing: three REAL codecs live behind the seam, stub only for
    // formats the JVM genuinely cannot decode
    val cs = MediaCodecs.current
    assert(MediaCodecs.forMime(cs, "video/mjpeg") eq JvmMjpegCodec)
    assert(MediaCodecs.forMime(cs, "video/x-motion-jpeg") eq JvmMjpegCodec)
    assert(MediaCodecs.forMime(cs, "image/png") eq JvmImageCodec)
    assert(MediaCodecs.forMime(cs, "audio/wav") eq graft.extras.JvmWavCodec)
    assert(MediaCodecs.forMime(cs, "video/mp4") eq StubMediaCodec)
  }

  test("the whole codec registry absorbs junk and flipped media") {
    import graft.extras.{MediaCodecs, MediaSynth, StubMediaCodec}
    val rnd = new scala.util.Random(7)
    val codecs = MediaCodecs.current
    val fixtures: Seq[(String, Array[Byte])] = Seq(
      "image/png" -> MediaSynth.png(3L),
      "audio/wav" -> MediaSynth.wav(3L),
      "video/mjpeg" -> MediaSynth.mjpeg(3L),
      // no default codec accepts MP4: real MJPEG bytes under that mime
      // must take the stub path, not the MJPEG decoder
      "video/mp4" -> MediaSynth.mjpeg(3L))
    fixtures.foreach { case (mime, good) =>
      val codec = MediaCodecs.forMime(codecs, mime)
      // junk of assorted sizes
      (1 to 50).foreach { _ =>
        val junk = Array.fill(1 + rnd.nextInt(300))(rnd.nextInt(256).toByte)
        val f = codec.features(junk, mime)
        assert(f != null && f.nonEmpty)
        codec.sampleFrames(junk, mime, 2)
      }
      // flipped real fixtures
      (1 to 40).foreach { _ =>
        val bytes = good.clone()
        val pos = rnd.nextInt(bytes.length)
        bytes(pos) = (bytes(pos) ^ (1 << rnd.nextInt(8))).toByte
        val f = codec.features(bytes, mime)
        assert(f != null && f.nonEmpty, s"$mime flipped features")
      }
    }
    val mp4 = MediaCodecs.forMime(codecs, "video/mp4")
    assert(mp4 eq StubMediaCodec)
    // stub features are a byte histogram over the whole payload, not
    // decoded frame facts
    val clip = MediaSynth.mjpeg(3L)
    val f = mp4.features(clip, "video/mp4")
    assert(f.length === 16 && f.sum === clip.length.toLong)
    assert(mp4.sampleFrames(clip, "video/mp4", 4).forall(_.length === 16))
  }

  test("streaming session windows match batch gap-sessionization") {
    val streamed = streaming.StreamPipeline.sessionWindows(spark, sf, "session_test")
    val batch = Registry.byName("q_sessionize_gap").run(spark, sf)
      .select(col("session_start"), col("user_id"), col("n"))
    // the two-sentinel flush finalizes EVERY real session before the
    // stream drains: streamed must equal the batch computation exactly
    assert(streamed.join(batch, Seq("session_start", "user_id", "n"), "left_anti").isEmpty)
    assert(batch.join(streamed, Seq("session_start", "user_id", "n"), "left_anti").isEmpty)
    assert(streamed.count() === batch.count())
  }

  test("mapGroupsWithState carries running per-user totals across batches") {
    val got = streaming.StreamPipeline.statefulUserTotals(spark, sf, "state_test")
    // last state per user must equal the batch per-user event count
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val finalState = got.withColumn("maxn", max(col("n")).over(w))
      .filter(col("n") === col("maxn")).select("user_id", "n")
    val batch = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n"))
    assert(finalState.join(batch, Seq("user_id", "n"), "left_anti").isEmpty)
    assert(finalState.count() === batch.count())
  }

  test("streaming append mode emits only watermark-finalized windows") {
    val done = streaming.StreamPipeline.appendModeWindows(spark, sf, "append_test")
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    // append-mode output must be a subset of the batch answer, row-exact
    assert(done.join(batch, Seq("hour", "event_type", "n"), "left_anti").isEmpty)
  }
}
