package graft.extras

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `minhashPairs` returns exactly the brute-force pair set on a corpus
  * built so that every pair sits far from the threshold: identical-text
  * groups of 1, 2 and 5 documents, near-duplicates at Jaccard >= 0.9,
  * unrelated texts at Jaccard <= 0.3, empty-shingle texts (which never
  * pair, not even with an identical copy), a null text and a null id.
  * The brute force computes the exact `TextAnalysis.jaccardHashes` of
  * every id pair, so cross-group pairs carry the representatives'
  * Jaccard and in-group pairs 1.0. */
class MinhashPairsIdentitySpec extends SparkSpec {

  test("minhashPairs (id_a, id_b, jaccard) equals the brute-force pair set") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(1307)
    def words(n: Int): Seq[String] = Seq.fill(n)(s"w${rnd.nextInt(1000000)}")
    val bases = Seq.fill(5)(words(60))
    def text(ws: Seq[String]) = ws.mkString(" ")
    // one word changed at the end: 57 of 59 shingles shared (J ~ 0.97)
    def near(ws: Seq[String]) = text(ws.init :+ "changed")
    // the first 20 words shared: 18 of 98 distinct shingles (J ~ 0.18)
    def unrelated(ws: Seq[String]) = text(ws.take(20) ++ words(40))
    val texts = Seq(
      (1L, text(bases(0))),                                   // group of 1
      (2L, text(bases(1))), (3L, text(bases(1))),             // group of 2
      (4L, text(bases(2))), (5L, text(bases(2))), (6L, text(bases(2))),
      (7L, text(bases(2))), (8L, text(bases(2))),             // group of 5
      (9L, near(bases(0))),                                   // near-dup of a singleton
      (10L, near(bases(1))), (11L, near(bases(1))),           // near-dup group of 2
      (12L, near(bases(2))),                                  // near-dup of a group of 5
      (13L, unrelated(bases(3))), (14L, text(bases(3))),      // J <= 0.3
      (15L, text(bases(4))),
      (16L, ""), (17L, ""), (18L, "one two"),                 // empty shingle sets
      (19L, null))                                            // null text
    val nullId = (Option.empty[Long], text(bases(1)))
    val corpus = (texts.map { case (id, t) => (Option(id), t) } :+ nullId).toDF("doc_id", "text")

    val got = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    val shh = corpus.filter(col("doc_id").isNotNull).select(col("doc_id").as("id"),
      TextAnalysis.shinglesWithMinhashHashed(col("text"), 3, 64).getField("shh").as("shh"))
      .filter(size(col("shh")) > 0)
    val brute = shh.select(col("id").as("id_a"), col("shh").as("shh_a"))
      .crossJoin(shh.select(col("id").as("id_b"), col("shh").as("shh_b")))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        TextAnalysis.jaccardHashes(col("shh_a"), col("shh_b")).as("jaccard"))
      .filter(col("jaccard") >= 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    // the corpus stays far from the threshold: every pair is >= 0.9 or <= 0.3
    val all = shh.select(col("id").as("id_a"), col("shh").as("shh_a"))
      .crossJoin(shh.select(col("id").as("id_b"), col("shh").as("shh_b")))
      .filter(col("id_a") < col("id_b"))
      .select(TextAnalysis.jaccardHashes(col("shh_a"), col("shh_b")))
      .collect().map(_.getDouble(0))
    assert(all.forall(j => j >= 0.9 || j <= 0.3), all.filter(j => j > 0.3 && j < 0.9).toSeq)
    assert(all.exists(j => j > 0.0 && j <= 0.3), "no partially overlapping unrelated pair")

    assert(got.size == got.distinct.size, "duplicate pairs")
    assert(got.forall { case (a, b, _) => a < b })
    assert(got.sorted == brute.sorted)
    // in-group pairs at exactly 1.0: C(2,2) + C(5,2) + C(2,2) near-dup copies
    assert(got.count(_._3 == 1.0) == 1 + 10 + 1)
    // cross-group pairs: 1x1 + 2x2 + 5x1 at the representatives' Jaccard
    assert(got.count(_._3 < 1.0) == 1 + 4 + 5)
    assert(!got.exists { case (a, b, _) => Set(16L, 17L, 18L, 19L)(a) || Set(16L, 17L, 18L, 19L)(b) })
  }
}
