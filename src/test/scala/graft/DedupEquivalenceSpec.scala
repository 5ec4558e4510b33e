package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Seeded-random equivalence properties: the filtered (sub-quadratic)
  * dedup operators must return EXACTLY the brute-force all-pairs result
  * on corpora they have never seen — including injected near-duplicates
  * (token swaps/drops) and exact duplicates, across several seeds and
  * thresholds.
  */
class DedupEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lambda", "mu", "data", "spark", "query", "engine")

  /** n docs of 4-10 words; every third doc is a mutation (one word
    * swapped or dropped) of the previous doc, every seventh an exact dup.
    */
  private def corpus(seed: Int, n: Int): Seq[(Long, String)] = {
    val rng = new scala.util.Random(seed)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    for (i <- 0 until n) {
      val text =
        if (i % 7 == 3 && out.nonEmpty) out.last._2
        else if (i % 3 == 2 && out.nonEmpty) {
          val w = out.last._2.split(" ").toBuffer
          if (rng.nextBoolean() && w.size > 1) w.remove(rng.nextInt(w.size))
          else w(rng.nextInt(w.size)) = vocab(rng.nextInt(vocab.size))
          w.mkString(" ")
        } else
          Seq.fill(4 + rng.nextInt(7))(vocab(rng.nextInt(vocab.size))).mkString(" ")
      out += ((i.toLong, text))
    }
    out.toSeq
  }

  for (seed <- Seq(1, 7, 42); threshold <- Seq(0.5, 0.8)) {
    test(s"ngramJaccardPairs == brute force (seed=$seed, t=$threshold)") {
      val docs = corpus(seed, 40).toDF("doc_id", "text")
      val fast = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 4, threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val hashed = docs.select(
        col("doc_id"),
        array_distinct(transform(Dedup.shingleSet(col("text"), 4),
          g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))).as("hs"))
        .withColumn("nsh", size(col("hs"))).filter(col("nsh") > 0)
      val inter = size(array_intersect(col("hs_a"), col("hs_b"))).cast("double")
      val brute = hashed.select(col("doc_id").as("id_a"), col("hs").as("hs_a"), col("nsh").as("nsh_a"))
        .crossJoin(hashed.select(col("doc_id").as("id_b"), col("hs").as("hs_b"), col("nsh").as("nsh_b")))
        .where(col("id_a") < col("id_b"))
        .withColumn("jacc", inter / (col("nsh_a") + col("nsh_b") - inter))
        .filter(col("jacc") >= threshold)
        .select("id_a", "id_b", "jacc")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(brute.nonEmpty, "corpus should contain qualifying pairs")
      assert(fast == brute)
    }

    test(s"nearDuplicates == nearDupPairsOnBands(signatureBands) (seed=$seed, t=$threshold)") {
      val docs = corpus(seed, 40).toDF("doc_id", "text")
      val direct = Dedup.nearDuplicates(docs, "doc_id", "text",
          shingleN = 4, numHashes = 8, rowsPerBand = 2, threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val viaBands = Dedup.nearDupPairsOnBands(
          Dedup.signatureBands(docs, "doc_id", "text",
            shingleN = 4, numHashes = 8, rowsPerBand = 2),
          "doc_id", threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(direct.nonEmpty, "corpus should contain near-duplicate pairs")
      assert(viaBands == direct)
    }

    test(s"band self-join operators emit each unordered pair once, id_a < id_b (seed=$seed, t=$threshold)") {
      val docs = corpus(seed, 40).toDF("doc_id", "text")
      val h = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("sh"))
      val outputs = Seq(
        "nearDuplicates" -> Dedup.nearDuplicates(docs, "doc_id", "text",
          shingleN = 4, numHashes = 8, rowsPerBand = 2, threshold = threshold),
        "nearDuplicatesWithEstimate" -> Dedup.nearDuplicatesWithEstimate(docs, "doc_id", "text",
          shingleN = 4, numHashes = 8, rowsPerBand = 2, threshold = threshold),
        "simhashCandidates" -> Dedup.simhashCandidates(h, "doc_id", "sh", 16, 3),
        // the q107 shape: bare candidate pairs over two 8-bit bands
        "bandSelfJoin" -> Dedup.bandSelfJoin(
          Dedup.hammingBands(h, "doc_id", "sh", bits = 16, numBands = 2), "doc_id"))
      for ((name, df) <- outputs) {
        val pairs = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(pairs.nonEmpty, s"$name: corpus should produce pairs")
        assert(pairs.forall { case (a, b) => a < b }, s"$name: id_a < id_b")
        assert(pairs.distinct.size == pairs.size, s"$name: a pair is emitted more than once")
      }
    }
  }

  for (seed <- Seq(1, 42); maxH <- Seq(1, 2, 3)) {
    test(s"simhashCandidates == brute force (seed=$seed, maxHamming=$maxH)") {
      val docs = corpus(seed, 40).toDF("doc_id", "text")
      val h = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("sh"))
      val fast = Dedup.simhashCandidates(h, "doc_id", "sh", 16, maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val brute = h.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        .crossJoin(h.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
        .where(col("id_a") < col("id_b"))
        .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
        .filter(col("hamming") <= maxH)
        .select("id_a", "id_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(brute.nonEmpty, "corpus should contain close signatures")
      assert(fast == brute)
    }
  }
}
