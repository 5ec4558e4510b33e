package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import scala.util.hashing.MurmurHash3

/** Output checks in plain Scala, independent of the program's code. */
object Oracles {

  // ---------------------------------------------------------------- match

  private def byteBigrams(s: String): Array[Int] = {
    val b = s.getBytes(UTF_8)
    if (b.length < 2) Array.empty
    else Array.tabulate(b.length - 1)(i => (b(i) & 0xff) << 8 | (b(i + 1) & 0xff))
  }

  /** Share of the query's byte bigrams, counted with multiplicity, that
    * occur anywhere in the ref's bigrams; 0 for a query without bigrams.
    */
  private def coverage(q: Array[Int], refSet: java.util.BitSet): Double =
    if (q.isEmpty) 0.0 else q.count(refSet.get).toDouble / q.length

  private def lcs(a: String, b: String): Int = {
    var prev = new Array[Int](b.length + 1)
    var cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      for (j <- 1 to b.length)
        cur(j) = if (a(i - 1) == b(j - 1)) prev(j - 1) + 1 else math.max(prev(j), cur(j - 1))
      val t = prev; prev = cur; cur = t
    }
    prev(b.length)
  }

  /** partial_ratio by brute force: the shorter string against every
    * window of its length in the longer one plus the partial windows
    * hanging off both ends, each scored 200·LCS/(|s|+|window|).
    */
  def partialRatio(a: String, b: String): Double = {
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    val m = s.length
    val n = l.length
    if (m == 0) return if (n == 0) 100.0 else 0.0
    val windows =
      (1 until m).map(j => l.substring(0, j)) ++
        (0 to n - m).map(i => l.substring(i, i + m)) ++
        (1 until m).map(j => l.substring(n - j))
    windows.map(w => 200.0 * lcs(s, w) / (m + w.length)).max
  }

  /** The reference's match for each query in `sample` (query index ->
    * matched ref term or "NA"): coverage top-K ordered
    * desc(coverage, len_diff, ref_id), lowercased partial_ratio zeroed
    * below the cutoff in the double domain and then rounded, and the
    * argmax ordered desc(score), asc(len_diff), desc(ref_id).
    */
  def bestMatches(queries: IndexedSeq[String], refs: IndexedSeq[String], sample: Seq[Int],
      topK: Int, cutoff: Int): Map[Int, String] = {
    val refLen = refs.map(_.getBytes(UTF_8).length)
    val refSets = refs.map { r =>
      val bs = new java.util.BitSet(1 << 16)
      byteBigrams(r).foreach(bs.set)
      bs
    }
    sample.map { qi =>
      val q = queries(qi)
      val qb = byteBigrams(q)
      val qLen = q.getBytes(UTF_8).length
      val ranked = refs.indices.map { ri =>
        (coverage(qb, refSets(ri)), math.abs(qLen - refLen(ri)).toDouble, ri)
      }.sortBy { case (c, d, ri) => (-c, -d, -ri) }.take(topK)
      val scored = ranked.flatMap { case (_, d, ri) =>
        val pr = partialRatio(refs(ri).toLowerCase(Locale.ROOT), q.toLowerCase(Locale.ROOT))
        val score = if (pr >= cutoff) math.round(pr) else 0L
        if (score > 0) Some((score, d, ri)) else None
      }
      val best =
        if (scored.isEmpty) "NA"
        else refs(scored.minBy { case (s, d, ri) => (-s, d, -ri) }._3)
      qi -> best
    }.toMap
  }

  /** Map ratio as the reference prints it: matched share in %, 2dp. */
  def mapRatio(matches: Seq[String]): Double =
    BigDecimal(100.0 * matches.count(_ != "NA") / matches.size)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  // -------------------------------------------------------------- dataprep

  /** Connected components of `pairs` over `ids`, labelled by their
    * smallest member (union-find).
    */
  def components(ids: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    dot / math.sqrt(na * nb)
  }

  /** Problems in a ranked kNN edge list (src, dst, cos_sim, rank) over
    * `vecs`: every vector has ranks 1..min(k, n-1) of distinct other
    * vectors, cos_sim is the cosine recomputed from the input and does
    * not increase with rank.
    */
  def knnProblems(rows: Seq[org.apache.spark.sql.Row], vecs: Map[Long, Array[Float]],
      k: Int): Seq[String] = {
    val bySrc = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getAs[Number](3).intValue))
      .groupBy(_._1)
    val width = math.min(k, vecs.size - 1)
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    if (bySrc.keySet != vecs.keySet)
      problems += s"${(vecs.keySet diff bySrc.keySet).size} vectors have no neighbour list"
    bySrc.foreach { case (src, es) =>
      val ranked = es.sortBy(_._4)
      if (ranked.map(_._4) != (1 to width)) problems += s"src $src ranks ${ranked.map(_._4)}"
      if (ranked.map(_._2).distinct.size != ranked.size || ranked.exists(_._2 == src))
        problems += s"src $src repeats a neighbour or itself"
      ranked.foreach { case (_, dst, sim, _) =>
        if (!vecs.contains(dst) || math.abs(sim - cosine(vecs(src), vecs(dst))) > 1e-4)
          problems += s"edge $src->$dst cos_sim $sim is not the input's cosine"
      }
      if (ranked.sliding(2).exists(p => p.size == 2 && p(1)._3 > p(0)._3 + 1e-9))
        problems += s"src $src cos_sim increases with rank"
    }
    problems.take(20).toSeq
  }

  // ---------------------------------------------------------- fingerprints

  /** Row-order-independent fingerprint of a result: count, sum and xor
    * of per-row hashes.
    */
  def fingerprint(rows: Iterator[String]): String = {
    var n, sum, xor = 0L
    rows.foreach { r =>
      val h = MurmurHash3.stringHash(r).toLong & 0xffffffffL
      n += 1; sum += h; xor ^= h
    }
    f"$n:$sum%x:$xor%x"
  }
}
