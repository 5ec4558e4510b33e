package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.util.Random
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

/** Seeded input generators. The same seed gives byte-identical inputs.
  * Sizes and length distributions are fixed per workload and spread over
  * a stratified grid (only content is random), so the work in a pass
  * varies little from seed to seed.
  */
object Gen {

  /** Words of 1-4 consonant+vowel syllables over a given consonant set.
    * Disjoint consonant sets give vocabularies that share no word.
    */
  private def vocabulary(rnd: Random, size: Int, consonants: String): IndexedSeq[String] = {
    val vowels = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val n = 1 + rnd.nextInt(4)
      seen += (0 until n).map { _ =>
        s"${consonants(rnd.nextInt(consonants.length))}${vowels(rnd.nextInt(vowels.length))}"
      }.mkString
    }
    seen.toIndexedSeq
  }

  /** `n` values evenly spread over [lo, hi], in a seeded order. */
  private def stratified(rnd: Random, n: Int, lo: Int, hi: Int): IndexedSeq[Int] =
    rnd.shuffle((0 until n).map(i => lo + ((hi - lo).toLong * i / math.max(1, n - 1)).toInt))

  /** One random character edit (substitution, insertion or deletion of
    * a lowercase letter) at a position away from the string's ends.
    */
  private def edit(rnd: Random, s: String): String = {
    def letter(not: Char): Char = {
      var c = not
      while (c == not) c = ('a' + rnd.nextInt(26)).toChar
      c
    }
    if (s.length < 3) return s + letter(' ')
    val pos = 1 + rnd.nextInt(s.length - 2)
    rnd.nextInt(3) match {
      case 0 => s.substring(0, pos) + letter(s(pos)) + s.substring(pos + 1)
      case 1 => s.substring(0, pos) + letter(s(pos)) + s.substring(pos)
      case _ => s.substring(0, pos) + s.substring(pos + 1)
    }
  }

  private def caseChange(rnd: Random, s: String): String = rnd.nextInt(3) match {
    case 0 => s.toUpperCase
    case 1 => s.split(" ").map(w => w.take(1).toUpperCase + w.drop(1)).mkString(" ")
    case _ => s
  }

  def writeLines(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))

  /** match-catalog: `nRefs` distinct names of 1-4 words, and `nQueries`
    * dirty queries. 70% are edited copies of a catalog name (case change,
    * 0-2 character edits, every third one with an appended word); the
    * rest are text over a vocabulary that shares no word with the
    * catalog, so they match nothing.
    */
  def catalog(seed: Long, nRefs: Int, nQueries: Int): (Seq[String], Seq[String]) = {
    val rnd = new Random(seed)
    val words = vocabulary(rnd, 600, "bcdfghlmnprst")
    val foreign = vocabulary(rnd, 200, "jkqvwxyz")
    val wordCounts = rnd.shuffle((0 until nRefs).map(i => 1 + i % 4))
    val refs = scala.collection.mutable.LinkedHashSet.empty[String]
    var i = 0
    while (refs.size < nRefs) {
      refs += Seq.fill(wordCounts(i % nRefs))(words(rnd.nextInt(words.size))).mkString(" ")
      i += 1
    }
    val catalog = refs.toIndexedSeq
    // query lengths follow the catalog's length quantiles, so the pair
    // stage's work is nearly the same for every seed
    val byLength = catalog.sortBy(_.length)
    def quantile(q: Int, n: Int): String =
      byLength(math.min(byLength.size - 1, ((q + rnd.nextDouble()) * byLength.size / n).toInt))
    val nMatched = math.round(nQueries * 0.7).toInt
    val matched = (0 until nMatched).map { q =>
      var s = caseChange(rnd, quantile(q, nMatched))
      (0 until q % 3).foreach(_ => s = edit(rnd, s))
      if (q % 3 == 1) s = s + " " + words(rnd.nextInt(words.size))
      s
    }
    val unmatched = (0 until nQueries - nMatched).map { q =>
      val len = quantile(q, nQueries - nMatched).length
      val sb = new StringBuilder
      while (sb.length < len) {
        if (sb.nonEmpty) sb += ' '
        sb ++= foreign(rnd.nextInt(foreign.size))
      }
      sb.toString.take(len).trim
    }
    val queries = rnd.shuffle(matched ++ unmatched)
    (catalog, queries)
  }

  private val Langs = Seq("en" -> 2059, "zh" -> 753, "es" -> 744, "fr" -> 742, "de" -> 702)

  /** dataprep corpus with the sf0.1 `documents` and `embeddings` shapes:
    * docs of 10-100 tokens drawn from a Zipf(1.05) law over a 20k-word
    * vocabulary (tools/gen_headroom.py's --zipf shape), every 20th doc a
    * near-duplicate copy of a distinct earlier doc with a "dup" token
    * inserted; 64-d unit vectors with labels 0-9. The near-duplicate
    * graph is the same set of disjoint pairs for every seed, so the
    * group resolution loop does the same rounds. One parquet file per
    * table, as the testdata ships them.
    */
  def corpus(seed: Long, nDocs: Int, nVecs: Int, dir: Path): Unit = {
    val rnd = new Random(seed)
    val lens = stratified(rnd, nDocs, 10, 100)
    val words = vocabulary(rnd, 20000, "bcdfghlmnprst")
    val cdf = (1 to words.size).map(r => 1.0 / math.pow(r, 1.05)).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
      words(if (i >= 0) i else -i - 1)
    }
    val langTotal = Langs.map(_._2).sum
    def lang(): String = {
      var r = rnd.nextInt(langTotal)
      Langs.find { case (_, c) => r -= c; r < 0 }.get._1
    }
    val texts = new Array[String](nDocs)
    for (i <- 0 until nDocs) {
      texts(i) =
        if (i % 20 == 19) {
          val toks = texts(i - 1 - rnd.nextInt(19)).split(" ").toBuffer
          toks.insert(rnd.nextInt(toks.size + 1), "dup")
          toks.mkString(" ")
        } else Seq.fill(lens(i))(word()).mkString(" ")
    }
    writeParquet(dir.resolve("documents.parquet"),
      """message documents { optional int64 doc_id; optional binary text (STRING);
        |optional binary lang (STRING); optional binary source (STRING); optional int64 n_chars; }""") { g =>
      (0 until nDocs).iterator.map(i => g.newGroup().append("doc_id", i.toLong).append("text", texts(i))
        .append("lang", lang()).append("source", s"src${i % 20}").append("n_chars", texts(i).length.toLong))
    }
    writeParquet(dir.resolve("embeddings.parquet"),
      """message embeddings { optional int64 vec_id;
        |optional group embedding (LIST) { repeated group list { optional float element; } }
        |optional int32 label; }""") { g =>
      (0 until nVecs).iterator.map { i =>
        val v = Array.fill(64)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        val row = g.newGroup().append("vec_id", i.toLong)
        val list = row.addGroup("embedding")
        v.foreach(x => list.addGroup("list").append("element", (x / norm).toFloat))
        row.append("label", rnd.nextInt(10))
      }
    }
  }

  /** One parquet file of `schema` rows, written without a Spark session. */
  private def writeParquet(file: Path, schema: String)(rows: SimpleGroupFactory => Iterator[Group]): Unit = {
    val tpe = MessageTypeParser.parseMessageType(schema.stripMargin)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(tpe).withConf(new org.apache.hadoop.conf.Configuration()).build()
    try rows(new SimpleGroupFactory(tpe)).foreach(w.write) finally w.close()
  }
}
