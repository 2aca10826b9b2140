package perfbench

import scala.util.Random

/** Seeded input generators. The program under test receives only what these
  * produce; the same seed gives byte-identical inputs.
  *
  * Documents and embeddings follow shapes measured on the repository's sf0.1
  * `documents` and `embeddings` tables (figures in perfbench/NOTES.md):
  *  - text: 10 to 99 words drawn uniformly from a 30-word technical
  *    vocabulary, single spaces; every term occurs in ~77% of documents;
  *  - 5% of documents are near-duplicates: an earlier document with the
  *    word `dup` appended; ~0.16% are exact copies of an earlier one;
  *  - 20 sources of equal size; language `en` 41%, `zh`/`es`/`fr`/`de` the
  *    rest;
  *  - 64-d unit vectors with no cluster structure (isotropic Gaussian,
  *    normalised): no pair of the fixture's 2000 has cosine 0.9 or more.
  * The Crane inputs are the reference apps' three formats (plain text
  * lines, 13-column headerless reddit CSV, NASA Common Log Format lines).
  */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The fixture's document vocabulary, each word about equally frequent. */
  val DocVocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  private def words(r: Random, z: Zipf, vocab: Array[String], n: Int): Seq[String] =
    Seq.fill(n)(vocab(z.draw(r)))

  /** One document body: 10 to 99 uniformly drawn vocabulary words. */
  def docText(r: Random): String =
    Seq.fill(10 + r.nextInt(90))(DocVocab(r.nextInt(DocVocab.length))).mkString(" ")

  /** `n` documents keyed 0 until n, with the fixture's duplicate structure:
    * document i is a near-duplicate (an earlier text plus " dup") with
    * probability 5%, an exact copy of an earlier text with probability
    * 0.16%, and fresh text otherwise.
    */
  def documents(n: Int, seed: Long): Seq[(Long, String)] = {
    val r = new Random(seed)
    val out = new Array[String](n)
    (0 until n).foreach { i =>
      val p = r.nextDouble()
      out(i) =
        if (i > 0 && p < 0.05) out(r.nextInt(i)).stripSuffix(" dup") + " dup"
        else if (i > 0 && p < 0.0516) out(r.nextInt(i))
        else docText(r)
    }
    out.toSeq.zipWithIndex.map { case (t, i) => i.toLong -> t }
  }

  val Sources = 20
  private val Langs = Array("en", "zh", "es", "fr", "de")
  private val LangCdf = Array(0.41, 0.56, 0.71, 0.85, 1.0)

  /** (source, lang) of document `id`: sources round-robin, so each holds
    * the same share; language drawn from the fixture's mix.
    */
  def docMeta(id: Long, r: Random): (String, String) = {
    val p = r.nextDouble()
    (s"src${id % Sources}", Langs(LangCdf.indexWhere(p < _)))
  }

  val Dim = 64

  /** One unit vector of an isotropic Gaussian. */
  def vector(r: Random): Array[Float] = {
    val v = Array.fill(Dim)(r.nextGaussian())
    val nrm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / nrm).toFloat)
  }

  /** `n` unit vectors keyed 0 until n. */
  def embeddings(n: Int, seed: Long): Seq[(Long, Array[Float])] = {
    val r = new Random(seed ^ 0x5eedL)
    (0 until n).map(i => i.toLong -> vector(r))
  }

  // ---- Crane inputs ------------------------------------------------------

  private val Syll = Array("ka", "lo", "mi", "ra", "te", "su", "no", "vi",
    "de", "po", "an", "er", "ul", "is", "or", "em")
  /** 1500 distinct lowercase words for the wordcount topology. */
  val NewsVocab: Array[String] = {
    val r = new Random(7)
    Iterator.continually(Seq.fill(2 + r.nextInt(3))(Syll(r.nextInt(Syll.length))).mkString)
      .distinct.take(1500).toArray
  }

  /** Wordcount file: sentences plus ~15% URL/date metadata lines that the
    * topology's first filter drops.
    */
  def wordcountFile(r: Random, lines: Int): String = {
    val z = new Zipf(NewsVocab.length, 1.0)
    (0 until lines).map { i =>
      val p = r.nextDouble()
      if (p < 0.08) s"http://news${r.nextInt(50)}.example.com/story/${r.nextInt(100000)}"
      else if (p < 0.15) s"2008-09-${1 + r.nextInt(28)} 12:${r.nextInt(60)}:00 meta"
      else words(r, z, NewsVocab, 4 + r.nextInt(16)).mkString(" ")
    }.mkString("", "\n", "\n")
  }

  private val Users = Array.tabulate(400)(i => f"user$i%03d")
  /** Reddit CSV file: 13 columns; ~15% negative scores and ~2% non-numeric
    * scores, both dropped by the topology's score filter.
    */
  def redditFile(r: Random, lines: Int): String = {
    val uz = new Zipf(Users.length, 1.1)
    val tz = new Zipf(NewsVocab.length, 1.0)
    (0 until lines).map { _ =>
      val p = r.nextDouble()
      val score = if (p < 0.15) -(1 + r.nextInt(9)) else if (p < 0.17) "n/a" else r.nextInt(60)
      val title = words(r, tz, NewsVocab, 3 + r.nextInt(6)).mkString(" ")
      s"x,x,${1201232000 + r.nextInt(100000)},$title,${r.nextInt(500)}," +
        s"t3_${r.nextInt(1 << 20).toHexString},x,x,x,x,$score,${r.nextInt(80)}," +
        Users(uz.draw(r))
    }.mkString("", "\n", "\n")
  }

  private val Hosts = Array.tabulate(300)(i => s"host$i.example.net")
  private val Paths = Array.tabulate(200)(i => s"/shuttle/missions/sts-$i/mission.html")
  /** Common Log Format file: ~80% status 200, ~5% malformed short lines. */
  def clfFile(r: Random, lines: Int): String = {
    val hz = new Zipf(Hosts.length, 1.0)
    val pz = new Zipf(Paths.length, 1.0)
    (0 until lines).map { _ =>
      val p = r.nextDouble()
      val host = Hosts(hz.draw(r))
      if (p < 0.05) s"$host - - [01/Jul/1995:00:00:01"
      else {
        val status = if (p < 0.85) 200 else if (p < 0.93) 304 else 404
        f"$host - - [0${1 + r.nextInt(9)}/Jul/1995:${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00 -0400] " +
          s""""GET ${Paths(pz.draw(r))} HTTP/1.0" $status ${r.nextInt(90000)}"""
      }
    }.mkString("", "\n", "\n")
  }
}
