package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded generator of the `documents` corpus for the `llm_curation` workload.
  *
  * The corpus mixes, by share of the `docs` rows:
  *  - unique documents of 10 to 100 tokens, uniformly, as in the sf0.1 bench
  *    corpus, except 1% under the pipeline's 5-token floor and 1% over its
  *    1000-token ceiling;
  *  - exact duplicates of earlier documents (`exactShare`);
  *  - near-duplicate classes (`nearShare`) with Zipf(1.1)-distributed sizes
  *    (the skew of the `MakeSf --zipf` corpus), each a base document plus
  *    copies with a few tokens replaced;
  *  - e-mail addresses, phone numbers and IPv4 addresses in `piiShare` of the
  *    documents.
  * Rows are shuffled before ids are assigned. One `java.util.Random` seeded
  * from the seed drives every choice, so the same seed gives the same corpus;
  * the row count never depends on the seed.
  */
final case class DocSizes(docs: Int, exactShare: Double, nearShare: Double,
                          largestClass: Int, piiShare: Double) {
  /** Fewest documents curation may keep: the unique documents make up
    * `1 - exactShare - nearShare` of the corpus and all but about 2% of
    * them (outside the token bounds) survive; 10% is left as slack.
    */
  def keptFloor: Long = (docs * (1 - exactShare - nearShare) * 0.9).toLong
}

object DocSizes {
  val full = DocSizes(docs = 100000, exactShare = 0.1, nearShare = 0.2,
    largestClass = 150, piiShare = 0.05)
  /** The corpus the DuckDB oracles judge: their recursive reachability CTE
    * needs minutes on `full`, so they run on a small corpus from the same
    * generator and seed.
    */
  val check = DocSizes(docs = 1000, exactShare = 0.1, nearShare = 0.2,
    largestClass = 12, piiShare = 0.05)
  val tiny = DocSizes(docs = 400, exactShare = 0.1, nearShare = 0.2,
    largestClass = 8, piiShare = 0.05)
}

object DocGen {

  /** 3000 pronounceable words; the vocabulary is the same for every seed. */
  val vocab: IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "de", "ba", "po", "li",
      "fe", "go", "hu", "ja")
    val two = for (a <- syl; b <- syl) yield a + b
    val three = for (a <- syl; b <- syl; c <- syl) yield a + b + c
    (two ++ three).take(3000).toIndexedSeq
  }

  private val langs = Seq("en" -> 0.4, "nl" -> 0.4, "de" -> 0.1, "zh" -> 0.1)

  def rows(seed: Long, sz: DocSizes): Seq[(String, String, String)] = {
    val rng = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
    def word(): String = vocab((vocab.size * math.pow(rng.nextDouble(), 2)).toInt)
    // Every 100th unique document is cut under the 5-token floor and the
    // next one stretched over the 1000-token ceiling, so the length filter
    // always has work at any corpus size.
    def tokens(i: Int): Array[String] = {
      val n = i % 100 match {
        case 0 => 1 + rng.nextInt(4)
        case 1 => 1001 + rng.nextInt(500)
        case _ => 10 + rng.nextInt(91)
      }
      Array.fill(n)(word())
    }
    def pii(): String = rng.nextInt(3) match {
      case 0 => s"${word()}.${word()}@omroep${rng.nextInt(9)}.nl"
      case 1 => f"+${rng.nextInt(90) + 10}-${rng.nextInt(900) + 100}-${rng.nextInt(10000)}%04d"
      case _ => s"10.${rng.nextInt(256)}.${rng.nextInt(256)}.${rng.nextInt(256)}"
    }
    def lang(): String = {
      var u = rng.nextDouble()
      langs.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse("en")
    }
    def render(t: Array[String]): String = {
      if (rng.nextDouble() < sz.piiShare) t(rng.nextInt(t.length)) = pii()
      t.mkString(" ")
    }

    val out = ArrayBuffer.empty[(String, String, String)]
    val nNear = (sz.docs * sz.nearShare).toInt
    val nExact = (sz.docs * sz.exactShare).toInt
    // Zipf class sizes: the k-th class holds largestClass / k^1.1 docs (>= 2).
    var k = 1
    while (out.size < nNear) {
      val size = math.min(nNear - out.size,
        math.max(2, (sz.largestClass / math.pow(k, 1.1)).toInt))
      // Class bases have moderate lengths: one long base in a large class
      // would otherwise swing the LSH work from seed to seed.
      val base = Array.fill(30 + rng.nextInt(90))(word())
      val (l, src) = (lang(), s"src${rng.nextInt(8)}")
      out += ((base.mkString(" "), l, src))
      (1 until size).foreach { _ =>
        val copy = base.clone()
        val edits = math.max(1, (copy.length * 0.03).toInt)
        (0 until edits).foreach(_ => copy(rng.nextInt(copy.length)) = word())
        out += ((copy.mkString(" "), l, src))
      }
      k += 1
    }
    var unique = 0
    while (out.size < sz.docs - nExact) {
      out += ((render(tokens(unique)), lang(), s"src${rng.nextInt(8)}"))
      unique += 1
    }
    val originals = out.size
    (0 until sz.docs - originals).foreach(_ => out += out(rng.nextInt(originals)))
    // Fisher-Yates with the same generator, so ids interleave the classes.
    val arr = out.toArray
    (arr.length - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    arr.toSeq
  }

  def documents(spark: SparkSession, seed: Long, sz: DocSizes): DataFrame = {
    import spark.implicits._
    rows(seed, sz).zipWithIndex
      .map { case ((text, lang, src), i) => (i.toLong, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }
}
