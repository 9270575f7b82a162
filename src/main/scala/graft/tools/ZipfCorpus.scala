package graft.tools


/** Deterministic Zipf-vocabulary corpus generator — the measurement
  * corpus the round-13 1000-merge BPE run showed the SYNTHETIC testdata
  * cannot be: `/root/testdata` documents draw words near-uniformly, so
  * the word lexicon exhausts at 392 merges and the strict-gap rule sees
  * tie-heavy heads (batch fill rate 1.05x). A natural-language
  * vocabulary has a Zipf head — count-DISTINCT ranked pairs — which is
  * exactly the shape the batched trainer's strict-gap prefix rule
  * (`TextAnalysis.bpeSelectBatch`) needs to admit multi-merge rounds.
  *
  * This tool builds that shape from public facts only: a Zipf(s) rank
  * distribution over a V-word vocabulary (Zipf 1949; s ~= 1.07 is the
  * commonly cited natural-text exponent), word lengths growing ~log2 in
  * rank (frequent words are short — Zipf's law of abbreviation), and
  * letters drawn from an English-like frequency table, so subword
  * structure is shared across the vocabulary and merge capacity
  * (sum of len(w)-1 over distinct words) is tens of thousands of
  * merges, not 392.
  *
  * Everything is hash-derived (splitmix64) from the seed — rerunning
  * writes a byte-identical corpus; no RNG state crosses partitions.
  * Output schema matches the driver testdata's documents.parquet
  * (doc_id, text, lang, source, n_chars), so every documents-table
  * operator runs on it unchanged.
  *
  * Usage: run_main.sh graft.tools.ZipfCorpus \
  *   [outDir] [numDocs] [wordsPerDoc] [vocabSize] [zipfS] [seed]
  */
object ZipfCorpus {

  final case class Doc(doc_id: Long, text: String, lang: String,
                       source: String, n_chars: Long)

  @inline def splitmix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** English-like letter pool: sampling uniformly from this string
    * approximates published letter frequencies (e ~12%, t ~9%, ...). */
  private val Letters =
    "eeeeeeeeeeeetttttttttaaaaaaaaooooooooiiiiiiinnnnnnnsssssshhhhhh" +
      "rrrrrrddddllllcccuuummmwwwfffggyyppbbvkjxqz"

  /** Distinct vocabulary, rank-ordered: rank 0 is the most frequent
    * word. Length 2 + floor(log2(rank+2)) capped at 12 (abbreviation
    * law); letters hash-drawn from the pool; collisions re-rolled so
    * ranks never alias (an alias would pool two Zipf weights). */
  def vocabulary(v: Int, seed: Long): Array[String] = {
    val seen = new java.util.HashSet[String](v * 2)
    val out = new Array[String](v)
    var rank = 0
    while (rank < v) {
      val len = math.min(12, 2 + (31 - Integer.numberOfLeadingZeros(rank + 2)))
      var h = splitmix(seed ^ (rank * 0x100000001B3L))
      var w: String = null
      var attempts = 0
      while (w == null) {
        val sb = new java.lang.StringBuilder(len)
        var i = 0
        while (i < len) {
          h = splitmix(h)
          sb.append(Letters(((h >>> 16) & 0x7FFFFFFF).toInt % Letters.length))
          i += 1
        }
        val cand = sb.toString
        if (seen.add(cand)) w = cand
        else { attempts += 1; require(attempts < 1000, s"rank $rank cannot find a fresh word") }
      }
      out(rank) = w
      rank += 1
    }
    out
  }

  /** Cumulative Zipf(s) mass over ranks 1..v, for inverse-CDF draws. */
  def zipfCdf(v: Int, s: Double): Array[Double] = {
    val cdf = new Array[Double](v)
    var acc = 0.0
    var i = 0
    while (i < v) { acc += 1.0 / math.pow(i + 1.0, s); cdf(i) = acc; i += 1 }
    val total = cdf(v - 1)
    i = 0
    while (i < v) { cdf(i) /= total; i += 1 }
    cdf
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0) else "/tmp/graft_zipf"
    val numDocs = if (args.length > 1) args(1).toLong else 200000L
    val wordsPerDoc = if (args.length > 2) args(2).toInt else 100
    val vocabSize = if (args.length > 3) args(3).toInt else 50000
    val zipfS = if (args.length > 4) args(4).toDouble else 1.07
    val seed = if (args.length > 5) args(5).toLong else 13L

    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val vocabB = spark.sparkContext.broadcast(vocabulary(vocabSize, seed))
    val cdfB = spark.sparkContext.broadcast(zipfCdf(vocabSize, zipfS))

    val docs = spark.range(numDocs).map { docId =>
      val vocab = vocabB.value
      val cdf = cdfB.value
      val sb = new java.lang.StringBuilder(wordsPerDoc * 7)
      var pos = 0
      while (pos < wordsPerDoc) {
        val h = splitmix(seed ^ (docId * 131071L + pos * 2654435761L))
        val u = (h >>> 11) * (1.0 / (1L << 53)) // uniform [0,1)
        var idx = java.util.Arrays.binarySearch(cdf, u)
        if (idx < 0) idx = -idx - 1
        if (pos > 0) sb.append(' ')
        sb.append(vocab(math.min(idx, vocab.length - 1)))
        pos += 1
      }
      val text = sb.toString
      Doc(docId, text, "en", "zipf", text.length.toLong)
    }

    docs.toDF().repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[zipf] wrote $numDocs docs x $wordsPerDoc words, " +
      s"V=$vocabSize s=$zipfS seed=$seed -> $out/documents.parquet")
    spark.stop()
  }
}
