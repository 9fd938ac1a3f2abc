package perfbench

/** The training corpus of `corpus_prep`. Pure Scala; no Spark.
  *
  * Documents are runs of lowercase pseudo-words drawn from a seeded
  * Zipf-distributed vocabulary, shaped like the sf-scale `documents` table
  * (doc_id, text, lang). Each shard plants near-duplicate clusters (one
  * word changed per copy) and documents that quote a passage of an eval
  * document, so the cleaning and decontamination stages have known
  * answers. */
object CorpusGen {

  final case class Doc(id: Long, text: String, lang: String)

  /** A shard plus what was planted in it. `clusters` hold the ids of each
    * near-duplicate cluster, the original first. */
  final case class Shard(docs: Vector[Doc], clusters: Vector[Vector[Long]], contaminated: Vector[Long])

  val Langs: Vector[String] = Vector("en", "en", "en", "zh", "es", "fr", "de")
  /** Eval n-gram length; a random 8-word run repeating by chance is
    * vanishingly rare under this vocabulary, so only planted quotes match. */
  val EvalGram = 8
  val QuoteWords = 12

  final class Vocab(seed: Long) {
    private val rng = new Rng(seed, "corpus.vocab")
    private val syllables = Vector("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "qua",
      "bri", "dor", "fen", "gal", "hup", "jin", "kel", "mor", "nix", "pol", "ras", "sel", "tor",
      "ulm", "ver", "wix", "yan", "zol", "ash", "eph")
    val words: Vector[String] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 4000) seen += Vector.fill(1 + rng.int(3))(rng.pick(syllables)).mkString
      seen.toVector
    }
    private val cdf: Array[Double] = {
      val w = words.indices.map(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def draw(r: Rng): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.double())
      words(math.min(if (i >= 0) i else -i - 1, words.length - 1))
    }
    def doc(r: Rng): Vector[String] = Vector.fill(r.between(40, 160))(draw(r))
  }

  /** The eval set every shard is decontaminated against. */
  def evalDocs(seed: Long, n: Int): Vector[Doc] = {
    val vocab = new Vocab(seed)
    val r = new Rng(seed, "corpus.eval")
    Vector.tabulate(n)(i => Doc(-1L - i, vocab.doc(r).mkString(" "), "en"))
  }

  /** A corpus sample the tokenizer is trained on, disjoint from every shard. */
  def trainingSample(seed: Long, n: Int): Vector[Doc] = {
    val vocab = new Vocab(seed)
    val r = new Rng(seed, "corpus.bpe")
    Vector.tabulate(n)(i => Doc(i.toLong, vocab.doc(r).mkString(" "), "en"))
  }

  /** Shard `index` of `size` documents; ids are unique across shards. */
  def shard(seed: Long, index: Int, size: Int, evalSet: Vector[Doc],
            clusters: Int, contaminated: Int): Shard = {
    val vocab = new Vocab(seed)
    val r = new Rng(seed + 7919L * index, "corpus.shard")
    val base = index.toLong * 1000000L
    val texts = Array.fill(size)(vocab.doc(r))
    val ids = Array.tabulate(size)(i => base + i)
    // near-duplicate clusters: an original and 1–3 copies, each with one
    // word replaced, placed over later unplanted documents
    var next = 0
    val planted = Vector.newBuilder[Vector[Long]]
    (0 until clusters).foreach { _ =>
      val copies = r.between(1, 3)
      val orig = next
      (1 to copies).foreach { k =>
        val t = texts(orig).toArray
        val pos = r.int(t.length)
        var w = vocab.draw(r)
        while (w == t(pos)) w = vocab.draw(r)
        t(pos) = w
        texts(orig + k) = t.toVector
      }
      planted += Vector.tabulate(copies + 1)(k => ids(orig + k))
      next += copies + 1
    }
    // quoted eval passages in the documents after the clusters
    val quoted = (0 until contaminated).map { j =>
      val at = next + j
      val ev = r.pick(evalSet).text.split(' ')
      val from = r.int(ev.length - QuoteWords + 1)
      val pos = r.int(texts(at).length)
      texts(at) = texts(at).take(pos) ++ ev.slice(from, from + QuoteWords) ++ texts(at).drop(pos)
      ids(at)
    }.toVector
    val docs = Vector.tabulate(size)(i => Doc(ids(i), texts(i).mkString(" "), r.pick(Langs)))
    Shard(r.shuffle(docs), planted.result(), quoted)
  }
}
