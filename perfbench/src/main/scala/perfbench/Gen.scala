package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every workload's inputs are a pure function of
  * (seed, shape): the same seed gives byte-identical corpora, queries and
  * planted ground truth. */
object Gen {

  /** The word list of the engine's documents test table (30 words); the
    * generated texts draw from it so tokenization, shingling and quality
    * rules see the same statistics as the test corpus. */
  val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  private val PiiKinds = Array("EMAIL", "IP", "PHONE")
  private val Langs = Array("en", "en", "en", "en", "zh", "zh", "es", "es",
    "fr", "fr", "de")

  /** Shape of the vector corpus. `components` Gaussian centres on the unit
    * sphere; each point is its centre plus isotropic noise of norm ≈
    * `spread`, renormalized. `spread` ≈ 1 puts the within-component cosine
    * near 0.5, so k-means cells split components and a query's true
    * neighbours straddle several cells — the overlap that makes recall
    * depend on nProbe. */
  final case class VecShape(n: Int, nQueries: Int, dim: Int,
      components: Int, spread: Double)

  final case class VecCorpus(vectors: Array[Array[Float]],
      labels: Array[Int], queries: Array[Array[Float]], texts: Array[String]) {
    def n: Int = vectors.length
  }

  private def gaussianUnit(r: SplittableRandom, dim: Int): Array[Double] = {
    val v = Array.fill(dim)(gaussian(r))
    val nrm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / nrm)
  }

  /** Box–Muller from the splittable stream (java.util.Random's
    * nextGaussian is not available on SplittableRandom). */
  private def gaussian(r: SplittableRandom): Double = {
    var u = r.nextDouble()
    while (u <= 0.0) u = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  private def point(r: SplittableRandom, centre: Array[Double],
      spread: Double): Array[Float] = {
    val dim = centre.length
    val s = spread / math.sqrt(dim.toDouble)
    val v = Array.tabulate(dim)(i => centre(i) + s * gaussian(r))
    val nrm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / nrm).toFloat)
  }

  /** A text of `nTokens` vocabulary words. */
  def text(r: SplittableRandom, nTokens: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < nTokens) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(r.nextInt(Vocab.length)))
      i += 1
    }
    sb.toString
  }

  /** Corpus vectors, held-out queries from the same mixture, and one
    * document text per vector (40–80 words, so every text is longer than the
    * 200-char snippet). Row i has vec_id = i. */
  def vectors(seed: Long, shape: VecShape): VecCorpus = {
    val root = new SplittableRandom(seed)
    val rc = root.split(); val rv = root.split(); val rq = root.split()
    val rt = root.split()
    val centres = Array.fill(shape.components)(gaussianUnit(rc, shape.dim))
    val labels = Array.fill(shape.n)(rv.nextInt(shape.components))
    val vecs = labels.map(l => point(rv, centres(l), shape.spread))
    val queries = Array.fill(shape.nQueries)(
      point(rq, centres(rq.nextInt(shape.components)), shape.spread))
    val texts = Array.fill(shape.n)(text(rt, 40 + rt.nextInt(41)))
    VecCorpus(vecs, labels, queries, texts)
  }

  /** Arriving ingest segments: `count` batches of `size` vectors from the
    * same mixture as `vectors(seed, shape)` (same centres), with vec_ids
    * continuing after the base corpus. */
  def segments(seed: Long, shape: VecShape, count: Int,
      size: Int): Array[Array[Array[Float]]] = {
    val root = new SplittableRandom(seed)
    val rc = root.split()
    val centres = Array.fill(shape.components)(gaussianUnit(rc, shape.dim))
    val rs = new SplittableRandom(seed ^ 0x5e6d5e6dL)
    Array.fill(count, size)(
      point(rs, centres(rs.nextInt(shape.components)), shape.spread))
  }

  /** Document texts of `n` segment vectors, in vec_id order (40–80 words,
    * like the corpus texts). */
  def segmentTexts(seed: Long, n: Int): Array[String] = {
    val rt = new SplittableRandom(seed ^ 0x7e7a7e7aL)
    Array.fill(n)(text(rt, 40 + rt.nextInt(41)))
  }

  // ------------------------------------------------------------ documents

  final case class Doc(docId: Long, text: String, lang: String,
      source: String)

  /** Planted PII in one document, in text order. `kind` is EMAIL, IP or
    * PHONE — the placeholder the scrubber must put in its place. */
  final case class Pii(kind: String, value: String)

  final case class DocCorpus(docs: Array[Doc],
      /** Doc ids of each planted near-duplicate family (base first). */
      families: Array[Array[Long]],
      /** Planted PII per doc id. */
      pii: Map[Long, Seq[Pii]]) {
    def texts: Map[Long, String] = docs.iterator.map(d => d.docId -> d.text).toMap
  }

  final case class DocShape(nDocs: Int, exactDupShare: Double,
      families: Int, familySize: Int, piiShare: Double)

  private def piiValue(r: SplittableRandom, kind: String): String = kind match {
    case "EMAIL" => s"user${r.nextInt(100000)}.${Vocab(r.nextInt(Vocab.length))}@mail${r.nextInt(100)}.example.org"
    case "IP" => Seq.fill(4)(r.nextInt(256)).mkString(".")
    case _ => f"${200 + r.nextInt(800)}%03d-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d"
  }

  /** A curation corpus shaped like the engine's documents test table
    * (30-word vocabulary, 10–100 tokens, five languages, ten sources), with
    * planted structure:
    *  - `families` near-duplicate families of `familySize` docs: a 60–90
    *    token base plus copies with 2 tokens substituted (3-shingle Jaccard
    *    to the base and to each other well above 0.5);
    *  - exact duplicates: `exactDupShare` of the remaining slots copy an
    *    earlier unique doc's text verbatim (each text is copied at most
    *    once, into another language, so copies are not near-duplicate
    *    pairs: near-duplicate search is blocked by language);
    *  - PII: `piiShare` of the unique docs get 1–3 emails, IPv4 addresses or
    *    phone numbers inserted as whole tokens.
    * Doc ids are a seeded permutation of 0 until nDocs, so planted rows are
    * not clustered by id. */
  def documents(seed: Long, shape: DocShape): DocCorpus = {
    val r = new SplittableRandom(seed)
    val ids = (0L until shape.nDocs.toLong).toArray
    var i = ids.length - 1
    while (i > 0) { // Fisher–Yates
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    val docs = Array.newBuilder[Doc]
    val families = Array.newBuilder[Array[Long]]
    val pii = Map.newBuilder[Long, Seq[Pii]]
    var slot = 0
    def next(): Long = { val id = ids(slot); slot += 1; id }
    def lang() = Langs(r.nextInt(Langs.length))
    def source() = s"src${r.nextInt(10)}"

    for (_ <- 0 until shape.families) {
      val base = Array.fill(60 + r.nextInt(31))(Vocab(r.nextInt(Vocab.length)))
      val l = lang()
      // the first member is the base itself; the others substitute 2 tokens
      families += Array.tabulate(shape.familySize) { k =>
        val words = base.clone()
        if (k > 0) for (_ <- 0 until 2)
          words(r.nextInt(words.length)) = Vocab(r.nextInt(Vocab.length))
        val id = next()
        docs += Doc(id, words.mkString(" "), l, source())
        id
      }
    }
    // unique texts so far, with the PII planted in each
    val uniques = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Pii], String)]
    while (slot < ids.length) {
      val id = next()
      if (uniques.nonEmpty && r.nextDouble() < shape.exactDupShare) {
        val (t, planted, l) = uniques.remove(r.nextInt(uniques.length))
        docs += Doc(id, t, Langs.filter(_ != l)(r.nextInt(Langs.count(_ != l))), source())
        if (planted.nonEmpty) pii += id -> planted
      } else {
        val words = scala.collection.mutable.ArrayBuffer(
          Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))): _*)
        val planted =
          if (r.nextDouble() >= shape.piiShare) Seq.empty[Pii]
          else Seq.fill(1 + r.nextInt(3)) {
            val kind = PiiKinds(r.nextInt(PiiKinds.length))
            Pii(kind, piiValue(r, kind))
          }
        // insert at sorted positions, last first, so text order = list order
        val pos = planted.map(_ => r.nextInt(words.length + 1)).sorted
        planted.zip(pos).reverse.foreach { case (p, at) => words.insert(at, p.value) }
        if (planted.nonEmpty) pii += id -> planted
        val t = words.mkString(" ")
        val l = lang()
        uniques += ((t, planted, l))
        docs += Doc(id, t, l, source())
      }
    }
    DocCorpus(docs.result(), families.result(), pii.result())
  }
}
