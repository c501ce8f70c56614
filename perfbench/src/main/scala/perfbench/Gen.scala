package perfbench

import java.util.SplittableRandom

/** Seeded input generator. Everything the benchmark feeds the engine comes
  * from here, and the same seed gives the same inputs: the corpus, the
  * request stream, the update/delete batches and the curation corpus.
  *
  * Vocabulary: the base words of `vocab.txt` take the top Zipf ranks, seeded
  * synthetic consonant-vowel words fill the tail. Synthetic words never
  * contain q, x or z, so `qx…` (fresh per-write markers) and `zq…` (zero-hit
  * query terms) can never collide with corpus words. Document ids are
  * `d` + digits, one token that is never a vocabulary word.
  */
final class Gen(seed: Long, baseVocab: Seq[String], vocabSize: Int = 4000) {
  import Gen._

  private def rng(salt: Long*): SplittableRandom =
    new SplittableRandom(salt.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, s) =>
      java.lang.Long.rotateLeft(h ^ (s * 0xC2B2AE3D27D4EB4FL), 31) * 0x165667B19E3779F9L))

  val vocab: Array[String] = {
    val r = rng(1)
    val seen = scala.collection.mutable.LinkedHashSet[String]() ++= baseVocab
    while (seen.size < vocabSize) {
      val syll = 2 + r.nextInt(2)
      seen += (0 until syll).map { _ =>
        s"${Consonants.charAt(r.nextInt(Consonants.length))}${Vowels.charAt(r.nextInt(Vowels.length))}"
      }.mkString
    }
    seen.toArray
  }

  /** Cumulative Zipf(s) weights over ranks 0..n-1, sampled by binary search. */
  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
  private val wordZipf = new Zipf(vocab.length, 1.0)

  private def line(r: SplittableRandom): String =
    Seq.fill(6 + r.nextInt(9))(vocab(wordZipf.sample(r))).mkString(" ")

  // ------------------------------------------------------------- collection

  def docId(i: Int): String = f"d$i%06d"

  /** Document `i` at `version` (0 = as created). Versions > 0 carry a fresh
    * marker token, so a search for it finds exactly that revision.
    */
  def doc(i: Int, version: Int = 0): Doc = {
    val r = rng(2, i, version)
    val body = Seq.fill(14 + r.nextInt(12))(line(r))
    val lines = if (version > 0) s"revision ${marker(i, version)}" +: body else body
    val day = java.time.LocalDate.of(2024, 1, 1).plusDays(r.nextInt(730))
    Doc(docId(i), s"https://docs.example.com/${docId(i)}",
      Langs(pick(r, LangWeights)), s"src${r.nextInt(10)}",
      s"${day}T00:00:00Z", lines.mkString("\n"))
  }

  def marker(i: Int, version: Int): String = {
    val r = rng(3, i, version)
    "qx" + Seq.fill(8)(('a' + r.nextInt(26)).toChar).mkString
  }

  // ---------------------------------------------------------------- queries

  /** Fixed query pool: 1-3 mid-frequency terms, every 20th entry a zero-hit
    * term. Requests draw pool entries Zipf-skewed, so queries repeat.
    */
  val queryPool: IndexedSeq[String] = {
    val r = rng(4)
    (0 until 200).map { k =>
      if (k % 20 == 19) "zq" + Seq.fill(6)(('a' + r.nextInt(26)).toChar).mkString
      else Seq.fill(1 + r.nextInt(3))(vocab(baseVocab.size + r.nextInt(1500))).mkString(" ")
    }
  }
  private val queryZipf = new Zipf(queryPool.size, 1.1)

  /** Filters whose selected fraction is known from the generator's
    * weights, each with the predicate a hit must satisfy.
    */
  val filterPool: IndexedSeq[(String, Doc => Boolean)] = IndexedSeq(
    """lang = "en"""" -> (_.lang == "en"),
    """lang != "en"""" -> (_.lang != "en"),
    """source = "src3"""" -> (_.source == "src3"),
    """lastModifiedAt > "2025-01-01"""" -> (_.lastModifiedAt > "2025-01-01"),
    """lang = "de" or source = "src7"""" -> (d => d.lang == "de" || d.source == "src7"))

  /** Request `k` of kind `kind` ("match" or "filtered_search") from the
    * seeded stream: a Zipf-drawn pool entry (its first term for a match),
    * and for a filtered search one of the known filters.
    */
  def streamRequest(k: Int, kind: String): Request = {
    val r = rng(5, k)
    val q = queryPool(queryZipf.sample(r))
    kind match {
      case "filtered_search" => Request(kind, q, filter = Some(filterPool(r.nextInt(filterPool.size))._1))
      case "match" => Request(kind, q.split(' ').head)
    }
  }

  /** A single-term BM25 probe word of mid frequency. */
  def probeTerm(k: Int): String = vocab(baseVocab.size + 40 + k)

  // ---------------------------------------------------------- write batches

  /** Batch `b` over ids [0, nLive): `nChanged` existing docs get a new
    * revision, `nNew` fresh ids start at `nextId`.
    */
  def updateBatch(b: Int, live: IndexedSeq[Int], nChanged: Int, nNew: Int,
                  nextId: Int): (Seq[Int], Seq[Int]) = {
    val r = rng(6, b)
    val changed = Seq.fill(nChanged)(live(r.nextInt(live.size))).distinct
    (changed, nextId until nextId + nNew)
  }

  def deleteBatch(b: Int, live: IndexedSeq[Int], n: Int): Seq[Int] = {
    val r = rng(7, b)
    Seq.fill(n)(live(r.nextInt(live.size))).distinct
  }

  // ---------------------------------------------------------------- curation

  /** Distinct docs with the defects each curation stage removes: shared
    * boilerplate lines (line dedup), stubs (quality gate), e-mail/phone/IP
    * lines (PII), one-word-edited copies (near dup) and passages copied from
    * the benchmark set (decontamination).
    */
  def curationCorpus(n: Int): (IndexedSeq[(Long, String)], IndexedSeq[(Long, String)]) = {
    val r = rng(8)
    val boiler = IndexedSeq.fill(12)("notice " + line(r))
    val bench = (0 until 40).map(k => (k.toLong, Seq.fill(3)(line(r)).mkString(" ")))
    val docs = new Array[(Long, String)](n)
    for (i <- 0 until n) {
      val d = rng(9, i)
      val text =
        if (i > 0 && d.nextInt(40) == 0) { // near copy of an earlier doc
          val (_, src) = docs(d.nextInt(i))
          val ws = src.split(" ")
          ws(d.nextInt(ws.length)) = vocab(d.nextInt(vocab.length))
          ws.mkString(" ")
        } else if (d.nextInt(25) == 0) Seq.fill(3)(vocab(wordZipf.sample(d))).mkString(" ")
        else {
          val lines = scala.collection.mutable.ArrayBuffer.fill(6 + d.nextInt(10))(line(d))
          if (d.nextInt(3) == 0) lines += boiler(d.nextInt(boiler.size))
          if (d.nextInt(10) == 0)
            lines += s"contact ${vocab(d.nextInt(500))}@mail.example.com or +1 555 ${1000 + d.nextInt(9000)} from 10.0.${d.nextInt(256)}.${d.nextInt(256)}"
          if (d.nextInt(60) == 0) lines += bench(d.nextInt(bench.size))._2
          lines.mkString("\n")
        }
      docs(i) = (i.toLong, text)
    }
    (docs.toIndexedSeq, bench)
  }

  private def pick(r: SplittableRandom, weights: Seq[Int]): Int = {
    var x = r.nextInt(weights.sum)
    weights.indexWhere { w => x -= w; x < 0 }
  }
}

object Gen {
  final case class Doc(id: String, url: String, lang: String, source: String,
                       lastModifiedAt: String, text: String)

  /** One MCP request of the stream; `docIndex` is the fetch target. */
  final case class Request(kind: String, query: String,
                           filter: Option[String] = None, docIndex: Int = -1)

  val Consonants = "bcdfghjklmnprstvw"
  val Vowels = "aeiou"
  val Langs = IndexedSeq("en", "de", "fr", "es", "zh")
  val LangWeights = Seq(40, 15, 15, 15, 15)
}
