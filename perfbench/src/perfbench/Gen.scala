package perfbench

import java.util.SplittableRandom
import graft.kernel.Hash64
import graft.spark.{Schemas, Synth}

/** Seeded input generator. Every byte a workload hands the engine is built
  * here from `--seed` through the public `Synth` payload builders, so the
  * same seed always yields the same pages (checked by [[Gen.digest]]).
  *
  * Seed-to-seed variation is content only: the count of pages per kind, the
  * multiset of text sizes and the number of planted tokens per value are
  * fixed by the workload shape, and the seed decides which page gets which.
  * Without that, runs on different seeds would measure different amounts of
  * work and their spread would say nothing about the program.
  *
  * Text vocabulary: consonant-vowel pseudo-words. Such words can never
  * contain the search keywords (`vin`, `dealer`, `contract`, `claim`, all of
  * which break the CV pattern or are filtered out), digits, or the `zx`
  * prefix of free-word tokens, so every search hit comes from a planted
  * token and expected match counts are exact.
  */
object Gen {

  sealed abstract class Kind(val name: String)
  case object Html extends Kind("html")
  case object Text extends Kind("text")
  case object PdfDigital extends Kind("pdf_digital")
  case object Raster extends Kind("raster")
  case object PdfScanned extends Kind("pdf_scanned")
  case object Corrupt extends Kind("corrupt")

  /** Kind mix per 20 pages, after `Synth.kindSlot`: 13 html, 1 passthrough
    * text, 3 digital PDF, 1 raster, 1 scanned PDF, 1 corrupt.
    */
  val KindMix: Seq[(Kind, Int)] =
    Seq(Html -> 13, Text -> 1, PdfDigital -> 3, Raster -> 1, PdfScanned -> 1, Corrupt -> 1)

  /** The `Synth.kindSlot` values (doc id mod 20) that build each kind. */
  private val Slots: Map[Kind, Seq[Int]] = Map(Html -> (0 to 12), Text -> Seq(13),
    PdfDigital -> (14 to 16), Raster -> Seq(17), PdfScanned -> Seq(18), Corrupt -> Seq(19))

  /** Kinds whose extracted text carries the whole source text verbatim up to
    * whitespace, so tokens planted at its end survive extraction on one line.
    */
  def carriesTokens(k: Kind): Boolean = k == Html || k == Text

  /** Source text size: log-uniform on 10-60 KB. That is the "realistic
    * web-page size (~10-60KB payloads)" `graft.Bench` inflates its pages to;
    * its median, about 24.5 KB, sits by the 23 KB pages the HTML kernel is
    * measured on in BASELINE.md.
    */
  val MinBytes = 10000
  val MaxBytes = 60000

  private val Consonants = "bdfghklmnprstvw"
  private val Vowels = "aeiou"
  private val Syllables: Vector[String] =
    for (c <- Consonants.toVector; v <- Vowels.toVector) yield s"$c$v"

  val Vocab: Vector[String] = {
    val r = new SplittableRandom(0x5eedL)
    Iterator.continually {
      val n = 2 + r.nextInt(3)
      (0 until n).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }.filterNot(_.contains("vin")).distinct.take(3000).toVector
  }

  /** A word unique to `id`: the source's first word, so two sources never
    * share their OCR scan line (its first eight words).
    */
  def idWord(id: Long): String = {
    val sb = new StringBuilder("x")
    var v = id
    do { sb.append(Syllables((v % Syllables.length).toInt)); v /= Syllables.length } while (v > 0)
    sb.toString
  }

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(Hash64.mix(seed * 0x9e3779b97f4a7c15L + salt))

  def shuffle[T](xs: Seq[T], r: SplittableRandom): Vector[T] =
    Synth.deterministicShuffle(xs.toVector, r.nextLong())

  /** Exactly `n` kinds in [[KindMix]] proportion, in seeded order. */
  def kindPlan(n: Int, r: SplittableRandom): Vector[Kind] = {
    val total = KindMix.map(_._2).sum
    val base = KindMix.map { case (k, w) => k -> (n * w / total) }
    val short = n - base.map(_._2).sum
    val counts = base.zipWithIndex.map { case ((k, c), i) => k -> (c + (if (i < short) 1 else 0)) }
    shuffle(counts.flatMap { case (k, c) => Vector.fill(c)(k) }, r)
  }

  /** Exactly `n` text sizes in bytes: the (i + 0.5) / n quantiles of the
    * log-uniform law on [MinBytes, MaxBytes], in seeded order, so every seed
    * gets the same size multiset.
    */
  def sizePlan(n: Int, r: SplittableRandom): Vector[Int] = {
    val ratio = MaxBytes.toDouble / MinBytes
    shuffle((0 until n).map(i => math.round(MinBytes * math.pow(ratio, (i + 0.5) / n)).toInt), r)
  }

  def sourceText(id: Long, bytes: Int, r: SplittableRandom): String = {
    val sb = new StringBuilder(bytes + 16)
    sb.append(idWord(id))
    while (sb.length < bytes) sb.append(' ').append(Vocab(r.nextInt(Vocab.length)))
    sb.toString
  }

  /** One input page. `identity` is what dedup sees: pages with equal
    * identity extract to the same text, pages with different identity to
    * different texts (corrupt pages all extract to "").
    */
  final case class GenPage(page: Schemas.Page, kind: Kind, identity: String)

  /** Doc ids of one seed start at a seeded base. They stay below about
    * 2e9, so page timestamps (`Synth.Epoch` plus one second per id) stay
    * before 2090.
    */
  def docBase(seed: Long): Long = math.floorMod(Hash64.mix(seed), 100000L) * 1000L

  /** Page `n` of a seed, built by `Synth.pageFromDocument`, which takes the
    * kind from the doc id's slot and the Zipf host and url from the doc id.
    */
  def page(seed: Long, n: Long, kind: Kind, sourceId: Long, text: String): GenPage = {
    val slots = Slots(kind)
    val docId = 20L * (docBase(seed) + n) + slots((n % slots.size).toInt)
    val identity = if (kind == Corrupt) "empty" else s"src-$sourceId"
    GenPage(Synth.pageFromDocument(docId, text, "en"), kind, identity)
  }

  /** SHA-256 over every page field, in page order. */
  def digest(pages: Seq[Schemas.Page]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(b: Array[Byte]): Unit = {
      md.update(java.nio.ByteBuffer.allocate(4).putInt(if (b == null) -1 else b.length).array())
      if (b != null) md.update(b)
    }
    def str(s: String): Array[Byte] = if (s == null) null else s.getBytes("UTF-8")
    pages.foreach { p =>
      put(str(p.url)); put(str(String.valueOf(p.warc_ts.getTime))); put(p.html)
      put(str(p.text)); put(str(p.lang))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ---- planted search tokens ----

  private val VinAlphabet = "ABCDEFGHJKLMNPRSTUVWXYZ"
  private val VinDigits = "0123456789"

  /** A 17-char VIN from the VIN alphabet: letter/digit groups keep every
    * digit run under the 6-digit floor of Contract/Claim extraction, and at
    * least one 0 or 1 lets a query carry an OCR confusion (0→O, 1→I).
    */
  def vin(r: SplittableRandom): String = {
    val sb = new StringBuilder
    while (sb.length < 17) {
      if (sb.length % 4 == 0) sb.append(VinAlphabet(r.nextInt(VinAlphabet.length)))
      else sb.append(VinDigits(r.nextInt(VinDigits.length)))
    }
    if (!sb.exists(c => c == '0' || c == '1')) sb.setCharAt(1 + r.nextInt(3), '0')
    sb.toString
  }

  /** The query form of `v` with one OCR confusion: the reference strips
    * I/O/Q from the query before normalizing, so the query is one char short
    * and matches through the 0.8 fuzzy floor, not by equality.
    */
  def ocrConfused(v: String, r: SplittableRandom): String = {
    val spots = v.indices.filter(i => v(i) == '0' || v(i) == '1')
    val i = spots(r.nextInt(spots.length))
    v.updated(i, if (v(i) == '0') 'O' else 'I')
  }

  private def keywordFree(s: String): Boolean = {
    val l = s.toLowerCase(java.util.Locale.ROOT)
    !Seq("vin", "dealer", "contract", "claim").exists(l.contains)
  }

  def dealerName(r: SplittableRandom): String = Iterator.continually(
    (0 until 3).map(_ => Syllables(r.nextInt(Syllables.length))).mkString.capitalize + " Motors"
  ).filter(keywordFree).next()

  def freeWord(r: SplittableRandom): String = Iterator.continually(
    "zx" + (0 until 6).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  ).filter(keywordFree).next()

  /** Tokens planted into one document; rendered as one line at its end. The
    * VIN is followed by "on file": the I and O end the reference's VIN
    * capture there, so the candidate stays short enough for the fuzzy match
    * of an OCR-confused query.
    */
  final case class Tokens(contract: Option[Long] = None, claim: Option[Long] = None,
      dealer: Option[String] = None, vin: Option[String] = None, word: Option[String] = None) {
    def render: String = Seq(
      contract.map(c => s"Contract # $c"),
      claim.map(c => s"Claim number $c"),
      dealer.map(d => s"Dealer: $d"),
      vin.map(v => s"VIN: $v on file"),
      word).flatten.mkString(" ")
    def isEmpty: Boolean = render.isEmpty
  }

  /** Value pools for each searchable field. Each pooled value is planted in
    * exactly `copies(i)` token-carrying documents; `absent` values are
    * planted nowhere and serve the no-hit queries, which skip the VIN field:
    * a VIN query costs several times any other, and the no-hit class belongs
    * to the median, not the tail.
    */
  final case class Pools(
      vins: Vector[String], contracts: Vector[Long], claims: Vector[Long],
      dealers: Vector[String], words: Vector[String],
      absentContracts: Vector[Long], absentClaims: Vector[Long],
      absentDealers: Vector[String], absentWords: Vector[String])

  def pools(perField: Int, r: SplittableRandom): Pools = {
    def distinct[T](n: Int)(f: => T): Vector[T] =
      Iterator.continually(f).distinct.take(n).toVector
    val vins = distinct(perField)(vin(r))
    val contracts = distinct(2 * perField)(7000000L + r.nextInt(1000000))
    val claims = distinct(2 * perField)(81000000L + r.nextInt(1000000))
    val dealers = distinct(2 * perField)(dealerName(r))
    val words = distinct(2 * perField)(freeWord(r))
    Pools(vins, contracts.take(perField), claims.take(perField),
      dealers.take(perField), words.take(perField),
      contracts.drop(perField), claims.drop(perField),
      dealers.drop(perField), words.drop(perField))
  }

  /** Plant each pooled value into `copies` slots out of `slots`
    * token-carrying documents; within a field no slot gets two values.
    * Returns the tokens per slot.
    */
  def plant(p: Pools, slots: Int, copies: Int => Int, r: SplittableRandom): Vector[Tokens] = {
    val t = Array.fill(slots)(Tokens())
    def place[T](values: Vector[T])(set: (Tokens, T) => Tokens): Unit = {
      val order = shuffle(0 until slots, r)
      var next = 0
      values.zipWithIndex.foreach { case (v, i) =>
        order.slice(next, next + copies(i)).foreach(s => t(s) = set(t(s), v))
        next += copies(i)
      }
    }
    place(p.contracts)((t, v) => t.copy(contract = Some(v)))
    place(p.claims)((t, v) => t.copy(claim = Some(v)))
    place(p.dealers)((t, v) => t.copy(dealer = Some(v)))
    place(p.vins)((t, v) => t.copy(vin = Some(v)))
    place(p.words)((t, v) => t.copy(word = Some(v)))
    t.toVector
  }
}
