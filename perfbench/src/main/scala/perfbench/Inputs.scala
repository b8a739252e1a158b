package perfbench

import graft.corpus.{DocGen, HtmlGen, ImgGen, OfficeGen, OleGen, PdfGen}
import graft.schema.{DocResult, DocRow, Kinds, OutSpan}
import graft.util.{Rng, SplitMix64}

/** Seeded workload inputs. The seed alone picks the document ids, the tier
  * draws, the corrupt-blob positions, the planted duplicates and the delta;
  * the program's own generators (`graft.corpus.*`) turn each id into its
  * document and its golden output. Everything here runs on the calling
  * thread, before any timed region. */
object Inputs {

  def rng(seed: Long, purpose: String): SplitMix64 =
    new SplitMix64(Rng.fnv64(s"perfbench|$purpose|$seed"))

  /** `n` distinct numeric ids in [0, 10^12). */
  def numericIds(r: SplitMix64, n: Int): Vector[Long] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (seen.size < n) seen += java.lang.Math.floorMod(r.nextLong(), 1000000000000L)
    seen.toVector
  }

  /** The generators' own id format. */
  def docId(x: Long): String = f"doc-$x%012d"

  // ---- extract_commit ---------------------------------------------------

  final case class DocSet(rows: Vector[DocRow], golden: Map[String, DocResult])

  def docs(seed: Long, purpose: String, n: Int): DocSet = {
    val rows = numericIds(rng(seed, purpose), n).map(x => DocGen.docRow(docId(x)))
    DocSet(rows, rows.map(d => d.doc_id -> DocGen.golden(d.doc_id)).toMap)
  }

  // ---- crawl_ingest -----------------------------------------------------

  /** Converter tiers, in the order the per-layer metrics list them. */
  val Tiers: Vector[String] = Vector("pdf", "office.ooxml", "office.ole", "html", "image")

  /** Tier of a blob: the repo's own mixed-ingestion shape
    * (`Queries.ingestRaw`), equal fifths by numeric doc id mod 5. */
  def tierOf(x: Long): String =
    Vector("office.ooxml", "html", "pdf", "image", "office.ole")((x % 5).toInt)

  /** Share of blobs replaced by a truncated copy of a valid blob. */
  val CorruptShare = 0.02

  final case class Blob(id: String, tier: String, bytes: Array[Byte], corrupt: Boolean)

  final case class BlobSet(blobs: Vector[Blob], golden: Map[String, Seq[OutSpan]]) {
    def corruptIds: Set[String] = blobs.filter(_.corrupt).map(_.id).toSet
  }

  def tierBytes(tier: String, id: String): Array[Byte] = tier match {
    case "pdf" => PdfGen.bytes(id)
    case "office.ooxml" => OfficeGen.bytes(id)
    case "office.ole" => OleGen.bytes(id)
    case "html" => HtmlGen.bytes(id)
    case "image" => ImgGen.bytes(id)
  }

  def tierGolden(tier: String, id: String): Seq[OutSpan] = tier match {
    case "pdf" => PdfGen.golden(id)
    case "office.ooxml" => OfficeGen.golden(id)
    case "office.ole" => OleGen.golden(id)
    case "html" => HtmlGen.golden(id)
    case "image" => ImgGen.golden(id)
  }

  /** The program's converter for one tier, called directly (trace pass). */
  def tierConvert(tier: String, id: String, bytes: Array[Byte]): DocResult = tier match {
    case "pdf" => graft.pdf.PdfConvert.convert(id, bytes)
    case "office.ooxml" => graft.office.OfficeConvert.convert(id, bytes)
    case "office.ole" => graft.office.OleConvert.convert(id, bytes)
    case "html" => graft.html.HtmlConvert.result(id, bytes)
    case "image" => graft.image.ImageDoc.convert(id, bytes)
  }

  def blobs(seed: Long, purpose: String, n: Int): BlobSet = {
    val r = rng(seed, purpose)
    val bs = numericIds(r, n).map { x =>
      val id = docId(x)
      val tier = tierOf(x)
      val corrupt = r.chance(CorruptShare)
      val full = tierBytes(tier, id)
      if (!corrupt) Blob(id, tier, full, corrupt = false)
      else {
        // truncated at a seeded offset between 10% and 90% of the blob
        val cut = math.max(1, (full.length * (0.1 + 0.8 * r.nextDouble())).toInt)
        Blob(id, tier, java.util.Arrays.copyOf(full, cut), corrupt = true)
      }
    }
    BlobSet(bs, bs.filterNot(_.corrupt).map(b => b.id -> tierGolden(b.tier, b.id)).toMap)
  }

  // ---- dedup_chain ------------------------------------------------------

  /** A `documents`-shaped corpus (doc_id, text) with planted duplicates.
    * `exactDups` maps each planted exact copy to its source. */
  final case class Corpus(base: Vector[(Long, String)], delta: Vector[(Long, String)],
      exactDups: Map[Long, Long]) {
    def full: Vector[(Long, String)] = base ++ delta
  }

  /** Duplicate shares of the repo's own `documents` table: at sf0.1 the
    * program's dedup chain keeps 4,734 of 5,000 rows; 8 of the others
    * (0.16%) are exact and 258 (5.16%) near duplicates of a kept row. */
  val ExactDupShare = 0.0016
  val NearDupShare = 0.0516
  val DeltaShare = 0.05

  /** Running text of a generated document: its title/text/list spans, cut
    * to `words` words. Every text has at least 20 words, so it always has
    * shingles. */
  private def textOf(x: Long, words: Int): String = {
    val ws = DocGen.docRow(docId(x)).spans.iterator
      .filter(s => s.kind == Kinds.Text || s.kind == Kinds.Title || s.kind == Kinds.ListK)
      .flatMap(_.text.split("\\s+").iterator).filter(_.nonEmpty).take(words).toVector
    if (ws.length >= 20) ws.mkString(" ")
    else (ws ++ Iterator.continually(s"w$x").take(20 - ws.length)).mkString(" ")
  }

  /** One word replaced: a near duplicate of `t`. */
  private def nearCopy(r: SplitMix64, t: String): String = {
    val ws = t.split(' ')
    ws(r.nextInt(ws.length)) = s"edit${r.nextInt(100000)}"
    ws.mkString(" ")
  }

  def corpus(seed: Long, purpose: String, n: Int): Corpus = {
    val r = rng(seed, purpose)
    val nDelta = math.max(2, (n * DeltaShare).round.toInt)
    val ids = numericIds(r, n + nDelta)
    val dups = Map.newBuilder[Long, Long]
    // fixed counts at seeded ids, at least one exact copy so the grouping
    // check is never vacuous; copies are made of `sources` only, so every
    // duplicate cluster is a star around its original and the chain's
    // label propagation needs the same few rounds at every seed
    def build(slice: Vector[Long], sources: Vector[(Long, String)] => Vector[(Long, String)])
        : (Vector[(Long, String)], Vector[(Long, String)]) = {
      val nExact = math.max(1, (slice.size * ExactDupShare).round.toInt)
      val nNear = (slice.size * NearDupShare).round.toInt
      val (copies, fresh) = slice.splitAt(nExact + nNear)
      val originals = fresh.map(id => id -> textOf(id, 20 + r.nextInt(100)))
      val pool = sources(originals)
      val exact = copies.take(nExact).map { id =>
        val (src, t) = pool(r.nextInt(pool.length))
        dups += id -> src
        id -> t
      }
      val near = copies.drop(nExact).map(id => id -> nearCopy(r, pool(r.nextInt(pool.length))._2))
      (originals ++ exact ++ near, originals)
    }
    val (base, baseOriginals) = build(ids.take(n), identity)
    // the delta: new documents, and copies of documents already in the corpus
    val (delta, _) = build(ids.drop(n), _ => baseOriginals)
    Corpus(base, delta, dups.result())
  }
}
