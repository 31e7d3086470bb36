package lifebench

import java.io.{BufferedWriter, ByteArrayOutputStream, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

/** Seeded input generators. Sizes depend only on the scale arguments;
  * the seed picks content (identifiers, words, which rows are touched),
  * so the same seed writes byte-identical files and different seeds
  * write inputs of the same shape. Each generator also returns the
  * ground truth the output checks compare against. */
object Gen {

  /** 64-bit FNV-1a; the order-independent table hashes sum it per row. */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
    h
  }

  /** Order-independent hash of a multiset of rows (null-safe). */
  def rowsHash(rows: Iterator[Seq[Any]]): Long =
    rows.map(r => fnv64(r.map(v => if (v == null) "\u0000" else v.toString)
      .mkString("\u0001"))).foldLeft(0L)(_ + _)

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti",
    "vo", "be", "da", "fe", "gi", "ho", "ju", "pa", "qe", "ri", "so", "tu",
    "wa", "xi", "ye", "zo", "an", "el", "in", "or", "us", "ba", "ce")

  /** `n` distinct pseudo-words of 2-4 syllables. */
  def vocab(rng: SplittableRandom, n: Int): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val k = 2 + rng.nextInt(3)
      seen += (0 until k).map(_ => syllables(rng.nextInt(syllables.length))).mkString
    }
    seen.toArray
  }

  def words(rng: SplittableRandom, v: Array[String], n: Int): String =
    (0 until n).map(_ => v(rng.nextInt(v.length))).mkString(" ")

  /** Zipf(1) shares of `total` over `k` ranks, each at least `floor`. */
  def zipf(total: Int, k: Int, floor: Int): Seq[Int] = {
    val h = (1 to k).map(1.0 / _).sum
    (1 to k).map(r => math.max(floor, math.round(total / (r * h)).toInt))
  }

  private def writeLines(p: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(p.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(p.toFile), UTF_8))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  private def shuffle[T](rng: SplittableRandom, xs: mutable.ArrayBuffer[T]): mutable.ArrayBuffer[T] = {
    for (i <- xs.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
    }
    xs
  }

  // ---------------------------------------------------------------- crawl

  final case class CrawlProvider(name: String, domain: String, pages: Int,
      licensePath: String, license: String)

  final case class CrawlInput(watDir: String, warcRoot: String,
      providers: Seq[CrawlProvider], watRecords: Long,
      linkRows: Map[String, Long], extracted: Map[String, Long],
      keyHash: Long)

  private val crawlLicenses = Seq(
    "/licenses/by/4.0/" -> "by", "/licenses/by-sa/4.0/" -> "by-sa",
    "/licenses/by-nc/4.0/" -> "by-nc", "/publicdomain/zero/1.0/" -> "cc0",
    "/licenses/by-nd/3.0/" -> "by-nd", "/publicdomain/mark/1.0/" -> "pdm",
    "/licenses/by-nc-sa/2.0/" -> "by-nc-sa", "/licenses/by/2.5/" -> "by")

  private def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(s.getBytes(UTF_8)); g.close()
    bos.toByteArray
  }

  /** WAT envelope lines over gzip-member WARC files of gallery HTML.
    * `ccPages` pages link to creativecommons.org, spread over 8
    * provider domains with Zipf sizes; four more records per CC page
    * are non-CC responses and non-response records. Every tenth image
    * block repeats an earlier image of its provider verbatim, which the
    * pre-sink dedupe must drop. WARC members land in 16 files under 2
    * segments. */
  def crawl(dir: Path, seed: Long, ccPages: Int): CrawlInput = {
    val rng = new SplittableRandom(seed)
    val v = vocab(rng, 1500)
    val sizes = zipf(ccPages, 8, 4)
    val providers = sizes.zipWithIndex.map { case (n, i) =>
      val (lp, lic) = crawlLicenses(i)
      CrawlProvider(s"gallery$i", s"gallery$i.example.org", n, lp, lic)
    }
    val nFiles = 16
    val warc = Array.fill(nFiles)(new ByteArrayOutputStream())
    val lines = mutable.ArrayBuffer.empty[String]
    val linkRows = mutable.LinkedHashMap.empty[String, Long]
    val keys = mutable.ArrayBuffer.empty[Seq[Any]]
    var block = 0L

    def watLine(fileIdx: Int, off: Long, len: Long, tpe: String, uri: String,
        links: Seq[(String, String)]): String = {
      val seg = fileIdx / 8
      val linkJson = links.map { case (u, p) => s"""{"url":"$u","path":"$p"}""" }
        .mkString("[", ",", "]")
      val payload =
        if (tpe != "response") ""
        else s""","Payload-Metadata":{"Actual-Content-Type":"application/json",""" +
          s""""HTTP-Response-Metadata":{"HTML-Metadata":{"Links":$linkJson}}}"""
      s"""{"Container":{"Filename":"seg-$seg/wat/f$fileIdx.warc.gz","Offset":"$off",""" +
        s""""Gzip-Metadata":{"Deflate-Length":"$len"}},"Envelope":{""" +
        s""""WARC-Header-Metadata":{"WARC-Type":"$tpe","WARC-Target-URI":"$uri"}""" +
        s"""$payload}}"""
    }

    providers.foreach { p =>
      val images = mutable.ArrayBuffer.empty[(String, String, String, String)]
      var rows = 0L
      for (j <- 0 until p.pages) {
        val blocks = (0 until 2 + (j % 5)).map { _ =>
          block += 1
          if (block % 10 == 0 && images.nonEmpty) images(rng.nextInt(images.size))
          else {
            val fid = f"${rng.nextLong() & 0xffffffffffL}%010x-$block"
            val img = (fid, s"https://${p.domain}/item/$fid",
              s"https://img.${p.domain}/$fid.jpg", "Work " + words(rng, v, 2 + rng.nextInt(4)))
            images += img
            keys += Seq(p.name, fid, img._3, img._4, p.license)
            img
          }
        }
        val about = j % 3 == 0
        val html = new StringBuilder
        html ++= s"<html><head><title>${words(rng, v, 3)}</title></head><body>\n"
        html ++= s"""<p>${words(rng, v, 12)}</p>\n"""
        html ++= s"""<a rel="license" href="https://creativecommons.org${p.licensePath}">CC</a>\n"""
        blocks.foreach { case (_, landing, img, title) =>
          html ++= s"""<div class="item"><a class="image" href="$landing"><img src="$img" alt="$title"></a></div>\n"""
        }
        if (about) html ++= """<a href="https://creativecommons.org/about/">about</a>""" + "\n"
        html ++= "</body></html>\n"
        val member = gzip(html.toString)
        val f = rng.nextInt(nFiles)
        val off = warc(f).size().toLong
        warc(f).write(member)
        val uri = s"https://${p.domain}/gallery/page-$j-${rng.nextInt(1 << 20)}"
        val links = Seq(s"https://creativecommons.org${p.licensePath}" -> "A@/href") ++
          blocks.flatMap { case (_, landing, img, _) => Seq(img -> "IMG@/src", landing -> "A@/href") } ++
          Seq(s"https://news${rng.nextInt(50)}.example.net/story" -> "A@/href") ++
          (if (about) Seq("https://creativecommons.org/about/" -> "A@/href") else Nil)
        lines += watLine(f, off, member.length.toLong, "response", uri, links)
        rows += (if (about) 2 else 1)
      }
      linkRows(p.name) = rows
    }
    // two non-CC responses and two non-response records per CC page
    for (k <- 0 until ccPages) {
      val host = if (k % 2 == 0) providers(k % 8).domain else s"site${rng.nextInt(400)}.example.com"
      lines += watLine(rng.nextInt(nFiles), 0L, 100L, "response", s"https://$host/page/$k",
        Seq(s"https://$host/about" -> "A@/href", s"https://img.$host/$k.png" -> "IMG@/src"))
      lines += watLine(rng.nextInt(nFiles), 0L, 100L, "response", s"https://$host/list/$k",
        Seq(s"https://other${rng.nextInt(90)}.example.net/" -> "A@/href"))
      lines += watLine(rng.nextInt(nFiles), 0L, 100L, "request", s"https://$host/req/$k", Nil)
      lines += watLine(rng.nextInt(nFiles), 0L, 100L, "metadata", s"https://$host/meta/$k", Nil)
    }
    shuffle(rng, lines)
    val watDir = dir.resolve("wat")
    val per = (lines.size + 7) / 8
    lines.grouped(per).zipWithIndex.foreach { case (g, i) =>
      writeLines(watDir.resolve(f"part-$i%02d.json"), g.iterator) }
    val warcRoot = dir.resolve("warc")
    warc.zipWithIndex.foreach { case (b, f) =>
      val p = warcRoot.resolve(s"seg-${f / 8}/warc/f$f.warc.gz")
      Files.createDirectories(p.getParent)
      Files.write(p, b.toByteArray)
    }
    val extracted = keys.groupBy(_.head.toString).map { case (k, v) => k -> v.size.toLong }
    CrawlInput(watDir.toString, warcRoot.toString, providers, lines.size.toLong,
      linkRows.toMap, extracted, rowsHash(keys.iterator))
  }

  // ------------------------------------------------------- daily reingest

  /** Column order of the loader's TSV (17 columns). */
  val TsvCols: Seq[String] = Seq("foreign_identifier", "foreign_landing_url",
    "image_url", "thumbnail_url", "width", "height", "filesize", "license_",
    "license_version", "creator", "creator_url", "title", "meta_data_json",
    "tags_json", "watermarked", "provider", "source")

  /** The merge's scalar columns, in the canonical table's order. */
  val Scalars: Seq[String] = Seq("foreign_landing_url", "image_url",
    "thumbnail_url", "width", "height", "filesize", "license_",
    "license_version", "creator", "creator_url", "title", "watermarked", "source")

  /** One canonical row of the reference model. */
  final case class Rec(provider: String, fid: String, scalars: Vector[String],
      meta: Map[String, String], tags: Vector[(String, String)],
      created: Int, updated: Int)

  /** One generated TSV row: scalars keyed by name, or a malformed line. */
  final case class Line(provider: String, fid: String, scalars: Map[String, String],
      meta: Option[Map[String, String]], tags: Option[Vector[(String, String)]],
      malformed: Boolean = false) {
    def required: Boolean = fid != null &&
      Seq("image_url", "license_", "foreign_landing_url").forall(scalars.get(_).exists(_ != null))
  }

  final case class DailyInput(baseTsv: String, dayTsv: Seq[String],
      providers: Seq[String], intervals: Map[String, Int], standingRows: Long,
      finalModel: Map[(String, String), Rec], rowsAfter: Seq[Long],
      expiredAfter: Seq[Long], sample: Seq[(String, String)],
      incrementRows: Seq[Long])

  val Day0 = "2024-05-20 00:00:00"
  def dayTs(d: Int): String = java.time.LocalDate.of(2024, 6, 1).plusDays(d - 1L) + " 00:00:00"
  def epochDay(d: Int): Long =
    if (d == 0) java.time.LocalDate.of(2024, 5, 20).toEpochDay
    else java.time.LocalDate.of(2024, 6, 1).plusDays(d - 1L).toEpochDay

  private val dailyLicenses = Seq("by" -> "4.0", "by-sa" -> "4.0", "cc0" -> "1.0",
    "by-nc" -> "3.0", "pdm" -> "1.0")

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def metaJson(m: Map[String, String]): String = m.toSeq.sortBy(_._1).map {
    case (k, null) => s""""${esc(k)}":null"""
    case (k, x) => s""""${esc(k)}":"${esc(x)}""""
  }.mkString("{", ",", "}")

  private def tagsJson(t: Vector[(String, String)]): String = t.map { case (n, p) =>
    s"""{"name":"${esc(n)}","provider":"${esc(p)}"}""" }.mkString("[", ",", "]")

  private def tsvLine(l: Line): String =
    if (l.malformed) (Seq(l.fid, "https://broken.example.org/x") ++ Seq.fill(20)("extra")).mkString("\t")
    else TsvCols.map {
      case "foreign_identifier" => l.fid
      case "provider" => l.provider
      case "meta_data_json" => l.meta.map(metaJson).orNull
      case "tags_json" => l.tags.map(tagsJson).orNull
      case c => l.scalars.getOrElse(c, null)
    }.map(c => if (c == null) "\\N" else c).mkString("\t")

  /** Merge semantics of the canonical upsert, in plain Scala:
    * newest non-null scalar, null-stripped map merge where both sides
    * carry a map, sorted distinct tag union where both sides carry
    * tags; otherwise whichever side is present. */
  def applyLine(old: Option[Rec], l: Line, day: Int): Rec = old match {
    case None =>
      Rec(l.provider, l.fid, Scalars.map(l.scalars.getOrElse(_, null)).toVector,
        l.meta.orNull, l.tags.orNull, day, day)
    case Some(o) =>
      val sc = Scalars.zipWithIndex.map { case (c, i) =>
        Option(l.scalars.getOrElse(c, null)).getOrElse(o.scalars(i)) }.toVector
      val meta = (Option(o.meta), l.meta) match {
        case (Some(a), Some(b)) =>
          a.filter(_._2 != null) ++ b.filter(_._2 != null)
        case (a, b) => b.orElse(a).orNull
      }
      val tags = (Option(o.tags), l.tags) match {
        case (Some(a), Some(b)) => (a ++ b).distinct.sorted
        case (a, b) => b.orElse(a).orNull
      }
      Rec(o.provider, o.fid, sc, meta, tags, o.created, day)
  }

  /** One day's load: malformed and required-null rows drop, then the
    * last row per key (file order) wins, then each winner merges. */
  def applyDay(model: mutable.Map[(String, String), Rec], lines: Seq[Line], day: Int): Unit = {
    val winners = mutable.LinkedHashMap.empty[(String, String), Line]
    lines.filter(l => !l.malformed && l.required).foreach { l =>
      winners.remove((l.provider, l.fid)); winners((l.provider, l.fid)) = l }
    winners.foreach { case (k, l) => model(k) = applyLine(model.get(k), l, day) }
  }

  def expiredCount(model: collection.Map[(String, String), Rec],
      intervals: Map[String, Int], day: Int): Long =
    model.valuesIterator.count(r => epochDay(r.updated) < epochDay(day) - intervals(r.provider)).toLong

  /** A standing canonical table of `standing` rows over 15 Zipf-sized
    * providers, then `days` increments of 5% of the table each: ~60%
    * updates (some fields null, maps to merge, tags to union), ~30%
    * new keys, in-day duplicates (last wins), rows missing a required
    * field, and 3 malformed rows per day (under the 10-row bound). */
  def daily(dir: Path, seed: Long, standing: Int, days: Int): DailyInput = {
    val rng = new SplittableRandom(seed)
    val v = vocab(rng, 2000)
    val providers = (0 until 15).map(i => s"prov$i")
    val intervals = providers.zipWithIndex.map { case (p, i) =>
      p -> Seq(5, 15, 60)(i % 3) }.toMap
    val sizes = zipf(standing, providers.size, 50)
    var serial = 0L

    def fresh(p: String): Line = {
      serial += 1
      val fid = f"${rng.nextLong() & 0xffffffffL}%08x-$serial"
      val (lic, ver) = dailyLicenses(rng.nextInt(dailyLicenses.size))
      def maybe(pNull: Double, s: => String): String = if (rng.nextDouble() < pNull) null else s
      Line(p, fid, Map(
        "foreign_landing_url" -> s"https://$p.example.com/item/$fid",
        "image_url" -> s"https://img.$p.example.com/$fid.jpg",
        "thumbnail_url" -> maybe(0.5, s"https://img.$p.example.com/t/$fid.jpg"),
        "width" -> (200 + rng.nextInt(3000)).toString,
        "height" -> (200 + rng.nextInt(3000)).toString,
        "filesize" -> maybe(0.3, (10000 + rng.nextInt(5000000)).toString),
        "license_" -> lic, "license_version" -> ver,
        "creator" -> maybe(0.2, words(rng, v, 2)),
        "creator_url" -> maybe(0.5, s"https://$p.example.com/u/${rng.nextInt(100000)}"),
        "title" -> words(rng, v, 2 + rng.nextInt(5)),
        "watermarked" -> "f", "source" -> p),
        Some(Map("description" -> words(rng, v, 6), "views" -> rng.nextInt(10000).toString) ++
          (if (rng.nextInt(10) == 0) Map("camera" -> null) else Map.empty)),
        Some((0 until 1 + rng.nextInt(3)).map(_ => v(rng.nextInt(200)) -> p).distinct.toVector))
    }

    def update(r: Rec): Line = {
      def opt(s: => String): String = if (rng.nextDouble() < 0.35) null else s
      val (lic, ver) = dailyLicenses(rng.nextInt(dailyLicenses.size))
      Line(r.provider, r.fid, Map(
        "foreign_landing_url" -> r.scalars(0),
        "image_url" -> (if (rng.nextInt(5) == 0) s"https://img.${r.provider}.example.com/v${rng.nextInt(9)}/${r.fid}.jpg" else r.scalars(1)),
        "thumbnail_url" -> opt(s"https://img.${r.provider}.example.com/t2/${r.fid}.jpg"),
        "width" -> opt((200 + rng.nextInt(3000)).toString),
        "height" -> opt((200 + rng.nextInt(3000)).toString),
        "filesize" -> opt((10000 + rng.nextInt(5000000)).toString),
        "license_" -> lic, "license_version" -> opt(ver),
        "creator" -> opt(words(rng, v, 2)),
        "creator_url" -> opt(s"https://${r.provider}.example.com/u/${rng.nextInt(100000)}"),
        "title" -> opt(words(rng, v, 2 + rng.nextInt(5))),
        "watermarked" -> opt(if (rng.nextBoolean()) "t" else "f"),
        "source" -> opt(r.provider)),
        if (rng.nextInt(5) == 0) None
        else Some(Map("views" -> rng.nextInt(10000).toString, "note" -> words(rng, v, 3)) ++
          (if (rng.nextBoolean()) Map("description" -> null) else Map.empty)),
        if (rng.nextInt(4) == 0) None
        else Some(((if (r.tags != null && r.tags.nonEmpty) Vector(r.tags.head) else Vector.empty) :+
          (v(rng.nextInt(200)) -> r.provider)).distinct))
    }

    val model = mutable.LinkedHashMap.empty[(String, String), Rec]
    val base = providers.zip(sizes).flatMap { case (p, n) => (0 until n).map(_ => fresh(p)) }
    applyDay(model, base, 0)
    val baseTsv = dir.resolve("base/part-00000.tsv")
    writeLines(baseTsv, base.iterator.map(tsvLine))

    val inc = standing / 20
    val dayFiles = mutable.ArrayBuffer.empty[String]
    val rowsAfter = mutable.ArrayBuffer.empty[Long]
    val expiredAfter = mutable.ArrayBuffer.empty[Long]
    val incRows = mutable.ArrayBuffer.empty[Long]
    val touched = mutable.LinkedHashSet.empty[(String, String)]
    val inserted = mutable.LinkedHashSet.empty[(String, String)]
    for (d <- 1 to days) {
      val keys = model.keysIterator.toIndexedSeq
      val nUpd = inc * 60 / 100
      val nIns = inc * 30 / 100
      val picked = mutable.LinkedHashSet.empty[(String, String)]
      while (picked.size < nUpd) picked += keys(rng.nextInt(keys.size))
      val lines = mutable.ArrayBuffer.empty[Line]
      lines ++= picked.iterator.map(k => update(model(k)))
      lines ++= (0 until nIns).map { _ =>
        fresh(providers(math.min(providers.size - 1, (-math.log(rng.nextDouble()) * 3).toInt))) }
      shuffle(rng, lines)
      // in-day duplicates of earlier rows of the same day: a later
      // valid row (wins) or a later row missing image_url (dropped
      // before the last-wins pick, so the earlier row stands)
      val nDup = inc * 5 / 100
      (0 until nDup).foreach { k =>
        val l = lines(rng.nextInt(lines.size))
        val again = if (k % 2 == 0) l.copy(scalars = l.scalars.updated("title", words(rng, v, 3)))
          else l.copy(scalars = l.scalars.updated("image_url", null))
        lines.insert(lines.size - rng.nextInt(lines.size / 10 + 1), again)
      }
      // fresh keys missing a required field
      (0 until inc * 4 / 100).foreach { k =>
        val l = fresh(providers(rng.nextInt(providers.size)))
        val col = Seq("image_url", "license_", "foreign_landing_url")(k % 3)
        lines.insert(rng.nextInt(lines.size), l.copy(scalars = l.scalars.updated(col, null)))
      }
      (0 until 3).foreach(_ =>
        lines.insert(rng.nextInt(lines.size), Line("prov0", s"bad-${rng.nextInt()}", Map.empty, None, None, malformed = true)))
      val valid = lines.filter(l => !l.malformed && l.required)
      valid.foreach { l =>
        val k = (l.provider, l.fid)
        if (model.contains(k)) touched += k else inserted += k }
      applyDay(model, lines.toSeq, d)
      val f = dir.resolve(f"day$d%02d/part-00000.tsv")
      writeLines(f, lines.iterator.map(tsvLine))
      dayFiles += f.getParent.toString
      rowsAfter += model.size.toLong
      expiredAfter += expiredCount(model, intervals, d)
      incRows += lines.size.toLong
    }
    val keys = model.keysIterator.toIndexedSeq
    val sample = mutable.LinkedHashSet.empty[(String, String)]
    val t = touched.toIndexedSeq
    val ins = inserted.toIndexedSeq
    // 400 keys: half touched by an increment, a quarter inserted by one
    shuffle(rng, mutable.ArrayBuffer.from(t)).iterator.take(200).foreach(sample += _)
    shuffle(rng, mutable.ArrayBuffer.from(ins)).iterator.take(100).foreach(sample += _)
    while (sample.size < math.min(400, keys.size)) sample += keys(rng.nextInt(keys.size))
    DailyInput(baseTsv.getParent.toString, dayFiles.toSeq, providers, intervals,
      base.size.toLong, model.toMap, rowsAfter.toSeq, expiredAfter.toSeq, sample.toSeq,
      incRows.toSeq)
  }

  // ----------------------------------------------------- corpus admission

  final case class CorpusInput(baseDir: String, benchDir: String,
      codesDir: String, batchDirs: Seq[String], inputDocs: Long,
      qualityFail: Long, exactDup: Long, nearDup: Long, contaminated: Long,
      kept: Long, admitted: Seq[Set[Long]], refused: Seq[Set[Long]])

  val ScaleFactor = 10
  val CodeMask: Long = (1L << 56) - 1

  /** 56-bit image code of a document id under a seed. */
  def imageCode(seed: Long, id: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & CodeMask
  }

  /** ScaleUp's per-copy token salt: copy 0 verbatim, copy i suffixes
    * every token with `~c<i>`. */
  def salted(text: String, copy: Int): String =
    if (copy == 0) text else text.split(" ").map(_ + s"~c$copy").mkString(" ")

  /** Tab-separated (id, value) files: a base document table of `base`
    * docs (later scaled 10x by
    * ScaleUp) with planted quality failures (3%), exact copies (4%),
    * near copies (4%, one appended token) and benchmark-contaminated
    * docs (1%, copy 0 only: the salt hides the n-grams in the other
    * copies); a 10-doc benchmark set; 56-bit image codes for every
    * scaled doc; and `batches` arriving batches of 1% of the scaled corpus:
    * 20% exact text copies of kept docs, 20% image near copies
    * (2 bits flipped) of kept docs, 60% fresh docs. */
  def corpus(dir: Path, seed: Long, base: Int, batches: Int): CorpusInput = {
    def write(rel: String, rows: Seq[(Long, Any)]): Unit =
      writeLines(dir.resolve(rel).resolve("part-00000.tsv"),
        rows.iterator.map { case (id, v) => s"$id\t$v" })
    val rng = new SplittableRandom(seed)
    val v = vocab(rng, 3000)
    def doc(n: Int) = words(rng, v, n)
    val bench = (0 until 10).map(i => (i.toLong, doc(40)))
    val nQ = base * 3 / 100
    val nE = base * 4 / 100
    val nN = base * 4 / 100
    val nC = base / 100
    val nU = base - nQ - nE - nN
    val firstId = 100L
    val unique = (0 until nU).map(i => (firstId + i, doc(50 + rng.nextInt(40))))
    // originals for copies are plain unique docs; contaminated docs are
    // other unique docs, rewritten with a benchmark span inside
    val order = mutable.ArrayBuffer.from(unique.indices)
    shuffle(rng, order)
    val exactOrig = order.slice(0, nE)
    val nearOrig = order.slice(nE, nE + nN)
    val contam = order.slice(nE + nN, nE + nN + nC).toSet
    val uniq = unique.zipWithIndex.map { case ((id, t), i) =>
      if (!contam(i)) (id, t)
      else {
        val (_, b) = bench(rng.nextInt(bench.size))
        val bw = b.split(" ")
        val s = rng.nextInt(bw.length - 12)
        (id, t + " " + bw.slice(s, s + 12).mkString(" ") + " " + doc(10))
      }
    }
    var next = firstId + nU
    def nid(): Long = { val x = next; next += 1; x }
    val exact = exactOrig.map(i => (nid(), uniq(i)._2))
    val near = nearOrig.map(i => (nid(), uniq(i)._2 + " " + v(rng.nextInt(v.length))))
    val short = (0 until nQ).map(_ => (nid(), doc(4 + rng.nextInt(5))))
    val docs = uniq ++ exact ++ near ++ short
    write("base", docs)
    write("bench", bench)
    val stride = docs.map(_._1).max + 1
    val keptBase = uniq.indices.filterNot(contam).map(uniq(_))
    // kept docs after scaling: every copy of a kept base doc, except
    // the contaminated docs' copies >= 1 which are clean and kept too
    val keptScaled = (0 until ScaleFactor).flatMap(c => keptBase.map { case (id, t) =>
      (id + c * stride, salted(t, c)) }) ++
      (1 until ScaleFactor).flatMap(c => contam.toSeq.sorted.map { i =>
        val (id, t) = uniq(i); (id + c * stride, salted(t, c)) })
    val scaledIds = (0 until ScaleFactor).flatMap(c => docs.map(_._1 + c * stride))
    write("codes", scaledIds.map(id => id -> imageCode(seed, id)))

    val m = (docs.size * ScaleFactor) / 100
    val targets = mutable.ArrayBuffer.from(keptScaled.indices)
    shuffle(rng, targets)
    var ti = 0
    val admitted = mutable.ArrayBuffer.empty[Set[Long]]
    val refused = mutable.ArrayBuffer.empty[Set[Long]]
    val batchDirs = (0 until batches).map { b =>
      val ids = (0 until m).map(k => 1000000000L + b * 1000000L + k)
      val rows = ids.zipWithIndex.map { case (id, k) =>
        k * 10 / m match {
          case 0 | 1 =>
            val (tid, t) = keptScaled(targets(ti)); ti += 1
            (id, t, imageCode(seed, id), false)
          case 2 | 3 =>
            val (tid, _) = keptScaled(targets(ti)); ti += 1
            val a = rng.nextInt(56)
            val c = (a + 1 + rng.nextInt(55)) % 56
            (id, doc(50 + rng.nextInt(40)), imageCode(seed, tid) ^ (1L << a) ^ (1L << c), false)
          case _ => (id, doc(50 + rng.nextInt(40)), imageCode(seed, id), true)
        }
      }
      write(s"batch$b/docs", rows.map(r => (r._1, r._2)))
      write(s"batch$b/codes", rows.map(r => (r._1, r._3)))
      admitted += rows.filter(_._4).map(_._1).toSet
      refused += rows.filterNot(_._4).map(_._1).toSet
      dir.resolve(s"batch$b").toString
    }
    val input = docs.size.toLong * ScaleFactor
    CorpusInput(dir.resolve("base").toString, dir.resolve("bench").toString,
      dir.resolve("codes").toString, batchDirs, input,
      nQ.toLong * ScaleFactor, nE.toLong * ScaleFactor, nN.toLong * ScaleFactor,
      nC.toLong, keptScaled.size.toLong, admitted.toSeq, refused.toSeq)
  }
}
