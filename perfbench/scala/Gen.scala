package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every byte written here is a function of the
  * seed alone: the same seed gives byte-identical files, a different seed
  * gives different content with the same row counts.
  */
object Gen {

  private def writer(p: Path): Writer =
    new OutputStreamWriter(new BufferedOutputStream(
      new FileOutputStream(p.toFile), 1 << 16), UTF_8)

  // ---------------------------------------------------------------- EV --

  val Cities: IndexedSeq[String] = IndexedSeq("Seattle", "Bellevue",
    "Tacoma", "Olympia", "Spokane", "Redmond", "Kirkland", "Renton",
    "Everett", "Bothell", "Sammamish", "Issaquah", "Vancouver", "Yakima",
    "Bellingham", "Kent", "Auburn", "Lynnwood", "Shoreline", "Edmonds",
    "Puyallup", "Lacey", "Bremerton", "Wenatchee", "Pullman", "Richland",
    "Kennewick", "Pasco", "Walla Walla", "Mercer Island")
  val Makes: IndexedSeq[String] = IndexedSeq("TESLA", "NISSAN", "KIA",
    "AUDI", "BMW", "CHEVROLET", "FORD", "HYUNDAI", "VOLVO", "RIVIAN",
    "TOYOTA", "JEEP", "PORSCHE", "MINI", "POLESTAR", "LUCID")
  val VehicleTypes: IndexedSeq[String] = IndexedSeq(
    "Battery Electric Vehicle (BEV)", "Plug-in Hybrid Electric Vehicle (PHEV)")
  val Eligibility: IndexedSeq[String] = IndexedSeq(
    "Clean Alternative Fuel Vehicle Eligible", "Not eligible due to low battery range",
    "Eligibility unknown as battery range has not been researched")
  /** Utility strings as they appear in EV rows: `|` / `||` multi-values
    * plus two rare single-valued names that the utilities dimension joins. */
  val Utilities: IndexedSeq[String] = IndexedSeq(
    "PUGET SOUND ENERGY INC||CITY OF TACOMA - (WA)",
    "PUGET SOUND ENERGY INC",
    "BONNEVILLE POWER ADMINISTRATION||CITY OF SEATTLE - (WA)|CITY OF TACOMA - (WA)",
    "CITY OF SEATTLE - (WA)",
    "PACIFICORP", "AVISTA CORP", "PUD NO 1 OF CLARK COUNTY - (WA)")
  /** The joinable single-valued names: rare in the EV rows (see evRow). */
  val RareUtilities: IndexedSeq[String] = IndexedSeq(
    "ORCAS POWER & LIGHT COOP", "PENINSULA LIGHT COMPANY")
  /** The utilities dimension: two names that match EV rows, three absent. */
  val UtilityDim: IndexedSeq[(Int, String, String)] = IndexedSeq(
    (1, "ORCAS POWER & LIGHT COOP", "San Juan"),
    (2, "PENINSULA LIGHT COMPANY", "Pierce"),
    (3, "OKANOGAN COUNTY ELEC COOP", "Okanogan"),
    (4, "TANNER ELECTRIC COOP", "King"),
    (5, "LAKEVIEW LIGHT & POWER", "Pierce"))
  val SampleVin = "SAMPLEVIN123"

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  private def evFields(r: SplittableRandom, vin: String): Array[String] = {
    val city = pick(r, Cities)
    val make = pick(r, Makes)
    val u = r.nextInt(1000)
    val utility =
      if (u < 2) RareUtilities(0) else if (u < 4) RareUtilities(1)
      else pick(r, Utilities)
    val lon = -124.0 + r.nextInt(60000) / 10000.0
    val lat = 45.6 + r.nextInt(33000) / 10000.0
    val location = r.nextInt(100) match {
      case x if x < 80 => f"POINT ($lon%.4f $lat%.4f)"
      case x if x < 90 => f"POINT ( $lon%.4f  $lat%.4f )"
      case x if x < 94 => s"POINT (${lon.toInt} ${lat.toInt})"
      case x if x < 97 => "POINT EMPTY"
      case _ => ""
    }
    Array(vin, city, (2011 + r.nextInt(15)).toString, make,
      s"${make.take(3)}-${r.nextInt(12)}", pick(r, VehicleTypes),
      pick(r, Eligibility), (r.nextInt(330) + 6).toString,
      (100000000L + r.nextInt(900000000)).toString, location, utility)
  }

  /** Damage one row the way the reference file is damaged: N/A years,
    * blank or sentinel text, missing critical ids. Returns whether the
    * row survives the clean pipeline's critical-column drop. */
  private def damage(r: SplittableRandom, f: Array[String]): Boolean = {
    var kept = true
    val d = r.nextInt(1000)
    if (d < 20) f(2) = "N/A"
    else if (d < 30) { f(0) = ""; kept = false }
    else if (d < 40) { f(1) = " "; kept = false }
    else if (d < 45) { f(1) = "nan"; kept = false }
    else if (d < 70) f(3) = "None"
    else if (d < 90) f(4) = "nan"
    else if (d < 100) f(7) = "unknown"
    kept
  }

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\""
    else if (s.startsWith("POINT")) "\"" + s + "\""
    else s

  /** Headerless ragged CSV: 11 meaningful fields + 4 or 5 junk fields. */
  private def writeEvLine(w: Writer, r: SplittableRandom, f: Array[String]): Unit = {
    val junk = if (r.nextInt(500) == 0) Seq(f(0), ")", "0", "", "")
               else Seq("", ")", "0", "")
    w.write((f.map(csvField) ++ junk).mkString(","))
    w.write('\n')
  }

  final case class EvInputs(csv: Path, updates: Path, xlsx: Path,
                            utilities: Path, rows: Long, expectedKept: Long,
                            attemptedRows: Long, keptRows: Long)

  /** The EV inputs: `nRows` base CSV rows, an XLSX export of `nXlsx`
    * rows, a ~5% update batch (half changed existing VINs, half new) and
    * the utilities dimension. `expectedKept` is the snapshot row count a
    * correct ingest → clean → upsert produces. */
  def ev(dir: Path, seed: Long, nRows: Int, nXlsx: Int): EvInputs = {
    Files.createDirectories(dir)
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val tag = f"${(seed & 0xFFFFF)}%05X"
    def vin(i: Long) = f"EV$tag$i%08d"
    val keptVins = new java.util.BitSet(nRows + nXlsx)
    var kept = 0L
    val csv = dir.resolve("ev.csv")
    val w = writer(csv)
    try {
      for (i <- 0 until nRows) {
        val f = evFields(r, if (i == 7) SampleVin else vin(i))
        if (damage(r, f)) { kept += 1; keptVins.set(i) }
        writeEvLine(w, r, f)
      }
    } finally w.close()
    // XLSX export: a title and a blank row above a display-style header
    val header = Seq("VIN", "City", "Year", "Make", "Model", "Vehicle Type",
      "Eligibility", "Electric Range", "Vehicle ID", "Location", "Utility")
    val xrows = ArrayBuffer[Seq[String]](Seq(s"EV registrations export $tag"),
      Seq.empty, header)
    for (i <- nRows until nRows + nXlsx) {
      val f = evFields(r, vin(i))
      if (damage(r, f)) { kept += 1; keptVins.set(i) }
      xrows += f.toSeq
    }
    val xlsx = dir.resolve("ev.xlsx")
    writeXlsx(xlsx, xrows.toSeq)
    // Update batch: changed rows for existing kept VINs, plus new VINs.
    val nUpd = (nRows + nXlsx) / 20
    val upd = dir.resolve("updates.csv")
    val uw = writer(upd)
    var newKept = 0L
    val chosen = scala.collection.mutable.HashSet[Int]()
    try {
      for (j <- 0 until nUpd) {
        if (j % 2 == 0) {
          var i = r.nextInt(nRows + nXlsx)
          while (!keptVins.get(i) || chosen.contains(i) || i == 7)
            i = r.nextInt(nRows + nXlsx)
          chosen += i
          writeEvLine(uw, r, evFields(r, vin(i)))
        } else {
          val f = evFields(r, vin(nRows + nXlsx + j))
          if (damage(r, f)) newKept += 1
          writeEvLine(uw, r, f)
        }
      }
    } finally uw.close()
    val util = dir.resolve("utilities.csv")
    val utw = writer(util)
    try {
      utw.write("utility_id,utility_name,region\n")
      UtilityDim.foreach { case (id, n, reg) => utw.write(s"$id,$n,$reg\n") }
    } finally utw.close()
    EvInputs(csv, upd, xlsx, util, nRows + nXlsx + nUpd, kept + newKept,
      nRows + nXlsx, kept)
  }

  private def colLetter(i: Int): String = {
    var n = i + 1
    val sb = new StringBuilder
    while (n > 0) { val m = (n - 1) % 26; sb.insert(0, ('A' + m).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** A one-sheet workbook with every cell as an inline string. Zip entry
    * times are fixed so the bytes depend only on the rows. */
  def writeXlsx(path: Path, rows: Seq[Seq[String]]): Unit = {
    val zos = new ZipOutputStream(new BufferedOutputStream(
      new FileOutputStream(path.toFile), 1 << 16))
    def put(name: String, body: String): Unit = {
      val e = new ZipEntry(name)
      e.setTime(315532800000L) // 1980-01-01, the zip epoch
      zos.putNextEntry(e)
      zos.write(body.getBytes(UTF_8))
      zos.closeEntry()
    }
    try {
      put("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>""")
      put("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
      put("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="EV" sheetId="1" r:id="rId1"/></sheets></workbook>""")
      put("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
      val sb = new StringBuilder(rows.length * 400)
      sb ++= """<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
      rows.zipWithIndex.foreach { case (row, ri) =>
        sb ++= s"""<row r="${ri + 1}">"""
        row.zipWithIndex.foreach { case (v, ci) =>
          if (v.nonEmpty)
            sb ++= s"""<c r="${colLetter(ci)}${ri + 1}" t="inlineStr"><is><t>${xmlEscape(v)}</t></is></c>"""
        }
        sb ++= "</row>"
      }
      sb ++= "</sheetData></worksheet>"
      put("xl/worksheets/sheet1.xml", sb.toString)
    } finally zos.close()
  }

  // ----------------------------------------------------------- documents --

  /** Syllables the vocabulary's words are built from. */
  private val Syllables = IndexedSeq("ka", "lo", "mi", "ren", "sa", "tor",
    "vel", "an", "is", "or", "un", "dra", "pe", "qui", "zo", "ber", "cha",
    "del", "fi", "gon", "ha", "jun", "lem", "nu")

  final case class Doc(id: Long, source: String, text: String)

  /** Word sampler: 2000 syllable words, Zipf-like rank weights. */
  final class Words(seed: Long) {
    private val r0 = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val vocab: IndexedSeq[String] = {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < 2000) {
        val n = 1 + r0.nextInt(3)
        seen += (0 until n).map(_ => Syllables(r0.nextInt(Syllables.length))).mkString
      }
      seen.toIndexedSeq
    }
    private val cdf: Array[Double] = {
      val w = vocab.indices.map(i => 1.0 / math.pow(i + 1, 0.9))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    def next(r: SplittableRandom): String = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      vocab(math.min(i, vocab.length - 1))
    }
  }

  /** One document: 20–60 tokens in lines of 6–14 tokens. */
  def docText(r: SplittableRandom, words: Words): String = {
    val n = 20 + r.nextInt(41)
    val sb = new StringBuilder
    var i = 0
    var line = 6 + r.nextInt(9)
    while (i < n) {
      if (i > 0) sb += (if (line == 0) { line = 6 + r.nextInt(9); '\n' } else ' ')
      sb ++= words.next(r)
      line -= 1
      i += 1
    }
    sb.toString
  }

  /** The near-duplicate plant: the original with one token appended. */
  def nearTwin(text: String, r: SplittableRandom, words: Words): String =
    text + " " + words.next(r) + "x"

  def ordered(a: Long, b: Long): (Long, Long) = if (a < b) (a, b) else (b, a)

  private def shuffle(r: SplittableRandom, n: Int): IndexedSeq[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq
  }

  /** Tab-separated `doc_id, source, text` with `\n` inside text escaped. */
  def writeDocs(path: Path, docs: Seq[Doc]): Unit = {
    val w = writer(path)
    try docs.foreach { d =>
      w.write(s"${d.id}\t${d.source}\t${d.text.replace("\n", "\\n")}\n")
    } finally w.close()
  }

  final case class Refresh(base: IndexedSeq[Doc], batches: IndexedSeq[IndexedSeq[Doc]],
                           planted: Seq[(Long, Long)], queries: Seq[(Long, String)])

  /** Stored-state inputs: `nBase` base docs, `nBatches` batches of
    * `batchSize` docs where a quarter of each batch are near twins of
    * distinct base docs, and a percolate registry of `nQueries` 3-token
    * queries cut from base docs. Batch ids are disjoint from base ids. */
  def refresh(seed: Long, nBase: Int, nBatches: Int, batchSize: Int,
              nQueries: Int): Refresh = {
    val r = new SplittableRandom(seed * 0x61C8864680B583EBL + 13)
    val words = new Words(seed + 1)
    val base = (0 until nBase).map(i =>
      Doc(i.toLong, s"src${i % 4}", docText(r, words)))
    val perm = shuffle(r, nBase)
    // each query is the three rarest tokens (by base document frequency)
    // of a base document the twins do not use, so a document holding all
    // three scores well above the alert threshold
    val df = mutable.HashMap[String, Int]().withDefaultValue(0)
    base.foreach(d => d.text.split("\\s+").distinct.foreach(t => df(t) += 1))
    val queries = (0 until nQueries).map { q =>
      val toks = base(perm(nBase - 1 - q)).text.split("\\s+").distinct
      (q.toLong, toks.sortBy(t => (df(t), t)).take(3).mkString(" "))
    }
    val nTwins = batchSize / 4
    var next = 0
    val planted = ArrayBuffer[(Long, Long)]()
    val batches = (0 until nBatches).map { b =>
      (0 until batchSize).map { k =>
        val id = 1000000L + b.toLong * 10000L + k
        if (k < nTwins) {
          val orig = perm(next); next += 1
          planted += ((orig.toLong, id))
          Doc(id, "batch", nearTwin(base(orig).text, r, words))
        } else if (k == batchSize - 1) {
          // every batch raises at least one percolate alert
          Doc(id, "batch", docText(r, words) + " " + queries(b % nQueries)._2)
        } else Doc(id, "batch", docText(r, words))
      }
    }
    Refresh(base, batches, planted.toSeq, queries)
  }
}
