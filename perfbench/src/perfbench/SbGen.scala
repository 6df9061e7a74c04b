package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.Random

/** Zipf(s) sampler over ranks 0 until n (rank 0 most popular). */
final class Zipf(n: Int, s: Double, rnd: Random) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  def next(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One generated Service Bulletin, in the shape of the reference corpus:
  * a `boeing_service_bulletin` root with a header, an `airplanes`
  * effectivity line that names shared airplane types and line numbers,
  * and TITLE'd sections holding steps, parts and tables.
  */
final case class Sb(
    docnbr: String,
    revision: Int,
    subject: String,
    types: Seq[String],
    lines: Seq[String],
    sections: Seq[SbSection]) {

  def xml: String = {
    val sb = new StringBuilder
    sb ++= s"""<boeing_service_bulletin docnbr="$docnbr">"""
    sb ++= s"<header><number>$docnbr</number><subject>$subject</subject>" +
      s"<revision>$revision</revision></header>"
    sb ++= "<airplanes>" + types.mkString(" ") +
      " Airplane(s), line number(s) " + lines.mkString(", ") + "</airplanes>"
    sections.foreach { s =>
      sb ++= s"<section><TITLE>${s.title}</TITLE>"
      s.steps.foreach(t => sb ++= s"<step>$t</step>")
      s.parts.foreach(p => sb ++= s"<part>$p</part>")
      s.table.foreach { rows =>
        sb ++= "<TABLE>"
        rows.foreach(r => sb ++= r.map(c => s"<entry>$c</entry>")
          .mkString("<row>", "", "</row>"))
        sb ++= "</TABLE>"
      }
      sb ++= "</section>"
    }
    sb ++= "</boeing_service_bulletin>"
    sb.toString
  }

  /** Element nodes at depth 1..3 below the root — the flagship
    * `-[*1..3]->` neighbourhood (containment edges only).
    */
  def flagshipRows: Int = {
    val d1 = 2 + sections.size
    val d2 = 3 + sections.map(s => 1 + s.steps.size + s.parts.size +
      s.table.size).sum
    val d3 = sections.flatMap(_.table).map(_.size).sum
    d1 + d2 + d3
  }

  /** Containment edge census: HAS_<TAG> type → count. */
  def hasCounts: Map[String, Int] = {
    val tables = sections.flatMap(_.table)
    Map(
      "HAS_HEADER" -> 1, "HAS_NUMBER" -> 1, "HAS_SUBJECT" -> 1,
      "HAS_REVISION" -> 1, "HAS_AIRPLANES" -> 1,
      "HAS_SECTION" -> sections.size,
      "HAS_TITLE" -> sections.size,
      "HAS_STEP" -> sections.map(_.steps.size).sum,
      "HAS_PART" -> sections.map(_.parts.size).sum,
      "HAS_TABLE" -> tables.size,
      "HAS_ROW" -> tables.map(_.size).sum,
      "HAS_ENTRY" -> tables.map(_.map(_.size).sum).sum
    ).filter(_._2 > 0)
  }

  /** Graph nodes this document contributes, hubs excluded: the root
    * plus one node per containment edge.
    */
  def ownNodes: Int = 1 + hasCounts.values.sum
}

final case class SbSection(title: String, steps: Seq[String],
    parts: Seq[String], table: Option[Seq[Seq[String]]])

/** Seeded SB corpus generator. Airplane types, line numbers and part
  * numbers are drawn from Zipf-popular pools, so effectivity hubs and
  * part lookups are shared across bulletins.
  */
final class SbGen(seed: Long) {
  private val rnd = new Random(seed)
  val AirplaneTypes: Vector[String] = Vector("737-600", "737-700",
    "737-800", "737-900", "737-900ER", "747-400", "757-200", "767-300",
    "777-200", "777-300ER", "787-8", "787-9")
  val Titles: Vector[String] = Vector("PLANNING INFORMATION",
    "EFFECTIVITY", "CONCURRENT REQUIREMENTS", "REASON", "DESCRIPTION",
    "COMPLIANCE", "APPROVAL", "MANPOWER", "MATERIAL INFORMATION",
    "ACCOMPLISHMENT INSTRUCTIONS")
  private val Verbs = Vector("Remove", "Install", "Inspect", "Replace",
    "Torque", "Clean", "Measure", "Record", "Apply", "Verify", "Seal",
    "Drill", "Test", "Adjust", "Lubricate")
  private val Objects = Vector("fastener", "bracket", "panel", "seal",
    "bolt", "clamp", "harness", "fitting", "shim", "nut", "washer",
    "sensor", "valve", "duct", "hinge", "spar", "rib", "stringer")
  private val Places = Vector("wing", "fuselage", "nacelle", "pylon",
    "stabilizer", "flap", "slat", "door", "cargo bay", "wheel well")
  private val typeZ = new Zipf(AirplaneTypes.size, 1.0, rnd)
  private val lineZ = new Zipf(SbGen.NLines, 0.9, rnd)
  private val partZ = new Zipf(SbGen.NParts, 1.0, rnd)
  import SbGen.{docnbr, lineName, partName}

  private def distinctDraws(k: Int, draw: () => Int): Seq[Int] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Int]
    var guard = 0
    while (out.size < k && guard < 100 * k) { out += draw(); guard += 1 }
    out.toSeq.sorted
  }

  def bulletin(i: Int, revision: Int = 0): Sb = {
    val types = distinctDraws(1 + rnd.nextInt(3), () => typeZ.next())
      .map(AirplaneTypes)
    val lines = distinctDraws(1 + rnd.nextInt(6), () => lineZ.next())
      .map(lineName)
    val nSec = 2 + rnd.nextInt(4)
    val titles = rnd.shuffle(Titles).take(nSec)
    val sections = titles.map { t =>
      val steps = Seq.fill(1 + rnd.nextInt(6))(
        s"${Verbs(rnd.nextInt(Verbs.size))} the ${Objects(rnd.nextInt(
          Objects.size))} at ${Places(rnd.nextInt(Places.size))} station " +
          (100 + rnd.nextInt(900)))
      val parts = distinctDraws(rnd.nextInt(4), () => partZ.next())
        .map(partName)
      val table =
        if (rnd.nextInt(3) == 0)
          Some(Seq.fill(2 + rnd.nextInt(2))(Seq(
            partName(partZ.next()), (1 + rnd.nextInt(20)).toString)))
        else None
      SbSection(t, steps, parts, table)
    }
    Sb(docnbr(i), revision,
      s"${Objects(rnd.nextInt(Objects.size))} ${Verbs(rnd.nextInt(
        Verbs.size)).toLowerCase} - ${Places(rnd.nextInt(Places.size))}",
      types, lines, sections)
  }

  /** A revision keeps the bulletin number and its effectivity, and
    * rewrites one step — new content, so MERGE adds new nodes.
    */
  def revise(b: Sb): Sb = {
    val si = rnd.nextInt(b.sections.size)
    val s = b.sections(si)
    val steps = s.steps.updated(0, s.steps.head + s" rev ${b.revision + 1}")
    b.copy(revision = b.revision + 1,
      sections = b.sections.updated(si, s.copy(steps = steps)))
  }
}

object SbGen {
  val NLines = 300
  val NParts = 400
  def lineName(i: Int): String = f"L$i%05d"
  def partName(i: Int): String = f"PN-$i%05d"
  def docnbr(i: Int): String = f"SB-$i%06d"

  /** Write each bulletin as its own XML file under `dir`. */
  def writeXml(dir: Path, sbs: Seq[Sb]): Long = {
    Files.createDirectories(dir)
    sbs.map { b =>
      val bytes = b.xml.getBytes(StandardCharsets.UTF_8)
      Files.write(dir.resolve(s"${b.docnbr}-r${b.revision}.xml"), bytes)
      bytes.length.toLong
    }.sum
  }

  /** Node count of a corpus: each bulletin's own nodes plus the shared
    * Airplane and LineNumber hubs (one node per distinct value).
    */
  def expectedNodes(sbs: Seq[Sb]): Long =
    sbs.map(_.ownNodes.toLong).sum + sbs.flatMap(_.types).distinct.size +
      sbs.flatMap(_.lines).distinct.size
}
