package e2ebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.{SplittableRandom, UUID}

import scala.collection.mutable.ArrayBuffer

/** One profile the pipeline must deliver: a well-formed result with a
 * non-null id whose year-difference age is above 18. `file` is the input
 * file that first carries it; `domain` is the generator's own label for the
 * email's registrable domain. */
final case class Expected(id: String, gender: String, age: Int, domain: String, file: Int)

/** What one input file carries, for the ledger the checks rebuild. */
final case class FileTruth(lines: Int, envelopes: Int, malformed: Int, empty: Int,
    redelivered: Int, results: Int, nullIds: Int, underAge: Int, rowsOut: Int)

/** The generator's record of everything it wrote. */
final case class Truth(expected: IndexedSeq[Expected], files: IndexedSeq[FileTruth]) {
  def rowsOut: Long = files.map(_.rowsOut.toLong).sum
  /** The truth of the first `n` files alone. */
  def take(n: Int): Truth = Truth(expected.filter(_.file < n), files.take(n))
  /** A1..A4 recomputed from the ground truth alone. */
  def a1: Long = expected.size.toLong
  def a2: Map[String, Long] = expected.groupBy(_.gender).map { case (g, v) => g -> v.size.toLong }
  def a3: Seq[(String, Long)] = expected.groupBy(_.domain).toSeq
    .map { case (d, v) => d -> v.size.toLong }
    .sortBy { case (d, n) => (-n, d) }.take(5)
  def a4: Seq[(Int, Long, Long)] = {
    val byAge = expected.groupBy(_.age).toSeq.map { case (a, v) => a -> v.size.toLong }.sortBy(_._1)
    byAge.scanLeft((0, 0L, 0L)) { case ((_, _, cum), (a, n)) => (a, n, cum + n) }.tail
  }
}

/** Input make-up of one workload's envelope files. Shares are per mille. */
final case class Mix(resultsPerEnvelope: Int, linesPerFile: Int, underAgePm: Int,
    nullIdPm: Int, malformedPm: Int, emptyPm: Int, redeliverPm: Int)

/**
 * randomuser.me-shaped envelope generator (the shape of the reference
 * producer's `requests.get("https://randomuser.me/api/")` payload). Every
 * value is drawn from the seed; the generator records, while it writes,
 * which profiles a correct pipeline must deliver.
 */
final class EnvelopeGen(seed: Long, mix: Mix) {
  import EnvelopeGen._

  private val rnd = new SplittableRandom(seed)
  private val expected = ArrayBuffer.empty[Expected]
  private val files = ArrayBuffer.empty[FileTruth]
  private var serial = 0L

  def truth: Truth = Truth(expected.toIndexedSeq, files.toIndexedSeq)

  /** Writes file number `files.size` atomically into `dir`. */
  def writeFile(dir: Path): Path = {
    val text = nextFile()
    val idx = files.size - 1
    val name = f"env-$idx%06d.json"
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, text.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The next file's text; its truth is appended to `truth`. */
  def nextFile(): String = {
    val idx = files.size
    val lines = ArrayBuffer.empty[String]
    var malformed, empty, redelivered, results, nullIds, underAge, rowsOut = 0
    var envelopes = 0
    val rowsOfLine = ArrayBuffer.empty[Int]
    while (lines.size < mix.linesPerFile) {
      val u = rnd.nextInt(1000)
      if (lines.nonEmpty && u < mix.redeliverPm) {
        // identical redelivery of an earlier line of the same file
        val j = rnd.nextInt(lines.size)
        lines += lines(j); rowsOfLine += rowsOfLine(j); rowsOut += rowsOfLine(j)
        redelivered += 1
      } else if (u < mix.redeliverPm + mix.malformedPm) {
        lines += malformedLine(); rowsOfLine += 0; malformed += 1
      } else if (u < mix.redeliverPm + mix.malformedPm + mix.emptyPm) {
        serial += 1
        lines += s"""{"results":[],"info":{"seed":"$seed","results":0,"page":$serial,"version":"1.4"}}"""
        rowsOfLine += 0; empty += 1
      } else {
        envelopes += 1
        val rs = (0 until mix.resultsPerEnvelope).map { _ =>
          val r = nextResult()
          results += 1
          if (r.id.isEmpty) nullIds += 1
          else if (r.age <= 18) underAge += 1
          else expected += Expected(r.id.get, r.gender, r.age, r.domain, idx)
          r
        }
        val kept = rs.count(r => r.id.nonEmpty && r.age > 18)
        lines += rs.map(_.json).mkString("""{"results":[""", ",",
          s"""],"info":{"seed":"$seed","results":${rs.size},"page":${serial},"version":"1.4"}}""")
        rowsOfLine += kept; rowsOut += kept
      }
    }
    files += FileTruth(lines.size, envelopes, malformed, empty, redelivered, results,
      nullIds, underAge, rowsOut)
    lines.mkString("", "\n", "\n")
  }

  private final case class Result(id: Option[String], gender: String, age: Int,
      domain: String, json: String)

  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))

  private def nextResult(): Result = {
    serial += 1
    val gender = if (rnd.nextBoolean()) "male" else "female"
    val first = pick(if (gender == "male") MaleFirst else FemaleFirst)
    val last = pick(Last)
    val title = if (gender == "male") pick(Vector("Mr", "Dr", "Monsieur"))
      else pick(Vector("Ms", "Mrs", "Miss", "Madame"))
    // Under-age draws straddle the strict `age > 18` cut: years 2006..2011
    // give ages 20..15 against the frozen as-of year 2026.
    val year =
      if (rnd.nextInt(1000) < mix.underAgePm) 2008 + rnd.nextInt(4)
      else if (rnd.nextInt(10) == 0) 2006 + rnd.nextInt(2)
      else 1946 + rnd.nextInt(60)
    val age = AsOfYear - year
    val dob = f"$year%04d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02dT" +
      f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d.${rnd.nextInt(1000)}%03dZ"
    val d = Domains(zipf())
    val host = (if (rnd.nextInt(4) == 0) "mail." else "") + d._1 + "." + d._2
    val user = s"${first.toLowerCase}.${last.toLowerCase}${rnd.nextInt(100)}"
    val email = s"$user@$host"
    val id = if (rnd.nextInt(1000) < mix.nullIdPm) None
      else Some(new UUID(rnd.nextLong(), rnd.nextLong()).toString)
    val c = pick(Places)
    val uuidJson = id.fold("null")(u => "\"" + u + "\"")
    val regYear = 2002 + rnd.nextInt(22)
    val json =
      s"""{"gender":"$gender","name":{"title":"$title","first":"$first","last":"$last"},""" +
      s""""location":{"street":{"number":${1 + rnd.nextInt(9999)},"name":"${pick(Streets)}"},""" +
      s""""city":"${c._1}","state":"${c._2}","country":"${c._3}","postcode":${10000 + rnd.nextInt(89999)},""" +
      s""""coordinates":{"latitude":"${rnd.nextInt(180) - 90}.${rnd.nextInt(10000)}","longitude":"${rnd.nextInt(360) - 180}.${rnd.nextInt(10000)}"}},""" +
      s""""email":"$email","login":{"uuid":$uuidJson,"username":"${user.replace(".", "")}","password":"pw${rnd.nextInt(100000)}"},""" +
      s""""dob":{"date":"$dob","age":${age - (if (rnd.nextBoolean()) 1 else 0)}},""" +
      s""""registered":{"date":"$regYear-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(10)}T10:2${rnd.nextInt(10)}:00.000Z","age":${2026 - regYear}},""" +
      s""""phone":"0${rnd.nextInt(10)}-${1000000 + rnd.nextInt(8999999)}","nat":"${c._4}"}"""
    Result(id, gender, age, d._1, json)
  }

  private def malformedLine(): String = {
    val full = nextResultJsonOnly()
    // cut inside the first result: not parseable as JSON
    """{"results":[""" + full.take(20 + rnd.nextInt(full.length / 2))
  }

  private def nextResultJsonOnly(): String = {
    val save = serial
    val r = nextResult()
    serial = save
    r.json
  }

  /** Zipf(s = 1.1) rank over the domain table. */
  private def zipf(): Int = {
    val u = rnd.nextDouble() * ZipfCdf.last
    val i = java.util.Arrays.binarySearch(ZipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, ZipfCdf.length - 1)
  }
}

object EnvelopeGen {
  val AsOfYear = 2026
  val AsOf: java.sql.Date = java.sql.Date.valueOf("2026-01-01")

  val Live = Mix(resultsPerEnvelope = 1, linesPerFile = 20, underAgePm = 120,
    nullIdPm = 20, malformedPm = 10, emptyPm = 10, redeliverPm = 30)

  /** (registrable label, public suffix): single-label TLDs and the
   * multi-label public-suffix families. Labels are unique. */
  val Domains: IndexedSeq[(String, String)] = {
    val suffixes = Vector("com", "co.uk", "org", "k12.ca.us", "net", "pref.osaka.jp",
      "com.au", "io", "co.jp", "de", "k12.tx.us", "org.uk", "fr", "pref.hokkaido.jp",
      "com.br", "co.nz")
    val labels = Vector("gmail", "yahoo", "outlook", "lincoln", "proton", "kansai",
      "bigpond", "fastmail", "docomo", "web", "austin", "bbc", "orange", "sapporo",
      "uol", "xtra", "hotmail", "aol", "zoho", "riverside", "mailbox", "umeda",
      "optus", "hey", "nifty", "gmx", "dallas", "nhs", "free", "otaru", "terra",
      "spark", "icloud", "yandex", "tutanota", "oakland", "posteo", "namba",
      "iinet", "pm", "biglobe", "tonline", "houston", "guardian", "laposte",
      "hakodate", "bol", "slingshot")
    labels.indices.map(i => labels(i) -> suffixes(i % suffixes.size))
  }

  private val ZipfCdf: Array[Double] =
    Domains.indices.map(i => 1.0 / math.pow(i + 1, 1.1)).scanLeft(0.0)(_ + _).tail.toArray

  private val MaleFirst = Vector("Liam", "Noah", "Oliver", "Elias", "Hugo", "Mateo",
    "Lucas", "Arthur", "Yusuf", "Kenji", "Omar", "Felix")
  private val FemaleFirst = Vector("Emma", "Olivia", "Ava", "Mia", "Lea", "Sofia",
    "Chloe", "Yuki", "Amira", "Ines", "Nora", "Ada")
  private val Last = Vector("Martin", "Smith", "Garcia", "Muller", "Rossi", "Sato",
    "Elhosni", "Nguyen", "Kowalski", "Silva", "Dubois", "Jensen", "Okafor", "Novak")
  private val Streets = Vector("Baker Street", "Rue de Rivoli", "Main St", "Hauptstrasse",
    "Calle Mayor", "Avenue Hassan II", "King Road")
  private val Places = Vector(
    ("London", "England", "United Kingdom", "GB"), ("Lyon", "Rhone", "France", "FR"),
    ("Casablanca", "Casablanca-Settat", "Morocco", "MA"), ("Berlin", "Berlin", "Germany", "DE"),
    ("Austin", "Texas", "United States", "US"), ("Osaka", "Osaka", "Japan", "JP"),
    ("Perth", "Western Australia", "Australia", "AU"), ("Madrid", "Madrid", "Spain", "ES"))
}
