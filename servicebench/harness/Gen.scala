package servicebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.{DateTimeFormatter, ResolverStyle}
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded CSV uploads whose correct outcome is known without Spark.
  *
  * Every line is drawn from one of ten kinds: a clean row in the
  * reference generator's shape, or one planted defect. The expected
  * verdict of each line is computed here, in plain Scala, with the
  * reference's first-failure-wins order: arity, empty externalId, empty
  * name, key already in `existing`, key repeated earlier in the file,
  * quantity not an integer, date not a strict ISO date. A key enters the
  * seen set once its line passes the arity and empty checks. */
object Gen {
  val Header = "externalId,name,quantity,expiryDate"

  val ErrArity = "too few columns"
  val ErrExtEmpty = "externalId empty"
  val ErrNameEmpty = "name empty"
  val ErrDup = "duplicate externalId"
  val ErrQty = "quantity invalid"
  val ErrDate = "expiryDate invalid (expected yyyy-MM-dd)"

  /** Keys of the pre-existing item table: a range no upload draws from. */
  val ExistingBase = 9000000000L
  val ExistingKeys = 200000

  private val BaseDate = LocalDate.of(2026, 1, 1)
  private val IsoStrict =
    DateTimeFormatter.ofPattern("uuuu-MM-dd").withResolverStyle(ResolverStyle.STRICT)

  /** One CSV line as the reader sees it: `cells` are the logical cell
    * values after CSV unquoting (2 cells for a short row). */
  final case class Line(cells: Vector[String], text: String)

  /** The expected outcome of one upload. `loaded` holds
    * "externalId|name|quantity|expiryDate" keys of the valid rows. */
  final case class Expected(processed: Long, inserted: Long, failed: Long,
                            errorCounts: Map[String, Long],
                            loaded: Vector[String], reasons: Vector[String])

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Fresh externalId range of upload `u`: 10-digit keys, 1M per range. */
  private def rangeBase(seed: Long, u: Int): Long =
    1000000000L + Math.floorMod(mix(seed, 17L) + u, 7000L) * 1000000L

  /** The lines of upload `u` of a run seeded `seed`. */
  def lines(seed: Long, u: Int, rows: Int): Vector[Line] = {
    val rnd = new SplittableRandom(mix(seed, u.toLong + 1))
    val eligible = mutable.ArrayBuffer.empty[String]
    val base = rangeBase(seed, u)
    def qty(): String = (1 + rnd.nextInt(9999)).toString
    def date(): String = BaseDate.plusDays(1L + rnd.nextInt(364)).toString
    def name(): String = s"Item_${1 + rnd.nextInt(999)}"
    def plain(c: Vector[String]) = Line(c, c.mkString(","))
    Vector.tabulate(rows) { i =>
      val id = (base + i).toString
      val r = rnd.nextInt(900)
      // 94% clean; nine planted kinds at ~0.67% each
      val kind = if (r < 846) -1 else (r - 846) / 6
      val line = kind match {
        case 0 => // whitespace-padded cells, valid once trimmed
          val c = Vector(id, name(), qty(), date())
          Line(c.map(s => s"  $s "), c.map(s => s"  $s ").mkString(","))
        case 1 => // quoted name holding commas
          val n = s"It,em,${1 + rnd.nextInt(999)}"
          val c = Vector(id, n, qty(), date())
          Line(c, s"$id,\"$n\",${c(2)},${c(3)}")
        case 2 => // key already in `existing`
          plain(Vector((ExistingBase + rnd.nextInt(ExistingKeys)).toString,
            name(), qty(), date()))
        case 3 if eligible.nonEmpty => // repeat of an earlier line's key
          plain(Vector(eligible(rnd.nextInt(eligible.size)), name(), qty(), date()))
        case 4 => plain(Vector("   ", name(), qty(), date()))
        case 5 => plain(Vector(id, "  ", qty(), date()))
        case 6 => plain(Vector(id, name(), if (rnd.nextBoolean()) "abc" else "5.5", date()))
        case 7 => plain(Vector(id, name(), qty(),
          if (rnd.nextBoolean()) "31/12/1999" else "2026-02-30"))
        case 8 => plain(Vector(id, name()))
        case _ => plain(Vector(id, name(), qty(), date()))
      }
      val c = line.cells
      if (c.size == 4 && c(0).trim.nonEmpty && c(1).trim.nonEmpty) eligible += c(0).trim
      line
    }
  }

  def write(path: Path, ls: Vector[Line]): Unit = {
    val sb = new java.lang.StringBuilder(ls.size * 40)
    sb.append(Header).append('\n')
    ls.foreach(l => sb.append(l.text).append('\n'))
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  private def isInt(s: String): Boolean =
    try { Integer.parseInt(s); true } catch { case _: NumberFormatException => false }

  private def isoDate(s: String): Option[LocalDate] =
    try Some(LocalDate.parse(s, IsoStrict))
    catch { case _: java.time.format.DateTimeParseException => None }

  /** Reference verdict of every line (None = valid), in file order. A
    * null cell reads as "" — the reference's nullable quantity and
    * expiryDate accept it. */
  def verdicts(ls: Seq[Vector[String]], existing: String => Boolean): Vector[Option[String]] = {
    val seen = mutable.HashSet.empty[String]
    ls.map { c =>
      val cells = c.map(s => Option(s).getOrElse("").trim)
      if (c.size < 4) Some(ErrArity)
      else if (cells(0).isEmpty) Some(ErrExtEmpty)
      else if (cells(1).isEmpty) Some(ErrNameEmpty)
      else {
        val repeat = !seen.add(cells(0))
        if (existing(cells(0)) || repeat) Some(ErrDup)
        else if (cells(2).nonEmpty && !isInt(cells(2))) Some(ErrQty)
        else if (cells(3).nonEmpty && isoDate(cells(3)).isEmpty) Some(ErrDate)
        else None
      }
    }.toVector
  }

  def isExisting(k: String): Boolean =
    k.length == 10 && k.forall(_.isDigit) &&
      k.toLong >= ExistingBase && k.toLong < ExistingBase + ExistingKeys

  def loadedKey(ext: String, name: String, qty: Any, date: Any): String =
    s"$ext|$name|$qty|$date"

  def expected(ls: Vector[Line]): Expected = {
    val v = verdicts(ls.map(_.cells), isExisting)
    val loaded = ls.zip(v).collect { case (l, None) =>
      val c = l.cells.map(_.trim)
      loadedKey(c(0), c(1), if (c(2).isEmpty) null else Integer.parseInt(c(2)),
        if (c(3).isEmpty) null else isoDate(c(3)).get)
    }
    val reasons = v.flatten
    Expected(ls.size.toLong, loaded.size.toLong, reasons.size.toLong,
      reasons.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong },
      loaded.sorted, reasons.sorted)
  }

  /** Seven probe lines with empty cells, which the timed uploads never
    * contain. Reference verdicts: P1-P4 valid (quantity and expiryDate
    * are nullable), P5 `name empty`, P6 `too few columns`, and a
    * whitespace-only externalId `externalId empty`. */
  val probe: Vector[(String, Vector[String])] = Vector(
    "P1,Widget,5,2026-09-01" -> Vector("P1", "Widget", "5", "2026-09-01"),
    "P2,Widget,,2026-09-01" -> Vector("P2", "Widget", null, "2026-09-01"),
    "P3,Widget,5," -> Vector("P3", "Widget", "5", null),
    "P4,Widget,," -> Vector("P4", "Widget", null, null),
    "P5,,5,2026-09-01" -> Vector("P5", null, "5", "2026-09-01"),
    "P6,OnlyTwo" -> Vector("P6", "OnlyTwo"),
    "   ,Widget,5,2026-09-01" -> Vector("   ", "Widget", "5", "2026-09-01"))

  /** The reference's error-report line: raw cells, null as "", commas
    * stripped, then the reason (the `clean_comma_strip` form). */
  def referenceReportLine(cells: Vector[String], reason: String): String =
    (cells.padTo(4, null).map(s => Option(s).getOrElse("").replace(",", "")) :+ reason)
      .mkString(",")
}
