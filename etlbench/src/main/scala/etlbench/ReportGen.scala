package etlbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded generator of `report_*.txt` files in the engine's 15-column input
  * layout (`graft.operators.Layout.validColumns`). The program under test
  * sees only the files; the generator keeps the ground truth the output
  * checks compare against.
  *
  * One file per day, named and mtime-stamped in day order: the streaming
  * file source orders micro-batches by mtime, and the visitantes rollover
  * counters depend on that order. Each data row draws its email uniformly
  * from a key space. A row is invalid when its email is bad (rate
  * `badEmailRate`) or one of its three dates has a bad shape (rate
  * `badDateRate`); both may hit the same row, which then yields two errores
  * rows. `wrongHeaderFiles` files drop a column from the header (the
  * pipeline quarantines them) and `headerOnlyFiles` files carry no rows.
  */
object ReportGen {

  val header: Seq[String] = graft.operators.Layout.validColumns

  final case class Spec(
      files: Int,
      rowsPerFile: Int,
      badEmailRate: Double,
      badDateRate: Double,
      wrongHeaderFiles: Int,
      headerOnlyFiles: Int,
      firstDay: LocalDate,
      prefix: String = "report")

  /** What a correct pipeline must produce from the generated files. */
  final case class Truth(
      files: Int,
      wrongHeader: Int,
      headerOnly: Int,
      validRows: Long,
      invalidRows: Long,
      errorCells: Long,
      keys: mutable.BitSet) {
    def dataRows: Long = validRows + invalidRows
    def distinctKeys: Int = keys.size
  }

  def email(k: Int): String = s"u$k@d${k % 97}.example.com"

  private val dayFmt = java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy")
  private val badEmails = Array((k: Int) => s"u$k.example.com", (k: Int) => s"u$k@example",
    (_: Int) => "", (k: Int) => s"@d$k.example.com")
  private val badDates = Array("2024-03-05 10:00", "32/01/2024 10:00", "15/13/2024 09:30",
    "05/03/2024 24:10")
  private val browsers = Array("Chrome", "Firefox", "Safari", "Edge")
  private val platforms = Array("Windows", "Linux", "Mac", "Android", "iOS")
  private val counts = Array("-", "0", "1", "2", "3", "5", "8")

  /** Writes `spec.files` files into `dir` and returns their ground truth.
    * `drawKey` picks each data row's email key from its own random stream.
    */
  def write(dir: Path, spec: Spec, seed: Long, drawKey: SplittableRandom => Int): Truth = {
    Files.createDirectories(dir)
    val master = new SplittableRandom(seed)
    // which file indices carry a wrong header / no rows: a seeded shuffle
    val order = shuffled(spec.files, master.split())
    val wrong = order.take(spec.wrongHeaderFiles).toSet
    val empty = order.slice(spec.wrongHeaderFiles,
      spec.wrongHeaderFiles + spec.headerOnlyFiles).toSet
    val keys = mutable.BitSet.empty
    var valid, invalid, cells = 0L
    for (i <- 0 until spec.files) {
      val rnd = master.split()
      val day = spec.firstDay.plusDays(i.toLong)
      val name = f"${spec.prefix}_${day.toString.replace("-", "")}_$i%04d.txt"
      val cols = if (wrong(i)) header.dropRight(1) else header
      val sb = new java.lang.StringBuilder(spec.rowsPerFile * 160)
      sb.append(cols.mkString(",")).append('\n')
      if (!empty(i)) for (_ <- 0 until spec.rowsPerFile) {
        val k = drawKey(rnd)
        val badEmail = rnd.nextDouble() < spec.badEmailRate
        val badDate = if (rnd.nextDouble() < spec.badDateRate) rnd.nextInt(3) else -1
        row(sb, rnd, day, k, badEmail, badDate, cols.size)
        if (!wrong(i)) {
          if (badEmail || badDate >= 0) {
            invalid += 1
            cells += (if (badEmail) 1 else 0) + (if (badDate >= 0) 1 else 0)
          } else {
            valid += 1
            keys += k
          }
        }
      }
      val f = dir.resolve(name)
      Files.write(f, sb.toString.getBytes(StandardCharsets.UTF_8))
      val mtime = day.atTime(6, 0).toInstant(ZoneOffset.UTC)
      Files.setLastModifiedTime(f, FileTime.from(mtime))
    }
    Truth(spec.files, wrong.size, empty.size, valid, invalid, cells, keys)
  }

  private def row(sb: java.lang.StringBuilder, rnd: SplittableRandom, day: LocalDate,
                  k: Int, badEmail: Boolean, badDate: Int, ncols: Int): Unit = {
    val d = day.format(dayFmt)
    val h = rnd.nextInt(20)
    def at(hour: Int) = f"$d $hour%02d:${rnd.nextInt(60)}%02d"
    val envio = at(h)
    val open = if (rnd.nextInt(10) < 6) at(h + 1) else ""
    val click = if (rnd.nextInt(10) < 3) at(h + 2) else ""
    val dates = Array(envio, open, click)
    if (badDate >= 0) dates(badDate) = badDates(rnd.nextInt(badDates.length))
    val fields = Array(
      if (badEmail) badEmails(rnd.nextInt(badEmails.length))(k) else email(k),
      if (rnd.nextBoolean()) "si" else "no",
      if (rnd.nextInt(20) == 0) "si" else "no",
      if (rnd.nextInt(50) == 0) "si" else "no",
      dates(0), dates(1),
      counts(rnd.nextInt(counts.length)), counts(rnd.nextInt(3)),
      dates(2),
      counts(rnd.nextInt(counts.length)), counts(rnd.nextInt(3)),
      s"l${rnd.nextInt(40)};l${rnd.nextInt(40)}",
      s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}",
      browsers(rnd.nextInt(browsers.length)),
      platforms(rnd.nextInt(platforms.length)))
    var c = 0
    while (c < ncols) {
      if (c > 0) sb.append(',')
      sb.append(fields(c))
      c += 1
    }
    sb.append('\n')
  }

  private def shuffled(n: Int, rnd: SplittableRandom): Seq[Int] = {
    val a = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
