package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.SplittableRandom

/** What one generated ticker file holds. */
final case class FileStats(name: String, valid: Long, malformed: Long, bytes: Long)

/** Seeded generator of ticker CSV files in the loader's input layout:
  * `<root>/<yyyy-MM-dd>/<TICKER>_PST_<yyyy-MM-dd>`, nine comma-separated
  * fields per line, no header. A malformed line is a quote cut to three
  * fields, which the ingest must quarantine. The same seed always yields
  * the same bytes.
  */
object Gen {
  private val Bases = IndexedSeq("AVA", "BTC", "ETH", "SOL", "ADA", "XRP", "DOT",
    "LTC", "TRX", "ATOM", "LINK", "NEAR", "APT", "ARB", "OP", "FIL")

  /** The i-th ticker symbol: a base plus a numeric suffix past the bases. */
  def ticker(i: Int): String = {
    val b = Bases(i % Bases.size)
    val k = i / Bases.size
    if (k == 0) s"$b-USDT" else s"$b$k-USDT"
  }

  def fileName(ticker: String, date: LocalDate): String = s"${ticker}_PST_$date"

  /** Fixed-point value with four decimals, without String.format. */
  private def dec4(sb: java.lang.StringBuilder, v: Long): Unit = {
    sb.append(v / 10000).append('.')
    val f = (v % 10000).toInt
    if (f < 1000) sb.append('0')
    if (f < 100) sb.append('0')
    if (f < 10) sb.append('0')
    sb.append(f)
  }

  private def two(sb: java.lang.StringBuilder, v: Int): Unit = {
    if (v < 10) sb.append('0')
    sb.append(v)
  }

  /** Writes one file of `valid` good lines with `malformed` bad lines at
    * seeded positions, and returns what it holds.
    */
  def writeFile(dir: File, ticker: String, date: LocalDate, valid: Int,
      malformed: Int, rnd: SplittableRandom): FileStats = {
    dir.mkdirs()
    val name = fileName(ticker, date)
    val f = new File(dir, name)
    val bad = Iterator.continually(rnd.nextInt(valid + malformed))
      .distinct.take(malformed).toSet
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.US_ASCII), 1 << 16)
    val sb = new java.lang.StringBuilder(128)
    var price = 10000L + rnd.nextLong(5000000L)
    val day = date.toString
    var seq = 1000000L + rnd.nextLong(1000000L)
    val stepMs = math.max(1L, 86400000L / (valid + malformed + 1))
    var i = 0
    try {
      while (i < valid + malformed) {
        sb.setLength(0)
        seq += 1
        price = math.max(100L, price + rnd.nextLong(41L) - 20L)
        sb.append(ticker).append(',').append(seq).append(',')
        dec4(sb, price)
        if (bad.contains(i)) sb.append('\n')
        else {
          val spread = 1L + rnd.nextLong(10L)
          sb.append(',')
          dec4(sb, 1L + rnd.nextLong(5000000L)); sb.append(',')
          dec4(sb, price + spread); sb.append(',')
          dec4(sb, 1L + rnd.nextLong(2000000L)); sb.append(',')
          dec4(sb, price - spread); sb.append(',')
          dec4(sb, 1L + rnd.nextLong(2000000L)); sb.append(',')
          val ms = i * stepMs
          sb.append(day).append('T')
          two(sb, (ms / 3600000L).toInt); sb.append(':')
          two(sb, (ms / 60000L % 60).toInt); sb.append(':')
          two(sb, (ms / 1000L % 60).toInt); sb.append('.')
          val frac = (ms % 1000L).toInt
          if (frac < 100) sb.append('0')
          if (frac < 10) sb.append('0')
          sb.append(frac).append('\n')
        }
        out.write(sb.toString)
        i += 1
      }
    } finally out.close()
    FileStats(name, valid.toLong, malformed.toLong, f.length())
  }

  /** Atomically publishes a staged date directory into the watched root. */
  def publish(staged: File, root: File): Unit = {
    root.mkdirs()
    java.nio.file.Files.move(staged.toPath, new File(root, staged.getName).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }
}
