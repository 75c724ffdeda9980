package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Order statistics over latency samples. */
object Stats {

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile that leaves at least ten samples above
    * it, or None below twenty samples (where it would not be a tail). */
  def tailPercentile(n: Int): Option[Int] =
    if (n < 20) None else Some(math.min(99, (100L * (n - 10) / n).toInt))
}

/** EveStore's on-disk footprint, read from outside the store: every table
  * directory holds `v<N>` version directories and a MANIFEST naming the
  * current one. */
final case class StoreFootprint(diskBytes: Long, liveBytes: Long, versions: Int) {
  def spaceAmp: Double = if (liveBytes == 0L) 0.0 else diskBytes.toDouble / liveBytes
}

object StoreFootprint {

  private def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def children(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toList.sortBy(_.toString) finally s.close()
    }

  def of(root: Path): StoreFootprint = {
    val tables = children(root).filter(Files.isDirectory(_))
    val perTable = tables.map { t =>
      val versions = children(t).filter(d => Files.isDirectory(d) && d.getFileName.toString.matches("v\\d+"))
      val manifest = t.resolve("MANIFEST")
      val live =
        if (Files.exists(manifest)) bytesUnder(t.resolve("v" + Files.readString(manifest).trim)) else 0L
      (live, versions.size)
    }
    StoreFootprint(bytesUnder(root), perTable.map(_._1).sum, perTable.map(_._2).sum)
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
