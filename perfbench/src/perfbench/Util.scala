package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Minimal JSON writer: Map / Seq / numbers / strings / booleans / null.
  * Maps keep their iteration order, so callers pass ListMaps or Seqs of
  * pairs when the order matters to a reader. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        quote(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; write(sb, x) }
      sb.append(']')
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Whole-machine CPU, io-wait and this JVM's CPU and GC, read at two points
  * so a measured window can say how much of the box someone else used. */
final class SysMeter {
  private val clkTck = 100.0
  private def procStat: (Long, Long, Long) = {
    val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
    val f = line.trim.split("\\s+").tail.map(_.toLong)
    val idle = f(3)
    val iowait = f(4)
    (f.take(8).sum, idle + iowait, iowait)
  }
  private def procCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }
  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  private val (t0, idle0, io0) = procStat
  private val cpu0 = procCpuNs
  private val gc0 = gcMs

  /** (foreign CPU share of the box, io-wait seconds summed over CPUs,
    * this JVM's GC seconds) since construction. */
  def read(): (Double, Double, Double) = {
    val (t1, idle1, io1) = procStat
    val totalS = (t1 - t0) / clkTck
    val busyS = totalS - (idle1 - idle0) / clkTck
    val ownS = (procCpuNs - cpu0) / 1e9
    val foreign = if (totalS <= 0) 0.0 else math.max(0.0, busyS - ownS) / totalS
    (foreign, (io1 - io0) / clkTck, (gcMs - gc0) / 1e3)
  }
}

object Census {
  /** (regular files, bytes) under `dir`, excluding Spark/Hadoop `.crc`
    * side files. */
  def apply(dir: String): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else if (f.isFile && !f.getName.endsWith(".crc")) { files += 1; bytes += f.length }
    walk(new File(dir))
    (files, bytes)
  }

  def fileSet(dir: String): Set[String] = {
    val out = Set.newBuilder[String]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else if (f.isFile && !f.getName.endsWith(".crc")) out += f.getPath
    walk(new File(dir))
    out.result()
  }

  /** Peak resident set of this JVM in GiB (VmHWM). */
  def peakRssGb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / (1024.0 * 1024.0)).getOrElse(Double.NaN)
}

/** Order-insensitive table digests: (row count, sum of per-row hashes mod a
  * prime). Equal multisets of rows give equal digests on any partitioning. */
object Digest {
  private val P = 1000000007L

  /** Digest per table of a frame of (`t` table name, `k` key string): one
    * job for any number of tables. */
  def perTable(df: DataFrame): Map[String, (Long, Long)] =
    df.groupBy("t").agg(count(lit(1)), sum(pmod(xxhash64(col("k")), lit(P))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** `|`-joined string key of the given columns (nulls as empty). */
  def keyCol(cols: Seq[String]): Column =
    concat_ws("|", cols.map(c => coalesce(col(c).cast("string"), lit(""))): _*).as("k")
}
