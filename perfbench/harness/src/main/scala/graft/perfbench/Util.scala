package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

object Util {
  private val mapper = new ObjectMapper()

  def readJsonLines(p: Path): IndexedSeq[JsonNode] =
    Files.readAllLines(p, UTF_8).asScala.iterator.filter(_.nonEmpty)
      .map(l => mapper.readTree(l)).toIndexedSeq

  def readJson(p: Path): JsonNode = mapper.readTree(p.toFile)

  /** Minimal JSON writer: Map, Seq, String, Boolean, numbers, null. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => graft.JsonUtil.str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case a: Array[_] => json(a.toSeq)
    case other => json(other.toString)
  }

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  // ---- statistics ---------------------------------------------------------

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  def ms(ns: Long): Double = ns / 1e6

  // ---- result hashing -----------------------------------------------------

  /** A canonical text form of one value: doubles to 9 significant digits
    * (sums over a different partitioning may differ in the last ulps),
    * nested rows, arrays and maps recursively. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
        .stripTrailingZeros.toString
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def sha256(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  // ---- host ---------------------------------------------------------------

  /** Single-thread CPU yardstick (the same xorshift loop graft.Bench
    * records): wall ms for 1e8 steps. */
  def cpuCalMs(): Double = {
    var x = 88172645463325252L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e6
    if (x == 0) System.err.println("unreachable")
    dt
  }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator.asScala.toList finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t)
    } finally s.close()
  }

  def path(s: String): Path = Paths.get(s)
}
