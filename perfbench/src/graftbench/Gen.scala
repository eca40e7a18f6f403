package graftbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Seeded input generation shared by every workload.
  *
  * Values are pure functions of (seed, coordinates) — [[hash]] — so the
  * correctness references recompute any generated value instead of
  * keeping a copy. Every byte written goes through one [[Files]]
  * instance, whose SHA-256 digest proves that a seed reproduces its
  * inputs byte for byte.
  */
object Gen {
  /** SplitMix64 finaliser over a seed and coordinates. */
  def hash(seed: Long, xs: Long*): Long = {
    var h = seed * 0x9E3779B97F4A7C15L
    xs.foreach { x =>
      h ^= x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2)
      h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
      h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
      h ^= h >>> 31
    }
    h
  }

  /** Uniform integer in [0, n). */
  def below(n: Int, seed: Long, xs: Long*): Int =
    java.lang.Long.remainderUnsigned(hash(seed, xs: _*), n.toLong).toInt

  /** Uniform double in [0, 1). */
  def unit(seed: Long, xs: Long*): Double = (hash(seed, xs: _*) >>> 11) * (1.0 / (1L << 53))

  /** Zipf(s) sampler over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def rank(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Token `i` of a generated vocabulary: lower-case letters only, so
    * whitespace tokenisation and the text pipeline see plain words. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    do { sb += ('a' + x % 26).toChar; x = x / 26 - 1 } while (x >= 0)
    sb.append("q").reverse.toString
  }

  /** Minerva distinguished names for a Region → Site → Cell hierarchy. */
  final class Network(val cells: Int, cellsPerSite: Int, sitesPerRegion: Int) {
    def site(cell: Int): Int = cell / cellsPerSite
    def region(site: Int): Int = site / sitesPerRegion
    val sites: Int = (cells + cellsPerSite - 1) / cellsPerSite
    def siteDn(s: Int): String = s"Network=graft,Region=R${region(s)},Site=S$s"
    def regionDn(r: Int): String = s"Network=graft,Region=R$r"
    def cellDn(c: Int): String = s"${siteDn(site(c))},Cell=C$c"
  }

  /** graft's EntityRegistry.entityId computed in plain Scala: the first
    * 15 hex digits of md5(dn) as a long. */
  def entityId(dn: String): Long = {
    val md = MessageDigest.getInstance("MD5").digest(dn.getBytes(UTF_8))
    val hex = md.map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Writes generated files and keeps the digest, file count and bytes. */
  final class Files(val root: String) {
    private val md = MessageDigest.getInstance("SHA-256")
    var files = 0
    var bytes = 0L

    def write(rel: String)(lines: Iterator[String]): String = {
      val f = new java.io.File(root, rel)
      f.getParentFile.mkdirs()
      val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 16)
      try lines.foreach { l =>
        val b = (l + "\n").getBytes(UTF_8)
        out.write(b); md.update(b); bytes += b.length
      } finally out.close()
      md.update(rel.getBytes(UTF_8))
      files += 1
      f.getPath
    }

    def digest: String = md.clone().asInstanceOf[MessageDigest].digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def timestamp(epochSecond: Long): String =
    java.time.LocalDateTime.ofEpochSecond(epochSecond, 0, java.time.ZoneOffset.UTC)
      .toString.replace('T', ' ') match {
      case s if s.length == 16 => s + ":00"
      case s => s
    }

  /** 2024-01-01 00:00:00 UTC, the first day of every generated timeline. */
  val Epoch: Long = 1704067200L
  def day(d: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString
}
