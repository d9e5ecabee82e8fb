package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

/** Order statistics over one run's samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s((math.ceil(p / 100.0 * s.length).toInt max 1 min s.length) - 1)
  }

  /** The highest whole percentile that leaves at least 10 of `n` samples
    * above it; below 20 samples no percentile of the upper half does, and
    * the tail is the maximum. */
  def tailPct(n: Int): Int = if (n < 20) 100 else math.floor(100.0 * (n - 10) / n).toInt

  def tail(xs: Seq[Double]): Double = pct(xs, tailPct(xs.length))

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Blocking HTTP/1.1 GET against the served web face. */
object Http {
  final case class Resp(code: Int, body: String, bytes: Int)

  def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  def get(port: Int, pathAndQuery: String): Resp = {
    val c = URI.create(s"http://127.0.0.1:$port$pathAndQuery").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    try {
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val bytes = if (in == null) Array.emptyByteArray else in.readAllBytes()
      Resp(code, new String(bytes, UTF_8), bytes.length)
    } finally c.disconnect()
  }
}

/** Reading the web face's JSON replies (Jackson, on Spark's classpath)
  * and writing the result line. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)

  /** A render reply as (target → [(ts, value-or-NaN)]). */
  def series(body: String): Map[String, Vector[(Long, Double)]] =
    parse(body).elements().asScala.map { o =>
      o.get("target").asText -> o.get("datapoints").elements().asScala.map { dp =>
        val v = if (dp.get(0).isNull) Double.NaN else dp.get(0).asDouble
        (dp.get(1).asLong, v)
      }.toVector
    }.toMap

  /** A JSON number with every digit of `v` (null for NaN and infinities). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c => c.toString
  } + "\""
}

/** Host and process evidence: CPU steal from /proc, memory, GC time, and
  * the store's data files. */
object Host {
  /** (steal ticks, total ticks) from the aggregate `cpu` line. */
  def cpuTicks(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val l = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
        .drop(1).map(_.toLong)
      (if (l.length > 7) l(7) else 0L, l.sum)
    } finally src.close()
  } catch { case _: Exception => (0L, 0L) }

  /** VmHWM of this process, in MiB. */
  def rssPeakMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
    finally src.close()
  } catch { case _: Exception => 0.0 }

  /** Heap still in use after a full collection: what the running system
    * retains, in MiB. Spark frees broadcast and shuffle blocks from a
    * cleaner thread once a collection has found their owners dead, so
    * the heap is collected again after the cleaner had time to run. */
  def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def size(path: String): Long = java.nio.file.Files.size(java.nio.file.Paths.get(path))

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime max 0L).sum

  /** (file count, total bytes) of the data files under `dir`. */
  def dataFiles(dir: String): (Int, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return (0, 0L)
    val s = java.nio.file.Files.walk(root)
    try {
      var n = 0
      var b = 0L
      s.forEach { p =>
        val name = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) && name.endsWith(".parquet")) {
          n += 1
          b += java.nio.file.Files.size(p)
        }
      }
      (n, b)
    } finally s.close()
  }

  /** Data file paths under `dir`. */
  def dataFileSet(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Set.empty
    val s = java.nio.file.Files.walk(root)
    try {
      val b = Set.newBuilder[String]
      s.forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet")) b += p.toString
      }
      b.result()
    } finally s.close()
  }
}
