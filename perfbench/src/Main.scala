package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point: one Spark session, one workload, one
  * seed. Prints host evidence, then the result as the last stdout line:
  * `{"correct", "attempted", "failed", "metrics"}` — end-to-end metrics
  * for an untraced run, per-layer metrics for a traced one.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *                  --trace <0|1> --root <scratch dir> [--commit <sha>]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, root: String, commit: String)

  /** Metric values of one run, in report order. */
  final class Report {
    val values = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)

    /** Count one checked operation; `error` is why it failed, if it did. */
    def check(what: String, error: Option[String]): Unit = synchronized {
      attempted += 1
      error.foreach { e =>
        failed += 1
        if (failures.length < 20) failures += s"$what: $e"
      }
    }

    def json: String = {
      val ms = values.map { case (k, (v, u)) =>
        s"${Json.quote(k)}:{" + s""""value":${Json.num(v)},"unit":${Json.quote(u)}}"""
      }.mkString("{", ",", "}")
      s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
    }
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("root"), kv.getOrElse("commit", "unknown"))
  }

  /** The session profile under test. */
  def session(root: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // StreamingIngest's doc: the 4.1 checksum manager can deadlock a
      // local single-JVM stream
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val code = try { run(parse(argv)); 0 } catch {
      case e: Throwable =>
        System.err.println("perfbench: run failed")
        e.printStackTrace()
        1
    }
    // explicit exit: BgWeb.build's request pool is non-daemon and never
    // shut down, so a JVM that stopped its server would still not end.
    // halt skips Spark's shutdown hooks, whose only work here is deleting
    // scratch files that run.py deletes anyway
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  def run(a: Args): Unit = {
    val workload: (SparkSession, Args, Report) => Unit = a.workload match {
      case "render_dashboard" => RenderDashboard.run
      case "carbon_ingest" => CarbonIngest.run
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    require(a.seconds > 0, "--seconds must be positive")
    val (steal0, total0) = Host.cpuTicks()
    val (spark, sessionS) = timed(session(a.root))
    val report = new Report
    val (_, workloadS) = timed(workload(spark, a, report))
    System.err.println(f"perfbench: session $sessionS%.2fs, workload $workloadS%.2fs")
    val (steal1, total1) = Host.cpuTicks()
    val steal = if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
    if (a.trace) report.put("host.cpu_steal_frac", steal, "frac")
    println(s"""{"host":{"workload":${Json.quote(a.workload)},"seed":${a.seed},""" +
      s""""seconds":${a.seconds},"trace":${a.trace},"nproc":""" +
      s"""${Runtime.getRuntime.availableProcessors},"cpu_steal_frac":${Json.num(steal)},""" +
      s""""commit":${Json.quote(a.commit)},"jvm":${Json.quote(
        System.getProperty("java.version"))},"spark":${Json.quote(spark.version)},""" +
      s""""scala":${Json.quote(scala.util.Properties.versionNumberString)},""" +
      s""""master":${Json.quote(spark.sparkContext.master)},""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
      s""""rss_peak_mb":${Json.num(Host.rssPeakMb())}}}""")
    report.failures.foreach(f => System.err.println(s"perfbench: FAILED $f"))
    println(report.json)
  }

  /** Wall time of `body` in seconds, with its result. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `body` with its console output sent to stderr (the CLI
    * functions print progress lines; stdout carries only the report). */
  def quietly[T](body: => T): T = Console.withOut(System.err)(body)
}
