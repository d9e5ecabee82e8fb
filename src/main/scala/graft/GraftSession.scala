package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session profile of every measurement and verification main
  * (`Bench`, `Soak`, `TrickleSoak`, `CurationSoak`, `Verify`). Session
  * conf is part of the measured system, so the harnesses share it
  * instead of each carrying a copy that drifts; a change to [[Profile]]
  * is a change to every published number and needs an A/B.
  *
  * Every value is only a default (`SparkConf.setIfMissing`): a
  * `-Dspark.<key>=<value>` system property, for example through
  * `JAVA_TOOL_OPTIONS`, overrides it. `Bench`'s forked chunk JVMs
  * inherit such a property through their JVM arguments and
  * environment. */
object GraftSession {

  val Profile: Seq[(String, String)] = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      // ~50 queries x several codegen stages each churn the default
      // 100-entry generated-class cache, so later passes re-compile
      // (and re-warm C2 on) stages they already ran — visible as
      // multi-pass warm-up tails in the bench samples. Size the cache
      // to the whole headline set.
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      // Spark 4.1's checksum checkpoint manager deadlocks in single-JVM
      // local streams (its create() awaits a background future that the
      // starved default pool never runs); plain checkpoint files are fine.
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")
  }

  /** The session of this JVM, on [[Profile]]. Prints one stderr line per
    * `spark.*` system property it runs under, so a published leg
    * records the conf it was measured with. */
  def apply(): SparkSession = {
    val conf = new SparkConf() // loads the spark.* system properties
    Profile.foreach { case (k, v) => conf.setIfMissing(k, v) }
    sys.props.toSeq.filter(_._1.startsWith("spark.")).sorted.foreach {
      case (k, v) => System.err.println(s"[session] $k=$v (system property)")
    }
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
