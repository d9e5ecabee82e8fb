package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet directory reads that infer their schema once per store state.
  *
  * `spark.read.parquet(dir)` reads a footer in a Spark job on every call
  * to infer the schema, yet the schema can only change when the set of
  * files it reads does. A read here hands Spark the schema it last
  * inferred for `table`, and keeps it only while the relation's own file
  * listing is the set that schema came from; any other set — an append,
  * a compaction's replacement files, a deleted bucket, a newly committed
  * catalog version in its own directory — is inferred afresh, exactly as
  * an uncached read would. A never-rewritten directory therefore infers
  * once.
  */
object InferredSchemas {

  private final case class Inferred(session: SparkSession, files: Set[String],
      schema: StructType)

  // one entry per logical table: its latest state replaces the previous
  // one, so versioned directories do not accumulate entries
  private val byTable = new ConcurrentHashMap[String, Inferred]()

  /** Read the parquet directory `dir` holding the current state of
    * `table` (a stable name: the directory itself for a table rewritten
    * in place, the table's root for one committed as versioned dirs). */
  def parquet(spark: SparkSession, dir: String, table: String): DataFrame = {
    val reused = Option(byTable.get(table)).filter(_.session eq spark).flatMap { e =>
      val df = spark.read.schema(e.schema).parquet(dir)
      // inputFiles reads the relation's listing — no second file-system walk
      if (df.inputFiles.toSet == e.files) Some(df) else None
    }
    reused.getOrElse {
      val df = spark.read.parquet(dir)
      byTable.put(table, Inferred(spark, df.inputFiles.toSet, df.schema))
      df
    }
  }
}
