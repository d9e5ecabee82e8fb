package graft

import org.apache.spark.sql.functions._

/** The soaks' shared documents inflation ([[Soak.inflateDocs]]): a
  * bigger corpus of token-disjoint copies, written once per dir. */
class SoakSpec extends SparkSuite {
  import spark.implicits._

  private def files(dir: String): Map[String, Long] = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    } finally it.close()
  }

  test("inflateDocs writes token-disjoint copies once, behind its sentinel") {
    val src = java.nio.file.Files.createTempDirectory("soak_src").toString
    val out = java.nio.file.Files.createTempDirectory("soak_out").toString
    val corpus = Seq(
      (1L, "the quick brown fox", "en", "web", 19L),
      (2L, "7 lazy dogs sleep", "en", "news", 17L),
      (3L, "der schnelle fuchs", "de", "web", 18L),
      (4L, "a b a b", "en", "forum", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    corpus.write.parquet(s"$src/documents.parquet")

    Soak.inflateDocs(spark, src, out, 3)
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val rows = docs.collect()
    assert(rows.length === 12)
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length === 12)

    // copy k of doc d is doc_id 3d + k; copy 0 is the source row verbatim
    val copy0 = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") / 3).cast("long").as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    assert(copy0.collect().toSet === corpus.collect().toSet)

    def tokens(k: Int): Set[String] = docs.filter(col("doc_id") % 3 === k)
      .select(explode(split(col("text"), " "))).as[String].collect().toSet
    assert(tokens(1).nonEmpty && tokens(2).nonEmpty)
    assert(tokens(1).intersect(tokens(2)).isEmpty)
    assert(tokens(0).intersect(tokens(1)).isEmpty)

    val written = files(out)
    assert(written.keySet.exists(_.endsWith("_inflate_docs_3.ok")))
    Thread.sleep(20) // a rewrite would then show a new modification time
    Soak.inflateDocs(spark, src, out, 3)
    assert(files(out) === written)
  }
}
