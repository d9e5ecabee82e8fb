package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training — subword vocabulary
  * induction (Sennrich et al. 2016) as a sequence of Spark plans: the
  * piece of an LLM data pipeline that turns a curated corpus into the
  * tokenizer its training run will use.
  *
  * Classic BPE trains on the WORD-FREQUENCY table, not the raw corpus —
  * which is what makes it distributed-scan-friendly: the corpus is
  * scanned ONCE (word counts, one shuffle), and every merge round then
  * runs over the distinct-word table (vocabulary-sized, orders of
  * magnitude below corpus scale at 100 TB). Each round is
  *   1. adjacent symbol pairs per word representation (map-only
  *      explode), weighted by word frequency;
  *   2. one aggregation to the best pair (count DESC, then (left,
  *      right) ASC — fully deterministic);
  *   3. a literal, boundary-safe string replace applying the merge to
  *      every representation (map-only; non-overlapping left-to-right,
  *      identical semantics in every engine).
  * The per-round argmax is a one-row collect — planning metadata, the
  * k-means-centroid pattern — and representations are re-materialized
  * each round so plans stay flat.
  *
  * Representations are space-joined symbol strings padded with one
  * leading/trailing space (" t a b l e "), so a merge of (l, r) is the
  * literal replacement of " l r " by " lr " — symbol-boundary-safe
  * without lookarounds (which RE2-based engines lack). Symbols are
  * character code units (the corpus here is ASCII; byte-level BPE would
  * swap the seed alphabet, not the algorithm).
  *
  * Variant note (BpeSpec pins it): on runs of ≥3 IDENTICAL symbols,
  * back-to-back merge occurrences share the boundary space, so one
  * round merges fewer pairs than canonical BPE ("aaaa" → [aa, a, a],
  * not [aa, aa]). The semantics are deterministic and identical in
  * every replace-based engine — training, the segment face, and the
  * DuckDB oracle agree by construction — and real tokenizer families
  * already differ on exactly this class of edge (GPT-2 BPE vs
  * sentencepiece treat runs differently too).
  */
object Bpe {

  /** (word, freq) over the corpus — the one corpus-wide pass. */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Seed representation: " c h a r s " (filter drops the empty strings
    * Java's empty-regex split appends). */
  private def seedRepr(word: Column): Column =
    concat(lit(" "),
      concat_ws(" ", filter(split(word, ""), c => c =!= "")), lit(" "))

  /** Train `rounds` merges. Returns
    * (merges: (round, lhs, rhs, merged, pair_count), finalReprs:
    * (word, freq, repr)). Stops early if no pair is left to merge.
    *
    * The reprs lineage is cut with a checkpoint after EVERY round. A
    * pending round's replace would be re-executed by every later round's
    * top-pair job until the next cut (O(window²) re-execution of
    * vocabulary-sized work) and stacks a replace node into each round's
    * plan; that costs more than the one materialization job per round.
    * Measured on bp1 (8 rounds, solo fresh-JVM runs) with a cut every
    * 1 / 4 / 16 rounds: warm wall 1.8 / 2.0 / 2.8 s. */
  def trainMerges(words: DataFrame,
      rounds: Int): (DataFrame, DataFrame) = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val spark = words.sparkSession
    import spark.implicits._
    var reprs = words.select(col("word"), col("freq"),
        seedRepr(col("word")).as("repr"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val toks = split(trim(col("repr")), " ")
      val pairs = reprs
        .filter(size(toks) >= 2)
        .select(col("freq"),
          explode(transform(sequence(lit(0), size(toks) - 2),
            i => struct(element_at(toks, i + 1).as("l"),
              element_at(toks, i + 2).as("r")))).as("p"))
      val top = pairs.groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, rr, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, l, rr, l + rr, cnt))
        reprs = reprs.withColumn("repr",
          replace(col("repr"), lit(s" $l $rr "), lit(s" ${l + rr} ")))
          .localCheckpoint(true)
        r += 1
      }
    }
    (merges.toSeq.toDF("round", "lhs", "rhs", "merged", "pair_count"),
      reprs)
  }

  /** Segment arbitrary words with an ALREADY-TRAINED merge list: the
    * merges are applied in training order as one chained map-only
    * projection (no per-round actions — the merge list is frozen
    * metadata, exactly how a deployed tokenizer runs). Returns the
    * input plus `segmented` (space-joined subword symbols). */
  def segment(words: DataFrame, wordCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val repr = merges.foldLeft(seedRepr(col(wordCol))) {
      case (acc, (l, r)) => replace(acc, lit(s" $l $r "), lit(s" $l$r "))
    }
    words.withColumn("segmented", trim(repr))
  }
}
