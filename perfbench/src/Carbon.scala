package perfbench

import scala.collection.mutable

/** The carbon writer's input, generated from the seed, and an independent
  * model of what the store must hold after it.
  *
  * Chunk `c` is one minute of carbon traffic at `T0 + 60c`: one in-order
  * point for each of `active` metrics `carbon.g<G>.n<N>` (chunk 0 is the
  * warm-up chunk of set-up, so every timed chunk finds the active set
  * already created and in the ingest state). The active set
  * slides by `fresh` metrics a chunk, so every chunk brings brand-new
  * names (metric auto-create commits the catalog) and retires as many.
  * Metric `i` belongs to a class by `i % 20`:
  *  - 1: also sends one late point for a step 1–15 minutes back, with a
  *    raw ts that may fall before or after the original point's;
  *  - 2: sends two points in its current step, newer raw ts listed first;
  *  - 3: repeats its line (an exact duplicate);
  *  - 4: sends `nan` every third chunk;
  *  - others are plain in-order series.
  * About 0.1% of the lines are malformed and must be dropped.
  */
final class Carbon(seed: Long, val active: Int) {
  import Carbon._

  val fresh: Int = math.max(1, active / 50)
  private val k = new scala.util.Random(seed).nextInt(1000).toLong

  def name(i: Int): String = s"carbon.g${i / 100}.n${i % 100}"
  def ts(chunk: Int): Long = T0 + 60L * chunk
  def first(chunk: Int): Int = chunk * fresh
  def value(i: Int, t: Long): Double = ((i * 37L + t / 60 * 11 + k) % 1000) / 4.0

  /** Chunk `c`'s lines, with the well-formed points in send order. */
  def chunk(c: Int): (IndexedSeq[String], IndexedSeq[(Int, Long, Double)]) = {
    val r = new scala.util.Random(seed * 1000003L + c)
    val lines = mutable.ArrayBuffer.empty[String]
    val good = mutable.ArrayBuffer.empty[(Int, Long, Double)]
    def emit(i: Int, t: Long, v: Double): Unit = {
      lines += s"${name(i)} ${if (v.isNaN) "nan" else v.toString} $t"
      good += ((i, t, v))
    }
    for (i <- first(c) until first(c) + active) {
      val t = ts(c) + (i % 60)
      val v = if (i % 20 == 4 && c % 3 == 0) Double.NaN else value(i, t)
      i % 20 match {
        case 1 =>
          emit(i, t, v)
          val back = 1 + r.nextInt(15)
          emit(i, ts(c - back) + r.nextInt(60), r.nextInt(4000) / 4.0)
        case 2 =>
          val early = ts(c) + r.nextInt(30)
          emit(i, early + 30, v)
          emit(i, early, r.nextInt(4000) / 4.0)
        case 3 =>
          emit(i, t, v)
          emit(i, t, v)
        case _ => emit(i, t, v)
      }
      if (r.nextInt(1000) == 0) lines += Malformed(r.nextInt(Malformed.length))
    }
    (lines.toIndexedSeq, good.toIndexedSeq)
  }
}

object Carbon {
  val T0 = 1700100000L
  val Retention = "1440*60s:720*3600s"
  val Aggregator = "average"
  val Malformed = IndexedSeq("garbage.line", "garbage.value abc 1700100000",
    "garbage.ts 1.0 soon", "garbage too many fields here")

  /** What the store must answer after a sequence of committed chunks.
    * Stage 0, per (metric, minute): across chunks the later chunk wins
    * (each chunk is its own micro-batch, and the ring buffer takes the
    * newest write); within one chunk the latest raw ts wins. */
  final class Model {
    private final case class Cell(value: Double, chunk: Int, ts: Long)
    private val cells = mutable.HashMap.empty[(Int, Long), Cell]
    val names = mutable.HashSet.empty[Int]
    var points = 0L

    def apply(chunk: Int, good: Seq[(Int, Long, Double)]): Unit = good.foreach {
      case (i, t, v) =>
        names += i
        points += 1
        val key = (i, t / 60 * 60)
        cells.get(key) match {
          case Some(c) if c.chunk == chunk && c.ts > t => ()
          case _ => cells(key) = Cell(v, chunk, t)
        }
    }

    def stage0(i: Int, step: Long): Double =
      cells.get((i, step)).map(_.value).getOrElse(Double.NaN)

    /** Stage 1 (hourly average) of an in-order metric: the mean of its
      * non-NaN stage-0 values in the hour. */
    def stage1(i: Int, hour: Long): Double = {
      val vs = (hour until hour + 3600 by 60).map(stage0(i, _)).filterNot(_.isNaN)
      if (vs.isEmpty) Double.NaN else vs.sum / vs.length
    }
  }

  def inOrder(i: Int): Boolean = i % 20 != 1 && i % 20 != 2 && i % 20 != 4
}
