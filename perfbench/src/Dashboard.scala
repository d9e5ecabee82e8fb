package perfbench

/** The dashboard store and its request mix, generated from the seed.
  *
  * 1000 metrics `bench.s<S>.h<H>.m<M>` (S, H, M in 0..9), retention
  * `1440*60s:720*3600s`, aggregator average. The 20 panel metrics
  * `bench.s0.h{0,1}.*` have a raw point every minute for the last 24
  * hours, stage 0 in full, so a panel's 24-hour read returns 1440 points
  * per series: the read design point of about 2,000 points. They also
  * have one point per hour for the 144 hours before the last day, so
  * stage 1 (hourly) answers their 7-day reads. The other 980 have a point
  * every minute for the last 5 minutes: they give the catalog its
  * breadth and the 100- and 1000-series fan-outs their width, and keep
  * each bulk load of the store to a few seconds. Values are a closed-form
  * function of (metric, ts) in quarter units, so every sum the store
  * computes is exact and the expected answers below are plain Scala.
  */
final class Dashboard(seed: Long) {
  import Dashboard._

  // the seed sets each metric's phase, not the step from one minute to the
  // next: the step decides how well a series compresses, and the store's
  // size should not depend on the seed
  private val (a, c) = {
    val r = new scala.util.Random(seed)
    (1L + r.nextInt(500), r.nextInt(997).toLong)
  }
  private val b = 37L

  def offset(i: Int): Long = (i * 7L + c) % 60
  def value(i: Int, ts: Long): Double = ((a * i + b * (ts / 60) + c) % 997) / 4.0

  /** Raw (ts, value) points of metric `i`, oldest first. */
  def points(i: Int): IndexedSeq[(Long, Double)] = {
    val off = offset(i)
    val older =
      if (i < History) (Hours to Day + 1 by -1).map(j => Now - 3600L * j + off)
      else IndexedSeq.empty
    val recent = (minutes(i) to 1 by -1).map(k => Now - 60L * k + off)
    (older ++ recent).map(ts => (ts, value(i, ts)))
  }

  def pointCount: Long =
    Panel.toLong * Minutes + (Metrics - Panel) * OtherMinutes + History * (Hours - Day)

  /** Expected stage-0 value of metric `i` in the minute starting at `t`,
    * straight from the generator's closed form: every minute of the
    * metric's recent span has a point, and the history metrics have one at
    * each older hour. */
  def at(i: Int, t: Long): Double = {
    val recent = t >= Now - 60L * minutes(i) && t < Now
    val hourly = i < History && t % 3600 == 0 && t >= Now - 3600L * Hours && t < Now - 3600L * Day
    if (recent || hourly) value(i, t + offset(i)) else Double.NaN
  }

  /** Expected stage-0 series of metric `i` over [from, until). */
  def raw(i: Int, from: Long, until: Long): IndexedSeq[(Long, Double)] =
    (from until until by 60L).map(t => (t, at(i, t)))

  /** Expected slot-wise sum of several metrics' stage-0 series. */
  def sum(is: Seq[Int], from: Long, until: Long): IndexedSeq[(Long, Double)] =
    (from until until by 60L).map { t =>
      val vs = is.map(at(_, t)).filterNot(_.isNaN)
      (t, if (vs.isEmpty) Double.NaN else vs.sum)
    }

  /** Expected `maxDataPoints` read of metric `i` over the last 7 days: the
    * 168 hourly stage-1 slots consolidated `factor` at a time from the
    * window start; a consolidated slot averages every raw point in it. */
  def week(i: Int, maxDataPoints: Int): IndexedSeq[(Long, Double)] = {
    val start = Now - 7 * 86400L
    val factor = (168 + maxDataPoints - 1) / maxDataPoints
    val step = 3600L * factor
    val pts = points(i)
    (start until Now by step).map { w =>
      val in = pts.filter { case (ts, _) => ts >= w && ts < w + step }.map(_._2)
      (w, if (in.isEmpty) Double.NaN else in.sum / in.length)
    }
  }

  /** The request mix: `rounds` rounds of 17 pairs of requests, sent a
    * pair at a time by the two clients, like a dashboard refreshing two
    * panels at once. A round holds eight pairs of single-series fetches,
    * a pair of each 10-series kind but three at depth 3, a pair of 7-day
    * reads, a pair of `find`s, and the two wide reads (100-series glob,
    * 1000-series sum). Both requests of a pair are of one kind, so a
    * request always runs beside one of its own kind and each kind's
    * latencies stay close together; the pairs come in a fixed order,
    * cheapest kinds first, so a single-series fetch follows another one
    * rather than the cleanup of a wide read. The seed picks the series
    * each request touches. With the cheap requests (single series, 7-day,
    * `find`) 20 of the 34, the median falls inside their block of
    * latencies rather than on the edge between two kinds; likewise the
    * tail (p70 at 34 requests, 10 above it) falls inside the block of the
    * other 10-series kinds, 6 of the 34, just below the depth-3 and wide
    * reads. Raw fetches, 10-series globs and `movingAverage` read panel
    * metrics. */
  def requests(rounds: Int): IndexedSeq[Request] = {
    val r = new scala.util.Random(seed * 7919)
    def d = r.nextInt(10)
    def h = r.nextInt(Panel / 10)
    def raw = Raw(idx(0, h, d))
    def two(q: => Request) = IndexedSeq(q, q)
    (0 until rounds).flatMap { _ =>
      two(Find(d)) ++ two(Week(r.nextInt(History))) ++ (1 to 8).flatMap(_ => two(raw)) ++
        two(Glob10(0, h)) ++ two(Fn1(0, d)) ++ two(Fn2(0, h)) ++
        (1 to 3).flatMap(_ => two(Fn3(0, d))) ++ IndexedSeq(Glob100(0), Sum1000())
    }
  }
}

object Dashboard {
  val Now = 1700006400L // hour-aligned; every request pins it with ?now=
  val Retention = "1440*60s:720*3600s"
  val Aggregator = "average"
  val Minutes = 1440 // stage 0's 1440 one-minute slots
  val OtherMinutes = 5
  val Day = 24
  val Hours = 168
  val Window = 60L * Minutes // the panels' 24-hour window
  val WideWindow = 3600L // the wide reads' last hour, where all 1000 have points
  val Metrics = 1000
  val Panel = 20 // bench.s0.h{0,1}.*: a full day of minute points
  val History = 20
  val WeekPoints = 50

  def idx(s: Int, h: Int, m: Int): Int = s * 100 + h * 10 + m
  def minutes(i: Int): Int = if (i < Panel) Minutes else OtherMinutes
  def name(i: Int): String = s"bench.s${i / 100}.h${i / 10 % 10}.m${i % 10}"

  /** One dashboard request: what to send, and the leaf glob it resolves
    * (the traced run times the catalog and fetch layers on that glob). */
  sealed trait Request {
    def kind: String
    def target: String
    def glob: String = target
    def from: Long
    def maxDataPoints: Int = 0
    def path: String =
      s"/render?target=${Http.enc(target)}&from=$from&until=$Now&now=$Now&format=json" +
        (if (maxDataPoints > 0) s"&maxDataPoints=$maxDataPoints" else "")
  }
  final case class Raw(i: Int) extends Request {
    def kind = "raw"; def target = name(i); def from = Now - Window
  }
  final case class Glob10(s: Int, h: Int) extends Request {
    def kind = "glob10"; def target = s"bench.s$s.h$h.*"; def from = Now - Window
  }
  final case class Glob100(s: Int) extends Request {
    def kind = "glob100"; def target = s"bench.s$s.*.*"; def from = Now - WideWindow
  }
  final case class Sum1000() extends Request {
    def kind = "sum1000"; def target = "sumSeries(bench.*.*.*)"
    override def glob = "bench.*.*.*"; def from = Now - WideWindow
  }
  final case class Fn1(s: Int, m: Int) extends Request {
    def kind = "fn1"; def target = s"sumSeries(bench.s$s.*.m$m)"
    override def glob = s"bench.s$s.*.m$m"; def from = Now - Window
  }
  final case class Fn2(s: Int, h: Int) extends Request {
    def kind = "fn2"; def target = s"aliasByNode(movingAverage(bench.s$s.h$h.*, 5), 3)"
    override def glob = s"bench.s$s.h$h.*"; def from = Now - Window
  }
  final case class Fn3(s: Int, m: Int) extends Request {
    def kind = "fn3"
    def target = s"highestAverage(aliasByNode(movingAverage(bench.s$s.*.m$m, 5), 2), 3)"
    override def glob = s"bench.s$s.*.m$m"; def from = Now - Window
  }
  final case class Week(i: Int) extends Request {
    def kind = "week"; def target = name(i); def from = Now - 7 * 86400L
    override def maxDataPoints = WeekPoints
  }
  final case class Find(s: Int) extends Request {
    def kind = "find"; def target = s"bench.s$s.*"; def from = Now
    override def path = s"/metrics/find?query=${Http.enc(target)}"
  }
}
