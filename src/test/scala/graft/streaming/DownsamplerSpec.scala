package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.model._

/** Golden-sequence port of the reference incremental downsampler tests
  * (tests/drivers/test_drivers_downsampling.py:28-200). Retention
  * 3*10s:3*100s, ring capacity 3. */
class DownsamplerSpec extends AnyFunSuite {
  private val Precision = 10L
  private val Capacity = 3
  private val retention = Retention.fromString(
    s"$Capacity*${Precision}s:$Capacity*${Precision * Precision}s")
  private val stage0 = retention.stages(0)
  private val stage1 = retention.stages(1)

  private def metric(agg: Aggregator, name: String) =
    Metric(name, MetricMetadata(aggregator = agg, retention = retention))

  private def feed(ds: Downsampler, m: Metric, pts: (Long, Double)*): Seq[(Long, Double, Double, Stage)] =
    ds.feed(m, pts).map(e => (e.ts, e.value, e.count, e.stage))

  test("feed simple sum (test_drivers_downsampling.py:59-96)") {
    val ds = new Downsampler(Capacity)
    val m = metric(Aggregator.Total, "test.metric.sum")
    assert(feed(ds, m, (0L, 1.0)) ===
      Seq((0L, 1.0, 1.0, stage0), (0L, 1.0, 1.0, stage1)))
    assert(feed(ds, m) === Nil)
    assert(feed(ds, m, (0L, 3.0)) ===
      Seq((0L, 3.0, 1.0, stage0), (0L, 3.0, 1.0, stage1)))
    assert(feed(ds, m, (0L, 5.0), (Precision, 9.0)) ===
      Seq((0L, 5.0, 1.0, stage0), (Precision, 9.0, 1.0, stage0),
        (0L, 14.0, 2.0, stage1)))
    assert(feed(ds, m) === Nil)
  }

  test("feed simple avg (test_drivers_downsampling.py:98-123)") {
    val ds = new Downsampler(Capacity)
    val m = metric(Aggregator.Average, "test.metric.avg")
    assert(feed(ds, m, (0L, 1.0)) ===
      Seq((0L, 1.0, 1.0, stage0), (0L, 1.0, 1.0, stage1)))
    assert(feed(ds, m, (0L, 5.0), (Precision, 9.0),
        (Precision * Precision * Capacity, 10.0)) ===
      Seq((0L, 5.0, 1.0, stage0), (Precision, 9.0, 1.0, stage0),
        (300L, 10.0, 1.0, stage0),
        (0L, 14.0, 2.0, stage1), (300L, 10.0, 1.0, stage1)))
  }

  test("feed multiple emits exactly one row per stage (:125-133)") {
    val ds = new Downsampler(Capacity)
    val m = metric(Aggregator.Total, "test.metric.sum")
    (0 until 30).foreach { i =>
      assert(feed(ds, m, (1L, i.toDouble)).length === 2)
    }
    (0 until 30).foreach { i =>
      assert(feed(ds, m, (0L, i.toDouble)).length === 2)
    }
  }

  test("feed extended with eviction (:135-165)") {
    val ds = new Downsampler(Capacity)
    val m = metric(Aggregator.Total, "test.metric.sum")
    val got = feed(ds, m,
      (0L, 1.0), (1L, 2.0), (Precision, 15.0),
      (Precision * Capacity, 25.0),
      (Precision * Capacity * 2, 150.0),
      (Precision * Precision * Capacity, 1500.0),
      (Precision * Precision * Capacity, 1501.0))
    val expected =
      Seq(
        (0L, 2.0, 1.0, stage0),
        (Precision, 15.0, 1.0, stage0),
        (Precision * Capacity, 25.0, 1.0, stage0),
        (Precision * Capacity * 2, 150.0, 1.0, stage0),
        (Capacity * Precision * Precision, 1501.0, 1.0, stage0),
        (0L, 192.0, 4.0, stage1), // 2 + 15 + 25 + 150
        (Capacity * Precision * Precision, 1501.0, 1.0, stage1))
    assert(got === expected)
  }

  test("out-of-order feed (:167-188)") {
    val ds = new Downsampler(Capacity)
    val m = metric(Aggregator.Total, "test.metric.sum")
    val got = feed(ds, m,
      (Precision * Precision + 1, 42.0),
      (Precision * Precision, 84.0),
      (Precision - 1, 1.0),
      (Precision, 2.0),
      (0L, -10.0))
    val expected = Seq(
      (0L, 1.0, 1.0, stage0),
      (Precision, 2.0, 1.0, stage0),
      (Precision * Precision, 42.0, 1.0, stage0),
      (0L, 3.0, 2.0, stage1),
      (Precision * Precision, 42.0, 1.0, stage1))
    assert(got === expected)
  }

  test("update emits at most one row per (stage, ts) for any batch") {
    val rnd = new scala.util.Random(7)
    for (agg <- Aggregator.all) {
      val ma = new MetricAggregates(MetricMetadata(agg,
        Retention.fromString("20*10s:10*60s:10*600s")), capacity = 5)
      var head = 1000L
      for (_ <- 1 to 300) {
        // mostly around the head: same-step duplicates, out-of-order
        // points; sometimes older than the 5-slot buffer, or far ahead
        val batch = Seq.fill(rnd.nextInt(16)) {
          val ts = rnd.nextInt(10) match {
            case 0 => head - 10L * (5 + rnd.nextInt(50))
            case 1 => head + 10L * rnd.nextInt(40)
            case _ => head - 10L * rnd.nextInt(4) + rnd.nextInt(10)
          }
          (math.max(0L, ts), rnd.nextInt(100).toDouble)
        }
        val keys = ma.update(batch).map(e => (e.stage, e.ts))
        assert(keys.distinct.length === keys.length,
          s"$agg: ${keys.diff(keys.distinct)} emitted twice for $batch")
        head += 10L * rnd.nextInt(3)
      }
    }
  }

  test("purge evicts idle metrics (:190-200)") {
    val ds = new Downsampler(Capacity)
    val m = metric(Aggregator.Total, "test.metric.sum")
    ds.feed(m, Seq((1L, 1.0)))
    ds.purge(nowS = 1, everyS = -1)
    assert(ds.size === 1)
    ds.purge(nowS = Precision * Precision * 3, everyS = -1)
    assert(ds.size === 0)
  }
}
