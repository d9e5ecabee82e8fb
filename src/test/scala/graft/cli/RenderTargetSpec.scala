package graft.cli

import graft.SparkSuite
import graft.cli.Bgutil.Db
import graft.cli.RenderTarget.{CallNode, PathNode}

/** The graphite target-expression parser and its evaluation against a
  * real store. */
class RenderTargetSpec extends SparkSuite {
  import RenderTargetSpec.cliRender

  test("parses nested calls, quoted and numeric args, glob paths") {
    val n = RenderTarget.parse(
      "aliasSub(movingAverage(sys.cpu.{0,1}.load,10),'cpu','core')")
    val outer = n.asInstanceOf[CallNode]
    assert(outer.fn === "aliasSub")
    assert(outer.args === List("cpu", "core"))
    val inner = outer.series.asInstanceOf[CallNode]
    assert(inner.fn === "movingAverage")
    assert(inner.args === List("10"))
    assert(inner.series === PathNode("sys.cpu.{0,1}.load"))
    // a bare path is a PathNode, brace commas don't split args
    assert(RenderTarget.parse("a.b.{x,y}.*") === PathNode("a.b.{x,y}.*"))
  }

  test("rejects trailing junk, unterminated strings, bad parens") {
    intercept[IllegalArgumentException](RenderTarget.parse("foo(a.b))"))
    intercept[IllegalArgumentException](RenderTarget.parse("foo(a.b,'x))"))
    intercept[IllegalArgumentException](RenderTarget.parse("foo(a.b"))
  }

  test("evaluates a nested chain with graphite canonical names") {
    val dir = java.nio.file.Files.createTempDirectory("rt").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    Bgutil.write(db, "sys.cpu.0.load", 120L, 2.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "sys.cpu.1.load", 120L, 4.0, "60*60s:24*3600s", "average")

    val out = RenderTarget.render(db,
      "scale(sumSeries(sys.cpu.*.load),10)", 120L, 180L)
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.exists { case (n2, ts, v) =>
      n2 == "sumSeries(sys.cpu.*.load)" && ts == 120L && v.contains(60.0)
    }, out.mkString(", "))

    // highestMax: the top n series by their max
    val hm = RenderTarget.render(db,
      "highestMax(sys.cpu.*.load,1)", 120L, 180L)
      .select("name").distinct().collect().map(_.getString(0)).toSeq
    assert(hm === Seq("sys.cpu.1.load"))

    // stddevSeries: slot-wise population stddev, like graphite
    val sd = RenderTarget.render(db,
      "stddevSeries(sys.cpu.*.load)", 120L, 180L)
      .collect().collectFirst { case r if !r.isNullAt(2) => r.getDouble(2) }
    assert(sd === Some(1.0)) // pop stddev of {2, 4}

    // toUpperCase/toLowerCase transform the legend name
    val up = RenderTarget.render(db,
      "toUpperCase(sys.cpu.0.load)", 120L, 180L)
      .select("name").distinct().collect().map(_.getString(0)).toSeq
    assert(up === Seq("SYS.CPU.0.LOAD"))

    // aliasQuery: per-series derived query, last value into the legend
    val aq = RenderTarget.render(db,
      "aliasQuery(sys.cpu.*.load,'sys.cpu.(\\d+).load','sys.cpu.$1.load','%d cores')",
      120L, 180L)
      .select("name").distinct().collect().map(_.getString(0)).toSet
    assert(aq === Set("2 cores", "4 cores"))
    intercept[IllegalArgumentException] {
      RenderTarget.render(db,
        "aliasQuery(sys.cpu.*.load,'load','nope','%d')", 120L, 180L)
        .collect()
    }

    // the derived query takes the FIRST matched series' last value
    // (sys.cpu.*.load matches both; first by name is cpu.0 → 2)
    val aqf = RenderTarget.render(db,
      "aliasQuery(sys.cpu.1.load,'1','*','%d first')", 120L, 180L)
      .select("name").distinct().collect().map(_.getString(0)).toSeq
    assert(aqf === Seq("2 first"))

    // an empty series list aliases to an empty result, not a crash
    assert(RenderTarget.render(db,
      "aliasQuery(no.such.metric,'a','b','%d')", 120L, 180L)
      .collect().isEmpty)
  }

  test("pythonFormat speaks the %d/%.1f/%g conversions") {
    assert(RenderTarget.pythonFormat("%d cores", 3.7) === "3 cores")
    assert(RenderTarget.pythonFormat("%.1f qps", 2.34) === "2.3 qps")
    // %g strips trailing zeros like python (java's %g keeps them)
    assert(RenderTarget.pythonFormat("%g", 5.0) === "5")
    assert(RenderTarget.pythonFormat("%g", 0.000025) === "2.5e-05")
    assert(RenderTarget.pythonFormat("%.3g", 1234.5) === "1.23e+03")
    assert(RenderTarget.pythonFormat("%5d|", 3.0) === "    3|")
    assert(RenderTarget.pythonFormat("busy %d%%", 42.0) === "busy 42%")
    // no value-consuming conversion, or a conversion python rejects
    intercept[IllegalArgumentException] {
      RenderTarget.pythonFormat("no conversion", 1.0)
    }
    intercept[IllegalArgumentException] {
      RenderTarget.pythonFormat("busy %%", 1.0) // only a literal escape
    }
    intercept[IllegalArgumentException] {
      RenderTarget.pythonFormat("%x cores", 1.0)
    }
    intercept[IllegalArgumentException] {
      RenderTarget.pythonFormat("trailing %", 1.0)
    }
  }

  test("wave-5 targets: group, aggregate, timeFunction, asPercent total") {
    val dir = java.nio.file.Files.createTempDirectory("rtw5").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    Bgutil.write(db, "a.one.x", 120L, 1.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "b.two.y", 120L, 3.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "tot.all", 120L, 8.0, "60*60s:24*3600s", "average")

    // group unions its operands verbatim — both series come back
    val g = RenderTarget.render(db, "group(a.one.x,b.two.y)", 120L, 180L)
      .select("name").distinct().collect().map(_.getString(0)).toSet
    assert(g === Set("a.one.x", "b.two.y"))

    // aggregate(series,'fn') is the modern general combine
    val agg = RenderTarget.render(db,
      "aggregate(group(a.one.x,b.two.y),'total')", 120L, 180L)
      .collect().collectFirst { case r if !r.isNullAt(2) => r.getDouble(2) }
    assert(agg === Some(4.0))

    // timeFunction is a source: quoted name, value = ts on the grid
    val tf = RenderTarget.render(db, "scale(timeFunction('t',60),2)",
        120L, 240L)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(tf === Set((120L, 240.0), (180L, 360.0)))

    // asPercent against an explicit total series
    val ap = RenderTarget.render(db, "asPercent(a.one.x,tot.all)", 120L, 180L)
      .collect().collectFirst { case r if !r.isNullAt(2) => r.getDouble(2) }
    assert(ap === Some(1.0 / 8.0 * 100))

    // aggregateWithWildcards joins its int varargs for the dispatch
    val aw = RenderTarget.parse("aggregateWithWildcards(a.*.x,'sum',1,2)")
      .asInstanceOf[CallNode]
    assert(aw.args === List("sum", "1", "2"))
    val awOut = RenderTarget.render(db,
      "aggregateWithWildcards(a.one.x,'sum',1)", 120L, 180L)
      .select("name").distinct().collect().map(_.getString(0)).toSeq
    assert(awOut === Seq("a.x"))
  }

  test("timeStack fetches the widened past window and overlays it") {
    val dir = java.nio.file.Files.createTempDirectory("rtts").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    // one point in the requested window (ts=120) and one a minute in the
    // PAST (ts=60) — the k=1 copy must surface the past point AT ts=120
    Bgutil.write(db, "sys.req.count", 60L, 7.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "sys.req.count", 120L, 9.0, "60*60s:24*3600s", "average")

    val out = RenderTarget.render(db,
      "timeStack(sys.req.count,'60s',0,1)", 120L, 180L)
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    // every emitted point sits INSIDE [120, 180) — the pre-fix behavior
    // pushed all non-zero-k copies outside the window
    assert(out.forall { case (_, ts, _) => ts >= 120L && ts < 180L }, out)
    assert(out.contains(("sys.req.count", 120L, Some(9.0))))
    assert(out.contains(("timeShift(sys.req.count,-60)", 120L, Some(7.0))))

    // a timeStack/timeShift call outside those shapes is refused by name
    for (t <- Seq("timeStack(sys.req.count)", "timeShift(sys.req.count)",
        "timeShift(sys.req.count,'1min',false)")) {
      val e = intercept[IllegalArgumentException](
        RenderTarget.render(db, t, 120L, 180L))
      assert(e.getMessage.startsWith(t.takeWhile(_ != '(') + ":"),
        e.getMessage)
    }

    // asPercent with a CONSTANT total is a scale, not a glob read
    val ap = RenderTarget.render(db, "asPercent(sys.req.count,50)",
        120L, 180L)
      .collect().collectFirst { case r if !r.isNullAt(2) => r.getDouble(2) }
    assert(ap === Some(9.0 / 50 * 100))

    // aggregate's xFilesFactor is supported (wave 6); anything past it
    // still fails loudly
    val ag = RenderTarget.render(db, "aggregate(sys.req.count,'sum',0.5)",
        120L, 180L)
      .collect().collectFirst { case r if !r.isNullAt(2) => r.getDouble(2) }
    assert(ag === Some(9.0))
    intercept[IllegalArgumentException] {
      RenderTarget.render(db, "aggregate(sys.req.count,'sum',0.5,'junk')",
        120L, 180L)
    }
  }

  test("wave-5b: sources, draw pass-throughs, filterSeries") {
    val dir = java.nio.file.Files.createTempDirectory("rtw5b").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    Bgutil.write(db, "a.one.x", 120L, 1.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "b.two.y", 120L, 3.0, "60*60s:24*3600s", "average")

    // threshold is a labeled constant line; color() passes data through
    val th = RenderTarget.render(db,
      "color(threshold(5,'limit','red'),'red')", 120L, 180L)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSet
    assert(th === Set(("limit", 5.0)))

    // sinFunction on the grid; verticalLine in graphite time syntax
    val sf = RenderTarget.render(db, "sinFunction('s',3,60)", 120L, 240L)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(math.abs(sf(180L) - 3.0 * math.sin(180.0)) < 1e-12)
    val vl = RenderTarget.render(db, "verticalLine('150','deploy')",
        120L, 240L).collect()
    assert(vl.length === 1 && vl(0).getString(0) === "deploy"
      && vl(0).getLong(1) === 150L)

    // filterSeries and legendValue through the target grammar
    val fs = RenderTarget.render(db,
      "filterSeries({a,b}.*.*,'max','gt',2)", 120L, 180L)
      .select("name").distinct().collect().map(_.getString(0)).toSeq
    assert(fs === Seq("b.two.y"))
    val lv = RenderTarget.render(db, "legendValue(a.one.x,'last')",
        120L, 180L)
      .select("name").distinct().collect().map(_.getString(0)).toSeq
    assert(lv === Seq("a.one.x (last: 1.00)"))

    // keepLastValue with graphite's limit arg parses and runs
    val klv = RenderTarget.render(db, "keepLastValue(a.one.x,1)",
        120L, 240L)
      .collect().map(r => (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(klv(180L) === Some(1.0)) // 1-slot gap filled

    // randomWalkFunction is deterministic across evaluations
    val rw1 = RenderTarget.render(db, "randomWalkFunction('rw',60)",
      120L, 300L).collect().map(_.getDouble(2)).toSeq
    val rw2 = RenderTarget.render(db, "randomWalkFunction('rw',60)",
      120L, 300L).collect().map(_.getDouble(2)).toSeq
    assert(rw1 === rw2 && rw1.nonEmpty)
  }

  test("wave-6 targets: list pairing, reduceSeries, xff, useSeriesAbove") {
    val dir = java.nio.file.Files.createTempDirectory("rtw6").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    val ret = "60*60s:24*3600s"
    Bgutil.write(db, "app.h1.ok", 120L, 3.0, ret, "average")
    Bgutil.write(db, "app.h1.total", 120L, 6.0, ret, "average")
    Bgutil.write(db, "app.h2.ok", 120L, 1.0, ret, "average")
    Bgutil.write(db, "app.h2.total", 120L, 4.0, ret, "average")
    Bgutil.write(db, "app.h1.ok", 180L, 5.0, ret, "average")

    // *SeriesLists pair i-th with i-th in sorted-name order
    val dl = RenderTarget.render(db,
      "divideSeriesLists(app.*.ok,app.*.total)", 120L, 180L)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSet
    assert(dl === Set(
      ("divideSeries(app.h1.ok,app.h1.total)", 0.5),
      ("divideSeries(app.h2.ok,app.h2.total)", 0.25)))

    // reduceSeries over mapSeries: per-host ok/total percentage named
    // by the key (the name minus the reduce node)
    val rs = RenderTarget.render(db,
      "reduceSeries(mapSeries(app.*.*,1),'asPercent',2,'ok','total')",
      120L, 180L)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSet
    assert(rs === Set(("app.h1", 50.0), ("app.h2", 25.0)))

    // aggregate's xFilesFactor: at ts=180 only 1 of 2 ok-series is
    // present → the 0.9-xff slot is None, the plain total is not
    val xff = RenderTarget.render(db,
      "aggregate(app.*.ok,'total',0.9)", 120L, 240L)
      .collect().map(r => (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(xff(120L) === Some(4.0))
    assert(xff(180L) === None)

    // movingWindow dispatches; add() offsets; cumulative is identity
    // without a consolidation budget
    val mw = RenderTarget.render(db,
      "movingWindow(app.h1.ok,2,'median')", 120L, 240L)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(mw(180L) === 4.0) // median(3, 5)
    val ad = RenderTarget.render(db, "add(app.h1.ok,10)", 120L, 180L)
      .collect().map(_.getDouble(2)).toSeq
    assert(ad === Seq(13.0))
    val cu = RenderTarget.render(db, "cumulative(app.h1.ok)", 120L, 240L)
      .count()
    assert(cu === RenderTarget.render(db, "app.h1.ok", 120L, 240L).count())

    // useSeriesAbove: only h1's max exceeds 2 → fetch its 'total' twin
    val us = RenderTarget.render(db,
      "useSeriesAbove(app.*.ok,2,'ok','total')", 120L, 240L)
      .select("name").distinct().collect().map(_.getString(0)).toSeq
    assert(us === Seq("app.h1.total"))

    // powSeries folds in name order; a None factor poisons the slot
    val pw = RenderTarget.render(db,
      "powSeries(app.h1.ok,app.h2.ok)", 120L, 240L)
      .collect().map(r => (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(pw(120L) === Some(3.0)) // 3^1
    assert(pw(180L) === None)      // h2 absent at 180
    // ...in ARGUMENT order, not name order — pow is non-commutative
    val pw2 = RenderTarget.render(db,
      "powSeries(app.h2.total,app.h1.ok)", 120L, 180L)
      .collect().map(_.getDouble(2)).toSeq
    assert(pw2 === Seq(64.0)) // 4^3, not 3^4

    // multiplySeriesWithWildcards collapses the host node
    val msw = RenderTarget.render(db,
      "multiplySeriesWithWildcards(app.*.ok,1)", 120L, 180L)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSet
    assert(msw === Set(("app.ok", 3.0)))

    // removeEmptySeries keeps both (each has ≥1 present point);
    // removeBetweenPercentile keeps the band-edge series
    val re = RenderTarget.render(db, "removeEmptySeries(app.*.ok)",
        120L, 240L)
      .select("name").distinct().count()
    assert(re === 2)

    // quoted interval strings in source steps
    val tf = RenderTarget.render(db, "timeFunction('t','1min')",
        120L, 240L)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(tf === Seq(120L, 180L))

    // the CLI render subcommand evaluates the same target expression;
    // its one optional argument after the window is a point budget
    val cli = cliRender(db, "divideSeriesLists(app.*.ok,app.*.total)",
        "120", "180")
      .collect { case (n, _, Some(v)) => (n, v) }.toSet
    assert(cli === dl)
    intercept[IllegalArgumentException] {
      cliRender(db, "sumSeries(app.*.ok)", "120", "180", "absolute")
    }
  }

  test("parseTime speaks graphite's render time syntax") {
    val now = 1_700_000_000L
    assert(RenderTarget.parseTime("now", now) === now)
    assert(RenderTarget.parseTime("1700000123", now) === 1_700_000_123L)
    assert(RenderTarget.parseTime("-6h", now) === now - 6 * 3600)
    assert(RenderTarget.parseTime("-90min", now) === now - 90 * 60)
    assert(RenderTarget.parseTime("-2w", now) === now - 14 * 86400)
    assert(RenderTarget.parseTime("+30s", now) === now + 30)
    intercept[IllegalArgumentException](RenderTarget.parseTime("-6q", now))
    intercept[IllegalArgumentException](RenderTarget.parseTime("yesterday", now))
  }

  test("varargs targets: sumSeries unions operands, aliasByNode joins nodes") {
    val dir = java.nio.file.Files.createTempDirectory("rt3").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    Bgutil.write(db, "a.one.x", 120L, 1.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "b.two.y", 120L, 2.0, "60*60s:24*3600s", "average")

    // sumSeries(a.*,b.*) must cover BOTH serieslists
    val sum2 = RenderTarget.render(db, "sumSeries(a.*.x,b.*.y)", 120L, 180L)
      .collect().collectFirst {
        case r if !r.isNullAt(2) => r.getDouble(2)
      }
    assert(sum2 === Some(3.0))

    // aliasByNode(s,0,2) applies every node, not just the first
    val ab = RenderTarget.render(db, "aliasByNode(a.one.x,0,2)", 120L, 180L)
      .select("name").distinct().collect().map(_.getString(0)).toSeq
    assert(ab === Seq("a.x"))

    // quoted graphite interval strings in function args
    val sm = RenderTarget.render(db,
      "summarize(a.one.x,'2min','sum')", 60L, 240L)
      .collect().map(r => r.getLong(1)).toSeq
    assert(sm.forall(_ % 120 == 0), sm.mkString(","))

    // constantLine as a source target
    val cl = RenderTarget.render(db, "constantLine(4.5)", 100L, 200L)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(cl === Seq((100L, 4.5), (200L, 4.5)))

    // unused arguments fail loudly instead of silently dropping
    val e = intercept[IllegalArgumentException] {
      RenderTarget.render(db, "unique(a.one.x,5)", 60L, 240L)
    }
    assert(e.getMessage.contains("unused argument"), e.getMessage)
    // a time-string moving window explains itself
    val e2 = intercept[IllegalArgumentException] {
      RenderTarget.render(db, "movingAverage(a.one.x,'5min')", 60L, 240L)
    }
    assert(e2.getMessage.contains("POINT COUNT"), e2.getMessage)
  }

  test("multiplySeries/avg varargs, brace-glob args, timeShift window") {
    val dir = java.nio.file.Files.createTempDirectory("rt5").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    Bgutil.write(db, "a.x", 120L, 2.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "b.y", 120L, 3.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "c.y", 120L, 5.0, "60*60s:24*3600s", "average")

    def firstVal(target: String, t0: Long = 120L, t1: Long = 180L) =
      RenderTarget.render(db, target, t0, t1).collect()
        .collectFirst { case r if !r.isNullAt(2) => r.getDouble(2) }

    // multiplySeries(a,b) must multiply BOTH, not rename a by b
    assert(firstVal("multiplySeries(a.x,b.y)") === Some(6.0))
    // avg alias takes the union path like averageSeries
    assert(firstVal("avg(a.x,b.y)") === Some(2.5))
    // brace glob as a series argument survives its inner comma
    assert(firstVal("sumSeries(a.x,{b,c}.y)") === Some(10.0))
    // graphite timeShift('1m') fetches 1 min AGO and shifts onto the
    // window: the 120 s point appears at 180 s in window [180, 240)
    val ts = RenderTarget.render(db, "timeShift(a.x,'1min')", 180L, 240L)
      .collect().collectFirst {
        case r if !r.isNullAt(2) => (r.getLong(1), r.getDouble(2))
      }
    assert(ts === Some((180L, 2.0)))
  }

  test("applyByNode evaluates the template per node prefix") {
    val dir = java.nio.file.Files.createTempDirectory("rt4").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    Bgutil.write(db, "h1.disk.a.used", 120L, 1.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "h1.disk.b.used", 120L, 2.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "h2.disk.a.used", 120L, 8.0, "60*60s:24*3600s", "average")

    val out = RenderTarget.render(db,
      "applyByNode(*.disk.*.used,0,'sumSeries(%.disk.*.used)')", 120L, 180L)
      .collect().collect {
        case r if !r.isNullAt(2) => (r.getString(0), r.getDouble(2))
      }.toSet
    assert(out === Set(
      ("sumSeries(h1.disk.*.used)", 3.0),
      ("sumSeries(h2.disk.*.used)", 8.0)))
  }

  test("parseInterval speaks graphite interval strings") {
    assert(RenderTarget.parseInterval("3600") === 3600L)
    assert(RenderTarget.parseInterval("1hour") === 3600L)
    assert(RenderTarget.parseInterval("30min") === 1800L)
    assert(RenderTarget.parseInterval("-1d") === -86400L)
    intercept[IllegalArgumentException](RenderTarget.parseInterval("soon"))
  }

  test("setXFilesFactor governs enclosing combines and removeEmptySeries") {
    val dir = java.nio.file.Files.createTempDirectory("rtxff").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    // two slots in [120,240); each series present in exactly ONE
    Bgutil.write(db, "xf.a", 120L, 2.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "xf.b", 180L, 4.0, "60*60s:24*3600s", "average")

    def vals(target: String): Seq[Option[Double]] =
      RenderTarget.render(db, target, 120L, 240L).orderBy("ts")
        .collect().toSeq.map(r =>
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))

    // without the context: half-present slots are kept
    assert(vals("aggregate(group(xf.a,xf.b),'sum')") ===
      Seq(Some(2.0), Some(4.0)))
    // inner setXFilesFactor(…, 1.0) → the ENCLOSING aggregate demands
    // all series present per slot; both slots are half-present → null
    assert(vals("aggregate(setXFilesFactor(group(xf.a,xf.b),1.0),'sum')") ===
      Seq(None, None))
    // canonical-name combine reads the context too (graphite's
    // sumSeries delegates to aggregate, which reads requestContext)
    assert(vals("sumSeries(setXFilesFactor(xf.a,1.0),xf.b)") ===
      Seq(None, None))
    // removeEmptySeries: each series fills 1 of its 2 slots → dropped
    // at the context's xff=1.0, kept when an EXPLICIT 0 overrides it
    assert(RenderTarget.render(db,
      "removeEmptySeries(setXFilesFactor(group(xf.a,xf.b),1.0))",
      120L, 240L).count() === 0L)
    assert(RenderTarget.render(db,
      "removeEmptySeries(setXFilesFactor(group(xf.a,xf.b),1.0),0)",
      120L, 240L).count() === 4L)
    intercept[IllegalArgumentException] {
      RenderTarget.render(db, "setXFilesFactor(xf.a,1.5)", 120L, 240L)
    }
  }

  test("nested call in second-series position raises a clear error") {
    val dir = java.nio.file.Files.createTempDirectory("rt2").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    Bgutil.write(db, "a.b", 120L, 1.0, "60*60s:24*3600s", "average")
    val e = intercept[IllegalArgumentException] {
      RenderTarget.render(db, "divideSeries(a.b,sumSeries(a.b))", 0L, 300L)
    }
    assert(e.getMessage.contains("not supported"))
  }

  test("bgutil render honours its maxDataPoints argument") {
    val dir = java.nio.file.Files.createTempDirectory("rtcli").toString
    val db = Db(spark, dir)
    Bgutil.writePoints(db, (0 until 20).map(i => ("sys.req.count",
      i * 60L, i.toDouble)), "60*60s:24*3600s", "average")
    val target = "scale(sys.req.count,2)"
    val full = cliRender(db, target, "0", "1200")
    val budget = cliRender(db, target, "0", "1200", "10")
    assert(full.length === 20)
    assert(budget.length === 10, budget)
    val want = RenderTarget.render(db, target, 0L, 1200L, 10)
      .orderBy("ts").collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(budget === want)
  }

  test("targets speak graphite's names only: combine is unknown") {
    val dir = java.nio.file.Files.createTempDirectory("rtnames").toString
    val db = Db(spark, dir)
    Bgutil.write(db, "a.x", 120L, 2.0, "60*60s:24*3600s", "average")
    for (t <- Seq("combine(a.x,sum,total)", "highest(a.x,1)",
        "sortBy(a.x,'maxima')")) {
      val e = intercept[IllegalArgumentException](
        RenderTarget.render(db, t, 120L, 180L))
      assert(e.getMessage ===
        s"render: unknown function '${t.takeWhile(_ != '(')}'")
    }
    // scale takes graphite's one factor; offset carries the addend
    intercept[IllegalArgumentException](
      RenderTarget.render(db, "scale(a.x,2,1)", 120L, 180L))
    val off = RenderTarget.render(db, "offset(scale(a.x,2),1)", 120L, 180L)
      .collect().collectFirst { case r if !r.isNullAt(2) => r.getDouble(2) }
    assert(off === Some(5.0))
  }
}

object RenderTargetSpec {
  /** The (name, ts, value) rows of a `show()` table, as `bgutil render`
    * prints it; NULL is a missing value. */
  def showRows(table: String): Seq[(String, Long, Option[Double])] = {
    val lines = table.linesIterator.filter(_.startsWith("|")).toSeq
    def cells(l: String) = l.split("\\|").map(_.trim).drop(1)
    val header = cells(lines.head)
    val (n, t, v) = (header.indexOf("name"), header.indexOf("ts"),
      header.indexOf("value"))
    lines.tail.map(cells).map(c =>
      (c(n), c(t).toLong, if (c(v) == "NULL") None else Some(c(v).toDouble)))
  }

  /** Run `bgutil render <args…>` and read back the rows it prints. */
  def cliRender(db: Db, args: String*): Seq[(String, Long, Option[Double])] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Bgutil.run(db, "render", args.toArray))
    showRows(out.toString("UTF-8"))
  }
}
