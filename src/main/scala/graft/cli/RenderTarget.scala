package graft.cli

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}

import graft.operators.{HoltWinters, SeriesFunctions => SF}

/** Parser + evaluator for graphite-web render TARGET expressions —
  * `target=sumSeries(movingAverage(sys.cpu.*.load,10))` — the request
  * shape every graphite dashboard emits and the one render language of
  * both the `/render` face and `bgutil render` (the reference hands these
  * to graphite-web verbatim; here the nested expression compiles into
  * one plan downstream of the pruned store scans).
  *
  * Grammar (recursive descent, no dependencies):
  * {{{
  *   expr    := call | path
  *   call    := ident '(' expr (',' arg)* ')'
  *   arg     := expr | number | 'string' | "string"
  *   path    := metric glob chars ([\w.*?{}\[\],-] — commas only inside
  *              braces)
  * }}}
  *
  * Every function is dispatched by its graphite name ([[applyFn]]).
  * Functions whose SECOND series argument is itself a nested call are
  * supported when that argument is a plain path/glob (divideSeries(a.*,
  * b.total) — the dashboard-typical shape); a nested call there raises a
  * clear error rather than silently mis-parsing. */
object RenderTarget {

  // ---- tokenizer/parser ------------------------------------------------

  sealed trait Node
  final case class PathNode(glob: String) extends Node
  final case class CallNode(fn: String, series: Node, args: List[String],
    raw: String) extends Node

  def parse(target: String): Node = {
    val p = new Parser(target.trim)
    val n = p.parseExpr()
    p.skipWs()
    require(p.eof, s"trailing input at ${p.pos}: '${p.rest}'")
    n
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def rest: String = s.substring(pos)
    def skipWs(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1

    private def isPathChar(c: Char, braceDepth: Int): Boolean =
      c.isLetterOrDigit || "._-*?{}[]".indexOf(c) >= 0 ||
        (c == ',' && braceDepth > 0)

    def parseExpr(): Node = {
      skipWs()
      // a quoted string in series position: source functions take their
      // NAME there (timeFunction("x"), constantLine('1.5')) — parse it
      // as a PathNode carrying the unquoted text; a call can't follow
      if (!eof && (s.charAt(pos) == '\'' || s.charAt(pos) == '"')) {
        val quote = s.charAt(pos)
        pos += 1
        val start = pos
        while (!eof && s.charAt(pos) != quote) pos += 1
        require(!eof, s"unterminated string at $start in '$s'")
        val v = s.substring(start, pos)
        pos += 1
        return PathNode(v)
      }
      val start = pos
      // read an identifier/path run first, then decide call vs path
      var depth = 0
      while (!eof && isPathChar(s.charAt(pos), depth)) {
        if (s.charAt(pos) == '{') depth += 1
        if (s.charAt(pos) == '}') depth -= 1
        pos += 1
      }
      val word = s.substring(start, pos)
      require(word.nonEmpty, s"expected expression at $start in '$s'")
      skipWs()
      if (!eof && s.charAt(pos) == '(') {
        pos += 1 // '('
        val series = parseExpr()
        val args = scala.collection.mutable.ListBuffer.empty[String]
        skipWs()
        while (!eof && s.charAt(pos) == ',') {
          pos += 1
          args += parseArg()
          skipWs()
        }
        require(!eof && s.charAt(pos) == ')', s"expected ')' at $pos in '$s'")
        pos += 1
        CallNode(word, series, args.toList, s.substring(start, pos))
      } else PathNode(word)
    }

    /** A scalar argument: quoted string, or a bare run up to the next
      * top-level ',' or ')' (numbers, stat names, regexes). A nested
      * call in scalar position is kept as raw text — [[applyFn]]
      * treats series-valued args as globs, and [[eval]] rejects
      * parenthesized text there with a clear error. */
    def parseArg(): String = {
      skipWs()
      if (!eof && (s.charAt(pos) == '\'' || s.charAt(pos) == '"')) {
        val quote = s.charAt(pos)
        pos += 1
        val start = pos
        while (!eof && s.charAt(pos) != quote) pos += 1
        require(!eof, s"unterminated string at $start in '$s'")
        val v = s.substring(start, pos)
        pos += 1
        v
      } else {
        val start = pos
        // track BOTH paren and brace depth: series-valued args can be
        // brace globs ({b,c}.y) whose inner commas must not split
        var depth = 0
        while (!eof && (depth > 0 || (s.charAt(pos) != ',' && s.charAt(pos) != ')'))) {
          val c = s.charAt(pos)
          if (c == '(' || c == '{') depth += 1
          if (c == ')' || c == '}') depth -= 1
          pos += 1
        }
        s.substring(start, pos).trim
      }
    }
  }

  // ---- evaluation ------------------------------------------------------

  /** The combine family takes VARARG series lists in graphite —
    * `sumSeries(a.*, b.*)` — evaluated here by unioning every operand
    * before the slot-wise combine. `avg` is graphite's registered alias
    * for averageSeries; `multiplySeries` is the same shape (its optional
    * scalar is an alias, so without the union path a second SERIES
    * operand would be consumed as the alias and silently dropped). */
  private val CombineFns = Set("sumSeries", "averageSeries", "avg",
    "minSeries", "maxSeries", "countSeries", "rangeOfSeries",
    "stddevSeries", "multiplySeries", "powSeries")

  /** Per-target evaluation state: `setXFilesFactor` sets the DEFAULT
    * xFilesFactor that later-evaluated functions read, exactly like
    * graphite's requestContext['xFilesFactor'] (functions.py
    * setXFilesFactor) — arguments evaluate before their enclosing call,
    * so an inner setXFilesFactor governs every function wrapping it.
    * Scope is one target expression (graphite scopes it to the whole
    * request; a request here is one render() call per target).
    * `nowS` is the request's reference instant, when it pins one: every
    * leaf read — shifted windows included — measures stage age from it,
    * as graphite's fetch does from requestContext['now']. */
  private final class EvalCtx(val nowS: Option[Long]) {
    var xff: Option[Double] = None
  }

  /** Evaluate a parsed target against a db and time window.
    * `maxDataPoints` consolidates the leaf reads like graphite's render
    * parameter of the same name (0 = no consolidation); `nowS` pins the
    * instant the leaf reads pick their stage by (default: each read's
    * window end). */
  def eval(db: Bgutil.Db, node: Node, startS: Long, endS: Long,
      maxDataPoints: Int = 0, nowS: Option[Long] = None): DataFrame =
    evalC(db, node, startS, endS, maxDataPoints, new EvalCtx(nowS))

  private def evalC(db: Bgutil.Db, node: Node, startS: Long, endS: Long,
      maxDataPoints: Int, ctx: EvalCtx): DataFrame =
    node match {
      case PathNode(glob) =>
        Bgutil.read(db, glob, startS, endS, maxDataPoints, ctx.nowS)
      // constantLine is a SOURCE, not a transform: its one argument is
      // the value, which the grammar necessarily parsed as the series
      case CallNode("constantLine", PathNode(v), Nil, _) =>
        SF.constantLine(db.spark, v.toDouble, startS, endS)
      // timeFunction("name"[, stepS]) is likewise a SOURCE: a synthetic
      // series whose value is the timestamp, on the step grid
      // (identity('name') is its registered alias)
      // step arguments accept both raw seconds and graphite's quoted
      // interval strings ('30min'), like every other interval position
      case CallNode("timeFunction" | "time" | "identity",
          PathNode(name), args, _) =>
        val step = if (args.nonEmpty) parseInterval(args.head) else 60L
        SF.timeFunction(db.spark, name, startS, endS, step)
      // threshold(value[, 'label'[, 'color']]): a labeled constantLine
      // (the color is a draw attribute the data layer doesn't carry)
      case CallNode("threshold", PathNode(v), args, _) =>
        import org.apache.spark.sql.functions.lit
        SF.constantLine(db.spark, v.toDouble, startS, endS)
          .withColumn("name", lit(args.headOption.getOrElse(v)))
      case CallNode("sinFunction" | "sin", PathNode(name), args, _) =>
        val amp = if (args.nonEmpty) args.head.trim.toDouble else 1.0
        val step = if (args.length > 1) parseInterval(args(1)) else 60L
        SF.sinFunction(db.spark, name, amp, startS, endS, step)
      case CallNode("randomWalkFunction" | "randomWalk",
          PathNode(name), args, _) =>
        val step = if (args.nonEmpty) parseInterval(args.head) else 60L
        SF.randomWalk(db.spark, name, startS, endS, step)
      // verticalLine('ts'[, 'label']): the instant parses in graphite's
      // render time syntax, relative to the window end
      case CallNode("verticalLine", PathNode(ts), args, _) =>
        SF.verticalLine(db.spark, parseTime(ts, endS),
          args.headOption.getOrElse(ts))
      // group(series, series, ...): union the operands verbatim — the
      // combine family's fetch shape without a slot-wise combine
      case CallNode("group", series, args, _) =>
        seriesOperands("group", series, args)
          .map(evalC(db, _, startS, endS, maxDataPoints, ctx))
          .reduce(_ unionByName _)
      // setXFilesFactor(series, xff) — graphite's stateful context
      // setter: the series passes through UNCHANGED and every function
      // evaluated afterwards (i.e. every enclosing call) defaults its
      // xFilesFactor to this value. Set AFTER evaluating the subtree so
      // with nested setters the outermost one governs the enclosing
      // functions, matching python's argument-then-call order.
      case CallNode("setXFilesFactor" | "xFilesFactor", series,
          List(x), _) =>
        val out = evalC(db, series, startS, endS, maxDataPoints, ctx)
        val v = x.trim.toDouble
        require(v >= 0 && v <= 1, s"setXFilesFactor out of [0,1]: $v")
        ctx.xff = Some(v)
        out
      // applyByNode(series, nodeNum, 'template'): evaluate the quoted
      // template once per distinct node prefix with % replaced — the
      // per-host derived-metric pattern
      // (applyByNode(h.*.disk.*, 1, 'sumSeries(%.disk.*.used)')).
      // Graphite resolves the prefix list driver-side and so do we:
      // the list is display-sized (glob-capped), never points-sized.
      case CallNode("applyByNode", series, List(nodeArg, template), _) =>
        val nodeNum = nodeArg.toInt
        require(template.contains("%"),
          "applyByNode: template must contain a % placeholder")
        // the name list comes from the CATALOG — evaluating the series
        // here would scan the points store for the whole window only to
        // throw the data away (each prefix template re-reads anyway)
        val names = series match {
          case PathNode(glob) =>
            Bgutil.resolve(db, glob).map(_.name).toArray
          case other =>
            evalC(db, other, startS, endS, maxDataPoints, ctx)
              .select("name").distinct().collect().map(_.getString(0))
        }
        val prefixes = names
          .map(_.split("\\.").take(nodeNum + 1).mkString("."))
          .distinct.sorted
        require(prefixes.nonEmpty, "applyByNode: no series matched")
        prefixes.map { p =>
          evalC(db, parse(template.replace("%", p)), startS, endS,
            maxDataPoints, ctx)
        }.reduce(_ unionByName _)
      // aliasQuery(series, search, replace, newName): per series, run
      // the query derived by regex-substituting the name, take the
      // LAST value of the result, and format it into the legend
      // (functions.py aliasQuery — raises when a query matches
      // nothing). Series list and one scalar per series are
      // display-sized; each query re-evaluates like applyByNode.
      case CallNode("aliasQuery", series,
          List(search, replace, newName), _) =>
        import org.apache.spark.sql.functions.{lit, max_by}
        val base = evalC(db, series, startS, endS, maxDataPoints, ctx)
        val names = base.select("name").distinct().collect()
          .map(_.getString(0)).sorted
        val javaReplace = replace.replaceAll("""\\(\d)""", "\\$$1")
        // an empty series list aliases to an empty result, like
        // graphite's zero-iteration loop
        if (names.isEmpty) base
        else names.map { n =>
          val q = n.replaceAll(search, javaReplace)
          val res = evalC(db, parse(q), startS, endS, 0, ctx)
          // graphite takes the FIRST matched series (deterministic
          // name order here) and its last value — not the freshest
          // value across every match
          val first = res.select("name").distinct().orderBy("name")
            .limit(1).collect().headOption.map(_.getString(0))
            .getOrElse(throw new IllegalArgumentException(
              s"aliasQuery: no series for query: $q"))
          val lastVal = res
            .filter(col("name") === first && col("value").isNotNull)
            .select(max_by(col("value"), col("ts"))).collect()
            .headOption.filterNot(_.isNullAt(0)).map(_.getDouble(0))
            .getOrElse(throw new IllegalArgumentException(
              s"aliasQuery: no data for query: $q"))
          base.filter(col("name") === n)
            .withColumn("name", lit(pythonFormat(newName, lastVal)))
        }.reduce(_ unionByName _)
      // varargs series: union all operands, then combine slot-wise
      case CallNode(fn, series, args, raw)
          if CombineFns(fn) && args.nonEmpty =>
        val operands = seriesOperands(fn, series, args)
          .map(evalC(db, _, startS, endS, maxDataPoints, ctx))
        // powSeries folds in ARGUMENT order and pow is non-commutative:
        // prefix each operand's names with its position so the fold's
        // sorted-name order IS the argument order (within one glob the
        // fetch order is already the sorted match list, like graphite).
        // The prefix never leaks — the combine renames to `raw`.
        val ordered =
          if (fn == "powSeries")
            operands.zipWithIndex.map { case (d, i) =>
              import org.apache.spark.sql.functions.{concat, lit}
              d.withColumn("name", concat(lit(f"$i%05d|"), col("name")))
            }
          else operands
        // the union's legend is the call text: multiplySeries/powSeries
        // take it as their alias argument, the rest read `raw`
        val alias =
          if (fn == "multiplySeries" || fn == "powSeries") List(raw) else Nil
        applyFn(db, ordered.reduce(_ unionByName _), fn, alias, raw,
          startS, endS, maxDataPoints, ctx)
      // graphite's timeShift('1d') means "draw data from 1d AGO": the
      // FETCH window shifts into the past and the timestamps shift
      // forward onto the requested window (an unsigned offset implies
      // minus, functions.py prepends '-'). A post-fetch relabel alone
      // would push every point outside [startS, endS) and render empty.
      case CallNode("timeShift", series, List(offset), _) =>
        val raw = parseInterval(offset)
        val back = math.abs(raw) // '1d' and '-1d' both mean the past
        val fwd = offset.trim.startsWith("+")
        val (s0, s1, delta) =
          if (fwd) (startS + back, endS + back, -back)
          else (startS - back, endS - back, back)
        SF.timeShift(evalC(db, series, s0, s1, maxDataPoints, ctx), delta)
      // timeStack likewise overlays PAST data onto the requested window:
      // copy k draws from [startS-k·Δ, endS-k·Δ]. Fetch once over the
      // union of those windows ([startS-endK·Δ, endS]), shift, and clip —
      // a post-fetch shift of the unwidened window would land every
      // non-zero-k copy entirely outside [startS, endS).
      case CallNode("timeStack", series, args, _)
          if args.nonEmpty && args.length <= 3 =>
        val shiftS = math.abs(parseInterval(args.head))
        val startK = if (args.length > 1) args(1).trim.toInt else 0
        val endK = if (args.length > 2) args(2).trim.toInt else 7
        // consolidation OFF for the widened fetch: a maxDataPoints
        // budget spread over the endK×-wider window would coarsen the
        // spine and shift its anchor, so shifted copies would miss the
        // requested window's slots
        val widened =
          evalC(db, series, startS - endK * shiftS, endS, 0, ctx)
        SF.timeStack(widened, shiftS, startK, endK)
          .filter(col("ts") >= startS && col("ts") < endS)
      // the sources and window-moving functions above take exactly
      // their graphite shapes; any other shape is refused by name
      case CallNode(fn @ ("constantLine" | "timeShift" | "timeStack"),
          _, _, raw) =>
        throw new IllegalArgumentException(s"$fn: unsupported call '$raw'")
      case CallNode(fn, series, args, raw) =>
        args.find(a => a.contains("(")).foreach { a =>
          throw new IllegalArgumentException(
            s"$fn: nested call in scalar/second-series position " +
              s"('$a') is not supported — use a plain path/glob there")
        }
        applyFn(db, evalC(db, series, startS, endS, maxDataPoints, ctx),
          fn, args, raw, startS, endS, maxDataPoints, ctx)
    }

  /** A varargs call's series operands: the parsed first one, then every
    * further argument as a plain path/glob. */
  private def seriesOperands(fn: String, series: Node,
      args: List[String]): List[Node] =
    series :: args.map { a =>
      require(!a.contains("("),
        s"$fn: nested call operands are not supported — " +
          "use plain paths/globs")
      PathNode(a)
    }

  /** Parse + evaluate in one step (the /render endpoint's entry). */
  def render(db: Bgutil.Db, target: String, startS: Long,
      endS: Long, maxDataPoints: Int = 0,
      nowS: Option[Long] = None): DataFrame =
    eval(db, parse(target), startS, endS, maxDataPoints, nowS)

  /** One function application, keyed on graphite's function name. `raw`
    * is the call's text, the combine family's legend. `ctx` carries the
    * request's reference instant into the SECOND-operand reads
    * (divideSeries, diffSeries, asPercent's total, fallbackSeries,
    * weightedAverage, the *SeriesLists pairs, useSeriesAbove), which
    * also take the request's consolidation budget — without both, a
    * consolidated or staged main series would ts-join an operand on
    * another spine and miss every slot. Argument reads are TRACKED: an
    * argument the function never reads is a user error (wrong arity, a
    * varargs shape it doesn't take) and fails loudly, not silently. */
  private def applyFn(db: Bgutil.Db, df: DataFrame, fn: String,
      args: List[String], raw: String, startS: Long, endS: Long,
      maxDataPoints: Int, ctx: EvalCtx): DataFrame = {
    val n = args.length
    var used = 0
    def arg(i: Int): String = {
      if (i >= n) throw new IllegalArgumentException(
        s"$fn: missing argument ${i + 1} (got $n: ${args.mkString(", ")})")
      used = math.max(used, i + 1)
      args(i)
    }
    def opt(i: Int): Option[String] = if (i < n) Some(arg(i)) else None
    def num(i: Int): Double = arg(i).toDouble
    // graphite interval arguments may be quoted time strings ('1hour',
    // '30min') — accept both raw seconds and unit syntax
    def interval(i: Int): Long = parseInterval(arg(i))
    // moving-window sizes must be point counts: a '5min'-style window
    // needs the series step, which a set engine derives per series —
    // reject the time-string form with a usable message
    def points(i: Int): Int = {
      val v = arg(i)
      try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$fn: window must be a POINT COUNT, got '$v' (time-string " +
            "windows are not supported; divide by the series step)")
      }
    }
    // a trailing node list (aliasByNode(s,1,3)): at least one node
    def nodes(from: Int): Seq[Int] =
      (from until math.max(n, from + 1)).map(arg(_).toInt)
    def operand(i: Int): DataFrame =
      Bgutil.read(db, arg(i), startS, endS, maxDataPoints, ctx.nowS)
    // an explicit xFilesFactor wins over the setXFilesFactor default
    def combine(f: String, xff: Option[String] = None): DataFrame =
      xff.map(_.toDouble).orElse(ctx.xff) match {
        case Some(x) => SF.combineSeriesXff(df, f, raw, x)
        case None => SF.combineSeries(df, f, raw)
      }
    val out = fn match {
      case "perSecond" => SF.perSecond(df, opt(0).map(_.toDouble))
      case "derivative" => SF.derivative(df)
      case "nonNegativeDerivative" =>
        SF.nonNegativeDerivative(df, opt(0).map(_.toDouble))
      case "integral" => SF.integral(df)
      case "keepLastValue" => opt(0) match {
        case Some(limit) => SF.keepLastValueLimited(df, limit.toInt)
        case None => SF.keepLastValue(df)
      }
      case "filterSeries" => SF.filterSeries(df, arg(0), arg(1), num(2))
      case "legendValue" => SF.legendValue(df, args.indices.map(arg))
      case "aliasByMetric" => SF.aliasByNode(df, Seq(-1))
      // draw-option functions: graphite attaches render attributes the
      // data layer doesn't carry — pass through, CONSUMING the args so
      // the unused-argument guard stays meaningful
      case "secondYAxis" | "drawAsInfinite" => df
      case "color" | "alpha" | "lineWidth" => arg(0); df
      case "dashed" => opt(0); df
      case "movingAverage" => SF.movingAverage(df, points(0))
      case "scale" => SF.scaleOffset(df, num(0))
      case "offset" | "add" => SF.scaleOffset(df, 1.0, num(0))
      case "summarize" => SF.summarize(df, interval(0), arg(1))
      case "sumSeries" => combine("sum")
      case "averageSeries" | "avg" => combine("avg")
      case "minSeries" => combine("min")
      case "maxSeries" => combine("max")
      case "countSeries" => combine("count")
      case "rangeOfSeries" => combine("range")
      case "stddevSeries" => combine("stddev")
      // the modern general combine: aggregate(seriesList, 'fn'
      // [, xFilesFactor]) — graphite's fn aliases normalized to the
      // combine's names
      case "aggregate" => combine(arg(0) match {
        case "average" => "avg"
        case "total" => "sum"
        case "rangeOf" => "range"
        case g => g
      }, opt(1))
      case "highestMax" => SF.highest(df, arg(0).toInt, "max")
      case "highestAverage" => SF.highest(df, arg(0).toInt, "average")
      case "highestCurrent" => SF.highest(df, arg(0).toInt, "current")
      case "lowestAverage" => SF.lowest(df, arg(0).toInt, "average")
      case "lowestCurrent" => SF.lowest(df, arg(0).toInt, "current")
      case "aliasByNode" => SF.aliasByNode(df, nodes(0))
      case "alias" => SF.aliasSeries(df, arg(0))
      case "movingMedian" => SF.movingMedian(df, points(0))
      case "movingMin" => SF.movingMin(df, points(0))
      case "movingMax" => SF.movingMax(df, points(0))
      case "movingSum" => SF.movingSum(df, points(0))
      case "removeAboveValue" => SF.removeAboveValue(df, num(0))
      case "removeBelowValue" => SF.removeBelowValue(df, num(0))
      case "offsetToZero" => SF.offsetToZero(df)
      case "invert" => SF.invert(df)
      case "pow" => SF.powSeries(df, num(0))
      case "squareRoot" => SF.squareRoot(df)
      case "stdev" => SF.stdev(df, points(0))
      case "exclude" => SF.exclude(df, arg(0))
      case "grep" => SF.grep(df, arg(0))
      case "currentAbove" => SF.currentAbove(df, num(0))
      case "currentBelow" => SF.currentAbove(df, num(0), above = false)
      case "integralByInterval" => SF.integralByInterval(df, interval(0))
      case "sortByMaxima" => SF.sortSeries(df, "maxima")
      case "sortByMinima" => SF.sortSeries(df, "minima")
      case "sortByTotal" => SF.sortSeries(df, "total")
      case "sortByName" => SF.sortSeries(df, "name")
      case "groupByNode" => SF.groupByNode(df, arg(0).toInt, arg(1))
      case "averageAbove" => SF.averageAbove(df, num(0))
      case "averageBelow" => SF.averageAbove(df, num(0), above = false)
      // second form: an explicit total — graphite accepts either a
      // totalSeries glob (read like divideSeries' divisor) or a
      // constant number
      case "asPercent" => opt(0) match {
        case None => SF.asPercent(df)
        case Some(total) => total.toDoubleOption match {
          case Some(t) =>
            require(t != 0, "asPercent: constant total must be non-zero")
            SF.scaleOffset(df, 100.0 / t)
          case None => SF.asPercentOf(df, operand(0))
        }
      }
      case "stacked" => SF.stacked(df)
      case "areaBetween" => SF.areaBetween(df)
      case "cactiStyle" => SF.cactiStyle(df)
      case "minMax" => SF.minMax(df)
      case "aggregateWithWildcards" =>
        SF.seriesWithWildcards(df, arg(0), nodes(1))
      case "absolute" => SF.absolute(df)
      case "logarithm" | "log" =>
        SF.logarithm(df, opt(0).fold(10.0)(_.toDouble))
      case "clamp" => SF.clamp(df, Some(num(0)), Some(num(1)))
      case "transformNull" =>
        SF.transformNull(df, opt(0).fold(0.0)(_.toDouble))
      case "nPercentile" => SF.nPercentile(df, num(0))
      case "removeAbovePercentile" => SF.removeAbovePercentile(df, num(0))
      case "removeBelowPercentile" => SF.removeBelowPercentile(df, num(0))
      case "maximumAbove" => SF.maximumAbove(df, num(0))
      case "maximumBelow" => SF.maximumAbove(df, num(0), above = false)
      case "minimumAbove" => SF.minimumBelow(df, num(0), below = false)
      case "minimumBelow" => SF.minimumBelow(df, num(0))
      case "divideSeries" => SF.divideSeries(df, operand(0))
      case "diffSeries" =>
        SF.diffSeries(df, operand(0), opt(1).getOrElse("diffSeries"))
      case "hitcount" => SF.hitcount(df, interval(0))
      case "changed" => SF.changed(df)
      case "delay" => SF.delay(df, points(0))
      case "timeSlice" => SF.timeSlice(df, arg(0).toLong, arg(1).toLong)
      case "linearRegression" => SF.linearRegression(df)
      case "holtWintersForecast" => HoltWinters.forecast(df, arg(0).toLong)
      // the confidence AREA is the bands with an area draw mode — the
      // data layer carries the same two series
      case "holtWintersConfidenceBands" | "holtWintersConfidenceArea" =>
        HoltWinters.confidenceBands(df, arg(0).toLong)
      case "holtWintersAberration" => HoltWinters.aberration(df, arg(0).toLong)
      case "weightedAverage" => SF.weightedAverage(df, operand(0), nodes(1))
      case "multiplySeries" =>
        SF.multiplySeries(df, opt(0).getOrElse("multiplySeries"))
      case "percentileOfSeries" => SF.percentileOfSeries(df, num(0))
      case "mostDeviant" => SF.mostDeviant(df, arg(0).toInt)
      case "averageOutsidePercentile" =>
        SF.averageOutsidePercentile(df, num(0))
      case "substr" =>
        SF.substrSeries(df, arg(0).toInt, opt(1).fold(0)(_.toInt))
      case "aliasSub" => SF.aliasSub(df, arg(0), arg(1))
      case "scaleToSeconds" => SF.scaleToSeconds(df, interval(0))
      case "smartSummarize" =>
        SF.smartSummarize(df, interval(0), arg(1), startS)
      case "interpolate" => SF.interpolate(df)
      case "isNonNull" => SF.isNonNull(df)
      case "round" => SF.roundFunction(df, opt(0).fold(0)(_.toInt))
      case "sigmoid" => SF.sigmoid(df)
      case "logit" => SF.logit(df)
      case "exp" => SF.expFunction(df)
      case "aggregateLine" => SF.aggregateLine(df, opt(0).getOrElse("avg"))
      case "sumSeriesWithWildcards" =>
        SF.seriesWithWildcards(df, "sum", nodes(0))
      case "averageSeriesWithWildcards" =>
        SF.seriesWithWildcards(df, "avg", nodes(0))
      case "multiplySeriesWithWildcards" =>
        SF.seriesWithWildcards(df, "multiply", nodes(0))
      case "fallbackSeries" => SF.fallbackSeries(df, operand(0))
      case "exponentialMovingAverage" =>
        SF.exponentialMovingAverage(df, arg(0).toInt)
      case "groupByNodes" => SF.groupByNodes(df, arg(0), nodes(1))
      case "toLowerCase" => SF.toLowerCaseSeries(df)
      case "toUpperCase" => SF.toUpperCaseSeries(df)
      // pie-mode reducers: terminal (name, value) shape
      case "pieAverage" => SF.pieValue(df, "average")
      case "pieMaximum" => SF.pieValue(df, "maximum")
      case "pieMinimum" => SF.pieValue(df, "minimum")
      case "unique" => SF.uniqueSeries(df)
      case "limit" => SF.limitSeries(df, arg(0).toInt)
      // graphite's consolidateBy(series, 'fn') takes the point budget
      // from the request's maxDataPoints; an explicit second argument
      // fixes the budget
      case "consolidateBy" =>
        val budget = opt(1).fold(maxDataPoints)(_.toInt)
        require(budget > 0,
          "consolidateBy: no point budget — pass one explicitly or " +
            "set the request's maxDataPoints")
        SF.consolidateBy(df, arg(0), budget)
      case "movingWindow" =>
        SF.movingWindow(df, points(0), opt(1).getOrElse("average"))
      // graphite's removeEmptySeries reads the setXFilesFactor default
      // when no explicit xFilesFactor is passed, like the combine family
      case "removeEmptySeries" => SF.removeEmptySeries(df,
        opt(0).map(_.toDouble).orElse(ctx.xff).getOrElse(0.0))
      case "removeBetweenPercentile" => SF.removeBetweenPercentile(df, num(0))
      case "powSeries" => SF.powSeriesList(df, opt(0).getOrElse("powSeries"))
      // cumulative = consolidateBy(series, 'sum'): only meaningful when
      // the request carries a consolidation budget
      case "cumulative" =>
        if (maxDataPoints > 0) SF.consolidateBy(df, "sum", maxDataPoints)
        else df
      // mapSeries' grouping is implicit in reduceSeries' key (the name
      // minus the reduce node) — consume the map nodes so the
      // unused-argument guard holds
      case "mapSeries" => args.indices.foreach(arg); df
      case "reduceSeries" =>
        SF.reduceSeries(df, arg(0), arg(1).toInt, (2 until n).map(arg))
      case "useSeriesAbove" => useSeriesAbove(db, df, num(0), arg(1),
        arg(2), startS, endS, maxDataPoints, ctx.nowS)
      case "sumSeriesLists" => SF.pairwiseSeriesLists(df, operand(0), "sum")
      case "diffSeriesLists" => SF.pairwiseSeriesLists(df, operand(0), "diff")
      case "multiplySeriesLists" =>
        SF.pairwiseSeriesLists(df, operand(0), "multiply")
      case "divideSeriesLists" =>
        SF.pairwiseSeriesLists(df, operand(0), "divide")
      case "aggregateSeriesLists" =>
        SF.pairwiseSeriesLists(df, operand(0), arg(1) match {
          case "total" => "sum"
          case f => f
        })
      case other =>
        throw new IllegalArgumentException(s"render: unknown function '$other'")
    }
    if (used < n)
      throw new IllegalArgumentException(
        s"$fn: ${n - used} unused argument(s) " +
          s"(${args.drop(used).mkString(", ")}) — wrong arity or an " +
          "unsupported varargs shape")
    out
  }

  /** `useSeriesAbove(seriesList, value, search, replace)`: for each
    * input series whose max exceeds `value`, fetch the companion metric
    * named by the regex substitution search→replace (functions.py
    * useSeriesAbove — the "swap request rate for its latency twin"
    * helper). The qualifying name list is display-sized (the input is a
    * glob-capped fetch), resolved driver-side like applyByNode. */
  private def useSeriesAbove(db: Bgutil.Db, df: DataFrame, value: Double,
      search: String, replace: String, startS: Long, endS: Long,
      maxDataPoints: Int, nowS: Option[Long]): DataFrame = {
    val names = df.groupBy("name").agg(max("value").as("__m"))
      .filter(col("__m") > value)
      .select("name").collect().map(_.getString(0))
    val derived = names.map(_.replaceAll(search, replace)).distinct.sorted
    if (derived.isEmpty) df.limit(0)
    else derived.map(n => Bgutil.read(db, n, startS, endS, maxDataPoints, nowS))
      .reduce(_ unionByName _)
  }

  /** Python %-format for aliasQuery legends ('%d cores', '%.1f qps'):
    * the numeric conversions graphite's newName takes. %d truncates
    * like python's int conversion, %g strips trailing zeros like
    * python's, %% is a literal percent. A newName that consumes no
    * value, or uses a conversion python would reject, raises — python
    * errors on both ('not all arguments converted' / ValueError). */
  private[cli] def pythonFormat(fmt: String, value: Double): String = {
    val out = new StringBuilder
    var i = 0
    var conversions = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c != '%') { out.append(c); i += 1 }
      else if (i + 1 < fmt.length && fmt.charAt(i + 1) == '%') {
        out.append('%'); i += 2
      } else {
        var j = i + 1
        while (j < fmt.length &&
            (fmt.charAt(j).isDigit || fmt.charAt(j) == '.')) j += 1
        if (j >= fmt.length) throw new IllegalArgumentException(
          s"aliasQuery: incomplete % conversion in: $fmt")
        val spec = fmt.substring(i + 1, j) // [width][.precision]
        out.append(fmt.charAt(j) match {
          case 'd' | 'i' =>
            val width = spec.takeWhile(_ != '.')
            if (width.isEmpty) value.toLong.toString
            else String.format(s"%${width}d", Long.box(value.toLong))
          case cv @ ('f' | 'F' | 'e' | 'E') =>
            String.format(s"%$spec$cv", Double.box(value))
          case 'g' | 'G' => pythonG(spec, value)
          case 's' => value.toString
          case other => throw new IllegalArgumentException(
            s"aliasQuery: unsupported conversion %$other in: $fmt")
        })
        conversions += 1
        i = j + 1
      }
    }
    require(conversions > 0,
      s"aliasQuery: newName has no % conversion: $fmt")
    out.toString
  }

  /** Python's %g: `precision` (default 6) significant digits with
    * trailing zeros stripped — java's %g keeps them. */
  private def pythonG(spec: String, value: Double): String = {
    val prec = spec.dropWhile(_ != '.') match {
      case "" => 6
      case p => math.max(1, p.drop(1).toInt)
    }
    def strip(mant: String): String =
      if (mant.contains('.'))
        mant.replaceAll("0+$", "").replaceAll("\\.$", "")
      else mant
    val s = String.format(s"%.${prec}g", Double.box(value))
    val idx = s.indexWhere(ch => ch == 'e' || ch == 'E')
    if (idx < 0) strip(s)
    else strip(s.substring(0, idx)) + s.substring(idx)
  }

  /** Graphite render-API time syntax → epoch seconds: absolute epoch,
    * `now`, or `-N<unit>` relative to `nowS` (graphite's
    * attime.parseTimeOffset units: s, min, h, d, w, mon, y). Dashboards
    * send `from=-6h&until=now` on every refresh, so the web face must
    * speak this. */
  def parseTime(spec: String, nowS: Long): Long = {
    // toLong on a >19-digit run raises NumberFormatException; request
    // text must only ever escape as the deliberate diagnostics
    def num(digits: String): Long =
      try digits.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"bad time spec: $spec") }
    val s = spec.trim
    if (s == "now" || s.isEmpty) nowS
    else if (s.forall(_.isDigit)) num(s)
    else if (s.startsWith("-") || s.startsWith("+")) {
      val sign = if (s.startsWith("-")) -1L else 1L
      val body = s.drop(1)
      val (numStr, unit) = body.span(_.isDigit)
      require(numStr.nonEmpty, s"bad time offset: $spec")
      val mult = unit match {
        case "s" | "sec" | "seconds" | "second" => 1L
        case "min" | "minutes" | "minute" => 60L
        case "h" | "hours" | "hour" => 3600L
        case "d" | "days" | "day" => 86400L
        case "w" | "weeks" | "week" => 7L * 86400
        case "mon" | "months" | "month" => 30L * 86400
        case "y" | "years" | "year" => 365L * 86400
        case other => throw new IllegalArgumentException(
          s"bad time unit '$other' in: $spec")
      }
      nowS + sign * num(numStr) * mult
    } else throw new IllegalArgumentException(s"bad time spec: $spec")
  }

  /** Graphite interval syntax → seconds: raw (possibly negative)
    * seconds, or `N<unit>` strings like '1hour'/'30min'/'-1d' — the
    * form render functions receive as quoted arguments
    * (summarize(s,'1hour','sum')). */
  def parseInterval(spec: String): Long = {
    val s = spec.trim
    val (signStr, body) =
      if (s.startsWith("-") || s.startsWith("+")) (s.take(1), s.drop(1))
      else ("", s)
    val sign = if (signStr == "-") -1L else 1L
    if (body.forall(_.isDigit) && body.nonEmpty)
      sign * (try body.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"bad interval: $spec") })
    else sign * math.abs(parseTime(s"-$body", 0L))
  }
}
