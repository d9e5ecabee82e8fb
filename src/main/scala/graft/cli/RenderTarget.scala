package graft.cli

import org.apache.spark.sql.DataFrame

/** Parser + evaluator for graphite-web render TARGET expressions —
  * `target=sumSeries(movingAverage(sys.cpu.*.load,10))` — the request
  * shape every graphite dashboard emits (the reference hands these to
  * graphite-web verbatim; here they compile onto the same
  * [[Bgutil.applyRenderFn]] dispatch the CLI chain uses, so one plan
  * serves the whole nested expression).
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
  * Graphite canonical names map onto the library's forms (sumSeries →
  * slot-wise combine with the raw call text as the alias, highestMax →
  * highest:max, offset → scale-with-add, …). Functions whose SECOND
  * series argument is itself a nested call are supported when that
  * argument is a plain path/glob (divideSeries(a.*, b.total) — the
  * dashboard-typical shape); a nested call there raises a clear error
  * rather than silently mis-parsing. */
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
      * call in scalar position is kept as raw text — applyRenderFn
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

  /** Graphite canonical name → (library fn, leading literal args).
    * Names already matching the CLI dispatch pass through untouched. */
  private def mapped(fn: String, raw: String, args: List[String])
      : (String, List[String]) = fn match {
    case "sumSeries" => ("combine", List("sum", raw))
    case "averageSeries" | "avg" => ("combine", List("avg", raw))
    case "minSeries" => ("combine", List("min", raw))
    case "maxSeries" => ("combine", List("max", raw))
    case "countSeries" => ("combine", List("count", raw))
    case "rangeOfSeries" => ("combine", List("range", raw))
    case "stddevSeries" => ("combine", List("stddev", raw))
    case "highestMax" => ("highest", args :+ "max")
    case "highestAverage" => ("highest", args :+ "average")
    case "highestCurrent" => ("highest", args :+ "current")
    case "lowestAverage" => ("lowest", args :+ "average")
    case "lowestCurrent" => ("lowest", args :+ "current")
    case "sortByMaxima" => ("sortBy", List("maxima"))
    case "sortByMinima" => ("sortBy", List("minima"))
    case "sortByTotal" => ("sortBy", List("total"))
    case "sortByName" => ("sortBy", List("name"))
    case "offset" | "add" => ("scale", "1.0" :: args)
    case "log" => ("logarithm", args)
    // the modern general combine: aggregate(seriesList, 'fn'
    // [, xFilesFactor]) — fn aliases normalized to the dispatch's
    // combine names; the optional third argument is graphite's
    // xFilesFactor (slot kept only when enough series are present).
    // Anything further must fail loudly, not drop.
    case "aggregate" =>
      val f = args.headOption.getOrElse(throw new IllegalArgumentException(
        "aggregate: missing function argument")) match {
        case "average" => "avg"
        case "total" => "sum"
        case "rangeOf" => "range"
        case g => g
      }
      if (args.length > 2) throw new IllegalArgumentException(
        s"aggregate: unsupported trailing argument(s) " +
          s"${args.drop(2).mkString(", ")}")
      ("combine", List(f, raw) ++ args.drop(1))
    case other => (other, args)
  }

  /** The combine family takes VARARG series lists in graphite —
    * `sumSeries(a.*, b.*)` — evaluated here by unioning every operand
    * before the slot-wise combine. `avg` is graphite's registered alias
    * for averageSeries; `multiplySeries` is the same shape with its own
    * dispatch name (its optional scalar is an alias, so without the
    * union path a second SERIES operand would be consumed as the alias
    * and silently dropped). */
  private val CombineFns = Set("sumSeries", "averageSeries", "avg",
    "minSeries", "maxSeries", "countSeries", "rangeOfSeries",
    "stddevSeries", "multiplySeries", "powSeries")

  /** Functions whose trailing arguments are an integer vararg list the
    * dispatch takes as ONE comma-joined argument. */
  private val IntVarargFns = Set("aliasByNode", "sumSeriesWithWildcards",
    "averageSeriesWithWildcards")

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

  /** Consumers of the context default: the combine family (graphite's
    * aggregate reads requestContext when no explicit xff is passed) and
    * removeEmptySeries (same rule). An EXPLICIT xff argument wins. */
  private def withCtxXff(name: String, finalArgs: List[String],
      ctx: EvalCtx): List[String] = ctx.xff match {
    case Some(x) if name == "combine" && finalArgs.length == 2 =>
      finalArgs :+ x.toString
    case Some(x) if name == "removeEmptySeries" && finalArgs.isEmpty =>
      List(x.toString)
    case _ => finalArgs
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
        graft.operators.SeriesFunctions.constantLine(
          db.spark, v.toDouble, startS, endS)
      // timeFunction("name"[, stepS]) is likewise a SOURCE: a synthetic
      // series whose value is the timestamp, on the step grid
      // (identity('name') is its registered alias)
      // step arguments accept both raw seconds and graphite's quoted
      // interval strings ('30min'), like every other interval position
      case CallNode("timeFunction" | "time" | "identity",
          PathNode(name), args, _) =>
        val step = if (args.nonEmpty) parseInterval(args.head) else 60L
        graft.operators.SeriesFunctions.timeFunction(
          db.spark, name, startS, endS, step)
      // threshold(value[, 'label'[, 'color']]): a labeled constantLine
      // (the color is a draw attribute the data layer doesn't carry)
      case CallNode("threshold", PathNode(v), args, _) =>
        import org.apache.spark.sql.functions.lit
        graft.operators.SeriesFunctions
          .constantLine(db.spark, v.toDouble, startS, endS)
          .withColumn("name", lit(args.headOption.getOrElse(v)))
      case CallNode("sinFunction" | "sin", PathNode(name), args, _) =>
        val amp = if (args.nonEmpty) args.head.trim.toDouble else 1.0
        val step = if (args.length > 1) parseInterval(args(1)) else 60L
        graft.operators.SeriesFunctions.sinFunction(
          db.spark, name, amp, startS, endS, step)
      case CallNode("randomWalkFunction" | "randomWalk",
          PathNode(name), args, _) =>
        val step = if (args.nonEmpty) parseInterval(args.head) else 60L
        graft.operators.SeriesFunctions.randomWalk(
          db.spark, name, startS, endS, step)
      // verticalLine('ts'[, 'label']): the instant parses in graphite's
      // render time syntax, relative to the window end
      case CallNode("verticalLine", PathNode(ts), args, _) =>
        graft.operators.SeriesFunctions.verticalLine(
          db.spark, parseTime(ts, endS), args.headOption.getOrElse(ts))
      // group(series, series, ...): union the operands verbatim — the
      // combine family's fetch shape without a slot-wise combine
      case CallNode("group", series, args, _) =>
        (series :: args.map { a =>
          require(!a.contains("("),
            "group: nested call operands are not supported — " +
              "use plain paths/globs")
          PathNode(a)
        }).map(evalC(db, _, startS, endS, maxDataPoints, ctx))
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
        import org.apache.spark.sql.functions.{col, lit, max_by}
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
        val operands = (series :: args.map { a =>
          require(!a.contains("("),
            s"$fn: nested call operands are not supported — " +
              "use plain paths/globs")
          PathNode(a)
        }).map(evalC(db, _, startS, endS, maxDataPoints, ctx))
        // powSeries folds in ARGUMENT order and pow is non-commutative:
        // prefix each operand's names with its position so the fold's
        // sorted-name order IS the argument order (within one glob the
        // fetch order is already the sorted match list, like graphite).
        // The prefix never leaks — the combine renames to `raw`.
        val ordered =
          if (fn == "powSeries")
            operands.zipWithIndex.map { case (d, i) =>
              import org.apache.spark.sql.functions.{col, concat, lit}
              d.withColumn("name", concat(lit(f"$i%05d|"), col("name")))
            }
          else operands
        val unioned = ordered.reduce(_ unionByName _)
        val (name, finalArgs) =
          if (fn == "multiplySeries" || fn == "powSeries") (fn, List(raw))
          else mapped(fn, raw, Nil)
        Bgutil.applyRenderFn(db, unioned, name,
          withCtxXff(name, finalArgs, ctx).toIndexedSeq,
          startS, endS, maxDataPoints, ctx.nowS)
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
        graft.operators.SeriesFunctions.timeShift(
          evalC(db, series, s0, s1, maxDataPoints, ctx), delta)
      // timeStack likewise overlays PAST data onto the requested window:
      // copy k draws from [startS-k·Δ, endS-k·Δ]. Fetch once over the
      // union of those windows ([startS-endK·Δ, endS]), shift, and clip —
      // a post-fetch shift of the unwidened window would land every
      // non-zero-k copy entirely outside [startS, endS).
      case CallNode("timeStack", series, args, _) if args.nonEmpty =>
        import org.apache.spark.sql.functions.col
        val shiftS = math.abs(parseInterval(args.head))
        val startK = if (args.length > 1) args(1).trim.toInt else 0
        val endK = if (args.length > 2) args(2).trim.toInt else 7
        // consolidation OFF for the widened fetch: a maxDataPoints
        // budget spread over the endK×-wider window would coarsen the
        // spine and shift its anchor, so shifted copies would miss the
        // requested window's slots
        val widened =
          evalC(db, series, startS - endK * shiftS, endS, 0, ctx)
        graft.operators.SeriesFunctions
          .timeStack(widened, shiftS, startK, endK)
          .filter(col("ts") >= startS && col("ts") < endS)
      case CallNode(fn, series, args, raw) =>
        args.find(a => a.contains("(")).foreach { a =>
          throw new IllegalArgumentException(
            s"$fn: nested call in scalar/second-series position " +
              s"('$a') is not supported — use a plain path/glob there")
        }
        val df = evalC(db, series, startS, endS, maxDataPoints, ctx)
        // integer varargs collapse to the dispatch's comma-joined form:
        // aliasByNode(s,1,3) → aliasByNode:1,3 ; groupByNodes keeps its
        // function first, nodes joined
        val joined = fn match {
          case f if IntVarargFns(f) && args.length > 1 =>
            List(args.mkString(","))
          case "groupByNodes" | "aggregateWithWildcards"
              if args.length > 2 =>
            List(args.head, args.tail.mkString(","))
          case _ => args
        }
        val (name, finalArgs) = mapped(fn, raw, joined)
        Bgutil.applyRenderFn(db, df, name,
          withCtxXff(name, finalArgs, ctx).toIndexedSeq,
          startS, endS, maxDataPoints, ctx.nowS)
    }

  /** Parse + evaluate in one step (the /render endpoint's entry). */
  def render(db: Bgutil.Db, target: String, startS: Long,
      endS: Long, maxDataPoints: Int = 0,
      nowS: Option[Long] = None): DataFrame =
    eval(db, parse(target), startS, endS, maxDataPoints, nowS)

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
