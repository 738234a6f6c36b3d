package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.{toCol, toExpr}
import org.apache.spark.sql.types.{ArrayType, StringType, TimestampType}

import EngineFunction.{aggregator, scalar}

/** Reference-named functions re-expressed over Spark built-ins: one table,
  * [[functions]], of Catalyst builders, with the Column-API spellings
  * calling the same builders.
  *
  * The reference exposes ~100 expression-language functions
  * (`math/expr/Function.java`) plus SQL operator conversions
  * (`sql/.../expression/builtin/`). Nearly all map onto Catalyst built-in
  * expressions (codegen'd, vectorized); the builders add the reference's
  * names and edge semantics and keep everything inside whole-stage codegen
  * (no UDFs anywhere in this file).
  */
object DruidFunctions {

  // ---------------------------------------------------------------- time ----
  // Reference: TIME_FLOOR / TIME_CEIL / TIME_SHIFT / TIME_EXTRACT / TIME_FORMAT
  // (query/expression/TimestampFloorExprMacro.java etc.) with ISO-8601 periods
  // (PeriodGranularity.java). Calendar periods map to date_trunc; fixed-length
  // periods are computed with exact integer arithmetic on epoch micros so the
  // semantics (floor relative to origin) hold for any PT…/P…D period.

  private val CalendarPeriods: Map[String, String] = Map(
    "P1Y" -> "year", "P3M" -> "quarter", "P1M" -> "month", "P1W" -> "week",
    "P1D" -> "day", "PT1H" -> "hour", "PT1M" -> "minute", "PT1S" -> "second")

  /** Multi-month calendar periods (P2Y, P6M, …): months per bucket.
    * PeriodGranularity.java:417,436 aligns year/month MULTIPLES on the
    * default origin 1970-01; the single-unit periods P1Y/P3M/P1M resolve
    * through [[CalendarPeriods]] first and never reach this.
    */
  private[graft] def monthsOf(period: String): Option[Int] = {
    val Y = """P(\d+)Y""".r
    val M = """P(\d+)M""".r
    period match {
      // n == 0 falls through to periodMicros's loud "period must be
      // positive" — P0M must not reach Pmod(m, 0) and silently NULL
      case Y(n) if n.toInt > 0 => Some(n.toInt * 12)
      case M(n) if n.toInt > 0 => Some(n.toInt)
      case _ => None
    }
  }

  /** Fixed-length ISO period → microseconds (days/hours/minutes/seconds only;
    * calendar periods are handled by date_trunc above).
    */
  private[graft] def periodMicros(period: String): Long = {
    // fractional seconds allowed (ISO-8601 decimal fraction on the smallest
    // unit): PT0.5S etc. — the facade's arbitrary-millis DurationGranularity
    // (reference java/util/common/granularity/DurationGranularity.java)
    // multi-week periods (P2W…) are fixed-length and EPOCH-anchored like the
    // reference (PeriodGranularity.java:455 aligns week multiples on the
    // default origin, 1970-01-01 — a Thursday); single P1W is calendar
    // (Monday) and never reaches here
    val Re = """P(?:(\d+)W)?(?:(\d+)D)?(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?)?""".r
    period match {
      case Re(w, d, h, m, s) =>
        def v(x: String) = Option(x).map(_.toLong).getOrElse(0L)
        val secMicros = Option(s)
          .map(x => (BigDecimal(x) * 1_000_000).toLongExact).getOrElse(0L)
        val micros =
          (((v(w) * 7 + v(d)) * 24 + v(h)) * 60 + v(m)) * 60_000_000L + secMicros
        require(micros > 0, s"period must be positive: $period")
        micros
      case _ => throw new IllegalArgumentException(s"unsupported period: $period")
    }
  }

  /** Lenient ISO-8601 instant parse for TIME_FLOOR origin literals
    * (reference accepts '1970-01-01T00:30:00', with or without zone/'T',
    * or a bare date).
    */
  private def parseIsoMicros(s: String): Long = {
    val t = s.trim.replace(' ', 'T')
    val inst =
      scala.util.Try(java.time.Instant.parse(t))
        .orElse(scala.util.Try(java.time.LocalDateTime.parse(t)
          .toInstant(java.time.ZoneOffset.UTC)))
        .orElse(scala.util.Try(java.time.LocalDate.parse(t)
          .atStartOfDay.toInstant(java.time.ZoneOffset.UTC)))
        // Joda accepts PARTIAL instants — a bare '2000' or '2000-06' is
        // the period start (TIME_IN_INTERVAL('2000/P1D') in the Calcite
        // corpus)
        .orElse(scala.util.Try(java.time.Year.parse(t)
          .atDay(1).atStartOfDay.toInstant(java.time.ZoneOffset.UTC)))
        .orElse(scala.util.Try(java.time.YearMonth.parse(t)
          .atDay(1).atStartOfDay.toInstant(java.time.ZoneOffset.UTC)))
        .getOrElse(throw new IllegalArgumentException(
          s"unparseable TIME_FLOOR origin: $s"))
    inst.getEpochSecond * 1_000_000L + inst.getNano / 1000L
  }

  /** Calendar MONTH-multiple floor anchored at an explicit origin:
    * buckets are origin + k·n months (Joda plusMonths day-clamping via
    * AddMonths), the reference's PeriodGranularity.truncate with origin
    * (CalciteQueryTest testTimeseriesUsingTimeFloorWithOrigin: P1M at
    * 1970-01-01T01:02:03 floors 2000-01-01T00:00 into the
    * 1999-12-01T01:02:03 bucket). Runs in the frame of `t` — callers
    * pass zone-local t and a zone-local origin for timezone floors.
    */
  private def monthOriginFloor(
      t: org.apache.spark.sql.catalyst.expressions.Expression,
      n: Int, originUs: Long)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType}
    val odt = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(originUs, 1000000L),
      (Math.floorMod(originUs, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)
    val months0 = (odt.getYear - 1970) * 12 + odt.getMonthValue - 1
    val originDate = Literal(odt.toLocalDate.toEpochDay.toInt, DateType)
    val subDayUs = odt.toLocalTime.toNanoOfDay / 1000L
    // floor((monthsOf(t) - months0) / n) in exact integer arithmetic
    val mT = Add(Multiply(Subtract(Year(t), Literal(1970)), Literal(12)),
      Subtract(Month(t), Literal(1)))
    val diff = Subtract(mT, Literal(months0))
    val kMonths = Subtract(diff, Pmod(diff, Literal(n))) // k·n, exact
    def bucketUs(km: Expression): Expression =
      Add(Multiply(Cast(UnixDate(AddMonths(originDate,
        Cast(km, IntegerType))), LongType), Literal(86400000000L, LongType)),
        Literal(subDayUs, LongType))
    val cand = bucketUs(kMonths)
    // the candidate can sit above t within the same month (origin's
    // day/time offset) — step back one period
    MicrosToTimestamp(If(GreaterThan(cand, UnixMicros(t)),
      bucketUs(Subtract(kMonths, Literal(n))), cand))
  }

  /** SQL TIME_FLOOR(ts, period[, origin[, timezone]]) as a Catalyst builder
    * (reference `TimeFloorOperatorConversion` — the 3/4-arg forms the 2-arg
    * SQL macro could not express). period/origin/timezone must be literals
    * like the reference's PeriodGranularity construction. Timezone floors
    * happen in the zone's wall-clock frame (from_utc → floor → to_utc), so
    * calendar buckets anchor at zone-local midnight across DST; a non-null
    * origin anchors fixed-length buckets at origin + k*period. Calendar
    * periods with an explicit origin are rejected (Joda-chronology corner
    * the engine does not model).
    */
  private[graft] def timeFloorBuilder(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
    import org.apache.spark.unsafe.types.UTF8String
    require(args.size >= 2 && args.size <= 4,
      s"TIME_FLOOR(ts, period[, origin[, timezone]]), got ${args.size} args")
    val period = literalString(args(1), "TIME_FLOOR period").getOrElse(
      throw new IllegalArgumentException("TIME_FLOOR period must not be null"))
    val originMicros: Option[Long] = args.drop(2).headOption.flatMap {
      case Literal(null, _) => None
      case Literal(us: Long, TimestampType) => Some(us)
      case e => literalString(e, "TIME_FLOOR origin").map(parseIsoMicros)
    }
    val tz = timezoneArg(args.drop(3).headOption, "TIME_FLOOR")
    // month-based period size in months — the single-unit calendar
    // periods P1Y/P3M/P1M plus the PnY/PnM multiples
    def monthsFull(p: String): Option[Int] = p match {
      case "P1Y" => Some(12); case "P3M" => Some(3); case "P1M" => Some(1)
      case _ => monthsOf(p)
    }
    def floorFrame(t: Expression, origin: Option[Long]): Expression =
      CalendarPeriods.get(period) match {
        case Some(unit) if origin.isEmpty =>
          TruncTimestamp(Literal(UTF8String.fromString(unit), StringType), t)
        case Some(_) if monthsFull(period).isEmpty =>
          // P1W/P1D/PT… with an origin: fixed-length buckets anchored at
          // the origin (Joda's week/day periods lose their Monday/midnight
          // anchor once an origin is given — PeriodGranularity.truncate)
          val p = periodMicros(period)
          val o = Literal(origin.get, LongType)
          val rel = Subtract(UnixMicros(t), o)
          MicrosToTimestamp(Add(Subtract(rel, Pmod(rel, Literal(p, LongType))), o))
        case Some(_) =>
          monthOriginFloor(t, monthsFull(period).get, origin.get)
        case None if origin.isDefined && monthsFull(period).isDefined =>
          monthOriginFloor(t, monthsFull(period).get, origin.get)
        case None if origin.isEmpty && monthsOf(period).isDefined =>
          // calendar multiple (P2Y/P6M…): floor months-since-epoch
          import org.apache.spark.sql.types.IntegerType
          val n = monthsOf(period).get
          val m = Add(
            Multiply(Subtract(Year(t), Literal(1970)), Literal(12)),
            Subtract(Month(t), Literal(1)))
          val b = Subtract(m, Pmod(m, Literal(n)))
          val yr = Add(Literal(1970),
            Cast(IntegralDivide(Subtract(b, Pmod(b, Literal(12))),
              Literal(12)), IntegerType))
          Cast(MakeDate(yr, Add(Pmod(b, Literal(12)), Literal(1)),
            Literal(1)), TimestampType)
        case None =>
          val p = periodMicros(period)
          require(p > 0, s"TIME_FLOOR period must be positive: $period")
          val o = Literal(origin.getOrElse(0L), LongType)
          val rel = Subtract(UnixMicros(t), o)
          MicrosToTimestamp(Add(Subtract(rel, Pmod(rel, Literal(p, LongType))), o))
      }
    tz match {
      case None => floorFrame(args.head, originMicros)
      case Some(zone) =>
        val zoneLit = Literal(UTF8String.fromString(zone), StringType)
        // origin is an instant; anchor buckets at its wall-clock position
        // in the zone (offset resolved once, at the origin instant)
        ToUTCTimestamp(
          floorFrame(FromUTCTimestamp(args.head, zoneLit),
            originMicros.map(zoneLocalMicros(_, zone))),
          zoneLit)
    }
  }

  /** Add exactly one ISO period to a Catalyst expression — calendar units
    * via TimestampAdd (month lengths respected), fixed periods via exact
    * micros arithmetic.
    */
  private def addOnePeriod(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      period: String): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    CalendarPeriods.get(period) match {
      case Some(unit) => TimestampAdd(unit.toUpperCase, Literal(1L, LongType), e)
      case None if monthsOf(period).isDefined =>
        TimestampAdd("MONTH", Literal(monthsOf(period).get.toLong, LongType), e)
      case None =>
        MicrosToTimestamp(Add(UnixMicros(e), Literal(periodMicros(period), LongType)))
    }
  }

  /** SQL TIME_CEIL(ts, period[, origin[, timezone]]) — smallest bucket
    * boundary >= ts, computed as floor(ts − 1µs) + period inside the same
    * origin/timezone frame as TIME_FLOOR (the +period lands back outside,
    * so zone-local calendar ceilings track the DST line).
    */
  /** An instant's wall-clock position in `zone`, as shifted epoch micros —
    * how both floor and ceil anchor an origin inside the zone frame
    * (offset resolved once, at the origin instant).
    */
  private def zoneLocalMicros(om: Long, zone: String): Long = {
    val off = java.time.ZoneId.of(zone).getRules
      .getOffset(java.time.Instant.ofEpochSecond(
        Math.floorDiv(om, 1_000_000L),
        Math.floorMod(om, 1_000_000L) * 1000L)).getTotalSeconds
    om + off * 1_000_000L
  }

  private[graft] def timeCeilBuilder(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
    import org.apache.spark.unsafe.types.UTF8String
    require(args.size >= 2 && args.size <= 4,
      s"TIME_CEIL(ts, period[, origin[, timezone]]), got ${args.size} args")
    val period = literalString(args(1), "TIME_CEIL period").getOrElse(
      throw new IllegalArgumentException("TIME_CEIL period must not be null"))
    val originMicros: Option[Long] = args.drop(2).headOption.flatMap {
      case Literal(null, _) => None
      case Literal(us: Long, TimestampType) => Some(us)
      case e => literalString(e, "TIME_CEIL origin").map(parseIsoMicros)
    }
    val tz = timezoneArg(args.drop(3).headOption, "TIME_CEIL")
    val minus1 = MicrosToTimestamp(
      Subtract(UnixMicros(args.head), Literal(1L, LongType)))
    tz match {
      case None =>
        addOnePeriod(
          timeFloorBuilder(Seq(minus1, args(1)) ++ args.drop(2).take(1)),
          period)
      case Some(zone) =>
        // build the whole ceil in the zone's wall-clock frame, convert
        // once; origin anchors at its zone-local wall-clock position —
        // the SAME grid TIME_FLOOR uses, so ceil(x) is always the next
        // floor boundary
        val zoneLit = Literal(UTF8String.fromString(zone), StringType)
        val localOrigin = originMicros.map(om =>
          Literal(zoneLocalMicros(om, zone), TimestampType))
        val localArgs =
          Seq(FromUTCTimestamp(minus1, zoneLit), args(1)) ++ localOrigin
        ToUTCTimestamp(addOnePeriod(timeFloorBuilder(localArgs), period),
          zoneLit)
    }
  }

  /** SQL TIME_SHIFT(ts, period, n[, timezone]) — shift by n periods (n any
    * integer expression). Calendar shifts via TimestampAdd preserve the
    * time of day; with a timezone they happen in the zone's wall-clock
    * frame (a P1D shift across a DST transition is 23/25 UTC hours there,
    * like the reference's chronology-based shift).
    */
  private[graft] def timeShiftBuilder(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    require(args.size >= 3 && args.size <= 4,
      s"TIME_SHIFT(ts, period, n[, timezone]), got ${args.size} args")
    val period = literalString(args(1), "TIME_SHIFT period").getOrElse(
      throw new IllegalArgumentException("TIME_SHIFT period must not be null"))
    val n = Cast(args(2), LongType)
    val tz = timezoneArg(args.drop(3).headOption, "TIME_SHIFT")
    def shiftIn(t: Expression): Expression = CalendarPeriods.get(period) match {
      case Some(unit) => TimestampAdd(unit.toUpperCase, n, t)
      case None if monthsOf(period).isDefined =>
        TimestampAdd("MONTH",
          Multiply(n, Literal(monthsOf(period).get.toLong, LongType)), t)
      case None =>
        MicrosToTimestamp(Add(UnixMicros(t),
          Multiply(n, Literal(periodMicros(period), LongType))))
    }
    tz match {
      case None => shiftIn(args.head)
      case Some(zone) =>
        val zoneLit = Literal(UTF8String.fromString(zone), StringType)
        ToUTCTimestamp(shiftIn(FromUTCTimestamp(args.head, zoneLit)), zoneLit)
    }
  }

  /** Translate a Joda-Time DateTimeFormat pattern — the syntax the
    * reference's TIME_FORMAT / TIME_PARSE / timeFormat-extraction take
    * (org.joda.time.format.DateTimeFormat) — to the java.time
    * DateTimeFormatter syntax Spark's formatters use. The trap tokens:
    * Joda 'y' is the PROLEPTIC year (java 'u'), Joda 'Y' is year-of-era
    * (java 'y'), Joda 'x' is the ISO weekyear (java 'Y' — verbatim
    * passthrough would silently print week-based years for 'YYYY-MM-dd'
    * around every new year), and Joda's 'Z' family is offset/offset-with-
    * colon/zone-id ('xx'/'xxx'/'VV'). Quoted literals pass through
    * untouched; all other letters coincide.
    */
  private[graft] def jodaToJavaPattern(p: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '\'') {
        sb += c; i += 1
        while (i < p.length && p.charAt(i) != '\'') { sb += p.charAt(i); i += 1 }
        if (i < p.length) { sb += '\''; i += 1 }
      } else if (c.isLetter) {
        var j = i
        while (j < p.length && p.charAt(j) == c) j += 1
        val n = j - i
        sb ++= (c match {
          // Joda 'y' is the proleptic year — Spark's dialect FORBIDS a
          // literal 'u' but itself rewrites 'y' to proleptic 'u' when no
          // era field is present (DateTimeFormatterHelper), so 'y' passes
          // through; Joda 'Y' (year-of-era) matches 'y' for all CE years
          case 'Y' => "y" * n
          // Joda 'x' is the ISO weekyear; java.time 'Y'/'w' follow the
          // formatter LOCALE's week rules (US: Sunday start, minimal 1 day)
          // and would silently print different weeks than Joda near new
          // year — no faithful pattern exists, so reject loudly
          case 'x' | 'w' => throw new IllegalArgumentException(
            s"Joda ISO weekyear/week pattern '$c' has no locale-safe " +
              "java.time equivalent; use TIME_EXTRACT(ts, 'WEEK')")
          case 'Z' => if (n == 1) "xx" else if (n == 2) "xxx" else "VV"
          // Joda 'e' is the ISO day-of-week NUMBER (Monday=1); java.time's
          // 'e' is the LOCALIZED day-of-week (Sunday=1 under Spark's US
          // locale) — every value would silently shift by one day, so
          // reject loudly like the other locale-unsafe tokens
          case 'e' => throw new IllegalArgumentException(
            "Joda ISO day-of-week 'e' has no locale-safe java.time " +
              "equivalent; use TIME_EXTRACT(ts, 'DOW')")
          case 'C' => throw new IllegalArgumentException(
            "Joda century-of-era 'C' has no java.time equivalent")
          case other => other.toString * n
        })
        i = j
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** The reference aggregators' maxBytes argument must be a numeric
    * literal in [10, Int.MaxValue]: ExpressionLambdaAggregatorFactory
    * checks maxSizeBytes >= MIN_SIZE_BYTES (= 10) and
    * HumanReadableBytes.getBytesInInt rejects values past Integer range
    * (qaAggFuncs *_misc_test005: 'Not even a size', -1, 0, 1, 2147483648
    * all QueryInterruptedException; 2147483647 runs). The cap itself is a
    * capacity bound Spark doesn't need.
    */
  private def requirePositiveSizeLiteral(fn: String,
      e: org.apache.spark.sql.catalyst.expressions.Expression): Unit = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _)
      if v.longValue >= 10 && v.longValue <= Int.MaxValue => ()
    // the SQL dialect wraps integral casts (CAST(128 AS INTEGER)) in
    // DruidLongCast — unwrap for the literal check
    case graft.functions.DruidLongCast(inner, _, _) =>
      requirePositiveSizeLiteral(fn, inner)
    case c: org.apache.spark.sql.catalyst.expressions.Cast =>
      requirePositiveSizeLiteral(fn, c.child)
    case other => throw new IllegalArgumentException(
      s"$fn maxBytes must be a numeric literal in [10, ${Int.MaxValue}], " +
        s"got $other")
  }

  /** TRUNCATE/TRUNC(x[, d]) — truncate toward zero at d digits
    * (Function.java truncate; sign(x) · floor(|x|·10^d) / 10^d).
    */
  private def truncateToward0(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.DoubleType
    require(args.size == 1 || args.size == 2,
      s"truncate takes 1 or 2 arguments, got ${args.size}")
    val x = Cast(args(0), DoubleType)
    val p = Pow(Literal(10.0),
      if (args.size > 1) Cast(args(1), DoubleType) else Literal(0.0))
    Multiply(Signum(x),
      Divide(Cast(Floor(Multiply(Abs(x), p)), DoubleType), p))
  }

  /** Shared lpad/rpad edge semantics (Function.java LpadFunc/RpadFunc over
    * StringUtils.lpad/rpad): len == 0 → NULL, len < 0 → '', an EMPTY pad
    * that would be needed leaves the base untouched; otherwise Spark's
    * StringLPad/StringRPad pad-or-truncate is identical.
    */
  private def padEdge(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      left: Boolean): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.IntegerType
    import org.apache.spark.unsafe.types.UTF8String
    val str = Cast(args(0), StringType)
    val len = Cast(args(1), IntegerType)
    val pad =
      if (args.size > 2) Cast(args(2), StringType)
      else Literal(UTF8String.fromString(" "), StringType)
    val padded: Expression =
      if (left) StringLPad(str, len, pad) else StringRPad(str, len, pad)
    CaseWhen(Seq(
      (EqualTo(len, Literal(0)),
        Literal.create(null, StringType): Expression),
      (LessThan(len, Literal(0)),
        Literal(UTF8String.fromString(""), StringType): Expression),
      (And(EqualTo(Length(pad), Literal(0)), GreaterThan(len, Length(str))),
        str: Expression)),
      padded)
  }

  /** SQL TIME_EXTRACT(ts, unit[, timezone]) / TIME_FORMAT(ts[, pattern[,
    * timezone]]) / TIME_PARSE(s[, pattern[, timezone]]) builders —
    * reference TimestampExtract/TimeFormat/TimeParse operator conversions
    * with the timezone argument their 2-arg SQL macros could not carry.
    * Extract/format shift into the zone's wall clock (from_utc); parse
    * interprets the wall-clock string in the zone and returns the UTC
    * instant (to_utc). Unit/pattern/timezone must be literals, like the
    * reference's conversion-time extraction.
    */
  private[graft] def timeExtractBuilder(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    import org.apache.spark.unsafe.types.UTF8String
    require(args.size >= 2 && args.size <= 3,
      s"TIME_EXTRACT(ts, unit[, timezone]), got ${args.size} args")
    val unit = literalString(args(1), "TIME_EXTRACT unit").getOrElse(
      throw new IllegalArgumentException("TIME_EXTRACT unit must not be null"))
    val t = timezoneArg(args.drop(2).headOption, "TIME_EXTRACT")
      .map(z => FromUTCTimestamp(args.head,
        Literal(UTF8String.fromString(z), StringType)): Expression)
      .getOrElse(args.head)
    // unit is a literal, so the branch resolves at build time — no CASE in
    // the plan. DOW is Joda ISO (Monday=1..Sunday=7); EPOCH extracts the
    // true UTC instant regardless of the display zone, like the reference.
    // CENTURY/MILLENNIUM are DOUBLE in the reference (ceil of year/100|1000,
    // postgres semantics); every other unit is LONG
    unit.toUpperCase match {
      case "CENTURY" => Cast(Ceil(Divide(
        Cast(Year(t), org.apache.spark.sql.types.DoubleType),
        Literal(100.0))), org.apache.spark.sql.types.DoubleType)
      case "MILLENNIUM" => Cast(Ceil(Divide(
        Cast(Year(t), org.apache.spark.sql.types.DoubleType),
        Literal(1000.0))), org.apache.spark.sql.types.DoubleType)
      case longUnit =>
        val ext: Expression = longUnit match {
          // a DATE input widens to its midnight timestamp first (Calcite
          // accepts EXTRACT(EPOCH FROM DATE '1970-01-01'); UnixSeconds
          // takes only TIMESTAMP). The cast is pinned to UTC: a DATE's
          // epoch is timezone-independent in the reference (UTC
          // midnight), so a LOS_ANGELES session must not shift it
          case "EPOCH"  => UnixSeconds(
            Cast(args.head, org.apache.spark.sql.types.TimestampType,
              Some("UTC")))
          // MILLIS (epoch millis) is a documented extension beyond the
          // reference unit set; MILLISECOND is the reference's
          // millisOfSecond (Pmod keeps it in 0..999 pre-epoch too).
          // FLOOR division, not truncation: Joda's millis are the floor of
          // the instant, so epoch-1.5ms is millis -2 (→ 998), where a
          // truncating div would give -1 (→ 999)
          case "MILLIS" => floorMillis(args.head)
          case "MILLISECOND" =>
            Pmod(floorMillis(args.head), Literal(1000L, LongType))
          case "SECOND" => Second(t)
          case "MINUTE" => Minute(t)
          case "HOUR"   => Hour(t)
          case "DAY"    => DayOfMonth(t)
          case "DOW" | "ISODOW" =>
            Add(Pmod(Add(DayOfWeek(t), Literal(5)), Literal(7)), Literal(1))
          case "DOY"    => DayOfYear(t)
          case "WEEK"   => WeekOfYear(t)
          case "MONTH"  => Month(t)
          case "QUARTER" => Quarter(t)
          // reference ISOYEAR returns the calendar year (TimestampExtract
          // ExprMacro.java:100-101 routes ISOYEAR through year().get())
          case "YEAR" | "ISOYEAR" => Year(t)
          // postgres DECADE: year/10, truncating (reference :102-104)
          case "DECADE" => IntegralDivide(Year(t), Literal(10L, LongType))
          case u => throw new IllegalArgumentException(s"unsupported unit: $u")
        }
        Cast(ext, LongType)
    }
  }

  /** Epoch millis of an instant with FLOOR semantics (Joda `getMillis`):
    * truncating division is off by one for pre-epoch instants carrying
    * sub-millisecond micros (-1500 µs div 1000 = -1, floor = -2). Pmod's
    * non-negative remainder makes the subtraction exactly divisible, so the
    * truncating IntegralDivide then IS the floor.
    */
  private def floorMillis(
      ts: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal, Pmod, Subtract, UnixMicros}
    import org.apache.spark.sql.types.LongType
    val us = UnixMicros(ts)
    val k = Literal(1000L, LongType)
    IntegralDivide(Subtract(us, Pmod(us, k)), k)
  }

  private[graft] def timeFormatBuilder(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.unsafe.types.UTF8String
    require(args.nonEmpty && args.size <= 3,
      s"TIME_FORMAT(ts[, pattern[, timezone]]), got ${args.size} args")
    val tz = timezoneArg(args.drop(2).headOption, "TIME_FORMAT")
    // reference default pattern: ISO-8601 with millis and the zone
    // designator — 'Z' only under UTC; a real zone renders its offset
    // (e.g. +05:30), because the formatted wall time names a zone-local
    // instant, not UTC
    val pattern = args.drop(1).headOption
      .flatMap(e => literalString(e, "TIME_FORMAT pattern"))
      .map(jodaToJavaPattern)
      .getOrElse(
        if (tz.isDefined) "yyyy-MM-dd'T'HH:mm:ss.SSSxxx"
        else "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    // format the true instant IN the zone (DateFormatClass carries its own
    // zone id, which ResolveTimeZone leaves alone) — no wall-clock shift,
    // so offset designators in the pattern print the zone's real offset
    DateFormatClass(args.head,
      Literal(UTF8String.fromString(pattern), StringType),
      tz)
  }

  private[graft] def timeParseBuilder(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.TimestampType
    import org.apache.spark.unsafe.types.UTF8String
    require(args.nonEmpty && args.size <= 3,
      s"TIME_PARSE(s[, pattern[, timezone]]), got ${args.size} args")
    val pattern = args.drop(1).headOption
      .flatMap(e => literalString(e, "TIME_PARSE pattern"))
      .map(jodaToJavaPattern)
    val parsed: Expression = pattern match {
      // failOnError=false: the reference TimestampParseExprMacro catches
      // parse failures and returns NULL; the default here is ANSI-dependent
      // and would raise under Spark 4's ansi=on (and disagree with the
      // no-pattern TRY path below)
      case Some(p) =>
        GetTimestamp(args.head,
          Literal(UTF8String.fromString(p), StringType), TimestampType,
          "time_parse", None, false)
      // no pattern: Spark's string→timestamp cast is the reference's
      // lenient ISO parse ('T' or space separator), TRY → null on garbage
      case None => Cast(args.head, TimestampType, None, EvalMode.TRY)
    }
    timezoneArg(args.drop(2).headOption, "TIME_PARSE")
      .map(z => ToUTCTimestamp(parsed,
        Literal(UTF8String.fromString(z), StringType)): Expression)
      .getOrElse(parsed)
  }

  private def literalString(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    e match {
      case Literal(null, _) => None
      case Literal(s: UTF8String, StringType) => Some(s.toString)
      // a FOLDABLE expression is a literal to the reference's planner —
      // CAST('2000-01-01/P1Y' AS VARCHAR) plans as the constant
      // (testCountStarWithTimeInCastedIntervalFilter)
      case _ if e.foldable && e.dataType == StringType =>
        Option(e.eval(null)).map(_.toString)
      case _ => throw new IllegalArgumentException(s"$what must be a string literal")
    }
  }

  private def timezoneArg(
      e: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      fn: String): Option[String] =
    e.flatMap(x => literalString(x, s"$fn timezone"))
      .filterNot(z => z == "UTC" || z == "Etc/UTC" || z == "+00:00")

  // ------------------------------------------------------ Column API ----
  // The DataFrame spellings of table functions: each is one call of the
  // builder the SQL name runs, so a native query and SQL answer alike.

  /** TIME_FLOOR(ts, period[, origin]): floor `ts` to an ISO-8601 period
    * bucket, boundaries at origin + k*period (0 = no origin: calendar
    * periods align on their calendar unit, like the 2-argument SQL form).
    */
  def timeFloor(ts: Column, period: String, originEpochMicros: Long = 0L): Column =
    call("time_floor", ts, period,
      if (originEpochMicros == 0L) null
      else Literal(originEpochMicros, TimestampType))

  /** TIME_CEIL — smallest bucket boundary >= ts. */
  def timeCeil(ts: Column, period: String): Column =
    call("time_ceil", ts, period)

  /** TIME_SHIFT(ts, period, n) — shift by n periods, calendar periods
    * keeping the time of day.
    */
  def timeShift(ts: Column, period: String, n: Int): Column =
    call("time_shift", ts, period, n)

  /** TIME_EXTRACT(ts, unit) as INT for the units that fit one. The SQL
    * builder answers BIGINT, as the reference does, so this one keeps its
    * own expressions.
    */
  def timeExtract(ts: Column, unit: String): Column = unit.toUpperCase match {
    case "EPOCH"   => unix_timestamp(ts)
    case "MILLIS"  => (unix_micros(ts) / 1000L).cast("long")
    case "SECOND"  => second(ts)
    case "MINUTE"  => minute(ts)
    case "HOUR"    => hour(ts)
    case "DAY"     => dayofmonth(ts)
    // reference TimestampExtractExprMacro uses Joda ISO day-of-week
    // (Monday=1..Sunday=7); Spark dayofweek is Sunday=1..Saturday=7
    case "DOW" | "ISODOW" => ((dayofweek(ts) + lit(5)) % 7) + 1
    case "DOY"     => dayofyear(ts)
    case "WEEK"    => weekofyear(ts)
    case "MONTH"   => month(ts)
    case "QUARTER" => quarter(ts)
    case "YEAR"    => year(ts)
    case u => throw new IllegalArgumentException(s"unsupported unit: $u")
  }

  /** TIME_FORMAT(ts, jodaPattern). */
  def timeFormat(ts: Column, pattern: String): Column =
    call("time_format", ts, pattern)

  /** SAFE_DIVIDE — null (not error / Inf) on zero denominator
    * (reference `Function.java:1220`).
    */
  def safeDivide(x: Column, y: Column): Column = call("safe_divide", x, y)

  // Reference MVDs (multi-value string dimensions) are modelled as
  // ArrayType(StringType) (SURVEY.md §1.2).
  def mvLength(c: Column): Column = call("mv_length", c)
  def mvOverlap(a: Column, b: Column): Column = call("mv_overlap", a, b)
  // These two keep their own expressions, which the q_mv_ops gate pins:
  // through MV_CONTAINS its has_spark column turns nullable (a NULL array
  // answers FALSE there, NULL here), and through MV_FILTER_PREFIX a
  // document with no match counts NULL tokens (an empty match is NULL
  // there, `[]` here).
  def mvContains(c: Column, v: String): Column = array_contains(c, v)
  def mvFilterPrefix(c: Column, prefix: String): Column =
    filter(c, x => x.startsWith(prefix))
  def mvFilterRegex(c: Column, pattern: String): Column =
    call("mv_filter_regex", c, pattern)
  def mvToString(c: Column, sep: String): Column = call("mv_to_string", c, sep)
  /** MV_HARMONIZE_NULLS (Function.java harmonizeMultiValue:4769): null, [],
    * and [null] all coerce to the SINGLE-NULL array `[null]` — the shape
    * `ExpressionSelectors` homogenize produces — NOT an empty array, so
    * downstream mv_* fns and implicit scalar mapping see one row.
    */
  def mvHarmonizeNulls(c: Column): Column = {
    val cast = c.cast(ArrayType(StringType))
    when(cast.isNull || size(cast) === 0,
      array(lit(null).cast(StringType))).otherwise(cast)
  }

  /** JSON_VALUE(col, '$.path') — string-typed extraction like the reference. */
  def jsonValue(c: Column, path: String): Column = call("json_value", c, path)

  /** LOOKUP(expr, map[, replaceMissingWith]) over a literal map, the
    * probe the SQL `LOOKUP` builds for a named lookup.
    */
  def lookup(c: Column, mapping: Map[String, String],
             replaceMissing: Option[String] = None): Column =
    toCol(LookupRegistry.lookupOf(toExpr(c), mapping, replaceMissing.map(Literal(_))))

  /** IPV4_PARSE — dotted quad → long, NULL unless a valid address. */
  def ipv4Parse(c: Column): Column = call("ipv4_parse", c)

  /** IPV4_STRINGIFY — long → dotted quad. */
  def ipv4Stringify(c: Column): Column = call("ipv4_stringify", c)

  /** IPV4_MATCH(ip, 'a.b.c.d/n') — subnet containment. */
  def ipv4Match(ip: Column, subnet: String): Column =
    call("ipv4_match", ip, subnet)

  private lazy val byName: Map[String, EngineFunction] =
    functions.map(f => f.name -> f).toMap

  /** One table builder applied to Columns, expressions and literal values. */
  private def call(name: String, args: Any*): Column =
    toCol(byName(name).builder(args.map {
      case c: Column => toExpr(c)
      case e: org.apache.spark.sql.catalyst.expressions.Expression => e
      case v => Literal(v)
    }))

  // --------------------------------------------------------------- table ----
  /** Every reference-named function of this family, one entry each: the
    * variadic and arity-overloaded forms (STRING_FORMAT, PARSE_LONG, the
    * TIME_* family…), the polymorphic ARRAY_/MV_ surface
    * ([[arrayBuilders]]) and the fixed-arity functions the reference
    * defines in SQL ([[sqlMacros]]). All are pure built-in expressions,
    * fully codegen'd.
    */
  val functions: Seq[EngineFunction] = {
    import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, BitwiseNot, BitwiseOr, BitwiseXor, Cast, Conv, EvalMode, Expression, FormatString, Greatest, If, IsNull, Least, LessThan, Literal, Or, ShiftLeft, ShiftRight, StringRepeat}
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    // Java's Formatter can't print Spark Decimal through %f — SQL fractional
    // literals parse as Decimal, so coerce them (reference expr args are
    // double-typed already)
    def fmtArg(e: Expression): Expression = e match {
      case _ if e.resolved && e.dataType.isInstanceOf[DecimalType] =>
        Cast(e, DoubleType)
      case _ => e
    }
    // native bivariate max/min: integral pairs stay exact (Least/Greatest on
    // longs — a double round-trip would lose precision past 2^53), any
    // floating operand goes through java.lang.Math so NaN propagates
    def druidMinMax(args: Seq[Expression], op: String): Expression = {
      require(args.size == 2, s"$op takes 2 arguments, got ${args.size}")
      import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
      val integral = args.forall(e => e.resolved &&
        Seq(ByteType, ShortType, IntegerType, LongType).exists(_ == e.dataType))
      val core: Expression =
        if (integral) { if (op == "max") Greatest(args) else Least(args) }
        else org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[java.lang.Math], DoubleType, op,
          Seq(Cast(args(0), DoubleType), Cast(args(1), DoubleType)),
          Seq(DoubleType, DoubleType))
      If(Or(IsNull(args(0)), IsNull(args(1))),
        Literal.create(null, org.apache.spark.sql.types.NullType), core)
    }
    // NestedDataExpressions JsonValue macro over JsonWalk, parameterized by
    // walker method: "value" (SQL layer — negative indexes NULL, matching
    // NestedFieldVirtualColumn planning) vs "valueNative" (native macro —
    // negative indexes resolve from the end). Optional third arg = native
    // type name (JsonValueCastExpr, NestedDataExpressions.java:493-530):
    // TRY-cast of the walked value.
    def jsonValueBuilder(method: String): Seq[Expression] => Expression =
      (args: Seq[Expression]) => {
        require(args.size == 2 || args.size == 3,
          s"json_value takes 2 or 3 arguments, got ${args.size}")
        // auto-typed tables (druid.autojson tag) read specialized field
        // columns — single-element arrays unwrap, negative indexes work
        // (CalciteNestedDataQueryTest) — dispatched at resolution
        val walked: Expression =
          if (method == "value")
            JsonWalkDispatch(args(0), args(1), "valueTyped", "value",
              StringType)
          else org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
            JsonWalk.getClass, StringType, method,
            Seq(JsonInputText(args(0)), Cast(args(1), StringType)),
            Seq(StringType, StringType), propagateNull = false)
        if (args.size == 2) walked
        else {
          val tpe = args(2) match {
            case Literal(s, StringType) if s != null => s.toString.toUpperCase
            case other => throw new IllegalArgumentException(
              s"json_value type argument must be a string literal, got $other")
          }
          tpe match {
            case "LONG"   => Cast(walked, LongType, None, EvalMode.TRY)
            case "DOUBLE" => Cast(walked,
              org.apache.spark.sql.types.DoubleType, None, EvalMode.TRY)
            case "STRING" => walked
            case "ARRAY<LONG>" =>
              org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
                Seq("from_json"), Seq(walked, Literal("array<bigint>")), false)
            case "ARRAY<DOUBLE>" =>
              org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
                Seq("from_json"), Seq(walked, Literal("array<double>")), false)
            case "ARRAY<STRING>" =>
              org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
                Seq("from_json"), Seq(walked, Literal("array<string>")), false)
            case other => throw new IllegalArgumentException(
              s"json_value: invalid output type [$other]")
          }
        }
      }
    Seq(
      // nonStrictFormat: an illegal pattern degrades to "pattern; arg; …"
      // instead of erroring (StringUtils.nonStrictFormat:381)
      scalar("string_format", "_FUNC_(pattern, arg...)")(args =>
        NonStrictFormat(args.head +: args.tail.map(fmtArg))),
      // native-expression cast(x, 'TYPE') (Function.java CastFunc:1986) —
      // NativeJsonQuery.rewriteNativeExpr reroutes `cast(` here; the SQL
      // layer's CAST … AS keeps Spark's builtin
      scalar("druid_cast", "_FUNC_(expr, 'TYPE')")(args => {
        require(args.size == 2, s"cast takes 2 arguments, got ${args.size}")
        val tname = args(1) match {
          case Literal(u: org.apache.spark.unsafe.types.UTF8String,
            org.apache.spark.sql.types.StringType) => u.toString
          case _ => throw new IllegalArgumentException(
            "cast type must be a string literal")
        }
        DruidCast(args(0), tname)
      }),
      // reference NestedDataExpressions json_object: VARIADIC key/value
      // pairs with heterogeneous value types. Foldable (literal) keys build
      // a named_struct (type-preserving JSON: numbers stay numbers,
      // booleans stay booleans); non-literal keys fall back to a map
      // (values then share one coerced type, like Spark's map())
      scalar("json_object", "_FUNC_(key, value[, key, value...])")(args => {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        import org.apache.spark.sql.catalyst.expressions.{Cast, CreateMap, CreateNamedStruct, StructsToJson}
        import org.apache.spark.sql.types.{NullType, StringType}
        require(args.size % 2 == 0,
          s"JSON_OBJECT takes key/value pairs, got ${args.size} arguments")
        // JSON_OBJECT() with no pairs is the empty object (the reference's
        // JsonObjectExprMacro builds an empty map)
        if (args.isEmpty)
          Literal(org.apache.spark.unsafe.types.UTF8String
            .fromString("{}"), StringType)
        else {
        // (COMPLEX<json>-valued pairs — json_query / nested json_object
        // values — are handled upstream by SqlApi.jsonObject, which
        // splices their serialized text order-preserved; by the time this
        // builder runs, children are plain typed expressions)
        // reference value typing (JsonObjectExprMacro over ExprEval):
        // BOOLEAN is a LONG 1/0 ({"a":1}, not true), TIMESTAMP is epoch
        // millis ({"a":1640995200000}); a bare NULL value would make an
        // untyped NullType field StructsToJson rejects — type it as string
        def coerce(v: Expression): Expression =
          if (!v.resolved) v
          else v.dataType match {
            case NullType => Cast(v, StringType)
            case org.apache.spark.sql.types.BooleanType =>
              Cast(v, org.apache.spark.sql.types.LongType)
            case org.apache.spark.sql.types.TimestampType =>
              UnresolvedFunction(Seq("unix_millis"), Seq(v), false)
            case _ => v
          }
        val keysFoldable = args.grouped(2).forall(_.head.foldable)
        val child =
          if (keysFoldable) {
            // keys coerce to string like the reference (an integer-literal
            // key is legal); DUPLICATE keys keep the LAST value
            // (funcs_and_sql_func_json_object: 'aaa'×3 → {"aaa":"A3"}),
            // resolved here when every key folds to a comparable string
            val pairs = args.grouped(2).map { case Seq(k, v) =>
              val keyText = try {
                Option(Cast(k, StringType).eval(null)).map(_.toString)
              } catch { case _: Exception => None }
              (keyText, k, v)
            }.toSeq
            val deduped =
              if (pairs.forall(_._1.isDefined))
                pairs.groupBy(_._1).map(_._2.last).toSeq
                  .sortBy(p => pairs.indexWhere(_._1 == p._1))
              else pairs
            CreateNamedStruct(deduped.flatMap { case (_, k, v) =>
              Seq(Cast(k, StringType), coerce(v))
            })
          } else CreateMap(args.grouped(2).flatMap {
            case Seq(k, v) => Seq(k, coerce(v)) }.toSeq)
        // the reference's json_object KEEPS null-valued fields
        // ({"k":null}), matching the DuckDB oracle — Spark's generator
        // default drops them
        StructsToJson(Map("ignoreNullFields" -> "false"), child)
        }
      }),
      // Function.java ParseLong:715 — Long.parseLong semantics: signed,
      // radix-16 strips an 0x/0X prefix (:748), any invalid digit → NULL.
      // Spark's Conv is UNSIGNED and parses garbage to 0, so validate with
      // the radix's digit class first and route the sign around Conv. The
      // radix must be a literal (the reference vectorizes only that form).
      scalar("parse_long", "_FUNC_(str[, radix])")(args => args match {
        case Seq(s) => Cast(s, LongType, None, EvalMode.TRY)
        case Seq(s, radixE) =>
          import org.apache.spark.sql.catalyst.expressions.{RLike, StartsWith, Substring, UnaryMinus}
          import org.apache.spark.unsafe.types.UTF8String
          val radix = radixE match {
            case Literal(v: Int, _) => v
            case Literal(v: Long, _) => v.toInt
            case _ => throw new IllegalArgumentException(
              "parse_long radix must be an integer literal")
          }
          require(radix >= 2 && radix <= 36, s"radix [$radix] out of range")
          if (radix == 10) Cast(s, LongType, None, EvalMode.TRY)
          else {
            val digitClass =
              if (radix <= 10) s"0-${('0' + radix - 1).toChar}"
              else s"0-9a-${('a' + radix - 11).toChar}" +
                s"A-${('A' + radix - 11).toChar}"
            // Function.java ParseLong:748 — the 0x/0X prefix is stripped
            // only when the RAW input starts with it (before any sign), so
            // '-0xfF' reaches Long.parseLong un-stripped and NULLs out,
            // while '0x-ff' parses to -255; Long.parseLong itself accepts a
            // leading '+' or '-' after the prefix strip. (Long.MIN_VALUE's
            // magnitude overflows the TRY cast and yields NULL — accepted
            // 1-ulp divergence on the most pathological input.)
            val prefix = if (radix == 16) "(0[xX])?" else ""
            val pat = s"^$prefix[+-]?[$digitClass]+$$"
            val str = Cast(s, StringType)
            def lit(x: String) = Literal(UTF8String.fromString(x), StringType)
            val afterPrefix =
              if (radix == 16)
                If(Or(StartsWith(str, lit("0x")), StartsWith(str, lit("0X"))),
                  Substring(str, Literal(3), Literal(Int.MaxValue)), str)
              else str
            val neg = StartsWith(afterPrefix, lit("-"))
            val signless = If(Or(neg, StartsWith(afterPrefix, lit("+"))),
              Substring(afterPrefix, Literal(2), Literal(Int.MaxValue)),
              afterPrefix)
            val magLong = Cast(Conv(signless, Literal(radix), Literal(10)),
              LongType, None, EvalMode.TRY)
            If(RLike(str, lit(pat)),
              If(neg, UnaryMinus(magLong), magLong),
              Literal.create(null, LongType))
          }
        case other => throw new IllegalArgumentException(
          s"parse_long takes 1 or 2 arguments, got ${other.size}")
      }),
      // reference RegexpExtractOperatorConversion: group index defaults to 0
      // (the whole match) and a non-matching pattern yields NULL — Spark's
      // built-in returns '' and requires care with the index, so shadow it
      // with the reference's semantics
      // Druid LTrim/RTrimOperatorConversions: LTRIM(expr[, chars]) — but
      // Spark's legacy TWO-arg ltrim/rtrim take (trimStr, srcStr) REVERSED,
      // so ltrim('xxabcxx','x') would silently trim 'x' by 'xxabcxx' → ''.
      // Shadow with the reference's argument order.
      scalar("ltrim", "_FUNC_(str[, chars])")(args => {
        require(args.size == 1 || args.size == 2,
          s"ltrim takes 1 or 2 arguments, got ${args.size}")
        if (args.size == 1)
          org.apache.spark.sql.catalyst.expressions.StringTrimLeft(args.head)
        else org.apache.spark.sql.catalyst.expressions.StringTrimLeft(
          args(0), Some(args(1)))
      }),
      scalar("rtrim", "_FUNC_(str[, chars])")(args => {
        require(args.size == 1 || args.size == 2,
          s"rtrim takes 1 or 2 arguments, got ${args.size}")
        if (args.size == 1)
          org.apache.spark.sql.catalyst.expressions.StringTrimRight(args.head)
        else org.apache.spark.sql.catalyst.expressions.StringTrimRight(
          args(0), Some(args(1)))
      }),
      scalar("regexp_extract", "_FUNC_(str, pattern[, group])")(args => {
        import org.apache.spark.sql.catalyst.expressions.{If, RLike, RegExpExtract}
        import org.apache.spark.sql.types.StringType
        require(args.size == 2 || args.size == 3,
          s"regexp_extract takes 2 or 3 arguments, got ${args.size}")
        val idx = if (args.size > 2) args(2) else Literal(0)
        If(RLike(args(0), args(1)),
          RegExpExtract(args(0), args(1), idx),
          Literal.create(null, StringType))
      }),
      // Function.java Scalb: Math.scalb(d, scale) = d × 2^scale with exact
      // exponent arithmetic (StaticInvoke keeps overflow/subnormal edges
      // identical to the reference's Java call)
      // Function.java IEEE-edge math family (GetExponent:1356, NextUp:1447,
      // Ulp:1747, CopySign:1789, Remainder:1831 = Math.IEEEremainder,
      // NextAfter:1906): StaticInvoke of the same java.lang.Math methods,
      // so subnormal/NaN/±0 edges are bit-identical to the reference
      scalar("getexponent", "_FUNC_(x)")(args => {
        require(args.size == 1, s"getExponent takes 1 argument, got ${args.size}")
        Cast(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[java.lang.Math], org.apache.spark.sql.types.IntegerType,
          "getExponent",
          Seq(Cast(args(0), org.apache.spark.sql.types.DoubleType)),
          Seq(org.apache.spark.sql.types.DoubleType)), LongType)
      }),
      scalar("nextup", "_FUNC_(x)")(args => {
        require(args.size == 1, s"nextUp takes 1 argument, got ${args.size}")
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[java.lang.Math], org.apache.spark.sql.types.DoubleType,
          "nextUp",
          Seq(Cast(args(0), org.apache.spark.sql.types.DoubleType)),
          Seq(org.apache.spark.sql.types.DoubleType))
      }),
      scalar("ulp", "_FUNC_(x)")(args => {
        require(args.size == 1, s"ulp takes 1 argument, got ${args.size}")
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[java.lang.Math], org.apache.spark.sql.types.DoubleType,
          "ulp",
          Seq(Cast(args(0), org.apache.spark.sql.types.DoubleType)),
          Seq(org.apache.spark.sql.types.DoubleType))
      }),
      scalar("copysign", "_FUNC_(magnitude, sign)")(args => {
        require(args.size == 2, s"copySign takes 2 arguments, got ${args.size}")
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[java.lang.Math], org.apache.spark.sql.types.DoubleType,
          "copySign",
          args.map(Cast(_, org.apache.spark.sql.types.DoubleType)),
          Seq(org.apache.spark.sql.types.DoubleType,
            org.apache.spark.sql.types.DoubleType))
      }),
      scalar("nextafter", "_FUNC_(start, direction)")(args => {
        require(args.size == 2, s"nextAfter takes 2 arguments, got ${args.size}")
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[java.lang.Math], org.apache.spark.sql.types.DoubleType,
          "nextAfter",
          args.map(Cast(_, org.apache.spark.sql.types.DoubleType)),
          Seq(org.apache.spark.sql.types.DoubleType,
            org.apache.spark.sql.types.DoubleType))
      }),
      scalar("remainder", "_FUNC_(x, y)")(args => {
        require(args.size == 2, s"remainder takes 2 arguments, got ${args.size}")
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[java.lang.Math], org.apache.spark.sql.types.DoubleType,
          "IEEEremainder",
          args.map(Cast(_, org.apache.spark.sql.types.DoubleType)),
          Seq(org.apache.spark.sql.types.DoubleType,
            org.apache.spark.sql.types.DoubleType))
      }),
      // Function.java Max:1852 / Min:1879 — the native BIVARIATE max/min:
      // NULL-propagating (unlike SQL GREATEST/LEAST which skip nulls),
      // long pairing stays long, any double makes it double.
      // NativeJsonQuery.rewriteNativeExpr reroutes native max(/min( here so
      // the SQL aggregate names stay untouched.
      // Function.java Max:1852 / Min:1879 (BivariateMathFunction): both-long
      // pairs use Math.max/min(long,long); ANY double operand routes through
      // Math.max/min(double,double), which PROPAGATES NaN — Spark's
      // Least/Greatest rank NaN greatest in their total ordering, so
      // min(NaN, 3.0) would wrongly return 3.0 there. Null propagates.
      scalar("druid_max", "_FUNC_(x, y)")(args => druidMinMax(args, "max")),
      scalar("druid_min", "_FUNC_(x, y)")(args => druidMinMax(args, "min")),
      // Native camelCase bitwise family (Function.java BitwiseAnd:1008 ..
      // BitwiseXor:1092, BitwiseComplement:914, BitwiseConvert*:944,976).
      // BivariateBitwiseMathFunction evals x.asLong() op y.asLong() — a
      // DOUBLE operand TRUNCATES toward zero ((long) d, NaN → 0), it is
      // never rounded or rejected — so each operand rides a LEGACY-mode
      // Cast to LONG (Java (long) semantics regardless of session ANSI
      // mode). Shift distance follows Java's << low-6-bit rule (long→int
      // keeps them). The SQL-layer BITWISE_* names ([[sqlMacros]] below)
      // stay; these are the NATIVE expression spellings.
      scalar("bitwiseand", "_FUNC_(x, y)")(args => {
        require(args.size == 2, s"bitwiseAnd takes 2 arguments, got ${args.size}")
        BitwiseAnd(Cast(args(0), LongType, None, EvalMode.LEGACY),
          Cast(args(1), LongType, None, EvalMode.LEGACY))
      }),
      scalar("bitwiseor", "_FUNC_(x, y)")(args => {
        require(args.size == 2, s"bitwiseOr takes 2 arguments, got ${args.size}")
        BitwiseOr(Cast(args(0), LongType, None, EvalMode.LEGACY),
          Cast(args(1), LongType, None, EvalMode.LEGACY))
      }),
      scalar("bitwisexor", "_FUNC_(x, y)")(args => {
        require(args.size == 2, s"bitwiseXor takes 2 arguments, got ${args.size}")
        BitwiseXor(Cast(args(0), LongType, None, EvalMode.LEGACY),
          Cast(args(1), LongType, None, EvalMode.LEGACY))
      }),
      scalar("bitwisecomplement", "_FUNC_(x)")(args => {
        require(args.size == 1,
          s"bitwiseComplement takes 1 argument, got ${args.size}")
        BitwiseNot(Cast(args(0), LongType, None, EvalMode.LEGACY))
      }),
      scalar("bitwiseshiftleft", "_FUNC_(x, n)")(args => {
        require(args.size == 2,
          s"bitwiseShiftLeft takes 2 arguments, got ${args.size}")
        ShiftLeft(Cast(args(0), LongType, None, EvalMode.LEGACY),
          Cast(Cast(args(1), LongType, None, EvalMode.LEGACY),
            org.apache.spark.sql.types.IntegerType))
      }),
      scalar("bitwiseshiftright", "_FUNC_(x, n)")(args => {
        require(args.size == 2,
          s"bitwiseShiftRight takes 2 arguments, got ${args.size}")
        ShiftRight(Cast(args(0), LongType, None, EvalMode.LEGACY),
          Cast(Cast(args(1), LongType, None, EvalMode.LEGACY),
            org.apache.spark.sql.types.IntegerType))
      }),
      scalar("bitwiseconvertdoubletolongbits", "_FUNC_(x)")(args => {
        require(args.size == 1,
          s"bitwiseConvertDoubleToLongBits takes 1 argument, got ${args.size}")
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[java.lang.Double], LongType, "doubleToLongBits",
          Seq(Cast(args(0), org.apache.spark.sql.types.DoubleType)),
          Seq(org.apache.spark.sql.types.DoubleType))
      }),
      scalar("bitwiseconvertlongbitstodouble", "_FUNC_(x)")(args => {
        require(args.size == 1,
          s"bitwiseConvertLongBitsToDouble takes 1 argument, got ${args.size}")
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[java.lang.Double], org.apache.spark.sql.types.DoubleType,
          "longBitsToDouble",
          Seq(Cast(args(0), LongType, None, EvalMode.LEGACY)),
          Seq(LongType))
      }),
      scalar("scalb", "_FUNC_(d, scale)")(args => {
        require(args.size == 2, s"scalb takes 2 arguments, got ${args.size}")
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[java.lang.Math], org.apache.spark.sql.types.DoubleType,
          "scalb",
          Seq(Cast(args(0), org.apache.spark.sql.types.DoubleType),
            Cast(args(1), org.apache.spark.sql.types.IntegerType)),
          Seq(org.apache.spark.sql.types.DoubleType,
            org.apache.spark.sql.types.IntegerType))
      }),
      // NestedDataExpressions.JsonPathsExprMacro: recursive LEAF path
      // enumeration (objects recurse, primitive arrays are single leaves,
      // mixed arrays recurse per index, scalar/NULL input → ['$']) — the
      // tree walk lives in JsonPathsUtil.paths, pinned to the reference's
      // StructuredDataProcessor traversal
      scalar("json_paths", "_FUNC_(json)")(args => {
        require(args.size == 1, s"json_paths takes 1 argument, got ${args.size}")
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonPathsUtil.getClass,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType),
          "paths",
          Seq(JsonInputText(args(0))),
          Seq(org.apache.spark.sql.types.StringType),
          // NULL input is NOT null-propagated: the reference yields ['$']
          // for a missing/scalar document (qaJsonCols A001/A044 rows 3-4)
          propagateNull = false)
      }),
      // NestedDataExpressions JsonValue/JsonQuery/JsonKeys ExprMacros via
      // the JsonWalk transcription of NestedPathFinder (parse grammar,
      // negative indexes, primitive-array pass-through, boolean 1/0
      // coercion, loud slice/union-path rejection — see JsonWalk scaladoc).
      // Optional third json_value arg = native type name (JsonValueCastExpr,
      // NestedDataExpressions.java:493-530): TRY-cast of the walked value.
      scalar("json_value", "_FUNC_(json, path[, 'TYPE'])")(jsonValueBuilder("value")),
      // native expression path (NativeJsonQuery.rewriteNativeExpr reroutes
      // json_value here): the macro resolves NEGATIVE indexes from the end
      // (NestedPathArrayElement), unlike the SQL layer's virtual-column
      // planning which nulls them
      scalar("json_value_native",
        "_FUNC_(json, path[, 'TYPE'])")(jsonValueBuilder("valueNative")),
      scalar("json_query", "_FUNC_(json, path)")(args => {
        require(args.size == 2, s"json_query takes 2 arguments, got ${args.size}")
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonWalk.getClass, StringType, "query",
          Seq(JsonInputText(args(0)), Cast(args(1), StringType)),
          Seq(StringType, StringType), propagateNull = false)
      }),
      scalar("json_keys", "_FUNC_(json, path)")(args => {
        require(args.size == 2, s"json_keys takes 2 arguments, got ${args.size}")
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonWalk.getClass,
          org.apache.spark.sql.types.ArrayType(StringType), "keys",
          Seq(JsonInputText(args(0)), Cast(args(1), StringType)),
          Seq(StringType, StringType), propagateNull = false)
      }),
      // JsonMergeExprMacro (NestedDataExpressions.java:105-170): variadic
      // recursive object merge, later args win, any NULL arg → NULL; folds
      // pairwise (later-wins merging is associative), codegen'd StaticInvoke
      scalar("json_merge", "_FUNC_(json, json...)")(args => {
        require(args.size >= 2,
          s"json_merge must have at least two arguments, got ${args.size}")
        args.map(a => Cast(a, StringType): Expression).reduceLeft { (l, r) =>
          org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
            JsonMergeUtil.getClass, StringType, "merge",
            Seq(l, r), Seq(StringType, StringType), propagateNull = false)
        }
      }),
      // JsonQueryArrayExprMacro (NestedDataExpressions.java:651-731): same
      // walker grammar as json_query (quoted fields, negative indexes, loud
      // slice/union rejection); array → elements, scalar/object → 1-element
      // wrap (ExprEval.asArray), missing → NULL
      scalar("json_query_array", "_FUNC_(json, path)")(args => {
        require(args.size == 2,
          s"json_query_array takes 2 arguments, got ${args.size}")
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonWalk.getClass,
          org.apache.spark.sql.types.ArrayType(StringType), "queryArray",
          Seq(JsonInputText(args(0)), Cast(args(1), StringType)),
          Seq(StringType, StringType), propagateNull = false)
      }),
      // Function.java SubstringFunc:2867 — the NATIVE expression language's
      // substring is 0-BASED with length -1 meaning to-the-end and NULL
      // once index reaches the string length ("behaves like
      // SubstringDimExtractionFn, not SQL SUBSTRING"); the SQL layer's
      // 1-based SUBSTRING keeps Spark's builtin, so the native facade
      // rewrites to this name (NativeJsonQuery.rewriteNativeExpr)
      scalar("druid_substring", "_FUNC_(str, index, length)")(args => {
        require(args.size == 3,
          s"substring takes 3 arguments, got ${args.size}")
        import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        import org.apache.spark.sql.catalyst.expressions.{CaseWhen, GreaterThanOrEqual, Length, Substring}
        import org.apache.spark.unsafe.types.UTF8String
        val s = Cast(args(0), StringType)
        val i = Cast(args(1), org.apache.spark.sql.types.IntegerType)
        val l = Cast(args(2), org.apache.spark.sql.types.IntegerType)
        CaseWhen(Seq(
          // a negative index passes the reference's `index < arg.length()`
          // guard and then throws from String.substring — same rejection
          (LessThan(i, Literal(0)),
            UnresolvedFunction(Seq("raise_error"), Seq(Literal(
              UTF8String.fromString(
                "substring index must be non-negative (reference " +
                  "String.substring throws StringIndexOutOfBoundsException)"),
              StringType)), isDistinct = false): Expression),
          (GreaterThanOrEqual(i, Length(s)),
            Literal.create(null, StringType): Expression),
          (LessThan(l, Literal(0)),
            Substring(s, Add(i, Literal(1)), Literal(Int.MaxValue)): Expression)),
          Substring(s, Add(i, Literal(1)), l))
      }),
      // Function.java StrposFunc:2824 — native strpos is Java indexOf:
      // 0-based, -1 when absent, optional fromIndex (Java clamps negatives
      // to 0, and an empty needle past the string end answers the string
      // LENGTH, not the fromIndex — hence the Least)
      scalar("druid_strpos", "_FUNC_(haystack, needle[, fromIndex])")(args => {
        require(args.size == 2 || args.size == 3,
          s"strpos takes 2 or 3 arguments, got ${args.size}")
        import org.apache.spark.sql.catalyst.expressions.{EqualTo, Greatest, If, Least, Length, StringInstr, Subtract, Substring}
        val h = Cast(args(0), StringType)
        val n = Cast(args(1), StringType)
        val from = Greatest(Seq(
          if (args.size > 2)
            Cast(args(2), org.apache.spark.sql.types.IntegerType)
          else Literal(0),
          Literal(0)))
        val sub = Substring(h, Add(from, Literal(1)), Literal(Int.MaxValue))
        val p = StringInstr(sub, n)
        Cast(
          Least(Seq(
            If(EqualTo(p, Literal(0)), Literal(-1),
              Add(Subtract(p, Literal(1)), from)),
            Length(h))),
          LongType)
      }),
      // Function.java truncate (digits default 0) with the reference's
      // SQL-layer TRUNC alias (DruidOperatorTable.java:229 wraps
      // TruncateOperatorConversion) — Spark's own `trunc` is DATE
      // truncation, so both names are overridden here: truncate toward
      // zero at d digits
      scalar("truncate", "_FUNC_(x[, digits])")(truncateToward0),
      scalar("trunc", "_FUNC_(x[, digits])")(truncateToward0),
      // Function.java Cot:1208 computes Math.cos(x)/Math.sin(x); Spark's
      // builtin is 1/tan(x) — same poles, ulp-level different values, so
      // override with the reference's exact formula (raw IEEE division:
      // cot(0) = Infinity, not an ANSI divide-by-zero error)
      scalar("cot", "_FUNC_(x)")(args => {
        require(args.size == 1, s"cot takes 1 argument, got ${args.size}")
        import org.apache.spark.sql.catalyst.expressions.{Cos, Sin}
        val x = Cast(args(0), org.apache.spark.sql.types.DoubleType)
        DoubleDivide(Cos(x), Sin(x))
      }),
      // Function.java LeftFunc/RightFunc:2934,2960 — a NEGATIVE length is a
      // loud validation error (Spark's builtins return ''), n past the
      // string length returns the whole string
      scalar("left", "_FUNC_(str, n)")(args => {
        require(args.size == 2, s"left takes 2 arguments, got ${args.size}")
        import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        import org.apache.spark.sql.catalyst.expressions.Substring
        import org.apache.spark.unsafe.types.UTF8String
        val s = Cast(args(0), StringType)
        val n = Cast(args(1), org.apache.spark.sql.types.IntegerType)
        If(LessThan(n, Literal(0)),
          UnresolvedFunction(Seq("raise_error"), Seq(Literal(
            UTF8String.fromString(
              "Function[left] needs a positive integer as the second argument"),
            StringType)), isDistinct = false),
          Substring(s, Literal(1), n))
      }),
      scalar("right", "_FUNC_(str, n)")(args => {
        require(args.size == 2, s"right takes 2 arguments, got ${args.size}")
        import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        import org.apache.spark.sql.catalyst.expressions.{CaseWhen, EqualTo, Substring, UnaryMinus}
        import org.apache.spark.unsafe.types.UTF8String
        val s = Cast(args(0), StringType)
        val n = Cast(args(1), org.apache.spark.sql.types.IntegerType)
        CaseWhen(Seq(
          (LessThan(n, Literal(0)),
            UnresolvedFunction(Seq("raise_error"), Seq(Literal(
              UTF8String.fromString(
                "Function[right] needs a positive integer as the second argument"),
              StringType)), isDistinct = false): Expression),
          (EqualTo(n, Literal(0)),
            Literal(UTF8String.fromString(""), StringType): Expression)),
          Substring(s, UnaryMinus(n), Literal(Int.MaxValue)))
      }),
      // Function.java Round:1489 + safeGetFromDouble:1563: NaN rounds to
      // 0.0 and ±Infinity clamps to ±Double.MaxValue BEFORE rounding —
      // Spark's builtin propagates non-finite values, so override by name
      scalar("round", "_FUNC_(x[, scale])")(args => {
        require(args.size == 1 || args.size == 2,
          s"round takes 1 or 2 arguments, got ${args.size}")
        val scale = if (args.size > 1) args(1) else Literal(0)
        DruidRound(args(0), scale)
      }),
      // Function.java RepeatFunc:3110: count < 1 → NULL (Spark: '')
      scalar("repeat", "_FUNC_(str, n)")(args => {
        require(args.size == 2, s"repeat takes 2 arguments, got ${args.size}")
        If(
          LessThan(Cast(args(1),
            org.apache.spark.sql.types.IntegerType), Literal(1)),
          Literal.create(null, StringType),
          // no explicit Cast on the string arg: the explicit form would
          // silently stringify ARRAY inputs, which the reference rejects
          // (qaArray ops_funcs_scalar_funcs !error grid) — StringRepeat's
          // implicit coercion accepts atomics only
          StringRepeat(args(0),
            Cast(args(1), org.apache.spark.sql.types.IntegerType)))
      }),
      // Function.java LpadFunc:3133 / RpadFunc: len == 0 → NULL (not ''),
      // len < 0 → '' (StringUtils.lpad:654), empty pad leaves the base
      // untouched when padding is needed; otherwise pad/truncate to len.
      // Spark's builtins return '' for len == 0, so override by name.
      scalar("lpad", "_FUNC_(str, len[, pad])")(args => {
        require(args.size == 2 || args.size == 3,
          s"lpad takes 2 or 3 arguments, got ${args.size}")
        padEdge(args, left = true)
      }),
      scalar("rpad", "_FUNC_(str, len[, pad])")(args => {
        require(args.size == 2 || args.size == 3,
          s"rpad takes 2 or 3 arguments, got ${args.size}")
        padEdge(args, left = false)
      }),
      // Function.java SafeDivide:1218 — zero-divisor absorbing division,
      // long path for integral inputs, double path otherwise
      scalar("safe_divide", "_FUNC_(x, y)")(args => {
        require(args.size == 2, s"safe_divide takes 2 arguments, got ${args.size}")
        SafeDivide(args(0), args(1))
      }),
      // Druid SQL NVL (sql/.../builtin/NvlOperatorConversion): 2-arg coalesce
      scalar("nvl", "_FUNC_(expr, ifNull)")(args => {
        require(args.size == 2, s"nvl takes 2 arguments, got ${args.size}")
        org.apache.spark.sql.catalyst.expressions.Coalesce(args)
      }),
      // Function.java SizeFormatFunc:4690 family (precision defaults to 2)
      scalar("human_readable_binary_byte_format", "_FUNC_(x[, precision])")(args => {
        require(args.size == 1 || args.size == 2,
          s"human_readable_binary_byte_format takes 1 or 2 args, got ${args.size}")
        HumanReadableFormatExpr(args(0),
          args.lift(1).getOrElse(Literal(2)), HumanReadableFormat.BinaryByte)
      }),
      scalar("human_readable_decimal_byte_format", "_FUNC_(x[, precision])")(args => {
        require(args.size == 1 || args.size == 2,
          s"human_readable_decimal_byte_format takes 1 or 2 args, got ${args.size}")
        HumanReadableFormatExpr(args(0),
          args.lift(1).getOrElse(Literal(2)), HumanReadableFormat.DecimalByte)
      }),
      scalar("human_readable_decimal_format", "_FUNC_(x[, precision])")(args => {
        require(args.size == 1 || args.size == 2,
          s"human_readable_decimal_format takes 1 or 2 args, got ${args.size}")
        HumanReadableFormatExpr(args(0),
          args.lift(1).getOrElse(Literal(2)), HumanReadableFormat.Decimal)
      }),
      // Function.java Div:1250 — long path divides as longs; double path
      // divides FIRST, then truncates the quotient: (long)(x / y)
      scalar("div", "_FUNC_(x, y)")(args => {
        require(args.size == 2, s"div takes 2 arguments, got ${args.size}")
        DruidDiv(args(0), args(1))
      }),
      // reference native-expression case forms (math/expr/Function.java
      // CaseSearchedFunc / CaseSimpleFunc): variadic, so Catalyst builders
      scalar("case_searched", "_FUNC_(cond, value[, cond, value...][, else])")(args => {
        require(args.size >= 2, "case_searched(cond, v[, cond2, v2…][, else])")
        val (pairs, other) =
          if (args.size % 2 == 0) (args, None)
          else (args.init, Some(args.last))
        org.apache.spark.sql.catalyst.expressions.CaseWhen(
          pairs.grouped(2).map { case Seq(c, v) =>
            // conditions go through asBoolean (Function.java:2182) — the
            // native truthiness rule, null = false
            (org.apache.spark.sql.catalyst.expressions.Coalesce(
              Seq(DruidTruth(c), Literal(false))): Expression, v)
          }.toSeq, other)
      }),
      scalar("case_simple",
        "_FUNC_(expr, match, value[, match, value...][, else])")(args => {
        require(args.size >= 3, "case_simple(expr, match, v[, …][, else])")
        val scrut = args.head
        val rest = args.tail
        val (pairs, other) =
          if (rest.size % 2 == 0) (rest, None)
          else (rest.init, Some(rest.last))
        org.apache.spark.sql.catalyst.expressions.CaseWhen(
          pairs.grouped(2).map { case Seq(m, v) =>
            (org.apache.spark.sql.catalyst.expressions.EqualTo(scrut, m), v)
          }.toSeq, other)
      }),
      scalar("notnull", "_FUNC_(expr)")(args => {
        require(args.size == 1, "notnull(expr)")
        org.apache.spark.sql.catalyst.expressions.IsNotNull(args.head)
      }),
      // reference native IS TRUE/FALSE family (Function.java
      // IsTrueFunc:2530 / IsFalseFunc:2500 / IsNotTrueFunc:2466 /
      // IsNotFalseFunc:2435): never-null predicates over the native
      // truthiness rule (Evals.asBoolean — numerics true iff > 0, strings
      // via parseBoolean); a NULL value is not-true and not-false
      scalar("istrue", "_FUNC_(expr)")(args => {
        require(args.size == 1, "istrue(expr)")
        import org.apache.spark.sql.catalyst.expressions.{And, Coalesce, IsNotNull}
        And(IsNotNull(args.head),
          Coalesce(Seq(DruidTruth(args.head), Literal(false))))
      }),
      scalar("isfalse", "_FUNC_(expr)")(args => {
        require(args.size == 1, "isfalse(expr)")
        import org.apache.spark.sql.catalyst.expressions.{And, Coalesce, IsNotNull, Not}
        And(IsNotNull(args.head),
          Not(Coalesce(Seq(DruidTruth(args.head), Literal(false)))))
      }),
      scalar("nottrue", "_FUNC_(expr)")(args => {
        require(args.size == 1, "nottrue(expr)")
        import org.apache.spark.sql.catalyst.expressions.{And, Coalesce, IsNotNull, Not}
        Not(And(IsNotNull(args.head),
          Coalesce(Seq(DruidTruth(args.head), Literal(false)))))
      }),
      scalar("notfalse", "_FUNC_(expr)")(args => {
        require(args.size == 1, "notfalse(expr)")
        import org.apache.spark.sql.catalyst.expressions.{And, Coalesce, IsNotNull, Not}
        Not(And(IsNotNull(args.head),
          Not(Coalesce(Seq(DruidTruth(args.head), Literal(false))))))
      }),
      // reference IS [NOT] DISTINCT FROM (Function.java
      // IsNotDistinctFromFunc:2348 / IsDistinctFromFunc:2416): null-safe
      // equality that treats NULL as a value — never returns null
      scalar("notdistinctfrom", "_FUNC_(x, y)")(args => {
        require(args.size == 2, "notdistinctfrom(x, y)")
        org.apache.spark.sql.catalyst.expressions.EqualNullSafe(args(0), args(1))
      }),
      scalar("isdistinctfrom", "_FUNC_(x, y)")(args => {
        require(args.size == 2, "isdistinctfrom(x, y)")
        org.apache.spark.sql.catalyst.expressions.Not(
          org.apache.spark.sql.catalyst.expressions.EqualNullSafe(args(0), args(1)))
      }),
      // reference native `if(cond, then, else)` (Function.java
      // ConditionFunc:2118): the condition goes through asBoolean — a NULL
      // or non-positive numeric condition selects the ELSE branch. The
      // native rewriter reroutes `if(` here so Spark's own IF (nonzero =
      // true) keeps its SQL semantics elsewhere.
      scalar("druid_if", "_FUNC_(cond, then, else)")(args => {
        require(args.size == 3, s"if(cond, then, else), got ${args.size} args")
        import org.apache.spark.sql.catalyst.expressions.{Coalesce, If}
        If(Coalesce(Seq(DruidTruth(args(0)), Literal(false))),
          args(1), args(2))
      }),
      // reference native-expression `timestamp(str[, format])` →
      // epoch MILLIS as LONG (math/expr/Function.java
      // TimestampFromEpochFunc:3189 — ISO parse without a format; errors on
      // unparseable input, unlike TIME_PARSE's NULL contract)
      scalar("timestamp", "_FUNC_(str[, format])")(args => {
        import org.apache.spark.sql.catalyst.expressions.{GetTimestamp, IntegralDivide, UnixMicros}
        import org.apache.spark.sql.types.TimestampType
        import org.apache.spark.unsafe.types.UTF8String
        require(args.size == 1 || args.size == 2,
          s"timestamp(str[, format]), got ${args.size} args")
        val parsed: Expression =
          if (args.size == 2) {
            val p = literalString(args(1), "timestamp format").getOrElse(
              throw new IllegalArgumentException("timestamp format must not be null"))
            GetTimestamp(args.head,
              Literal(UTF8String.fromString(p), StringType), TimestampType,
              "timestamp", None, true)
          } else Cast(args.head, TimestampType)
        // floor (not truncating) millis — see floorMillis
        Cast(floorMillis(parsed), LongType)
      }),
      // reference native `unix_timestamp(str[, format])` — the same parse
      // as `timestamp()` but in epoch SECONDS (Function.java
      // UnixTimestampFunc:3245: date.getMillis() / 1000, Java truncating
      // division). The native rewriter reroutes here so Spark's own
      // unix_timestamp (different default format, NULL on parse failure)
      // keeps its SQL semantics elsewhere.
      scalar("druid_unix_timestamp", "_FUNC_(str[, format])")(args => {
        import org.apache.spark.sql.catalyst.expressions.{GetTimestamp, IntegralDivide}
        import org.apache.spark.sql.types.TimestampType
        import org.apache.spark.unsafe.types.UTF8String
        require(args.size == 1 || args.size == 2,
          s"unix_timestamp(str[, format]), got ${args.size} args")
        val parsed: Expression =
          if (args.size == 2) {
            val p = literalString(args(1), "unix_timestamp format").getOrElse(
              throw new IllegalArgumentException(
                "unix_timestamp format must not be null"))
            GetTimestamp(args.head,
              Literal(UTF8String.fromString(p), StringType), TimestampType,
              "unix_timestamp", None, true)
          } else Cast(args.head, TimestampType)
        IntegralDivide(Cast(floorMillis(parsed), LongType), Literal(1000L))
      }),
      // reference `subtract_months(leftMillis, rightMillis, tz)` →
      // Joda whole-months from right to left in the zone's calendar
      // (Function.java SubMonthFunc:3259 / DateTimes.subMonths:176 —
      // monthsBetween truncates toward zero, with clamped month addition:
      // Jan 31 + 1 month lands on Feb's last day)
      scalar("subtract_months", "_FUNC_(leftMillis, rightMillis[, timezone])")(args => {
        import org.apache.spark.sql.catalyst.expressions.{Add, CaseWhen, FromUTCTimestamp, GreaterThan, GreaterThanOrEqual, LessThan, MakeYMInterval, Month, Multiply, Subtract, TimestampAddYMInterval, UnaryMinus, Year}
        import org.apache.spark.unsafe.types.UTF8String
        require(args.size == 2 || args.size == 3,
          s"subtract_months(l, r[, tz]), got ${args.size} args")
        // 2-arg convenience arity (timestamp, n) → timestamp shifted back n
        // months (the engine's original SQL-macro behavior, kept for
        // back-compat); 3-arg is the reference's months-count form
        if (args.size == 2)
          TimestampAddYMInterval(args(0),
            MakeYMInterval(Literal(0), UnaryMinus(Cast(args(1),
              org.apache.spark.sql.types.IntegerType))))
        else {
        val tz = literalString(args(2), "subtract_months timezone").getOrElse("UTC")
        // Wall clock of the instant IN the argument zone, as TimestampNTZ:
        // a Timestamp→TimestampNTZ Cast carrying an EXPLICIT timeZoneId
        // shifts the instant by that zone's offset (immune to
        // spark.sql.session.timeZone, era-proof, no per-row format/parse —
        // the old DateFormatClass string round-trip misformatted pre-1-AD
        // years under 'yyyy'). Year/Month and the clamped month stepping
        // below then run on the tz-local calendar. Known documented edge:
        // Joda compares instants in the zone chronology, so a shifted(n0)
        // landing exactly in a DST gap can disagree by one month; the
        // wall-clock compare is kept as the documented approximation.
        def wall(e: Expression): Expression = {
          val ts = org.apache.spark.sql.catalyst.expressions.MillisToTimestamp(
            Cast(e, LongType))
          Cast(ts, org.apache.spark.sql.types.TimestampNTZType, Some(tz))
        }
        val l = wall(args(0)); val r = wall(args(1))
        // candidate = calendar-field month difference; Joda truncation:
        // step r forward by n0 months (clamped) and back off by one if it
        // overshoots l (symmetric for the negative direction)
        val n0 = Add(
          Multiply(Subtract(Year(l), Year(r)), Literal(12)),
          Subtract(Month(l), Month(r)))
        def shifted(n: Expression): Expression =
          TimestampAddYMInterval(r, MakeYMInterval(Literal(0), n))
        Cast(CaseWhen(Seq(
          (org.apache.spark.sql.catalyst.expressions.And(
            GreaterThanOrEqual(n0, Literal(0)), GreaterThan(shifted(n0), l)),
            Subtract(n0, Literal(1))),
          (org.apache.spark.sql.catalyst.expressions.And(
            LessThan(n0, Literal(0)), LessThan(shifted(n0), l)),
            Add(n0, Literal(1)))),
          Some(n0)), LongType)
        }
      }),
      // SQL TIME_FLOOR with the full reference arity (period/origin/tz);
      // replaces the old 2-arg SQL macro — same semantics for 2 args
      scalar("time_floor", "_FUNC_(ts, period[, origin[, timezone]])")(timeFloorBuilder),
      // DateTruncOperatorConversion: DATE_TRUNC(unit, ts) compiles to
      // timestamp_floor over TRUNC_PERIOD_MAP — decade/century/millennium
      // are P10Y/P100Y/P1000Y with the DEFAULT 1970 origin (so
      // millennium(1987) is 1970, NOT the calendar 1000-aligned value), and
      // micro/milliseconds both truncate to millis; Spark's builtin NULLs
      // the units it doesn't know, so shadow the extended ones and pass the
      // rest through
      scalar("date_trunc", "_FUNC_(unit, ts)")(args => {
        require(args.size == 2,
          s"date_trunc takes 2 arguments, got ${args.size}")
        val unit = args.head match {
          case Literal(u: org.apache.spark.unsafe.types.UTF8String, StringType)
            if u != null => Some(u.toString.toLowerCase)
          case _ => None
        }
        def floorP(p: String) =
          timeFloorBuilder(Seq(args(1), Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(p),
            StringType)))
        unit match {
          case Some("decade")      => floorP("P10Y")
          case Some("century")     => floorP("P100Y")
          case Some("millennium")  => floorP("P1000Y")
          case Some("microseconds") | Some("milliseconds") =>
            floorP("PT0.001S")
          case _ =>
            new org.apache.spark.sql.catalyst.expressions.TruncTimestamp(
              args.head, args(1))
        }
      }),
      scalar("timestamp_floor",
        "_FUNC_(ts, period[, origin[, timezone]])")(timeFloorBuilder),
      scalar("time_ceil", "_FUNC_(ts, period[, origin[, timezone]])")(timeCeilBuilder),
      scalar("timestamp_ceil",
        "_FUNC_(ts, period[, origin[, timezone]])")(timeCeilBuilder),
      // TimeInIntervalConvertletFactory: [start, end) membership where the
      // LITERAL interval may be 'start/end', 'start/period', or
      // 'period/end' (Joda Interval.parse) — the period-relative endpoint
      // resolves at build time (calendar months via UTC plusMonths, fixed
      // periods via exact micros)
      scalar("time_in_interval", "_FUNC_(ts, 'start/end')")(args => {
        require(args.size == 2,
          s"TIME_IN_INTERVAL(t, interval), got ${args.size} args")
        import org.apache.spark.sql.types.TimestampType
        val iv = literalString(args(1), "TIME_IN_INTERVAL interval")
          .getOrElse(throw new IllegalArgumentException(
            "TIME_IN_INTERVAL interval must be a literal"))
        val parts = iv.split("/", 2)
        require(parts.length == 2, s"malformed ISO interval: $iv")
        def shift(baseUs: Long, period: String, sign: Int): Long =
          monthsOf(period) match {
            case Some(n) =>
              val inst = java.time.Instant.ofEpochSecond(
                Math.floorDiv(baseUs, 1_000_000L),
                Math.floorMod(baseUs, 1_000_000L) * 1000L)
              val out = inst.atZone(java.time.ZoneOffset.UTC)
                .plusMonths(sign.toLong * n).toInstant
              out.getEpochSecond * 1_000_000L + out.getNano / 1000L
            case None => baseUs + sign * periodMicros(period)
          }
        val (startUs, endUs) =
          if (parts(0).startsWith("P")) {
            val e = parseIsoMicros(parts(1)); (shift(e, parts(0), -1), e)
          } else if (parts(1).startsWith("P")) {
            val s0 = parseIsoMicros(parts(0)); (s0, shift(s0, parts(1), 1))
          } else (parseIsoMicros(parts(0)), parseIsoMicros(parts(1)))
        require(startUs <= endUs, s"interval start after end: $iv")
        val t = Cast(args.head, TimestampType)
        org.apache.spark.sql.catalyst.expressions.And(
          org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(t,
            Literal(startUs, TimestampType)),
          org.apache.spark.sql.catalyst.expressions.LessThan(t,
            Literal(endUs, TimestampType)))
      }),
      scalar("time_shift", "_FUNC_(ts, period, n[, timezone])")(timeShiftBuilder),
      scalar("timestamp_shift", "_FUNC_(ts, period, n[, timezone])")(timeShiftBuilder),
      scalar("time_extract", "_FUNC_(ts, unit[, timezone])")(timeExtractBuilder),
      scalar("timestamp_extract", "_FUNC_(ts, unit[, timezone])")(timeExtractBuilder),
      scalar("time_format", "_FUNC_(ts[, pattern[, timezone]])")(timeFormatBuilder),
      scalar("time_parse", "_FUNC_(str[, pattern[, timezone]])")(timeParseBuilder),
      // reference IPv6AddressMatchExprMacro — subnet must be a CIDR literal
      scalar("ipv6_match", "_FUNC_(ip, 'prefix/length')")(args => args match {
        case Seq(ip, Literal(s: org.apache.spark.unsafe.types.UTF8String, _)) =>
          graft.functions.Ipv6Match(ip, s.toString)
        case _ => throw new IllegalArgumentException(
          "IPV6_MATCH(ip, 'subnet/prefix') needs a literal subnet")
      })) ++ arrayBuilders ++ sqlMacros.map(_.function)
  }

  /** Polymorphic ARRAY_* surface (reference `math/expr/Function.java` array
    * functions + `sql/.../expression/builtin/Array*OperatorConversion.java`).
    * SQL macros are monomorphic (an `ARRAY<STRING>` parameter silently casts
    * a `BIGINT` array and changes the result type), so the polymorphic forms
    * live here as expression-tree builders over built-in functions: the trees
    * may contain nested `UnresolvedFunction`/lambda nodes, which the analyzer
    * resolves on its next fixed-point pass, keeping everything inside
    * Catalyst optimization and whole-stage codegen.
    *
    * Reference semantics pinned by quidem qaArray/qaUnnest/qaAggFuncs (see
    * QaSuites.scala): 0-based OFFSET vs 1-based ORDINAL with NULL out of
    * bounds; OFFSET_OF/ORDINAL_OF NULL when absent; SLICE pads past the end
    * with nulls (`array_slice(a_empty, 0, 2)` → `[null, null]`); TO_STRING
    * prints null elements as `'null'`; APPEND/PREPEND/CONCAT coerce to the
    * wider element type (`array_append(a_str, 9)` → `[..., '9']`).
    */
  private def arrayBuilders: Seq[EngineFunction] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType}
    def fn(name: String, args: Expression*): Expression =
      UnresolvedFunction(Seq(name), args.toSeq, false)
    def lam(body: Expression => Expression): Expression = {
      val x = UnresolvedNamedLambdaVariable(Seq("graft_x"))
      LambdaFunction(body(x), Seq(x))
    }
    def nullBool: Expression = Literal.create(null, BooleanType)
    // reference Calcite operand check: VARCHAR-only argument — reject any
    // RESOLVED non-string input at build time (numerics would otherwise
    // implicit-cast through Spark's coercion)
    def rejectNonString(op: String, e: Expression): Unit =
      if (e.resolved && e.dataType != StringType &&
          e.dataType != org.apache.spark.sql.types.NullType)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "_LEGACY_ERROR_TEMP_3055",
          messageParameters = Map("reason" ->
            s"Cannot apply '$op' to arguments of type '$op(<${e.dataType.sql}>)'"))
    // reference ArrayToStringFunction (Function.java:3623-3649): null array
    // OR the single-element [null] array → SQL NULL; otherwise
    // String::valueOf per element (nulls print 'null') joined by the
    // separator, null separator → ''
    def arrayToString(a: Seq[Expression]): Expression = {
      require(a.size == 2,
        s"array_to_string takes 2 arguments, got ${a.size}")
      // TimeAsMillis: TIMESTAMP elements stringify as epoch millis — the
      // reference's expr layer carries datetimes as LONG
      // (array_agg_timestamp_test003 A03: strlen = 27, not 39)
      val joined = fn("array_join",
        fn("transform", a.head,
          lam(x => fn("coalesce",
            Cast(graft.functions.TimeAsMillis(x), StringType),
            Literal("null")))),
        fn("coalesce", Cast(a(1), StringType), Literal("")))
      If(And(EqualTo(fn("size", a.head), Literal(1)),
             IsNull(fn("get", a.head, Literal(0)))),
        Literal.create(null, StringType), joined)
    }
    // SUBSTRING over an MV column maps per element (scalar inputs keep
    // the builtin); Spark's 2-arg Substring already defaults the length
    def mvElementwiseSubstring(a: Seq[Expression]): Expression = {
      require(a.size == 2 || a.size == 3,
        s"substring takes 2 or 3 arguments, got ${a.size}")
      // Druid's substring returns NULL when the start is past the end —
      // SubstringDimExtractionFn semantics: substring('', 1) is NULL, so
      // `substring(x, 1) <> 'b'` DROPS empty strings
      // (CalciteJoinQueryTest testUnnestExtractionFn) — where Spark
      // yields ''
      def sub(e: Expression): Expression = {
        val raw =
          if (a.size == 3)
            Substring(e, Cast(a(1), IntegerType), Cast(a(2), IntegerType))
          else Substring(e, Cast(a(1), IntegerType),
            Literal(Integer.MAX_VALUE))
        fn("nullif", raw, Literal(""))
      }
      // MV string columns (tagged `druid.mv` in the fixture schema) are
      // VARCHAR in the reference — scalar functions apply per element —
      // while TRUE ARRAY columns reject scalar functions at analysis
      // (qaArray ops_funcs_scalar_funcs !error grid); untagged arrays
      // keep the builtin and fail analysis exactly like the reference
      def mvTagged(e: Expression): Boolean = e match {
        case at: AttributeReference => at.metadata.contains("druid.mv")
        case al: Alias => mvTagged(al.child)
        case _ => false
      }
      a.head match {
        case h if h.resolved && h.dataType.isInstanceOf[
            org.apache.spark.sql.types.ArrayType] && mvTagged(h) =>
          fn("transform", h, lam(x => sub(x)))
        case h => sub(h)
      }
    }
    // reference StringToArrayFunction (Function.java:3582): Java
    // String.split limit-0 — trailing empty strings dropped
    def javaSplitExpr(a: Seq[Expression]): Expression = {
      require(a.size == 2,
        s"string_to_array takes 2 arguments, got ${a.size}")
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        StringSplitUtil.getClass,
        org.apache.spark.sql.types.ArrayType(StringType), "javaSplit",
        Seq(JsonInputText(a.head), Cast(a(1), StringType)),
        Seq(StringType, StringType),
        // null delimiter splits per-character, only a null INPUT nulls out
        // (handled inside the helper)
        propagateNull = false)
    }
    Seq(
      // explicit legacySizeOfNull=false: ARRAY_LENGTH(NULL) is NULL in
      // the reference regardless of the session's ANSI mode (Spark's
      // size() returns -1 under the legacy conf when ANSI is off)
      // MvInput: a scalar is a 1-element array (ArrayLengthFunction rides
      // asArray(), so array_length('x') = 1 and array_length(NULL) = NULL)
      scalar("array_length", "_FUNC_(arr)")(a =>
        Cast(Size(graft.functions.MvInput(a.head), legacySizeOfNull = false),
          IntegerType)),
      scalar("mv_length", "_FUNC_(mv)")(a =>
        Cast(Size(graft.functions.MvInput(a.head), legacySizeOfNull = false),
          IntegerType)),
      // ARRAY_* functions take the same scalar-is-a-1-element-MV coercion
      // as the MV_* family (Function.java asArray over a VARCHAR scalar;
      // qaUnnest mv_sql_array_funcs: array_offset(c, 0) over the unnested
      // scalar c returns c itself) — MvInput passes real arrays through
      scalar("array_offset", "_FUNC_(arr, offset)")(a =>
        fn("get", graft.functions.MvInput(a.head), Cast(a(1), IntegerType))),
      scalar("array_ordinal", "_FUNC_(arr, ordinal)")(a =>
        fn("get", graft.functions.MvInput(a.head),
          Subtract(Cast(a(1), IntegerType), Literal(1)))),
      // Objects.equals scan (Function.java:3733) — a NULL needle FINDS a
      // null element and the comparison is STRICTLY TYPED (a LONG needle
      // never matches a STRING or DOUBLE element; DruidTypedEquals), so
      // probe over a boolean transform instead of array_position's
      // null-blind, type-coercing contract; not-found stays NULL
      scalar("array_offset_of", "_FUNC_(arr, value)")(a =>
        Cast(Subtract(fn("nullif",
          fn("array_position", fn("transform", graft.functions.MvInput(a.head),
            lam(x => graft.functions.DruidTypedEquals(x, a(1)))),
            Literal(true)),
          Literal(0L)), Literal(1L)), IntegerType)),
      scalar("array_ordinal_of", "_FUNC_(arr, value)")(a =>
        Cast(fn("nullif",
          fn("array_position", fn("transform", graft.functions.MvInput(a.head),
            lam(x => graft.functions.DruidTypedEquals(x, a(1)))),
            Literal(true)),
          Literal(0L)), IntegerType)),
      // MV variants are the SAME Function.java scans — keep the needle
      // UNCAST so strict typing applies (the old `v STRING` SQL macros
      // silently stringified numeric needles: mv_offset_of(a_mixed, 1)
      // must be NULL, not 1 — ops_funcs_mv_funcs A1_B8_C19_D1)
      scalar("mv_offset_of", "_FUNC_(mv, value)")(a =>
        fn("array_offset_of", graft.functions.MvInput(a.head), a(1))),
      scalar("mv_ordinal_of", "_FUNC_(mv, value)")(a =>
        fn("array_ordinal_of", graft.functions.MvInput(a.head), a(1))),
      // MV_* functions render VARCHAR regardless of the MV's element type
      // (MultiValueStringOperatorConversions Offset/Ordinal return
      // VARCHAR; over a typed ARRAY<BIGINT> MV, mv_offset(a, 0) is '1'
      // not 1 — q_qa_mv_typed_arrays) — TimeAsMillis keeps the
      // datetime-as-epoch-millis convention of the expr layer
      scalar("mv_offset", "_FUNC_(mv, offset)")(a =>
        Cast(graft.functions.TimeAsMillis(
          fn("get", graft.functions.MvInput(a.head), Cast(a(1), IntegerType))),
          StringType)),
      scalar("mv_ordinal", "_FUNC_(mv, ordinal)")(a =>
        Cast(graft.functions.TimeAsMillis(
          fn("get", graft.functions.MvInput(a.head),
            Subtract(Cast(a(1), IntegerType), Literal(1)))),
          StringType)),
      scalar("mv_concat", "_FUNC_(mv, mv)")(a =>
        fn("concat", graft.functions.MvInput(a.head),
          graft.functions.MvInput(a(1)))),
      // same Function.java ArrayContains as ARRAY_CONTAINS (lhs-typed
      // needle cast, FALSE — not null — on a miss even among null
      // elements; only a null ARRAY nulls out): the old `v STRING` macro
      // rode Spark's null-blind array_contains
      // (ops_funcs_mv_funcs A1_B6_C23: mv_contains(varchar mv, 1) = false)
      // …and a NULL MV ARRAY is FALSE, not the ARRAY_CONTAINS NULL
      // (ops_funcs_mv_funcs A1_B6_C23: mv_contains over a NULL
      // RETURNING-array = false while the direct select of it is NULL)
      scalar("mv_contains", "_FUNC_(mv, value)")(a =>
        fn("coalesce", graft.functions.GraftArrayContains(
          graft.functions.MvInput(a.head, nullAsSingleNull = true), a(1)),
          Literal(false))),
      scalar("mv_overlap", "_FUNC_(mv, mv)")(a =>
        graft.functions.GraftArrayOverlap(
          graft.functions.MvInput(a.head, nullAsSingleNull = true),
          graft.functions.MvInput(a(1), nullAsSingleNull = true),
          threeValued = true)),
      // MvInput on BOTH slots: over scalars, a bare concat would resolve
      // as STRING concatenation ('' || '' = '' where the reference returns
      // the 2-element MV ['','']; qaUnnest mv_sql_array_funcs A1_B11)
      scalar("array_concat", "_FUNC_(arr, arr)")(a =>
        fn("concat", graft.functions.MvInput(a.head),
          graft.functions.MvInput(a(1)))),
      // ArraySetAddFunction:3988 — TreeSet with the nullable comparator:
      // distinct, SORTED with nulls FIRST (sort_array asc is exactly
      // nulls-first); a NULL element genuinely joins the set
      scalar("array_set_add", "_FUNC_(arr, value)")(a =>
        fn("sort_array", fn("array_distinct",
          graft.functions.GraftArrayAppend(a.head, a(1), prepend = false)),
          Literal(true))),
      // ArraySetAddAllFunction:4006 via ArraysMergeFunction:595 — lhs NULL
      // → NULL, rhs NULL → the LHS VERBATIM (not set-ified, the reference
      // returns lhsExpr untouched), else sorted nulls-first distinct union
      scalar("array_set_add_all", "_FUNC_(arr, arr)")(a =>
        If(IsNull(a(1)), a.head,
          fn("sort_array", fn("array_distinct", fn("concat", a.head, a(1))),
            Literal(true)))),
      scalar("array_append", "_FUNC_(arr, value)")(a =>
        graft.functions.GraftArrayAppend(a.head, a(1), prepend = false)),
      // reference arg order: ARRAY_PREPEND(expr, arr)
      scalar("array_prepend", "_FUNC_(value, arr)")(a =>
        graft.functions.GraftArrayAppend(a(1), a.head, prepend = true)),
      // MV_* add-element forms: the same lhs-typed append (Function.java
      // ArrayAddElementFunction:542 via MultiValueStringOperatorConversions)
      // rendered as a VARCHAR MV — qaArray ops_funcs_mv_funcs:
      // mv_append(ARRAY<LONG>, 'A') → ["1","0",null,null]
      scalar("mv_append", "_FUNC_(mv, value)")(a =>
        Cast(graft.functions.GraftArrayAppend(
          graft.functions.MvInput(a.head), a(1), prepend = false),
          org.apache.spark.sql.types.ArrayType(StringType))),
      scalar("mv_prepend", "_FUNC_(value, mv)")(a =>
        Cast(graft.functions.GraftArrayAppend(
          graft.functions.MvInput(a(1)), a.head, prepend = true),
          org.apache.spark.sql.types.ArrayType(StringType))),
      scalar("mv_to_array", "_FUNC_(mv)")(a =>
        graft.functions.MvInput(a.head)),
      scalar("array_to_mv", "_FUNC_(arr)")(a => a.head),
      // UNNEST input: a null MVD row unnests to a null-element row (the
      // MVD selector convention); TRUE arrays pass through — the facade's
      // unnest rewrite wraps every operand with this
      scalar("mv_unnest_input", "_FUNC_(mv)")(a =>
        graft.functions.MvUnnestInput(a.head)),
      // MV_FILTER_ONLY/NONE ride the scalar-MV coercion too (the qaUnnest
      // corpus filters the unnested scalar c); the VARCHAR-MV space is the
      // reference's (MultiValueStringOperatorConversions — string MVs
      // only), so both sides cast there. A null element survives NONE
      // (three-valued NOT over the miss) and drops from ONLY, exactly
      // like the previous SQL-macro spelling.
      // …and an EMPTY filter result is NULL — the reference's value space
      // has no empty MV (ListFilteredVirtualColumn yields the null row
      // value; CalciteJoinQueryTest joins ON MV_FILTER_ONLY(…) match only
      // where something survived, never []-to-[])
      scalar("mv_filter_only", "_FUNC_(mv, values)")(a => {
        val res = fn("filter",
          Cast(graft.functions.MvInput(a.head), ArrayType(StringType)),
          lam(x => fn("array_contains",
            Cast(a(1), ArrayType(StringType)), x)))
        If(EqualTo(Size(res), Literal(0)),
          Literal.create(null, ArrayType(StringType)), res)
      }),
      scalar("mv_filter_none", "_FUNC_(mv, values)")(a => {
        val res = fn("filter",
          Cast(graft.functions.MvInput(a.head), ArrayType(StringType)),
          lam(x => org.apache.spark.sql.catalyst.expressions.Not(
            fn("coalesce", fn("array_contains",
              Cast(a(1), ArrayType(StringType)), x), Literal(false)))))
        If(EqualTo(Size(res), Literal(0)),
          Literal.create(null, ArrayType(StringType)), res)
      }),
      // FilteredPrefix / FilteredRegex ride the SAME
      // ListFilteredVirtualColumn value space — an EMPTY filter result is
      // the null row value, never [] (CalciteMultiValueStringQueryTest
      // testMultiValueRegexFilter groups merge the no-match rows with the
      // null rows)
      scalar("mv_filter_prefix", "_FUNC_(mv, prefix)")(a => {
        val res = fn("filter",
          Cast(graft.functions.MvInput(a.head), ArrayType(StringType)),
          lam(x => fn("coalesce",
            fn("startswith", x, Cast(a(1), StringType)), Literal(false))))
        If(EqualTo(Size(res), Literal(0)),
          Literal.create(null, ArrayType(StringType)), res)
      }),
      scalar("mv_filter_regex", "_FUNC_(mv, pattern)")(a => {
        val res = fn("filter",
          Cast(graft.functions.MvInput(a.head), ArrayType(StringType)),
          lam(x => fn("coalesce",
            fn("rlike", x, Cast(a(1), StringType)), Literal(false))))
        If(EqualTo(Size(res), Literal(0)),
          Literal.create(null, ArrayType(StringType)), res)
      }),
      // [start, end) 0-based (Function.java ArraySliceFunction:4646-4656):
      // end defaults to the array length (2-arg form); Arrays.copyOfRange
      // semantics — `start < 0 || start > length || start > end` → NULL
      // array, end past the length pads with nulls. The sequence lower
      // bound rides through 0*size(arr) so a NULL array nulls the whole
      // result instead of yielding [null, null]; the NullType literal in
      // the guard branch coerces to the array type at analysis.
      scalar("array_slice", "_FUNC_(arr, start[, end])")(a => {
        require(a.size == 2 || a.size == 3,
          s"array_slice takes 2 or 3 arguments, got ${a.size}")
        val arr = graft.functions.MvInput(a.head)
        val sz = fn("size", arr)
        val start = Cast(a(1), IntegerType)
        val end = if (a.size == 3) Cast(a(2), IntegerType) else sz
        val outOfRange = Or(Or(LessThan(start, Literal(0)),
          GreaterThan(start, sz)), GreaterThan(start, end))
        val pad = Multiply(Literal(0), sz)
        val lo = Add(start, pad)
        val hi = Subtract(end, Literal(1))
        If(outOfRange,
          Literal.create(null, org.apache.spark.sql.types.NullType),
          If(EqualTo(start, end),
            fn("slice", arr, Literal(1), Literal(0)),
            fn("transform", fn("sequence", lo, hi),
              lam(i => fn("get", arr, i)))))
      }),
      // null elements print as 'null' (reference ArrayToStringFunction via
      // String::valueOf; qaArray A1_B13: '1|0|null'), but the single-element
      // [null] array is SQL NULL (Function.java:3643 `raw.length == 1 &&
      // raw[0] == null`), and a null separator joins with '' (:3646)
      // MV_SLICE is the SAME ArraySliceFunction as ARRAY_SLICE in the
      // reference (null-padding past the end, [null, null] from an empty
      // array; ops_funcs_mv_funcs A1_B13_C16) — a plain slice() macro
      // would drop the padding
      scalar("mv_slice", "_FUNC_(mv, start[, end])")(a => {
        require(a.size == 2 || a.size == 3,
          s"mv_slice takes 2 or 3 arguments, got ${a.size}")
        fn("array_slice",
          (graft.functions.MvInput(a.head) +: a.tail): _*)
      }),
      scalar("array_to_string", "_FUNC_(arr, separator)")(a =>
        arrayToString(graft.functions.MvInput(a.head) +: a.tail)),
      scalar("mv_to_string", "_FUNC_(mv, separator)")(a =>
        arrayToString(graft.functions.MvInput(a.head) +: a.tail)),
      // APPROX_COUNT_DISTINCT over a MULTI-VALUE dimension counts
      // distinct ELEMENTS with nulls skipped (the reference's cardinality
      // aggregator — CalciteQueryTest testApproxCountDistinct:
      // ACD(SUBSTRING(dim2,1,1)) = 1); scalar/true-array args keep
      // Spark's native HyperLogLogPlusPlus
      aggregator("approx_count_distinct", "_FUNC_(expr)")(a => {
        val mv = a.head.dataType.isInstanceOf[
          org.apache.spark.sql.types.ArrayType] &&
          graft.functions.CompatCompare.treeHasMvTag(a.head)
        if (mv)
          graft.functions.sketches.HllSketchAgg(a.head,
            mvPerElement = true).toAggregateExpression()
        else
          org.apache.spark.sql.catalyst.expressions.aggregate
            .HyperLogLogPlusPlus(a.head).toAggregateExpression()
      }),
      // Java String.split limit-0 (drops trailing empties) — a SQL macro on
      // Spark's split keeps them; see StringSplitUtil
      scalar("string_to_array", "_FUNC_(str, delimiter)")(javaSplitExpr),
      scalar("string_to_mv", "_FUNC_(str, delimiter)")(javaSplitExpr),
      // lhs-typed rhs cast + null-rhs-is-false + null elements as set
      // members (Function.java ArrayOverlapFunction:4182)
      scalar("array_overlap", "_FUNC_(arr, arr)")(a =>
        graft.functions.GraftArrayOverlap(a.head, a(1),
          threeValued = false)),
      scalar("array_contains", "_FUNC_(arr, value)")(a =>
        graft.functions.GraftArrayContains(a.head, a(1))),
      // SCALAR_IN_ARRAY(x, arr): an MVD first argument reads as its
      // SCALAR (1-element unwrap, multi → NULL — the reference's scalar
      // slot convention), and membership is three-valued: a NULL probe
      // is NULL, so NOT SCALAR_IN_ARRAY drops null-MVD rows
      // (CalciteArraysQueryTest testNotScalarInArrayFilter)
      scalar("scalar_in_array", "_FUNC_(expr, arr)")(a => {
        val probe = graft.functions.MvScalarRead(a.head)
        If(IsNull(probe),
          Literal.create(null, org.apache.spark.sql.types.BooleanType),
          graft.functions.GraftArrayContains(a(1), probe))
      }),
      // ANY_VALUE(expr[, maxBytes[, aggregateMultipleValues]]) — the
      // reference's extra args are a buffer cap (validated, unenforced —
      // same contract as ARRAY_AGG's) and an MV-aggregation toggle;
      // Spark's AnyValue carries the value semantics
      aggregator("any_value",
        "_FUNC_(expr[, maxBytes[, aggregateMultipleValues]])")(a => {
        require(a.size >= 1 && a.size <= 3,
          s"any_value takes 1 to 3 arguments, got ${a.size}")
        a.lift(1).foreach(requirePositiveSizeLiteral("any_value", _))
        // the aggregateMultipleValues toggle must be a BOOLEAN literal —
        // the reference's operator table rejects other types
        // (CalciteQueryTest testStringAnyAggArgValidation)
        a.lift(2).foreach {
          case Literal(_: Boolean, _) => ()
          case other => throw new IllegalArgumentException(
            "any_value aggregateMultipleValues must be a boolean literal, " +
              s"got $other")
        }
        val av = new org.apache.spark.sql.catalyst.expressions.aggregate
          .AnyValue(a.head)
        // aggregateMultipleValues=false over an MV column picks a single
        // element (the reference keeps the first)
        if (a.size == 3 && a(2) == Literal(false) && a.head.resolved &&
            a.head.dataType.isInstanceOf[ArrayType])
          fn("get", av.toAggregateExpression(), Literal(0))
        else av
      }),
      // string functions over an MV column apply PER ELEMENT in the
      // reference (multi-value-dimensions docs; CalciteJoinQueryTest
      // substring(dim2, 1, 1) over the MV dim2) — scalar inputs keep
      // Spark's builtin
      scalar("substring", "_FUNC_(str, start[, length])")(mvElementwiseSubstring),
      scalar("substr", "_FUNC_(str, start[, length])")(mvElementwiseSubstring),
      // Calcite's GREATEST/LEAST coerce every operand to the LEAST
      // RESTRICTIVE type — a VARCHAR among the args makes the whole
      // comparison a string comparison (qaUnnest
      // mv_sql_scalar_reduction_funcs: least(c, c_long, '1')), where
      // Spark's coercion for Least/Greatest refuses string↔numeric mixes.
      // Same-type and pure-numeric argument lists fall through untouched
      // (Spark's own widening + null-skipping already match the reference).
      scalar("least", "_FUNC_(expr, ...)")(a => {
        lazy val ts = a.map(_.dataType)
        if (a.forall(_.resolved) && ts.distinct.size > 1 &&
            ts.contains(StringType))
          Least(a.map(e =>
            if (e.dataType == StringType) e else Cast(e, StringType)))
        else Least(a)
      }),
      scalar("greatest", "_FUNC_(expr, ...)")(a => {
        lazy val ts = a.map(_.dataType)
        if (a.forall(_.resolved) && ts.distinct.size > 1 &&
            ts.contains(StringType))
          Greatest(a.map(e =>
            if (e.dataType == StringType) e else Cast(e, StringType)))
        else Greatest(a)
      }),
      // ARRAY_AGG(expr[, maxBytes]) / STRING_AGG(expr, sep[, maxBytes]) —
      // the reference's size argument is a BUFFER CAP (exceeding it fails
      // the query, ExpressionLambdaAggregatorFactory); Spark has no
      // per-aggregate byte budget, so a positive literal is validated and
      // accepted with the cap unenforced — a capacity rejection, never a
      // result-semantics difference. Returning the bare AggregateFunction
      // lets the analyzer apply DISTINCT and ORDER BY … WITHIN the call.
      aggregator("array_agg", "_FUNC_(expr[, maxBytes])")(a => {
        require(a.size == 1 || a.size == 2,
          s"array_agg takes 1 or 2 arguments, got ${a.size}")
        a.lift(1).foreach(requirePositiveSizeLiteral("array_agg", _))
        graft.functions.DruidArrayAgg(graft.functions.FloatWiden(a.head))
      }),
      // ARRAY_AGG over an MVD argument (renamed by the facade's dialect —
      // the flatten changes the result type, so the decision is made
      // before analysis): elements fold flattened, null rows → null
      aggregator("array_agg_mv", "_FUNC_(mv[, maxBytes])")(a => {
        require(a.size == 1 || a.size == 2,
          s"array_agg takes 1 or 2 arguments, got ${a.size}")
        a.lift(1).foreach(requirePositiveSizeLiteral("array_agg", _))
        graft.functions.DruidArrayAgg(graft.functions.FloatWiden(a.head),
          mvFlatten = true)
      }),
      aggregator("string_agg", "_FUNC_(expr, separator[, maxBytes])")(a => {
        require(a.size == 2 || a.size == 3,
          s"string_agg takes 2 or 3 arguments, got ${a.size}")
        a.lift(2).foreach(requirePositiveSizeLiteral("string_agg", _))
        // timestamps stringify as EPOCH MILLIS (Druid's expr layer carries
        // them as LONG — string_agg_timestamp_test001-004); floats widen
        // to DOUBLE and multi-value inputs fold per element
        // (StringAggInput); maxBytes overflow fails the fold
        val maxBytes = a.lift(2).flatMap(e =>
          Option(e.eval(null)).map(v => v.toString.toDouble.toInt))
        graft.functions.GraftStringAgg(
          graft.functions.StringAggInput(a.head), a(1), maxBytes)
      }),
      // STRING_AGG(DISTINCT …) — the reference's distinct fold is a
      // TreeSet, so the output is the SORTED distinct set (CalciteQueryTest
      // testStringAgg); the facade routes the DISTINCT spelling here and
      // the aggregate dedups + sorts internally
      aggregator("string_agg_sorted", "_FUNC_(expr, separator[, maxBytes])")(a => {
        require(a.size == 2 || a.size == 3,
          s"string_agg takes 2 or 3 arguments, got ${a.size}")
        a.lift(2).foreach(requirePositiveSizeLiteral("string_agg", _))
        // the validated third argument is the reference's maxSizeBytes —
        // enforce it at fold time instead of silently dropping it
        val maxBytes = a.lift(2).flatMap(e =>
          Option(e.eval(null)).map(v => v.toString.toDouble.toInt))
        graft.functions.GraftStringAggSorted(
          graft.functions.StringAggInput(a.head), a(1), maxBytes)
      }),
      // concat-agg: skip NULL input arrays (stock collect_list), keep inner
      // nulls, flatten partition-wise
      // ARRAY_CONCAT_AGG of a group whose inputs are ALL NULL arrays is
      // SQL NULL in the reference (CollectList skips nulls, so an empty
      // buffer marks the all-null group), not the empty array
      // (ops_funcs_agg_funcs A1_B29_C23)
      // BIT_AND/OR/XOR take any input in the reference (the aggregation
      // rides a ColumnType.LONG virtual column — strings cast LENIENTLY,
      // 'S1' → null → skipped); Spark's builtins demand integral input, so
      // shadow with a TRY cast. NOTE the reference's BIT_AND carries an
      // initialValue=0 quirk (BitwiseSqlAggregator.java:147 — 0 & x = 0
      // for every non-empty group); the engine keeps REAL bitwise-and
      // semantics, documented as a deliberate divergence in COVERAGE.md.
      aggregator("bit_and", "_FUNC_(expr)")(a =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BitAndAgg(
          Cast(a.head, LongType, None, EvalMode.TRY))),
      aggregator("bit_or", "_FUNC_(expr)")(a =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BitOrAgg(
          Cast(a.head, LongType, None, EvalMode.TRY))),
      aggregator("bit_xor", "_FUNC_(expr)")(a =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BitXorAgg(
          Cast(a.head, LongType, None, EvalMode.TRY))),
      aggregator("array_concat_agg", "_FUNC_(arr[, maxBytes])")(a => {
        require(a.size == 1 || a.size == 2,
          s"array_concat_agg takes 1 or 2 arguments, got ${a.size}")
        a.lift(1).foreach(requirePositiveSizeLiteral("array_concat_agg", _))
        val cl = new org.apache.spark.sql.catalyst.expressions.aggregate
          .CollectList(a.head).toAggregateExpression()
        If(EqualTo(Size(cl), Literal(0)),
          Literal.create(null, org.apache.spark.sql.types.NullType),
          Flatten(cl))
      }),
      // DISTINCT form (rerouted by SqlApi.concatAggDistinct): the
      // reference folds through array_set_add_all's TreeSet — distinct
      // ELEMENTS, sorted ascending with nulls first — and keeps the
      // NULL-for-all-NULL-groups rule
      aggregator("array_concat_agg_distinct", "_FUNC_(arr)")(a => {
        val cl = new org.apache.spark.sql.catalyst.expressions.aggregate
          .CollectList(a.head).toAggregateExpression()
        If(EqualTo(Size(cl), Literal(0)),
          Literal.create(null, org.apache.spark.sql.types.NullType),
          fn("sort_array", fn("array_distinct", Flatten(cl)), Literal(true)))
      }),
      // TO_JSON_STRING (NestedDataExpressions.ToJsonStringExprMacro): a
      // STRING *literal* is typed VARCHAR in the reference and always
      // serializes as a JSON string — to_json_string('1234') = "1234",
      // to_json_string('"This is My Key"') = "\"This is My Key\""
      // (funcs_and_sql_func_to_json_string corpus) — resolvable at build
      // time here; non-literal input rides the STRING-facade rule
      // (parseable → canonical document via parse→to_json, else quoted
      // string; the array(j) trick reuses Spark's JSON string escaping).
      // PARSE_JSON / TRY_PARSE_JSON accept VARCHAR ONLY in the reference —
      // `try_parse_json(1234)` is "Cannot apply … to <INTEGER>"
      // (funcs_and_sql_func_try_parse_json A008-A012) — where Spark's
      // builtin would implicitly cast the numeric to string. Shadowed with
      // a resolved-type guard; string/unresolved inputs delegate to the
      // builtin ParseJson expression unchanged.
      scalar("parse_json", "_FUNC_(str)")(a => {
        require(a.size == 1, s"parse_json takes 1 argument, got ${a.size}")
        rejectNonString("PARSE_JSON", a.head)
        new org.apache.spark.sql.catalyst.expressions.variant
          .ParseJson(a.head, true)
      }),
      scalar("try_parse_json", "_FUNC_(str)")(a => {
        require(a.size == 1, s"try_parse_json takes 1 argument, got ${a.size}")
        rejectNonString("TRY_PARSE_JSON", a.head)
        new org.apache.spark.sql.catalyst.expressions.variant
          .ParseJson(a.head, false)
      }),
      scalar("to_json_string", "_FUNC_(expr)")(a => {
        require(a.size == 1, s"to_json_string takes 1 argument, got ${a.size}")
        a.head match {
          case Literal(null, StringType) => Literal.create(null, StringType)
          case Literal(u: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
              com.fasterxml.jackson.databind.node.TextNode
                .valueOf(u.toString).toString), StringType)
          // the reference's expression layer has NO boolean type — booleans
          // ride as LONGS (ExprEval), so TO_JSON_STRING(TRUE) prints 1, not
          // true (funcs_and_sql_func_to_json_string corpus)
          case e if e.resolved &&
              e.dataType == org.apache.spark.sql.types.BooleanType =>
            Cast(Cast(e, LongType), StringType)
          case e =>
            // ARRAY inputs serialize to their compact JSON text first
            // (ops_funcs_json_funcs A1_B8_C19: to_json_string(a_mixed) =
            // ["true","1","0.1","S1",null]); strings pass through
            val j = JsonInputText(e)
            val tryp = fn("try_parse_json", j)
            val asArr = fn("to_json", fn("array", j))
            If(IsNull(j), Literal.create(null, StringType),
              If(IsNotNull(tryp), fn("to_json", tryp),
                fn("substr", asArr, Literal(2),
                  Subtract(fn("length", asArr), Literal(2)))))
        }
      }),
      // typed JSON_VALUE variants backing the SQL RETURNING clause
      // (SqlApi.rewriteJsonReturning maps `RETURNING bigint array` etc. here;
      // reference sql/.../expression/builtin/NestedDataOperatorConversions).
      // All route through the same JsonWalk value() as the untyped form
      // (JsonValueCastExpr = find → bestEffort → castTo), so booleans cast
      // 1/0 to numerics and array targets see the walked compact text.
      scalar("json_value_bigint", "_FUNC_(json, path)")(a =>
        Cast(fn("json_value", a.head, a(1)), LongType, None, EvalMode.TRY)),
      scalar("json_value_double", "_FUNC_(json, path)")(a =>
        Cast(fn("json_value", a.head, a(1)),
          org.apache.spark.sql.types.DoubleType, None, EvalMode.TRY)),
      // RETURNING BOOLEAN plans as LONG + Calcite's truthiness cast in the
      // reference (NestedDataOperatorConversions BOOLEAN_TYPES → LONG;
      // Evals.asBoolean is `> 0`), so a numeric target coerces — '2' is
      // TRUE, not a failed boolean parse
      // (testGroupByRootSingleTypeArrayLongElementFilteredBoolean)
      scalar("json_value_boolean", "_FUNC_(json, path)")(a => {
        val v = fn("json_value", a.head, a(1))
        Coalesce(Seq(
          Cast(v, BooleanType, None, EvalMode.TRY),
          GreaterThan(
            Cast(v, org.apache.spark.sql.types.DoubleType, None,
              EvalMode.TRY),
            Literal(0.0d))))
      }),
      // VARCHAR ARRAY target: dedicated walker — element coercion is
      // String.valueOf (booleans keep true/false), not the untyped
      // facade's bestEffort 1/0 (qaArray ingest_dynamic_rollup_false.02
      // E00 pins `a_mixed = json_value(… '$[6]' RETURNING varchar array)`
      // matching every row)
      scalar("json_value_varchar_array", "_FUNC_(json, path)")(a =>
        graft.functions.JsonWalkDispatch(a.head, a(1),
          "valueStrArrayTyped", "valueStrArray",
          org.apache.spark.sql.types.ArrayType(StringType))),
      scalar("json_value_bigint_array", "_FUNC_(json, path)")(a =>
        fn("from_json",
          graft.functions.JsonWalkDispatch(a.head, a(1),
            "valueArrayJson", "value", StringType),
          Literal("array<bigint>"))),
      scalar("json_value_double_array", "_FUNC_(json, path)")(a =>
        fn("from_json",
          graft.functions.JsonWalkDispatch(a.head, a(1),
            "valueArrayJson", "value", StringType),
          Literal("array<double>"))),
      // RETURNING BOOLEAN ARRAY: the reference plans it as the BIGINT array
      // conversion (NestedDataOperatorConversions.java:316-317 routes
      // BOOLEAN_TYPES to the LONG element type) and Calcite casts back —
      // long truthiness is `> 0` (Evals.asBoolean). Same walker as the
      // other typed variants (quoted fields, loud slice/union rejection).
      scalar("json_value_boolean_array", "_FUNC_(json, path)")(a =>
        fn("from_json", fn("json_value", a.head, a(1)),
          Literal("array<bigint>"))))
  }

  /** The fixed-arity functions the reference defines in SQL, each kept as
    * the text of its typed parameters, return type and body — the text a
    * `CREATE TEMPORARY FUNCTION name(params) RETURNS returns RETURN body`
    * takes — and built by [[SqlMacro]] without running it.
    */
  private[graft] lazy val sqlMacros: Seq[SqlMacro] = Seq(
    // reference StrlenOperatorConversion: alias of CHAR_LENGTH
    SqlMacro("strlen", "s STRING", "INT", "length(s)"),
    // reference SQL TEXTCAT (DruidOperatorTable) — two-string concat,
    // NULL-propagating like ||
    SqlMacro("textcat", "a STRING, b STRING", "STRING", "concat(a, b)"),
    // reference BitwiseConvert{DoubleToLongBits,LongBitsToDouble}: IEEE-754
    // reinterpretation over the native camelCase builders above
    SqlMacro("bitwise_convert_double_to_long_bits", "d DOUBLE", "BIGINT",
      "bitwiseconvertdoubletolongbits(d)"),
    SqlMacro("bitwise_convert_long_bits_to_double", "b BIGINT", "DOUBLE",
      "bitwiseconvertlongbitstodouble(b)"),
    SqlMacro("timestamp_to_millis", "t TIMESTAMP", "BIGINT",
      "CAST(unix_micros(t) / 1000 AS BIGINT)"),
    SqlMacro("millis_to_timestamp", "m BIGINT", "TIMESTAMP", "timestamp_millis(m)"),
    // RETURNING VARCHAR target: same walker as the untyped JSON_VALUE;
    // JSON_VALUE_ANY is the untyped best-effort variant (the reference
    // plans it as JSON_VALUE with no RETURNING —
    // NestedDataOperatorConversions JsonValueAnyOperatorConversion)
    SqlMacro("json_value_str", "j STRING, p STRING", "STRING", "json_value(j, p)"),
    SqlMacro("json_value_any", "j STRING, p STRING", "STRING", "json_value(j, p)"),
    // reference BuiltInExprMacros.StringDecodeBase64UTFExprMacro:149 —
    // base64 → UTF-8 text, null-propagating
    SqlMacro("decode_base64_utf8", "s STRING", "STRING",
      "decode(unbase64(s), 'UTF-8')"),
    SqlMacro("contains_string", "s STRING, n STRING", "BOOLEAN", "contains(s, n)"),
    SqlMacro("icontains_string", "s STRING, n STRING", "BOOLEAN",
      "contains(lower(s), lower(n))"),
    // integer division like the reference's div: Java long division
    // (truncate toward zero). x DIV y is Spark's integral divide — a
    // double-division floor() would lose precision past 2^53 and round
    // negatives the wrong way
    SqlMacro("safe_div", "x BIGINT, y BIGINT", "BIGINT",
      "CASE WHEN y = 0 OR y IS NULL THEN NULL ELSE x DIV y END"),
    SqlMacro("strpos", "h STRING, n STRING", "INT", "instr(h, n)"),
    SqlMacro("bitwise_and", "x BIGINT, y BIGINT", "BIGINT", "x & y"),
    SqlMacro("bitwise_or", "x BIGINT, y BIGINT", "BIGINT", "x | y"),
    SqlMacro("bitwise_xor", "x BIGINT, y BIGINT", "BIGINT", "x ^ y"),
    SqlMacro("bitwise_complement", "x BIGINT", "BIGINT", "~x"),
    SqlMacro("bitwise_shift_left", "x BIGINT, n INT", "BIGINT", "shiftleft(x, n)"),
    SqlMacro("bitwise_shift_right", "x BIGINT, n INT", "BIGINT", "shiftright(x, n)"),
    // linear-interpolation quantile over a double array, nulls skipped
    SqlMacro("array_quantile", "arr ARRAY<DOUBLE>, q DOUBLE", "DOUBLE", """
      CASE WHEN size(filter(arr, x -> x IS NOT NULL)) = 0 THEN NULL
      ELSE element_at(array_sort(filter(arr, x -> x IS NOT NULL)),
             CAST(floor(q * (size(filter(arr, x -> x IS NOT NULL)) - 1)) AS INT) + 1)
           * (1.0 - (q * (size(filter(arr, x -> x IS NOT NULL)) - 1)
                     - floor(q * (size(filter(arr, x -> x IS NOT NULL)) - 1))))
         + element_at(array_sort(filter(arr, x -> x IS NOT NULL)),
             CAST(least(floor(q * (size(filter(arr, x -> x IS NOT NULL)) - 1)) + 1,
                        CAST(size(filter(arr, x -> x IS NOT NULL)) - 1 AS DOUBLE)) AS INT) + 1)
           * (q * (size(filter(arr, x -> x IS NOT NULL)) - 1)
              - floor(q * (size(filter(arr, x -> x IS NOT NULL)) - 1)))
      END"""),
    // the native expression language (math/expr/Function.java) names these
    // timestamp_* where SQL says TIME_*, so JSON-facade expressions run
    // verbatim
    SqlMacro("timestamp_format", "t TIMESTAMP, p STRING", "STRING", "date_format(t, p)"),
    SqlMacro("timestamp_parse", "s STRING, p STRING", "TIMESTAMP", "to_timestamp(s, p)"),
    // invalid input → NULL (IPv4AddressParseExprMacro.java:43 via
    // IPv4AddressExprUtils.isValidIPv4Address — strict dotted quad, no
    // extra/missing octets, each 0-255; '300.1.1.1' and '1.2.3.4.5' are
    // rejected, not silently bit-mangled)
    SqlMacro("ipv4_parse", "s STRING", "BIGINT", """
      CASE WHEN s RLIKE '^\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}$'
             AND CAST(split_part(s, '.', 1) AS BIGINT) <= 255
             AND CAST(split_part(s, '.', 2) AS BIGINT) <= 255
             AND CAST(split_part(s, '.', 3) AS BIGINT) <= 255
             AND CAST(split_part(s, '.', 4) AS BIGINT) <= 255
      THEN CAST(split_part(s, '.', 1) AS BIGINT) * 16777216
         + CAST(split_part(s, '.', 2) AS BIGINT) * 65536
         + CAST(split_part(s, '.', 3) AS BIGINT) * 256
         + CAST(split_part(s, '.', 4) AS BIGINT)
      ELSE NULL END"""),
    SqlMacro("ipv4_stringify", "x BIGINT", "STRING", """
      concat_ws('.', CAST(x DIV 16777216 % 256 AS STRING),
                     CAST(x DIV 65536 % 256 AS STRING),
                     CAST(x DIV 256 % 256 AS STRING),
                     CAST(x % 256 AS STRING))"""),
    // IPV4_MATCH(ip, 'a.b.c.d/n') — reference IPv4AddressMatchExprMacro.
    // A bare address (no /n) matches as /32
    SqlMacro("ipv4_match", "ip STRING, subnet STRING", "BOOLEAN", """
      (IPV4_PARSE(ip) & (4294967295 ^
         (CAST(pow(2, 32 - coalesce(try_cast(split_part(subnet, '/', 2) AS BIGINT), 32)) AS BIGINT) - 1)))
      = (IPV4_PARSE(split_part(subnet, '/', 1)) & (4294967295 ^
         (CAST(pow(2, 32 - coalesce(try_cast(split_part(subnet, '/', 2) AS BIGINT), 32)) AS BIGINT) - 1)))"""),
    // reference ComplexDecodeBase64OperatorConversion: decode a base64
    // complex (sketch) column value; the sketch aggregators refold raw
    // binary, so the type tag only documents intent.
    // DECODE_BASE64_COMPLEX is the newer docs' alias
    SqlMacro("complex_decode_base64", "t STRING, s STRING", "BINARY", "unbase64(s)"),
    SqlMacro("decode_base64_complex", "t STRING, s STRING", "BINARY", "unbase64(s)"))

  /** A function the reference defines in SQL, built without a SQL round
    * trip. Its text parses once per JVM. A call casts each argument to its
    * parameter type, resolves the body's calls on the spot (this table's
    * builders first, so IPV4_MATCH calls IPV4_PARSE's, then Spark's
    * built-ins) and casts the body to the return type. All of it is built
    * in ANSI mode whatever the calling session says, as a SQL function
    * keeps the mode of the session that created it: a malformed argument
    * raises even inside the SQL facade's non-ANSI scope.
    */
  private[graft] final case class SqlMacro(name: String, params: String,
      returns: String, body: String) {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser

    private lazy val (schema, returnType, tree) = ansi {
      (CatalystSqlParser.parseTableSchema(params),
        CatalystSqlParser.parseDataType(returns),
        CatalystSqlParser.parseExpression(body))
    }

    def builder(args: Seq[Expression]): Expression = ansi {
      require(args.size == schema.size,
        s"$name takes ${schema.size} arguments, got ${args.size}")
      val bound = schema.fieldNames.map(_.toLowerCase)
        .zip(args.zip(schema.fields).map { case (a, f) => Cast(a, f.dataType) })
        .toMap
      Cast(tree.transformUp {
        case a: UnresolvedAttribute if bound.contains(a.name.toLowerCase) =>
          bound(a.name.toLowerCase)
        case f: UnresolvedFunction =>
          val fn = f.nameParts.last
          byName.get(fn.toLowerCase).fold(
            // a built-in whose builder needs resolved arguments stays for
            // the analyzer: only ARRAY_QUANTILE's FLOOR over a lambda's
            // result, which reads no ANSI mode
            scala.util.Try(FunctionRegistry.builtin.lookupFunction(
              FunctionIdentifier(fn), f.arguments)).getOrElse(f: Expression))(
            _.builder(f.arguments))
      }, returnType)
    }

    def function: EngineFunction =
      scalar(name, s"_FUNC_($params) RETURNS $returns")(builder)
  }

  private lazy val ansiConf = {
    val c = new org.apache.spark.sql.internal.SQLConf
    c.setConf(org.apache.spark.sql.internal.SQLConf.ANSI_ENABLED, true)
    c
  }

  /** Evaluate `body` — expression construction, whose casts, arithmetic
    * and built-ins read their ANSI mode from the active conf — in ANSI mode.
    */
  private def ansi[T](body: => T): T =
    org.apache.spark.sql.internal.SQLConf.withExistingConf(ansiConf)(body)
}
