package graft.functions

import java.time.ZoneId

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Nondeterministic, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Identity wrapper the optimizer treats as non-deterministic: a
  * PUSHDOWN BARRIER primitive for expensive projections.
  *
  * The problem: Catalyst pushes a predicate through a Project by
  * SUBSTITUTING the projected aliases into it, so every predicate
  * downstream of an expensive derivation (e.g. `TaxiCsv`'s timestamp
  * parse) gets its own copy of the full derivation chain — and
  * FilterExec's short-circuit codegen performs no common-subexpression
  * elimination across conjuncts, so the copies all RUN (observed: the
  * 3 GB taxi corpus re-parsed every timestamp up to ~12× per row, the
  * dominant cost of the flagship at reference volume).
  *
  * Failed idioms, for the record: `filter(rand() >= -1)` above the
  * projection — Spark's OptimizeRand now folds trivially-true rand
  * comparisons and PruneFilters deletes the barrier; an opaque
  * always-true non-deterministic Filter — sound, but
  * PushPredicateThroughNonJoin's Filter-over-Project case checks
  * determinism of the PROJECT FIELDS, not of the pushed condition, so
  * the barrier filter itself slides below the Project and downstream
  * predicates substitute straight through, stacking above it with the
  * chains re-derived.
  *
  * Hence this wrapper: `fields.forall(_.deterministic)` is the one
  * guard every push-through-Project rule honors, so marking ONE
  * projected field opaque pins the whole projection — filters park
  * above it and reference plain attributes. Runtime cost is zero:
  * eval and codegen delegate to the child unchanged; only the
  * optimizer's view differs. CollapseProject likewise refuses to
  * duplicate non-deterministic fields, so the projection cannot be
  * inlined into a consumer's expressions either.
  */
case class Opaque(child: Expression) extends UnaryExpression
    with Nondeterministic {

  override def nullable: Boolean = child.nullable
  override def dataType: DataType = child.dataType
  override def prettyName: String = "opaque"

  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any =
    child.eval(input)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ExprCode(c.code, c.isNull, c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): Opaque =
    copy(child = newChild)
}

/** Codegen'd strict parser for the fixed 19-byte timestamp layout
  * `yyyy-MM-dd HH:mm:ss` — the TLC taxi interchange format the
  * reference ingests (Sample.cs:160-163 parses the same two columns
  * with `DateTime.TryParse`). NULL on anything malformed: wrong length,
  * non-digit, bad separator, or out-of-range field (incl. day-in-month
  * and leap years) — observably `try_to_timestamp(col, fmt)` for this
  * format.
  *
  * Why a custom Expression (SURVEY.md §7.3 ladder): `gettimestamp` goes
  * through `DateTimeFormatter` — design-time A/B: ~20× the cost of the
  * text scan + split that feeds it for the two-column parse over a
  * 3 GB corpus at local[32], making timestamp parse the single
  * dominant cost of the flagship pipeline at reference volume. A
  * fixed-layout parse is pure digit arithmetic on the UTF8String bytes
  * (no formatter, no exceptions, no allocation) and emits as one static
  * call inside WholeStageCodegen.
  *
  * Timezone: wall-clock strings bind to an instant through the session
  * zone, so this is a TimeZoneAwareExpression like every Spark datetime
  * expression. The arithmetic fast path covers fixed-offset-zero zones
  * (UTC — what every graft session pins); any other zone takes a
  * LocalDateTime → ZonedDateTime conversion with identical semantics to
  * Spark's own localDateTimeToMicros (same-offset choice on DST gaps).
  */
case class ParseTs19(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def prettyName: String = "parse_ts19"

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(timeZoneId))

  @transient private lazy val utcFast: Boolean = {
    val rules = zoneId.getRules
    rules.isFixedOffset &&
      rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
  }

  override def nullSafeEval(input: Any): Any = {
    val micros =
      if (utcFast) ParseTs19.parseMicrosUtc(input.asInstanceOf[UTF8String])
      else ParseTs19.parseMicrosZoned(input.asInstanceOf[UTF8String], zoneId)
    if (micros == Long.MinValue) null else micros
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call =
      if (utcFast) (c: String) => s"graft.functions.ParseTs19.parseMicrosUtc($c)"
      else {
        val zid = ctx.addReferenceObj("graftZoneId", zoneId,
          classOf[ZoneId].getName)
        (c: String) => s"graft.functions.ParseTs19.parseMicrosZoned($c, $zid)"
      }
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = ${call(c)};
      |if (${ev.value} == Long.MIN_VALUE) { ${ev.isNull} = true; ${ev.value} = 0L; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ParseTs19 =
    copy(child = newChild)
}

object ParseTs19 {

  /** Packed (y,mo,da,h,mi,se) fields of a valid 19-byte timestamp, or
    * -1 on any malformation. Pure byte arithmetic, zero allocation.
    */
  private def fields(s: UTF8String): Long = {
    if (s.numBytes() != 19) return -1L
    if (s.getByte(4) != '-' || s.getByte(7) != '-' || s.getByte(10) != ' ' ||
        s.getByte(13) != ':' || s.getByte(16) != ':') return -1L
    var i = 0
    // all digit positions checked in one pass: 0-3, 5-6, 8-9, 11-12, 14-15, 17-18
    while (i < 19) {
      if (i != 4 && i != 7 && i != 10 && i != 13 && i != 16) {
        val c = s.getByte(i)
        if (c < '0' || c > '9') return -1L
      }
      i += 1
    }
    def n2(p: Int): Int = (s.getByte(p) - '0') * 10 + (s.getByte(p + 1) - '0')
    val y = n2(0) * 100 + n2(2)
    val mo = n2(5); val da = n2(8); val h = n2(11); val mi = n2(14); val se = n2(17)
    if (mo < 1 || mo > 12 || da < 1 || da > daysInMonth(y, mo) ||
        h > 23 || mi > 59 || se > 59) return -1L
    (y.toLong << 26) | (mo.toLong << 22) | (da.toLong << 17) |
      (h.toLong << 12) | (mi.toLong << 6) | se.toLong
  }

  private def daysInMonth(y: Int, m: Int): Int = m match {
    case 4 | 6 | 9 | 11 => 30
    case 2 => if ((y % 4 == 0 && y % 100 != 0) || y % 400 == 0) 29 else 28
    case _ => 31
  }

  /** Days from 1970-01-01 for a proleptic-Gregorian civil date —
    * Howard Hinnant's public-domain days_from_civil algorithm.
    */
  private def daysFromCivil(y0: Int, m: Int, d: Int): Long = {
    val y = if (m <= 2) y0 - 1 else y0
    val era = Math.floorDiv(y, 400)
    val yoe = y - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  /** Epoch micros for a UTC wall clock; Long.MinValue = malformed
    * (an impossible value: the 4-digit-year format bottoms out at
    * "0000-01-01 00:00:00" ≈ -6.2e16 µs, far above Long.MinValue).
    */
  def parseMicrosUtc(s: UTF8String): Long = {
    val f = fields(s)
    if (f < 0) return Long.MinValue
    val y = (f >> 26).toInt; val mo = ((f >> 22) & 0xf).toInt
    val da = ((f >> 17) & 0x1f).toInt; val h = ((f >> 12) & 0x1f).toInt
    val mi = ((f >> 6) & 0x3f).toInt; val se = (f & 0x3f).toInt
    (daysFromCivil(y, mo, da) * 86400L + h * 3600L + mi * 60L + se) * 1000000L
  }

  /** Epoch micros for a wall clock in an arbitrary zone — same
    * LocalDateTime.atZone instant choice as Spark's
    * DateTimeUtils.localDateTimeToMicros.
    */
  def parseMicrosZoned(s: UTF8String, zone: ZoneId): Long = {
    val f = fields(s)
    if (f < 0) return Long.MinValue
    val y = (f >> 26).toInt; val mo = ((f >> 22) & 0xf).toInt
    val da = ((f >> 17) & 0x1f).toInt; val h = ((f >> 12) & 0x1f).toInt
    val mi = ((f >> 6) & 0x3f).toInt; val se = (f & 0x3f).toInt
    try {
      val inst = java.time.LocalDateTime.of(y, mo, da, h, mi, se)
        .atZone(zone).toInstant
      inst.getEpochSecond * 1000000L + inst.getNano / 1000L
    } catch { case _: java.time.DateTimeException => Long.MinValue }
  }
}

/** Field count of a CSV line split on ',': `#commas + 1`, in one
  * allocation-free pass over the line's bytes. Equal to
  * `size(split(line, ",", -1))` on every input — the empty line is one
  * empty field, and trailing empties count — because the byte 0x2C
  * never occurs inside a multi-byte UTF-8 sequence and no invalid byte
  * decodes to a comma.
  *
  * Why a kernel: `UTF8String.split` decodes the whole line to a Java
  * String, runs `String.split` (one String per field) and re-encodes
  * every field, and the accept filter's short-circuit codegen does no
  * common-subexpression elimination, so each `split` in a line's accept
  * rule and projection runs in full. Counting commas over the bytes
  * emits as one static call inside WholeStageCodegen.
  */
case class CsvFieldCount(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "csv_field_count"

  override def nullSafeEval(input: Any): Any =
    CsvFieldCount.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CsvFieldCount.count($c)")

  override protected def withNewChildInternal(newChild: Expression): CsvFieldCount =
    copy(child = newChild)
}

object CsvFieldCount {
  def count(line: UTF8String): Int = {
    val n = line.numBytes()
    var fields = 1
    var p = 0
    while (p < n) {
      if (line.getByte(p) == ',') fields += 1
      p += 1
    }
    fields
  }
}

/** Field `index` (0-based) of a CSV line split on ',', or NULL when the
  * line has `index` commas or fewer. Equal to
  * `try_element_at(split(line, ",", -1), index + 1)` on every input:
  *   - an all-ASCII field is a zero-copy slice of the line's bytes;
  *   - a field with any byte >= 0x80 takes `split`'s own UTF-8 decode
  *     and re-encode, so invalid bytes become U+FFFD exactly as they do
  *     in `split` (the decoder resynchronizes at every ASCII byte, so
  *     decoding one field equals decoding the line and cutting it).
  * See [[CsvFieldCount]] for why this is a kernel.
  */
case class CsvField(child: Expression, index: Int) extends UnaryExpression
    with ExpectsInputTypes {
  require(index >= 0, s"csv_field index must be >= 0, got $index")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "csv_field"

  override def nullSafeEval(input: Any): Any =
    CsvField.field(input.asInstanceOf[UTF8String], index)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.CsvField.field($c, $index);
      |${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): CsvField =
    copy(child = newChild)
}

object CsvField {
  def field(line: UTF8String, index: Int): UTF8String = {
    val n = line.numBytes()
    var p = 0
    var k = 0
    while (k < index) {
      while (p < n && line.getByte(p) != ',') p += 1
      if (p == n) return null
      p += 1
      k += 1
    }
    val start = p
    var ascii = true
    while (p < n && line.getByte(p) != ',') {
      if (line.getByte(p) < 0) ascii = false
      p += 1
    }
    val slice = UTF8String.fromAddress(line.getBaseObject,
      line.getBaseOffset + start, p - start)
    if (ascii) slice else UTF8String.fromString(slice.toString)
  }
}
