package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual, Not, Or}
import org.apache.spark.sql.types.{BooleanType, DoubleType, FloatType, IntegerType, LongType, StringType, StructType}

/** WRITE-TIME CHECK CONSTRAINTS for graft tables — the data-quality
  * contract every table format grows (Delta's `ADD CONSTRAINT`,
  * lakehouse write expectations): a table property `graft.check.<name>`
  * holds a predicate every row of the table must satisfy; a commit that
  * would land a violating row FAILS ATOMICALLY (staged files unlinked,
  * no version published, the table unchanged) and adding a constraint
  * to a non-empty table validates the EXISTING data first.
  *
  * SQL CHECK semantics: a row violates only when the predicate
  * evaluates to FALSE — a NULL outcome passes (declare the column `NOT
  * NULL`, or conjoin `IS NOT NULL`, to forbid nulls). Declared
  * `NOT NULL` columns are enforced by the same validator off the
  * manifest's per-file null counts.
  *
  * Enforcement cost is the format's own statistics: a staged file whose
  * min/max/nullCount PROVE the constraint (the negated predicate can
  * match no row) passes with ZERO extra reads — for the common shape
  * (range checks over roughly-ordered data) validation is free; only
  * files the stats cannot clear are scanned, and the scan stops at the
  * first violation. At 100 TB this is the only viable design: the
  * validator's cost is O(files stats cannot prove), never O(write) by
  * necessity.
  *
  * Predicate surface (parsed here, deliberately small and loud): a
  * conjunction (`AND`) of `<column> <op> <literal>` comparisons
  * (`= <> != < <= > >=`), `<column> IS NOT NULL`, over the stats-ordered
  * types (boolean/int/bigint/float/double/string). Everything else —
  * OR, parentheses, expressions, other types — is rejected at
  * constraint-definition time, never silently unenforced.
  */
private[sources] object GraftConstraints {
  val Prefix = "graft.check."

  /** Files the validator had to SCAN (stats could not clear them) —
    * observability for the fast-path claim; test-read only. */
  @volatile private[sources] var scannedFiles: Long = 0L

  final case class Check(name: String, text: String, conjuncts: Seq[Filter]) {
    override def toString: String = s"CHECK $name ($text)"
  }

  /** Parse every `graft.check.*` property; loud on any defect. */
  def fromProperties(props: Map[String, String],
      schema: StructType): Seq[Check] =
    props.toSeq.sortBy(_._1).collect {
      case (k, v) if k.startsWith(Prefix) =>
        Check(k.stripPrefix(Prefix), v, parse(k.stripPrefix(Prefix), v, schema))
    }

  private def fail(name: String, msg: String): Nothing =
    throw new IllegalArgumentException(s"CHECK constraint '$name': $msg")

  /** Parse `text` into conjuncts. Grammar: `conj (AND conj)*` with
    * `conj := col IS NOT NULL | col op literal`. */
  def parse(name: String, text: String, schema: StructType): Seq[Filter] = {
    if (text.trim.isEmpty) fail(name, "empty predicate")
    if (text.exists(c => c == '(' || c == ')'))
      fail(name, "parentheses are not supported (conjunctions only)")
    // split on top-level AND (case-insensitive, word-bounded); quoted
    // string literals in this grammar cannot contain spaces around AND
    // ambiguously because we split the UNQUOTED text first
    val parts = splitTopLevelAnd(name, text)
    parts.map(p => parseConjunct(name, p.trim, schema))
  }

  /** Identifier character for keyword boundaries — underscore included,
    * so `or_id` / `flag_and_mask` stay column names, not keywords. */
  private def wordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  private def splitTopLevelAnd(name: String, text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inStr = false
    while (i < text.length) {
      val c = text.charAt(i)
      if (inStr) {
        cur.append(c)
        if (c == '\'') {
          // '' is an escaped quote inside the literal
          if (i + 1 < text.length && text.charAt(i + 1) == '\'') {
            cur.append('\''); i += 1
          } else inStr = false
        }
      } else if (c == '\'') { inStr = true; cur.append(c) }
      else if ((c == 'A' || c == 'a') && i + 3 <= text.length &&
        text.substring(i, math.min(i + 3, text.length)).equalsIgnoreCase("and") &&
        (i == 0 || !wordChar(text.charAt(i - 1))) &&
        (i + 3 >= text.length || !wordChar(text.charAt(i + 3)))) {
        out += cur.toString; cur.clear(); i += 2
      } else if ((c == 'O' || c == 'o') && i + 2 <= text.length &&
        text.substring(i, math.min(i + 2, text.length)).equalsIgnoreCase("or") &&
        (i == 0 || !wordChar(text.charAt(i - 1))) &&
        (i + 2 >= text.length || !wordChar(text.charAt(i + 2)))) {
        fail(name, "OR is not supported (conjunctions only)")
      } else cur.append(c)
      i += 1
    }
    if (inStr) fail(name, "unterminated string literal")
    out += cur.toString
    out.result()
  }

  private val NotNullRe =
    "(?i)^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s+IS\\s+NOT\\s+NULL\\s*$".r
  private val CmpRe =
    "^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*(=|==|!=|<>|<=|>=|<|>)\\s*(.+?)\\s*$".r

  private def parseConjunct(name: String, s: String,
      schema: StructType): Filter = s match {
    case NotNullRe(colName) =>
      IsNotNull(resolveCol(name, colName, schema)._1)
    case CmpRe(colName, op, lit) =>
      val (col, dt) = resolveCol(name, colName, schema)
      val v = parseLiteral(name, lit, dt)
      op match {
        case "=" | "==" => EqualTo(col, v)
        case "!=" | "<>" => Not(EqualTo(col, v))
        case "<" => LessThan(col, v)
        case "<=" => LessThanOrEqual(col, v)
        case ">" => GreaterThan(col, v)
        case ">=" => GreaterThanOrEqual(col, v)
      }
    case other => fail(name,
      s"cannot parse '$other' (supported: <col> <cmp> <literal>, <col> IS NOT NULL, AND)")
  }

  private def resolveCol(name: String, colName: String,
      schema: StructType): (String, org.apache.spark.sql.types.DataType) = {
    val f = schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      fail(name, s"unknown column $colName"))
    f.dataType match {
      case BooleanType | IntegerType | LongType | FloatType | DoubleType |
           StringType => (f.name, f.dataType)
      case other => fail(name,
        s"column ${f.name}: ${other.sql} has no stats order; constraints " +
          "cover boolean/int/bigint/float/double/string columns")
    }
  }

  private def parseLiteral(name: String, lit: String,
      dt: org.apache.spark.sql.types.DataType): Any = {
    val t = lit.trim
    dt match {
      case StringType =>
        if (t.length >= 2 && t.head == '\'' && t.last == '\'')
          t.substring(1, t.length - 1).replace("''", "'")
        else fail(name, s"string column needs a quoted literal, got $t")
      case BooleanType =>
        if (t.equalsIgnoreCase("true")) true
        else if (t.equalsIgnoreCase("false")) false
        else fail(name, s"boolean column needs true/false, got $t")
      case IntegerType | LongType =>
        try java.lang.Long.valueOf(t.toLong)
        catch { case _: NumberFormatException =>
          fail(name, s"integral column needs an integer literal, got $t") }
      case FloatType | DoubleType =>
        try java.lang.Double.valueOf(t.toDouble)
        catch { case _: NumberFormatException =>
          fail(name, s"numeric column needs a numeric literal, got $t") }
      case other => fail(name, s"unsupported literal type ${other.sql}")
    }
  }

  /** Does `row` VIOLATE the conjunct? SQL CHECK semantics: only a FALSE
    * outcome violates — a NULL operand passes every comparison. */
  def violates(f: Filter, row: InternalRow, schema: StructType): Boolean =
    f match {
      case IsNotNull(a) => row.isNullAt(schema.fieldIndex(a))
      case Not(EqualTo(a, v)) =>
        !row.isNullAt(schema.fieldIndex(a)) &&
          GraftFilterEval.matches(EqualTo(a, v), row, schema)
      case cmp =>
        val a = colOf(cmp)
        !row.isNullAt(schema.fieldIndex(a)) &&
          !GraftFilterEval.matches(cmp, row, schema)
    }

  private def colOf(f: Filter): String = f match {
    case EqualTo(a, _) => a
    case LessThan(a, _) => a
    case LessThanOrEqual(a, _) => a
    case GreaterThan(a, _) => a
    case GreaterThanOrEqual(a, _) => a
    case IsNotNull(a) => a
    case Not(EqualTo(a, _)) => a
    case other => throw new IllegalStateException(s"unexpected conjunct $other")
  }

  /** The filter whose matches are exactly the conjunct's VIOLATING rows
    * (never matches null operands, mirroring [[violates]]) — what the
    * stats prover feeds `canSkip`: skip == no violating row can exist. */
  private def violationFilter(f: Filter): Option[Filter] = f match {
    case IsNotNull(a) => Some(org.apache.spark.sql.sources.IsNull(a))
    case EqualTo(a, v) => Some(Or(LessThan(a, v), GreaterThan(a, v)))
    case Not(EqualTo(a, v)) => Some(EqualTo(a, v))
    case LessThan(a, v) => Some(GreaterThanOrEqual(a, v))
    case LessThanOrEqual(a, v) => Some(GreaterThan(a, v))
    case GreaterThan(a, v) => Some(LessThanOrEqual(a, v))
    case GreaterThanOrEqual(a, v) => Some(LessThan(a, v))
    case _ => None
  }

  /** Can the manifest stats PROVE no row of the file violates any
    * check (and no declared NOT NULL column holds a null)? */
  private def statsProve(entry: GraftCatalog.ManifestEntry,
      schema: StructType, checks: Seq[Check]): Boolean =
    entry.stats.exists { st =>
      checks.forall(_.conjuncts.forall(c => violationFilter(c).exists(vf =>
        GraftStatsSkip.usable(vf, schema) &&
          GraftStatsSkip.canSkip(vf, schema, st, entry.rows))))
    }

  /** NOT NULL proof is separate (pure null-count, no ordering needed). */
  private def statsProveNotNull(entry: GraftCatalog.ManifestEntry,
      schema: StructType, nonNullable: Seq[String]): Boolean =
    nonNullable.isEmpty || entry.stats.exists { st =>
      nonNullable.forall(a =>
        GraftStatsSkip.usable(org.apache.spark.sql.sources.IsNull(a), schema) &&
          GraftStatsSkip.canSkip(org.apache.spark.sql.sources.IsNull(a),
            schema, st, entry.rows))
    }

  /** Validate `entries` (staged files of a commit, or the whole manifest
    * when a constraint is being ADDED) against the table's checks and
    * declared NOT NULL columns. Stats-cleared files cost nothing; the
    * rest are scanned, stopping at the first violation. Throws with the
    * constraint name and file. */
  def validateEntries(tableDir: Path, schema: StructType,
      entries: Seq[GraftCatalog.ManifestEntry], checks: Seq[Check]): Unit = {
    val nonNullable = schema.fields.filterNot(_.nullable).map(_.name).toSeq
    if (checks.isEmpty && nonNullable.isEmpty) return
    entries.foreach { e =>
      val needChecks = checks.filterNot(c => statsProve(e, schema, Seq(c)))
      val needNulls =
        if (statsProveNotNull(e, schema, nonNullable)) Nil else nonNullable
      if (needChecks.nonEmpty || needNulls.nonEmpty)
        scanForViolation(tableDir, schema, e, needChecks, needNulls)
    }
  }

  private def scanForViolation(tableDir: Path, schema: StructType,
      e: GraftCatalog.ManifestEntry, checks: Seq[Check],
      nonNullable: Seq[String]): Unit = {
    scannedFiles += 1L
    // a NOT NULL column outside an old file's width would be all-null —
    // but ADD COLUMN is nullable-only, so it cannot be declared NOT NULL
    val cols = e.colsOr(schema.length)
    val nn = nonNullable.filter(a => schema.fieldIndex(a) < cols)
    // conjuncts outside an old file's width: the value is null by
    // evolution, and null passes CHECK — rows arrive padded
    GraftPool.foreachRow(tableDir, e, schema) { (_, row) =>
      nn.foreach { a =>
        if (row.isNullAt(schema.fieldIndex(a)))
          throw new IllegalStateException(
            s"NOT NULL violation: column $a is null in a row of ${e.file}; " +
              "the commit is aborted and the table unchanged")
      }
      checks.foreach { c =>
        c.conjuncts.foreach { conj =>
          if (violates(conj, row, schema))
            throw new IllegalStateException(
              s"$c violated by a row of ${e.file}; " +
                "the commit is aborted and the table unchanged")
        }
      }
    }
  }

}
