package graft.table

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Data skipping over the manifest's footer-derived per-file column
  * statistics (Delta's add-file stats evaluation, re-expressed): a
  * pushed conjunct plus a file's [min, max]/null-count can PROVE the
  * file holds no matching row, so the scan never opens it. Everything
  * unprovable stays conservative (`true`), and all comparisons honor
  * SQL semantics (stats ignore nulls; a null literal matches nothing).
  */
object FileSkipping {

  /** Typed comparison of two encoded stat strings. None = untyped. */
  private[table] def compareStats(a: String, b: String, dt: DataType): Option[Int] =
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType =>
        Some(java.lang.Long.compare(a.toLong, b.toLong))
      case FloatType | DoubleType =>
        Some(java.lang.Double.compare(a.toDouble, b.toDouble))
      case StringType =>
        Some(UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
      case _ => None
    }

  /** Encodes a literal's internal value in stat-string form. */
  private def encodeLiteral(l: Literal): Option[String] = l.value match {
    case null => None
    case b: Byte => Some(b.toLong.toString)
    case s: Short => Some(s.toLong.toString)
    case i: Int => Some(i.toLong.toString)
    case l2: Long => Some(l2.toString)
    case f: Float => Some(f.toDouble.toString)
    case d: Double => Some(d.toString)
    case u: UTF8String => Some(u.toString)
    case _ => None
  }

  /** Splits a predicate into conjuncts. */
  def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Types whose stat strings [[compareStats]] can order. */
  private def statComparable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | FloatType | DoubleType |
         StringType => true
    case _ => false
  }

  /** IN-lists at least this long get the sorted binary-search probe;
    * below it the per-literal scan costs less than the sort. */
  private val SortedProbeMin = 32

  /** Compiles a conjunct set into one per-file probe. Results match
    * `conjuncts.forall(mayMatch(_, f, schema))`; the point is cost —
    * a large IN/INSET literal list is encoded and sorted ONCE, and
    * each file is probed by binary search for [min, max] overlap, so a
    * [[VersionedTable.KEY_PRUNE_MAX]]-sized refresh IN-list costs
    * O(log k) per manifest entry instead of an O(k) rescan per file
    * (ADVICE r7). */
  def compile(
      conjuncts: Seq[Expression],
      schema: StructType): DataFile => Boolean = {
    val probes: Seq[DataFile => Boolean] = conjuncts.map {
      case In(a: AttributeReference, vs)
          if vs.length >= SortedProbeMin && vs.forall(_.isInstanceOf[Literal]) =>
        sortedInProbe(a.name, vs.map(_.asInstanceOf[Literal]), schema)
      case InSet(a: AttributeReference, vs) if vs.size >= SortedProbeMin =>
        schema.fields.find(_.name == a.name).map(_.dataType) match {
          case Some(dt) =>
            sortedInProbe(a.name, vs.toSeq.map(v => Literal(v, dt)), schema)
          case None => (f: DataFile) => !f.rows.contains(0L)
        }
      case c => (f: DataFile) => mayMatch(c, f, schema)
    }
    f => probes.forall(_(f))
  }

  /** One-time sort + per-file binary search for an IN-list conjunct:
    * the file survives iff some listed value falls inside its
    * [min, max]. Conservative (file kept) whenever the type or stats
    * cannot prove absence, mirroring [[eqMay]]. */
  private def sortedInProbe(
      name: String, lits: Seq[Literal], schema: StructType)
      : DataFile => Boolean = {
    val dtOpt = schema.fields.find(_.name == name).map(_.dataType)
    val nonNull = lits.filter(_.value != null)
    if (nonNull.isEmpty) return (_: DataFile) => false // IN (NULL…): no match
    val enc = nonNull.map(encodeLiteral)
    val dt = dtOpt.orNull
    if (dt == null || !statComparable(dt) || enc.exists(_.isEmpty))
      return (f: DataFile) => !f.rows.contains(0L) // unprovable: keep
    val sorted = enc.flatten.distinct
      .sortWith((x, y) => compareStats(x, y, dt).get < 0).toIndexedSeq
    f => {
      if (f.rows.contains(0L)) false
      else (f.colMins.get(name), f.colMaxs.get(name)) match {
        case (Some(mn), Some(mx)) =>
          var lo = 0
          var hi = sorted.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (compareStats(sorted(mid), mn, dt).get < 0) lo = mid + 1
            else hi = mid
          }
          lo < sorted.length && compareStats(sorted(lo), mx, dt).get <= 0
        case _ => true
      }
    }
  }

  /** false => `f` provably contains no row satisfying `conjunct`. */
  def mayMatch(conjunct: Expression, f: DataFile, schema: StructType): Boolean = {
    if (f.rows.contains(0L)) return false // empty file matches nothing

    def dtOf(name: String): Option[DataType] =
      schema.fields.find(_.name == name).map(_.dataType)
    // cmp(stat, lit): Some(ordering) when both sides are typed + statted
    def stat(name: String, m: Map[String, String], l: Literal): Option[(String, String, DataType)] =
      for {
        dt <- dtOf(name)
        s <- m.get(name)
        v <- encodeLiteral(l)
      } yield (s, v, dt)
    def cmpMin(name: String, l: Literal): Option[Int] =
      stat(name, f.colMins, l).flatMap { case (s, v, dt) => compareStats(s, v, dt) }
    def cmpMax(name: String, l: Literal): Option[Int] =
      stat(name, f.colMaxs, l).flatMap { case (s, v, dt) => compareStats(s, v, dt) }

    conjunct match {
      case EqualTo(a: AttributeReference, l: Literal) => eqMay(a.name, l, cmpMin, cmpMax)
      case EqualTo(l: Literal, a: AttributeReference) => eqMay(a.name, l, cmpMin, cmpMax)

      case GreaterThan(a: AttributeReference, l: Literal) => cmpMax(a.name, l).forall(_ > 0)
      case LessThan(l: Literal, a: AttributeReference) => cmpMax(a.name, l).forall(_ > 0)

      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => cmpMax(a.name, l).forall(_ >= 0)
      case LessThanOrEqual(l: Literal, a: AttributeReference) => cmpMax(a.name, l).forall(_ >= 0)

      case LessThan(a: AttributeReference, l: Literal) => cmpMin(a.name, l).forall(_ < 0)
      case GreaterThan(l: Literal, a: AttributeReference) => cmpMin(a.name, l).forall(_ < 0)

      case LessThanOrEqual(a: AttributeReference, l: Literal) => cmpMin(a.name, l).forall(_ <= 0)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => cmpMin(a.name, l).forall(_ <= 0)

      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v => eqMay(a.name, v.asInstanceOf[Literal], cmpMin, cmpMax))
      case InSet(a: AttributeReference, vs) =>
        dtOf(a.name).forall(dt =>
          vs.exists(v => eqMay(a.name, Literal(v, dt), cmpMin, cmpMax)))

      case IsNull(a: AttributeReference) =>
        f.nullCounts.get(a.name).forall(_ > 0L)
      case IsNotNull(a: AttributeReference) =>
        !(f.rows.isDefined && f.nullCounts.get(a.name) == f.rows)

      case _ => true
    }
  }

  private def eqMay(
      name: String, l: Literal,
      cmpMin: (String, Literal) => Option[Int],
      cmpMax: (String, Literal) => Option[Int]): Boolean = {
    if (l.value == null) return false // `a = NULL` is never true
    cmpMin(name, l).forall(_ <= 0) && cmpMax(name, l).forall(_ >= 0)
  }
}
