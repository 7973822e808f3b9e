package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import IcebergTypes._

/** The predicate algebra (reference `exprs.go`/`predicates.go`): a small AST
  * used for metadata pruning (manifests + file stats, driver-side) and
  * lowered 1:1 onto Catalyst `Column`s for the residual row filter — exactly
  * the reference's split (prune with its own AST, delegate row filtering to
  * Arrow; here Catalyst).
  */
sealed trait Expr {
  def negate: Expr
}

object Expr {
  case object AlwaysTrue extends Expr { def negate = AlwaysFalse }
  case object AlwaysFalse extends Expr { def negate = AlwaysTrue }

  final case class And(left: Expr, right: Expr) extends Expr {
    def negate = Or(left.negate, right.negate)
  }
  final case class Or(left: Expr, right: Expr) extends Expr {
    def negate = And(left.negate, right.negate)
  }
  final case class Not(child: Expr) extends Expr { def negate = child }

  sealed trait Op
  object Op {
    case object IsNull extends Op
    case object NotNull extends Op
    case object IsNan extends Op
    case object NotNan extends Op
    case object Lt extends Op
    case object LtEq extends Op
    case object Gt extends Op
    case object GtEq extends Op
    case object Eq extends Op
    case object NotEq extends Op
    case object StartsWith extends Op
    case object NotStartsWith extends Op
    case object In extends Op
    case object NotIn extends Op

    def negate(op: Op): Op = op match {
      case IsNull => NotNull
      case NotNull => IsNull
      case IsNan => NotNan
      case NotNan => IsNan
      case Lt => GtEq
      case LtEq => Gt
      case Gt => LtEq
      case GtEq => Lt
      case Eq => NotEq
      case NotEq => Eq
      case StartsWith => NotStartsWith
      case NotStartsWith => StartsWith
      case In => NotIn
      case NotIn => In
    }
  }

  /** Predicate on a named column (term = identity reference; predicates over
    * transformed terms arrive pre-projected by the planner).
    */
  final case class Predicate(op: Op, ref: String, literals: Seq[Any] = Nil) extends Expr {
    def negate = Predicate(Op.negate(op), ref, literals)
    def literal: Any = literals.head
  }

  /** Predicate over a TRANSFORMED term, e.g. `month(l_shipdate) = 326`
    * (reference BoundTransform, `exprs.go:1063-1137`). Literals live in
    * transform space. `sourceType` is the Spark type of the source column —
    * needed to lower the transform onto a Catalyst Column.
    */
  final case class TransformPredicate(op: Op, transform: Transform, ref: String,
      sourceType: org.apache.spark.sql.types.DataType,
      literals: Seq[Any] = Nil) extends Expr {
    def negate = TransformPredicate(Op.negate(op), transform, ref, sourceType, literals)
  }

  /** Predicate over a typed path extracted from a variant column, e.g.
    * `variant_get(props, '$.qty', 'long') >= 5`. `path` is the user's
    * dotted form (`$.qty`) — evaluators normalize it to the spec's
    * `$['qty']` when probing file bounds (reference
    * `table/internal/variant_bounds.go`); `valueType` is the shredded
    * leaf's primitive type and the residual filter's cast target.
    */
  final case class VariantPredicate(op: Op, ref: String, path: String,
      valueType: IcebergType, literals: Seq[Any] = Nil) extends Expr {
    def negate = VariantPredicate(Op.negate(op), ref, path, valueType, literals)
  }

  def variantPredicate(op: Op, ref: String, path: String,
      valueType: IcebergType, v: Any): Expr =
    VariantPredicate(op, ref, path, valueType, Seq(v))

  /** v3 geospatial bounding-box predicate over a WKB geometry column
    * (reference `exprs.go:1160-1300`): keep rows whose geometry envelope
    * intersects (or, negated, does not intersect) the query box.
    */
  final case class BBoxPredicate(intersects: Boolean, ref: String,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double) extends Expr {
    def negate = copy(intersects = !intersects)
  }

  def bboxIntersects(ref: String, xmin: Double, ymin: Double,
      xmax: Double, ymax: Double): Expr =
    BBoxPredicate(intersects = true, ref, xmin, ymin, xmax, ymax)

  // smart constructors mirroring the reference's auto-simplification
  def and(l: Expr, r: Expr): Expr = (l, r) match {
    case (AlwaysFalse, _) | (_, AlwaysFalse) => AlwaysFalse
    case (AlwaysTrue, x) => x
    case (x, AlwaysTrue) => x
    case _ => And(l, r)
  }
  def or(l: Expr, r: Expr): Expr = (l, r) match {
    case (AlwaysTrue, _) | (_, AlwaysTrue) => AlwaysTrue
    case (AlwaysFalse, x) => x
    case (x, AlwaysFalse) => x
    case _ => Or(l, r)
  }
  def not(e: Expr): Expr = e match {
    case Not(x) => x // double negation collapses (exprs.go NewNot)
    case AlwaysTrue => AlwaysFalse
    case AlwaysFalse => AlwaysTrue
    case other => Not(other)
  }
  def in(ref: String, lits: Seq[Any]): Expr = lits.distinct match {
    case Nil => AlwaysFalse
    case Seq(one) => Predicate(Op.Eq, ref, Seq(one))
    case many => Predicate(Op.In, ref, many)
  }
  def notIn(ref: String, lits: Seq[Any]): Expr = lits.distinct match {
    case Nil => AlwaysTrue
    case Seq(one) => Predicate(Op.NotEq, ref, Seq(one))
    case many => Predicate(Op.NotIn, ref, many)
  }

  def isNull(ref: String): Expr = Predicate(Op.IsNull, ref)
  def notNull(ref: String): Expr = Predicate(Op.NotNull, ref)
  def isNan(ref: String): Expr = Predicate(Op.IsNan, ref)
  def notNan(ref: String): Expr = Predicate(Op.NotNan, ref)
  def lt(ref: String, v: Any): Expr = Predicate(Op.Lt, ref, Seq(v))
  def ltEq(ref: String, v: Any): Expr = Predicate(Op.LtEq, ref, Seq(v))
  def gt(ref: String, v: Any): Expr = Predicate(Op.Gt, ref, Seq(v))
  def gtEq(ref: String, v: Any): Expr = Predicate(Op.GtEq, ref, Seq(v))
  def eq(ref: String, v: Any): Expr = Predicate(Op.Eq, ref, Seq(v))
  def notEq(ref: String, v: Any): Expr = Predicate(Op.NotEq, ref, Seq(v))
  def startsWith(ref: String, v: String): Expr = Predicate(Op.StartsWith, ref, Seq(v))

  /** Literal placeholder substituted by [[sanitize]]; carries no information
    * about the original value (reference `visitors.go:600-612`).
    */
  val SanitizedLiteralMask = "(redacted)"

  /** Copy of `e` with every predicate literal replaced by an opaque
    * placeholder, preserving boolean structure, column references, and
    * operations (reference `SanitizeExpression`, `visitors.go:616-697`):
    * lets a filter appear in error strings, logs, or a ScanReport shipped
    * somewhere untrusted without leaking the values a user scanned with.
    * Set predicates keep their arity with DISTINCT masks (a collapsed set
    * would misrepresent IN as EQ); unary predicates have no literal and pass
    * through; bbox coordinate boxes collapse to always-true.
    */
  def sanitize(e: Expr): Expr = e match {
    case And(l, r) => And(sanitize(l), sanitize(r))
    case Or(l, r) => Or(sanitize(l), sanitize(r))
    case Not(c) => Not(sanitize(c))
    case Predicate(op, ref, lits) => Predicate(op, ref, maskLits(lits))
    case TransformPredicate(op, t, ref, st, lits) =>
      TransformPredicate(op, t, ref, st, maskLits(lits))
    case vp: VariantPredicate => vp.copy(literals = maskLits(vp.literals))
    case _: BBoxPredicate => AlwaysTrue
    case other => other
  }

  private def maskLits(lits: Seq[Any]): Seq[Any] = lits match {
    case Nil => Nil
    case Seq(_) => Seq(SanitizedLiteralMask)
    case many => many.indices.map(i => s"$SanitizedLiteralMask-${i + 1}")
  }

  /** Push NOT down via De Morgan / operator negation (reference
    * `visitors.go:453-481`) — required before running pruning evaluators.
    */
  def rewriteNot(e: Expr): Expr = e match {
    case Not(child) => rewriteNot(child.negate)
    case And(l, r) => And(rewriteNot(l), rewriteNot(r))
    case Or(l, r) => Or(rewriteNot(l), rewriteNot(r))
    case other => other
  }

  /** Referenced column names (reference `visitors.go:484-531`). */
  def references(e: Expr): Set[String] = e match {
    case And(l, r) => references(l) ++ references(r)
    case Or(l, r) => references(l) ++ references(r)
    case Not(c) => references(c)
    case Predicate(_, ref, _) => Set(ref)
    case TransformPredicate(_, _, ref, _, _) => Set(ref)
    case BBoxPredicate(_, ref, _, _, _, _) => Set(ref)
    case VariantPredicate(_, ref, _, _, _) => Set(ref)
    case _ => Set.empty
  }

  /** Field IDs referenced by any term of a bound expression (reference
    * `ExtractFieldIDs`, `visitors.go:482-531`): a structural ID-set fold —
    * And/Or union, Not passes its child through, AlwaysTrue/False contribute
    * nothing — where every predicate node yields the leaf field its term is
    * bound to, including transform terms (`bucket(16, x)` references `x`),
    * bbox geometry refs, and variant roots (`variant_get(v, $.k)` references
    * `v`; shredded subfields have no schema IDs of their own).
    *
    * An unresolvable reference is an ERROR, mirroring the reference's
    * unbound panic: silently dropping an ID would shrink the
    * projection-union a residual filter needs and starve it of columns at
    * execution time. The message carries only the sanitized expression —
    * error strings travel (logs, REST error bodies), literals must not.
    */
  def extractFieldIds(e: Expr, schema: IcebergSchema,
      caseSensitive: Boolean = true): Set[Int] = {
    // the error cites the WHOLE (sanitized) filter, not just the offending
    // leaf — the caller sees the filter's shape without any literal leaking
    def leafId(ref: String): Set[Int] =
      Set(schema.findField(ref, caseSensitive).getOrElse(
        throw new IllegalArgumentException(
          s"cannot extract field ids: unbound reference '$ref' in ${sanitizedString(e)}")).id)
    def walk(x: Expr): Set[Int] = x match {
      case AlwaysTrue | AlwaysFalse => Set.empty
      case And(l, r) => walk(l) ++ walk(r)
      case Or(l, r) => walk(l) ++ walk(r)
      case Not(c) => walk(c)
      case Predicate(_, ref, _) => leafId(ref)
      case TransformPredicate(_, _, ref, _, _) => leafId(ref)
      case BBoxPredicate(_, ref, _, _, _, _) => leafId(ref)
      case VariantPredicate(_, ref, _, _, _) => leafId(ref)
    }
    walk(e)
  }

  /** Bind predicate references to canonical schema names (reference
    * `BindExpr`, `visitors.go:188-225`): with caseSensitive=false a ref
    * written in any case resolves to the schema's spelling. Unknown refs are
    * left as-is — downstream evaluators treat them as might-match.
    */
  def bindNames(e: Expr, schema: IcebergSchema, caseSensitive: Boolean): Expr = e match {
    case And(l, r) => And(bindNames(l, schema, caseSensitive), bindNames(r, schema, caseSensitive))
    case Or(l, r) => Or(bindNames(l, schema, caseSensitive), bindNames(r, schema, caseSensitive))
    case Not(c) => Not(bindNames(c, schema, caseSensitive))
    case p @ Predicate(op, ref, lits) =>
      // canonical dotted spelling, NOT the leaf field name — "info.nk" must
      // stay addressable after binding
      schema.resolveName(ref, caseSensitive).map(n => Predicate(op, n, lits)).getOrElse(p)
    case tp @ TransformPredicate(_, _, ref, _, _) =>
      schema.resolveName(ref, caseSensitive).map(n => tp.copy(ref = n)).getOrElse(tp)
    case bp @ BBoxPredicate(_, ref, _, _, _, _) =>
      schema.resolveName(ref, caseSensitive).map(n => bp.copy(ref = n)).getOrElse(bp)
    case vp @ VariantPredicate(_, ref, _, _, _) =>
      schema.resolveName(ref, caseSensitive).map(n => vp.copy(ref = n)).getOrElse(vp)
    case other => other
  }

  /** Re-express a NOT-free expression bound to `from`'s names in `to`'s
    * names, matching fields by id — the bridge from a read's schema to the
    * schema its files' statistics were written under, across renames. A
    * term on a field `to` lacks (added since) might match, so it becomes
    * AlwaysTrue; so does a NOT, which [[rewriteNot]] has pushed away.
    */
  def renameByIds(e: Expr, from: IcebergSchema, to: IcebergSchema): Expr = {
    def leaf(ref: String)(rebuild: String => Expr): Expr =
      from.nameToId.get(ref).flatMap(to.idToName.get).map(rebuild).getOrElse(AlwaysTrue)
    e match {
      case And(l, r) => and(renameByIds(l, from, to), renameByIds(r, from, to))
      case Or(l, r) => or(renameByIds(l, from, to), renameByIds(r, from, to))
      case Not(_) => AlwaysTrue
      case p: Predicate => leaf(p.ref)(n => p.copy(ref = n))
      case tp: TransformPredicate => leaf(tp.ref)(n => tp.copy(ref = n))
      case bp: BBoxPredicate => leaf(bp.ref)(n => bp.copy(ref = n))
      case vp: VariantPredicate => leaf(vp.ref)(n => vp.copy(ref = n))
      case other => other
    }
  }

  /** Redact literal values for log/error strings (reference
    * `SanitizeExpression`, `visitors.go:616-697`): shape survives, payloads
    * don't leak. Type-shaped masks aid debugging ("(hash-redacted)" for
    * strings, "(number)" for numerics) without revealing values.
    */
  def sanitizedString(e: Expr): String = e match {
    case AlwaysTrue => "true"
    case AlwaysFalse => "false"
    case And(l, r) => s"(${sanitizedString(l)} AND ${sanitizedString(r)})"
    case Or(l, r) => s"(${sanitizedString(l)} OR ${sanitizedString(r)})"
    case Not(c) => s"NOT ${sanitizedString(c)}"
    case Predicate(op, ref, lits) =>
      val masked = lits.map {
        case _: String => "(hash-redacted)"
        case _: Int | _: Long | _: Double | _: Float | _: java.math.BigDecimal => "(number)"
        case _ => "(value)"
      }
      if (masked.isEmpty) s"$op($ref)" else s"$op($ref, ${masked.mkString(", ")})"
    case TransformPredicate(op, tr, ref, _, lits) =>
      s"$op(${tr.name}($ref)${if (lits.isEmpty) "" else ", " + lits.map(_ => "(value)").mkString(", ")})"
    case BBoxPredicate(in, ref, _, _, _, _) =>
      s"${if (in) "" else "NOT "}bbox_intersects($ref, (box))"
    case VariantPredicate(op, ref, path, _, lits) =>
      s"$op(variant_get($ref, $path)${if (lits.isEmpty) "" else ", " + lits.map(_ => "(value)").mkString(", ")})"
  }

  /** Lower to a Catalyst Column for the residual row filter. */
  def toColumn(e: Expr): Column = e match {
    case AlwaysTrue => lit(true)
    case AlwaysFalse => lit(false)
    case And(l, r) => toColumn(l) && toColumn(r)
    case Or(l, r) => toColumn(l) || toColumn(r)
    case Not(c) => !toColumn(c)
    case Predicate(op, ref, lits) => opColumn(op, col(ref), lits)
    case TransformPredicate(op, tr, ref, srcType, lits) =>
      opColumn(op, tr.toColumn(col(ref), srcType), lits)
    case BBoxPredicate(wants, ref, xmin, ymin, xmax, ymax) =>
      val f = udf((wkb: Array[Byte]) => Geo.intersects(wkb, xmin, ymin, xmax, ymax))
      if (wants) f(col(ref)) else !f(col(ref))
    case VariantPredicate(op, ref, path, vt, lits) =>
      opColumn(op, variant_get(col(ref), path, variantCastName(vt)), lits)
  }

  private def variantCastName(t: IcebergType): String = t match {
    case IntT => "int"
    case LongT => "long"
    case FloatT => "float"
    case DoubleT => "double"
    case BooleanT => "boolean"
    case StringT => "string"
    case other => throw new IllegalArgumentException(
      s"variant predicate on unsupported leaf type $other")
  }

  private def opColumn(op: Op, c: Column, lits: Seq[Any]): Column = op match {
    case Op.IsNull => c.isNull
    case Op.NotNull => c.isNotNull
    case Op.IsNan => isnan(c)
    // null matches NotNan in the Iceberg algebra (see evalRow). Spark's
    // isnan() is non-nullable (false on null input), so `!isnan(c)` already
    // yields true on null; the explicit isNull guard is redundant but kept so
    // the intended null-MATCHES semantics survive any future change to the
    // isnan lowering
    case Op.NotNan => c.isNull || !isnan(c)
    case Op.Lt => c < litVal(lits.head)
    case Op.LtEq => c <= litVal(lits.head)
    case Op.Gt => c > litVal(lits.head)
    case Op.GtEq => c >= litVal(lits.head)
    case Op.Eq => c === litVal(lits.head)
    case Op.NotEq => c =!= litVal(lits.head)
    case Op.StartsWith => c.startsWith(lits.head.toString)
    case Op.NotStartsWith => !c.startsWith(lits.head.toString)
    case Op.In => c.isin(lits.map(litValue): _*)
    case Op.NotIn => !c.isin(lits.map(litValue): _*)
  }

  private def litVal(v: Any): Column = lit(litValue(v))
  private def litValue(v: Any): Any = v match {
    case d: java.time.LocalDate => java.sql.Date.valueOf(d)
    case i: java.time.Instant => java.sql.Timestamp.from(i)
    case other => other
  }

  /** Evaluate against a partition-value row (reference ExpressionEvaluator,
    * `visitors.go:227-450`): tiny driver-side rows only.
    */
  def evalRow(e: Expr, t: String => IcebergType, row: String => Any): Boolean = e match {
    case AlwaysTrue => true
    case AlwaysFalse => false
    case And(l, r) => evalRow(l, t, row) && evalRow(r, t, row)
    case Or(l, r) => evalRow(l, t, row) || evalRow(r, t, row)
    case Not(c) => !evalRow(c, t, row)
    case Predicate(op, ref, lits) =>
      val v = row(ref)
      val ft = t(ref)
      def cmp(x: Any) = Literals.compare(ft, v, x)
      op match {
        case Op.IsNull => v == null
        case Op.NotNull => v != null
        case Op.IsNan => v != null && dblOf(v).exists(_.isNaN)
        // NotNan is the exact complement of IsNan in the Iceberg algebra
        // (reference visitors.go:299 `VisitNotNan = !VisitIsNan`): a NULL is
        // not NaN, so it MATCHES NotNan. (Spark's isnan() happens to agree —
        // it is false on null — but this evaluator states the algebra
        // directly rather than leaning on that.)
        case Op.NotNan => v == null || !dblOf(v).exists(_.isNaN)
        case _ if v == null => false
        case Op.Lt => cmp(lits.head) < 0
        case Op.LtEq => cmp(lits.head) <= 0
        case Op.Gt => cmp(lits.head) > 0
        case Op.GtEq => cmp(lits.head) >= 0
        case Op.Eq => cmp(lits.head) == 0
        case Op.NotEq => cmp(lits.head) != 0
        case Op.StartsWith => v.toString.startsWith(lits.head.toString)
        case Op.NotStartsWith => !v.toString.startsWith(lits.head.toString)
        case Op.In => lits.exists(cmp(_) == 0)
        case Op.NotIn => !lits.exists(cmp(_) == 0)
      }
    case _: TransformPredicate => true // projected away before row eval; inclusive
    case _: BBoxPredicate => true // no partition projection for geo (yet)
    case _: VariantPredicate => true // variants are never partition sources
  }

  private def dblOf(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case _ => None
  }
}
