package graft.ice.expr

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Literal => CatalystLiteral}
import org.apache.spark.sql.functions.{col, lit}

import graft.ice.transform.{IdentityTransform, Transform}
import graft.ice.types._

/** Predicate expression layer (reference: src/iceberg/expression/
  * expression.h:38-222, predicate.h, term.h).
  *
  * Unbound expressions name columns; Bind resolves them against a Schema,
  * casts literals to the column type, and applies the reference's
  * bind-time simplifications (predicate.cc:150-282). The bound tree can
  * be (a) turned into a Spark Column for execution, (b) evaluated against
  * manifest partition summaries / file metrics for driver-side pruning —
  * the one optimizer piece Catalyst cannot do for us (SURVEY §4). */

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
  case object In extends Op
  case object NotIn extends Op
  case object StartsWith extends Op
  case object NotStartsWith extends Op

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
    case In => NotIn
    case NotIn => In
    case StartsWith => NotStartsWith
    case NotStartsWith => StartsWith
  }
}

/** A term: a plain column reference or a transform over one (term.h:124-257). */
final case class Term(name: String, transform: Transform = IdentityTransform)

// ---------------- unbound ----------------

sealed trait Expr {
  def and(other: Expr): Expr = Expr.and(this, other)
  def or(other: Expr): Expr = Expr.or(this, other)
  def negate: Expr = Expr.not(this)
}
case object TrueE extends Expr
case object FalseE extends Expr
final case class AndE(left: Expr, right: Expr) extends Expr
final case class OrE(left: Expr, right: Expr) extends Expr
final case class NotE(child: Expr) extends Expr
final case class Predicate(op: Op, term: Term, literals: Seq[Literal] = Nil) extends Expr
/** Opaque Spark-SQL predicate: executes exactly, but is invisible to the
  * pruning evaluators (they treat it as "might match" — safe, unprunable). */
final case class RawE(sql: String) extends Expr

/** Factory with constant folding at construction (expressions.h:44-102). */
object Expr {
  def and(l: Expr, r: Expr): Expr = (l, r) match {
    case (FalseE, _) | (_, FalseE) => FalseE
    case (TrueE, x) => x
    case (x, TrueE) => x
    case _ => AndE(l, r)
  }
  def or(l: Expr, r: Expr): Expr = (l, r) match {
    case (TrueE, _) | (_, TrueE) => TrueE
    case (FalseE, x) => x
    case (x, FalseE) => x
    case _ => OrE(l, r)
  }
  def not(e: Expr): Expr = e match {
    case TrueE => FalseE
    case FalseE => TrueE
    case NotE(x) => x // double negation (expressions.cc Not)
    case _ => NotE(e)
  }

  // convenience builders (expressions.h:107-324)
  def isNull(name: String): Expr = Predicate(Op.IsNull, Term(name))
  def notNull(name: String): Expr = Predicate(Op.NotNull, Term(name))
  def isNan(name: String): Expr = Predicate(Op.IsNan, Term(name))
  def notNan(name: String): Expr = Predicate(Op.NotNan, Term(name))
  def lt(name: String, v: Literal): Expr = Predicate(Op.Lt, Term(name), Seq(v))
  def ltEq(name: String, v: Literal): Expr = Predicate(Op.LtEq, Term(name), Seq(v))
  def gt(name: String, v: Literal): Expr = Predicate(Op.Gt, Term(name), Seq(v))
  def gtEq(name: String, v: Literal): Expr = Predicate(Op.GtEq, Term(name), Seq(v))
  def equal(name: String, v: Literal): Expr = Predicate(Op.Eq, Term(name), Seq(v))
  def notEqual(name: String, v: Literal): Expr = Predicate(Op.NotEq, Term(name), Seq(v))
  def in(name: String, vs: Seq[Literal]): Expr = Predicate(Op.In, Term(name), vs)
  def notIn(name: String, vs: Seq[Literal]): Expr = Predicate(Op.NotIn, Term(name), vs)
  def startsWith(name: String, v: String): Expr =
    Predicate(Op.StartsWith, Term(name), Seq(Literal.string(v)))
  def raw(sql: String): Expr = RawE(sql)
}

// ---------------- bound ----------------

sealed trait Bound
case object BTrue extends Bound
case object BFalse extends Bound
final case class BAnd(left: Bound, right: Bound) extends Bound
final case class BOr(left: Bound, right: Bound) extends Bound
final case class BNot(child: Bound) extends Bound
final case class BRaw(sql: String) extends Bound

object Bound {
  /** Does this subtree contain an opaque predicate? Evaluators must not
    * negate a subtree whose truth value is only "might match". */
  def hasRaw(b: Bound): Boolean = b match {
    case BRaw(_) => true
    case BAnd(l, r) => hasRaw(l) || hasRaw(r)
    case BOr(l, r) => hasRaw(l) || hasRaw(r)
    case BNot(c) => hasRaw(c)
    case _ => false
  }
}
/** A bound predicate: resolved field + op + literals cast to the term's
  * result type. `sourceName`/`sourceType` describe the raw column;
  * `transform` may wrap it (BoundTransform, term.h:239). */
final case class BPred(
    op: Op,
    fieldId: Int,
    sourceName: String,
    sourceType: IcePrimitive,
    transform: Transform,
    literals: Seq[Literal],
    required: Boolean) extends Bound {
  def termType: IcePrimitive = transform.resultType(sourceType)
}

object Binder {
  /** Bind + simplify (predicate.cc:150-282):
    *  - isNull on a required field -> false; notNull -> true
    *  - NaN ops only on float/double
    *  - literal cast overflow (AboveMax/BelowMin) folds to constants
    *  - IN: dedup; empty -> false; singleton -> Eq (and dual for NotIn) */
  def bind(expr: Expr, schema: Schema, caseSensitive: Boolean = true): Bound = expr match {
    case TrueE => BTrue
    case FalseE => BFalse
    case RawE(sql) => BRaw(sql)
    case AndE(l, r) => (bind(l, schema, caseSensitive), bind(r, schema, caseSensitive)) match {
      case (BFalse, _) | (_, BFalse) => BFalse
      case (BTrue, x) => x
      case (x, BTrue) => x
      case (a, b) => BAnd(a, b)
    }
    case OrE(l, r) => (bind(l, schema, caseSensitive), bind(r, schema, caseSensitive)) match {
      case (BTrue, _) | (_, BTrue) => BTrue
      case (BFalse, x) => x
      case (x, BFalse) => x
      case (a, b) => BOr(a, b)
    }
    case NotE(c) => bind(c, schema, caseSensitive) match {
      case BTrue => BFalse
      case BFalse => BTrue
      case BNot(x) => x
      case p: BPred => negatePred(p)
      case x => BNot(x)
    }
    case Predicate(op, term, literals) =>
      val field = schema.findFieldByName(term.name, caseSensitive).getOrElse(
        throw new IllegalArgumentException(s"cannot bind: no field named ${term.name}"))
      val srcType = field.fieldType match {
        case p: IcePrimitive => p
        case t => throw new IllegalArgumentException(s"cannot filter on non-primitive $t")
      }
      val termType = term.transform.resultType(srcType)
      op match {
        case Op.IsNull =>
          if (field.required) BFalse
          else BPred(op, field.id, field.name, srcType, term.transform, Nil, field.required)
        case Op.NotNull =>
          if (field.required) BTrue
          else BPred(op, field.id, field.name, srcType, term.transform, Nil, field.required)
        case Op.IsNan | Op.NotNan =>
          termType match {
            case FloatT | DoubleT =>
              BPred(op, field.id, field.name, srcType, term.transform, Nil, field.required)
            case t => throw new IllegalArgumentException(s"NaN predicate on non-floating type $t")
          }
        case Op.In | Op.NotIn =>
          val cast = literals.flatMap(_.castTo(termType))
          val values = cast.filterNot(_.isSentinel)
          // dedup by comparable raw value
          val dedup = values.foldLeft(Vector.empty[Literal]) { (acc, l) =>
            if (acc.exists(_.compareTo(l).contains(0))) acc else acc :+ l
          }
          if (dedup.isEmpty) { if (op == Op.In) BFalse else BTrue }
          else if (dedup.size == 1)
            BPred(if (op == Op.In) Op.Eq else Op.NotEq,
              field.id, field.name, srcType, term.transform, dedup, field.required)
          else BPred(op, field.id, field.name, srcType, term.transform, dedup, field.required)
        case _ =>
          val cast = literals.head.castTo(termType).getOrElse(
            throw new IllegalArgumentException(
              s"cannot cast ${literals.head.tpe} literal to $termType for ${field.name}"))
          cast.value match {
            case LiteralValue.AboveMax => op match {
              // column < AboveMax is always true, column > AboveMax always false...
              case Op.Lt | Op.LtEq | Op.NotEq => BTrue
              case Op.Gt | Op.GtEq | Op.Eq => BFalse
              case _ => BPred(op, field.id, field.name, srcType, term.transform, Seq(cast), field.required)
            }
            case LiteralValue.BelowMin => op match {
              case Op.Gt | Op.GtEq | Op.NotEq => BTrue
              case Op.Lt | Op.LtEq | Op.Eq => BFalse
              case _ => BPred(op, field.id, field.name, srcType, term.transform, Seq(cast), field.required)
            }
            case _ =>
              BPred(op, field.id, field.name, srcType, term.transform, Seq(cast), field.required)
          }
      }
  }

  private def negatePred(p: BPred): Bound = {
    val negated = p.copy(op = Op.negate(p.op))
    // re-apply required-field simplification
    negated.op match {
      case Op.IsNull if p.required => BFalse
      case Op.NotNull if p.required => BTrue
      case _ => negated
    }
  }
}

/** Bound expression -> Spark Column (SURVEY §3.2: Catalyst does the rest).
  *
  * Comparison and set constants are passed by reference, not inlined:
  * each becomes a [[ParamLiteral]] at its term's exact Spark type, so
  * reads and row-level operations that differ only in their constants
  * reuse Spark's compiled classes instead of compiling new ones. Never
  * wrap such a constant in `.cast`: the cast folds back into a plain,
  * inlined literal. */
object ToColumn {
  private def litToSpark(l: Literal): Any = l.raw match {
    case u: java.util.UUID => u.toString
    case d: Int if l.tpe == DateT => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong))
    case us: Long if l.tpe == TimestampT =>
      java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
    case us: Long if l.tpe == TimestampTzT => java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
    case v => v
  }

  /** `l` as a [[ParamLiteral]] of the Spark type `functions.lit` would
    * give it, which is SparkConv's mapping of the term's type. A decimal
    * keeps its own precision (the column's may be too narrow for it). */
  private def param(l: Literal): Column = {
    val v = litToSpark(l)
    val c = l.tpe match {
      case _: DecimalT if v != null => CatalystLiteral(v)
      case t => CatalystLiteral.create(v, SparkConv.toSparkType(t))
    }
    GraftColumnBridge.column(new ParamLiteral(c.value, c.dataType))
  }

  def apply(b: Bound): Column = b match {
    case BTrue => lit(true)
    case BFalse => lit(false)
    case BRaw(sql) => org.apache.spark.sql.functions.expr(sql)
    case BAnd(l, r) => apply(l) && apply(r)
    case BOr(l, r) => apply(l) || apply(r)
    case BNot(c) => !apply(c)
    case p: BPred =>
      val c = p.transform.toColumn(col(p.sourceName), p.sourceType)
      p.op match {
        case Op.IsNull => c.isNull
        case Op.NotNull => c.isNotNull
        case Op.IsNan => c.isNaN
        case Op.NotNan => !c.isNaN
        case Op.Lt => c < param(p.literals.head)
        case Op.LtEq => c <= param(p.literals.head)
        case Op.Gt => c > param(p.literals.head)
        case Op.GtEq => c >= param(p.literals.head)
        case Op.Eq => c === param(p.literals.head)
        case Op.NotEq => c =!= param(p.literals.head)
        case Op.In => c.isin(p.literals.map(param): _*)
        case Op.NotIn => !c.isin(p.literals.map(param): _*)
        case Op.StartsWith => c.startsWith(litToSpark(p.literals.head).toString)
        case Op.NotStartsWith => !c.startsWith(litToSpark(p.literals.head).toString)
      }
  }
}
