package graft.ice.expr

import graft.ice.manifest.{DataFile, ManifestFile}
import graft.ice.meta.PartitionSpec
import graft.ice.types._

/** Driver-side pruning evaluators (SURVEY §4: "the key optimizer piece").
  * The reference reads+writes partition summaries and per-file stats but
  * never consults them (table_scan.cc:280 TODO); here they drive manifest
  * and data-file skipping, which is what makes a 100 TB scan feasible.
  * Modeled on the Iceberg spec's inclusive projection / evaluation rules:
  * every answer is "rows MIGHT match" (true) or "rows CANNOT match"
  * (false) — pruning must never drop a matching row. */

/** Project a bound row filter into partition space for a spec
  * (spec §Scan Planning; cf. predicate.cc:229 truncate TODO).
  * Result preds are bound to the spec's partition field ids. */
object InclusiveProjection {
  def project(expr: Bound, spec: PartitionSpec): Bound = expr match {
    case BTrue => BTrue
    case BFalse => BFalse
    case BAnd(l, r) => (project(l, spec), project(r, spec)) match {
      case (BFalse, _) | (_, BFalse) => BFalse
      case (BTrue, x) => x
      case (x, BTrue) => x
      case (a, b) => BAnd(a, b)
    }
    // inclusive projection of OR must stay inclusive on both sides
    case BOr(l, r) => (project(l, spec), project(r, spec)) match {
      case (BTrue, _) | (_, BTrue) => BTrue
      case (BFalse, x) => x
      case (x, BFalse) => x
      case (a, b) => BOr(a, b)
    }
    case BNot(_) => BTrue // cannot project a residual Not inclusively
    case BRaw(_) => BTrue // opaque: cannot prune
    case p: BPred =>
      if (p.transform != graft.ice.transform.IdentityTransform) BTrue
      else {
        val projected = spec.fields.filter(_.sourceId == p.fieldId).map { pf =>
          projectPred(p, pf.fieldId, pf.name, pf.transform)
        }
        projected.foldLeft(BTrue: Bound) {
          case (BTrue, x) => x
          case (acc, BTrue) => acc
          case (BFalse, _) | (_, BFalse) => BFalse
          case (acc, x) => BAnd(acc, x)
        }
      }
  }

  private def projectPred(p: BPred, partFieldId: Int, partName: String,
      t: graft.ice.transform.Transform): Bound = {
    import graft.ice.transform._
    def mk(op: Op, lits: Seq[Literal]): Bound = {
      val resType = t.resultType(p.sourceType)
      BPred(op, partFieldId, partName, resType, IdentityTransform, lits, required = false)
    }
    def transformed(l: Literal): Option[Literal] = {
      if (l.isSentinel) None
      else Option(t.apply(l.raw, p.sourceType))
        .map(v => Literal(LiteralValue.Value(v), t.resultType(p.sourceType)))
    }
    p.op match {
      case Op.IsNull | Op.NotNull => mk(p.op, Nil) // transforms preserve null
      case Op.Eq =>
        transformed(p.literals.head).map(l => mk(Op.Eq, Seq(l))).getOrElse(BTrue)
      case Op.In =>
        val ls = p.literals.flatMap(transformed)
        if (ls.isEmpty) BTrue else mk(Op.In, ls.distinct)
      case Op.Lt | Op.LtEq if t.preservesOrder =>
        // x < v  =>  t(x) <= t(v) for monotonic t
        transformed(p.literals.head).map(l => mk(Op.LtEq, Seq(l))).getOrElse(BTrue)
      case Op.Gt | Op.GtEq if t.preservesOrder =>
        transformed(p.literals.head).map(l => mk(Op.GtEq, Seq(l))).getOrElse(BTrue)
      case Op.StartsWith if p.literals.head.isNull => BTrue
      case Op.StartsWith => t match {
        case IdentityTransform => mk(Op.StartsWith, p.literals)
        case TruncateTransform(w) if p.sourceType == StringT =>
          val prefix = p.literals.head.raw.asInstanceOf[String]
          if (prefix.codePointCount(0, prefix.length) < w) mk(Op.StartsWith, p.literals)
          else mk(Op.StartsWith, Seq(Literal.string(TruncateUtil.truncateString(w, prefix))))
        case _ => BTrue
      }
      case _ => BTrue // NotEq/NotIn/NaN and non-monotonic ranges: cannot prune
    }
  }
}

/** Exact evaluation of a partition-space expression against a concrete
  * partition tuple (used for per-file partition pruning; the reference's
  * missing BoundPredicate::Test, predicate.cc:303-385, implemented here
  * for StructLike = the tuple). `fieldPos` maps partition field id ->
  * tuple index. */
final class PartitionTupleEvaluator(spec: PartitionSpec) {
  private val fieldPos: Map[Int, Int] =
    spec.fields.zipWithIndex.map { case (f, i) => f.fieldId -> i }.toMap

  def eval(expr: Bound, tuple: IndexedSeq[Any]): Boolean = expr match {
    case BTrue => true
    case BFalse => false
    case BAnd(l, r) => eval(l, tuple) && eval(r, tuple)
    case BOr(l, r) => eval(l, tuple) || eval(r, tuple)
    case BRaw(_) => true // opaque: might match
    case BNot(c) => if (Bound.hasRaw(c)) true else !eval(c, tuple)
    case p: BPred =>
      fieldPos.get(p.fieldId) match {
        case None => true // unknown field: cannot prune
        case Some(i) =>
          val v = tuple(i)
          p.op match {
            case Op.IsNull => v == null
            case Op.NotNull => v != null
            case Op.IsNan => v match {
              case f: Float => f.isNaN
              case d: Double => d.isNaN
              case _ => false
            }
            case Op.NotNan => v match {
              case f: Float => !f.isNaN
              case d: Double => !d.isNaN
              case _ => true
            }
            case _ if v == null => false
            // a NULL prefix makes the predicate NULL on every row
            case Op.StartsWith | Op.NotStartsWith if p.literals.head.isNull => true
            case Op.StartsWith =>
              v.toString.startsWith(p.literals.head.raw.toString)
            case Op.NotStartsWith =>
              !v.toString.startsWith(p.literals.head.raw.toString)
            case op =>
              val value = Literal(LiteralValue.Value(v), p.termType)
              op match {
                case Op.Eq => p.literals.head.compareTo(value).contains(0)
                case Op.NotEq => !p.literals.head.compareTo(value).contains(0)
                case Op.Lt => value.compareTo(p.literals.head).exists(_ < 0)
                case Op.LtEq => value.compareTo(p.literals.head).exists(_ <= 0)
                case Op.Gt => value.compareTo(p.literals.head).exists(_ > 0)
                case Op.GtEq => value.compareTo(p.literals.head).exists(_ >= 0)
                case Op.In => p.literals.exists(_.compareTo(value).contains(0))
                case Op.NotIn => !p.literals.exists(_.compareTo(value).contains(0))
                case _ => true
              }
          }
      }
  }
}

/** Can a manifest contain rows matching the partition-space expression?
  * Evaluates against PartitionFieldSummary bounds (manifest_list.h:40-73).
  * Implements the spec's ManifestEvaluator semantics. */
final class ManifestEvaluator(spec: PartitionSpec) {
  private val fieldPos: Map[Int, Int] =
    spec.fields.zipWithIndex.map { case (f, i) => f.fieldId -> i }.toMap

  def canContainRows(expr: Bound, manifest: ManifestFile): Boolean =
    if (manifest.partitions.isEmpty) true // no summaries: cannot prune
    else eval(expr, manifest.partitions)

  private def eval(expr: Bound, sums: IndexedSeq[graft.ice.manifest.PartitionFieldSummary]): Boolean =
    expr match {
      case BTrue => true
      case BFalse => false
      case BAnd(l, r) => eval(l, sums) && eval(r, sums)
      case BOr(l, r) => eval(l, sums) || eval(r, sums)
      case BRaw(_) => true // opaque: might match
      case BNot(c) => if (Bound.hasRaw(c)) true else !eval(c, sums)
      case p: BPred =>
        fieldPos.get(p.fieldId).filter(_ < sums.size) match {
          case None => true
          case Some(i) => evalPred(p, sums(i))
        }
    }

  private def evalPred(p: BPred, s: graft.ice.manifest.PartitionFieldSummary): Boolean = {
    lazy val lower = s.lowerBound.map(b => Literal.deserialize(p.termType, b))
    lazy val upper = s.upperBound.map(b => Literal.deserialize(p.termType, b))
    def allNull: Boolean = s.containsNull && s.lowerBound.isEmpty &&
      !s.containsNan.getOrElse(false)
    p.op match {
      case Op.IsNull => s.containsNull
      case Op.NotNull => !allNull
      case Op.IsNan => s.containsNan.getOrElse(true)
      case Op.NotNan => true
      case _ if s.lowerBound.isEmpty => false // no non-null values at all
      case Op.Lt => lower.exists(l => l.compareTo(p.literals.head).exists(_ < 0))
      case Op.LtEq => lower.exists(l => l.compareTo(p.literals.head).exists(_ <= 0))
      case Op.Gt => upper.exists(u => u.compareTo(p.literals.head).exists(_ > 0))
      case Op.GtEq => upper.exists(u => u.compareTo(p.literals.head).exists(_ >= 0))
      case Op.Eq =>
        val v = p.literals.head
        lower.exists(_.compareTo(v).exists(_ <= 0)) && upper.exists(_.compareTo(v).exists(_ >= 0))
      case Op.NotEq => true
      case Op.In => p.literals.exists(v =>
        lower.exists(_.compareTo(v).exists(_ <= 0)) && upper.exists(_.compareTo(v).exists(_ >= 0)))
      case Op.NotIn => true
      case Op.StartsWith if p.literals.head.isNull => true
      case Op.StartsWith =>
        (lower, upper) match {
          case (Some(l), Some(u)) if p.termType == StringT =>
            val prefix = p.literals.head.raw.asInstanceOf[String]
            val lo = l.raw.asInstanceOf[String]
            val hi = u.raw.asInstanceOf[String]
            val loCmp = lo.substring(0, math.min(lo.length, prefix.length))
            val hiCmp = hi.substring(0, math.min(hi.length, prefix.length))
            loCmp <= prefix && prefix <= hiCmp
          case _ => true
        }
      case Op.NotStartsWith => true
    }
  }
}

/** Can a data file contain matching rows, judged from its per-column
  * metrics (value/null/nan counts, bounds — manifest_entry.h:95-124)?
  * Mirrors Iceberg's InclusiveMetricsEvaluator. Only identity-term
  * predicates are checked; transform terms conservatively match. */
final class MetricsEvaluator {
  def canContainRows(expr: Bound, f: DataFile): Boolean = eval(expr, f)

  /** Do the data file's bounds for field `id` intersect the serialized
    * range [lo, hi] (e.g. an equality-delete file's key bounds)? Missing
    * metrics or non-primitive types answer true — cannot prune. */
  def boundsIntersect(f: DataFile, id: Int, lo: Array[Byte], hi: Array[Byte],
      schema: Schema): Boolean =
    schema.findFieldById(id).map(_.fieldType) match {
      case Some(p: IcePrimitive) =>
        val keyLo = Literal.deserialize(p, lo)
        val keyHi = Literal.deserialize(p, hi)
        val fileLo = f.lowerBounds.get(id).map(b => Literal.deserialize(p, b))
        val fileHi = f.upperBounds.get(id).map(b => Literal.deserialize(p, b))
        // disjoint iff fileHi < keyLo or fileLo > keyHi; unknown -> overlap
        val disjoint =
          fileHi.exists(u => u.compareTo(keyLo).exists(_ < 0)) ||
            fileLo.exists(l => l.compareTo(keyHi).exists(_ > 0))
        !disjoint
      case _ => true
    }

  private def eval(expr: Bound, f: DataFile): Boolean = expr match {
    case BTrue => true
    case BFalse => false
    case BAnd(l, r) => eval(l, f) && eval(r, f)
    case BOr(l, r) => eval(l, f) || eval(r, f)
    case BRaw(_) => true // opaque: might match
    case BNot(_) => true // conservative
    case p: BPred =>
      if (p.transform != graft.ice.transform.IdentityTransform) true
      else evalPred(p, f)
  }

  private def evalPred(p: BPred, f: DataFile): Boolean = {
    val id = p.fieldId
    val valueCount = f.valueCounts.get(id)
    val nullCount = f.nullValueCounts.get(id)
    val nanCount = f.nanValueCounts.get(id)
    lazy val lower = f.lowerBounds.get(id).map(b => Literal.deserialize(p.sourceType, b))
    lazy val upper = f.upperBounds.get(id).map(b => Literal.deserialize(p.sourceType, b))
    def allNull: Boolean = (valueCount, nullCount) match {
      case (Some(v), Some(n)) => v == n
      case _ => false
    }
    def allNan: Boolean = (valueCount, nanCount) match {
      case (Some(v), Some(n)) => v == n
      case _ => false
    }
    def boundsUnusable: Boolean = lower.exists(l => l.raw match {
      case d: Double => d.isNaN
      case fl: Float => fl.isNaN
      case _ => false
    })
    p.op match {
      case Op.IsNull => nullCount.forall(_ > 0)
      case Op.NotNull => !allNull
      case Op.IsNan => nanCount.forall(_ > 0)
      case Op.NotNan => !allNan
      case _ if allNull => false
      case Op.Lt =>
        lower.forall(l => boundsUnusable || l.compareTo(p.literals.head).forall(_ < 0))
      case Op.LtEq =>
        lower.forall(l => boundsUnusable || l.compareTo(p.literals.head).forall(_ <= 0))
      case Op.Gt =>
        upper.forall(u => u.compareTo(p.literals.head).forall(_ > 0))
      case Op.GtEq =>
        upper.forall(u => u.compareTo(p.literals.head).forall(_ >= 0))
      case Op.Eq =>
        val v = p.literals.head
        lower.forall(l => boundsUnusable || l.compareTo(v).forall(_ <= 0)) &&
          upper.forall(u => u.compareTo(v).forall(_ >= 0))
      case Op.In =>
        p.literals.exists { v =>
          lower.forall(l => boundsUnusable || l.compareTo(v).forall(_ <= 0)) &&
            upper.forall(u => u.compareTo(v).forall(_ >= 0))
        }
      case Op.NotEq | Op.NotIn | Op.NotStartsWith => true
      case Op.StartsWith if p.literals.head.isNull => true
      case Op.StartsWith =>
        (lower, upper) match {
          case (Some(l), Some(u)) if p.sourceType == StringT =>
            val prefix = p.literals.head.raw.asInstanceOf[String]
            val lo = l.raw.asInstanceOf[String]
            val hi = u.raw.asInstanceOf[String]
            val loCmp = lo.substring(0, math.min(lo.length, prefix.length))
            val hiCmp = hi.substring(0, math.min(hi.length, prefix.length))
            loCmp <= prefix && prefix <= hiCmp
          case _ => true
        }
    }
  }
}

/** STRICT metrics evaluation: "do ALL rows in this data file match?" —
  * the dual of MetricsEvaluator's inclusive "might ANY row match". A
  * `true` is a proof from file metrics; `false` means "not provable",
  * never "no". The reference carries the metrics but evaluates nothing
  * (table_scan.cc:280 TODO); the Iceberg spec's strict evaluation rules
  * are what make METADATA-ONLY operations sound: a whole-file DELETE
  * drop and a manifest-answered COUNT both require "every row matches",
  * not "some row might".
  *
  * Bound-truncation is safe by direction: a stored lower bound is <= the
  * true minimum, so `storedLower >= v` proves `min >= v`; dually for
  * upper. Floating-point columns are strict only when the file proves
  * zero NaNs (nan_value_counts): parquet stats exclude NaN, while SQL
  * comparison semantics order NaN above everything. */
final class StrictMetricsEvaluator {
  private val inclusive = new MetricsEvaluator
  def allRowsMatch(expr: Bound, f: DataFile): Boolean = eval(expr, f)

  private def eval(expr: Bound, f: DataFile): Boolean = expr match {
    case BTrue => true
    case BFalse => false
    case BAnd(l, r) => eval(l, f) && eval(r, f)
    case BOr(l, r) => eval(l, f) || eval(r, f)
    case BRaw(_) => false // opaque: cannot prove
    // NOT c matches a row only when c evaluates FALSE there — a row
    // where c is NULL (null comparison operand) fails BOTH c and NOT c.
    // The inclusive refutation proves no row evaluates c TRUE; proving
    // every referenced column null-free upgrades that to "every row
    // evaluates c FALSE", which is what strict NOT needs.
    case BNot(c) => !inclusive.canContainRows(c, f) && nullFreeOperands(c, f)
    case p: BPred =>
      if (p.transform != graft.ice.transform.IdentityTransform) false
      else evalPred(p, f)
  }

  /** Every comparison inside `b` is over a column this file provably
    * holds no nulls for, against no NULL constant (IS [NOT] NULL
    * predicates are never NULL-valued themselves and are exempt). */
  private def nullFreeOperands(b: Bound, f: DataFile): Boolean = b match {
    case BTrue | BFalse => true
    case BAnd(l, r) => nullFreeOperands(l, f) && nullFreeOperands(r, f)
    case BOr(l, r) => nullFreeOperands(l, f) && nullFreeOperands(r, f)
    case BNot(c) => nullFreeOperands(c, f)
    case BRaw(_) => false
    case p: BPred => p.op match {
      case Op.IsNull | Op.NotNull => true
      case _ => !p.literals.exists(_.isNull) &&
        (p.required || f.nullValueCounts.get(p.fieldId).contains(0L))
    }
  }

  private def evalPred(p: BPred, f: DataFile): Boolean = {
    val id = p.fieldId
    val valueCount = f.valueCounts.get(id)
    val nullCount = f.nullValueCounts.get(id)
    val nanCount = f.nanValueCounts.get(id)
    lazy val lower = f.lowerBounds.get(id).map(b => Literal.deserialize(p.sourceType, b))
    lazy val upper = f.upperBounds.get(id).map(b => Literal.deserialize(p.sourceType, b))
    // a null row fails every comparison; required fields can't hold one
    def noNulls: Boolean = p.required || nullCount.contains(0L)
    def allNull: Boolean = (valueCount, nullCount) match {
      case (Some(v), Some(n)) => v == n
      case _ => false
    }
    // NaN rows break bound reasoning (SQL orders NaN above everything;
    // parquet stats exclude it) — comparisons on float/double need a
    // zero nan count to be provable
    def nanSafe: Boolean = p.sourceType match {
      case FloatT | DoubleT => nanCount.contains(0L)
      case _ => true
    }
    def cmpReady: Boolean = noNulls && nanSafe
    def strictEq(v: Literal): Boolean =
      lower.exists(l => l.compareTo(v).contains(0)) &&
        upper.exists(u => u.compareTo(v).contains(0))
    def strictNotEq(v: Literal): Boolean =
      upper.exists(u => u.compareTo(v).exists(_ < 0)) ||
        lower.exists(l => l.compareTo(v).exists(_ > 0))
    p.op match {
      case Op.IsNull => allNull
      case Op.NotNull => noNulls
      case Op.IsNan => (valueCount, nanCount) match {
        case (Some(v), Some(n)) => v == n
        case _ => false
      }
      case Op.NotNan => noNulls && nanCount.contains(0L)
      case Op.Lt =>
        cmpReady && upper.exists(u => u.compareTo(p.literals.head).exists(_ < 0))
      case Op.LtEq =>
        cmpReady && upper.exists(u => u.compareTo(p.literals.head).exists(_ <= 0))
      case Op.Gt =>
        cmpReady && lower.exists(l => l.compareTo(p.literals.head).exists(_ > 0))
      case Op.GtEq =>
        cmpReady && lower.exists(l => l.compareTo(p.literals.head).exists(_ >= 0))
      case Op.Eq => cmpReady && strictEq(p.literals.head)
      case Op.NotEq => cmpReady && strictNotEq(p.literals.head)
      case Op.In => cmpReady && p.literals.exists(strictEq)
      case Op.NotIn => cmpReady && p.literals.forall(strictNotEq)
      case Op.StartsWith | Op.NotStartsWith if p.literals.head.isNull => false
      case Op.StartsWith =>
        // string truncation stores a PREFIX of the true min, so a stored
        // lower that starts with the target prefix proves the min does;
        // both bounds sharing the prefix bounds every value inside it
        noNulls && p.sourceType == StringT && {
          val prefix = p.literals.head.raw.asInstanceOf[String]
          lower.exists(_.raw.asInstanceOf[String].startsWith(prefix)) &&
            upper.exists(_.raw.asInstanceOf[String].startsWith(prefix))
        }
      case Op.NotStartsWith =>
        // everything below the prefix, or everything above the block of
        // prefix-sharing strings (a non-prefixed lower > prefix outranks
        // every string that starts with it)
        noNulls && p.sourceType == StringT && {
          val prefix = p.literals.head.raw.asInstanceOf[String]
          upper.exists(_.raw.asInstanceOf[String] < prefix) ||
            lower.exists { l =>
              val s = l.raw.asInstanceOf[String]
              !s.startsWith(prefix) && s > prefix
            }
        }
    }
  }
}
