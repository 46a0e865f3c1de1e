package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference engine's scalar types (reference: src/value.rs:84-90).
  * `Bool | Int | Float | Str | List(t)` map onto Spark's
  * `BooleanType | LongType | DoubleType | StringType | ArrayType(t)`.
  * The new engine additionally passes through Spark-native types
  * (timestamps, binary, …) untouched — the reference typed dates as
  * strings (client.py:300-302); we keep honest types.
  */
object GType {
  val Bool: DataType = BooleanType
  val Int: DataType = LongType
  val Float: DataType = DoubleType
  val Str: DataType = StringType
  def List(t: DataType): DataType = ArrayType(t)
}

/** Comparators of the reference predicate language
  * (reference: src/value.rs:214-233): Equal, GreaterThan,
  * GreaterThanOrEq, LessThan, LessThanOrEq. A predicate tests ONE named
  * column against ONE constant (reference: src/value.rs:235-245);
  * conjunctions are chained `.filter` calls, which Catalyst collapses
  * (CombineFilters).
  */
sealed trait Comparator {
  def apply(c: Column, v: Any): Column = this match {
    case Comparator.Equal           => c === lit(v)
    case Comparator.GreaterThan     => c > lit(v)
    case Comparator.GreaterThanOrEq => c >= lit(v)
    case Comparator.LessThan        => c < lit(v)
    case Comparator.LessThanOrEq    => c <= lit(v)
  }
}
object Comparator {
  case object Equal extends Comparator
  case object GreaterThan extends Comparator
  case object GreaterThanOrEq extends Comparator
  case object LessThan extends Comparator
  case object LessThanOrEq extends Comparator
}
final case class Predicate(comparator: Comparator, value: Any) {
  def toColumn(name: String): Column = comparator(col(name), value)
}

/** Aggregators of the reference (reference: src/aggregate.rs:27-35).
  * Output-type rules (src/aggregate.rs:88-102): Sum Int→Int /
  * Float→Float, Average →Float, Count →Int (counts nulls too —
  * src/block.rs:609 counts NaN rows), First/Max/Min null-skipping.
  */
sealed trait Aggregator {
  /** Aggregate a plain (scalar) column. */
  def scalar(c: Column): Column = this match {
    case Aggregator.Sum     => sum(c)
    case Aggregator.Average => avg(c)
    // reference Count counts every row incl. NaN/null (src/block.rs:609)
    case Aggregator.Count   => count(lit(1))
    case Aggregator.First   => first(c)
    case Aggregator.Max     => max(c)
    case Aggregator.Min     => min(c)
  }
  /** Aggregate over an already-grouped list column
    * (reference list-block kernels: src/block.rs:942-1093). Uses array
    * higher-order functions — stays inside codegen, no UDF.
    * Sum keeps the reference's output-type rule (src/aggregate.rs:96-102):
    * Int lists fold in long, Float lists in double.
    */
  def overList(c: Column, elem: DataType): Column = this match {
    case Aggregator.Sum     =>
      val zero = elem match {
        case ByteType | ShortType | IntegerType | LongType => lit(0L)
        case _                                             => lit(0.0)
      }
      aggregate(c, zero, (a, x) => a + x)
    case Aggregator.Average =>
      aggregate(c, lit(0.0), (a, x) => a + x) / size(c).cast("double")
    case Aggregator.Count   => size(c).cast("long")
    case Aggregator.First   => element_at(c, 1)
    case Aggregator.Max     => array_max(c)
    case Aggregator.Min     => array_min(c)
  }
}
object Aggregator {
  case object Sum extends Aggregator
  case object Average extends Aggregator
  case object Count extends Aggregator
  case object First extends Aggregator
  case object Max extends Aggregator
  case object Min extends Aggregator
}

class GraftException(msg: String) extends RuntimeException(msg)

/** A thin, validating facade over Spark's `DataFrame` exposing exactly
  * the reference engine's operator surface
  * (`Operation` enum, reference: src/dataframe.rs:169-178):
  * select / filter / orderBy / groupBy / aggregate / join, plus the
  * actions collect / count / take (src/api.rs:40-44).
  *
  * Design stance (SURVEY.md §7.1): the reference's lazy-lineage +
  * column-pool machinery IS Spark's LogicalPlan + cache manager, so
  * this class holds only (1) the wrapped `DataFrame` and (2) the
  * grouped-keys state that the reference tracks in `grouped_by`
  * (src/dataframe.rs:264). Validation mirrors the reference's eager
  * schema checks (src/dataframe.rs:126-128, 408-424) so a reference
  * user gets the same errors at plan-build time, not at execution.
  *
  * Everything is lazy and fully distributed: no collect() in any
  * operator path, no driver-side state — safe at 100 TB.
  */
final case class GraftFrame(df: DataFrame, groupedBy: Seq[String] = Nil,
                            strictArith: Boolean = false) {
  import org.apache.spark.sql.graft.ColumnBridge
  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BinaryArithmetic, Expression, Literal, SortOrder}
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedStar}

  private def requireCols(names: Seq[String], what: String): Unit = {
    val have = df.columns.toSet
    val missing = names.filterNot(have)
    if (missing.nonEmpty)
      throw new GraftException(s"$what: missing column(s) ${missing.mkString(", ")} in schema [${df.columns.mkString(", ")}]")
  }

  /** Opt into the reference's strict same-type arithmetic
    * (src/block.rs:89-107: Int∘Int or Float∘Float only — mixing is
    * `Error::TypeMismatch`, never silently coerced). Default (non-strict)
    * keeps Spark's standard numeric coercion, SURVEY.md §7.5.
    */
  def strict: GraftFrame = copy(strictArith = true)

  /** Numeric family of an expression against this frame's schema:
    * 'i' integral, 'f' floating, unknown → None (non-numeric or not
    * statically resolvable pre-analysis). Mixed-family arithmetic
    * throws when [[strictArith]] — the reference's block.rs:89-107
    * error surface, raised at plan-build time like all facade checks.
    */
  private def arithFamily(e: Expression): Option[Char] = {
    def famOf(t: DataType): Option[Char] = t match {
      case ByteType | ShortType | IntegerType | LongType => Some('i')
      case FloatType | DoubleType                        => Some('f')
      case _                                             => None
    }
    def mixed(l: Expression, r: Expression, what: String): Option[Char] =
      (arithFamily(l), arithFamily(r)) match {
        case (Some(x), Some(y)) if x != y =>
          throw new GraftException(
            s"arithmetic type mismatch (strict mode, reference src/block.rs:89-107): " +
              s"Int and Float operands in $what")
        case (x, y) => x.orElse(y)
      }
    e match {
      case a: UnresolvedAttribute =>
        df.schema.fields.find(_.name == a.name).map(_.dataType).flatMap(famOf)
      case l: Literal      => famOf(l.dataType)
      case Alias(child, _) => arithFamily(child)
      case b: BinaryArithmetic => mixed(b.left, b.right, b.sql)
      // Column API `+ - * /` arrive as unresolved function calls, not
      // BinaryArithmetic, until analysis runs (columnNodeSupport.scala)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if Set("+", "-", "*", "/").contains(f.nameParts.last) && f.arguments.size == 2 =>
        mixed(f.arguments.head, f.arguments(1), f.nameParts.last)
      case other =>
        other.children.foreach(arithFamily) // visit nested arithmetic
        None
    }
  }

  private def checkStrict(exprs: Seq[Column]): Unit =
    if (strictArith) exprs.foreach(c => arithFamily(ColumnBridge.structuralExpression(c)))

  /** Projection. Every output expression must carry a name — the
    * reference rejects unaliased computed exprs
    * (Error::AliasRequired, src/dataframe.rs:317-318). Bare column
    * references and stars pass through; any computed expression must be
    * explicitly aliased or this throws at plan-build time.
    */
  def select(exprs: Column*): GraftFrame = {
    checkStrict(exprs)
    exprs.foreach { c =>
      ColumnBridge.structuralExpression(c) match {
        case _: Alias | _: Attribute | _: UnresolvedAttribute | _: UnresolvedStar => ()
        case e => throw new GraftException(
          s"select: computed expression requires an explicit alias " +
            s"(reference Error::AliasRequired, src/dataframe.rs:317-318): ${e.sql}")
      }
    }
    GraftFrame(df.select(exprs: _*), Nil, strictArith)
  }

  /** Filter one named column by a predicate
    * (reference: src/dataframe.rs:339-349). Chain for conjunctions.
    */
  def filter(column: String, p: Predicate): GraftFrame = {
    requireCols(Seq(column), "filter")
    copy(df = df.filter(p.toColumn(column)))
  }
  def filter(cond: Column): GraftFrame = {
    checkStrict(Seq(cond))
    copy(df = df.filter(cond))
  }

  /** Multi-column ascending sort, nulls first — matching the
    * reference's NaN-first ordering (src/block.rs:218-230; Spark's
    * asc default is nulls-first, identical once NaN↦null). Empty
    * column list is an error (src/dataframe.rs:352-354).
    */
  def orderBy(columns: String*): GraftFrame = {
    if (columns.isEmpty) throw new GraftException("orderBy: empty column list")
    requireCols(columns, "orderBy")
    copy(df = df.orderBy(columns.map(c => asc_nulls_first(c)): _*))
  }

  /** The reference's two-phase grouping: `group_by` physically nests
    * every non-key column into a `List(T)` column, sorted by the keys
    * (reference: src/dataframe.rs:373-405; kernel src/block.rs:244-257).
    * Spark equivalent: groupBy + collect_list, ordered by keys. The
    * within-group order the reference guarantees via its pre-group sort
    * is reproduced with sort_array where order-insensitive, and is only
    * observable through First — see [[aggregate]].
    */
  def groupBy(keys: String*): GraftFrame = {
    if (keys.isEmpty) throw new GraftException("groupBy: empty key list")
    requireCols(keys, "groupBy")
    val nonKeys = df.columns.filterNot(keys.contains).toSeq
    if (nonKeys.isEmpty) return groupKeysOnly(keys)
    val aggs = nonKeys.map(c => sort_array(collect_list(col(c))).as(c))
    val listed = df
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((keys ++ nonKeys).map(col): _*)
      .orderBy(keys.map(asc_nulls_first): _*)
    copy(df = listed, groupedBy = keys)
  }

  /** Keys-only grouping (distinct keys, sorted) — the reference allows
    * group_by with no non-key columns (tests/lib.rs:179-185).
    */
  private def groupKeysOnly(keys: Seq[String]): GraftFrame =
    copy(df = df.select(keys.map(col): _*).distinct()
      .orderBy(keys.map(asc_nulls_first): _*), groupedBy = keys)

  /** Apply one aggregator per column. Validation mirrors the reference
    * (src/dataframe.rs:407-446): aggregating a group key is an error;
    * every non-key column must have an aggregator. Works on grouped
    * frames (list columns → array HOFs) and ungrouped frames (global
    * aggregate → 1 row).
    */
  def aggregate(aggs: Map[String, Aggregator]): GraftFrame = {
    val keyed = aggs.keys.toSeq
    requireCols(keyed.filterNot(_ == "*"), "aggregate")
    val onKeys = keyed.filter(groupedBy.contains)
    if (onKeys.nonEmpty)
      throw new GraftException(s"aggregate: aggregates on group column(s) ${onKeys.mkString(", ")}")
    val nonKeys = df.columns.filterNot(groupedBy.contains)
    val missing = nonKeys.filterNot(keyed.contains)
    if (missing.nonEmpty)
      throw new GraftException(s"aggregate: missing aggregate(s) for ${missing.mkString(", ")}")
    if (groupedBy.isEmpty) {
      val exprs = nonKeys.toIndexedSeq.map { c => aggs(c).scalar(col(c)).as(c) }
      copy(df = df.agg(exprs.head, exprs.tail: _*), groupedBy = Nil)
    } else {
      // grouped frame: each non-key column is array-typed; collapse per
      // group with array HOFs (stays in whole-stage codegen)
      val exprs = groupedBy.map(col) ++ nonKeys.map { c =>
        val a = aggs(c)
        val elem = df.schema(c).dataType match {
          case ArrayType(t, _) => t
          case t               => t
        }
        (a match {
          case Aggregator.Count => size(col(c)).cast("long")
          case _                => a.overList(col(c), elem)
        }).as(c)
      }
      copy(df = df.select(exprs: _*), groupedBy = Nil)
    }
  }

  /** One-shot groupBy+aggregate — the idiomatic Spark path that fuses
    * the reference's two-phase group_by→aggregate into a single
    * hash-aggregate with map-side partial aggregation (what the
    * reference's sort-based pipeline cannot do). Prefer this at scale.
    */
  def groupAgg(keys: Seq[String], aggs: Map[String, Aggregator]): GraftFrame = {
    requireCols(keys ++ aggs.keys.toSeq, "groupAgg")
    if (aggs.isEmpty) groupKeysOnly(keys)
    else {
      val exprs = aggs.toSeq.map { case (c, a) => a.scalar(col(c)).as(c) }
      copy(df = df.groupBy(keys.map(col): _*)
        .agg(exprs.head, exprs.tail: _*)
        .orderBy(keys.map(asc_nulls_first): _*), groupedBy = Nil)
    }
  }

  /** Single-key equi inner join, both key columns kept, result ordered
    * by the left key (reference: src/dataframe.rs:448-476; duplicate
    * keys on both sides multiply, tests/lib.rs:345-368; NaN/null keys
    * never match — standard SQL null semantics once NaN↦null).
    * Requires distinct column names like the reference
    * (src/dataframe.rs:466-469 would corrupt on collision).
    * Spark picks broadcast vs sort-merge itself; callers can wrap the
    * right side in `broadcast()` upstream for dimension tables.
    */
  def join(right: GraftFrame, leftKey: String, rightKey: String): GraftFrame = {
    requireCols(Seq(leftKey), "join(left)")
    right.requireCols(Seq(rightKey), "join(right)")
    val overlap = df.columns.toSet.intersect(right.df.columns.toSet)
    if (overlap.nonEmpty)
      throw new GraftException(s"join: duplicate column name(s) ${overlap.mkString(", ")}")
    copy(df = df.join(right.df, df(leftKey) === right.df(rightKey), "inner")
      .orderBy(asc_nulls_first(leftKey)), groupedBy = Nil)
  }

  // ---- actions (reference wire actions: src/api.rs:40-44) ----
  def collect(): Array[org.apache.spark.sql.Row] = df.collect()
  def count(): Long = df.count()
  def take(n: Int): GraftFrame = copy(df = df.limit(n))

  /** Pool memoization parity (reference src/pool.rs:57-62: every
    * computed column is keyed by hash and reused across queries in a
    * session). Spark's equivalent is explicit: mark this frame's
    * result for cross-query reuse — the first action materializes it,
    * later queries over the same frame read the cached partitions
    * instead of re-executing the subtree (SURVEY.md §4). MEMORY_AND_DISK
    * by default, like the pool (which holds blocks for the process
    * lifetime); call [[uncache]] when the session moves on.
    */
  def cache(): GraftFrame = { df.persist(); this }
  def uncache(): GraftFrame = { df.unpersist(); this }

  /** Columnar result delivery — the reference's `as_blocks`
    * (src/dataframe.rs:538-551): one column-name → value-array map.
    * Driver-side only (it is a collect); operator paths never call it.
    */
  def asBlocks(): Map[String, Array[Any]] = {
    val rows = df.collect()
    df.columns.zipWithIndex.map { case (c, i) =>
      c -> rows.map(_.get(i))
    }.toMap
  }
}

object GraftFrame {
  /** NaN↦null ingest normalization: the reference's only null notion is
    * Float NaN (src/value.rs:43-81); we represent it as a real SQL null
    * so Spark's null-skipping min/max and nulls-first sort match the
    * reference's kernels exactly (SURVEY.md §7.4).
    */
  def nanToNull(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map {
      case f if f.dataType == DoubleType || f.dataType == FloatType =>
        when(isnan(col(f.name)), lit(null)).otherwise(col(f.name)).as(f.name)
      case f => col(f.name)
    }
    df.select(cols.toSeq: _*)
  }
}
