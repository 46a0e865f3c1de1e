package graft.tools
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Automated SCALE-SHAPE audit over every registered query's physical
  * plan — the anti-pattern sweep the round verdicts run by hand,
  * mechanized: a query whose plan contains an unexplained
  * nested-loop join would quietly stop scaling long before it stops
  * passing its oracle.
  *
  * Rules (structural, not name-based):
  *  - CartesianProduct — never acceptable (a broadcast frame plans as
  *    BroadcastNestedLoopJoin, not Cartesian).
  *  - BroadcastNestedLoopJoin — acceptable iff the BROADCAST side is
  *    provably bounded under the RECURSIVE `bounded()` judgment: the
  *    subtree ROOT is a bounding node (global no-grouping aggregate —
  *    the crossJoin(broadcast(agg)) fence/total pattern — GlobalLimit
  *    ≤ 20k, LocalTableScan, or a pmod-subset filter with divisor
  *    ≥ 32), or a join/pass-through of bounded subtrees. A bounding
  *    node BELOW a join no longer vouches for the join (round-11
  *    soundness fix). Everything else is flagged.
  *  - The ANN exact-certification terms (vec_id % 50 = 0 query
  *    subsets) are recognized structurally by the ≥ 32 pmod floor; the
  *    count-derived small-modulus measurement subsets carry
  *    never-binding GlobalLimits (q245 trick); domain-bounded
  *    dimension frames are LocalRelations via DomainFrame.materialize
  *    — the allowlist is EMPTY since round 13 (zero trust).
  *  - Row-multiplying nodes (Generate/Expand) are NOT pass-throughs
  *    in `bounded()` (round 12): a bound below an explode does not
  *    bound the explode — unless the fan-out is itself a compile-time
  *    constant (literal array / literal-bounded sequence, Expand's
  *    projection count).
  *
  * Exits nonzero on any unallowlisted hit — wired into gate.sh.
  */
object PlanLint {
  // EMPTY since round 13 — every claim the gate makes is structural,
  // zero trust. The history of its retirement: the ANN
  // recall-certification entries (q34/q35/q36/q52/q119/q163/q179/
  // q191/q195) became the pmodSubset rule; the count-derived-sample
  // entries (q290/q314/q297) got never-binding GlobalLimits above
  // their pmod filters (the q245 trick, round 12); and the last 7
  // domain-bounded dimension frames (q92/q125/q204/q289/q293/q301/
  // q311) were materialized to LocalRelations via
  // `DomainFrame.materialize` (round 13) — a LocalTableScan is
  // provably bounded, and the capped collect doubles as the loud
  // domain-drift guard (q204 keeps its require + a never-binding
  // limit instead, its class count being needed anyway). The map
  // stays as the mechanism: a future genuinely-unprovable build side
  // must be added here CONSCIOUSLY, with its rationale.
  private val allow: Map[String, String] = Map.empty

  private def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case other => other.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    p +: unwrap(p).flatMap(nodes)

  /** The subtree can only ever produce a bounded (model-sized) number
    * of rows. RECURSIVE since round 11 (the r10 verdict's soundness
    * fix: the old `nodes(p).exists` let a bounding node ANYWHERE in
    * the subtree vouch for the whole build side — a GlobalLimit below
    * a join bounds one join INPUT, not the join, and that loophole is
    * exactly how a corpus-fraction frame could ride a limited vocab
    * dimension through the gate). Now a node is bounded iff:
    *  - it is itself a bounding node: global (no-grouping) aggregate
    *    (≤1 row), GlobalLimit/TakeOrdered ≤ 20k, literal LocalTableScan,
    *    or a pmod-subset filter with divisor ≥ 32 (the ANN recall
    *    gates' `vec_id % 50 = 0` query-subset design — a ≤ 1/32
    *    deterministic sample; smaller divisors are a constant corpus
    *    FRACTION, i.e. a scale path, and must be consciously
    *    allowlisted — the r10 q297/q290/q314 lesson); or
    *  - it is a join of two bounded subtrees (model × model); or
    *  - every child is bounded (project/filter/sort/exchange/union
    *    pass-through). A leaf scan is never bounded. */
  private def bounded(p: SparkPlan): Boolean = p match {
    case h: HashAggregateExec if h.groupingExpressions.isEmpty => true
    case h: ObjectHashAggregateExec if h.groupingExpressions.isEmpty => true
    case h: SortAggregateExec if h.groupingExpressions.isEmpty => true
    case g: GlobalLimitExec if g.limit <= 20000 => true
    case t: TakeOrderedAndProjectExec if t.limit <= 20000 => true
    case _: LocalTableScanExec => true
    case f: FilterExec if pmodSubset(f.condition) => true
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      bounded(j.left) && bounded(j.right)
    // row-MULTIPLYING nodes are NOT pass-throughs (ADVICE r11): a
    // GlobalLimit(20k) under a posexplode of large arrays can produce
    // millions of rows. A Generate counts as bounded ONLY when its
    // fan-out is a compile-time constant (explode of a literal array /
    // literal-bounded sequence — e.g. q288's 16-tile predicate frame)
    // AND its child is bounded; data-dependent generators are
    // unbounded unless something ABOVE re-bounds them. An Expand's
    // multiplier is its projection count — a static plan property.
    case g: GenerateExec =>
      generateFanout(g).exists(_ <= 64L) && bounded(g.child)
    case e: ExpandExec =>
      e.projections.size <= 64 && bounded(e.child)
    case other =>
      val kids = unwrap(other)
      kids.nonEmpty && kids.forall(bounded)
  }

  /** Statically-known Generate fan-out: explode/posexplode of a
    * LITERAL array (what constant folding leaves of
    * `explode(sequence(lit, lit))`) or of a literal-bounded Sequence.
    * Data-dependent generators (exploding a data column) return None
    * — their fan-out is unknowable at plan time. */
  private def generateFanout(g: GenerateExec): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.ArrayType
    val arrExpr = g.generator match {
      case e: Explode => Some(e.child)
      case e: PosExplode => Some(e.child)
      case _ => None
    }
    arrExpr.flatMap {
      case Literal(a: ArrayData, _: ArrayType) => Some(a.numElements().toLong)
      case s: Sequence => (s.start, s.stop) match {
        // integer step magnitude is ≥ 1, so |hi−lo|+1 bounds the count
        case (Literal(lo: Long, _), Literal(hi: Long, _)) =>
          Some(math.abs(hi - lo) + 1L)
        case (Literal(lo: Int, _), Literal(hi: Int, _)) =>
          Some(math.abs(hi.toLong - lo.toLong) + 1L)
        case _ => None
      }
      case _ => None
    }
  }

  /** True iff the predicate tree contains `pmod(x, k) = literal` (or
    * null-safe) with literal divisor k ≥ 32 — a deterministic ≤ 1/32
    * sample of the input. The floor (round 11) is what makes the rule
    * sound: `pmod(x, 2) = 0` is HALF the corpus, not a sample. */
  private def pmodSubset(cond: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def smallSample(e: Expression): Boolean = e match {
      case p: Pmod => p.right match {
        case Literal(k: Int, _) => k >= 32
        case Literal(k: Long, _) => k >= 32L
        case _ => false
      }
      case _ => false
    }
    cond.exists {
      case EqualTo(l, _: Literal) if smallSample(l) => true
      case EqualTo(_: Literal, r) if smallSample(r) => true
      case EqualNullSafe(l, _: Literal) if smallSample(l) => true
      case EqualNullSafe(_: Literal, r) if smallSample(r) => true
      case _ => false
    }
  }

  /** Queries allowed to skip the batch-plan audit (covered by their
    * own streaming specs instead). Today EMPTY: every registered query
    * — including the batch-driven streaming harnesses, whose returned
    * frame is the batch read of the sink — produces a batch plan. A
    * name must be added here CONSCIOUSLY; an unlisted plan-time crash
    * fails the gate instead of silently shrinking coverage. */
  private val streamingSkips: Set[String] = Set.empty

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val filter = args.drop(1).headOption.map(_.split(",").toSet)
    // a fixed 4 cores on every host, so the plans stay comparable
    val spark = graft.SparkEntry.localSession(4, "ERROR")
    var bad = 0
    var checked = 0
    var allowed = 0
    var skipped = Vector.empty[(String, String)]
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => filter.forall(_.contains(n)))
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val all = nodes(df.queryExecution.executedPlan)
        checked += 1
        val offenders = all.flatMap {
          case c: CartesianProductExec => Some("CartesianProduct" -> c)
          case j: BroadcastNestedLoopJoinExec =>
            // the broadcast (build) side must be bounded
            val build = j.buildSide match {
              case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
              case _ => j.right
            }
            if (bounded(build)) None
            else Some("BroadcastNestedLoopJoin[unbounded build side]" -> j)
          case _ => None
        }
        // one log line per (query, kind) — instance counts keep the
        // gate record diffable as the allowlist shrinks (round 12)
        for ((kind, insts) <- offenders.groupBy(_._1).toSeq.sortBy(_._1)) {
          // the allowlist only ever excuses a bounded-side judgment
          // call (BroadcastNestedLoopJoin); a CartesianProduct is never
          // acceptable, allowlisted query or not — a regression from
          // BNLJ to a true Cartesian must fail the gate
          if (kind != "CartesianProduct" && allow.contains(name)) {
            allowed += insts.size
            println(s"[planlint] allow $name: $kind ×${insts.size} — " +
              allow(name))
          }
          else {
            bad += insts.size
            println(s"[planlint] FLAG $name: $kind ×${insts.size}\n    " +
              insts.map(_._2.simpleStringWithNodeId()).mkString("\n    "))
          }
        }
      } catch {
        // streaming queries can't produce a batch executedPlan without
        // running; they are covered by their own streaming specs. Any
        // OTHER plan-time crash must not silently shrink lint coverage
        // — skips are tracked and non-streaming ones fail the gate.
        case e: Throwable =>
          skipped = skipped :+ (name -> e.getClass.getSimpleName)
      }
    }
    val badSkips = skipped.filterNot { case (n, _) => streamingSkips(n) }
    if (skipped.nonEmpty)
      println(s"[planlint] skipped ${skipped.size} (no batch plan): " +
        skipped.map { case (n, e) => s"$n[$e]" }.mkString(", "))
    for ((n, e) <- badSkips)
      println(s"[planlint] FLAG $n: plan-time crash ($e) outside the " +
        "known streaming-skip set — lint coverage shrank")
    println(s"[planlint] checked $checked of ${names.size} query plans; " +
      s"$bad unallowlisted hits, $allowed allowlisted (domain-bounded dims), " +
      s"${skipped.size} streaming-skipped")
    spark.stop()
    if (bad > 0 || badSkips.nonEmpty) sys.exit(1)
  }
}
