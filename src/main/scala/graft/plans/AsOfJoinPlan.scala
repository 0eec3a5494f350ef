package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-operator Catalyst path (the §2.6 (c) preference tier) for the
  * as-of join: a logical node, a planner strategy, and a sort-merge
  * physical operator — the plan shape pandas.merge_asof / QuestDB /
  * kdb run natively, here as a first-class Spark operator instead of
  * the union+window encoding (Joins.asofJoin).
  *
  * Why it beats the window form at scale: the window encoding unions
  * BOTH sides into one frame, shuffles and sorts the union, then runs
  * a windowed last(ignoreNulls) whose frame machinery buffers rows.
  * This operator shuffles each side ONCE on its own key, sorts each
  * side by (key, ts) — both requirements Catalyst satisfies with the
  * standard Exchange/Sort operators, so AQE, reuse, and co-partitioned
  * inputs (bucketed tables) all apply — and then streams BOTH sorted
  * iterators through a single-pass O(n+m) merge holding ONE (key,
  * last_ts) pair of state per partition. No union row-widening, no
  * window buffer, no null-sentinel columns.
  *
  * Semantics (identical to Joins.asofJoin, spec-pinned): for each left
  * row, `outAttr` = max right ts with right.key == left.key and
  * right.ts <= left.ts (inclusive), null when none exists. Null left
  * keys match nothing; null right keys/ts are skipped.
  */
final case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTs: Attribute,
    rightTs: Attribute,
    outAttr: AttributeReference,
    forward: Boolean = false
) extends LogicalPlan with BinaryNode {
  override def output: Seq[Attribute] = left.output :+ outAttr
  // the match column is BORN here, not read from a child — without
  // this CheckAnalysis reports it "missing from input"
  override def producedAttributes: AttributeSet = AttributeSet(outAttr :: Nil)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] to [[AsOfJoinExec]]. Register per-session via
  * `spark.experimental.extraStrategies` (Joins.asofJoinNative does this
  * idempotently) or globally through GraftExtensions.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lts, rts, out, fwd) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, out, fwd) :: Nil
    case _ => Nil
  }
}

/** Custom optimizer rule (the §2.6 Rule[LogicalPlan] surface): pushes
  * a limit through [[AsOfJoin]] onto its LEFT child. Sound because
  * the operator maps left rows 1:1 (every left row produces exactly
  * one output row, matched or not), so any N left rows are a valid
  * N-row result — the same reasoning Spark's own LimitPushDown uses
  * for the streamed side of left-outer joins. Cuts the left-side
  * exchange/sort to the limit's row count for exploratory
  * `asofJoinNative(...).limit(n)` queries; the right side still
  * builds (a prefix of left rows can match ANY right row).
  * Registered via injectOptimizerRule (GraftExtensions) and
  * idempotently through experimental.extraOptimizations
  * (Joins.asofJoinNative).
  */
object AsOfJoinLimitPushdown
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.LocalLimit
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case lim @ LocalLimit(_, a @ AsOfJoin(left, _, _, _, _, _, _, _))
        if !left.isInstanceOf[LocalLimit] =>
      lim.copy(child = a.copy(left = LocalLimit(lim.limitExpr, left)))
  }
}

/** Sort-merge as-of join. Children are hash-distributed on their keys
  * and sorted by (key, ts) — declared as requirements, so Catalyst
  * inserts (or elides, for pre-partitioned input) the exchanges/sorts.
  * Per partition: one forward pass over both iterators; state is the
  * current left key and the latest matching right ts. Output rows
  * reuse a single projection buffer (the standard non-buffering
  * iterator contract).
  */
final case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTs: Attribute,
    rightTs: Attribute,
    outAttr: AttributeReference,
    forward: Boolean = false
) extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = left.output :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr :: Nil)
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending))
  )

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  /** Long-backed reader for the ordered column. The merge compares
    * raw longs, so only types whose internal form is a single integral
    * word are legal — a silent getLong on, say, DateType (int-backed)
    * or StringType (offset-and-size word) would produce garbage
    * matches with no error, which is why anything else is REJECTED
    * here rather than mis-read.
    */
  private def tsGetter(dt: org.apache.spark.sql.types.DataType, idx: Int): InternalRow => Long =
    dt match {
      case org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType |
          org.apache.spark.sql.types.LongType => r => r.getLong(idx)
      case org.apache.spark.sql.types.DateType |
          org.apache.spark.sql.types.IntegerType => r => r.getInt(idx).toLong
      case other => throw new IllegalArgumentException(
        s"as-of ordering column must be timestamp/date/integral, got $other")
    }

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lKeyIdx = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lTsIdx = left.output.indexWhere(_.exprId == leftTs.exprId)
    val rKeyIdx = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTsIdx = right.output.indexWhere(_.exprId == rightTs.exprId)
    require(lKeyIdx >= 0 && lTsIdx >= 0 && rKeyIdx >= 0 && rTsIdx >= 0,
      "as-of join columns must resolve against their own side")
    // cross-side agreement (also plan-time-checked in asofJoinNative;
    // repeated here because the node is constructible directly): each
    // side's tsGetter would individually accept timestamp-vs-date and
    // the merge would compare micros against days with no error
    require(leftTs.dataType == rightTs.dataType,
      s"as-of ordering columns must have the SAME type on both sides, " +
        s"got ${leftTs.dataType} vs ${rightTs.dataType}")
    require(leftKey.dataType == rightKey.dataType,
      s"as-of key columns must have the SAME type on both sides, " +
        s"got ${leftKey.dataType} vs ${rightKey.dataType}")
    val keyType = leftKey.dataType
    // buffer-backed compound keys (struct/array/map) would be VIEWS
    // into reused sorter rows — stable() only protects UTF8String, so
    // compound keys are rejected rather than silently corrupted
    require(!keyType.isInstanceOf[org.apache.spark.sql.types.StructType] &&
      !keyType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
      !keyType.isInstanceOf[org.apache.spark.sql.types.MapType],
      s"as-of join key must be an atomic type, got $keyType")
    val lTsGet = tsGetter(leftTs.dataType, lTsIdx)
    val rTsGet = tsGetter(rightTs.dataType, rTsIdx)
    val outIsIntBacked = outAttr.dataType match {
      case org.apache.spark.sql.types.DateType |
          org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    val outTypes = output.map(_.dataType).toArray

    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      new Iterator[InternalRow] {
        // key comparison runs once or twice per input row — the hot
        // loop. The interpreted ordering pattern-matches the type and
        // null-checks on EVERY call; the common key types get a
        // direct monomorphic comparator instead (both operands are
        // known non-null here: null keys are filtered before compare).
        // Strings only when the collation's ordering IS binary —
        // otherwise the collation-aware interpreted path is required.
        private val keyCmp: (Any, Any) => Int = keyType match {
          case org.apache.spark.sql.types.LongType => (a, b) =>
            java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
          case org.apache.spark.sql.types.IntegerType => (a, b) =>
            java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
          case st: org.apache.spark.sql.types.StringType
              if st == org.apache.spark.sql.types.StringType => (a, b) =>
            // default UTF8_BINARY collation only: its ordering IS the
            // binary compareTo; any other collation needs the
            // collation-aware interpreted path below
            a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
          case other =>
            val ord = TypeUtils.getInterpretedOrdering(other)
            (a, b) => ord.compare(a, b)
        }
        private val joined = new JoinedRow
        private val extra = new GenericInternalRow(1)
        private val proj = UnsafeProjection.create(outTypes)

        // child iterators reuse their row buffers: values held across
        // next() calls must be copied (only UTF8String is mutable
        // among the supported key types; primitives box immutably)
        private def stable(v: Any): Any = v match {
          case s: UTF8String => s.clone()
          case o => o
        }

        // current right head, pre-extracted
        private var rKey: Any = null
        private var rTs: Long = 0L
        private var rValid = false
        private def advanceRight(): Unit = {
          rValid = false
          while (!rValid && ri.hasNext) {
            val r = ri.next()
            if (!r.isNullAt(rKeyIdx) && !r.isNullAt(rTsIdx)) {
              rKey = stable(r.get(rKeyIdx, keyType))
              rTs = rTsGet(r)
              rValid = true
            }
          }
        }
        advanceRight()

        // latest right ts <= left ts for the left key in progress
        private var curKey: Any = null
        private var curValid = false
        private var lastTs = 0L
        private var hasLast = false

        override def hasNext: Boolean = li.hasNext

        override def next(): InternalRow = {
          val l = li.next()
          var matched = false
          var matchTs = 0L
          if (!l.isNullAt(lKeyIdx) && !l.isNullAt(lTsIdx)) {
            val lk = l.get(lKeyIdx, keyType)
            val lt = lTsGet(l)
            if (forward) {
              // earliest right ts AT-OR-AFTER lt: rights below lt can
              // never serve this or any LATER left of the same key
              // (left ts is nondecreasing within a key) — discard;
              // the match is the right head itself, NOT consumed (it
              // may serve subsequent lefts too)
              var done = false
              while (!done && rValid) {
                val c = keyCmp(rKey, lk)
                if (c < 0 || (c == 0 && rTs < lt)) advanceRight()
                else done = true
              }
              if (rValid && keyCmp(rKey, lk) == 0) {
                matched = true; matchTs = rTs
              }
            } else {
              if (!curValid || keyCmp(lk, curKey) != 0) {
                curKey = stable(lk); curValid = true; hasLast = false
              }
              var done = false
              while (!done && rValid) {
                val c = keyCmp(rKey, lk)
                if (c < 0) advanceRight()
                else if (c == 0 && rTs <= lt) {
                  hasLast = true; lastTs = rTs; advanceRight()
                } else done = true
              }
              matched = hasLast
              matchTs = lastTs
            }
          }
          extra.update(0,
            if (!matched) null
            else if (outIsIntBacked) matchTs.toInt // date/int round-trips as int
            else matchTs)
          numOutputRows += 1
          proj(joined(l, extra))
        }
      }
    }
  }

  // ---------------------------------------------------------------
  // Whole-stage codegen (round 10): the SortMergeJoinExec pattern —
  // both children arrive as INPUT ITERATORS (inputRDDs, zipped by
  // WholeStageCodegenExec), the merge loop is generated inline, and
  // consume() hands (left columns :+ match column) straight to the
  // parent's generated code. What this buys vs the iterator path is
  // the DOWNSTREAM boundary: projections/filters/aggregates above
  // the join fuse into one generated loop instead of pulling through
  // a virtual next() that materializes an UnsafeRow per row — the
  // measured ~1.4x composed-plan edge on fine-grained keys
  // (docs/SCALING.md round 9) was exactly this fusion. What it can't
  // buy (and doesn't try): Spark's CollapseCodegenStages hard-codes
  // SMJ/SHJ for the "children codegen separately behind
  // InputAdapter" treatment, so our SORT children run their normal
  // (non-wrapped) execute path — identical UnsafeExternalRowSorter
  // work, minus only the thin generated consume shim; under AQE the
  // exchange below the sort is a stage boundary regardless.
  // ---------------------------------------------------------------

  /** Codegen covers the monomorphic hot-path types (the same set the
    * interpreted comparator fast-paths): long/int keys, binary-
    * collation strings, integral-word ordering columns. Anything else
    * falls back to doExecute — never a wrong result, just the
    * iterator path.
    */
  override def supportCodegen: Boolean = {
    val keyOk = leftKey.dataType match {
      case LongType | IntegerType => true
      case st: StringType => st == StringType // UTF8_BINARY only
      case _ => false
    }
    val tsOk = leftTs.dataType match {
      case TimestampType | TimestampNTZType | LongType | DateType | IntegerType => true
      case _ => false
    }
    keyOk && tsOk && leftTs.dataType == rightTs.dataType &&
      leftKey.dataType == rightKey.dataType
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // rows reference the children's reused sorter buffers; buffering
  // parents must copy (the SMJ contract)
  override def needCopyResult: Boolean = true

  private def keyJavaType: String = CodeGenerator.javaType(leftKey.dataType)

  private def genKeyCmp(a: String, b: String): String = leftKey.dataType match {
    case LongType => s"java.lang.Long.compare($a, $b)"
    case IntegerType => s"java.lang.Integer.compare($a, $b)"
    case _: StringType => s"$a.compareTo($b)"
    case other => throw new IllegalStateException(s"no codegen comparator for $other")
  }

  /** Copy-on-hold for values that outlive one child next() call —
    * only UTF8String is buffer-backed among supported key types.
    */
  private def genStable(v: String): String = leftKey.dataType match {
    case _: StringType => s"$v.clone()"
    case _ => v
  }

  private def genGetKey(row: String, idx: Int): String =
    CodeGenerator.getValue(row, leftKey.dataType, idx.toString)

  private def genGetTs(row: String, dt: org.apache.spark.sql.types.DataType, idx: Int): String =
    dt match {
      case TimestampType | TimestampNTZType | LongType => s"$row.getLong($idx)"
      case DateType | IntegerType => s"(long) $row.getInt($idx)"
      case other => throw new IllegalStateException(s"no codegen ts getter for $other")
    }

  override protected def doProduce(ctx: CodegenContext): String = {
    val lKeyIdx = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lTsIdx = left.output.indexWhere(_.exprId == leftTs.exprId)
    val rKeyIdx = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTsIdx = right.output.indexWhere(_.exprId == rightTs.exprId)
    require(lKeyIdx >= 0 && lTsIdx >= 0 && rKeyIdx >= 0 && rTsIdx >= 0,
      "as-of join columns must resolve against their own side")

    val leftInput = ctx.addMutableState("scala.collection.Iterator", "asofLeftInput",
      v => s"$v = inputs[0];")
    val rightInput = ctx.addMutableState("scala.collection.Iterator", "asofRightInput",
      v => s"$v = inputs[1];")
    val rKey = ctx.addMutableState(keyJavaType, "asofRKey")
    val rTs = ctx.addMutableState("long", "asofRTs")
    val rValid = ctx.addMutableState("boolean", "asofRValid")
    val rInit = ctx.addMutableState("boolean", "asofRInit")
    val curKey = ctx.addMutableState(keyJavaType, "asofCurKey")
    val curValid = ctx.addMutableState("boolean", "asofCurValid")
    val lastTs = ctx.addMutableState("long", "asofLastTs")
    val hasLast = ctx.addMutableState("boolean", "asofHasLast")

    val advanceRight = ctx.addNewFunction("asofAdvanceRight",
      s"""
         |private void asofAdvanceRight() {
         |  $rValid = false;
         |  while (!$rValid && $rightInput.hasNext()) {
         |    InternalRow r = (InternalRow) $rightInput.next();
         |    if (!r.isNullAt($rKeyIdx) && !r.isNullAt($rTsIdx)) {
         |      $rKey = ${genStable(genGetKey("r", rKeyIdx))};
         |      $rTs = ${genGetTs("r", rightTs.dataType, rTsIdx)};
         |      $rValid = true;
         |    }
         |  }
         |}
       """.stripMargin)

    val leftRow = ctx.freshName("asofLeftRow")
    val matched = ctx.freshName("asofMatched")
    val matchTs = ctx.freshName("asofMatchTs")
    val lk = ctx.freshName("asofLk")
    val lt = ctx.freshName("asofLt")
    val done = ctx.freshName("asofDone")
    val c = ctx.freshName("asofC")

    val mergeBody = if (forward) {
      s"""
         |boolean $done = false;
         |while (!$done && $rValid) {
         |  int $c = ${genKeyCmp(rKey, lk)};
         |  if ($c < 0 || ($c == 0 && $rTs < $lt)) { $advanceRight(); } else { $done = true; }
         |}
         |if ($rValid && ${genKeyCmp(rKey, lk)} == 0) {
         |  $matched = true; $matchTs = $rTs;
         |}
       """.stripMargin
    } else {
      s"""
         |if (!$curValid || ${genKeyCmp(lk, curKey)} != 0) {
         |  $curKey = ${genStable(lk)}; $curValid = true; $hasLast = false;
         |}
         |boolean $done = false;
         |while (!$done && $rValid) {
         |  int $c = ${genKeyCmp(rKey, lk)};
         |  if ($c < 0) { $advanceRight(); }
         |  else if ($c == 0 && $rTs <= $lt) {
         |    $hasLast = true; $lastTs = $rTs; $advanceRight();
         |  } else { $done = true; }
         |}
         |$matched = $hasLast;
         |$matchTs = $lastTs;
       """.stripMargin
    }

    // left columns read straight off the input row at consume time
    ctx.INPUT_ROW = leftRow
    ctx.currentVars = null
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    val outIsNull = ctx.freshName("asofOutIsNull")
    val outValue = ctx.freshName("asofOutValue")
    val outJava = CodeGenerator.javaType(outAttr.dataType)
    val outCast = outAttr.dataType match {
      case DateType | IntegerType => s"(int) $matchTs"
      case _ => matchTs
    }
    val outVar = ExprCode(
      JavaCode.isNullVariable(outIsNull),
      JavaCode.variable(outValue, outAttr.dataType))
    val numOutput = metricTerm(ctx, "numOutputRows")

    s"""
       |if (!$rInit) { $rInit = true; $advanceRight(); }
       |while ($leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  boolean $matched = false;
       |  long $matchTs = 0L;
       |  if (!$leftRow.isNullAt($lKeyIdx) && !$leftRow.isNullAt($lTsIdx)) {
       |    $keyJavaType $lk = ${genGetKey(leftRow, lKeyIdx)};
       |    long $lt = ${genGetTs(leftRow, leftTs.dataType, lTsIdx)};
       |    $mergeBody
       |  }
       |  boolean $outIsNull = !$matched;
       |  $outJava $outValue = $outCast;
       |  $numOutput.add(1);
       |  ${consume(ctx, leftVars :+ outVar)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }
}
