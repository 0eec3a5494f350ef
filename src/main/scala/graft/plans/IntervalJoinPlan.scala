package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BoundReference, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** The second whole-operator Catalyst path (after [[AsOfJoin]]): a
  * native keyed INTERVAL join — for each left row carrying an
  * interval (lo, hi], every right row of the same key whose ts falls
  * inside it. q24's shape, and the join every sessionized/temporal
  * workload hits: "events within 1h after each signup".
  *
  * Why Spark's own planning is the wrong shape at scale: with the
  * equi-key present Spark plans a sort-merge join whose range
  * predicates are POST-JOIN filters — inside one hot key the matcher
  * buffers every right row of the key and tests all O(n_k * m_k)
  * pairs; without an equi-key it degenerates to
  * BroadcastNestedLoopJoin past broadcast capacity. This operator
  * exploits what the predicate structure guarantees: with the left
  * sorted by (key, lo) and the right by (key, ts), each left row's
  * matches are one CONTIGUOUS ts-run, found by a sliding buffer —
  * O(n + m + output) per key, memory bounded by the occupancy of the
  * widest single interval (a degenerate unbounded interval degrades
  * to exactly SMJ's per-key buffering, never worse).
  *
  * Distribution/ordering are declared as requirements, so Catalyst's
  * standard Exchange/Sort machinery (and AQE, and exchange elision on
  * pre-partitioned/bucketed input) applies — the P1 contract.
  *
  * Semantics (q24-default bounds): emit (left ++ right) for each pair
  * with left.key == right.key and right.ts in (lo, hi] — strict lower
  * and inclusive upper by default, both flags independently
  * configurable. `leftOuter` keeps matchless left rows null-padded.
  * Null left keys/bounds match nothing; null right keys/ts are
  * skipped. An empty interval (lo > hi) matches nothing.
  */
final case class IntervalJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    lo: Attribute,
    hi: Attribute,
    rightTs: Attribute,
    leftOuter: Boolean,
    lowerInclusive: Boolean,
    upperInclusive: Boolean
) extends LogicalPlan with BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter) right.output.map(_.withNullability(true))
                    else right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[IntervalJoin]] to [[IntervalJoinExec]]. Registered
  * per-session by Joins.intervalJoinNative (idempotent) or globally via
  * GraftExtensions.
  */
object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoin(l, r, lk, rk, lo, hi, rts, outer, linc, uinc) =>
      IntervalJoinExec(planLater(l), planLater(r), lk, rk, lo, hi, rts,
        outer, linc, uinc) :: Nil
    case _ => Nil
  }
}

/** Sort-merge interval join with a sliding right-row buffer.
  *
  * Per partition (children hash-distributed on key, left sorted by
  * (key, lo), right by (key, ts)):
  *  - EVICT buffer head rows failing the lower bound against the
  *    current left's lo — left lo is nondecreasing within a key, so
  *    an evicted right can never match a later left;
  *  - PULL rights of the key while their ts passes the current upper
  *    bound (rights already failing the lower bound are dropped on
  *    pull — later lefts have lo at least as large);
  *  - EMIT the buffer prefix whose ts passes the upper bound — the
  *    buffer is ts-sorted, so the scan stops at the first miss, and
  *    leftover rows (pulled for an earlier, WIDER interval — hi is
  *    not monotonic when widths vary) stay for later lefts.
  * Buffered rows are copies (child iterators reuse their buffers);
  * output rows reuse one projection buffer (standard non-buffering
  * iterator contract).
  */
final case class IntervalJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    lo: Attribute,
    hi: Attribute,
    rightTs: Attribute,
    leftOuter: Boolean,
    lowerInclusive: Boolean,
    upperInclusive: Boolean
) extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter) right.output.map(_.withNullability(true))
                    else right.output)
  override def outputPartitioning: Partitioning = left.outputPartitioning
  // emitted rows are grouped per left row in left order, so left's
  // ordering survives on the left columns
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(lo, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending))
  )

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)

  /** Long-backed reader for an ordered column — same loud-rejection
    * contract as AsOfJoinExec.tsGetter: only single-integral-word
    * internal forms are legal, anything else raises rather than being
    * silently mis-read.
    */
  private def tsGetter(dt: org.apache.spark.sql.types.DataType, idx: Int): InternalRow => Long =
    dt match {
      case org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType |
          org.apache.spark.sql.types.LongType => r => r.getLong(idx)
      case org.apache.spark.sql.types.DateType |
          org.apache.spark.sql.types.IntegerType => r => r.getInt(idx).toLong
      case other => throw new IllegalArgumentException(
        s"interval-join ordering column must be timestamp/date/integral, got $other")
    }

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lKeyIdx = left.output.indexWhere(_.exprId == leftKey.exprId)
    val loIdx = left.output.indexWhere(_.exprId == lo.exprId)
    val hiIdx = left.output.indexWhere(_.exprId == hi.exprId)
    val rKeyIdx = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTsIdx = right.output.indexWhere(_.exprId == rightTs.exprId)
    require(lKeyIdx >= 0 && loIdx >= 0 && hiIdx >= 0 && rKeyIdx >= 0 && rTsIdx >= 0,
      "interval-join columns must resolve against their own side")
    // cross-side/cross-column agreement at one place: all three
    // ordered columns compare against each other, so all three must
    // share one type; keys must match across sides (the AsOfJoin
    // lesson: per-side checks alone let micros-vs-days slip through)
    require(lo.dataType == hi.dataType && lo.dataType == rightTs.dataType,
      s"interval-join ordered columns must share ONE type, got lo: ${lo.dataType}, " +
        s"hi: ${hi.dataType}, right ts: ${rightTs.dataType}")
    require(leftKey.dataType == rightKey.dataType,
      s"interval-join key columns must have the SAME type on both sides, " +
        s"got ${leftKey.dataType} vs ${rightKey.dataType}")
    val keyType = leftKey.dataType
    require(!keyType.isInstanceOf[org.apache.spark.sql.types.StructType] &&
      !keyType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
      !keyType.isInstanceOf[org.apache.spark.sql.types.MapType],
      s"interval-join key must be an atomic type, got $keyType")
    val loGet = tsGetter(lo.dataType, loIdx)
    val hiGet = tsGetter(hi.dataType, hiIdx)
    val rTsGet = tsGetter(rightTs.dataType, rTsIdx)
    val outTypes = output.map(_.dataType).toArray
    val rightWidth = right.output.size
    val outer = leftOuter
    val lInc = lowerInclusive
    val uInc = upperInclusive

    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      new Iterator[InternalRow] {
        // same hot-loop comparator specialization as AsOfJoinExec
        private val keyCmp: (Any, Any) => Int = keyType match {
          case org.apache.spark.sql.types.LongType => (a, b) =>
            java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
          case org.apache.spark.sql.types.IntegerType => (a, b) =>
            java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
          case st: org.apache.spark.sql.types.StringType
              if st == org.apache.spark.sql.types.StringType => (a, b) =>
            a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
          case other =>
            val ord = TypeUtils.getInterpretedOrdering(other)
            (a, b) => ord.compare(a, b)
        }
        private def passLower(ts: Long, loV: Long): Boolean =
          if (lInc) ts >= loV else ts > loV
        private def passUpper(ts: Long, hiV: Long): Boolean =
          if (uInc) ts <= hiV else ts < hiV

        private def stable(v: Any): Any = v match {
          case s: UTF8String => s.clone()
          case o => o
        }

        private val joined = new JoinedRow
        private val proj = UnsafeProjection.create(outTypes)
        private val nullRight = new GenericInternalRow(rightWidth)

        // right head, pre-extracted
        private var rKey: Any = null
        private var rTs: Long = 0L
        private var rRow: InternalRow = null
        private var rValid = false
        private def advanceRight(): Unit = {
          rValid = false
          while (!rValid && ri.hasNext) {
            val r = ri.next()
            if (!r.isNullAt(rKeyIdx) && !r.isNullAt(rTsIdx)) {
              rKey = stable(r.get(rKeyIdx, keyType))
              rTs = rTsGet(r)
              rRow = r
              rValid = true
            }
          }
        }
        advanceRight()

        // Sliding buffer of copied right rows for the key in progress,
        // ts-sorted (appended in right-iterator order). A primitive
        // ring buffer, not an ArrayDeque pair: ts values stay unboxed
        // and eviction/append are two index bumps — this structure is
        // touched once per right row and once per (left, match) pair,
        // i.e. it IS the hot path.
        private var bufTs = new Array[Long](64)
        private var bufRows = new Array[InternalRow](64)
        private var bufStart = 0 // physical index of the logical head
        private var bufLen = 0
        private def bufTsAt(i: Int): Long = bufTs((bufStart + i) & (bufTs.length - 1))
        private def bufRowAt(i: Int): InternalRow = bufRows((bufStart + i) & (bufRows.length - 1))
        private def bufAdd(ts: Long, row: InternalRow): Unit = {
          if (bufLen == bufTs.length) { // grow: unwrap into a doubled array
            val n = bufTs.length
            val ts2 = new Array[Long](n * 2)
            val rows2 = new Array[InternalRow](n * 2)
            var i = 0
            while (i < n) { ts2(i) = bufTsAt(i); rows2(i) = bufRowAt(i); i += 1 }
            bufTs = ts2; bufRows = rows2; bufStart = 0
          }
          val at = (bufStart + bufLen) & (bufTs.length - 1)
          bufTs(at) = ts; bufRows(at) = row
          bufLen += 1
        }
        private def bufDropHead(): Unit = {
          bufRows(bufStart) = null // release the copied row
          bufStart = (bufStart + 1) & (bufTs.length - 1)
          bufLen -= 1
        }
        private def bufClear(): Unit = {
          // clear OCCUPIED slots only: this runs on every key change,
          // and at fine-grained keys (bufLen 0-2) a whole-array
          // Arrays.fill writes 64 nulls per left row — measured as a
          // real share of the fine-grained gap vs SMJ (round 10)
          var i = 0
          while (i < bufLen) {
            bufRows((bufStart + i) & (bufRows.length - 1)) = null
            i += 1
          }
          bufStart = 0; bufLen = 0
        }
        private var bufKey: Any = null
        private var bufKeyValid = false

        // current left row mid-emission. NOT copied: the child
        // iterator's row stays valid until its next next(), and
        // li.next() is only called after this left finishes emitting.
        private var curLeft: InternalRow = null
        private var curHi: Long = 0L
        private var emitPos = 0 // logical index into the buffer
        private var emitEnd = 0
        private var emitted = false

        private var pending: InternalRow = null

        private def loadLeft(): Unit = {
          val l = li.next()
          if (l.isNullAt(lKeyIdx) || l.isNullAt(loIdx) || l.isNullAt(hiIdx)) {
            // null key or bound: matches nothing; outer still emits
            if (outer) {
              curLeft = l; emitted = false; emitPos = 0; emitEnd = 0
            }
            return
          }
          val lk = l.get(lKeyIdx, keyType)
          val loV = loGet(l)
          val hiV = hiGet(l)
          if (!bufKeyValid || keyCmp(bufKey, lk) != 0) {
            bufClear()
            bufKey = stable(lk); bufKeyValid = true
            // rights of keys the left side skipped can never match
            while (rValid && keyCmp(rKey, lk) < 0) advanceRight()
          }
          // EVICT: head rows failing the lower bound for this (and
          // hence every later) left of the key
          while (bufLen > 0 && !passLower(bufTs(bufStart), loV)) bufDropHead()
          // PULL: rights of the key up to the upper bound
          while (rValid && keyCmp(rKey, lk) == 0 && passUpper(rTs, hiV)) {
            if (passLower(rTs, loV)) bufAdd(rTs, rRow.copy())
            // else: below every remaining interval's lower bound — drop
            advanceRight()
          }
          curLeft = l
          curHi = hiV
          emitted = false
          emitPos = 0
          emitEnd = bufLen
        }

        private def advance(): Unit = {
          while (pending == null) {
            if (curLeft != null) {
              var stop = false
              while (pending == null && !stop && emitPos < emitEnd) {
                val ts = bufTsAt(emitPos)
                if (passUpper(ts, curHi)) {
                  emitted = true
                  pending = proj(joined(curLeft, bufRowAt(emitPos)))
                  emitPos += 1
                } else stop = true // ts-sorted: nothing later matches
              }
              if (pending == null) {
                if (!emitted && outer) pending = proj(joined(curLeft, nullRight))
                curLeft = null
                emitted = true
              }
            }
            if (pending == null) {
              if (!li.hasNext) return
              loadLeft()
            }
          }
        }

        override def hasNext: Boolean = {
          if (pending == null) advance()
          pending != null
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty iterator")
          val out = pending
          pending = null
          numOutputRows += 1
          out
        }
      }
    }
  }

  // ---------------------------------------------------------------
  // Whole-stage codegen (round 10) — the AsOfJoinExec pattern: both
  // children as input iterators, the evict/pull/emit state machine
  // generated inline (ring buffer as primitive-array mutable state),
  // consume() feeding (left ++ right) columns straight into the
  // parent's generated loop. Following SMJ's own discipline, one
  // left row's full match run is drained before shouldStop() is
  // checked (per-left output is bounded by single-interval
  // occupancy). The null-padded outer row shares the SINGLE consume
  // site via a nullable right-row variable — no code doubling.
  // ---------------------------------------------------------------

  override def supportCodegen: Boolean = {
    val keyOk = leftKey.dataType match {
      case LongType | IntegerType => true
      case st: StringType => st == StringType // UTF8_BINARY only
      case _ => false
    }
    val tsOk = lo.dataType match {
      case TimestampType | TimestampNTZType | LongType | DateType | IntegerType => true
      case _ => false
    }
    keyOk && tsOk && lo.dataType == hi.dataType && lo.dataType == rightTs.dataType &&
      leftKey.dataType == rightKey.dataType
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  override def needCopyResult: Boolean = true

  private def keyJavaType: String = CodeGenerator.javaType(leftKey.dataType)

  private def genKeyCmp(a: String, b: String): String = leftKey.dataType match {
    case LongType => s"java.lang.Long.compare($a, $b)"
    case IntegerType => s"java.lang.Integer.compare($a, $b)"
    case _: StringType => s"$a.compareTo($b)"
    case other => throw new IllegalStateException(s"no codegen comparator for $other")
  }

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

  private def genPassLower(ts: String, loV: String): String =
    if (lowerInclusive) s"$ts >= $loV" else s"$ts > $loV"

  private def genPassUpper(ts: String, hiV: String): String =
    if (upperInclusive) s"$ts <= $hiV" else s"$ts < $hiV"

  override protected def doProduce(ctx: CodegenContext): String = {
    val lKeyIdx = left.output.indexWhere(_.exprId == leftKey.exprId)
    val loIdx = left.output.indexWhere(_.exprId == lo.exprId)
    val hiIdx = left.output.indexWhere(_.exprId == hi.exprId)
    val rKeyIdx = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTsIdx = right.output.indexWhere(_.exprId == rightTs.exprId)
    require(lKeyIdx >= 0 && loIdx >= 0 && hiIdx >= 0 && rKeyIdx >= 0 && rTsIdx >= 0,
      "interval-join columns must resolve against their own side")

    val leftInput = ctx.addMutableState("scala.collection.Iterator", "ijLeftInput",
      v => s"$v = inputs[0];")
    val rightInput = ctx.addMutableState("scala.collection.Iterator", "ijRightInput",
      v => s"$v = inputs[1];")
    val rKey = ctx.addMutableState(keyJavaType, "ijRKey")
    val rTs = ctx.addMutableState("long", "ijRTs")
    val rRow = ctx.addMutableState("InternalRow", "ijRRow")
    val rValid = ctx.addMutableState("boolean", "ijRValid")
    val rInit = ctx.addMutableState("boolean", "ijRInit")
    // primitive ring buffer (the doExecute structure, as fields)
    val bufTs = ctx.addMutableState("long[]", "ijBufTs", v => s"$v = new long[64];")
    val bufRows = ctx.addMutableState("InternalRow[]", "ijBufRows",
      v => s"$v = new InternalRow[64];")
    val bufStart = ctx.addMutableState("int", "ijBufStart")
    val bufLen = ctx.addMutableState("int", "ijBufLen")
    val bufKey = ctx.addMutableState(keyJavaType, "ijBufKey")
    val bufKeyValid = ctx.addMutableState("boolean", "ijBufKeyValid")

    val advanceRight = ctx.addNewFunction("ijAdvanceRight",
      s"""
         |private void ijAdvanceRight() {
         |  $rValid = false;
         |  while (!$rValid && $rightInput.hasNext()) {
         |    InternalRow r = (InternalRow) $rightInput.next();
         |    if (!r.isNullAt($rKeyIdx) && !r.isNullAt($rTsIdx)) {
         |      $rKey = ${genStable(genGetKey("r", rKeyIdx))};
         |      $rTs = ${genGetTs("r", rightTs.dataType, rTsIdx)};
         |      $rRow = r;
         |      $rValid = true;
         |    }
         |  }
         |}
       """.stripMargin)
    val bufAdd = ctx.addNewFunction("ijBufAdd",
      s"""
         |private void ijBufAdd(long ts, InternalRow row) {
         |  if ($bufLen == $bufTs.length) {
         |    int n = $bufTs.length;
         |    long[] ts2 = new long[n * 2];
         |    InternalRow[] rows2 = new InternalRow[n * 2];
         |    for (int i = 0; i < n; i++) {
         |      ts2[i] = $bufTs[($bufStart + i) & (n - 1)];
         |      rows2[i] = $bufRows[($bufStart + i) & (n - 1)];
         |    }
         |    $bufTs = ts2; $bufRows = rows2; $bufStart = 0;
         |  }
         |  int at = ($bufStart + $bufLen) & ($bufTs.length - 1);
         |  $bufTs[at] = ts; $bufRows[at] = row;
         |  $bufLen += 1;
         |}
       """.stripMargin)
    val bufDropHead = ctx.addNewFunction("ijBufDropHead",
      s"""
         |private void ijBufDropHead() {
         |  $bufRows[$bufStart] = null;
         |  $bufStart = ($bufStart + 1) & ($bufTs.length - 1);
         |  $bufLen -= 1;
         |}
       """.stripMargin)
    val bufClear = ctx.addNewFunction("ijBufClear",
      s"""
         |private void ijBufClear() {
         |  // occupied slots only — runs per key change (see doExecute)
         |  for (int i = 0; i < $bufLen; i++) {
         |    $bufRows[($bufStart + i) & ($bufRows.length - 1)] = null;
         |  }
         |  $bufStart = 0; $bufLen = 0;
         |}
       """.stripMargin)

    val leftRow = ctx.freshName("ijLeftRow")
    val rightRowVar = ctx.freshName("ijRightRow")
    val lk = ctx.freshName("ijLk")
    val loV = ctx.freshName("ijLo")
    val hiV = ctx.freshName("ijHi")
    val curHi = ctx.freshName("ijCurHi")
    val emitEnd = ctx.freshName("ijEmitEnd")
    val pos = ctx.freshName("ijPos")
    val any = ctx.freshName("ijAny")
    val done = ctx.freshName("ijDone")
    val ts = ctx.freshName("ijTs")

    // left columns, evaluated ONCE per left row (before the emit loop)
    ctx.INPUT_ROW = leftRow
    ctx.currentVars = null
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    val leftVarsCode = evaluateVariables(leftVars)
    // right columns, null-safe against a null (outer-padded) row —
    // the single consume site serves matched AND null-padded rows
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      val isNull = ctx.freshName("ijRNull")
      val value = ctx.freshName("ijRVal")
      val jt = CodeGenerator.javaType(a.dataType)
      val dv = CodeGenerator.defaultValue(a.dataType)
      val getter = CodeGenerator.getValue(rightRowVar, a.dataType, i.toString)
      val c =
        code"""
          |boolean $isNull = $rightRowVar == null || $rightRowVar.isNullAt($i);
          |$jt $value = $isNull ? $dv : ($getter);
        """.stripMargin
      ExprCode(c, JavaCode.isNullVariable(isNull), JavaCode.variable(value, a.dataType))
    }
    val numOutput = metricTerm(ctx, "numOutputRows")
    val outerLit = if (leftOuter) "true" else "false"

    s"""
       |if (!$rInit) { $rInit = true; $advanceRight(); }
       |while ($leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  long $curHi = 0L;
       |  int $emitEnd = 0;
       |  if (!$leftRow.isNullAt($lKeyIdx) && !$leftRow.isNullAt($loIdx) &&
       |      !$leftRow.isNullAt($hiIdx)) {
       |    $keyJavaType $lk = ${genGetKey(leftRow, lKeyIdx)};
       |    long $loV = ${genGetTs(leftRow, lo.dataType, loIdx)};
       |    long $hiV = ${genGetTs(leftRow, hi.dataType, hiIdx)};
       |    if (!$bufKeyValid || ${genKeyCmp(bufKey, lk)} != 0) {
       |      $bufClear();
       |      $bufKey = ${genStable(lk)}; $bufKeyValid = true;
       |      while ($rValid && ${genKeyCmp(rKey, lk)} < 0) { $advanceRight(); }
       |    }
       |    while ($bufLen > 0 && !(${genPassLower(s"$bufTs[$bufStart]", loV)})) {
       |      $bufDropHead();
       |    }
       |    while ($rValid && ${genKeyCmp(rKey, lk)} == 0 && ${genPassUpper(rTs, hiV)}) {
       |      if (${genPassLower(rTs, loV)}) { $bufAdd($rTs, $rRow.copy()); }
       |      $advanceRight();
       |    }
       |    $curHi = $hiV;
       |    $emitEnd = $bufLen;
       |  } else if (!$outerLit) {
       |    continue; // null key/bound matches nothing; inner emits nothing
       |  }
       |  $leftVarsCode
       |  int $pos = 0;
       |  boolean $any = false;
       |  boolean $done = false;
       |  while (!$done) {
       |    InternalRow $rightRowVar = null;
       |    if ($pos < $emitEnd) {
       |      long $ts = $bufTs[($bufStart + $pos) & ($bufTs.length - 1)];
       |      if (${genPassUpper(ts, curHi)}) {
       |        $rightRowVar = $bufRows[($bufStart + $pos) & ($bufTs.length - 1)];
       |        $pos += 1;
       |      }
       |    }
       |    if ($rightRowVar == null) {
       |      $done = true;
       |      if ($any || !$outerLit) continue; // exit without emitting
       |      // fall through once: the outer null-padded row
       |    } else {
       |      $any = true;
       |    }
       |    $numOutput.add(1);
       |    ${consume(ctx, leftVars ++ rightVars)}
       |  }
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }
}
