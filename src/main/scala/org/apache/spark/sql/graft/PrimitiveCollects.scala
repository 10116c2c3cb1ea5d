package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Primitive-buffer replacements for `collect_list`/`collect_set` in the
  * inverted-index dedup reduce stages.
  *
  * Spark's `CollectList` buffers a `mutable.ArrayBuffer[Any]` — every update
  * boxes the element, and partial serialization walks the boxed buffer
  * row-by-row through an `UnsafeProjection`. For a posting-list aggregation
  * (hundreds of thousands of single-long groups per gate query) the boxing
  * and per-element serialization dominate the reduce stage. These aggregates
  * keep growable primitive arrays and serialize flat.
  *
  * Result equality: each emits exactly the elements `collect_list` would
  * emit. Element ORDER within a group is whatever order updates and partial
  * merges arrive in — the same contract as `collect_list` (which Spark
  * documents as non-deterministic after a shuffle) — so they are only
  * drop-in at call sites whose downstream is order-insensitive (the dedup
  * pair expansions canonicalize pairs with min/max and aggregate afterward).
  */
object PrimitiveCollects {

  /** Growable primitive long array. */
  final class LongList(initialCapacity: Int = 8) extends Serializable {
    private var arr = new Array[Long](initialCapacity)
    private var n = 0
    def size: Int = n
    def add(v: Long): Unit = {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length << 1)
      arr(n) = v
      n += 1
    }
    def get(i: Int): Long = arr(i)
    def addAll(o: LongList): Unit = {
      if (n + o.n > arr.length)
        arr = java.util.Arrays.copyOf(arr,
          java.lang.Integer.highestOneBit(math.max(1, n + o.n - 1)) << 1)
      System.arraycopy(o.arr, 0, arr, n, o.n)
      n += o.n
    }
    def toArray: Array[Long] = java.util.Arrays.copyOf(arr, n)
    def writeTo(bb: java.nio.ByteBuffer): Unit = {
      var i = 0
      while (i < n) { bb.putLong(arr(i)); i += 1 }
    }
  }

  def collectLongList(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(
      CollectLongListExpr(
        org.apache.spark.sql.classic.ExpressionUtils.expression(c))
        .toAggregateExpression())

  def collectLongPairs(a: org.apache.spark.sql.Column,
                       b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(
      CollectLongPairsExpr(
        org.apache.spark.sql.classic.ExpressionUtils.expression(a),
        org.apache.spark.sql.classic.ExpressionUtils.expression(b))
        .toAggregateExpression())

  def coveredPositions(start: org.apache.spark.sql.Column,
                       k: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(
      CoveredPositionsExpr(
        org.apache.spark.sql.classic.ExpressionUtils.expression(start), k)
        .toAggregateExpression())

  def keptLines(pos: org.apache.spark.sql.Column,
                line: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(
      KeptLinesExpr(
        org.apache.spark.sql.classic.ExpressionUtils.expression(pos),
        org.apache.spark.sql.classic.ExpressionUtils.expression(line))
        .toAggregateExpression())

  def sessionSpans(tsMs: org.apache.spark.sql.Column,
                   value: org.apache.spark.sql.Column,
                   gapMs: Long): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(
      SessionSpansExpr(
        org.apache.spark.sql.classic.ExpressionUtils.expression(tsMs),
        org.apache.spark.sql.classic.ExpressionUtils.expression(value), gapMs)
        .toAggregateExpression())

  /** (timestamp, value) buffer for [[SessionSpansExpr]]. */
  final class TsVals(initialCapacity: Int = 8) extends Serializable {
    var ts = new Array[Long](initialCapacity)
    var vals = new Array[Double](initialCapacity)
    var n = 0
    def add(t: Long, v: Double): Unit = {
      if (n == ts.length) {
        ts = java.util.Arrays.copyOf(ts, ts.length << 1)
        vals = java.util.Arrays.copyOf(vals, vals.length << 1)
      }
      ts(n) = t
      vals(n) = v
      n += 1
    }
  }

  /** (position, line) buffer for [[KeptLinesExpr]]. */
  final class PosLines(initialCapacity: Int = 8) extends Serializable {
    var pos = new Array[Int](initialCapacity)
    var lines = new Array[org.apache.spark.unsafe.types.UTF8String](initialCapacity)
    var n = 0
    def add(p: Int, s: org.apache.spark.unsafe.types.UTF8String): Unit = {
      if (n == pos.length) {
        pos = java.util.Arrays.copyOf(pos, pos.length << 1)
        lines = java.util.Arrays.copyOf(lines, lines.length << 1)
      }
      pos(n) = p
      lines(n) = s
      n += 1
    }
  }
}

/** Gap-based session assignment per group in one primitive aggregate:
  * collects this group's (event-time millis, value) pairs, sorts by time,
  * and emits one row per event tagged with a session ordinal that
  * increments exactly where `ts - prev_ts > gapMs` — the same boundaries
  * as the window formulation `lag` + `> gapMs` + running `sum`, without
  * the partition-wide sort + two WindowExec buffering passes. Equal
  * timestamps always share a session (gap 0 <= gapMs), so tie order is
  * irrelevant; the session ORDINAL is a grouping key for the caller's
  * downstream per-session aggregation (min/max/count/sum are all
  * membership functions, and membership is identical). Null ts or value
  * rows are skipped (the window form's lag/sum skip nulls differently —
  * call sites have non-null events). Inputs are implicitly cast to
  * (BIGINT, DOUBLE), so integer timestamps and float or decimal values
  * are accepted. Output:
  * `array<struct<sess: int, ts_ms: long, value: double>>`.
  */
case class SessionSpansExpr(left: Expression, right: Expression, gapMs: Long,
                            mutableAggBufferOffset: Int = 0,
                            inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PrimitiveCollects.TsVals]
    with BinaryLike[Expression] with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, DoubleType)

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sess", IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("ts_ms", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "session_spans"

  override def createAggregationBuffer(): PrimitiveCollects.TsVals =
    new PrimitiveCollects.TsVals()

  override def update(buf: PrimitiveCollects.TsVals,
                      input: InternalRow): PrimitiveCollects.TsVals = {
    val t = left.eval(input)
    val v = right.eval(input)
    if (t != null && v != null)
      buf.add(t.asInstanceOf[Long], v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: PrimitiveCollects.TsVals,
                     other: PrimitiveCollects.TsVals): PrimitiveCollects.TsVals = {
    var i = 0
    while (i < other.n) { buf.add(other.ts(i), other.vals(i)); i += 1 }
    buf
  }

  override def eval(buf: PrimitiveCollects.TsVals): Any = {
    val boxed = Array.range(0, buf.n).map(Integer.valueOf)
    java.util.Arrays.sort(boxed, (a: Integer, b: Integer) =>
      java.lang.Long.compare(buf.ts(a), buf.ts(b)))
    val out = new Array[Any](buf.n)
    var sess = 0
    var prev = Long.MinValue
    var i = 0
    while (i < buf.n) {
      val t = buf.ts(boxed(i))
      if (i == 0 || t - prev > gapMs) sess += 1
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](sess, t, buf.vals(boxed(i))))
      prev = t
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: PrimitiveCollects.TsVals): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.n * 16)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) {
      bb.putLong(buf.ts(i)); bb.putDouble(buf.vals(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PrimitiveCollects.TsVals = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new PrimitiveCollects.TsVals(math.max(8, n))
    var i = 0
    while (i < n) { buf.add(bb.getLong, bb.getDouble); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): SessionSpansExpr =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SessionSpansExpr =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SessionSpansExpr =
    copy(left = newLeft, right = newRight)
}

/** Ordered text reassembly from surviving (position, line) rows in one
  * primitive aggregate: equals
  * `sort_array(collect_list(when(keep, struct(pos, line))))` followed by
  * `array_join(transform(..., x -> x.line), "\n")` and `size(...)` —
  * without boxing every line into a struct, sorting boxed structs, or
  * walking the two interpreted HOFs per document. Rows whose `line` is
  * null are skipped (the caller nulls boilerplate lines), positions are
  * assumed distinct within a group (posexplode indices are), and the
  * output is `struct(text_clean: string, n_kept: int)`.
  */
case class KeptLinesExpr(left: Expression, right: Expression,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PrimitiveCollects.PosLines]
    with BinaryLike[Expression] {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("text_clean",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("n_kept", IntegerType,
      nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "kept_lines"

  override def createAggregationBuffer(): PrimitiveCollects.PosLines =
    new PrimitiveCollects.PosLines()

  override def update(buf: PrimitiveCollects.PosLines,
                      input: InternalRow): PrimitiveCollects.PosLines = {
    val line = right.eval(input)
    if (line != null) {
      val p = left.eval(input)
      if (p != null)
        // clone: the UTF8String points into a reused row buffer
        buf.add(p.asInstanceOf[Int],
          line.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].clone())
    }
    buf
  }

  override def merge(buf: PrimitiveCollects.PosLines,
                     other: PrimitiveCollects.PosLines): PrimitiveCollects.PosLines = {
    var i = 0
    while (i < other.n) { buf.add(other.pos(i), other.lines(i)); i += 1 }
    buf
  }

  override def eval(buf: PrimitiveCollects.PosLines): Any = {
    val boxed = Array.range(0, buf.n).map(Integer.valueOf)
    java.util.Arrays.sort(boxed, (a: Integer, b: Integer) =>
      Integer.compare(buf.pos(a), buf.pos(b)))
    val ordered = new Array[org.apache.spark.unsafe.types.UTF8String](buf.n)
    var i = 0
    while (i < buf.n) { ordered(i) = buf.lines(boxed(i)); i += 1 }
    val joined = org.apache.spark.unsafe.types.UTF8String.concatWs(
      org.apache.spark.unsafe.types.UTF8String.fromString("\n"), ordered: _*)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](joined, buf.n))
  }

  override def serialize(buf: PrimitiveCollects.PosLines): Array[Byte] = {
    var bytes = 4 + buf.n * 8
    var i = 0
    while (i < buf.n) { bytes += buf.lines(i).numBytes(); i += 1 }
    val bb = java.nio.ByteBuffer.allocate(bytes)
    bb.putInt(buf.n)
    i = 0
    while (i < buf.n) {
      bb.putInt(buf.pos(i))
      val b = buf.lines(i).getBytes
      bb.putInt(b.length)
      bb.put(b)
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PrimitiveCollects.PosLines = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new PrimitiveCollects.PosLines(math.max(8, n))
    var i = 0
    while (i < n) {
      val p = bb.getInt
      val len = bb.getInt
      val b = new Array[Byte](len)
      bb.get(b)
      buf.add(p, org.apache.spark.unsafe.types.UTF8String.fromBytes(b))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KeptLinesExpr =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KeptLinesExpr =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KeptLinesExpr =
    copy(left = newLeft, right = newRight)
}

/** `collect_list` over a non-null long column into a primitive buffer.
  * Output: `array<bigint>` of the group's values, insertion order (same
  * non-deterministic-after-shuffle contract as `collect_list` — use only
  * where downstream is order-insensitive). Null inputs are skipped, exactly
  * like `collect_list`.
  */
case class CollectLongListExpr(child: Expression,
                               mutableAggBufferOffset: Int = 0,
                               inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PrimitiveCollects.LongList]
    with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "collect_long_list"

  override def createAggregationBuffer(): PrimitiveCollects.LongList =
    new PrimitiveCollects.LongList()

  override def update(buf: PrimitiveCollects.LongList,
                      input: InternalRow): PrimitiveCollects.LongList = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: PrimitiveCollects.LongList,
                     other: PrimitiveCollects.LongList): PrimitiveCollects.LongList = {
    buf.addAll(other)
    buf
  }

  override def eval(buf: PrimitiveCollects.LongList): Any =
    UnsafeArrayData.fromPrimitiveArray(buf.toArray)

  override def serialize(buf: PrimitiveCollects.LongList): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    buf.writeTo(bb)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PrimitiveCollects.LongList = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new PrimitiveCollects.LongList(math.max(8, n))
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectLongListExpr =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectLongListExpr =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CollectLongListExpr =
    copy(child = c)
}

/** `collect_list(struct(a, b))` over two non-null long columns, stored
  * interleaved `[a0, b0, a1, b1, ...]` in one primitive buffer. Rows where
  * either side is null are skipped (collect_list skips a null STRUCT, and a
  * struct of two non-null longs is never null — call sites pass non-null
  * columns). Output: flat `array<bigint>` of 2-strides for a flat-aware
  * consumer ([[NativeTextExprs.SimhashPairExpandFlatExpr]]).
  */
case class CollectLongPairsExpr(left: Expression, right: Expression,
                                mutableAggBufferOffset: Int = 0,
                                inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PrimitiveCollects.LongList]
    with BinaryLike[Expression] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "collect_long_pairs"

  override def createAggregationBuffer(): PrimitiveCollects.LongList =
    new PrimitiveCollects.LongList()

  override def update(buf: PrimitiveCollects.LongList,
                      input: InternalRow): PrimitiveCollects.LongList = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a != null && b != null) {
      buf.add(a.asInstanceOf[Long])
      buf.add(b.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: PrimitiveCollects.LongList,
                     other: PrimitiveCollects.LongList): PrimitiveCollects.LongList = {
    buf.addAll(other)
    buf
  }

  override def eval(buf: PrimitiveCollects.LongList): Any =
    UnsafeArrayData.fromPrimitiveArray(buf.toArray)

  override def serialize(buf: PrimitiveCollects.LongList): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    buf.writeTo(bb)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PrimitiveCollects.LongList = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new PrimitiveCollects.LongList(math.max(8, n))
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectLongPairsExpr =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectLongPairsExpr =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CollectLongPairsExpr =
    copy(left = newLeft, right = newRight)
}

/** Covered token positions from duplicated-window START positions:
  * aggregates window starts `s` and evals to the sorted distinct union of
  * `[s, s+k-1]` ranges — exactly
  * `array_sort(collect_set(explode(sequence(s, s+k-1))))` without sending
  * k rows per window through the shuffle or boxing a set of Integers.
  * Output: `array<int>`, sorted ascending, distinct, non-null.
  */
case class CoveredPositionsExpr(child: Expression, k: Int,
                                mutableAggBufferOffset: Int = 0,
                                inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PrimitiveCollects.LongList]
    with UnaryLike[Expression] {

  require(k >= 1, s"window must be at least 1 token, got $k")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "covered_positions"

  override def createAggregationBuffer(): PrimitiveCollects.LongList =
    new PrimitiveCollects.LongList()

  override def update(buf: PrimitiveCollects.LongList,
                      input: InternalRow): PrimitiveCollects.LongList = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Int].toLong)
    buf
  }

  override def merge(buf: PrimitiveCollects.LongList,
                     other: PrimitiveCollects.LongList): PrimitiveCollects.LongList = {
    buf.addAll(other)
    buf
  }

  override def eval(buf: PrimitiveCollects.LongList): Any = {
    val starts = buf.toArray
    java.util.Arrays.sort(starts)
    // expand [s, s+k-1] ranges in start order; sorted starts make the
    // union a single forward pass emitting each position once
    val out = new Array[Int](math.min(starts.length.toLong * k, Int.MaxValue).toInt)
    var m = 0
    var next = Int.MinValue // next position not yet emitted
    var i = 0
    while (i < starts.length) {
      val s = starts(i).toInt
      var p = math.max(s, next)
      val end = s + k - 1
      while (p <= end) { out(m) = p; m += 1; p += 1 }
      if (end + 1 > next) next = end + 1
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, m))
  }

  override def serialize(buf: PrimitiveCollects.LongList): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    buf.writeTo(bb)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PrimitiveCollects.LongList = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new PrimitiveCollects.LongList(math.max(8, n))
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CoveredPositionsExpr =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CoveredPositionsExpr =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CoveredPositionsExpr =
    copy(child = c)
}
