package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_lm_score(model: binary LITERAL, canonText: string)` → double —
  * native per-document mean conditional trigram probability under a
  * trained character-trigram model ([[graft.text.NgramLm]]).
  *
  * Why native: the declarative formulation explodes EVERY character
  * position of the corpus into a row (`explode(transform(sequence(...),
  * substr))`) and joins the model — an L-row shuffle surface for L total
  * characters, by far the hottest projection of the LM-scoring query.
  * The model itself is bounded (≤ |charset|³ trigrams, in practice far
  * smaller), so scoring is one hash-free lookup loop per document: the
  * explode, the join, and the per-position aggregation all collapse into
  * a single codegen'd call inside the scan projection.
  *
  * The model blob is a foldable literal (same contract as
  * [[Bloom]]'s `graft_bloom_contains`): parsed ONCE at plan time into
  * two sorted arrays — packed trigram keys (3 code points × 21 bits) and
  * probabilities pre-rounded to DECIMAL(_,12) unscaled longs. The
  * arithmetic replays the declarative twin bit-for-bit: per-trigram
  * `p = n_tri/n_prefix` in IEEE double, cast to 12-dp decimal via
  * `Double.toString` (Spark's double→decimal cast), summed EXACTLY in
  * long unscaled space, divided by the found-trigram count in double,
  * rounded half-up to 6 dp — so the native path hash-matches the SQL
  * oracle. Trigrams absent from the model are skipped from both sum and
  * count (inner-join semantics); a document with no scored trigram
  * (canonical length < 3, or nothing in the model) scores null.
  */
case class TrigramLmScore(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!left.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a literal/foldable model blob (train + collect first)")
    else if (left.dataType != BinaryType || right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, string), got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = TrigramLmScore.Name

  @transient private lazy val parsed: (Array[Long], Array[Long]) = {
    val blob = left.eval(null).asInstanceOf[Array[Byte]]
    require(blob != null, s"$prettyName: model blob must not be null")
    // executor-static memo, not a plain parse: `parsed` is @transient
    // lazy, so on the interpreted/codegen-fallback path EVERY
    // deserialized expression instance (one per task) would re-parse the
    // blob — up to 64 MB at ModelCap, per task. The cache keys by blob
    // content, so each executor pays the parse once per model.
    TrigramLmScore.cachedParse(blob)
  }

  override def eval(input: InternalRow): Any = {
    val t = right.eval(input)
    if (t == null) null
    else TrigramLmScore.score(t.asInstanceOf[UTF8String], parsed._1, parsed._2)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keysRef = ctx.addReferenceObj("lmKeys", parsed._1, "long[]")
    val valsRef = ctx.addReferenceObj("lmVals", parsed._2, "long[]")
    val t = right.genCode(ctx)
    val boxed = ctx.freshName("lmScore")
    ev.copy(code = code"""
      ${t.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${t.isNull}) {
        java.lang.Double $boxed =
          graft.functions.TrigramLmScore.score(${t.value}, $keysRef, $valsRef);
        if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.doubleValue(); }
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TrigramLmScore {
  val Name = "graft_lm_score"

  /** Pack 3 code points (≤ 0x10FFFF each, 21 bits) into one long. */
  def pack(cp0: Int, cp1: Int, cp2: Int): Long =
    (cp0.toLong << 42) | (cp1.toLong << 21) | cp2.toLong

  /** Serialize parallel (sorted-keys, unscaled-12dp-values) arrays. */
  def blobOf(keys: Array[Long], vals: Array[Long]): Array[Byte] = {
    require(keys.length == vals.length)
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * keys.length)
    bb.putInt(keys.length)
    keys.foreach(bb.putLong)
    vals.foreach(bb.putLong)
    bb.array()
  }

  def parse(blob: Array[Byte]): (Array[Long], Array[Long]) = {
    val bb = java.nio.ByteBuffer.wrap(blob)
    val n = bb.getInt
    val keys = Array.fill(n)(bb.getLong)
    val vals = Array.fill(n)(bb.getLong)
    (keys, vals)
  }

  /** Bounded per-JVM parse memo (hash-keyed, content-verified): at most
    * [[MaxModels]] parsed models stay resident — a session cycling many
    * models evicts older entries (re-parse on next use, still correct).
    * Eviction runs OUTSIDE any CHM mapping function (the documented
    * contract — see [[graft.text.BpeEncoder.memoFor]]). */
  private val MaxModels = 4
  private val parseCache = new java.util.concurrent.ConcurrentHashMap[
    Integer, (Array[Byte], (Array[Long], Array[Long]))]()
  def cachedParse(blob: Array[Byte]): (Array[Long], Array[Long]) = {
    val k = Integer.valueOf(java.util.Arrays.hashCode(blob))
    val hit = parseCache.get(k)
    // content check on hit: the hash key alone could collide across
    // models; one array compare is noise next to the parse it avoids
    if (hit != null && java.util.Arrays.equals(hit._1, blob)) return hit._2
    if (parseCache.size >= MaxModels && !parseCache.containsKey(k)) {
      val it = parseCache.keys()
      while (parseCache.size >= MaxModels && it.hasMoreElements) {
        val old = it.nextElement()
        if (old != k) parseCache.remove(old)
      }
    }
    val p = parse(blob)
    parseCache.put(k, (blob, p))
    p
  }

  /** Called from generated code. Rolling 3-code-point window over the
    * canonical string; binary-search lookup; exact unscaled-long sum. */
  def score(text: UTF8String, keys: Array[Long], vals: Array[Long]): java.lang.Double = {
    val s = text.toString
    val n = s.length
    var sum = 0L
    var cnt = 0L
    var cp0 = -1
    var cp1 = -1
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      if (cp1 >= 0 && cp0 >= 0) {
        val idx = java.util.Arrays.binarySearch(keys, pack(cp0, cp1, cp))
        if (idx >= 0) {
          // decimal(30,12) sums can't overflow a long here: p ≤ 1 ⇒ each
          // term ≤ 1e12; 2^63/1e12 ≈ 9.2M scored positions per DOCUMENT
          // before saturation — addExact turns a pathological longer doc
          // into a loud error instead of silent wraparound
          sum = Math.addExact(sum, vals(idx))
          cnt += 1
        }
      }
      cp0 = cp1
      cp1 = cp
    }
    if (cnt == 0) null
    else {
      // replay the declarative twin exactly:
      //   round(sum(p_dec12).cast(double) / count, 6)
      val sumD = java.math.BigDecimal.valueOf(sum, 12).doubleValue()
      val mean = sumD / cnt.toDouble
      java.lang.Double.valueOf(java.math.BigDecimal.valueOf(mean)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    }
  }

  /** Spark's double→decimal(_,12) cast, driver-side: `Double.toString`
    * shortest-decimal repr, then half-up to scale 12 — the same value the
    * declarative twin's `cast(p as decimal(30,12))` produces. */
  def scaled12(p: Double): Long =
    new java.math.BigDecimal(java.lang.Double.toString(p))
      .setScale(12, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
}

/** `graft_trigram_counts(canonText: string)` → binary blob of
  * `(packed-trigram, count)` pairs — the TRAIN side of the LM as ONE
  * bounded-state aggregate: per-partition hash map keyed by the packed
  * trigram, partial-merged through the shuffle. Replaces the
  * per-character-position `explode` + trigram `groupBy` of the
  * declarative train (an L-row aggregation surface for L corpus
  * characters) with state bounded by the trigram space itself
  * (≤ |charset|³; capped loudly at [[graft.text.NgramLm.ModelCap]] —
  * the same bound the collected model already enforces, hit here BEFORE
  * executor memory instead of after). Prefix totals (`count(ab·)`)
  * derive from the collected counts on the driver — key `>>> 21` drops
  * the last code point — so no second aggregate and no model join run
  * on the cluster at all. */
case class TrigramCountAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
    java.util.HashMap[java.lang.Long, java.lang.Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = TrigramCountAgg.Name

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string column, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): java.util.HashMap[java.lang.Long, java.lang.Long] =
    new java.util.HashMap[java.lang.Long, java.lang.Long]()

  override def update(buf: java.util.HashMap[java.lang.Long, java.lang.Long],
                      input: InternalRow): java.util.HashMap[java.lang.Long, java.lang.Long] = {
    val t = child.eval(input)
    if (t != null) TrigramCountAgg.accumulate(buf, t.asInstanceOf[UTF8String])
    buf
  }

  override def merge(a: java.util.HashMap[java.lang.Long, java.lang.Long],
                     b: java.util.HashMap[java.lang.Long, java.lang.Long])
      : java.util.HashMap[java.lang.Long, java.lang.Long] = {
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      a.merge(e.getKey, e.getValue, (x, y) => java.lang.Long.valueOf(x.longValue() + y.longValue()))
    }
    TrigramCountAgg.checkCap(a)
    a
  }

  override def eval(buf: java.util.HashMap[java.lang.Long, java.lang.Long]): Any =
    serialize(buf)

  override def serialize(buf: java.util.HashMap[java.lang.Long, java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey.longValue()); bb.putLong(e.getValue.longValue())
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[java.lang.Long, java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long](Math.max(16, n * 2))
    var i = 0
    while (i < n) {
      m.put(java.lang.Long.valueOf(bb.getLong), java.lang.Long.valueOf(bb.getLong))
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TrigramCountAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TrigramCountAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object TrigramCountAgg {
  val Name = "graft_trigram_counts"

  private val One = java.lang.Long.valueOf(1L)

  private[functions] def checkCap(
      m: java.util.HashMap[java.lang.Long, java.lang.Long]): Unit =
    require(m.size <= graft.text.NgramLm.ModelCap,
      s"$Name: trigram space exceeds ${graft.text.NgramLm.ModelCap} keys " +
        "(charset too large for a bounded trigram model) — use the " +
        "explode-based NgramLm.scoreByJoin path")

  def accumulate(m: java.util.HashMap[java.lang.Long, java.lang.Long],
                 text: UTF8String): Unit = {
    val s = text.toString
    val n = s.length
    var cp0 = -1
    var cp1 = -1
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      if (cp1 >= 0 && cp0 >= 0) {
        m.merge(java.lang.Long.valueOf(TrigramLmScore.pack(cp0, cp1, cp)), One,
          (x, y) => java.lang.Long.valueOf(x.longValue() + y.longValue()))
      }
      cp0 = cp1
      cp1 = cp
    }
    checkCap(m)
  }

  /** Decode a collected blob into parallel (sorted packed keys, counts). */
  def parse(blob: Array[Byte]): (Array[Long], Array[Long]) = {
    val bb = java.nio.ByteBuffer.wrap(blob)
    val n = bb.getInt
    val pairs = new Array[(Long, Long)](n)
    var i = 0
    while (i < n) { pairs(i) = (bb.getLong, bb.getLong); i += 1 }
    java.util.Arrays.sort(pairs, Ordering.by((p: (Long, Long)) => p._1))
    (pairs.map(_._1), pairs.map(_._2))
  }
}
