package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Bloom-filter runtime join pruning, the 100 TB semi-join pattern: build
  * a compact bit-set over the (small, post-filter) dimension keys, then
  * drop non-joining fact rows AT THE SCAN, before they reach the join's
  * shuffle. A 100 TB fact table joining a 0.1%-selective dim shuffles
  * ~100 TB without the filter and ~0.1 TB (+ FP noise) with it — Spark's
  * own InjectRuntimeFilter plays the same trick when statistics allow;
  * this operator makes it explicit and composable.
  *
  * Split of labor:
  *  - callers hash ANY key type with the built-in codegen'd `xxhash64`,
  *    so both sides of the protocol exchange only `bigint` hashes;
  *  - [[BloomAgg]] (`graft_bloom_agg(hash, bits, k)`) builds the bit-set:
  *    bounded state (bits/8 bytes) map-side, word-wise OR merge — the
  *    dim's keys never centralize;
  *  - [[BloomMightContain]] probes it with k derived positions
  *    (Kirsch–Mitzenmahner double hashing from a splitmix64 scramble),
  *    as a whole-stage-codegen expression whose blob is parsed ONCE at
  *    plan time (the blob must be a literal — the collected build side),
  *    so the per-row cost is k word reads.
  *
  * No false negatives ever (the pruned join is EXACT — oracled, not just
  * spec'd); false positives only cost wasted shuffle rows, bounded by the
  * usual (1 - e^{-kn/m})^k.
  */
object Bloom {
  val AggName = "graft_bloom_agg"
  val ContainsName = "graft_bloom_contains"

  /** splitmix64 finalizer — decorrelates xxhash64 output into the two
    * independent streams double hashing needs. */
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Blob layout: [Int k][Int numWords][Long words...]; numBits = 64*numWords. */
  def blobOf(words: Array[Long], k: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + words.length * 8)
    bb.putInt(k).putInt(words.length)
    words.foreach(bb.putLong)
    bb.array()
  }

  def parse(blob: Array[Byte]): (Int, Array[Long]) = {
    val bb = java.nio.ByteBuffer.wrap(blob)
    val k = bb.getInt()
    val words = new Array[Long](bb.getInt())
    var i = 0
    while (i < words.length) { words(i) = bb.getLong(); i += 1 }
    (k, words)
  }

  def set(words: Array[Long], hash: Long, k: Int): Unit = {
    val numBits = words.length.toLong * 64
    val h1 = mix(hash)
    val h2 = mix(h1) | 1L
    var i = 0
    while (i < k) {
      val pos = java.lang.Long.remainderUnsigned(h1 + i * h2, numBits)
      words((pos >>> 6).toInt) |= (1L << (pos & 63))
      i += 1
    }
  }

  def contains(words: Array[Long], hash: Long, k: Int): Boolean = {
    val numBits = words.length.toLong * 64
    val h1 = mix(hash)
    val h2 = mix(h1) | 1L
    var i = 0
    while (i < k) {
      val pos = java.lang.Long.remainderUnsigned(h1 + i * h2, numBits)
      if ((words((pos >>> 6).toInt) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

/** `graft_bloom_agg(hash: bigint, numBits: int literal, k: int literal)`
  * → binary blob. Buffer is the word array itself: bits/8 bytes of
  * bounded state per partial aggregate, merged with word-wise OR. */
case class BloomAgg(
    child: Expression,
    numBits: Int,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(numBits >= 64, s"${Bloom.AggName}: numBits must be >= 64, got $numBits")
  require(k > 0 && k <= 16, s"${Bloom.AggName}: k must be in [1,16], got $k")

  private val numWords = (numBits + 63) / 64

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = Bloom.AggName

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a bigint hash (use xxhash64(key)), got " +
        child.dataType.simpleString)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numWords)

  override def update(words: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) Bloom.set(words, v.asInstanceOf[Long], k)
    words
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(words: Array[Long]): Any = Bloom.blobOf(words, k)

  override def serialize(words: Array[Long]): Array[Byte] = Bloom.blobOf(words, k)
  override def deserialize(bytes: Array[Byte]): Array[Long] = Bloom.parse(bytes)._2

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object BloomAgg {
  def build(exprs: Seq[Expression]): Expression = {
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"${Bloom.AggName}(hash, numBits, k): $what must be an int literal, got $other")
    }
    BloomAgg(exprs.head, intLit(exprs(1), "numBits"), intLit(exprs(2), "k"))
  }
}

/** `graft_bloom_contains(blob: binary LITERAL, hash: bigint)` → boolean.
  * The blob is evaluated and parsed once at construction (it is the
  * collected build side — a runtime filter's literal payload); codegen
  * emits the k-probe loop against the parsed word array held in the
  * references array, so the fact-scan hot path never touches the blob
  * bytes. */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!left.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a literal/foldable bloom blob (collect the build side first)")
    else if (left.dataType != BinaryType || right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, bigint), got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BooleanType
  override def prettyName: String = Bloom.ContainsName

  @transient private lazy val parsed: (Int, Array[Long]) = {
    val blob = left.eval(null).asInstanceOf[Array[Byte]]
    require(blob != null, s"$prettyName: bloom blob must not be null")
    Bloom.parse(blob)
  }

  override def eval(input: InternalRow): Any = {
    val h = right.eval(input)
    if (h == null) null
    else java.lang.Boolean.valueOf(
      Bloom.contains(parsed._2, h.asInstanceOf[Long], parsed._1))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (_, h) => {
      val wordsRef = ctx.addReferenceObj("bloomWords", parsed._2, "long[]")
      val kProbes = parsed._1
      val numBits = parsed._2.length.toLong * 64
      // splitmix64 inlined: generated Java can't call Scala object methods
      val z = ctx.freshName("z")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val i = ctx.freshName("i")
      val pos = ctx.freshName("pos")
      val hit = ctx.freshName("hit")
      s"""
         |long $z = $h + 0x9e3779b97f4a7c15L;
         |$z = ($z ^ ($z >>> 30)) * 0xbf58476d1ce4e5b9L;
         |$z = ($z ^ ($z >>> 27)) * 0x94d049bb133111ebL;
         |long $h1 = $z ^ ($z >>> 31);
         |$z = $h1 + 0x9e3779b97f4a7c15L;
         |$z = ($z ^ ($z >>> 30)) * 0xbf58476d1ce4e5b9L;
         |$z = ($z ^ ($z >>> 27)) * 0x94d049bb133111ebL;
         |long $h2 = ($z ^ ($z >>> 31)) | 1L;
         |boolean $hit = true;
         |for (int $i = 0; $i < $kProbes; $i++) {
         |  long $pos = java.lang.Long.remainderUnsigned($h1 + $i * $h2, ${numBits}L);
         |  if (($wordsRef[(int)($pos >>> 6)] & (1L << ($pos & 63))) == 0L) {
         |    $hit = false; break;
         |  }
         |}
         |${ev.value} = $hit;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
