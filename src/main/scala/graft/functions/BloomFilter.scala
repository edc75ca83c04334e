package graft.functions

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType}

/** Classic Bloom filter over 64-bit keys, built distributed and probed by
  * a codegen'd Catalyst expression — the semi-join pruning primitive: at
  * 100 TB you don't shuffle the fact table into a join to discard 95% of
  * it; you broadcast a few-MB filter and drop non-joining rows INSIDE the
  * fact scan stage, before the exchange.
  *
  * Bit indexes use double hashing (Kirsch–Mitzenmajer): two xxhash64
  * draws h1, h2 of the key, probe i tests bit `(h1 + i·h2) mod m` — the
  * standard construction with k probes from two hash evaluations. No
  * false negatives ever; the false-positive rate is the usual
  * `(1 - e^(-kn/m))^k`, and downstream exactness doesn't depend on it
  * because the real join still runs on the survivors.
  *
  * Sizing: `optimalNumBits`/`optimalNumHashes` are the textbook optima
  * (m = -n·ln p/ln²2, k = (m/n)·ln 2), rounded to whole words and capped
  * at [[Bloom.MaxBits]] (16 MiB of bitset) so a mis-estimated cardinality
  * degrades the fp-rate instead of the driver.
  */
object Bloom {

  /** Two independent 64-bit draws per key come from fixed distinct seeds. */
  val Seed1 = 0x9E3779B97F4A7C15L
  val Seed2 = 0xC2B2AE3D27D4EB4FL

  /** Cap: 2^27 bits = 16 MiB — broadcast-friendly at any realistic dim. */
  val MaxBits: Long = 1L << 27

  def optimalNumBits(n: Long, fpp: Double): Int = {
    require(n >= 0 && fpp > 0 && fpp < 1, s"bad bloom sizing n=$n fpp=$fpp")
    val m = math.ceil(-math.max(1L, n) * math.log(fpp) /
      (math.log(2) * math.log(2))).toLong
    val capped = math.min(MaxBits, math.max(64L, m))
    (((capped + 63) / 64) * 64).toInt
  }

  def optimalNumHashes(numBits: Long, n: Long): Int =
    math.max(1, math.round(numBits.toDouble / math.max(1L, n) *
      math.log(2)).toInt)

  /** Set the k bits of `key` in `words` (little-endian 64-bit words). */
  def set(words: Array[Long], numBits: Int, numHashes: Int, key: Long): Unit = {
    val h1 = XXH64.hashLong(key, Seed1)
    val h2 = XXH64.hashLong(key, Seed2)
    var i = 0
    while (i < numHashes) {
      val bit = ((h1 + i * h2) & Long.MaxValue) % numBits
      words((bit >>> 6).toInt) |= (1L << bit)
      i += 1
    }
  }

  def contains(words: Array[Long], numBits: Int, numHashes: Int,
      key: Long): Boolean = {
    val h1 = XXH64.hashLong(key, Seed1)
    val h2 = XXH64.hashLong(key, Seed2)
    var i = 0
    while (i < numHashes) {
      val bit = ((h1 + i * h2) & Long.MaxValue) % numBits
      if ((words((bit >>> 6).toInt) & (1L << bit)) == 0L) return false
      i += 1
    }
    true
  }

  /** Distributed build: one bitset per partition (imperative inner loop,
    * iterator-streamed — nothing materializes), OR-merged by a typed
    * `reduce`. The result is `numBits/8` bytes on the driver — the same
    * bounded-collect class as the IVF codebook (a filter, not data).
    */
  def build(keys: Dataset[Long], numBits: Int, numHashes: Int): Array[Byte] = {
    import keys.sparkSession.implicits._
    val nWords = numBits / 64
    val merged = keys.mapPartitions { it =>
      val w = new Array[Long](nWords)
      it.foreach(k => set(w, numBits, numHashes, k))
      Iterator.single(w)
    }.reduce { (a, b) =>
      val out = new Array[Long](nWords)
      var i = 0
      while (i < nWords) { out(i) = a(i) | b(i); i += 1 }
      out
    }
    serialize(merged, numHashes)
  }

  /** Wire format: [numHashes: int][numWords: int][words: long...]. */
  def serialize(words: Array[Long], numHashes: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + words.length * 8)
    bb.putInt(numHashes).putInt(words.length)
    words.foreach(bb.putLong)
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): (Int, Array[Long]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val k = bb.getInt
    val n = bb.getInt
    val words = Array.fill(n)(bb.getLong)
    (k, words)
  }

  /** Probe column: true iff `key` might be in the serialized filter. */
  def mightContain(filter: Array[Byte], key: Column): Column =
    org.apache.spark.sql.GraftBridge.column(BloomMightContain(
      Literal(filter, BinaryType),
      org.apache.spark.sql.GraftBridge.expression(key)))
}

/** `might_contain(filter, key)` as a native codegen'd expression: the
  * filter literal deserializes ONCE per expression instance (lazy), and
  * each row costs two static xxhash64 calls plus k bit probes in
  * [[mightContain]], which the generated code calls on the referenced
  * expression — no allocation, no UDF boundary, stays inside whole-stage
  * codegen in the fact table's scan stage.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom filter must be BINARY, got ${left.dataType}")
    else if (!left.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "bloom filter must be a literal/foldable expression")
    else if (right.dataType != org.apache.spark.sql.types.LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom key must be BIGINT, got ${right.dataType}")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val (numHashes, words) =
    Bloom.deserialize(left.eval().asInstanceOf[Array[Byte]])

  def mightContain(key: Long): Boolean =
    Bloom.contains(words, words.length * 64, numHashes, key)

  override protected def nullSafeEval(filter: Any, key: Any): Any =
    mightContain(key.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", this,
      classOf[BloomMightContain].getName)
    nullSafeCodeGen(ctx, ev, (_, key) =>
      s"${ev.value} = $ref.mightContain($key);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}
