package graft.functions

import graft.SparkSpec
import graft.ext.{Dedup, DedupOracle}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, GraftBridge, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, XxHash64}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Every kernel expression in `graft.functions`, one table row each:
  * direct `eval` over literal inputs equals the whole-stage-codegen
  * projection of the same rows, bit for bit, on edge inputs (empty, one
  * element, duplicates, nulls, multibyte UTF-8, sizes at the caps). Rows
  * whose kernel once carried a second, hand-written generated loop also
  * meet an independent twin: a builtin or higher-order-function form over
  * the same row, or values derived by hand from the definition.
  */
class KernelSpec extends SparkSpec {

  /** `kernel` over the columns of `schema`, fed `rows`. `twin` is a
    * builtin form over the same columns; `expected` are hand-derived
    * outputs, one per row.
    */
  private case class Kernel(name: String, schema: StructType,
      rows: Seq[Row], kernel: Seq[Expression] => Expression,
      twin: Option[Seq[Column] => Column] = None,
      expected: Seq[Any] = Nil)

  private def schema(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  /** Deterministic pseudo-random stream (splitmix64). */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  private def floats(n: Int, seed: Long): Seq[Float] =
    (0 until n).map(i => ((mix(seed * 7919L + i) >>> 40) % 2001L - 1000L)
      .toFloat / 997f)
  private def longs(n: Int, seed: Long): Seq[Long] =
    (0 until n).map(i => mix(seed * 104729L + i))

  private val multibyte = "日本 語 テキスト ü ü naïve 🙂 语 日本 語"
  private val longText =
    (0 until 3000).map(i => s"w${mix(i) & 63}").mkString(" ")

  // ---- twins ---------------------------------------------------------

  /** `aggregate(zip_with(..))` over the common prefix: the HOF form the
    * dot products replaced, same sequential double accumulation.
    */
  private def dotTwin(c: Seq[Column]): Column = {
    val n = least(size(c(0)), size(c(1)))
    when(c(0).isNotNull && c(1).isNotNull,
      aggregate(zip_with(slice(c(0), lit(1), n), slice(c(1), lit(1), n),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v))
  }

  /** Bit j set iff more hashes have bit j set than clear. */
  private def simhashTwin(bits: Int)(c: Seq[Column]): Column =
    when(c(0).isNotNull, (0 until bits).map { j =>
      val votes = aggregate(c(0), lit(0), (acc, h) => acc +
        when(shiftrightunsigned(h, j).bitwiseAND(1L) === 1L, 1)
          .otherwise(-1))
      when(votes > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _))

  /** `array_min(transform(.., s -> xxhash64(j, s)))` per slot — the HOF
    * form MinHashSignature replaced; an empty array's slot is
    * Long.MaxValue, the kernel's starting minimum.
    */
  private def minhashTwin(k: Int)(c: Seq[Column]): Column =
    when(c(0).isNotNull, array((0 until k).map { j =>
      coalesce(array_min(transform(c(0), s => xxhash64(lit(j), s))),
        lit(Long.MaxValue))
    }: _*))

  /** The k double-hashed bit probes from builtins: xxhash64 with the
    * filter's seeds, then each bit's word read and tested. Long `+`/`*`
    * wrap here as in the JVM (ANSI is off in [[compiled]]).
    */
  private def bloomTwin(words: Array[Long], numHashes: Int)(
      c: Seq[Column]): Column = {
    def h(seed: Long) =
      GraftBridge.column(new XxHash64(Seq(GraftBridge.expression(c(0))),
        seed))
    val numBits = words.length * 64L
    when(c(0).isNotNull, (0 until numHashes).map { i =>
      val bit = (h(Bloom.Seed1) + h(Bloom.Seed2) * lit(i.toLong))
        .bitwiseAND(lit(Long.MaxValue)) % lit(numBits)
      val word = element_at(typedLit(words.toSeq),
        shiftright(bit, 6).cast("int") + 1)
      word.bitwiseAND(call_function("shiftleft", lit(1L),
        (bit % 64).cast("int"))) =!= 0L
    }.reduce(_ && _))
  }

  // ---- the table -----------------------------------------------------

  private val floatPair = schema("a" -> ArrayType(FloatType),
    "b" -> ArrayType(FloatType))
  private val doublePair = schema("a" -> ArrayType(DoubleType),
    "b" -> ArrayType(DoubleType))
  private val longArr = schema("h" -> ArrayType(LongType))
  private val stringArr = schema("s" -> ArrayType(StringType))
  private val text = schema("t" -> StringType)
  private val floatArr = schema("e" -> ArrayType(FloatType))
  private val ints = schema("x" -> IntegerType, "y" -> IntegerType)

  private val floatPairs: Seq[Row] = Seq(
    Row(Seq.empty[Float], Seq.empty[Float]),
    Row(Seq(1.5f), Seq(-2.25f)),
    Row(Seq(0.1f, 0.1f, 0.1f), Seq(0.3f, 0.3f, 0.3f)),
    Row(Seq(1f, 2f, 3f), Seq(4f, 5f)),
    Row(Seq(Float.MaxValue, -0.0f, 1e-30f),
      Seq(Float.MaxValue, 0.0f, 1e-30f)),
    Row(null, Seq(1f)),
    Row(Seq(1f), null),
    Row(floats(64, 1), floats(64, 2)),
    Row(floats(4096, 3), floats(4096, 4)))

  private val longArrays: Seq[Row] = Seq(
    Row(Seq.empty[Long]),
    Row(Seq(5L)),
    Row(Seq(5L, 5L, 5L, -1L)),
    Row(Seq(Long.MinValue, Long.MaxValue, 0L, -1L)),
    Row(null),
    Row(longs(1000, 5)))

  private val texts: Seq[Row] = Seq(Row(""), Row("a"), Row("a b"),
    Row("a a a a a"), Row("x  y  x  y"), Row(null), Row(multibyte),
    Row(longText))

  /** Bloom filter over every third key in [0, 300) plus the extremes. */
  private val bloomKeys = (0L until 300L by 3L) ++ Seq(Long.MinValue,
    Long.MaxValue)
  private val (bloomBytes, bloomWords) = {
    val w = new Array[Long](16)
    bloomKeys.foreach(Bloom.set(w, 1024, 5, _))
    (Bloom.serialize(w, 5), w)
  }

  /** Two subspaces × three centroids × four dims; centroids 1 and 2 of
    * subspace 0 are equal, so their distances tie.
    */
  private val pqBooks: Array[Float] = {
    val b = floats(24, 11).toArray
    System.arraycopy(b, 4, b, 8, 4)
    b
  }
  /** Four centroids of dim 4; centroids 0 and 2 are equal (a tie). */
  private val rankBooks: Array[Float] = {
    val b = floats(16, 12).toArray
    System.arraycopy(b, 0, b, 8, 4)
    b
  }
  private val embeddings: Seq[Row] = Seq(
    Row(Seq.empty[Float]),
    Row(Seq(0.5f)),
    Row(Seq(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)),
    Row(pqBooks.slice(4, 8).toSeq ++ pqBooks.slice(16, 20).toSeq),
    Row(floats(10, 13)),
    Row(Seq(Float.NaN, 0f, -0.0f, 1f)),
    Row(null),
    Row(floats(8, 14)))

  /** (x, y) on the 2^bits grid with the hand-derived curve positions of
    * the four corners: start (0, 0), upper-left corner (4^bits − 1)/3,
    * upper-right corner 2·(4^bits − 1)/3, end (2^bits − 1, 0).
    */
  private def hilbertCorners(bits: Int): (Seq[Row], Seq[Any]) = {
    val m = ((1L << bits) - 1).toInt
    val cells = (1L << (2 * bits)) - 1
    (Seq(Row(0, 0), Row(0, m), Row(m, m), Row(m, 0), Row(m, 0),
      Row(null, 1), Row(1, null)),
      Seq(0L, cells / 3, 2 * cells / 3, cells, cells, null, null))
  }

  private val kernels: Seq[Kernel] = {
    val (h1, h1Want) = hilbertCorners(1)
    val (h16, h16Want) = hilbertCorners(16)
    val (h31, h31Want) = hilbertCorners(31)
    val probes = (0L until 300L).map(Row(_)) ++ Seq(Row(Long.MinValue),
      Row(Long.MaxValue), Row(null), Row(7L), Row(7L))
    Seq(
      Kernel("DotProductFF", floatPair, floatPairs,
        c => DotProductFF(c(0), c(1)), Some(dotTwin)),
      Kernel("DotProductDD", doublePair,
        floatPairs.map(r => Row(r.toSeq.map {
          case null => null
          case s: Seq[_] => s.map(_.asInstanceOf[Float] / 3.0)
        }: _*)),
        c => DotProductDD(c(0), c(1)), Some(dotTwin)),
      Kernel("SimHashFingerprint, 1 bit", longArr, longArrays,
        c => SimHashFingerprint(c(0), 1), Some(simhashTwin(1))),
      Kernel("SimHashFingerprint, 32 bits", longArr, longArrays,
        c => SimHashFingerprint(c(0), 32), Some(simhashTwin(32))),
      Kernel("SimHashFingerprint, 64 bits", longArr, longArrays,
        c => SimHashFingerprint(c(0), 64), Some(simhashTwin(64))),
      Kernel("HilbertIndex, 1 bit", ints, h1,
        c => HilbertIndex(c(0), c(1), 1),
        expected = h1Want),
      Kernel("HilbertIndex, 16 bits", ints,
        h16 ++ Seq(Row(12345, 54321), Row(1, 65534)),
        c => HilbertIndex(c(0), c(1), 16),
        expected = h16Want),
      Kernel("HilbertIndex, 31 bits", ints, h31,
        c => HilbertIndex(c(0), c(1), 31),
        expected = h31Want),
      Kernel("MinHashSignature, k=1", longArr, longArrays,
        c => MinHashSignature(c(0), 1), Some(minhashTwin(1))),
      Kernel("MinHashSignature, k=32", longArr, longArrays,
        c => MinHashSignature(c(0), Dedup.MinhashK),
        Some(minhashTwin(Dedup.MinhashK))),
      Kernel("BloomMightContain", schema("k" -> LongType), probes,
        c => BloomMightContain(Literal(bloomBytes, BinaryType), c(0)),
        Some(bloomTwin(bloomWords, 5))),
      Kernel("NgramIdsKernel, n=1", text, texts,
        c => NgramIdsKernel(c(0), 1)),
      Kernel("NgramIdsKernel, n=3", text, texts,
        c => NgramIdsKernel(c(0), 3)),
      Kernel("NgramStringsKernel, n=3", text, texts,
        c => NgramStringsKernel(c(0), 3)),
      Kernel("OrderedPairs", longArr,
        longArrays.take(5) :+ Row((0L until 300L).map(_ % 7L)),
        c => OrderedPairs(c(0), "a", "b")),
      Kernel("PortableMinHashSig", stringArr, Seq(Row(Seq.empty[String]),
          Row(Seq("a b c")), Row(Seq("x", "x", "y")), Row(null),
          Row(multibyte.split(" ").toSeq),
          Row((0 until 500).map(i => s"s$i ü"))),
        c => PortableMinHashSig(c(0),
          Array.tabulate(Dedup.MinhashK)(Dedup.slotA),
          Array.tabulate(Dedup.MinhashK)(Dedup.slotB), Dedup.SlotMod)),
      Kernel("PqNearestCentroids", floatArr, embeddings,
        c => PqNearestCentroids(c(0), pqBooks, 2, 3, 4)),
      Kernel("CentroidRank", floatArr, embeddings,
        c => CentroidRank(c(0), rankBooks, Array(3, 7, 9, 12), 4)))
  }

  // ---- the two paths -------------------------------------------------

  /** Doubles and floats by their bits, so `-0.0`/NaN payloads count. */
  private def canon(v: Any): Any = v match {
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case f: Float => ("f", java.lang.Float.floatToRawIntBits(f))
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case r: Row => r.toSeq.map(canon).toList
    case x => x
  }

  private def direct(k: Kernel): Seq[Any] = k.rows.map { r =>
    val e = k.kernel(k.schema.fields.indices.map(i =>
      Literal.create(r.get(i), k.schema(i).dataType)))
    CatalystTypeConverters.convertToScala(e.eval(null), e.dataType)
  }

  /** (kernel, twin) per row. The kernel runs in a whole-stage-codegen
    * projection over an RDD scan (not a local relation, which the
    * optimizer would fold by interpreting the kernel); codegen failures
    * throw instead of falling back to the interpreted path.
    */
  private def compiled(k: Kernel): Seq[(Any, Any)] = {
    val confs = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.ansi.enabled" -> "false")
    confs.foreach { case (key, v) => spark.conf.set(key, v) }
    try {
      val rows = k.rows.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(i +: r.toSeq) }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        StructType(StructField("i", IntegerType) +: k.schema.fields))
      val cols = k.schema.fieldNames.toSeq.map(col)
      val e = k.kernel(cols.map(GraftBridge.expression))
      val out = df.select(col("i"), GraftBridge.column(e).as("k"))
      val projected = out.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w.child.collect {
          case p: ProjectExec => p.projectList }.flatten
      }.flatten
      assert(projected.exists(_.find(_.getClass == e.getClass).isDefined),
        s"${k.name} is not in a whole-stage-codegen projection")
      // a higher-order twin keeps its projection out of whole-stage
      // codegen, so it runs as its own projection
      val twin = df.select(col("i"), k.twin.fold(lit(null))(_(cols)))
      def values(d: org.apache.spark.sql.DataFrame) =
        d.collect().sortBy(_.getInt(0)).toSeq.map(_.get(1))
      values(out).zip(values(twin))
    } finally confs.foreach { case (key, _) => spark.conf.unset(key) }
  }

  kernels.foreach { k =>
    val twinned = k.twin.isDefined || k.expected.nonEmpty
    test(s"${k.name}: eval equals whole-stage codegen" +
        (if (twinned) " and the twin" else "")) {
      val got = compiled(k)
      val want = direct(k)
      got.map(_._1).zip(want).zipWithIndex.foreach { case ((c, d), i) =>
        assert(canon(c) === canon(d), s"row $i: codegen $c vs eval $d")
      }
      if (k.twin.isDefined)
        got.zipWithIndex.foreach { case ((c, t), i) =>
          assert(canon(c) === canon(t), s"row $i: kernel $c vs twin $t")
        }
      if (k.expected.nonEmpty)
        assert(want.take(k.expected.size) === k.expected)
    }
  }

  test("the table covers every kernel expression in graft.functions") {
    val Decl = ("case class (\\w+)\\([^)]*\\)\\s*extends " +
      "(?:Unary|Binary)Expression").r
    val list = Files.list(Paths.get("src/main/scala/graft/functions"))
    val declared =
      try list.iterator.asScala.toList.flatMap { f =>
        Decl.findAllMatchIn(Files.readString(f)).map(_.group(1)) }.toSet
      finally list.close()
    val covered = kernels.map(k => k.kernel(Seq(Literal(0), Literal(0)))
      .getClass.getSimpleName).toSet
    assert(declared.size === 12 && covered === declared)
  }

  test("no generated loop is written by hand in src/main") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val hits =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .filter(f => Files.readString(f).contains("ctx.freshName")).toList
      finally walk.close()
    assert(hits.isEmpty, s"ctx.freshName in $hits: call the kernel's own " +
      "method from doGenCode instead")
  }

  test("the aggregated dedup references equal the narrow kernels") {
    import spark.implicits._
    val docs = Seq((1L, multibyte), (2L, "a a a a a"), (3L, "a b c d e f"),
      (4L, "one"), (5L, longText), (6L, "a b c d e f"))
      .toDF("doc_id", "text")
    assert(Dedup.simhash(docs).as[(Long, Long)].collect().toMap ===
      DedupOracle.simhashAgg(docs).as[(Long, Long)].collect().toMap)
    val narrow = Dedup.minhashSignaturesPortableNarrow(
      Dedup.shingleStrArrays(docs))
    assert(narrow.as[(Long, Seq[Long])].collect().toMap ===
      DedupOracle.minhashSignaturesPortable(Dedup.shingles(docs))
        .as[(Long, Seq[Long])].collect().toMap)
  }
}
