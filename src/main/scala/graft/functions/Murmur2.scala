package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType}

/**
 * Kafka-compatible murmur2 hash of a byte array.
 *
 * The reference engine routes a produced record to a partition with
 * `murmur2(key) % partition_count` (see reference
 * `src/v/kafka/client/partitioners.cc:33-45`, hash impl
 * `src/v/hashing/murmur.h:38`). This expression reproduces that hash so a
 * Spark pipeline assigns byte-for-byte identical partitions for the same
 * keys. Implemented as a native Catalyst expression with codegen so it stays
 * inside whole-stage codegen (no UDF boundary) on the 100 TB ingest path.
 */
object Murmur2 {
  final val Seed: Int = 0x9747b28c

  /** Standard murmur2 (the variant Kafka uses for its default partitioner). */
  def hash(data: Array[Byte]): Int = {
    val length = data.length
    val m = 0x5bd1e995
    val r = 24
    var h = Seed ^ length
    val length4 = length / 4
    var i = 0
    while (i < length4) {
      val i4 = i * 4
      var k = (data(i4) & 0xff) +
        ((data(i4 + 1) & 0xff) << 8) +
        ((data(i4 + 2) & 0xff) << 16) +
        ((data(i4 + 3) & 0xff) << 24)
      k *= m
      k ^= k >>> r
      k *= m
      h *= m
      h ^= k
      i += 1
    }
    // Handle the last few bytes of the input array
    val rem = length % 4
    if (rem >= 3) h ^= (data((length & ~3) + 2) & 0xff) << 16
    if (rem >= 2) h ^= (data((length & ~3) + 1) & 0xff) << 8
    if (rem >= 1) { h ^= data(length & ~3) & 0xff; h *= m }
    h ^= h >>> 13
    h *= m
    h ^= h >>> 15
    h
  }

  /**
   * Key→partition routing, matching the REFERENCE client's partitioner:
   * unsigned uint32 modulo (`kafka/client/partitioners.cc:41-44` computes
   * `murmur2(key) % partition_count` on a uint32_t). This deliberately
   * follows the reference, not Kafka-Java's `toPositive(hash) % n`
   * ([[partitionForJavaClient]]): the two agree for power-of-two counts
   * and diverge otherwise (golden-tested in Murmur2Spec).
   */
  def partitionFor(key: Array[Byte], numPartitions: Int): Int =
    ((hash(key) & 0xffffffffL) % numPartitions).toInt

  /** Kafka-Java's default partitioner: toPositive(murmur2(key)) % n
    * (Utils.toPositive in the Java client). Kept for ecosystems pinned to
    * Java-client routing. */
  def partitionForJavaClient(key: Array[Byte], numPartitions: Int): Int =
    (hash(key) & 0x7fffffff) % numPartitions
}

/** `murmur2(bytes) -> int` Catalyst expression (registered as SQL `murmur2`). */
case class Murmur2Hash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"murmur2 requires BINARY input, got ${child.dataType}")
  override def prettyName: String = "murmur2"

  override protected def nullSafeEval(input: Any): Any =
    Murmur2.hash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Murmur2.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Murmur2Hash =
    copy(child = newChild)
}

/** Session registration for graft SQL functions. */
object GraftFunctions {
  /** Registers every graft function once per session. Callers on a
    * per-request path call this each time; re-registering would replace
    * every function and log a warning for each. `runtime_constant` is
    * registered last, so its presence means the whole set is there. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("runtime_constant"))) return
    reg.createOrReplaceTempFunction(
      "murmur2", (args: Seq[Expression]) => Murmur2Hash(args.head), "built-in")
    reg.createOrReplaceTempFunction(
      "vec_dot", (args: Seq[Expression]) => VecDot(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "vec_norm", (args: Seq[Expression]) => VecNorm(args.head), "built-in")
    // the second argument parameterizes codegen, so it must be a
    // literal — reject non-foldable args at analysis time instead of
    // crashing in eval()
    def litInt(fn: String, e: Expression): Int = {
      if (!e.foldable)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "NON_FOLDABLE_ARGUMENT",
          messageParameters = Map("funcName" -> s"`$fn`",
            "paramName" -> "`size`", "paramType" -> "\"INT\""))
      e.eval() match {
        case n: Number => n.intValue()
        case other =>
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "UNEXPECTED_INPUT_TYPE",
            messageParameters = Map("functionName" -> s"`$fn`",
              "paramIndex" -> "second", "requiredType" -> "\"INT\"",
              "inputSql" -> s"\"${e.sql}\"",
              "inputType" -> (if (other == null) "\"NULL\"" else s"\"${e.dataType.sql}\"")))
      }
    }
    // Wrong argument counts should be AnalysisExceptions, not
    // IndexOutOfBounds from blind args(i) indexing.
    def arity(fn: String, args: Seq[Expression], lo: Int, hi: Int): Unit =
      if (args.size < lo || args.size > hi)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map("functionName" -> s"`$fn`",
            "expectedNum" -> (if (lo == hi) s"$lo" else s"[$lo, $hi]"),
            "actualNum" -> args.size.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
    reg.createOrReplaceTempFunction(
      "vec_sign_sketch", (args: Seq[Expression]) => {
        arity("vec_sign_sketch", args, 2, 2)
        VecSignSketch(args(0), litInt("vec_sign_sketch", args(1)))
      }, "built-in")
    reg.createOrReplaceTempFunction(
      "span_window_hashes", (args: Seq[Expression]) => {
        arity("span_window_hashes", args, 2, 2)
        SpanWindowHashes(args(0), litInt("span_window_hashes", args(1)))
      }, "built-in")
    reg.createOrReplaceTempFunction(
      "poly_fingerprint", (args: Seq[Expression]) =>
        PolyFingerprint(args.head), "built-in")
    reg.createOrReplaceTempFunction(
      "repetition_ngram_stats", (args: Seq[Expression]) =>
        RepetitionNgramStats(args.head), "built-in")
    reg.createOrReplaceTempFunction(
      "minhash_signature", (args: Seq[Expression]) => {
        arity("minhash_signature", args, 2, 2)
        MinhashSignature(args.head, litInt("minhash_signature", args(1)))
      }, "built-in")
    reg.createOrReplaceTempFunction(
      "simhash_fingerprint", (args: Seq[Expression]) =>
        SimhashFingerprint(args.head), "built-in")
    reg.createOrReplaceTempFunction(
      "minhash_bands", (args: Seq[Expression]) => {
        arity("minhash_bands", args, 4, 4)
        MinhashBands(args.head, litInt("minhash_bands", args(1)),
          litInt("minhash_bands", args(2)), litInt("minhash_bands", args(3)))
      }, "built-in")
    reg.createOrReplaceTempFunction(
      "profile_classify", (args: Seq[Expression]) => {
        arity("profile_classify", args, 4, 4)
        def litStr(e: Expression): String = {
          if (!e.foldable)
            throw new org.apache.spark.sql.AnalysisException(
              errorClass = "NON_FOLDABLE_ARGUMENT",
              messageParameters = Map("funcName" -> "`profile_classify`",
                "paramName" -> "`profiles`", "paramType" -> "\"STRING\""))
          e.eval().toString
        }
        ProfileClassify(args.head, litInt("profile_classify", args(1)),
          litInt("profile_classify", args(2)),
          ProfileClassify.parseProfiles(litStr(args(3))))
      }, "built-in")
    reg.createOrReplaceTempFunction(
      "kafka_batch_encode", (args: Seq[Expression]) => {
        arity("kafka_batch_encode", args, 1, 2)
        KafkaBatchEncode(args.head,
          if (args.size > 1) litInt("kafka_batch_encode", args(1)) else 0)
      }, "built-in")
    reg.createOrReplaceTempFunction(
      "kafka_batch_decode", (args: Seq[Expression]) =>
        KafkaBatchDecode(args.head), "built-in")
    reg.createOrReplaceTempFunction(
      "top_gram_profile", (args: Seq[Expression]) => {
        arity("top_gram_profile", args, 3, 3)
        TopGramProfile(args.head,
          litInt("top_gram_profile", args(1)),
          litInt("top_gram_profile", args(2)))
      }, "built-in")
    reg.createOrReplaceTempFunction(
      "kafka_batch_normalize", (args: Seq[Expression]) =>
        KafkaBatchNormalize(args.head), "built-in")
    reg.createOrReplaceTempFunction(
      "kafka_batch_recompress", (args: Seq[Expression]) => {
        arity("kafka_batch_recompress", args, 3, 3)
        KafkaBatchRecompress(args.head, args(1),
          litInt("kafka_batch_recompress", args(2)))
      }, "built-in")
    reg.createOrReplaceTempFunction(
      "runtime_constant", (args: Seq[Expression]) => {
        arity("runtime_constant", args, 1, 1)
        RuntimeConstant(args.head)
      }, "built-in")
  }
}
