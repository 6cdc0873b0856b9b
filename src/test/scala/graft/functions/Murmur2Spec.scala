package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class Murmur2Spec extends AnyFunSuite {

  // Public golden vectors for Kafka's murmur2 (same algorithm as the
  // reference's default partitioner, kafka/client/partitioners.cc:33-45).
  test("murmur2 matches Kafka golden vectors") {
    assert(Murmur2.hash("21".getBytes("UTF-8")) === -973932308)
    assert(Murmur2.hash("foobar".getBytes("UTF-8")) === -790332482)
    assert(Murmur2.hash("a-little-bit-long-string".getBytes("UTF-8")) === -985981536)
    assert(Murmur2.hash("a-little-bit-longer-string".getBytes("UTF-8")) === -1486304829)
    assert(Murmur2.hash("lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8".getBytes("UTF-8")) === -58897971)
  }

  test("partitionFor is non-negative and stable") {
    for (k <- Seq("", "a", "key-1", "éè")) {
      val p = Murmur2.partitionFor(k.getBytes("UTF-8"), 16)
      assert(p >= 0 && p < 16)
      assert(p === Murmur2.partitionFor(k.getBytes("UTF-8"), 16))
    }
  }

  test("non-power-of-2 routing: reference unsigned modulo, diverging from Kafka-Java") {
    // Golden vectors cross-checked against an independent implementation
    // of the published algorithm; reference semantics =
    // kafka/client/partitioners.cc:41-44 (uint32 % n).
    def ref(k: String) = Murmur2.partitionFor(k.getBytes("UTF-8"), 6)
    def java(k: String) = Murmur2.partitionForJavaClient(k.getBytes("UTF-8"), 6)
    assert(Murmur2.hash("a".getBytes("UTF-8")) === -1563381124)
    assert(Murmur2.hash("hello-kafka".getBytes("UTF-8")) === -540832233)
    assert(ref("a") === 0 && java("a") === 4)          // negative hash: they diverge
    assert(ref("hello-kafka") === 1 && java("hello-kafka") === 5)
    assert(ref("abc") === 3 && java("abc") === 3)      // positive hash: they agree
    // power-of-two counts always agree (low bits identical)
    for (k <- Seq("", "a", "ab", "abc", "hello-kafka", "redpanda"))
      assert(Murmur2.partitionFor(k.getBytes("UTF-8"), 16)
        === Murmur2.partitionForJavaClient(k.getBytes("UTF-8"), 16))
  }

  test("murmur2 SQL expression equals scala impl") {
    val spark = graft.SparkSpec.session
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq("21", "foobar", "x").toDF("s")
      .selectExpr("s", "murmur2(encode(s, 'UTF-8')) AS h")
    val rows = df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows("21") === -973932308)
    assert(rows("foobar") === -790332482)
    assert(rows("x") === Murmur2.hash("x".getBytes("UTF-8")))
  }

  test("register is once per session: a second call replaces no function") {
    val spark = graft.SparkSpec.session
    val reg = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("murmur2")
    GraftFunctions.register(spark)
    val first = reg.lookupFunction(id).get
    GraftFunctions.register(spark)
    assert(reg.lookupFunction(id).get eq first)
  }
}
