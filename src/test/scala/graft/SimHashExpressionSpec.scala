package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.plans.{GraftExtensions, SimHash32Expression}
import graft.sources.Tables

/** The custom codegen'd SimHash expression must be bit-identical to
  * the composed-aggregate formulation (which the DuckDB oracle
  * independently checks).
  */
class SimHashExpressionSpec extends SparkSpec {
  import spark.implicits._

  test("expression == aggregate formulation on the real documents table") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val viaExpr = Dedup.simhashes(docs).as[(Long, Long)].collect().toMap
    val viaAgg = Dedup.simhashesViaAggregate(docs).as[(Long, Long)].collect().toMap
    assert(viaExpr === viaAgg)
    assert(viaExpr.nonEmpty)
  }

  test("expression handles empty and null-ish token arrays") {
    val df = Seq(
      (1L, Seq("hello", "world")),
      (2L, Seq("", "hello", "")),  // empties skipped
      (3L, Seq("hello"))
    ).toDF("id", "toks")
      .select($"id", SimHash32Expression.simhash32($"toks").as("h"))
    // every row gets a hash: no NULL for empty tokens
    assert(df.filter($"h".isNull).count() === 0)
    val m = df.as[(Long, Long)].collect().toMap
    assert(m.keySet === Set(1L, 2L, 3L))
    // doc 2's empty tokens are skipped, leaving doc 3's one "hello"
    assert(m(2L) === m(3L))
    val single = Seq((9L, Seq("hello"))).toDF("id", "toks")
      .select(SimHash32Expression.simhash32($"toks")).as[Long].head()
    // single token: simhash == its own 32 hash bits
    assert(m(3L) === single)
  }

  test("registered SQL function matches the Column API") {
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT simhash32(array('hello', 'world'))").as[Long].head()
    val viaCol = Seq(Seq("hello", "world")).toDF("t")
      .select(SimHash32Expression.simhash32($"t")).as[Long].head()
    assert(viaSql === viaCol)
  }

  test("registered window_hashes SQL function matches the Column API") {
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT window_hashes(array('a', 'b', 'c', 'd'), 3)")
      .as[Seq[Long]].head()
    val viaCol = Seq(Seq("a", "b", "c", "d")).toDF("t")
      .select(graft.plans.WindowHashesExpression.windowHashes($"t", 3))
      .as[Seq[Long]].head()
    assert(viaSql === viaCol)
    assert(viaSql.length === 2) // 4 tokens, k=3 -> 2 windows
    // equal windows hash equal regardless of position/derivation
    val shifted = spark.sql(
      "SELECT window_hashes(array('x', 'a', 'b', 'c'), 3)")
      .as[Seq[Long]].head()
    assert(shifted(1) === viaSql(0), "window 'a b c' must hash identically")
  }

  test("window_hashes rejects k < 1 at plan time, from SQL and Column API") {
    GraftExtensions.register(spark)
    // k=0 would silently emit n+1 garbage hashes; k<0 would AIOOBE
    // inside compute — both must fail with a clear plan-time message
    for (bad <- Seq(0, -1)) {
      val eSql = intercept[Exception] {
        spark.sql(s"SELECT window_hashes(array('a', 'b'), $bad)").collect()
      }
      assert(eSql.getMessage.contains("must be >= 1"), eSql.getMessage)
      val eCol = intercept[IllegalArgumentException] {
        Seq(Seq("a", "b")).toDF("t")
          .select(graft.plans.WindowHashesExpression.windowHashes($"t", bad))
          .collect()
      }
      assert(eCol.getMessage.contains("must be >= 1"))
    }
  }

  test("hamming locality: near-identical token sets have close hashes") {
    val base = (1 to 50).map(i => s"tok$i")
    val near = base.updated(0, "changed")
    val far = (1 to 50).map(i => s"other$i")
    def h(toks: Seq[String]): Long =
      Seq(Tuple1(toks)).toDF("t")
        .select(SimHash32Expression.simhash32($"t")).as[Long].head()
    val (hb, hn, hf) = (h(base), h(near), h(far))
    val dNear = java.lang.Long.bitCount(hb ^ hn)
    val dFar = java.lang.Long.bitCount(hb ^ hf)
    assert(dNear < dFar)
  }
}
