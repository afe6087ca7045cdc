package graft

import graft.functions.{CosineSimilarity, GraftExtensions}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** B10 exemplar tests: interpreted eval and whole-stage-codegen paths of
  * the custom Expression agree with each other and with a scala reference;
  * null semantics; extension injector wiring. */
class CosineSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private def refCosine(a: Seq[Float], b: Seq[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
    dot / (na * nb)
  }

  private def lit4(v: Seq[Float]) = Literal.create(v.toArray, ArrayType(FloatType))

  test("interpreted eval matches scala reference") {
    val a = Seq(0.5f, -0.25f, 0.75f, 0.1f)
    val b = Seq(-0.2f, 0.9f, 0.33f, -0.4f)
    val got = CosineSimilarity(lit4(a), lit4(b)).eval(null).asInstanceOf[Double]
    assert(math.abs(got - refCosine(a, b)) < 1e-12)
  }

  test("codegen path (DataFrame) agrees with interpreted eval") {
    val rows = Seq(
      (Seq(1.0f, 2.0f, 3.0f), Seq(3.0f, 2.0f, 1.0f)),
      (Seq(0.1f, -0.2f, 0.3f), Seq(0.3f, 0.1f, -0.9f)))
    val df = rows.toDF("a", "b")
    val fromDf = df.select(CosineSimilarity.cosine_sim($"a", $"b")).as[Double].collect()
    val fromEval = rows.map { case (a, b) =>
      CosineSimilarity(lit4(a), lit4(b)).eval(null).asInstanceOf[Double]
    }
    fromDf.zip(fromEval).foreach { case (g, e) => assert(g == e) }
  }

  test("null on length mismatch, zero norm, and null input") {
    assert(CosineSimilarity(lit4(Seq(1f, 2f)), lit4(Seq(1f, 2f, 3f))).eval(null) == null)
    assert(CosineSimilarity(lit4(Seq(0f, 0f)), lit4(Seq(1f, 2f))).eval(null) == null)
    assert(CosineSimilarity(Literal.create(null, ArrayType(FloatType)), lit4(Seq(1f)))
      .eval(null) == null)
  }

  test("SQL registration via registry and via session-extension injector") {
    // the session registry holds the manifest's own entry (Engine.install)
    val (id, info, _) = GraftExtensions.Functions.find(_._1.funcName == "cosine_sim").get
    assert(spark.sessionState.functionRegistry.lookupFunction(id).exists(_ eq info))
    val r = spark.sql("SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c")
      .as[Double].head()
    assert(math.abs(r - 1.0) < 1e-12)
    // the injector takes the same manifest without throwing
    new GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("type check rejects non-float arrays") {
    val e = CosineSimilarity(
      Literal.create(Array(1.0, 2.0), ArrayType(org.apache.spark.sql.types.DoubleType)),
      lit4(Seq(1f, 2f)))
    assert(!e.checkInputDataTypes().isSuccess)
  }
}
