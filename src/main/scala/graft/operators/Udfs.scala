package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Tables._

/** SURVEY.md §2-K — the user-extension surface: Scala UDF, typed
  * Aggregator UDAF, and typed flatMap as the sanctioned UDTF route.
  *
  * Scale notes: UDFs are codegen barriers (SURVEY §4) — these queries
  * exist to prove the extension surface works, while the hot-path
  * equivalents elsewhere (LlmOps) use built-in codegen'd expressions.
  * The UDAF is a classic partial+final aggregate: the buffer merges
  * associatively, so map-side combine still applies.
  */
object Udfs extends graft.Enrolled {

  /** Double-precision cosine; accumulation order matches the built-in
    * `aggregate(zip_with(...))` form and DuckDB's list_inner_product. */
  private val cosineFn = (a: Seq[Float], b: Seq[Float]) => {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    // min-length contract on dimension mismatch, matching fvec_dot
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Quantity-weighted average price: typed Aggregator[(price, weight)]. */
  object WeightedAvg
      extends Aggregator[(Double, Double), (Double, Double), Double] {
    def zero: (Double, Double) = (0.0, 0.0)
    def reduce(b: (Double, Double), in: (Double, Double)): (Double, Double) =
      (b._1 + in._1 * in._2, b._2 + in._2)
    def merge(x: (Double, Double), y: (Double, Double)): (Double, Double) =
      (x._1 + y._1, x._2 + y._2)
    def finish(r: (Double, Double)): Double = r._1 / r._2
    def bufferEncoder: Encoder[(Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Scala-UDF cosine over the first 10×10 embedding pairs. */
  def udfCosine(spark: SparkSession, dir: String): DataFrame = {
    val cos = udf(cosineFn)
    val emb = embeddings(spark, dir).filter(col("vec_id") < 10)
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cos(col("ea"), col("eb")), 6).as("cos"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Typed-Aggregator UDAF: quantity-weighted avg price per returnflag. */
  def udafWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val wavg = udaf(WeightedAvg)
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(round(wavg(col("l_extendedprice"), col("l_quantity")), 4)
        .as("wavg_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Typed flatMap as the UDTF surface: generate (doc_id, shingle) rows,
    * then distinct-count per doc. */
  def udtfShingles(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        text.split(" ").sliding(5).withFilter(_.length == 5)
          .map(w => (id, w.mkString(" ")))
      }
      .toDF("doc_id", "shingle")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("shingle")).as("n_shingles"),
        count(lit(1)).as("n_total"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_udf_cosine" -> udfCosine,
    "q_udaf_weighted_avg" -> udafWeightedAvg,
    "q_udtf_shingles" -> udtfShingles,
  )

  val oracle: Map[String, String] = Map(
    "q_udf_cosine" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |  sqrt(list_inner_product(embedding::DOUBLE[],
        |                          embedding::DOUBLE[])) AS nrm
        |  FROM embeddings WHERE vec_id < 10)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        | round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
        |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |ORDER BY a_id, b_id""".stripMargin,
    "q_udaf_weighted_avg" ->
      """SELECT l_returnflag,
        | round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
        |   AS wavg_price,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_udtf_shingles" ->
      """SELECT doc_id, count(DISTINCT s) AS n_shingles, count(*) AS n_total
        |FROM (SELECT doc_id, unnest(
        |  [array_to_string(tk[i:i+4], ' ')
        |   for i in range(1, greatest(len(tk) - 3, 1))]) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |        FROM documents) t) u
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )
}
