package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** An object that enrolls rows: its batch queries and, for the rows
  * expressible in SQL, their DuckDB oracle text. */
trait Enrolled {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Aggregates.pricingSummary(spark, "/root/testdata/sf0.001")

  /** Every enrolling object, once. The order is the merge order of
    * both views below, so it fixes their iteration order. */
  lazy val enrolled: Seq[Enrolled] = Seq(
    operators.Scans, operators.Filters, operators.Joins,
    operators.Aggregates, operators.Windows, operators.SortsSets,
    operators.ScalarFuncs, operators.LlmOps, operators.Udfs,
    operators.Reshape, operators.Subqueries, operators.Layout,
    operators.TimeSeries, operators.ModelPrep, operators.Graph,
    operators.Maintenance, operators.Analytics, operators.Curation,
    operators.Evaluation, operators.Warehouse, operators.Governance,
    multimodal.Multimodal, GraftCatalog)

  /** Left-to-right `++` of `maps`, failing on a name that two maps
    * share — plain `++` would let the later one silently shadow it. */
  def merged[V](maps: Seq[Map[String, V]]): Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity).collect {
      case (name, hits) if hits.size > 1 => name }
    require(dups.isEmpty,
      s"row names enrolled twice: ${dups.toSeq.sorted.mkString(", ")}")
    maps.reduceLeft(_ ++ _)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(enrolled.map(_.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = merged(enrolled.map(_.oracle))
}
