package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.queries.{LlmQueries, PipelineQueries, QuerySpec, RelationalQueries, StreamQueries}
import graft.sources.Sources
import graft.transform.Velib

/** Driver contract: the flagship [[entry]] plus the query registry.
  *
  * Every query is one [[QuerySpec]] (name, DuckDB oracle SQL, Spark
  * build), declared in its family object's `specs`. [[specs]] joins the
  * four lists once and checks them; [[queries]] and [[oracleSql]] are
  * the driver's name-keyed views of that one list.
  */
object SparkEntry {
  /** Flagship query: the reference's core hourly slice
    * (flatten -> curate -> dedup -> latest-per-station,
    * /root/reference/airflow/dags/etl_dag.py:225-242 + the §2.8 dedup fix)
    * over the committed raw fixture. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Velib.latestPerStation(Velib.dedupSnapshots(Velib.curateStations(
      Velib.flattenStations(
        Sources.readVelibRaw(spark, s"${graft.queries.QueryUtil.fixtureRoot}/station_status.json")))))

  val specs: Seq[QuerySpec] = checked(RelationalQueries.specs ++
    PipelineQueries.specs ++ LlmQueries.specs ++ StreamQueries.specs)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracleSql).toMap

  /** `specs` unchanged, after requiring distinct names (a repeated
    * name would silently drop a query from the maps) and a non-blank
    * oracle for every spec.
    */
  private[graft] def checked(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val repeated = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty,
      s"query names registered twice: ${repeated.toSeq.sorted.mkString(", ")}")
    val blank = specs.filter(_.oracleSql.trim.isEmpty).map(_.name)
    require(blank.isEmpty, s"queries with a blank oracle: ${blank.mkString(", ")}")
    specs
  }
}
