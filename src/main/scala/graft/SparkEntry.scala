package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All operators are declared as [[GQuery]] values in the per-domain packs;
  * this object only assembles them. Queries with `oracle = Some(sql)` are
  * hash-compared against DuckDB at sf0.01; the rest get rows-only checks
  * (approximate/streaming/fixture-graph operators whose semantics are not
  * ANSI-SQL-expressible).
  */
object SparkEntry {

  val registry: Seq[GQuery] =
    operators.Relational.all ++
      operators.GraphQueries.all ++
      operators.EveQueries.all ++
      operators.TemporalJoins.all ++
      operators.Dedup.all ++
      operators.Similarity.all ++
      operators.TextOps.all ++
      operators.Multimodal.all ++
      operators.Sampling.all ++
      operators.Curate.all ++
      operators.Profile.all ++
      streaming.EventsStream.all ++
      streaming.StreamServe.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's own flagship: bootstrap the star map and answer
    * /shortest-route/Jita/to/Amarr. */
  def entry(spark: SparkSession): DataFrame =
    queries("eve_shortest_route")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
