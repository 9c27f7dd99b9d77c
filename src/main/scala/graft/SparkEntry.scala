package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates the per-package query maps; every entry in `queries`
  * that is SQL-expressible has a DuckDB twin in `oracleSql`.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full synthetic crawl (frontier drain) at tiny scale and
    * returns the committed crawl order — SURVEY.md §7 step 7. */
  def entry(spark: SparkSession): DataFrame =
    graft.crawl.Flagship.run(spark)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.all ++
      graft.queries.Text.all ++
      graft.queries.Dedup.all ++
      graft.queries.Embed.all ++
      graft.queries.Engine.all ++
      graft.queries.Cue.all

  /** Numeric id of a query name (`q07_foo` → 7). */
  def queryId(name: String): Option[Int] =
    "^q(\\d+)".r.findFirstMatchIn(name).map(_.group(1).toInt)

  /** Ids of the queries that read the flagship crawl engine, whose
    * tables must be built before any of them runs. */
  val EngineQueryIds: Set[Int] = graft.queries.Engine.all.keySet.flatMap(queryId)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Engine-backed queries (q30-q37, q44-q50)
    * read the raw snapshot-table dumps Verify writes to a SIBLING dir
    * of the result dir (outside the driver's parquet-globbed result
    * namespace) — their SQL carries a `{{DUMPS}}` placeholder that
    * Verify substitutes with the absolute dump dir. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracle ++
      graft.queries.Text.oracle ++
      graft.queries.Dedup.oracle ++
      graft.queries.Embed.oracle ++
      graft.queries.Engine.oracle ++
      graft.queries.Cue.oracle
}
