package graft.sqlapi

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.CallCenterPipeline.LakePaths
import graft.pipeline.CallCenterPipeline

/** The reference's read-side API: the five Athena queries run VERBATIM —
  * [[queries]] holds the literal statement text of
  * sql/athena_queries.sql:7-63, including the `callcenter_analytics.`
  * database qualifier. `AthenaQueriesSpec` checks it character for
  * character, comments and trailing `;` aside: always against the committed
  * pin of the verified text (test resource
  * `graft/sqlapi/athena_queries.statements.sql`), and against
  * `sql/athena_queries.sql` itself where a reference checkout is present.
  *
  * The qualifier resolves without copying a byte of data: graft sessions
  * set `spark.sql.globalTempDatabase=callcenter_analytics`
  * ([[graft.Sessions.builder]]) — a public static Spark conf that renames
  * the global-temp-view database — and [[registerViews]] registers each
  * gold MergeTable snapshot as a global temp view, so
  * `callcenter_analytics.gold_call_daily_summary` is a catalog-qualified
  * read of the live snapshot (the Glue-catalog analog; SURVEY.md §3.3).
  * On a session built elsewhere (where the static conf can no longer be
  * set), [[run]] falls back to stripping the qualifier and serving the
  * same snapshot through unqualified temp views — same plan, same rows.
  *
  * Athena's dialect in these queries is 100% ANSI-compatible with Spark
  * SQL: only SELECT / WHERE / GROUP BY / ORDER BY / LIMIT / ROUND / AVG
  * appear. Spark plans each ORDER BY+LIMIT as `TakeOrderedAndProject` — a
  * true distributed top-k, no full sort (SURVEY.md §2.7).
  */
object AthenaQueries {

  /** The database the reference's SQL addresses (athena_queries.sql:3). */
  val Database = "callcenter_analytics"

  /** Literal statement text from sql/athena_queries.sql (statement order =
    * file order; names are graft's registry handles).
    */
  val queries: Map[String, String] = Map(
    // 1. Daily Call Summary (latest days first) — sql:7-16
    "daily_call_summary" ->
      """SELECT
        |    call_date,
        |    total_calls,
        |    completed_calls,
        |    dropped_calls,
        |    failed_calls,
        |    completion_rate
        |FROM callcenter_analytics.gold_call_daily_summary
        |ORDER BY call_date DESC
        |LIMIT 10""".stripMargin,
    // 2. Agent Performance Overview — sql:20-30
    "agent_performance_overview" ->
      """SELECT
        |    agent_id,
        |    call_date,
        |    total_calls,
        |    completed_calls,
        |    dropped_calls,
        |    failed_calls,
        |    completion_rate
        |FROM callcenter_analytics.gold_agent_performance
        |ORDER BY call_date DESC, agent_id
        |LIMIT 20""".stripMargin,
    // 3. Daily Call Duration Metrics — sql:34-41
    "daily_duration_metrics" ->
      """SELECT
        |    call_date,
        |    avg_call_duration_seconds,
        |    min_call_duration_seconds,
        |    max_call_duration_seconds
        |FROM callcenter_analytics.gold_call_duration_metrics
        |ORDER BY call_date DESC
        |LIMIT 10""".stripMargin,
    // 4. Top Performing Agents (by completion rate) — sql:45-51
    "top_agents" ->
      """SELECT
        |    agent_id,
        |    AVG(completion_rate) AS avg_completion_rate
        |FROM callcenter_analytics.gold_agent_performance
        |GROUP BY agent_id
        |ORDER BY avg_completion_rate DESC
        |LIMIT 5""".stripMargin,
    // 5. Days with High Call Failures — sql:55-63
    "high_failure_days" ->
      """SELECT
        |    call_date,
        |    failed_calls,
        |    total_calls,
        |    ROUND((failed_calls * 100.0) / total_calls, 2) AS failure_rate_pct
        |FROM callcenter_analytics.gold_call_daily_summary
        |WHERE total_calls > 0
        |ORDER BY failure_rate_pct DESC
        |LIMIT 10""".stripMargin,
  )

  /** Register the three gold tables under `callcenter_analytics.` (global
    * temp views — the Glue-catalog analog) AND unqualified (plain temp
    * views — the fallback namespace). Both point at the same snapshot read;
    * nothing is copied.
    */
  def registerViews(spark: SparkSession, p: LakePaths): Unit =
    CallCenterPipeline.goldTables(p).foreach { case (name, (table, _)) =>
      val df = table.read(spark)
      df.createOrReplaceTempView(name)
      df.createOrReplaceGlobalTempView(name)
    }

  /** Execute one of the reference's queries. On graft sessions the literal
    * text runs as-is (the global-temp database IS `callcenter_analytics`);
    * on foreign sessions the qualifier is stripped so the unqualified temp
    * views serve the identical snapshot.
    */
  def run(spark: SparkSession, name: String): DataFrame = {
    val sql = queries(name)
    val verbatimOk =
      spark.conf.getOption("spark.sql.globalTempDatabase").contains(Database)
    spark.sql(if (verbatimOk) sql else sql.replace(Database + ".", ""))
  }
}
