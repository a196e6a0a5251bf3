package graft.sqlapi

import graft.SparkSpec

/** Fidelity of the Athena surface: the SQL graft executes IS the reference
  * file's literal text, and the `callcenter_analytics.` qualifier resolves
  * on a graft session. The text is checked against a committed pin of the
  * verified statements always, and against the reference checkout's
  * `sql/athena_queries.sql` as well where that file exists.
  */
class AthenaQueriesSpec extends SparkSpec {

  /** The reference checkout's own file, where one is present. */
  private val liveReference = Option(
      java.nio.file.Paths.get("/root/reference/sql/athena_queries.sql"))
    .filter(p => java.nio.file.Files.exists(p))

  /** `text`'s statements in file order: `--` lines dropped, split on `;`,
    * each trimmed. */
  private def statements(text: String): Seq[String] =
    text.linesIterator
      .filterNot(_.trim.startsWith("--"))
      .mkString("\n")
      .split(";")
      .map(_.trim)
      .filter(_.nonEmpty)
      .toSeq

  private val fileOrder = Seq(
    "daily_call_summary", "agent_performance_overview",
    "daily_duration_metrics", "top_agents", "high_failure_days")

  /** The stored statements equal `source`'s statements, one for one. */
  private def assertVerbatim(source: String, text: String): Unit = {
    val ref = statements(text)
    assert(ref.size == 5, s"$source holds ${ref.size} statements, not 5")
    fileOrder.zip(ref).foreach { case (name, expected) =>
      assert(AthenaQueries.queries(name) == expected,
        s"$name diverges from the reference file text ($source)")
    }
  }

  /** The verified statement text, committed as a test resource. */
  private val pinResource = "/graft/sqlapi/athena_queries.statements.sql"

  test("stored statements are the reference file's text, verbatim") {
    val pin = getClass.getResource(pinResource)
    assert(pin != null, s"test resource $pinResource is missing")
    assertVerbatim(pinResource, scala.util.Using.resource(pin.openStream())(
      in => new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)))
    liveReference.foreach { p =>
      assertVerbatim(p.toString, java.nio.file.Files.readString(p))
    }
  }

  test("callcenter_analytics.<table> resolves on a graft session") {
    assert(spark.conf.get("spark.sql.globalTempDatabase")
      == AthenaQueries.Database)
    import spark.implicits._
    Seq((java.sql.Date.valueOf("2026-08-12"), 4L, 1L, 1L, 1L, 25.0))
      .toDF("call_date", "total_calls", "completed_calls", "dropped_calls",
        "failed_calls", "completion_rate")
      .createOrReplaceGlobalTempView("gold_call_daily_summary")
    Seq((11, java.sql.Date.valueOf("2026-08-12"), 2L, 1L, 0L, 1L, 50.0))
      .toDF("agent_id", "call_date", "total_calls", "completed_calls",
        "dropped_calls", "failed_calls", "completion_rate")
      .createOrReplaceGlobalTempView("gold_agent_performance")
    Seq((java.sql.Date.valueOf("2026-08-12"), 120.5, 30L, 300L))
      .toDF("call_date", "avg_call_duration_seconds",
        "min_call_duration_seconds", "max_call_duration_seconds")
      .createOrReplaceGlobalTempView("gold_call_duration_metrics")

    fileOrder.foreach { name =>
      assert(AthenaQueries.run(spark, name).collect().nonEmpty,
        s"$name returned no rows over the registered views")
    }
  }
}
