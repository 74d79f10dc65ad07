package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.pipeline.DataQuality._

/** The quality gate on passing and failing fixtures: every check kind
  * counts its violations correctly, missing columns fail rather than
  * crash, and the enforce form throws with the offending checks named. */
class DataQualitySpec extends SparkSuite {

  private def fixture = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Some("a"), 10.0, Some("x")),
      (2L, None, 5.0, Option.empty[String]),
      (2L, Some("c"), -1.0, Some("x")),
      (3L, Some("d"), 7.5, None)
    ).toDF("id", "name", "score", "tag")
  }

  test("clean data passes every check") {
    val rep = report(fixture.filter(col("id") === 1),
      Seq(HasColumn("id"), NotNull("id"), InRange("score", 0, 100),
        Unique("id"), RowCount(min = 1)))
    assert(rep.filter(!col("passed")).count() == 0)
    assert(rep.count() == 5)
  }

  test("violations are counted per check") {
    val rep = report(fixture,
      Seq(NotNull("name"), InRange("score", 0, 100), Unique("id"),
        RowCount(min = 10), HasColumn("nope"), NotNull("nope"),
        Unique("tag")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getBoolean(4))).toMap
    assert(rep(("not_null", "name")) == (1L, false))
    assert(rep(("in_range", "score")) == (1L, false)) // the -1.0
    assert(rep(("unique", "id")) == (1L, false)) // one extra dup of id=2
    assert(rep(("row_count", "")) == (1L, false)) // 4 rows < min 10
    assert(rep(("has_column", "nope")) == (1L, false))
    assert(rep(("not_null", "nope")) == (1L, false)) // missing → fails, no crash
    // one extra "x", and the two nulls group as one key: one extra null
    assert(rep(("unique", "tag")) == (2L, false))
  }

  test("building the report runs no job; collecting it runs the one plan") {
    val checks = Seq(HasColumn("id"), HasColumn("nope"), NotNull("name"),
      InRange("score", 0, 100), Unique("id"), RowCount(min = 1))
    val df = fixture
    assert(jobsOf { report(df, checks); () } == 0)
    val rep = report(df, checks)
    assert(rep.count() == checks.size)
    assert(rep.select("check", "col").collect().toSeq.map(r =>
      (r.getString(0), r.getString(1))) == Seq(("has_column", "id"),
      ("has_column", "nope"), ("in_range", "score"), ("not_null", "name"),
      ("row_count", ""), ("unique", "id")))
  }

  test("one aggregation pass: row-level checks do not multiply scans") {
    val df = fixture
    val rep = report(df, Seq(NotNull("id"), NotNull("name"),
      InRange("score", 0, 100), RowCount(min = 1)))
    // all four scalar checks come back from one agg: same total everywhere
    assert(rep.select("total").distinct().count() == 1)
  }

  test("enforce throws naming the failed checks; passes clean data") {
    val e = intercept[IllegalArgumentException] {
      enforce(fixture, Seq(NotNull("name"), Unique("id")), "fixture")
    }
    assert(e.getMessage.contains("not_null(name)"))
    assert(e.getMessage.contains("unique(id)"))
    enforce(fixture, Seq(NotNull("id"), RowCount(min = 1)), "fixture")
  }

  test("pipeline gate rejects a processed zone violating the bar contract") {
    val s = spark
    import s.implicits._
    val bad = Seq((Option.empty[String], "2026-01-01 00:00:00+00:00", 1.0))
      .toDF("symbol", "Datetime", "Close")
      .withColumn("Datetime", to_timestamp(col("Datetime")))
    val e = intercept[IllegalArgumentException] {
      enforce(bad, barChecks, "processed/BAD")
    }
    assert(e.getMessage.contains("not_null(symbol)"))
  }

  // The star-schema tables q130 audits are fully consistent, so the
  // violated path — real orphans AND a NULL FK — is pinned here.
  test("fkEdge counts real orphans and NULL foreign keys") {
    val s = spark
    import s.implicits._
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(9L), None)
      .toDF("fk")
    val row = graft.queries.QualityQueries
      .fkEdge("child.fk->parent", child, "fk", parent, "pk")
      .collect()(0)
    assert(row.getString(0) == "child.fk->parent")
    assert(row.getLong(1) == 4L) // all child rows counted
    assert(row.getLong(2) == 2L) // the unmatched 9L AND the NULL fk
  }

  test("fkAudit audits several edges of one child in a single pass") {
    val s = spark
    import s.implicits._
    val pa = Seq(1L, 2L).toDF("pa")
    val pb = Seq(10L, 20L, 30L).toDF("pb")
    val child = Seq(
      (Some(1L), Some(10L)),
      (Some(2L), Some(99L)), // orphan on edge b only
      (Option.empty[Long], Some(30L)) // NULL fk → orphan on edge a only
    ).toDF("fa", "fb")
    val rows = graft.queries.QualityQueries
      .fkAudit(child, Seq(
        ("c.fa->pa", "fa", pa, "pa"),
        ("c.fb->pb", "fb", pb, "pb")))
      .orderBy("fk_edge").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq(("c.fa->pa", 3L, 1L), ("c.fb->pb", 3L, 1L)))
  }

  test("fkAudit: an edge name holding a quote and a backtick is a label") {
    val s = spark
    import s.implicits._
    val name = "child's `fk`->parent"
    val row = graft.queries.QualityQueries
      .fkEdge(name, Seq(Some(1L), Some(9L)).toDF("fk"), "fk",
        Seq(1L).toDF("pk"), "pk")
      .collect()(0)
    assert((row.getString(0), row.getLong(1), row.getLong(2)) ==
      (name, 2L, 1L))
  }

  test("Profile.profile: column names holding a quote or a backtick") {
    val s = spark
    import s.implicits._
    val df = Seq((Some(1L), "a"), (None, "a"), (Some(2L), "b"))
      .toDF("it's", "a`b")
    val rows = graft.operators.Profile.profile(df, Seq("it's", "a`b"))
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows == Seq(("it's", 3L, 1L, 2L), ("a`b", 3L, 0L, 2L)))
  }
}
