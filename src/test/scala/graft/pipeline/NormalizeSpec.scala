package graft.pipeline

import graft.SparkSuite

/** Pins the reference's fuzzy schema-normalization semantics
  * (SURVEY.md §2 rows 12-17 + §7 risk list). */
class NormalizeSpec extends SparkSuite {
  import spark.implicits._

  test("fuzzy rename: canonical OHLCV from suffixed names") {
    val df = Seq(("2024-01-02 10:00:00", 1.0, 2.0, 0.5, 1.5, 100L, "AAPL"))
      .toDF("Datetime_", "Open_AAPL", "High_AAPL", "Low_AAPL", "Close_AAPL",
        "Volume_AAPL", "symbol")
    val out = Normalize(df)
    assert(out.columns.toSeq ==
      Seq("Datetime", "Open", "High", "Low", "Close", "Volume", "symbol"))
    val r = out.head()
    assert(r.getDouble(1) == 1.0 && r.getDouble(4) == 1.5 &&
      r.getLong(5) == 100L)
  }

  test("multiple columns matching one metric: last column wins") {
    val df = Seq((10.0, 99.0)).toDF("Close_AAPL", "Adj Close_AAPL")
    val out = Normalize(df, Some("AAPL"))
    assert(out.columns.contains("Close"))
    assert(out.select("Close").head().getDouble(0) == 99.0)
    // the datetime column also matches "close" and loses that tie-break:
    // it still feeds Datetime, and Close comes from the winner
    val dt = Seq(("2024-01-02 10:00:00", 99.0))
      .toDF("close_datetime", "Close_AAPL")
    val dtOut = Normalize(dt, Some("AAPL"))
    assert(dtOut.columns.toSeq == Seq("Datetime", "Close", "symbol"))
    val r = dtOut.head()
    assert(r.getTimestamp(0).toInstant.toString == "2024-01-02T10:00:00Z")
    assert(r.getDouble(1) == 99.0)
  }

  test("losing column already named canonically: no duplicate-column crash") {
    // "Close" loses the tie-break to "Adj Close"; the old rename path would
    // produce two Close columns and an AMBIGUOUS_REFERENCE error
    val df = Seq((10.0, 99.0)).toDF("Close", "Adj Close")
    val out = Normalize(df, Some("X"))
    assert(out.columns.count(_ == "Close") == 1)
    assert(out.select("Close").head().getDouble(0) == 99.0)
  }

  test("datetime parse: offset-suffixed, plain, and garbage → null") {
    val df = Seq("2024-01-02 10:00:00-05:00", "2024-01-02 10:00:00", "junk")
      .toDF("Datetime_")
    val out = Normalize(df, Some("X"))
    val ts = out.select("Datetime").collect().map(r =>
      Option(r.getTimestamp(0)).map(_.toInstant.toString))
    assert(ts(0).contains("2024-01-02T15:00:00Z")) // offset honored → UTC
    assert(ts(1).contains("2024-01-02T10:00:00Z"))
    assert(ts(2).isEmpty) // strict=False → null, not error
    // an already-parsed timestamp passes through as is
    val stamped = Seq(Tuple1(java.sql.Timestamp.valueOf("2024-01-02 10:00:00")))
      .toDF("Datetime")
    val kept = Normalize(stamped, Some("X"))
    assert(kept.schema("Datetime") == stamped.schema("Datetime"))
    assert(kept.head().getTimestamp(0) == stamped.head().getTimestamp(0))
  }

  test("symbol literal added only when missing") {
    val df = Seq((1.0, "EXIST")).toDF("Open_X", "symbol")
    assert(Normalize(df, Some("NEW")).select("symbol").head().getString(0)
      == "EXIST")
    val df2 = Seq(Tuple1(1.0)).toDF("Open_X")
    assert(Normalize(df2, Some("NEW")).select("symbol").head().getString(0)
      == "NEW")
  }

  test("missing canonical columns are dropped, not null-filled") {
    val df = Seq((1.0, "A")).toDF("Open_A", "symbol") // no volume, no datetime
    assert(Normalize(df).columns.toSeq == Seq("Open", "symbol"))
  }

  test("idempotence: normalize(normalize(df)) == normalize(df)") {
    val df = Seq(("2024-01-02 10:00:00", 1.0, 100L, "A"))
      .toDF("Datetime_", "Close_A", "Volume_A", "symbol")
    val once = Normalize(df)
    val twice = Normalize(once)
    assert(once.schema == twice.schema)
    assert(once.collect().toSeq == twice.collect().toSeq)
  }
}
