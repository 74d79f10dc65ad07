package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.{SparkSuite, Tables}

/** Format adapters: lossless roundtrips for CSV / JSONL (including nulls
  * and timestamps) and partition-pruned reads of hive-partitioned parquet. */
class FormatsSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def events = Tables.load(spark, sf, "events")
    .select("event_id", "user_id", "event_type", "ts", "value")

  test("CSV roundtrip is lossless for longs, doubles, strings, timestamps") {
    val dir = tmp("graft_csv")
    val src = events
    Formats.writeCsv(src, dir)
    val back = Formats.readCsv(spark, dir, src.schema)
    assert(back.schema == src.schema)
    assert(src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty)
  }

  test("ORC roundtrip is lossless and the scan gets pushdown + pruning") {
    val dir = tmp("graft_orc")
    val src = events
    Formats.writeOrc(src, dir)
    val back = Formats.readOrc(spark, dir)
    assert(back.schema == src.schema)
    assert(src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty)
    // same scale contract as parquet: filter reaches the ORC scan and
    // untouched columns never leave it
    val q = Formats.readOrc(spark, dir)
      .filter(col("event_type") === "purchase")
      .select("event_id", "value")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event_type)"),
      s"no ORC pushdown:\n$plan")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("user_id"), s"unpruned ORC scan: $read")
  }

  test("CSV roundtrip preserves nulls via the explicit null marker") {
    import spark.implicits._
    val dir = tmp("graft_csvnull")
    val src = Seq((1L, Some("a")), (2L, None), (3L, Some("\\N-ish? no: plain")))
      .toDF("id", "s")
    Formats.writeCsv(src, dir)
    val back = Formats.readCsv(spark, dir, src.schema)
    assert(back.filter(col("s").isNull).select("id")
      .as[Long].collect().toSeq == Seq(2L))
  }

  test("CSV reserves the literal \\N string: it round-trips to null") {
    import spark.implicits._
    val dir = tmp("graft_csvres")
    // "\\N" here is the two-character string backslash-N — exactly the
    // reserved marker. The documented contract (Formats.writeCsv scaladoc)
    // is that such a cell comes back NULL, not silently something else.
    val src = Seq((1L, "\\N"), (2L, "ok")).toDF("id", "s")
    Formats.writeCsv(src, dir)
    val back = Formats.readCsv(spark, dir, src.schema)
    assert(back.filter(col("s").isNull).select("id")
      .as[Long].collect().toSeq == Seq(1L))
    assert(back.filter(col("s") === "ok").count() == 1)
  }

  test("fixed-width roundtrip is lossless for longs and strings, with " +
      "null fields") {
    import org.apache.spark.sql.functions._
    val dir = tmp("graft_fw")
    val src = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        // exercise the null path: a sparse nullable long column
        when(col("event_id") % 7 === 0, col("user_id")).as("sparse"))
    val widths = Seq("event_id" -> 10, "user_id" -> 8,
      "event_type" -> 12, "sparse" -> 8)
    Formats.writeFixedWidth(src, dir, widths)
    val back = Formats.readFixedWidth(spark, dir, widths, src.schema)
    assert(back.schema == src.schema)
    assert(src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty)
    // the file really is fixed-width: every line has the same length
    val lens = spark.read.text(dir).select(length(col("value")))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(lens == Seq(widths.map(_._2).sum))
  }

  test("fixed-width write fails loudly on field overflow") {
    import org.apache.spark.sql.functions._
    val dir = tmp("graft_fw_ovf")
    val src = Tables.load(spark, sf, "events").select(col("event_type"))
    val e = intercept[Exception] {
      Formats.writeFixedWidth(src, dir, Seq("event_type" -> 2))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m =>
      m != null && m.contains("fixed-width unrepresentable")))
  }

  test("fixed-width write refuses every non-round-trippable value") {
    import spark.implicits._
    // embedded newline (splits the record), leading/trailing spaces and
    // empty-non-null (the read-side trim/null convention would silently
    // alter them)
    for (bad <- Seq("a\nb", "a\rb", " x", "x ", "")) {
      val dir = tmp("graft_fw_bad")
      val e = intercept[Exception] {
        Formats.writeFixedWidth(Seq(bad).toDF("c"), dir, Seq("c" -> 8))
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m =>
        m != null && m.contains("fixed-width unrepresentable")),
        s"value ${bad.replace("\n", "\\n").replace("\r", "\\r")} " +
          "was not rejected")
    }
  }

  test("JSONL roundtrip is lossless") {
    val dir = tmp("graft_jsonl")
    val src = events
    Formats.writeJsonl(src, dir)
    val back = Formats.readJsonl(spark, dir, src.schema)
    assert(src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty)
  }

  test("compaction merges small files, preserves data, and is idempotent") {
    val dir = tmp("graft_compact")
    // 16 small files of real events
    events.repartition(16).write.mode("overwrite").parquet(dir)
    val src = spark.read.parquet(dir)
    val rows = src.count()
    val (before, after) =
      Formats.compactParquet(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(before == 16 && after == 1, s"$before -> $after")
    val back = spark.read.parquet(dir)
    assert(back.count() == rows)
    assert(back.exceptAll(events).isEmpty && events.exceptAll(back).isEmpty)
    // already compact → no rewrite happens
    val (b2, a2) = Formats.compactParquet(spark, dir)
    assert(b2 == 1 && a2 == 1)
  }

  test("compaction recurses into hive partitions, keeping layout and data") {
    val dir = tmp("graft_compact_part")
    events.repartition(6).write.mode("overwrite")
      .partitionBy("event_type").parquet(dir)
    val nTypes = events.select("event_type").distinct().count().toInt
    val (before, after) = Formats.compactParquet(spark, dir)
    assert(before > nTypes, s"fixture not fragmented: $before files")
    assert(after == nTypes, s"expected 1 file per partition, got $after")
    val back = spark.read.parquet(dir).select(events.columns.map(col): _*)
    assert(back.exceptAll(events).isEmpty && events.exceptAll(back).isEmpty)
    // partition pruning still works on the compacted layout
    val pruned = spark.read.parquet(dir)
      .filter(col("event_type") === "purchase")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters"))
  }

  test("compaction recovers a prior run that crashed between the renames") {
    import org.apache.hadoop.fs.Path
    val dir = tmp("graft_compact_rec")
    events.repartition(4).write.mode("overwrite").parquet(dir)
    val rows = events.count()
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    // simulate the between-renames crash state: leaf parked at _old (leaf
    // path absent) plus a stale half-written temp
    val root = new Path(dir)
    val old = new Path(root.getParent, s".${root.getName}_old")
    val tmpP = new Path(root.getParent, s".${root.getName}_compacting")
    assert(fs.rename(root, old))
    fs.mkdirs(tmpP)
    val (before, after) =
      Formats.compactParquet(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(before == 4 && after == 1, s"$before -> $after")
    assert(spark.read.parquet(dir).count() == rows)
    assert(!fs.exists(old) && !fs.exists(tmpP),
      "recovery must consume the crashed run's leftovers")
  }

  test("compaction deletes a redundant backup when the swap completed") {
    import org.apache.hadoop.fs.Path
    val dir = tmp("graft_compact_rec2")
    events.repartition(2).write.mode("overwrite")
      .partitionBy("event_type").parquet(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    // simulate the after-swap crash state on one partition leaf: the leaf
    // is present (compacted) and its backup was never deleted
    val leaf = fs.listStatus(new Path(dir))
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .head.getPath
    val old = new Path(leaf.getParent, s".${leaf.getName}_old")
    fs.mkdirs(old)
    val rows = spark.read.parquet(dir).count()
    Formats.compactParquet(spark, dir)
    assert(!fs.exists(old), "redundant backup must be reclaimed")
    assert(spark.read.parquet(dir).count() == rows)
  }

  test("partitioned parquet write + filtered read prunes partitions") {
    val dir = tmp("graft_part")
    Formats.writePartitioned(events, dir, "event_type")
    val filtered = Formats.readParquet(spark, dir)
      .filter(col("event_type") === "purchase")
    // planning-time proof: the scan carries a partition filter, and the
    // data read matches the unpartitioned filter exactly
    val scanLine = filtered.queryExecution.executedPlan.toString
      .split("\n").find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("event_type"), s"no partition filter in: $scanLine")
    val expected = events.filter(col("event_type") === "purchase")
    assert(filtered.count() == expected.count() && expected.count() > 0)
  }

  test("quarantine read splits corrupt JSONL lines from clean rows") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_quar").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "mixed.jsonl"),
      Seq(
        """{"id": 1, "name": "ok"}""",
        """{"id": 2, "name": "also ok"}""",
        """{"id": oops not json""",
        """{"id": 3, "name": "fine"}""",
        """garbage line"""
      ).mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val (clean, quarantine) =
      Formats.readJsonlQuarantine(spark, dir, schema)
    assert(clean.count() == 3)
    assert(clean.columns.toSeq == Seq("id", "name"))
    val bad = quarantine.collect().map(_.getString(0)).toSet
    assert(bad.size == 2)
    assert(bad.exists(_.contains("oops")) &&
      bad.exists(_.contains("garbage")))
  }

  test("sharded JSONL export bounds rows per shard and indexes counts") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shards").toString + "/out"
    val df = spark.range(1050).select(col("id"),
      concat(lit("doc_"), col("id")).as("name"))
    val index = Formats.writeShardedJsonl(df, dir, rowsPerShard = 100)
    // bound holds for EVERY shard, and the index matches reality
    assert(index.nonEmpty && index.values.forall(n => n > 0 && n <= 100),
      s"shard over bound: $index")
    assert(index.values.sum == 1050)
    val back = spark.read.schema(df.schema).json(dir)
    assert(back.count() == 1050)
    assert(back.select("id").as[Long].collect().sorted.toSeq ==
      (0L until 1050L))
    // the index file itself lists every shard
    val idxText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_index.json")), "UTF-8")
    assert(index.keys.forall(idxText.contains), "index file incomplete")
  }
}
