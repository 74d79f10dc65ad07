package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink format adapters (SURVEY.md §2.1): the reference moves data
  * between zones as JSON (raw) and Parquet (processed/combined/predictions);
  * this engine additionally speaks CSV and line-delimited JSON with pinned,
  * reproducible options, and writes hive-partitioned parquet for
  * partition-pruned scans at 100 TB.
  *
  * All readers take an explicit schema: schema inference is a full extra
  * pass over the data (unacceptable at scale) and non-deterministic across
  * samples — an explicit `StructType` is both faster and contract-stable.
  */
object Formats {

  // full microsecond precision: events timestamps are µs-grained, and a
  // millisecond format would silently truncate them on write
  private val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** CSV with header, ISO timestamps, explicit nulls. One file layout
    * decision per call site: pass a pre-`repartition`ed df to control file
    * counts.
    *
    * RESERVED MARKER: the null sentinel `\N` (the de-facto standard from
    * mysqldump/Hive text tables) is reserved — a STRING cell whose entire
    * content is the two characters backslash-N round-trips to null, because
    * the CSV reader substitutes the marker after unquoting (quoting does
    * not protect it). Data that may legitimately contain bare `\N` strings
    * belongs in JSONL/parquet (lossless for all strings); FormatsSpec pins
    * this contract. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("timestampFormat", tsFmt)
      .option("nullValue", "\\N")
      .csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("timestampFormat", tsFmt)
      .option("nullValue", "\\N")
      .schema(schema)
      .csv(path)

  /** Line-delimited JSON (the scalable cousin of the reference's
    * one-array-per-file raw zone: splittable, streamable). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("timestampFormat", tsFmt)
      .json(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("timestampFormat", tsFmt)
      .schema(schema)
      .json(path)

  /** Permissive JSONL read with a corrupt-record quarantine — the
    * dead-letter pattern a 100 TB ingest needs: a malformed line must
    * neither kill the job (FAILFAST) nor vanish silently (DROPMALFORMED);
    * it lands in the quarantine frame for triage while clean rows flow
    * on. Returns (clean, quarantined-raw-lines): the source is
    * checkpointed because Spark only permits filtering on the
    * corrupt-record column over a materialized relation (and it also
    * guarantees the two frames split ONE consistent read); there is
    * nothing for the caller to release. */
  def readJsonlQuarantine(spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame) = {
    val withCorrupt = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    val raw = graft.operators.CheckpointBlocks.checkpoint(spark.read
      .option("timestampFormat", tsFmt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
      .json(path))
    import org.apache.spark.sql.functions.col
    val clean = raw.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val quarantine = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (clean, quarantine)
  }

  /** Sharded JSONL export with a row-count index — the delivery format of
    * a training-data drop: every shard holds at most `rowsPerShard` rows
    * (the `maxRecordsPerFile` writer option enforces the bound inside
    * each task; the repartition sizes tasks so shards also stay NEAR the
    * bound, not just under it), and `_index.json` records each shard's
    * row count so a consumer can plan reads without scanning.
    *
    * Cost: the sizing `count()` runs the input lineage once before the
    * write — pass a cached/checkpointed frame when the lineage is
    * expensive. The index pass re-reads the OUTPUT as plain text (JSONL
    * ⇒ one row per line, so line counts ARE row counts — no JSON
    * parsing), grouped by `input_file_name()`: O(shards) rows reach the
    * driver. Returns (shard → rows). */
  def writeShardedJsonl(df: DataFrame, path: String,
      rowsPerShard: Int): Map[String, Long] = {
    require(rowsPerShard > 0, "rowsPerShard must be positive")
    val total = df.count()
    val shards = math.max(1, math.ceil(total.toDouble / rowsPerShard).toInt)
    df.repartition(shards)
      .write.mode(SaveMode.Overwrite)
      .option("timestampFormat", tsFmt)
      .option("maxRecordsPerFile", rowsPerShard.toLong)
      .json(path)
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.{count => cnt, element_at, input_file_name, lit, split => ssplit}
    val index = spark.read.text(path)
      .groupBy(element_at(ssplit(input_file_name(), "/"), -1).as("shard"))
      .agg(cnt(lit(1)).as("rows"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val fsys = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val out = fsys.create(new Path(path, "_index.json"), true)
    val json = index.toSeq.sortBy(_._1)
      .map { case (s, n) => s"""  "$s": $n""" }
      .mkString("{\n", ",\n", "\n}\n")
    try out.write(json.getBytes("UTF-8")) finally out.close()
    index
  }

  /** Hive-partitioned parquet: the 100 TB layout primitive. A filter on the
    * partition column prunes directories at planning time (PartitionFilters
    * in the scan — FormatsSpec asserts it), so a day/category slice of a
    * petabyte table reads only its own files. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Fixed-width text — the mainframe/legacy-export interchange format
    * (COBOL copybooks, bank/exchange EOD files). `widths` maps each column
    * (in order) to its CHARACTER width (byte width only for ASCII data —
    * multibyte payloads need a byte-level contract this text-source
    * implementation does not claim); values are space-padded right on
    * write and trimmed on read, with an all-spaces field reading back as
    * null. Everything is plain `text` source + substring/trim column
    * arithmetic: one projection each way, splittable line files, no
    * custom reader — Catalyst prunes and pushes down around it like any
    * projection.
    *
    * Write refuses, per row and loudly (ANSI-independent guard column —
    * silent corruption is the one unacceptable outcome), every value the
    * format cannot round-trip:
    *  - wider than its field (truncation),
    *  - containing CR/LF (would split the physical record),
    *  - carrying leading/trailing spaces or empty-but-non-null (the
    *    read-side trim/null convention would silently alter them).
    * Non-string columns cast via their canonical string forms, so longs
    * and fixed-point decimals round-trip exactly; floats/timestamps
    * should be pre-formatted by the caller (shortest-decimal forms vary
    * in length). */
  def writeFixedWidth(df: DataFrame, path: String,
      widths: Seq[(String, Int)]): Unit = {
    import org.apache.spark.sql.functions._
    require(widths.map(_._1).toSet == df.columns.toSet &&
        widths.size == df.columns.length,
      s"widths must cover exactly the frame's columns, once each: " +
        s"${widths.map(_._1)} vs ${df.columns.toSeq}")
    val line = concat(widths.map { case (c, w) =>
      val s = col(c).cast("string")
      val bad = (length(s) > w) || s.rlike("[\\r\\n]") ||
        (s =!= trim(s)) || (s === "")
      // raise_error is lazy inside when(), so valid rows never evaluate it
      when(s.isNotNull && bad,
        raise_error(concat(
          lit(s"fixed-width unrepresentable value in '$c' (w=$w): <"),
          s, lit(">"))))
        .otherwise(rpad(coalesce(s, lit("")), w, " "))
    }: _*)
    df.select(line.as("value")).write.mode(SaveMode.Overwrite).text(path)
  }

  def readFixedWidth(spark: SparkSession, path: String,
      widths: Seq[(String, Int)], schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    val offsets = widths.scanLeft(1) { case (off, (_, w)) => off + w }
    val cols = widths.zip(offsets).map { case ((c, w), off) =>
      val raw = trim(substring(col("value"), off, w))
      when(raw === "", lit(null)).otherwise(raw)
        .cast(schema(c).dataType).as(c)
    }
    spark.read.text(path).select(cols: _*)
  }

  /** ORC: the other columnar format a lakehouse inherits (Hive-era tables,
    * Trino/Presto pipelines). Same scale properties as parquet — splittable
    * stripes, min/max stripe stats, predicate pushdown and column pruning
    * reach the scan (FormatsSpec asserts both) — so migrating an ORC
    * estate onto this engine needs no conversion pass. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Z-order-clustered parquet write: range-partition and sort by the
    * Morton interleave of the given bucket columns, so parquet min/max
    * row-group stats prune scans filtered on ANY of the clustered
    * dimensions (a plain sort clusters only its leading column). The
    * `buckets` columns must already be non-negative ints < 2^bits — derive
    * them with [[graft.functions.ZOrder.bucket]].
    *
    * `numFiles` pins the output file count: range partitioning assigns
    * contiguous z-ranges to files, and the per-partition sort keeps
    * row groups tight within each file. The helper z column is dropped
    * before writing — projection after a sort adds no exchange, so the
    * clustered order reaches the writer. */
  def writeZOrdered(df: DataFrame, path: String,
      buckets: Seq[org.apache.spark.sql.Column], bits: Int,
      numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val z = graft.functions.ZOrder.interleave(buckets, bits)
    df.withColumn("_graft_z", z)
      .repartitionByRange(numFiles, col("_graft_z"))
      .sortWithinPartitions("_graft_z")
      .drop("_graft_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Compact a parquet table's small files toward `targetBytes` per
    * file — the standing maintenance task of every streaming/incremental
    * pipeline (each micro-batch or retry leaves small files; a 100 TB
    * table read at 10 MB a file is 10M scan tasks and an object-store
    * listing storm). Hive-partitioned layouts are compacted per leaf
    * partition directory (so partition pruning and values survive
    * untouched); sizing uses FileSystem listings only (metadata, no data
    * pass); each rewrite is one round-robin repartition to the computed
    * file count. Returns (filesBefore, filesAfter) totals.
    *
    * Failure semantics, stated honestly: each leaf swaps via a temp
    * sibling write + two renames. A crash BETWEEN the renames leaves that
    * one leaf's data intact but parked at `.<name>_old` next to it (and
    * the leaf path briefly absent) — data is never deleted until the
    * compacted copy is in place. The next run RECOVERS automatically
    * during traversal: a `.<name>_old` with the leaf present is a crash
    * after the swap (backup is redundant — deleted); with the leaf absent
    * it is a crash between the renames (original restored by renaming it
    * back); any `.<name>_compacting` leftover is an incomplete temp copy
    * (deleted and rewritten). Rename is atomic on HDFS-like filesystems;
    * on object stores pair this with the committer notes in
    * [[ObjectStore]] and prefer table formats with transactional commit
    * for concurrent readers. Concurrent compactors on the SAME table are
    * not supported (recovery would treat the other's in-flight temp as a
    * leftover). */
  def compactParquet(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

    def dataFiles(d: Path): Array[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !n.startsWith("_")
      }
    // recover a prior crashed run's leftovers for one leaf before they can
    // block this run's rename-aside (see scaladoc). `_old` is handled
    // before `_compacting`: a between-renames crash leaves both, and the
    // original must be restored before the stale temp is dropped.
    def recoverLeaf(leaf: Path): Unit = {
      val old = new Path(leaf.getParent, s".${leaf.getName}_old")
      val tmp = new Path(leaf.getParent, s".${leaf.getName}_compacting")
      if (fs.exists(old)) {
        if (fs.exists(leaf))
          require(fs.delete(old, true),
            s"could not delete stale backup $old from a prior crashed run")
        else
          require(fs.rename(old, leaf),
            s"could not restore $leaf from prior run's backup $old")
      }
      if (fs.exists(tmp))
        require(fs.delete(tmp, true),
          s"could not delete stale temp $tmp from a prior crashed run")
    }

    // recover any crashed leaf among d's children (hive layout: backups
    // sit next to the partition leaf, inside this table's own tree)
    def recoverIn(d: Path): Unit =
      fs.listStatus(d).map(_.getPath.getName)
        .filter(_.startsWith("."))
        .collect {
          case n if n.endsWith("_old") =>
            n.stripPrefix(".").stripSuffix("_old")
          case n if n.endsWith("_compacting") =>
            n.stripPrefix(".").stripSuffix("_compacting")
        }
        .distinct
        .foreach(n => recoverLeaf(new Path(d, n)))

    // leaf dirs actually holding parquet data: the dir itself (flat
    // layout) or the partition leaves of a hive layout
    def leaves(d: Path): Seq[Path] = {
      recoverIn(d)
      val children = fs.listStatus(d)
      val subdirs = children.filter(st => st.isDirectory &&
        !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
      val here = if (dataFiles(d).nonEmpty) Seq(d) else Seq.empty
      here ++ subdirs.flatMap(st => leaves(st.getPath))
    }

    def compactLeaf(leaf: Path): (Int, Int) = {
      val files = dataFiles(leaf)
      val before = files.length
      val totalBytes = files.map(_.getLen).sum
      val targetFiles = math.max(1,
        math.ceil(totalBytes.toDouble / targetBytes).toInt)
      if (targetFiles < before) {
        val tmp = new Path(leaf.getParent, s".${leaf.getName}_compacting")
        spark.read.parquet(leaf.toString)
          .repartition(targetFiles)
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val old = new Path(leaf.getParent, s".${leaf.getName}_old")
        require(fs.rename(leaf, old), s"could not move $leaf aside")
        require(fs.rename(tmp, leaf),
          s"could not move compacted data into $leaf — original preserved at $old")
        require(fs.delete(old, true) || !fs.exists(old),
          s"compacted $leaf but could not delete backup $old — reclaim manually")
      }
      (before, dataFiles(leaf).length)
    }

    // the root itself is the crashed leaf in a flat layout (its backup
    // sits in the root's PARENT) — recover it before the tree walk, which
    // would otherwise fail listing the absent root
    val root = new Path(path)
    recoverLeaf(root)
    val results = leaves(root).map(compactLeaf)
    (results.map(_._1).sum, results.map(_._2).sum)
  }
}
