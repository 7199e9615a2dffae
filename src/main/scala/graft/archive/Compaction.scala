package graft.archive

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Compaction: merge per-block files into aligned range files, only for
  * chunks that verify complete, then drop the fully-copied sources
  * (reference: src/command/compact.rs:44-244,343-500).
  *
  * Transactional shape: validate → write new → delete old, relying on
  * Spark's commit protocol for the write and on explicit validation before
  * any delete (compact.rs:89-106). This is the Delta-OPTIMIZE analogue
  * flagged in SURVEY.md §4.
  */
object Compaction {

  /** Per-chunk validation verdicts over a height-keyed DataFrame
    * (reference `CopiedStatus.validate`, compact.rs:246-321): count equals
    * the chunk span AND heights form one contiguous interval.
    */
  def validateChunks(df: DataFrame, heightCol: String, chunkSize: Long): DataFrame =
    df.groupBy(floor(col(heightCol) / chunkSize).cast("long").as("chunk"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col(heightCol)).as("n_distinct"),
        min(heightCol).as("mn"),
        max(heightCol).as("mx"))
      .withColumn("complete",
        col("n") === chunkSize &&
          col("n_distinct") === col("n") &&
          col("mx") - col("mn") + 1 === col("n") &&
          col("mn") === col("chunk") * chunkSize)

  /** Chunk ids already present under `outDir`, or empty when the dir does
    * not exist yet. The read touches only the height column (column
    * pruning) of partitions intersecting [mn, mx] (l1/l2 directory
    * pruning) — catalog-scale IO, not a data scan, on an incremental run
    * over a bounded range.
    */
  private def existingChunks(
      spark: SparkSession,
      outDir: String,
      heightCol: String,
      chunkSize: Long,
      mn: Long, mx: Long): DataFrame = {
    import spark.implicits._
    val path = new org.apache.hadoop.fs.Path(outDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasData: Boolean = { // a no-op prior run leaves only _SUCCESS
      val it = fs.listFiles(path, true)
      var found = false
      while (!found && it.hasNext) found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
    if (!fs.exists(path) || !hasData) Seq.empty[Long].toDF("chunk")
    else
      spark.read.parquet(outDir)
        .filter(col("l2").between(Filenames.l2S(mn), Filenames.l2S(mx)))
        .select(floor(col(heightCol) / chunkSize).cast("long").as("chunk"))
        .distinct()
  }

  /** Compact `df` into one output file per complete aligned chunk under
    * `outDir`, laid out as l1/l2 partition dirs. Incomplete chunks are NOT
    * written (sources stay authoritative), and neither are chunks ALREADY
    * compacted: the write is create-if-absent + Append, mirroring the
    * reference's never-overwrite range files (compact.rs:89-106) — a
    * SaveMode.Overwrite here would delete previously compacted chunks
    * whose sources are long gone. Returns the per-chunk verdicts (over the
    * SOURCE rows; a verdict row is complete whether or not the chunk
    * needed writing this run).
    */
  def compact(
      spark: SparkSession,
      df: DataFrame,
      heightCol: String,
      chunkSize: Long,
      outDir: String): DataFrame = {
    val verdicts = validateChunks(df, heightCol, chunkSize).cache()
    val completeChunks = verdicts.filter(col("complete")).select("chunk")
    val bounds = df.agg(min(heightCol).cast("long"), max(heightCol).cast("long")).head()
    if (bounds.isNullAt(0)) return verdicts
    val already = existingChunks(spark, outDir, heightCol, chunkSize,
      bounds.getLong(0), bounds.getLong(1))
    val toWrite = df
      .withColumn("chunk", floor(col(heightCol) / chunkSize).cast("long"))
      .join(broadcast(completeChunks), Seq("chunk"), "left_semi")
      .join(broadcast(already), Seq("chunk"), "left_anti")
      .withColumn("l1", Filenames.l1(col(heightCol)))
      .withColumn("l2", Filenames.l2(col(heightCol)))
    // One file per chunk: repartition by chunk so each range file is a
    // single sorted write, like the reference's range-<s>_<e> files.
    toWrite
      .repartition(col("chunk"))
      .sortWithinPartitions(heightCol)
      .write
      .mode(SaveMode.Append)
      .option("compression", "zstd")
      .partitionBy("l1", "l2")
      .parquet(outDir)
    verdicts
  }

  /** Compact an Avro-format archive IN the reference's own on-disk shape
    * (the real compact command, src/command/compact.rs:44-244): single
    * files of a kind whose chunk is complete merge into one
    * `L1/range-<s>_<e>.<kind>.avro`, then the fully-copied singles are
    * deleted — write-new-then-delete-old, never overwriting an existing
    * range file. Forked singles (hash-named, several at one height) are
    * left alone — verify settles forks first, compact only merges settled
    * heights. Returns per-(kind, chunk) verdicts and deleted files.
    */
  def compactAvro(
      spark: SparkSession,
      archiveDir: String,
      chunkSize: Long = 1000L,
      dryRun: Boolean = false): (DataFrame, Seq[String]) = {
    import spark.implicits._
    import graft.sources.{AvroArchiveSink, AvroArchiveSource}
    // chunkSize 1 would name a "range" with its source single's own path
    require(chunkSize > 1, "compactAvro needs chunkSize > 1")
    val (singles, ranges) = Catalog.list(spark, archiveDir).partition(_.single)
    // settled singles only: exactly one file at the height for the kind
    val perHeight = singles.groupBy(f => (f.kind, f.start)).map { case (k, fs) => k -> fs.size }
    val settled = singles.filter(f => perHeight((f.kind, f.start)) == 1)
    val verdictsByKind = Seq.newBuilder[DataFrame]
    val deleted = Seq.newBuilder[String]
    settled.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (kind, kindFiles) =>
      val files = kindFiles.map(_.path)
      // chunks already touched by any range file are skipped
      // (create-if-absent; an unaligned range may span several chunks)
      val rangeChunks = ranges.filter(_.kind == kind).flatMap(f =>
        Math.floorDiv(f.start, chunkSize) to Math.floorDiv(f.end, chunkSize)).distinct
      val rows = AvroArchiveSource.readArchiveFilesWithPath(spark, files, kind)
        .withColumn("chunk", floor(col("height") / chunkSize).cast("long"))
        .cache()
      // localCheckpoint (eager): the verdicts must outlive the source
      // files this run is about to delete — a lazy plan would re-scan them
      val verdicts = validateChunks(rows, "height", chunkSize)
        .withColumn("kind", lit(kind))
        .localCheckpoint()
      val toWrite = verdicts.filter(col("complete") && !col("chunk").isin(rangeChunks: _*))
        .select("chunk")
      if (!dryRun) {
        val chunkRows = rows
          .join(broadcast(toWrite), Seq("chunk"), "left_semi")
          .drop("_path")
        AvroArchiveSink.writeChunked(chunkRows, kind, archiveDir, "chunk")
        // a single is deletable iff every one of its rows landed in a
        // complete chunk that now has a range file (newly written or
        // pre-existing)
        val coveredChunks = verdicts.filter(col("complete")).select("chunk")
        val deletable = rows
          .join(broadcast(coveredChunks).withColumn("c", lit(1)), Seq("chunk"), "left")
          .groupBy("_path")
          .agg(count(lit(1)).as("n"), count("c").as("n_cov"))
          .filter(col("n") === col("n_cov"))
          .select("_path").as[String].collect()
        val fs = new org.apache.hadoop.fs.Path(archiveDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        deletable.foreach { p =>
          fs.delete(new org.apache.hadoop.fs.Path(p), false)
        }
        deleted ++= deletable
      }
      rows.unpersist()
      verdictsByKind += verdicts
    }
    val verdicts = verdictsByKind.result() match {
      case Seq()   => validateChunks(spark.range(0).toDF("height"), "height", chunkSize)
        .withColumn("kind", lit(""))
      case seq     => seq.reduce(_ union _)
    }
    (verdicts, deleted.result())
  }

  /** Full compact-then-clean: merge complete chunks of `srcDir` into
    * `outDir`, then delete ONLY the source files every one of whose rows
    * was fully copied (reference: write new THEN delete old, and only if
    * fully copied — src/command/compact.rs:89-106; scenario
    * `compact_partial_chunk_not_deleted`, compact.rs:502-1120). The write
    * commits (Spark commit protocol) before any delete runs. Returns
    * (verdicts, deleted file paths).
    */
  def compactAndClean(
      spark: SparkSession,
      srcDir: String,
      heightCol: String,
      chunkSize: Long,
      outDir: String,
      dryRun: Boolean = false): (DataFrame, Seq[String]) = {
    import spark.implicits._
    // An exhausted source (every file already compacted+cleaned) has only
    // empty partition dirs left — nothing to read, infer, or delete.
    val srcPath = new org.apache.hadoop.fs.Path(srcDir)
    val srcFs = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def srcHasData: Boolean = {
      if (!srcFs.exists(srcPath)) return false
      val it = srcFs.listFiles(srcPath, true)
      var found = false
      while (!found && it.hasNext) found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
    if (!srcHasData)
      return (validateChunks(spark.range(0).toDF(heightCol), heightCol, chunkSize),
        Seq.empty)
    val src = spark.read.parquet(srcDir)
    // dry-run (reference src/global.rs:48-57): plan everything, mutate
    // nothing — verdicts and the would-delete list still come back
    val verdicts =
      if (dryRun) validateChunks(src, heightCol, chunkSize).cache()
      else compact(spark, src, heightCol, chunkSize, outDir)
    val completeChunks = verdicts.filter(col("complete")).select("chunk")
    // A source file is deletable iff ALL its rows landed in complete
    // chunks (a file may span chunks; any partial row keeps it alive).
    val perFile = src
      .withColumn("file", input_file_name())
      .withColumn("chunk", floor(col(heightCol) / chunkSize).cast("long"))
      .join(broadcast(completeChunks).withColumn("copied", lit(1)), Seq("chunk"), "left")
      .groupBy("file")
      .agg(count(lit(1)).as("n"), count("copied").as("n_copied"))
      .filter(col("n") === col("n_copied"))
    // File count is catalog-sized; drive deletion from the collected list
    // (reference deletes with a semaphore of 4, verify.rs:278).
    val deletable = perFile.collect().map(_.getAs[String]("file")).toSeq
    if (!dryRun) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      deletable.foreach { f =>
        fs.delete(new org.apache.hadoop.fs.Path(new java.net.URI(f)), false)
      }
    }
    (verdicts, deletable)
  }
}
