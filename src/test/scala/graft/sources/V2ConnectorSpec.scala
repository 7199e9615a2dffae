package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The DataSourceV2 avro-archive connector: filename-range partition
  * pruning, column-pruned decode, and value-exact roundtrip against the
  * sink.
  */
class V2ConnectorSpec extends SparkSpec {

  private lazy val dir: String = {
    val out = Files.createTempDirectory("graft-v2-").toAbsolutePath.toString
    val recs = spark.range(0, 5000).toDF("height").select(
      lit("BITCOIN").as("blockchainType"), lit("BTC").as("blockchainId"),
      to_timestamp(lit(0)).as("archiveTimestamp"),
      col("height"),
      sha2(col("height").cast("string"), 256).as("blockId"),
      sha2((col("height") - 1).cast("string"), 256).as("parentId"),
      to_timestamp(col("height")).as("timestamp"),
      col("height").cast("string").cast("binary").as("json"),
      lit(0).as("unclesCount"),
      lit(null).cast("binary").as("uncle0Json"),
      lit(null).cast("binary").as("uncle1Json"))
    // exact 1000-height chunks → 5 range files with deterministic disjoint
    // name ranges (range-0_999 … range-4000_4999); one write per chunk so
    // no partitioner sampling can smear a boundary
    (0 until 5).foreach { c =>
      AvroArchiveSink.write(
        recs.where(col("height").between(c * 1000, c * 1000 + 999)).coalesce(1),
        "blocks", out)
    }
    out
  }

  private def scan(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in plan:\n" +
        df.queryExecution.executedPlan.toString))

  private def read() =
    spark.read.format("avro-archive").option("kind", "blocks").load(dir)

  test("height predicate prunes container files at plan time") {
    val all = read()
    assert(scan(all).inputRDD.getNumPartitions == 5)
    val pruned = read().where(col("height").between(1200, 1800))
    assert(scan(pruned).inputRDD.getNumPartitions == 1)
    assert(pruned.count() == 601)
    // boundary-straddling range hits exactly the two covering files
    val straddle = read().where(col("height") >= 900 && col("height") <= 1100)
    assert(scan(straddle).inputRDD.getNumPartitions == 2)
    assert(straddle.count() == 201)
  }

  test("filters are re-applied post-scan (file pruning is not row-exact)") {
    val df = read().where(col("height") === 1234)
    assert(df.count() == 1)
    assert(df.select("blockId").head().getString(0) ==
      org.apache.commons.codec.digest.DigestUtils.sha256Hex("1234"))
  }

  test("column pruning reaches the scan's read schema") {
    val df = read().select("height").where(col("height") < 500)
    val rs = scan(df).scan.readSchema()
    assert(rs.fieldNames.toSeq == Seq("height"), rs.treeString)
    assert(df.agg(sum("height")).head().getLong(0) == 499L * 500 / 2)
  }

  test("plan pin: pushed height bounds AND pruned schema land in one scan") {
    // the round-7 hardening pin (VERDICT r6 item 5): a range predicate and
    // a column prune pushed through the SAME v2 scan — the conjunctive
    // bounds fold into heightBounds, the read schema narrows to the
    // selected columns, and file pruning follows from the bounds
    val df = read().select("height", "blockId")
      .where(col("height") >= 1500 && col("height") < 3500)
    val sc = scan(df).scan
    assert(sc.description().contains("heightBounds=[1500, 3499]"),
      sc.description())
    assert(sc.readSchema().fieldNames.toSeq == Seq("height", "blockId"),
      sc.readSchema().treeString)
    assert(scan(df).inputRDD.getNumPartitions == 3) // files 1k/2k/3k only
    assert(df.count() == 2000)
    // an equality predicate folds to a point range → exactly one file
    val pt = read().select("height").where(col("height") === 4242)
    assert(scan(pt).scan.description().contains("heightBounds=[4242, 4242]"),
      scan(pt).scan.description())
    assert(scan(pt).inputRDD.getNumPartitions == 1)
  }

  test("roundtrip values survive: strings, timestamps, binaries, nulls") {
    val r = read().where(col("height") === 7).head()
    assert(r.getAs[String]("blockchainId") == "BTC")
    assert(r.getAs[java.sql.Timestamp]("timestamp").getTime == 7000L)
    assert(new String(r.getAs[Array[Byte]]("json")) == "7")
    assert(r.getAs[Array[Byte]]("uncle0Json") == null)
  }

  test("missing kind option fails loudly") {
    intercept[Exception] {
      spark.read.format("avro-archive").load(dir).collect()
    }
  }

  test("lenient read survives a truncated container; strict read fails the task") {
    val out = Files.createTempDirectory("graft-v2c-").toAbsolutePath.toString
    // copy one healthy range file in, then smash a byte window at 60% —
    // mid-block garbage fails the codec/sync check (a clean truncation
    // can masquerade as EOF)
    val src = java.nio.file.Paths.get(
      AvroArchiveSource.listAvroFiles(spark, dir).head.stripPrefix("file:"))
    val broken = java.nio.file.Paths.get(out, src.getFileName.toString)
    java.nio.file.Files.copy(src, broken)
    val ch = java.nio.channels.FileChannel.open(broken,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val garbage = java.nio.ByteBuffer.wrap(Array.fill[Byte](64)(-1))
      ch.write(garbage, ch.size() * 3 / 5)
    } finally ch.close()
    def read(lenient: Boolean) = spark.read.format("avro-archive")
      .option("kind", "blocks").option("lenient", lenient.toString).load(out)
    val n = read(lenient = true).count()
    assert(n > 0 && n < 1000, s"expected a partial decode, got $n")
    intercept[Exception] { read(lenient = false).count() }
  }

  test("v2 write lands the range layout and the v1 decoder reads it back") {
    val out = Files.createTempDirectory("graft-v2w-").toAbsolutePath.toString
    val recs = spark.range(100, 300).toDF("height").select(
      lit("BITCOIN").as("blockchainType"), lit("BTC").as("blockchainId"),
      to_timestamp(lit(0)).as("archiveTimestamp"),
      col("height"),
      sha2(col("height").cast("string"), 256).as("blockId"),
      sha2((col("height") - 1).cast("string"), 256).as("parentId"),
      to_timestamp(col("height")).as("timestamp"),
      col("height").cast("string").cast("binary").as("json"),
      lit(0).as("unclesCount"),
      lit(null).cast("binary").as("uncle0Json"),
      lit(null).cast("binary").as("uncle1Json"))
    recs.repartitionByRange(2, col("height"))
      .write.format("avro-archive").option("kind", "blocks")
      .mode("append").save(out)
    val files = AvroArchiveSource.listAvroFiles(spark, out)
    assert(files.size == 2, files)
    assert(files.forall(_.contains("range-")), files)
    val back = AvroArchiveSource.readArchive(spark, out, "blocks")
    assert(back.count() == 200)
    assert(back.agg(sum("height")).head().getLong(0) == (100L until 300L).sum)
    // temp files never linger after a successful commit
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(out), true)
    while (it.hasNext) {
      val f = it.next()
      assert(!f.getPath.getName.startsWith(".graft-tmp-"), f.getPath)
    }
  }

  test("schema evolution: a container missing a nullable column null-fills it") {
    val out = Files.createTempDirectory("graft-v2e-").toAbsolutePath.toString
    // an "older" archive written before the uncle columns existed
    val reduced = spark.range(0, 20).toDF("height").select(
      lit("BITCOIN").as("blockchainType"), lit("BTC").as("blockchainId"),
      to_timestamp(lit(0)).as("archiveTimestamp"),
      col("height"),
      sha2(col("height").cast("string"), 256).as("blockId"),
      sha2((col("height") - 1).cast("string"), 256).as("parentId"),
      to_timestamp(col("height")).as("timestamp"),
      col("height").cast("string").cast("binary").as("json"),
      lit(0).as("unclesCount"))
    AvroArchiveSink.write(reduced.coalesce(1), "blocks", out)
    val back = spark.read.format("avro-archive").option("kind", "blocks").load(out)
    assert(back.count() == 20)
    assert(back.filter(col("uncle0Json").isNull).count() == 20)
    assert(back.agg(sum("height")).head().getLong(0) == 190L)
  }

  test("v2 write never overwrites an existing archive file") {
    val out = Files.createTempDirectory("graft-v2w-").toAbsolutePath.toString
    val recs = spark.range(0, 50).toDF("height").select(
      lit("ETHEREUM").as("blockchainType"), lit("ETH").as("blockchainId"),
      to_timestamp(lit(0)).as("archiveTimestamp"),
      col("height"),
      sha2(col("height").cast("string"), 256).as("blockId"),
      sha2((col("height") - 1).cast("string"), 256).as("parentId"),
      to_timestamp(col("height")).as("timestamp"),
      col("height").cast("string").cast("binary").as("json"),
      lit(0).as("unclesCount"),
      lit(null).cast("binary").as("uncle0Json"),
      lit(null).cast("binary").as("uncle1Json"))
    def write(): Unit = recs.coalesce(1)
      .write.format("avro-archive").option("kind", "blocks")
      .mode("append").save(out)
    write()
    val e = intercept[Exception] { write() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("never overwritten")), e.toString)
    // the refused write left no partial state: still exactly one file
    assert(AvroArchiveSource.listAvroFiles(spark, out).size == 1)
  }

  private def blockRecords(heights: org.apache.spark.sql.Dataset[_]) =
    heights.toDF("height").select(
      lit("BITCOIN").as("blockchainType"), lit("BTC").as("blockchainId"),
      to_timestamp(lit(0)).as("archiveTimestamp"),
      col("height"),
      sha2(col("height").cast("string"), 256).as("blockId"),
      sha2((col("height") - 1).cast("string"), 256).as("parentId"),
      to_timestamp(col("height")).as("timestamp"),
      col("height").cast("string").cast("binary").as("json"),
      lit(0).as("unclesCount"),
      lit(null).cast("binary").as("uncle0Json"),
      lit(null).cast("binary").as("uncle1Json"))

  test("v2 commit is all-or-nothing: one refused claim renames no partition") {
    val out = Files.createTempDirectory("graft-v2aon-").toAbsolutePath.toString
    // the archive already holds the second partition's range
    AvroArchiveSink.write(blockRecords(spark.range(10, 20)).coalesce(1), "blocks", out)
    val e = intercept[Exception] {
      blockRecords(spark.range(0, 20, 1, 2))
        .write.format("avro-archive").option("kind", "blocks")
        .mode("append").save(out)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("never overwritten")), e.toString)
    // nothing of the refused job remains: no renamed file, no temp, no
    // empty claim marker — only the pre-existing container
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(out), true)
    val left = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
    while (it.hasNext) left += it.next()
    val names = left.result().map(_.getPath.getName)
    assert(names == Seq("range-000000010_000000019.blocks.avro"), names)
    assert(left.result().forall(_.getLen > 0))
    assert(AvroArchiveSource.readArchive(spark, out, "blocks").count() == 10)
  }

  test("v2 write floors sub-millisecond timestamps, like the v1 sink") {
    val out = Files.createTempDirectory("graft-v2ts-").toAbsolutePath.toString
    blockRecords(spark.range(5, 6))
      .withColumn("timestamp", timestamp_micros(lit(-1500L)))
      .write.format("avro-archive").option("kind", "blocks")
      .mode("append").save(out)
    val back = spark.read.format("avro-archive").option("kind", "blocks").load(out)
    assert(back.select(unix_micros(col("timestamp"))).head().getLong(0) == -2000L)
  }
}
