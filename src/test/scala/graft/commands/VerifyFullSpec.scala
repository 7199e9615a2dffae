package graft.commands

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.{BitcoinAdapter, Schemas}
import graft.sources.{AvroArchiveSink, AvroArchiveSource}

/** Mirrors the reference verify command's scenario tests
  * (src/command/verify.rs:951-1213: does_nothing_on_empty_archive,
  * does_nothing_with_full_group, deletes_incomplete_group,
  * deletes_empty_block, deletes_missing_tx) plus the fork-file lifecycle
  * (stream writes hash-named singles on reorged heights; verify keeps only
  * the canonical one, verify.rs:328-369) and dry-run.
  */
class VerifyFullSpec extends SparkSpec {
  import spark.implicits._

  private def mkHash(n: Long): String = f"$n%064x"

  private def blockJson(h: Long, hash: String, parent: String, txs: Seq[String]): String =
    s"""{"hash":"$hash","previousblockhash":"$parent","height":$h,""" +
      s""""tx":[${txs.map("\"" + _ + "\"").mkString(",")}],"time":${1600000000L + h}}"""

  private def blockRow(h: Long, hash: String, parent: String, txs: Seq[String]): Row =
    Row("BITCOIN", "BTC", new Timestamp(0L), h, hash, parent, new Timestamp(h),
      blockJson(h, hash, parent, txs).getBytes("UTF-8"), 0, null, null)

  private def txRow(h: Long, blockHash: String, idx: Long, txid: String,
      json: String = """{"ok":true}""", raw: Array[Byte] = Array[Byte](1, 2)): Row =
    Row("BITCOIN", "BTC", new Timestamp(0L), h, blockHash, new Timestamp(h),
      idx, txid, json.getBytes("UTF-8"), raw, null, null, null)

  /** One single-height file per height (repartition(n, col) hashes, so a
    * collision would silently merge two heights into a range file — write
    * height-by-height instead; fixtures are catalog-sized).
    */
  private def writeBlocks(dir: String, blocks: Seq[(Long, String, String, Seq[String])],
      forked: Boolean = false): Unit =
    blocks.foreach { b =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq((blockRow _).tupled(b)), 1), Schemas.block)
      AvroArchiveSink.write(df, "blocks", dir,
        forkHashCol = if (forked) Some("blockId") else None)
    }

  private def writeTxes(dir: String, txs: Seq[(Long, String, Long, String)],
      forked: Boolean = false): Unit =
    txs.groupBy(_._1).foreach { case (_, perH) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          perH.map { case (h, bh, i, id) => txRow(h, bh, i, id) }, 1),
        Schemas.transaction)
      AvroArchiveSink.write(df, "txes", dir,
        forkHashCol = if (forked) Some("blockId") else None)
    }

  private def canonicalOf(pairs: (Long, String)*): DataFrame =
    pairs.toSeq.toDF("height", "hash")

  private def filesLeft(dir: String): Seq[String] =
    AvroArchiveSource.listAvroFiles(spark, dir)
      .map(p => p.substring(p.lastIndexOf('/') + 1)).sorted

  /** Placeholder files under `dir` with unreadable contents: the filename
    * preprocess decides on names alone, so these pin its decisions without
    * real payloads (the content checks then see zero records).
    */
  private def touch(dir: String, names: String*): Unit = names.foreach { n =>
    val f = new java.io.File(dir, n)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, "not an avro container".getBytes("UTF-8"))
  }

  private val preprocessReasons =
    Set("duplicate-slot", "incomplete-group", "forked-out", "duplicate-range")

  /** (basename, reason) of the deletions the filename preprocess decided. */
  private def preprocessed(r: VerifyFull.Report): Set[(String, String)] =
    r.deleted.collect { case (p, why) if preprocessReasons(why) =>
      (p.substring(p.lastIndexOf('/') + 1), why)
    }.toSet

  private def batchesOf(r: VerifyFull.Report): Seq[(Long, Long)] =
    r.batches.select("group_s", "group_e").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted

  test("preprocess: a contested height with no canonical entry loses every fork") {
    val dir = Files.createTempDirectory("vf-pin-nocanon").toString
    val (a, b) = (mkHash(4050), mkHash(9050))
    touch(dir, s"000000050.$a.block.avro", s"000000050.$b.block.avro",
      "000000051.block.avro")
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 0L, 100L,
      canonicalOf(51L -> mkHash(51)), VerifyFull.Options(checkTxes = false, dryRun = true))
    assert(preprocessed(r) === Set(
      s"000000050.$a.block.avro" -> "forked-out", s"000000050.$b.block.avro" -> "forked-out"))
    assert(batchesOf(r) === Seq((51L, 51L)))
  }

  test("preprocess: only complete single-height groups count as forks") {
    val dir = Files.createTempDirectory("vf-pin-forks").toString
    val (a, b) = (mkHash(4070), mkHash(9070))
    touch(dir,
      // a range starting at 60 is not a fork of the single at 60: the two
      // intersect, so the longer range wins the dedup instead
      "range-000000060_000000062.blocks.avro", "range-000000060_000000062.txes.avro",
      "000000060.block.avro", "000000060.txes.avro",
      // fork A is complete, fork B has no txes file
      s"000000070.$a.block.avro", s"000000070.$a.txes.avro", s"000000070.$b.block.avro")
    val clean = VerifyFull.run(spark, dir, BitcoinAdapter, 0L, 100L, canonicalOf(),
      VerifyFull.Options(fixClean = true, dryRun = true))
    // under fix.clean B is an incomplete group, so 70 is not contested and A
    // stays although the chain has no entry there
    assert(preprocessed(clean) === Set(
      "000000060.block.avro" -> "duplicate-range", "000000060.txes.avro" -> "duplicate-range",
      s"000000070.$b.block.avro" -> "incomplete-group"))
    // without fix.clean B counts: 70 is contested and, with no canonical
    // entry, every fork goes
    val plain = VerifyFull.run(spark, dir, BitcoinAdapter, 0L, 100L, canonicalOf(),
      VerifyFull.Options(dryRun = true))
    assert(preprocessed(plain) === Set(
      "000000060.block.avro" -> "duplicate-range", "000000060.txes.avro" -> "duplicate-range",
      s"000000070.$a.block.avro" -> "forked-out", s"000000070.$a.txes.avro" -> "forked-out",
      s"000000070.$b.block.avro" -> "forked-out"))
  }

  test("preprocess: range dedup islands, longest wins, earliest start on ties") {
    val dir = Files.createTempDirectory("vf-pin-islands").toString
    touch(dir,
      // adjacent ranges do not intersect: both stay
      "range-000000100_000000104.blocks.avro", "range-000000105_000000109.blocks.avro",
      // 210..215 starts after 201..202 ends but inside 200..220: the island
      // breaks on the running max of previous ends, so it is one island
      "range-000000200_000000220.blocks.avro", "range-000000201_000000202.blocks.avro",
      "range-000000210_000000215.blocks.avro",
      // equal spans: the earlier start wins
      "range-000000300_000000304.blocks.avro", "range-000000302_000000306.blocks.avro")
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 0L, 999L, canonicalOf(),
      VerifyFull.Options(checkTxes = false, dryRun = true))
    assert(preprocessed(r) === Set(
      "range-000000201_000000202.blocks.avro" -> "duplicate-range",
      "range-000000210_000000215.blocks.avro" -> "duplicate-range",
      "range-000000302_000000306.blocks.avro" -> "duplicate-range"))
    assert(batchesOf(r) === Seq((100L, 109L), (200L, 220L), (300L, 304L)))
  }

  test("preprocess: merge_small islands follow small ends; incomplete stands alone") {
    val dir = Files.createTempDirectory("vf-pin-merge").toString
    touch(dir, (
      // a large range between two smalls: 521 is adjacent to the large
      // range's end but not to any small end, so it starts its own batch
      Seq("000000500", "range-000000501_000000520", "000000521",
        "000000600", "000000601", "000000603", // adjacency merges, a gap splits
        "range-000000800_000000809", "000000810", // a 10-block range is small
        "000000700", "000000702").flatMap(n =>
        if (n.startsWith("range-")) Seq(s"$n.blocks.avro", s"$n.txes.avro")
        else Seq(s"$n.block.avro", s"$n.txes.avro")) :+
      "000000701.block.avro"): _*) // incomplete: no txes file
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 0L, 999L, canonicalOf(),
      VerifyFull.Options(dryRun = true))
    assert(preprocessed(r).isEmpty, r.deleted)
    assert(batchesOf(r) === Seq((500L, 500L), (501L, 520L), (521L, 521L),
      (600L, 601L), (603L, 603L), (700L, 700L), (701L, 701L), (702L, 702L),
      (800L, 810L)))
  }

  test("preprocess: a duplicate slot deletes both files") {
    val dir = Files.createTempDirectory("vf-pin-dupslot").toString
    // `block` and `blocks` alias one kind: same (range, fork, kind) slot
    touch(dir, "000000900.block.avro", "000000900.blocks.avro", "000000900.txes.avro",
      "000000901.block.avro", "000000901.txes.avro")
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 0L, 999L, canonicalOf(),
      VerifyFull.Options(dryRun = true))
    assert(preprocessed(r) === Set(
      "000000900.block.avro" -> "duplicate-slot", "000000900.blocks.avro" -> "duplicate-slot"))
  }

  test("does nothing on an empty archive") {
    val dir = Files.createTempDirectory("vf-empty").toString
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 100L, 110L,
      canonicalOf(), VerifyFull.Options(fixClean = true))
    assert(r.deleted.isEmpty)
    assert(r.batches.count() === 0)
  }

  test("does nothing with a full valid group") {
    val dir = Files.createTempDirectory("vf-full").toString
    val h101 = mkHash(101)
    writeBlocks(dir, Seq((101L, h101, mkHash(100), Seq("TX001"))))
    writeTxes(dir, Seq((101L, h101, 0L, "TX001")))
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 100L, 110L,
      canonicalOf(101L -> h101), VerifyFull.Options(fixClean = true))
    assert(r.deleted.isEmpty, r.deleted)
    assert(filesLeft(dir) === Seq("000000101.block.avro", "000000101.txes.avro"))
    val v = r.batches.head()
    assert(v.getAs[Boolean]("blocks_ok") && v.getAs[Boolean]("txes_ok"))
  }

  test("deletes incomplete groups under fix.clean (reference: deletes_incomplete_group)") {
    val dir = Files.createTempDirectory("vf-incomplete").toString
    val (h101, h102, h103) = (mkHash(101), mkHash(102), mkHash(103))
    // block 101 + txes 101 (complete) · txes 102 alone · block 103 alone
    writeBlocks(dir, Seq(
      (101L, h101, mkHash(100), Seq("TX001")),
      (103L, h103, h102, Seq("TX003"))))
    writeTxes(dir, Seq((101L, h101, 0L, "TX001"), (102L, h102, 0L, "TX002")))
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 100L, 110L,
      canonicalOf(101L -> h101, 102L -> h102, 103L -> h103),
      VerifyFull.Options(fixClean = true))
    assert(filesLeft(dir) === Seq("000000101.block.avro", "000000101.txes.avro"))
    assert(r.deleted.map(_._2).forall(_ == "incomplete-group"), r.deleted)
  }

  test("deletes the whole group when the block file is empty (deletes_empty_block)") {
    val dir = Files.createTempDirectory("vf-emptyblock").toString
    val h100 = mkHash(100)
    // an EMPTY container at the block slot (the reference writes-then-
    // closes with no records) — built directly since the sink skips
    // empty partitions
    val rel = graft.archive.Filenames.relativeSinglePath(100L, "blocks")
    val target = new java.io.File(dir, rel)
    target.getParentFile.mkdirs()
    val schema = AvroArchiveSink.avroSchema(Schemas.block, "blocks")
    val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, target)
    w.close()
    writeTxes(dir, Seq((100L, h100, 0L, "TX001")))
    assert(filesLeft(dir).size === 2)
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 100L, 110L,
      canonicalOf(100L -> h100), VerifyFull.Options(fixClean = true))
    assert(filesLeft(dir).isEmpty, r.deleted)
  }

  test("deletes the group when a tx is missing (deletes_missing_tx)") {
    val dir = Files.createTempDirectory("vf-missingtx").toString
    val h100 = mkHash(100)
    writeBlocks(dir, Seq((100L, h100, mkHash(99), Seq("TX001", "TX002"))))
    writeTxes(dir, Seq((100L, h100, 0L, "TX001"))) // TX002 never archived
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 100L, 110L,
      canonicalOf(100L -> h100), VerifyFull.Options(fixClean = true))
    assert(filesLeft(dir).isEmpty, r.deleted)
    val v = r.batches.head()
    assert(v.getAs[Boolean]("blocks_ok"))
    assert(!v.getAs[Boolean]("txes_ok"))
  }

  test("without fix.clean only the corrupt kind's files are deleted") {
    val dir = Files.createTempDirectory("vf-kindonly").toString
    val h100 = mkHash(100)
    writeBlocks(dir, Seq((100L, h100, mkHash(99), Seq("TX001", "TX002"))))
    writeTxes(dir, Seq((100L, h100, 0L, "TX001")))
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 100L, 110L,
      canonicalOf(100L -> h100), VerifyFull.Options())
    // txes file corrupt (missing TX002) → deleted; valid blocks file kept
    assert(filesLeft(dir) === Seq("000000100.block.avro"))
    assert(r.deleted.map(_._2) === Seq("txes-corrupt"))
  }

  test("fork lifecycle: only the canonical hash-named single survives") {
    val dir = Files.createTempDirectory("vf-fork").toString
    val (h100, h101a, h101b) = (mkHash(100), mkHash(4101), mkHash(9101))
    // height 100: settled single; height 101: a reorg wrote BOTH forks as
    // hash-named files (stream.rs:49-52)
    writeBlocks(dir, Seq((100L, h100, mkHash(99), Seq("TX001"))))
    writeTxes(dir, Seq((100L, h100, 0L, "TX001")))
    writeBlocks(dir, Seq((101L, h101a, h100, Seq("TX002"))), forked = true)
    writeTxes(dir, Seq((101L, h101a, 0L, "TX002")), forked = true)
    writeBlocks(dir, Seq((101L, h101b, h100, Seq("TX666"))), forked = true)
    writeTxes(dir, Seq((101L, h101b, 0L, "TX666")), forked = true)
    assert(filesLeft(dir).size === 6)

    // the chain settled on fork A
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 100L, 110L,
      canonicalOf(100L -> h100, 101L -> h101a), VerifyFull.Options(fixClean = true))
    assert(filesLeft(dir) === Seq(
      "000000100.block.avro", "000000100.txes.avro",
      s"000000101.$h101a.block.avro", s"000000101.$h101a.txes.avro"))
    assert(r.deleted.map(_._2).forall(_ == "forked-out"), r.deleted)
    // the two settled singles verified as ONE merged batch with an intact
    // chain link across them
    val v = r.batches.orderBy("group_s").collect()
    assert(v.length === 1)
    assert(v.head.getAs[Long]("group_s") === 100L && v.head.getAs[Long]("group_e") === 101L)
    assert(v.head.getAs[Boolean]("blocks_ok") && v.head.getAs[Boolean]("txes_ok"))
  }

  test("intersecting ranges dedup to the largest cover") {
    val dir = Files.createTempDirectory("vf-dedup").toString
    val hs = (100L to 104L)
    val blocks = hs.map(h => (h, mkHash(h), mkHash(h - 1), Seq(s"TX$h")))
    // a compacted range file AND the original singles both exist
    val bdf = spark.createDataFrame(
      spark.sparkContext.parallelize(blocks.map((blockRow _).tupled), 1), Schemas.block)
    AvroArchiveSink.write(bdf.coalesce(1), "blocks", dir)
    val tdf = spark.createDataFrame(
      spark.sparkContext.parallelize(hs.map(h => txRow(h, mkHash(h), 0L, s"TX$h")), 1),
      Schemas.transaction)
    AvroArchiveSink.write(tdf.coalesce(1), "txes", dir)
    writeBlocks(dir, blocks)
    writeTxes(dir, hs.map(h => (h, mkHash(h), 0L, s"TX$h")))
    assert(filesLeft(dir).size === 12) // 2 range files + 10 singles

    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 100L, 110L,
      canonicalOf(104L -> mkHash(104)), VerifyFull.Options(fixClean = true))
    assert(filesLeft(dir) === Seq(
      "range-000000100_000000104.blocks.avro", "range-000000100_000000104.txes.avro"))
    assert(r.deleted.map(_._2).forall(_ == "duplicate-range"), r.deleted)
    assert(r.batches.head().getAs[Boolean]("blocks_ok"))
  }

  test("dry run reports deletions but touches nothing") {
    val dir = Files.createTempDirectory("vf-dry").toString
    val h100 = mkHash(100)
    writeBlocks(dir, Seq((100L, h100, mkHash(99), Seq("TX001", "TX002"))))
    writeTxes(dir, Seq((100L, h100, 0L, "TX001")))
    val before = filesLeft(dir)
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 100L, 110L,
      canonicalOf(100L -> h100), VerifyFull.Options(fixClean = true, dryRun = true))
    assert(r.deleted.nonEmpty)
    assert(filesLeft(dir) === before)
  }

  test("ethereum payloads verify through the hex-number adapter") {
    import graft.model.EthereumAdapter
    def ejson(h: Long, hash: String, parent: String, txs: Seq[String]) =
      s"""{"hash":"$hash","parentHash":"$parent","number":"0x${h.toHexString}",""" +
        s""""timestamp":"0x${(1600000000L + h).toHexString}",""" +
        s""""transactions":[${txs.map("\"" + _ + "\"").mkString(",")}],"uncles":[]}"""
    def eBlockRow(h: Long, hash: String, parent: String, txs: Seq[String]): Row =
      Row("ETHEREUM", "ETH", new Timestamp(0L), h, hash, parent, new Timestamp(h),
        ejson(h, hash, parent, txs).getBytes("UTF-8"), 0, null, null)
    val dir = Files.createTempDirectory("vf-eth").toString
    val (h200, h201) = (mkHash(200), mkHash(201))
    Seq((200L, h200, mkHash(199), Seq("0xaa")), (201L, h201, h200, Seq("0xbb")))
      .foreach { case (h, hs, p, txs) =>
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(eBlockRow(h, hs, p, txs)), 1), Schemas.block)
        AvroArchiveSink.write(df, "blocks", dir)
      }
    writeTxes(dir, Seq((200L, h200, 0L, "0xaa"), (201L, h201, 0L, "0xbb")))
    val r = VerifyFull.run(spark, dir, EthereumAdapter, 200L, 210L,
      canonicalOf(200L -> h200, 201L -> h201), VerifyFull.Options(fixClean = true))
    assert(r.deleted.isEmpty, r.deleted)
    val v = r.batches.head()
    assert(v.getAs[Boolean]("blocks_ok") && v.getAs[Boolean]("txes_ok"))
  }

  test("fixAvro heals exactly the missing kinds, then verify is green") {
    val dir = Files.createTempDirectory("vf-fix").toString
    val hs = 300L to 309L
    def blocksOf(h: Seq[Long]) = h.map(x => (x, mkHash(x), mkHash(x - 1), Seq(s"TX$x")))
    def txesOf(h: Seq[Long]) = h.map(x => (x, mkHash(x), 0L, s"TX$x"))
    // archive with holes: blocks missing at 305, txes missing at 302, 307
    writeBlocks(dir, blocksOf(hs.filterNot(_ == 305L)))
    writeTxes(dir, txesOf(hs.filterNot(h => h == 302L || h == 307L)))

    val rawBlocks = spark.createDataFrame(
      spark.sparkContext.parallelize(blocksOf(hs).map((blockRow _).tupled), 2),
      Schemas.block)
    val rawTxes = spark.createDataFrame(
      spark.sparkContext.parallelize(
        txesOf(hs).map { case (h, bh, i, id) => txRow(h, bh, i, id) }, 2),
      Schemas.transaction)

    // dry-run reports the same holes but heals nothing
    val dry = Commands.fixAvro(spark, dir,
      Map("blocks" -> rawBlocks, "txes" -> rawTxes), 300L, 309L,
      Commands.RunOptions(dryRun = true))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(dry === Set(("blocks", 305L), ("txes", 302L), ("txes", 307L)))
    assert(filesLeft(dir).size === 17)

    val missing = Commands.fixAvro(spark, dir,
      Map("blocks" -> rawBlocks, "txes" -> rawTxes), 300L, 309L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(missing === Set(("blocks", 305L), ("txes", 302L), ("txes", 307L)))
    assert(filesLeft(dir).size === 20)

    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 300L, 309L,
      canonicalOf(309L -> mkHash(309)), VerifyFull.Options(fixClean = true))
    assert(r.deleted.isEmpty, r.deleted)
    assert(r.batches.collect().forall(_.getAs[Boolean]("blocks_ok")))
  }

  test("batches never cross chunk boundaries (reference split_chunks semantics)") {
    val dir = Files.createTempDirectory("vf-chunks").toString
    val hs = 995L to 1005L
    writeBlocks(dir, hs.map(h => (h, mkHash(h), mkHash(h - 1), Seq.empty[String])))
    writeTxes(dir, hs.map(h => (h, mkHash(h), 0L, s"TX$h")))
    // txes at these heights carry txids the blocks don't expect → but the
    // blocks declare NO txs, so give txes nothing to check: checkTxes off
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 990L, 1010L,
      canonicalOf(999L -> mkHash(999), 1005L -> mkHash(1005)),
      VerifyFull.Options(checkTxes = false))
    val batches = r.batches.select("group_s", "group_e")
      .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1)
    // adjacent singles split at the 1000 boundary, like the reference's
    // per-chunk verify loop — and every window in the preprocess is
    // likewise chunk-partitioned
    assert(batches.toSeq === Seq((995L, 999L), (1000L, 1005L)))
    assert(r.deleted.isEmpty, r.deleted)
    assert(r.batches.collect().forall(_.getAs[Boolean]("blocks_ok")))
  }

  test("trace checks: null traceJson under includeTrace dooms only the traces files") {
    val dir = Files.createTempDirectory("vf-traces").toString
    val h100 = mkHash(100)
    writeBlocks(dir, Seq((100L, h100, mkHash(99), Seq("TX001"))))
    writeTxes(dir, Seq((100L, h100, 0L, "TX001")))
    // a traces single whose traceJson is NULL (verify_field_non_null,
    // verify.rs:763-767 under include_trace)
    val trace = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(
        "BITCOIN", "BTC", new Timestamp(0L), 100L, h100, new Timestamp(100L),
        0L, "TX001", null, null)), 1), Schemas.trace)
    AvroArchiveSink.write(trace, "traces", dir)
    assert(filesLeft(dir).size === 3)
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 100L, 110L,
      canonicalOf(100L -> h100),
      VerifyFull.Options(checkTraces = true, includeTrace = true))
    // only the traces file goes; blocks+txes verified fine
    assert(filesLeft(dir) === Seq("000000100.block.avro", "000000100.txes.avro"))
    assert(r.deleted.map(_._2) === Seq("traces-corrupt"))
    // and WITHOUT includeTrace the same archive is clean
    writeBlocks(dir, Seq.empty) // no-op, keep helper usage consistent
    AvroArchiveSink.write(trace, "traces", dir)
    val r2 = VerifyFull.run(spark, dir, BitcoinAdapter, 100L, 110L,
      canonicalOf(100L -> h100),
      VerifyFull.Options(checkTraces = true, includeTrace = false))
    assert(r2.deleted.isEmpty, r2.deleted)
    assert(filesLeft(dir).size === 3)
  }

  test("audits the reference's own written tree read-only (golden interop)") {
    // two reference-written range files under the L1 layout with a gap
    // between them: the full pipeline must parse the names, keep the
    // ranges as separate batches, content-check the real Bitcoin payloads
    // (chain links, coverage, top hash) and find nothing to delete —
    // dry-run, nothing in /root/reference is ever touched
    val dir = "/root/reference/testdata/fullAvroFiles/btc"
    val blocks = graft.sources.AvroArchiveSource.readArchive(spark, dir, "blocks")
    val canonical = blocks.select(col("height"),
      BitcoinAdapter.blockHash(
        BitcoinAdapter.parseBlock(col("json").cast("string"))).as("hash"))
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 723745L, 723759L, canonical,
      VerifyFull.Options(checkTxes = false, dryRun = true))
    assert(r.deleted.isEmpty, r.deleted)
    val v = r.batches.orderBy("group_s").collect()
    assert(v.map(x => (x.getAs[Long]("group_s"), x.getAs[Long]("group_e"))).toSeq ===
      Seq((723745L, 723749L), (723755L, 723759L)))
    assert(v.forall(_.getAs[Boolean]("blocks_ok")))
  }

  test("audits a reference-shaped written tree read-only (hermetic golden interop)") {
    // the golden-interop check above on a tree written here: two
    // reference-typed Bitcoin range containers (stock DataFileWriter) under
    // the L1 layout, with a gap between them
    import graft.sources.ReferenceFormatSpec.{blockSchema, btcBlock, container}
    val dir = Files.createTempDirectory("vf-golden").resolve("btc")
    Seq(723745L -> 723749L, 723755L -> 723759L).foreach { case (s, e) =>
      container(dir.resolve(f"000700000/range-$s%09d_$e%09d.blocks.avro"),
        blockSchema, (s to e).map(btcBlock))
    }
    val blocks = AvroArchiveSource.readArchive(spark, dir.toString, "blocks")
    val canonical = blocks.select(col("height"),
      BitcoinAdapter.blockHash(
        BitcoinAdapter.parseBlock(col("json").cast("string"))).as("hash"))
    val r = VerifyFull.run(spark, dir.toString, BitcoinAdapter, 723745L, 723759L, canonical,
      VerifyFull.Options(checkTxes = false, dryRun = true))
    assert(r.deleted.isEmpty, r.deleted)
    val v = r.batches.orderBy("group_s").collect()
    assert(v.map(x => (x.getAs[Long]("group_s"), x.getAs[Long]("group_e"))).toSeq ===
      Seq((723745L, 723749L), (723755L, 723759L)))
    assert(v.forall(_.getAs[Boolean]("blocks_ok")))
  }

  test("an unreadable block container is doomed via coverage, not a crashed job") {
    // the reference treats an avro decode error as a failed batch, never a
    // crashed command — the lenient read turns garbage bytes into zero
    // records and the coverage check does the rest
    val dir = Files.createTempDirectory("vf-garbage").toString
    val h101 = mkHash(101)
    writeBlocks(dir, Seq((101L, h101, mkHash(100), Seq("TX001"))))
    writeTxes(dir, Seq((101L, h101, 0L, "TX001")))
    val blockFile = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".block.avro")).findFirst().get()
    java.nio.file.Files.write(blockFile, "not an avro container".getBytes("UTF-8"))
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 100L, 110L,
      canonicalOf(101L -> h101))
    val v = r.batches.head()
    assert(!v.getAs[Boolean]("blocks_ok"))
    // blocks file goes; txes are unverifiable under a corrupt block → kept
    assert(r.deleted.map(t => t._1.substring(t._1.lastIndexOf('/') + 1) -> t._2) ===
      Seq("000000101.block.avro" -> "blocks-corrupt"))
    assert(filesLeft(dir) === Seq("000000101.txes.avro"))
  }

  test("corrupt top hash marks blocks broken but keeps unverifiable txes") {
    val dir = Files.createTempDirectory("vf-tophash").toString
    val h100 = mkHash(100)
    writeBlocks(dir, Seq((100L, h100, mkHash(99), Seq("TX001"))))
    writeTxes(dir, Seq((100L, h100, 0L, "TX001")))
    // the live chain disagrees with the archived top hash
    val r = VerifyFull.run(spark, dir, BitcoinAdapter, 100L, 110L,
      canonicalOf(100L -> mkHash(12345)), VerifyFull.Options())
    // blocks deleted; txes CANNOT be verified without a valid block → kept
    // (verify.rs:541-546)
    assert(filesLeft(dir) === Seq("000000100.txes.avro"))
    assert(r.deleted.map(_._2) === Seq("blocks-corrupt"))
  }
}
