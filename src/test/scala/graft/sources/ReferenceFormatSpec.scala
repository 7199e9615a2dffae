package graft.sources

import java.nio.ByteBuffer
import java.nio.file.{Files, Path}

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Reference-shaped containers, written in setup with the stock Avro
  * `DataFileWriter` rather than the engine's sink, using the reference's
  * own Avro types (src/avros.rs:6-237, SURVEY §1.2): `blockchainType` as
  * the enum {ETHEREUM, BITCOIN}, `timestamp-millis` longs and
  * `[null, bytes]` unions. Every read path must decode them alike, and
  * the decode assertions of the golden-file checks in
  * [[AvroArchiveSourceSpec]] replay here on a fixture tree of the same
  * shape, so they run without the reference's testdata.
  */
class ReferenceFormatSpec extends SparkSpec {

  import ReferenceFormatSpec._

  private val ethHeight = 15437941L
  private val ethHash = "0x" + hex64("eth-block")
  private val ethTxids = (0 until 23).map(i => "0x" + hex64(s"eth-tx-$i"))

  /** The reference testdata's fullAvroFiles layout, reproduced. */
  private lazy val fixtures: String = {
    val root = Files.createTempDirectory("graft-refshaped")
    val btc = btcBlock(723744L)
    container(root.resolve("000723744.block.avro"), blockSchema, Seq(btc))
    // the dense single-height txes file: 423 records of one block
    container(root.resolve("000723744.txes.avro"), txSchema,
      (0L until 423L).map(i => tx("BITCOIN", 723744L, btc.get("blockId").toString,
        i, hex64(s"btc-tx-$i"), None)))
    (723740L to 723743L).foreach(h =>
      container(root.resolve(f"$h%09d.block.avro"), blockSchema, Seq(btcBlock(h))))
    container(root.resolve("btc/000700000/range-000723745_000723749.blocks.avro"),
      blockSchema, (723745L to 723749L).map(btcBlock))
    val parent = "0x" + hex64("eth-parent")
    val ethJson = s"""{"hash":"$ethHash","parentHash":"$parent","number":"0x""" +
      java.lang.Long.toHexString(ethHeight) + "\",\"timestamp\":\"0x62f1\"," +
      ethTxids.map("\"" + _ + "\"").mkString("\"transactions\":[", ",", "],\"uncles\":[]}")
    container(root.resolve("ethereum/015437941.block.avro"), blockSchema,
      Seq(block("ETHEREUM", ethHeight, ethJson, ethHash, parent, Some("""{"uncle":0}"""))))
    container(root.resolve("ethereum/015437941.txes.avro"), txSchema,
      ethTxids.zipWithIndex.map { case (t, i) =>
        tx("ETHEREUM", ethHeight, ethHash, i.toLong, t, Some("0x" + hex64(s"from-$i")))
      })
    root.toString
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy("height", df.columns.filter(_ == "index").toSeq: _*).collect().toSeq
      .map(r => Row.fromSeq(r.toSeq.map {
        case b: Array[Byte] => b.toSeq // compare payloads by value
        case v              => v
      }))

  test("reference-typed containers decode alike through every read path") {
    for ((kind, n) <- Seq("blocks" -> 11, "txes" -> 446)) {
      val archive = AvroArchiveSource.readArchive(spark, fixtures, kind)
      val files = AvroArchiveSource.filesOfKind(spark,
        AvroArchiveSource.listAvroFiles(spark, fixtures), kind)
      val withPath = AvroArchiveSource.readArchiveFilesWithPath(spark, files, kind,
        lenient = true)
      val v2 = spark.read.format("avro-archive").option("kind", kind).load(fixtures)
      assert(archive.count() === n)
      assert(sorted(withPath.drop("_path")) === sorted(archive))
      assert(sorted(v2) === sorted(archive))
      assert(withPath.select("_path").distinct().count() === files.size)
      // the enum reads as its symbol, timestamp-millis as the exact instant
      val chains = archive.select("blockchainType").distinct().collect().map(_.getString(0))
      assert(chains.toSet === Set("BITCOIN", "ETHEREUM"))
      val ts = v2.select(unix_millis(col("archiveTimestamp"))).distinct().collect()
      assert(ts.map(_.getLong(0)).toSeq === Seq(archivedAt))
    }
    // [null, bytes] unions: null where absent, the bytes where present
    val eth = spark.read.format("avro-archive").option("kind", "blocks").load(fixtures)
      .where(col("blockchainType") === "ETHEREUM").head()
    assert(new String(eth.getAs[Array[Byte]]("uncle0Json"), "UTF-8") === """{"uncle":0}""")
    assert(eth.isNullAt(eth.fieldIndex("uncle1Json")))
    val ethTx = AvroArchiveSource.readArchive(spark, fixtures, "txes")
      .where(col("blockchainType") === "ETHEREUM").head()
    assert(ethTx.getAs[String]("from").startsWith("0x"))
    assert(ethTx.getAs[Array[Byte]]("receiptJson").nonEmpty)
  }

  // The four golden-file decode checks of AvroArchiveSourceSpec, replayed.

  test("decodes a single-block Bitcoin file: 1 record, correct height") {
    val rows = AvroArchiveSource.read(spark, s"$fixtures/000723744.block.avro", "blocks")
      .collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("height") === 723744L)
    assert(r.getAs[String]("blockchainType") === "BITCOIN")
    assert(r.getAs[String]("blockId").nonEmpty)
    assert(r.getAs[Array[Byte]]("json").nonEmpty)
  }

  test("decodes the dense txes file: 423 records, all for block 723744") {
    val df = AvroArchiveSource.read(spark, s"$fixtures/000723744.txes.avro", "txes")
    assert(df.count() === 423L)
    val agg = df.agg(
      countDistinct("height").as("nh"),
      countDistinct("txid").as("ntx"),
      min("index").as("mn"), max("index").as("mx")).head()
    assert(agg.getAs[Long]("nh") === 1L)
    assert(agg.getAs[Long]("ntx") === 423L)
    assert(agg.getAs[Long]("mn") === 0L)
    assert(agg.getAs[Long]("mx") === 422L)
  }

  test("Ethereum pair: hex adapter parses the payload; txids reconcile") {
    import graft.model.EthereumAdapter
    val b = AvroArchiveSource.read(spark, s"$fixtures/ethereum/015437941.block.avro", "blocks")
    val row = b.head()
    assert(b.count() === 1L)
    assert(row.getAs[Long]("height") === ethHeight)
    assert(row.getAs[String]("blockchainType") === "ETHEREUM")
    val p = b.select(col("blockId"), col("parentId"),
      EthereumAdapter.parseBlock(col("json").cast("string")).as("p"))
    val ids = p.select(col("blockId"), col("parentId"),
      EthereumAdapter.blockHash(col("p")).as("h"),
      EthereumAdapter.parentHash(col("p")).as("ph"),
      EthereumAdapter.txIds(col("p")).as("txs")).head()
    assert(ids.getString(2) === ids.getString(0))
    assert(ids.getString(3) === ids.getString(1))
    val declared = ids.getSeq[String](4).toSet
    assert(declared.size === 23)
    val t = AvroArchiveSource.read(spark, s"$fixtures/ethereum/015437941.txes.avro", "txes")
    assert(t.select("txid").collect().map(_.getString(0)).toSet === declared)
  }

  test("decodes a range file and a glob of singles") {
    val range = AvroArchiveSource.read(
      spark, s"$fixtures/btc/000700000/range-000723745_000723749.blocks.avro", "blocks")
    val heights = range.select("height").collect().map(_.getLong(0)).sorted
    assert(heights.toSeq === (723745L to 723749L))

    val singles = AvroArchiveSource.read(spark, s"$fixtures/0007237*.block.avro", "blocks")
    assert(singles.select("height").distinct().count() === singles.count())
    assert(singles.count() >= 5)
  }
}

/** Writers for reference-typed containers, shared with specs that need a
  * reference-shaped archive tree without the reference's testdata.
  */
object ReferenceFormatSpec {

  private val enumT =
    """{"type":"enum","name":"BlockchainType","symbols":["ETHEREUM","BITCOIN"]}"""
  private val millisT = """{"type":"long","logicalType":"timestamp-millis"}"""

  private def recordSchema(name: String, fields: (String, String)*): Schema = {
    val fieldJson = fields.map { case (n, t) =>
      val default = if (t.startsWith("[\"null\"")) ",\"default\":null" else ""
      s"""{"name":"$n","type":$t$default}"""
    }
    new Schema.Parser().parse(s"""{"type":"record","name":"$name",""" +
      s""""namespace":"io.emeraldpay.dshackle.archive.avro",""" +
      fieldJson.mkString("\"fields\":[", ",", "]}"))
  }

  val blockSchema = recordSchema("Block",
    "blockchainType" -> enumT, "blockchainId" -> "\"string\"",
    "archiveTimestamp" -> millisT, "height" -> "\"long\"",
    "blockId" -> "\"string\"", "parentId" -> "\"string\"",
    "timestamp" -> millisT, "json" -> "\"bytes\"", "unclesCount" -> "\"int\"",
    "uncle0Json" -> """["null","bytes"]""", "uncle1Json" -> """["null","bytes"]""")

  private val txSchema = recordSchema("Transaction",
    "blockchainType" -> enumT, "blockchainId" -> "\"string\"",
    "archiveTimestamp" -> millisT, "height" -> "\"long\"",
    "blockId" -> "\"string\"", "timestamp" -> millisT,
    "index" -> "\"long\"", "txid" -> "\"string\"",
    "json" -> "\"bytes\"", "raw" -> "\"bytes\"",
    "from" -> """["null","string"]""", "to" -> """["null","string"]""",
    "receiptJson" -> """["null","bytes"]""")

  private val archivedAt = 1662000000123L

  private def bytes(s: String): ByteBuffer = ByteBuffer.wrap(s.getBytes("UTF-8"))
  private def hex64(seed: String): String =
    org.apache.commons.codec.digest.DigestUtils.sha256Hex(seed)

  private def common(schema: Schema, chain: String, h: Long, blockId: String): GenericRecord = {
    val r = new GenericData.Record(schema)
    r.put("blockchainType",
      new GenericData.EnumSymbol(schema.getField("blockchainType").schema, chain))
    r.put("blockchainId", if (chain == "BITCOIN") "BTC" else "ETH")
    r.put("archiveTimestamp", archivedAt)
    r.put("height", h)
    r.put("blockId", blockId)
    r.put("timestamp", 1661000000000L + h)
    r
  }

  private def block(chain: String, h: Long, json: String, hash: String,
      parent: String, uncle: Option[String] = None): GenericRecord = {
    val r = common(blockSchema, chain, h, hash)
    r.put("parentId", parent)
    r.put("json", bytes(json))
    r.put("unclesCount", uncle.size)
    r.put("uncle0Json", uncle.map(bytes).orNull)
    r.put("uncle1Json", null)
    r
  }

  def btcBlock(h: Long): GenericRecord = {
    val (hash, parent) = (hex64(s"btc-$h"), hex64(s"btc-${h - 1}"))
    block("BITCOIN", h,
      s"""{"hash":"$hash","confirmations":1,"height":$h,"version":536870912,""" +
        s""""merkleroot":"${hex64(s"btc-merkle-$h")}","tx":[],"time":$h,"nTx":0,""" +
        s""""bits":"170b3ce9","previousblockhash":"$parent"}""",
      hash, parent)
  }

  private def tx(chain: String, h: Long, blockId: String, i: Long, txid: String,
      from: Option[String]): GenericRecord = {
    val r = common(txSchema, chain, h, blockId)
    r.put("index", i)
    r.put("txid", txid)
    r.put("json", bytes(s"""{"txid":"$txid"}"""))
    r.put("raw", ByteBuffer.wrap(Array.fill[Byte](8)(i.toByte)))
    r.put("from", from.orNull)
    r.put("to", from.map(_.reverse).orNull)
    r.put("receiptJson", from.map(f => bytes(s"""{"from":"$f"}""")).orNull)
    r
  }

  def container(path: Path, schema: Schema, recs: Seq[GenericRecord]): Unit = {
    Files.createDirectories(path.getParent)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(CodecFactory.snappyCodec())
    w.create(schema, path.toFile)
    recs.foreach(w.append)
    w.close()
  }
}
