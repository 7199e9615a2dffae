package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.archive.Filenames
import graft.model.Schemas

/** Shape of a generated chain. Heights `[0, blocks)` are the backfill,
  * `[blocks, blocks + tail)` the streamed heads; `forks` orphan blocks and
  * `holes` deleted tx singles are planted in the tail.
  */
final case class ChainSize(blocks: Int, tail: Int, waves: Int, forks: Int,
    holes: Int, chunk: Int) {
  require(blocks % chunk == 0, "the backfill must end on a chunk boundary")
  require(forks + holes + 2 <= tail, "the tail is too short for its forks and holes")
  def heights: Int = blocks + tail
}

final case class Block(height: Long, hash: String, parent: String,
    txids: Vector[String], pad: String) {
  def json: String = txids.map(t => "\"" + t + "\"").mkString(
    s"""{"hash":"$hash","previousblockhash":"$parent","height":$height,"tx":[""",
    ",", s"""],"time":$height,"pad":"$pad"}""")
}

/** A Bitcoin-shaped chain: every canonical block carries 1–4 txes (some
  * always more than one, so the tx kind of a chunk never has one row per
  * height), plus orphan forks and the heights whose tx single is deleted.
  */
final case class Chain(size: ChainSize, seed: Long, canonical: Vector[Block],
    orphans: Vector[Block], holes: Vector[Long]) {

  lazy val txCount: Long = canonical.iterator.map(_.txids.size.toLong).sum

  /** Canonical tx count in heights [lo, hi]. */
  def txesIn(lo: Long, hi: Long): Long =
    (lo to hi).iterator.map(h => canonical(h.toInt).txids.size.toLong).sum

  /** Sum of tx `index` over heights [lo, hi] (each block numbers 0..n-1). */
  def txIndexSumIn(lo: Long, hi: Long): Long =
    (lo to hi).iterator.map { h =>
      val n = canonical(h.toInt).txids.size.toLong
      n * (n - 1) / 2
    }.sum

  /** Archive files the lifecycle is expected to leave behind before verify:
    * a range file per backfill chunk and kind, a hash-named single per
    * streamed block (orphans included) and kind.
    */
  def expectedFiles: Seq[String] = {
    val ranges = for {
      c <- 0 until size.blocks / size.chunk
      kind <- Seq("blocks", "txes")
    } yield Filenames.relativeRangePath(c.toLong * size.chunk,
      c.toLong * size.chunk + size.chunk - 1, kind)
    val singles = for {
      b <- canonical.drop(size.blocks) ++ orphans
      kind <- Seq("blocks", "txes")
    } yield Filenames.relativeSinglePath(b.height, kind, Some(b.hash))
    (ranges ++ singles).sorted
  }

  /** Digest of the fixture: file names, record counts and content. Equal
    * seeds must give equal digests; this is what the self-test pins.
    */
  def digest: String = {
    val md = MessageDigest.getInstance("SHA-256")
    expectedFiles.foreach(f => md.update(f.getBytes(UTF_8)))
    md.update(s"blocks=${canonical.size};txes=$txCount;orphans=${orphans.size}".getBytes(UTF_8))
    (canonical ++ orphans).foreach { b =>
      md.update(b.json.getBytes(UTF_8))
      b.txids.foreach(t => md.update(t.getBytes(UTF_8)))
    }
    holes.foreach(h => md.update(h.toString.getBytes(UTF_8)))
    ChainGen.hex(md.digest())
  }

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private def blockRow(b: Block): Row = Row("BITCOIN", "BTC", ts(0), b.height,
    b.hash, b.parent, ts(b.height), b.json.getBytes(UTF_8), 0, null, null)

  private def txRows(b: Block): Seq[Row] = b.txids.zipWithIndex.map { case (t, i) =>
    Row("BITCOIN", "BTC", ts(0), b.height, b.hash, ts(b.height), i.toLong, t,
      s"""{"txid":"$t","vin":${i + 1}}""".getBytes(UTF_8),
      t.getBytes(UTF_8), null, null, null)
  }

  def blockRecords(spark: SparkSession, bs: Seq[Block]): DataFrame =
    spark.createDataFrame(bs.map(blockRow).asJava, Schemas.block)

  def txRecords(spark: SparkSession, bs: Seq[Block]): DataFrame =
    spark.createDataFrame(bs.flatMap(txRows).asJava, Schemas.transaction)

  /** Head events of one wave, in the stream command's raw shape. */
  def heads(spark: SparkSession, bs: Seq[Block]): DataFrame = {
    import spark.implicits._
    bs.map(b => (b.height, b.hash, b.parent, b.json))
      .toDF("height", "blockId", "parentId", "payload")
  }

  def canonicalHashes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    canonical.map(b => (b.height, b.hash)).toDF("height", "hash")
  }

  /** The tail split into `waves` consecutive head batches; each orphan rides
    * in the wave of the height it contends for.
    */
  def waves: Seq[Seq[Block]] = {
    val tail = canonical.drop(size.blocks)
    val per = math.ceil(tail.size.toDouble / size.waves).toInt
    tail.grouped(per).toSeq.map { w =>
      val hs = w.map(_.height).toSet
      w ++ orphans.filter(o => hs(o.height))
    }
  }
}

object ChainGen {
  def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  private def hash64(seed: Long, tag: String, h: Long, i: Int): String =
    hex(MessageDigest.getInstance("SHA-256").digest(s"$seed/$tag/$h/$i".getBytes(UTF_8)))

  def generate(size: ChainSize, seed: Long): Chain = {
    val rnd = new Random(seed)
    def pad(): String = rnd.alphanumeric.take(64 + rnd.nextInt(256)).mkString
    def txids(tag: String, h: Long, n: Int) = Vector.tabulate(n)(i => hash64(seed, tag, h, i))
    val canonical = Vector.newBuilder[Block]
    var parent = "0" * 64
    for (h <- 0L until size.heights.toLong) {
      // every 50th block is forced multi-tx so no chunk is ever one tx per height
      val n = if (h % 50 == 0) 2 + rnd.nextInt(3) else 1 + rnd.nextInt(4)
      val b = Block(h, hash64(seed, "b", h, 0), parent, txids("t", h, n), pad())
      canonical += b
      parent = b.hash
    }
    val chain = canonical.result()
    // forks and holes never sit on the first or last tail height, and a
    // hole is never at a forked height (the orphan's tx single would cover it)
    val inner = rnd.shuffle((size.blocks + 1 until size.heights - 1).map(_.toLong).toVector)
    val forkHs = inner.take(size.forks).sorted
    val holes = inner.slice(size.forks, size.forks + size.holes).sorted
    val orphans = forkHs.map { h =>
      Block(h, hash64(seed, "o", h, 0), chain(h.toInt - 1).hash,
        txids("ot", h, 1 + rnd.nextInt(3)), pad())
    }
    Chain(size, seed, chain, orphans, holes)
  }
}
