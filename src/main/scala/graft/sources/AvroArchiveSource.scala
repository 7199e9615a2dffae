package graft.sources

import java.io.InputStream
import java.nio.ByteBuffer

import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericEnumSymbol, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.archive.Filenames
import graft.model.Schemas

/** Reader for the reference's ACTUAL storage format — Avro object-container
  * files (reference writer: src/storage/fs.rs:135-219; reader:
  * src/storage/avro_reader.rs:28-70). The container ships no spark-avro
  * datasource, so this decodes via the core avro jar. Every read — the
  * `binaryFiles` reads below and the DataSourceV2 scan
  * ([[graft.sources.v2.AvroArchiveDataSource]]) — goes through the one
  * decoder, [[ContainerRows]].
  *
  * Records map by FIELD NAME onto the static Spark schemas
  * (graft.model.Schemas); the reference's readers use the same fixed
  * schemas, never inference.
  */
object AvroArchiveSource {

  /** Read one-or-many `.avro` archive files (glob ok) as the given kind
    * ("blocks" | "txes" | "traces").
    */
  def read(spark: SparkSession, pathGlob: String, kind: String): DataFrame =
    read(spark, pathGlob, Schemas.schemaFor(kind))

  /** All `.avro` files under `dir`, at any L1/(L2) nesting level — the
    * recursive walk the reference's listing does (src/storage/fs.rs:62-132).
    * The listing is catalog-sized: one RPC stream, no data reads.
    */
  def listAvroFiles(spark: SparkSession, dir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Seq.empty
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".avro"))
        out += f.getPath.toString
    }
    out.result()
  }

  /** Read every `<kind>` container file under an archive directory tree,
    * filtered by parsed filename kind. Empty-archive-safe: a missing or
    * empty dir yields an empty DataFrame (the reference verify's
    * does-nothing-on-empty-archive, src/command/verify.rs:951-970) instead
    * of `binaryFiles` failing on a matchless glob.
    */
  def readArchive(spark: SparkSession, dir: String, kind: String): DataFrame =
    readArchiveFiles(spark,
      filesOfKind(spark, listAvroFiles(spark, dir), kind), kind)

  /** The subset of `files` whose basename parses to `kind`. */
  def filesOfKind(spark: SparkSession, files: Seq[String], kind: String): Seq[String] = {
    val want = Filenames.normalizeKind(kind)
    files.filter { p =>
      val base = p.substring(p.lastIndexOf('/') + 1)
      parseKindS(base).contains(want)
    }
  }

  /** Plain-Scala twin of Filenames.parseKind for catalog-sized listings. */
  def parseKindS(base: String): Option[String] =
    Filenames.parseS(base).flatMap(p => Filenames.KindAliases.get(p._3))

  /** Plain-Scala twin of Filenames.parseStart/End — the covered height
    * range of an archive filename, for catalog-sized driver listings.
    */
  def parseRangeS(base: String): Option[(Long, Long)] =
    Filenames.parseS(base).map(p => (p._1, p._2))

  /** Read an explicit list of container files (empty-safe). */
  def readArchiveFiles(spark: SparkSession, files: Seq[String], kind: String): DataFrame =
    decode(spark, files, Schemas.schemaFor(kind), lenient = false, withPath = false)

  /** Like [[readArchiveFiles]] but with a `_path` column attributing every
    * record to its source container — the content verifier needs to mark
    * whole FILES broken, not rows (reference FileReference,
    * src/storage/mod.rs:231-258).
    *
    * `lenient = true` turns an unreadable or mid-stream-corrupt container
    * into "the records stop here" instead of a task failure: the verify
    * pipeline then SURFACES the damage through its coverage/duplicate
    * checks and dooms the file set, exactly like the reference's per-batch
    * decode-error handling (verify.rs treats an avro read error as a
    * failed batch, never a crashed command). Strict reads (the default)
    * keep failing fast — silently truncating data outside a verifier
    * would mask corruption.
    */
  def readArchiveFilesWithPath(spark: SparkSession, files: Seq[String],
      kind: String, lenient: Boolean = false): DataFrame =
    decode(spark, files, Schemas.schemaFor(kind), lenient, withPath = true)

  /** Read with an explicit pinned schema (arbitrary tables). */
  def read(spark: SparkSession, pathGlob: String, schema: StructType): DataFrame =
    decode(spark, Seq(pathGlob), schema, lenient = false, withPath = false)

  /** The `binaryFiles` seam: one `binaryFiles` split per packed set of
    * files, each container decoded straight to Catalyst rows. An empty
    * file list yields an empty frame rather than a matchless glob.
    */
  private def decode(spark: SparkSession, files: Seq[String], schema: StructType,
      lenient: Boolean, withPath: Boolean): DataFrame = {
    val fields = schema.fields // serialize field list, not the StructType methods
    val rows: RDD[InternalRow] =
      if (files.isEmpty) spark.sparkContext.emptyRDD[InternalRow]
      else spark.sparkContext.binaryFiles(files.mkString(",")).flatMap {
        case (path, pds) =>
          new ContainerRows(() => pds.open(), fields, lenient,
            if (withPath) UTF8String.fromString(path) else null)
      }
    val out =
      if (withPath) schema.add(StructField("_path", StringType, nullable = false))
      else schema
    Bridge.internalCreateDataFrame(spark, rows, out)
  }

  /** Avro runtime value → Catalyst internal value (timestamps are
    * timestamp-millis longs → micros; the reference's `blockchainType`
    * enum reads as its symbol). Strings and bytes are copied out of the
    * decoder's buffers. A value that does not fit the pinned type throws.
    */
  private[sources] def toCatalyst(v: Any, dt: DataType): Any = (v, dt) match {
    case (u: Utf8, StringType) =>
      // Utf8's backing array over-allocates; copy exactly byteLength
      UTF8String.fromBytes(java.util.Arrays.copyOfRange(u.getBytes, 0, u.getByteLength))
    case (s: String, StringType)               => UTF8String.fromString(s)
    case (e: GenericEnumSymbol[_], StringType) => UTF8String.fromString(e.toString)
    case (l: java.lang.Long, TimestampType | TimestampNTZType) => l * 1000L
    case (l: java.lang.Long, LongType)         => l.longValue()
    case (d: java.lang.Double, DoubleType)     => d.doubleValue()
    case (i: java.lang.Integer, IntegerType)   => i.intValue()
    case (b: ByteBuffer, BinaryType) =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case (a: Array[Byte], BinaryType)          => a
    case (other, _) =>
      throw new IllegalArgumentException(
        s"avro-archive: unsupported value ${other.getClass} for $dt")
  }
}

/** The one container decoder: the records of one Avro container as Catalyst
  * rows of `fields` (matched by name; a field the container lacks reads as
  * null, and a null in a non-nullable field throws), plus a trailing `path`
  * value when one is given.
  *
  * It is a lookahead iterator: the stream is opened and record N decoded
  * inside `hasNext`, so an unreadable or mid-stream-corrupt container
  * surfaces there — as the end of the records when `lenient`, as a task
  * failure otherwise — and never as a throw from a half-consumed `next()`.
  */
private[sources] final class ContainerRows(open: () => InputStream,
    fields: Array[StructField], lenient: Boolean, path: UTF8String)
    extends Iterator[InternalRow] with java.io.Closeable {

  private var stream: DataFileStream[GenericRecord] = null
  private var positions: Array[Int] = null // field → position in the container's schema
  private var record: GenericRecord = null
  private var pending: InternalRow = null
  private var done = false

  private def advance(): Unit =
    if (!done && pending == null) {
      try {
        if (stream == null) {
          stream = new DataFileStream[GenericRecord](
            open(), new GenericDatumReader[GenericRecord]())
          val written = stream.getSchema
          positions = fields.map(f => Option(written.getField(f.name)).fold(-1)(_.pos))
        }
        if (stream.hasNext) {
          record = stream.next(record)
          pending = decode(record)
        } else close()
      } catch {
        case t: Throwable =>
          close()
          if (!lenient) throw t
      }
    }

  private def decode(rec: GenericRecord): InternalRow = {
    val row = new GenericInternalRow(fields.length + (if (path == null) 0 else 1))
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      val v = if (positions(i) < 0) null else rec.get(positions(i))
      if (v != null) row.update(i, AvroArchiveSource.toCatalyst(v, f.dataType))
      else if (!f.nullable)
        throw new IllegalArgumentException(s"avro-archive: null in non-nullable field ${f.name}")
      i += 1
    }
    if (path != null) row.update(fields.length, path)
    row
  }

  def hasNext: Boolean = { advance(); pending != null }

  def next(): InternalRow = {
    advance()
    if (pending == null) throw new NoSuchElementException
    val r = pending; pending = null; r
  }

  def close(): Unit = {
    done = true
    if (stream != null) try stream.close() catch { case _: Throwable => () }
    stream = null
  }
}
