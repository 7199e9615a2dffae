package graft.archive

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Archive filename algebra as reusable column expressions (reference:
  * src/archiver/filenames.rs — the filename IS the metadata: kind + range +
  * optional fork hash).
  *
  * Layout: singles `L1/L2/<height>[.<hash>].<kind>.avro`, ranges
  * `L1/range-<start>_<end>.<kind>.avro`, with L1 = height/1e6, L2 =
  * height/1e3, 9-digit zero-padding (filenames.rs:51-83,110-135).
  */
object Filenames {

  val PadWidth = 9
  val L1Size = 1000000L
  val L2Size = 1000L

  def padded(height: Column): Column = lpad(height.cast("string"), PadWidth, "0")

  // Plain-Scala twins of the column expressions, for writers that name
  // files per task (e.g. AvroArchiveSink). `%09d` pads but never truncates,
  // so heights ≥ 1e9 widen exactly like the reference's `{:0length$}`.
  def paddedS(v: Long): String = f"$v%09d"
  def l1S(h: Long): Long = h / L1Size * L1Size
  def l2S(h: Long): Long = h / L2Size * L2Size

  /** Relative single path `L1/L2/<height>[.<hash>].<suffix>.avro`
    * (filenames.rs:72-78).
    */
  def relativeSinglePath(h: Long, kind: String, hash: Option[String] = None): String = {
    val name = hash match {
      case None      => s"${paddedS(h)}.${singleSuffix(kind)}.avro"
      case Some(hsh) => s"${paddedS(h)}.$hsh.${singleSuffix(kind)}.avro"
    }
    s"${paddedS(l1S(h))}/${paddedS(l2S(h))}/$name"
  }

  /** Relative range path `L1/range-<s>_<e>.<kind>.avro` (filenames.rs:79-83). */
  def relativeRangePath(s: Long, e: Long, kind: String): String =
    s"${paddedS(l1S(s))}/range-${paddedS(s)}_${paddedS(e)}.${normalizeKind(kind)}.avro"

  /** The naming rule for a written file covering heights `mn..mx`: a single
    * path when it holds one height, a range path otherwise.
    */
  def relativePath(mn: Long, mx: Long, kind: String, hash: Option[String] = None): String =
    if (mn == mx) relativeSinglePath(mn, kind, hash) else relativeRangePath(mn, mx, kind)

  def l1(height: Column): Column = floor(height / L1Size).cast("long") * L1Size
  def l2(height: Column): Column = floor(height / L2Size).cast("long") * L2Size

  def l1Dir(height: Column): Column = padded(l1(height))
  def l2Dir(height: Column): Column = padded(l2(height))

  /** Write-side suffix for a SINGLE file: the reference writes `block`
    * (singular) for one-block block files, `txes`/`traces` otherwise
    * (filenames.rs:52-56).
    */
  def singleSuffix(kind: String): String = normalizeKind(kind) match {
    case "blocks" => "block"
    case other    => other
  }

  /** Accepted kind alias → canonical kind, mirroring `DataKind::from_str`
    * (src/archiver/datakind.rs:40-47).
    */
  val KindAliases: Map[String, String] = Map(
    "blocks" -> "blocks", "block" -> "blocks",
    "txes" -> "txes", "tx" -> "txes", "transactions" -> "txes", "transaction" -> "txes",
    "traces" -> "traces", "trace" -> "traces")

  /** Canonical kind for any accepted alias; unknown aliases throw (write
    * side — the parse side returns null instead, like the reference's
    * `None`).
    */
  def normalizeKind(kind: String): String =
    KindAliases.getOrElse(kind, throw new IllegalArgumentException(s"unknown kind: $kind"))

  /** `<height>.<single-suffix>.avro`, or `<height>.<hash>.<suffix>.avro`
    * for forked heights (filenames.rs:51-68). The hash must be the 64-hex
    * block hash — shorter strings won't survive the round-trip parse (the
    * reference's RE_SINGLE pins `[a-f0-9]{64}`).
    */
  def singleFile(height: Column, kind: String, hash: Option[Column] = None): Column = {
    val suffix = singleSuffix(kind)
    hash match {
      case None    => concat(padded(height), lit(s".$suffix.avro"))
      case Some(h) => concat(padded(height), lit("."), h, lit(s".$suffix.avro"))
    }
  }

  /** `range-<start>_<end>.<kind>.avro` (filenames.rs:69-83). */
  def rangeFile(start: Column, end: Column, kind: String): Column =
    concat(lit("range-"), padded(start), lit("_"),
      padded(end), lit(s".${normalizeKind(kind)}.avro"))

  /** Full single path `L1/L2/<file>` (filenames.rs:110-135). */
  def singlePath(height: Column, kind: String, hash: Option[Column] = None): Column =
    concat(l1Dir(height), lit("/"), l2Dir(height), lit("/"), singleFile(height, kind, hash))

  /** Full range path `L1/<file>`. */
  def rangePath(start: Column, end: Column, kind: String): Column =
    concat(l1Dir(start), lit("/"), rangeFile(start, end, kind))

  // Parsers (filenames.rs:8-9,29-49): regexes over the basename, matching
  // the reference exactly — variable-width heights (padding overflows 9
  // digits past 1e9), a 64-hex fork hash, and an optional codec segment
  // (`<h>.<kind>.gz.avro` etc.).
  private val SingleRe = "^(\\d+)(?:\\.([0-9a-f]{64}))?\\.(\\w+)(?:\\.\\w+)?\\.avro$"
  private val RangeRe = "^range-(\\d+)_(\\d+)\\.(\\w+)(?:\\.\\w+)?\\.avro$"
  private val SingleR = SingleRe.r
  private val RangeR = RangeRe.r

  /** Plain-Scala twin of the column parsers, for catalog-sized listings:
    * (start, end, raw kind, fork hash) of a basename, None for a foreign
    * name. The kind is as written; [[KindAliases]] canonicalizes it. The
    * fork hash is "" for names without one (every range).
    */
  def parseS(base: String): Option[(Long, Long, String, String)] = base match {
    case SingleR(h, fork, k) => Some((h.toLong, h.toLong, k, Option(fork).getOrElse("")))
    case RangeR(s, e, k)     => Some((s.toLong, e.toLong, k, ""))
    case _                   => None
  }

  def isRange(file: Column): Column = file.rlike("^range-")

  /** Canonical kind column, or null for names/kinds the reference's parser
    * rejects ([[KindAliases]]).
    */
  def parseKind(file: Column): Column = {
    val raw = when(isRange(file), regexp_extract(file, RangeRe, 3))
      .otherwise(regexp_extract(file, SingleRe, 3))
    KindAliases.groupMap(_._2)(_._1).foldLeft(lit(null).cast("string")) {
      case (acc, (k, aliases)) => when(raw.isin(aliases.toSeq: _*), k).otherwise(acc)
    }
  }

  def parseStart(file: Column): Column =
    when(isRange(file), regexp_extract(file, RangeRe, 1).cast("long"))
      .otherwise(regexp_extract(file, SingleRe, 1).cast("long"))

  def parseEnd(file: Column): Column =
    when(isRange(file), regexp_extract(file, RangeRe, 2).cast("long"))
      .otherwise(regexp_extract(file, SingleRe, 1).cast("long"))

  /** Fork hash for singles written during reorgs; null when absent. */
  def parseForkHash(file: Column): Column = {
    val h = regexp_extract(file, SingleRe, 2)
    when(isRange(file) || h === "", lit(null).cast("string")).otherwise(h)
  }
}
