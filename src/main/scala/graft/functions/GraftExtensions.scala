package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

/** Column-API and SQL surface for graft's native expressions.
  *
  * `GraftExtensions` is the `SparkSessionExtensions` hook (SURVEY §4):
  * sessions built via `GraftSession` (and the Verify/Bench mains) register
  * `md5_prefix_long(str, offset, seed)` into the function registry, so the
  * expression is reachable from `spark.sql(...)` text as well as from the
  * typed helpers below. It also installs [[ParamLiterals]], which keeps
  * request values out of generated code.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.{litInt, litString, requireArity}

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("md5_prefix_long"),
      new ExpressionInfo(classOf[Md5PrefixLong].getName, "md5_prefix_long"),
      (children: Seq[Expression]) => {
        requireArity("md5_prefix_long", children, 3)
        Md5PrefixLong(children.head,
          litInt("md5_prefix_long", children, 1, "offset"),
          litString("md5_prefix_long", children, 2, "seed"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      (children: Seq[Expression]) => {
        requireArity("word_ngrams", children, 2)
        WordNgrams(children.head, litInt("word_ngrams", children, 1, "n"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
      (children: Seq[Expression]) => {
        requireArity("array_dot", children, 2)
        ArrayDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fingerprints"),
      (children: Seq[Expression]) => {
        requireArity("winnow_fingerprints", children, 3)
        WinnowFingerprints(children.head,
          litInt("winnow_fingerprints", children, 1, "k"),
          litInt("winnow_fingerprints", children, 2, "w"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("png_dhash"),
      new ExpressionInfo(classOf[PngDhash].getName, "png_dhash"),
      (children: Seq[Expression]) => {
        requireArity("png_dhash", children, 1)
        PngDhash(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("wav_fingerprint"),
      new ExpressionInfo(classOf[WavFingerprint].getName, "wav_fingerprint"),
      (children: Seq[Expression]) => {
        requireArity("wav_fingerprint", children, 1)
        WavFingerprint(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("url_canonical"),
      new ExpressionInfo(classOf[UrlCanonical].getName, "url_canonical"),
      (children: Seq[Expression]) => {
        requireArity("url_canonical", children, 1)
        UrlCanonical(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("jpeg_dhash"),
      new ExpressionInfo(classOf[JpegDhash].getName, "jpeg_dhash"),
      (children: Seq[Expression]) => {
        requireArity("jpeg_dhash", children, 1)
        JpegDhash(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("gif_dhash"),
      new ExpressionInfo(classOf[GifDhash].getName, "gif_dhash"),
      (children: Seq[Expression]) => {
        requireArity("gif_dhash", children, 1)
        GifDhash(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("gif_frame_dhashes"),
      new ExpressionInfo(classOf[GifFrameDhashes].getName, "gif_frame_dhashes"),
      (children: Seq[Expression]) => {
        requireArity("gif_frame_dhashes", children, 1)
        GifFrameDhashes(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[Expression]) => {
        requireArity("jaro_winkler", children, 2)
        JaroWinkler(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect"),
      new ExpressionInfo(classOf[SortedIntersect].getName, "sorted_intersect"),
      (children: Seq[Expression]) => {
        requireArity("sorted_intersect", children, 2)
        SortedIntersect(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("tar_build"),
      new ExpressionInfo(classOf[TarBuild].getName, "tar_build"),
      (children: Seq[Expression]) => {
        requireArity("tar_build", children, 2)
        TarBuild(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("tar_entries"),
      new ExpressionInfo(classOf[TarEntries].getName, "tar_entries"),
      (children: Seq[Expression]) => {
        requireArity("tar_entries", children, 1)
        TarEntries(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("zip_build"),
      new ExpressionInfo(classOf[ZipBuild].getName, "zip_build"),
      (children: Seq[Expression]) => {
        requireArity("zip_build", children, 2)
        ZipBuild(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("zip_entries"),
      new ExpressionInfo(classOf[ZipEntries].getName, "zip_entries"),
      (children: Seq[Expression]) => {
        requireArity("zip_entries", children, 1)
        ZipEntries(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("gzip_bytes"),
      new ExpressionInfo(classOf[GzipBytes].getName, "gzip_bytes"),
      (children: Seq[Expression]) => {
        requireArity("gzip_bytes", children, 1)
        GzipBytes(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("gunzip_bytes"),
      new ExpressionInfo(classOf[GunzipBytes].getName, "gunzip_bytes"),
      (children: Seq[Expression]) => {
        requireArity("gunzip_bytes", children, 1)
        GunzipBytes(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_normalize"),
      (children: Seq[Expression]) => {
        requireArity("unicode_normalize", children, 2)
        children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(f: org.apache.spark.unsafe.types.UTF8String, _) =>
            UnicodeNormalize(children.head, f.toString)
          case other => throw new IllegalArgumentException(
            s"unicode_normalize form must be a string literal, got $other")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("zstd_bytes"),
      new ExpressionInfo(classOf[ZstdBytes].getName, "zstd_bytes"),
      (children: Seq[Expression]) => {
        requireArity("zstd_bytes", children, 1)
        ZstdBytes(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("unzstd_bytes"),
      new ExpressionInfo(classOf[UnzstdBytes].getName, "unzstd_bytes"),
      (children: Seq[Expression]) => {
        requireArity("unzstd_bytes", children, 1)
        UnzstdBytes(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("unzstd_members"),
      new ExpressionInfo(classOf[UnzstdMembers].getName, "unzstd_members"),
      (children: Seq[Expression]) => {
        requireArity("unzstd_members", children, 1)
        UnzstdMembers(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("synth_cell_png"),
      new ExpressionInfo(classOf[SynthCellPng].getName, "synth_cell_png"),
      (children: Seq[Expression]) => {
        requireArity("synth_cell_png", children, 1)
        SynthCellPng(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("inline_data_uris"),
      new ExpressionInfo(classOf[InlineDataUris].getName, "inline_data_uris"),
      (children: Seq[Expression]) => {
        requireArity("inline_data_uris", children, 2)
        children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(m: org.apache.spark.unsafe.types.UTF8String, _) =>
            InlineDataUris(children.head, m.toString)
          case other => throw new IllegalArgumentException(
            s"inline_data_uris mime must be a string literal, got $other")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("tiff_bmp_dims"),
      new ExpressionInfo(classOf[TiffBmpDims].getName, "tiff_bmp_dims"),
      (children: Seq[Expression]) => {
        requireArity("tiff_bmp_dims", children, 1)
        TiffBmpDims(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("exif_meta"),
      new ExpressionInfo(classOf[ExifMeta].getName, "exif_meta"),
      (children: Seq[Expression]) => {
        requireArity("exif_meta", children, 1)
        ExifMeta(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("gunzip_members"),
      new ExpressionInfo(classOf[GunzipMembers].getName, "gunzip_members"),
      (children: Seq[Expression]) => {
        requireArity("gunzip_members", children, 1)
        GunzipMembers(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("warc_records"),
      new ExpressionInfo(classOf[WarcRecords].getName, "warc_records"),
      (children: Seq[Expression]) => {
        requireArity("warc_records", children, 1)
        WarcRecords(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("detect_encoding"),
      new ExpressionInfo(classOf[DetectEncoding].getName, "detect_encoding"),
      (children: Seq[Expression]) => {
        requireArity("detect_encoding", children, 1)
        DetectEncoding(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("fix_mojibake"),
      new ExpressionInfo(classOf[FixMojibake].getName, "fix_mojibake"),
      (children: Seq[Expression]) => {
        requireArity("fix_mojibake", children, 1)
        FixMojibake(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("pii_scrub"),
      new ExpressionInfo(classOf[PiiScrub].getName, "pii_scrub"),
      (children: Seq[Expression]) => {
        requireArity("pii_scrub", children, 1)
        PiiScrub(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("robots_rules"),
      new ExpressionInfo(classOf[RobotsRules].getName, "robots_rules"),
      (children: Seq[Expression]) => {
        requireArity("robots_rules", children, 2)
        RobotsRules(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("robots_sitemaps"),
      new ExpressionInfo(classOf[RobotsSitemaps].getName, "robots_sitemaps"),
      (children: Seq[Expression]) => {
        requireArity("robots_sitemaps", children, 1)
        RobotsSitemaps(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("robots_allowed"),
      new ExpressionInfo(classOf[RobotsAllowed].getName, "robots_allowed"),
      (children: Seq[Expression]) => {
        requireArity("robots_allowed", children, 2)
        RobotsAllowed(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("luhn_valid"),
      new ExpressionInfo(classOf[LuhnValid].getName, "luhn_valid"),
      (children: Seq[Expression]) => {
        requireArity("luhn_valid", children, 1)
        LuhnValid(children.head)
      }))
    ext.injectColumnar(_ => ParamLiteralRule)
  }
}

object GraftExtensions {
  /** SQL-surface argument validation: the registry builders eval literal
    * parameters at PLAN BUILD time, so a wrong arity / non-literal / wrong
    * type must surface as a clear AnalysisException (Spark's own error
    * classes), not an IndexOutOfBounds or ClassCastException.
    */
  private def requireArity(fn: String, children: Seq[Expression], n: Int): Unit =
    if (children.length != n)
      throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$fn`", "expectedNum" -> n.toString,
        "actualNum" -> children.length.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))

  private def nonFoldable(fn: String, name: String, tpe: String): AnalysisException =
    new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
      "funcName" -> s"`$fn`", "paramName" -> s"`$name`", "paramType" -> tpe))

  private def litInt(fn: String, children: Seq[Expression], i: Int, name: String): Int = {
    val e = children(i)
    val integral = e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!e.foldable || !integral) throw nonFoldable(fn, name, "\"INT\"")
    e.eval() match {
      case n: Number => n.intValue()
      case _ => throw nonFoldable(fn, name, "\"INT\"") // NULL literal
    }
  }

  private def litString(fn: String, children: Seq[Expression], i: Int, name: String): String = {
    val e = children(i)
    if (!e.foldable || e.dataType != StringType) throw nonFoldable(fn, name, "\"STRING\"")
    e.eval() match {
      case null => throw nonFoldable(fn, name, "\"STRING\"")
      case v => v.toString
    }
  }
}

object GraftFunctions {
  /** 32-bit md5 prefix of (seed ++ str) as a long — see [[Md5PrefixLong]]. */
  def md5PrefixLong(c: Column, offset: Int, seed: String): Column =
    GraftBridge.column(Md5PrefixLong(GraftBridge.expression(c), offset, seed))

  /** Distinct word n-grams in one byte-scan — see [[WordNgrams]]. */
  def wordNgrams(c: Column, n: Int): Column =
    GraftBridge.column(WordNgrams(GraftBridge.expression(c), n))

  /** Fused ordered-fold dot product — see [[ArrayDot]]. */
  def arrayDot(a: Column, b: Column): Column =
    GraftBridge.column(ArrayDot(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Per-document winnowing fingerprint set — see [[WinnowFingerprints]]. */
  def winnowFingerprints(c: Column, k: Int, w: Int): Column =
    GraftBridge.column(WinnowFingerprints(GraftBridge.expression(c), k, w))

  /** Frozen-tokenizer BPE encode of a word column under a rank-ordered
    * merge table — see [[BpeApply]]. Not SQL-registered: the table is a
    * Seq parameter (tokenizer metadata), not a literal argument.
    */
  def bpeApply(c: Column, merges: Seq[(String, String)],
               textbook: Boolean = false): Column =
    GraftBridge.column(BpeApply(GraftBridge.expression(c), merges, textbook))

  /** PNG payload → 64-bit perceptual dHash (null if undecodable) —
    * see [[PngDhash]]. */
  def pngDhash(c: Column): Column =
    GraftBridge.column(PngDhash(GraftBridge.expression(c)))

  /** JPEG payload → 64-bit perceptual dHash in the same hash space as
    * [[pngDhash]] (null if undecodable) — see [[JpegDhash]]. */
  def jpegDhash(c: Column): Column =
    GraftBridge.column(JpegDhash(GraftBridge.expression(c)))

  /** Deterministic synthetic grayscale JPEG from a bigint id — the
    * lossy-codec fixture generator, see [[SynthGrayJpeg]]. */
  def synthGrayJpeg(c: Column): Column =
    GraftBridge.column(SynthGrayJpeg(GraftBridge.expression(c)))

  /** Raw URL → RFC 3986-normalized canonical form (null if
    * unparseable) — see [[UrlCanonical]]. */
  def urlCanonical(c: Column): Column =
    GraftBridge.column(UrlCanonical(GraftBridge.expression(c)))

  /** WAV (PCM) payload → 64-bit perceptual audio fingerprint (null if
    * undecodable) — see [[WavFingerprint]]. */
  def wavFingerprint(c: Column): Column =
    GraftBridge.column(WavFingerprint(GraftBridge.expression(c)))

  /** Deterministic synthetic PCM WAV from a bigint id — the audio
    * fixture generator, see [[SynthPcmWav]]. */
  def synthPcmWav(c: Column): Column =
    GraftBridge.column(SynthPcmWav(GraftBridge.expression(c)))

  /** Deterministic synthetic cell PNG (same image family as
    * [[synthGrayJpeg]]) from a bigint id — see [[SynthCellPng]]. */
  def synthCellPng(c: Column): Column =
    GraftBridge.column(SynthCellPng(GraftBridge.expression(c)))

  /** GIF payload → 64-bit perceptual dHash in the same hash space as
    * [[pngDhash]]/[[jpegDhash]] (null if undecodable) — see [[GifDhash]]. */
  def gifDhash(c: Column): Column =
    GraftBridge.column(GifDhash(GraftBridge.expression(c)))

  /** Animated GIF → per-frame 64-bit perceptual dHash array (null if
    * undecodable) — see [[GifFrameDhashes]]. */
  def gifFrameDhashes(c: Column): Column =
    GraftBridge.column(GifFrameDhashes(GraftBridge.expression(c)))

  /** Deterministic synthetic ANIMATED cell GIF from a bigint id — see
    * [[SynthAnimGif]]. */
  def synthAnimGif(c: Column): Column =
    GraftBridge.column(SynthAnimGif(GraftBridge.expression(c)))

  /** Jaro-Winkler similarity (standard Winkler prefix boost, strict
    * 0.7 threshold) — see [[JaroWinkler]]. */
  def jaroWinkler(a: Column, b: Column): Column =
    GraftBridge.column(JaroWinkler(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Merge-intersection of two SORTED duplicate-free bigint arrays —
    * see [[SortedIntersect]] for the contract. */
  def sortedIntersect(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersect(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Per-node triangle contributions accumulated into one long→long map
    * per partition (node-count-gated; see [[TriangleContribs]]). */
  def triangleContribs(src: Column, dst: Column, inter: Column): Column =
    GraftBridge.column(TriangleContribs(
      GraftBridge.expression(src), GraftBridge.expression(dst),
      GraftBridge.expression(inter)).toAggregateExpression())

  /** Deterministic synthetic cell GIF (same image family as
    * [[synthGrayJpeg]]) from a bigint id — see [[SynthCellGif]]. */
  def synthCellGif(c: Column): Column =
    GraftBridge.column(SynthCellGif(GraftBridge.expression(c)))

  /** Deterministic MP4 with a real stsz/stco sample table over the text
    * payload — see [[SynthMp4Samples]]. */
  def synthMp4Samples(id: Column, text: Column): Column =
    GraftBridge.column(SynthMp4Samples(
      GraftBridge.expression(id), GraftBridge.expression(text)))

  /** Exact order-free decimal sum of a <=6dp double measure via 128-bit
    * long carry arithmetic — see [[SumDec6]]. Drop-in for
    * `sum(c.cast(decimal(20,6)))` without the per-row BigDecimal tax.
    */
  def sumDec6(c: Column): Column =
    GraftBridge.column(SumDec6(GraftBridge.expression(c)).toAggregateExpression())

  /** POSIX ustar archive from parallel name/payload arrays — see
    * [[TarBuild]]. */
  def tarBuild(names: Column, payloads: Column): Column =
    GraftBridge.column(TarBuild(
      GraftBridge.expression(names), GraftBridge.expression(payloads)))

  /** Checksum-verified tar member walk → (name, off, size) structs —
    * see [[TarEntries]]. */
  def tarEntries(c: Column): Column =
    GraftBridge.column(TarEntries(GraftBridge.expression(c)))

  /** Stored-member ZIP archive from parallel name/payload arrays — see
    * [[ZipBuild]]. */
  def zipBuild(names: Column, payloads: Column): Column =
    GraftBridge.column(ZipBuild(
      GraftBridge.expression(names), GraftBridge.expression(payloads)))

  /** Central-directory ZIP walk with CRC32 verification → (name, off,
    * size, crc_ok, payload_md5) structs — see [[ZipEntries]]. */
  def zipEntries(c: Column): Column =
    GraftBridge.column(ZipEntries(GraftBridge.expression(c)))

  /** RFC 1952 gzip member of a binary value — see [[GzipBytes]]. */
  def gzipBytes(c: Column): Column =
    GraftBridge.column(GzipBytes(GraftBridge.expression(c)))

  /** Trailer-verified gunzip of one member (null on corruption/bomb) —
    * see [[GunzipBytes]]. */
  def gunzipBytes(c: Column): Column =
    GraftBridge.column(GunzipBytes(GraftBridge.expression(c)))

  /** UAX #15 Unicode normalization (form ∈ NFC/NFD/NFKC/NFKD) — see
    * [[UnicodeNormalize]]. */
  def unicodeNormalize(c: Column, form: String): Column =
    GraftBridge.column(UnicodeNormalize(GraftBridge.expression(c), form))

  /** RFC 8878 zstd frame (content size + checksum on) of a binary
    * value — see [[ZstdBytes]]. */
  def zstdBytes(c: Column): Column =
    GraftBridge.column(ZstdBytes(GraftBridge.expression(c)))

  /** Checksum-verified unzstd of the first data frame (null on
    * corruption/bomb) — see [[UnzstdBytes]]. */
  def unzstdBytes(c: Column): Column =
    GraftBridge.column(UnzstdBytes(GraftBridge.expression(c)))

  /** Concatenated zstd frames → array of decompressed, checksum-verified
    * member payloads (the `.zst` multi-frame layout) — see
    * [[UnzstdMembers]]. */
  def unzstdMembers(c: Column): Column =
    GraftBridge.column(UnzstdMembers(GraftBridge.expression(c)))

  /** Single-pass `data:<mime>;base64,` payload extraction from markup
    * (delimiter-anchored, MIME-wrap-tolerant, pre-stripped for
    * `unbase64`) — see [[InlineDataUris]]. */
  def inlineDataUris(c: Column, mime: String): Column =
    GraftBridge.column(InlineDataUris(GraftBridge.expression(c), mime))

  /** 24bpp BI_RGB BMP → 64-bit perceptual dHash (shared hash space) —
    * see [[BmpDhash]]. */
  def bmpDhash(c: Column): Column =
    GraftBridge.column(BmpDhash(GraftBridge.expression(c)))

  /** 8-bit gray uncompressed TIFF → 64-bit perceptual dHash — see
    * [[TiffDhash]]. */
  def tiffDhash(c: Column): Column =
    GraftBridge.column(TiffDhash(GraftBridge.expression(c)))

  /** Deterministic cell-formula BMP (row order alternates by id) — see
    * [[SynthCellBmp]]. */
  def synthCellBmp(c: Column): Column =
    GraftBridge.column(SynthCellBmp(GraftBridge.expression(c)))

  /** Deterministic cell-formula TIFF (endian + strip layout alternate
    * by id) — see [[SynthCellTiff]]. */
  def synthCellTiff(c: Column): Column =
    GraftBridge.column(SynthCellTiff(GraftBridge.expression(c)))

  /** Standalone TIFF / BMP header dims → (format, endian, width,
    * height, top_down) struct, null if neither — see [[TiffBmpDims]]. */
  def tiffBmpDims(c: Column): Column =
    GraftBridge.column(TiffBmpDims(GraftBridge.expression(c)))

  /** JPEG APP1/TIFF EXIF walk → (endian, orientation, make, datetime,
    * pixel_x) struct, null if no well-formed EXIF — see [[ExifMeta]]. */
  def exifMeta(c: Column): Column =
    GraftBridge.column(ExifMeta(GraftBridge.expression(c)))

  /** Deterministic EXIF-bearing JPEG (byte order alternates by id
    * parity) — see [[SynthExifJpeg]]. */
  def synthExifJpeg(c: Column): Column =
    GraftBridge.column(SynthExifJpeg(GraftBridge.expression(c)))

  /** Concatenated gzip members → array of decompressed, trailer-verified
    * member payloads (the .warc.gz layout) — see [[GunzipMembers]]. */
  def gunzipMembers(c: Column): Column =
    GraftBridge.column(GunzipMembers(GraftBridge.expression(c)))

  /** WARC record walk → (rec_type, uri, off, len) structs — see
    * [[WarcRecords]]. */
  def warcRecords(c: Column): Column =
    GraftBridge.column(WarcRecords(GraftBridge.expression(c)))

  /** robots.txt parse for one crawler identity → ordered (allow,
    * pattern) rules — see [[RobotsRules]]. */
  def robotsRules(txt: Column, agent: Column): Column =
    GraftBridge.column(RobotsRules(
      GraftBridge.expression(txt), GraftBridge.expression(agent)))

  /** Agent-free Sitemap-record discovery — see [[RobotsSitemaps]]. */
  def robotsSitemaps(txt: Column): Column =
    GraftBridge.column(RobotsSitemaps(GraftBridge.expression(txt)))

  /** RFC 9309 longest-match verdict for one path — see
    * [[RobotsAllowed]]. */
  def robotsAllowed(rules: Column, path: Column): Column =
    GraftBridge.column(RobotsAllowed(
      GraftBridge.expression(rules), GraftBridge.expression(path)))

  /** Charset classification of raw ingest bytes — see
    * [[DetectEncoding]]. */
  def detectEncoding(c: Column): Column =
    GraftBridge.column(DetectEncoding(GraftBridge.expression(c)))

  /** Mojibake repair → (fixed, rounds) struct — see [[FixMojibake]]. */
  def fixMojibake(c: Column): Column =
    GraftBridge.column(FixMojibake(GraftBridge.expression(c)))

  /** Typed, validated PII scrub → (masked, emails, phones, ips, cards)
    * struct — see [[PiiScrub]]. */
  def piiScrub(c: Column): Column =
    GraftBridge.column(PiiScrub(GraftBridge.expression(c)))

  /** Luhn checksum validation of a card-shaped string — see
    * [[LuhnValid]]. */
  def luhnValid(c: Column): Column =
    GraftBridge.column(LuhnValid(GraftBridge.expression(c)))

  /** `v >> n` with a COLUMN shift amount. `functions.shiftright` only takes
    * a constant Int; the underlying Catalyst ShiftRight is two-expression
    * (and codegen'd), so bridge straight to it.
    */
  def shiftRight(v: Column, n: Column): Column =
    GraftBridge.column(org.apache.spark.sql.catalyst.expressions.ShiftRight(
      GraftBridge.expression(v), GraftBridge.expression(n)))
}
