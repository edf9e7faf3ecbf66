package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{floor, lit}
import org.apache.spark.sql.graftshim.ColumnBridge

/** Column-API surface of the native kernel expressions. */
object Kernels {

  /** MinHash signature of an array<string> column (see [[MinHashSigExpr]]). */
  def minhashSig(shingles: Column, numHashes: Int, seed: Long = 42L): Column =
    ColumnBridge.column(
      MinHashSigExpr(ColumnBridge.expression(shingles), numHashes, seed))

  /** Distinct xxhash64 n-gram shingle hashes of an array<string>
    * token column (see [[ShingleHashesExpr]]).
    */
  def shingleHashes(tokens: Column, n: Int, md5: Boolean = false): Column =
    ColumnBridge.column(ShingleHashesExpr(ColumnBridge.expression(tokens), n, md5))

  /** SimHash of an array<string> column (see [[SimHash64Expr]]):
    * 64-bit xxhash64 planes by default, 60-bit engine-replayable
    * md5-register planes with `md5 = true`.
    */
  def simhash64(tokens: Column, md5: Boolean = false): Column =
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(tokens), md5))

  /** `CAST(double AS DECIMAL(p,s))` through the fast-path kernel
    * (see [[DoubleToDecimalExpr]]) — bit-identical to the builtin
    * cast, ~4× cheaper on exact-decimal data. Child must be a double
    * column.
    */
  def toDecimal(c: Column, precision: Int, scale: Int): Column =
    ColumnBridge.column(DoubleToDecimalExpr(ColumnBridge.expression(c), precision, scale))

  /** `floor(c * scale) / scale`: snaps a double down onto the
    * 1/scale grid (1e6 or 1e12 in practice). Pure IEEE ops, so every
    * engine — DuckDB included — lands on the same grid point; this is
    * the quantizer applied before decimal casts (SURVEY.md §5).
    */
  def floorGrid(c: Column, scale: Double): Column =
    floor(c * lit(scale)) / lit(scale)

  /** The k-th deterministic uniform of a digest-seeded splitmix64
    * stream (see [[SplitMixUniformExpr]]); seedHex is a 32-hex md5
    * string, k an integer draw index.
    */
  def splitmixUniform(seedHex: Column, k: Column): Column =
    ColumnBridge.column(SplitMixUniformExpr(
      ColumnBridge.expression(seedHex), ColumnBridge.expression(k)))

  /** Both document fingerprints ([rolling, min-shingle]) in one pass
    * (see [[FingerprintsExpr]]).
    */
  def fingerprints(tokens: Column, n: Int, md5: Boolean = false): Column =
    ColumnBridge.column(FingerprintsExpr(ColumnBridge.expression(tokens), n, md5))

  /** Left-fold dot product of two array<double> columns (see
    * [[DotProductExpr]]); bit-identical to the declarative
    * `aggregate(zip_with(...))` fold.
    */
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProductExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Bloom membership probe over a LONG key column (see
    * [[BloomMightContainExpr]]) — no false negatives.
    */
  def bloomMightContain(key: Column, bloomBytes: Array[Byte]): Column =
    ColumnBridge.column(
      BloomMightContainExpr(ColumnBridge.expression(key), bloomBytes))

  /** Unicode normalization of a string column (see
    * [[UnicodeNormalizeExpr]]); form is NFC/NFD/NFKC/NFKD.
    */
  def unicodeNormalize(c: Column, form: String = "NFC"): Column =
    ColumnBridge.column(UnicodeNormalizeExpr(ColumnBridge.expression(c), form))

  /** UTM -> WGS84 latitude over double easting/northing columns (see
    * [[UtmToLatExpr]]); bit-identical to the Snyder-series SQL twin.
    */
  def utmToLat(e: Column, n: Column, zone: Int, southern: Boolean): Column =
    ColumnBridge.column(UtmToLatExpr(
      ColumnBridge.expression(e), ColumnBridge.expression(n), zone, southern))

  /** UTM -> WGS84 longitude twin of [[utmToLat]]. */
  def utmToLon(e: Column, n: Column, zone: Int, southern: Boolean): Column =
    ColumnBridge.column(UtmToLonExpr(
      ColumnBridge.expression(e), ColumnBridge.expression(n), zone, southern))
}
