package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector primitives over `array<float>` embedding columns, built
  * entirely from codegen'd higher-order functions (`zip_with` /
  * `transform` / `aggregate`) — no UDFs, no RDDs. Everything here is
  * row-local: at 100 TB these run inside the scan stage with zero
  * shuffle.
  *
  * Serves SURVEY.md §2 "Similarity search" and
  * "dedup_embedding_cosine"; the reference has no vector surface, so
  * this is part of the engine-superset the brief asks for.
  */
object VectorFunctions {

  /** Dot product of two equal-length numeric array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Euclidean norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (0 for a zero vector rather than NaN). */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, 0.0).otherwise(dot(a, b) / d)
  }

  /** Slice a packed `nBands·bitsPerBand`-bit SRP-LSH signature long
    * (from the codegen'd `graft_srp_sig`) into `nBands` band keys,
    * band b being bits [b·bitsPerBand, (b+1)·bitsPerBand): compute the
    * signature ONCE per row, band it for free. Returns
    * array<struct<band_idx, band_hash>> ready for `explode` →
    * equi-join.
    */
  def sliceBands(sig: Column, nBands: Int, bitsPerBand: Int): Column = {
    require(nBands * bitsPerBand <= 63, s"$nBands bands x $bitsPerBand bits exceeds 63")
    array((0 until nBands).map { b =>
      struct(
        lit(b).as("band_idx"),
        shiftright(sig, b * bitsPerBand)
          .bitwiseAND(lit((1L << bitsPerBand) - 1)).as("band_hash"))
    }: _*)
  }
}
