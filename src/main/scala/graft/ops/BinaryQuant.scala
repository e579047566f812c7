package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{hamming_distance, sign_bits}
import graft.kernels.Sketches

/** 1-bit (sign) binary quantization + Hamming-distance search — the
  * extreme end of the reference's quantization family (which stops at
  * 8-bit scalar codes, sqlite-vector.c:1258-1272). A dim-64 f32 vector
  * packs to ONE long: the Hamming scan reads 1/32 of the bytes the
  * full-precision scan reads, and the per-row kernel is a single XOR +
  * POPCNT inside whole-stage codegen.
  *
  * Serving shape at 100 TB: stage 1 ranks only the narrow `(id, sig)`
  * store (parquet column pruning keeps the wide embedding column on disk)
  * into a C-candidate shortlist; stage 2 is [[Knn]]'s rerank of those C
  * ids against the base table. Total bytes touched ≈ corpus/32 + C full
  * vectors.
  */
object BinaryQuant {

  /** Build the binary signature store: `(id, sig)` where `sig` is the
    * packed sign-bit signature (`array<long>`, 1 bit per dimension). NULL
    * vectors are skipped like every scan in the family
    * (sqlite-vector.c:2093).
    */
  def signatures(df: DataFrame, idCol: String, vecCol: String, dim: Int): DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(col(idCol), sign_bits(col(vecCol), dim).as("sig"))

  /** Exact top-k under Hamming distance over the signature store, as
    * `(id, hamming)`. Hamming is integer-valued in [0, dim], so ties are
    * common; they break by id like every rank.
    */
  def hammingTopK(sigs: DataFrame, idCol: String, probe: Array[Float],
                  dim: Int, k: Int): DataFrame =
    Knn.rank(sigs, idCol, col("sig"), k, "hamming")(hamming_distance(_, lit(packProbe(probe, dim))))

  /** Two-stage search: Hamming shortlist of `c` candidates from the
    * signature store, exact `metric` rerank of those candidates against the
    * full-precision vectors, top `k` out.
    */
  def rerankTopK(sigs: DataFrame, base: DataFrame, idCol: String, vecCol: String,
                 probe: Array[Float], dim: Int, c: Int, k: Int,
                 metric: String): DataFrame =
    Knn.rerank(base, hammingTopK(sigs, idCol, probe, dim, c), idCol, vecCol, probe, k, metric)

  /** Probe-side signature, computed once on the driver with the SAME
    * kernel the store uses ([[Sketches.signBits]]).
    */
  private def packProbe(probe: Array[Float], dim: Int): Array[Long] = {
    require(probe.length == dim, s"probe dim ${probe.length} != $dim")
    val packed = Sketches.signBits(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(probe), dim)
    packed.toLongArray()
  }
}
