package org.apache.spark.ml.recommendation

import org.apache.spark.ml.linalg.BLAS
import org.apache.spark.util.random.XORShiftRandom
import scala.util.hashing.byteswap64

/** Bridge into ml-ALS's private pieces (`XORShiftRandom`,
  * `ALS.NormalEquation`, `ALS.CholeskySolver`, `BLAS.nativeBLAS`) for
  * `graft.pipeline.Completion.completeDense`, the driver-side replica of
  * `ALS.train`: the factor init and the regularized Cholesky solve are
  * the code ml-ALS runs. The normal equations themselves are summed by
  * the replica (from a shared Gram), so their rounding may differ from
  * ml-ALS's in the last bits.
  */
object GraftAlsBridge {

  /** The user-factor seed `ALS.train` draws first from its seed. */
  def userSeed(seed: Long): Long = new XORShiftRandom(seed).nextLong()

  /** The initial factors of the `n` ids of one user block, in ascending
    * id order, exactly as `ALS.initialize` draws them: Gaussian floats
    * from the block's own stream, each factor scaled to unit norm.
    */
  def initialFactors(userSeed: Long, blockId: Int, n: Int, rank: Int): Array[Array[Float]] = {
    val random = new XORShiftRandom(byteswap64(userSeed ^ blockId))
    Array.fill(n) {
      val factor = Array.fill(rank)(random.nextGaussian().toFloat)
      val nrm = BLAS.nativeBLAS.snrm2(rank, factor, 1)
      BLAS.nativeBLAS.sscal(rank, 1.0f / nrm, factor, 1)
      factor
    }
  }

  /** One thread's least-squares solver: ml-ALS's normal equation and
    * Cholesky solve. The caller fills `ata` (AᵀA, packed upper — the
    * `dspr` layout ml-ALS's `NormalEquation.add` accumulates) and `atb`
    * (Aᵀb), then calls `solve`, which zeroes both. Not thread-safe.
    */
  final class Solver(rank: Int) {
    private val ne = new ALS.NormalEquation(rank)
    private val cholesky = new ALS.CholeskySolver

    def ata: Array[Double] = ne.ata
    def atb: Array[Double] = ne.atb

    /** The factor solving the filled normal equation, regularized by
      * `lambda` (ml-ALS passes regParam × ratings).
      */
    def solve(lambda: Double): Array[Float] = cholesky.solve(ne, lambda)
  }
}
