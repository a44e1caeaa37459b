package graft

import graft.hnsw.HnswParams.uniformFromHash

/** The specs' seeded hash-stream generators, one copy each. The
  * rehearsal's planted geometries live in
  * [[graft.tools.ScaleRehearsal.Corpus]]. */
object HashData {

  /** Vector `i` in [-1, 1)^dim: coordinate `d` from `(i * dim + d, seed)`. */
  def vecFromHash(i: Long, seed: Long, dim: Int): Array[Float] =
    Array.tabulate(dim)(d => (uniformFromHash(i * dim + d, seed) * 2.0 - 1.0).toFloat)

  /** Code `i`: the raw bits of the uniform double `(i, seed)`. */
  def codeOf(i: Long, seed: Long): Long =
    java.lang.Double.doubleToRawLongBits(uniformFromHash(i, seed))
}
