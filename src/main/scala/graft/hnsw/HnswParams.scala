package graft.hnsw

/** HNSW construction/search parameters, specified per layer up to
  * [[HnswParams.NParamLayers]] distinct layers — any higher layer uses the
  * last entry (reference: src/hawk_searcher.rs:12-129, incl. the `get_val`
  * clamp at :124-129).
  *
  * @param m               number of neighbors attached on insertion, per layer
  * @param mMax            maximum vertex degree, per layer (2M at layer 0 in
  *                        the standard configuration)
  * @param efConstrSearch  beam width for construction-time descent above the
  *                        insertion layer (1 = greedy in standard HNSW)
  * @param efConstrInsert  beam width at/below the insertion layer
  * @param efSearch        beam width for queries (standard: ef at layer 0,
  *                        1 = greedy above)
  * @param layerProbability p of the geometric layer distribution (1/M
  *                        standard, so each layer is M times sparser)
  */
final case class HnswParams(
    m: Array[Int],
    mMax: Array[Int],
    efConstrSearch: Array[Int],
    efConstrInsert: Array[Int],
    efSearch: Array[Int],
    layerProbability: Double
) extends Serializable {
  // the clamp below indexes arr(min(lc, NParamLayers-1)) — a shorter
  // array crashes mid-build on the first deep-layer access, a longer one
  // silently ignores its tail; fail at construction instead
  require(
    Seq(m, mMax, efConstrSearch, efConstrInsert, efSearch)
      .forall(_.length == HnswParams.NParamLayers),
    s"every param array must have exactly ${HnswParams.NParamLayers} entries " +
      s"(got m=${m.length}, mMax=${mMax.length}, efConstrSearch=${efConstrSearch.length}, " +
      s"efConstrInsert=${efConstrInsert.length}, efSearch=${efSearch.length})")
  import HnswParams.clamp

  def getM(lc: Int): Int = clamp(m, lc)
  def getMMax(lc: Int): Int = clamp(mMax, lc)
  def getEfConstrSearch(lc: Int): Int = clamp(efConstrSearch, lc)
  def getEfConstrInsert(lc: Int): Int = clamp(efConstrInsert, lc)
  def getEfSearch(lc: Int): Int = clamp(efSearch, lc)
  def mL: Double = HnswParams.mLFromLayerProbability(layerProbability)

  /** S3, deterministic for reproducible distributed builds: the insertion
    * layer ~ Geometric(1 - p) (number of successes before the first
    * failure, reference hawk_searcher.rs:178-183), drawn from a 64-bit mix
    * of (id, seed) — the Spark analog of the reference's seeded AesRng
    * (hawk_searcher.rs:445) — by the inverse CDF floor(ln(u)/ln(p)). */
  def selectLayerByHash(id: Long, seed: Long): Int = {
    val u = HnswParams.uniformFromHash(id, seed)
    if (u <= 0.0) 0
    else math.floor(math.log(u) / math.log(layerProbability)).toInt.max(0)
  }
}

object HnswParams {
  /** Parameters are distinct for this many layers; higher layers clamp to
    * the last entry (reference: src/hawk_searcher.rs:14). */
  val NParamLayers = 5

  /** Value at `lc`, clamped to the last array index (reference
    * src/hawk_searcher.rs:124-129). */
  private def clamp(arr: Array[Int], lc: Int): Int =
    arr(math.min(lc, NParamLayers - 1))

  /** Standard-HNSW configuration (reference src/hawk_searcher.rs:39-57):
    * greedy (ef=1) above layer 0 / above the insertion layer, degree bound
    * M_max0 = 2M at layer 0, layer probability 1/M. */
  def standard(efConstruction: Int, efSearch: Int, m: Int): HnswParams = {
    val mArr = Array.fill(NParamLayers)(m)
    val mMaxArr = Array.fill(NParamLayers)(m); mMaxArr(0) = 2 * m
    val efS = Array.fill(NParamLayers)(1); efS(0) = efSearch
    HnswParams(
      m = mArr,
      mMax = mMaxArr,
      efConstrSearch = Array.fill(NParamLayers)(1),
      efConstrInsert = Array.fill(NParamLayers)(efConstruction),
      efSearch = efS,
      layerProbability = 1.0 / m
    )
  }

  /** Fixed exploration factor for all layer searches (reference
    * src/hawk_searcher.rs:61-78). */
  def uniform(ef: Int, m: Int): HnswParams = {
    val mMaxArr = Array.fill(NParamLayers)(m); mMaxArr(0) = 2 * m
    HnswParams(
      m = Array.fill(NParamLayers)(m),
      mMax = mMaxArr,
      efConstrSearch = Array.fill(NParamLayers)(ef),
      efConstrInsert = Array.fill(NParamLayers)(ef),
      efSearch = Array.fill(NParamLayers)(ef),
      layerProbability = 1.0 / m
    )
  }

  /** splitmix64 finalizer — maps (id, seed) to a uniform double in (0,1):
    * the layer draw of [[HnswParams.selectLayerByHash]] and the seeded
    * sampling of the IVF, PQ and routed trainers. */
  def uniformFromHash(id: Long, seed: Long): Double = {
    var z = id + seed * 0x9E3779B97F4A7C15L + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    // take 53 high bits -> double in [0,1); nudge 0 to the smallest ulp
    val u = (z >>> 11).toDouble / (1L << 53).toDouble
    if (u <= 0.0) Double.MinPositiveValue else u
  }

  /** m_L = -1/ln(p) (reference src/hawk_searcher.rs:85-87). */
  def mLFromLayerProbability(p: Double): Double = -1.0 / math.log(p)

  /** p = exp(-1/m_L) (reference src/hawk_searcher.rs:92-94). */
  def layerProbabilityFromML(mL: Double): Double = math.exp(-1.0 / mL)
}
