package graft.store

/** The pluggable vector-store contract — the engine never sees raw vector
  * data, only opaque ids and distances (reference: src/traits.rs:18-95 and
  * the minimal op vocabulary of src/coroutine.rs:44-86). Distances are
  * eager doubles here (the reference proves eager reps work:
  * graph_mem.rs:197-230 TestStore); Catalyst columns provide the lazy
  * equivalent on the DataFrame side.
  *
  * Queries and vectors share the id space: a staged query keeps its id when
  * persisted (reference lazy_memory_store.rs:39-47, 62-66).
  */
trait VectorStore extends Serializable {
  /** The raw encoding this store accepts (u64 code, float array, ...). */
  type Raw

  /** V8: stage a raw vector as a pending (non-persistent) point. */
  def prepareQuery(raw: Raw): Long

  /** V1: persist a staged query; same id (reference traits.rs:35). */
  def insert(q: Long): Long

  /** V5: batched V1 (reference traits.rs:59-65, default = loop). */
  def insertBatch(qs: Array[Long]): Array[Long] = qs.map(insert)

  /** V2: distance query <-> vector (reference traits.rs:38-42). */
  def evalDistance(q: Long, v: Long): Double

  /** V6: batched V2 — the hot path of layer search (reference
    * traits.rs:70-80; call site hawk_searcher.rs:255). */
  def evalDistanceBatch(q: Long, vs: Array[Long]): Array[Double] = {
    val out = new Array[Double](vs.length)
    var i = 0
    while (i < vs.length) { out(i) = evalDistance(q, vs(i)); i += 1 }
    out
  }

  /** V3: is the distance within the duplicate threshold? (reference
    * traits.rs:45; store policy, not engine policy). */
  def isMatch(d: Double): Boolean

  /** V4: the single comparison primitive (reference traits.rs:48-52). */
  def lessThan(d1: Double, d2: Double): Boolean = d1 < d2

  /** V7: one distance vs many (reference traits.rs:85-95). */
  def lessThanBatch(d: Double, ds: Array[Double]): Array[Boolean] =
    ds.map(other => lessThan(d, other))
}

/** Distance kernels shared by the executor-local stores. Scalar Scala here
  * (this is the per-partition imperative path); the DataFrame-side twins
  * are the codegen'd Catalyst expressions in graft.functions. */
object Metrics {
  /** cosine distance = 1 - cosine similarity; 0 for identical directions. */
  def cosineDist(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - dot / math.sqrt(na * nb)
  }

  def l2Sq(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  /** Negative dot product (so smaller = more similar, a valid HNSW order). */
  def negDot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    -acc
  }

  def byName(name: String): (Array[Float], Array[Float]) => Double = name match {
    case "cosine" => cosineDist
    case "l2"     => l2Sq
    case "dot"    => negDot
    case other    => throw new IllegalArgumentException(s"unknown metric: $other")
  }
}

/** Float-array vector store (the `embeddings` table shape). Vectors and
  * staged queries live in one id-indexed map with a persistence flag —
  * the image of the reference's LazyMemoryStore (lazy_memory_store.rs:9-88)
  * with eager distances.
  *
  * An optional read-only `base` map backs ids not staged locally; executor
  * kernels wrap a broadcast vector table this way (zero copies per task)
  * and stage only their own query vectors on top.
  *
  * @param matchThreshold distance at/below which two vectors are duplicates
  */
final class ArrayVectorStore(
    metric: (Array[Float], Array[Float]) => Double,
    matchThreshold: Double = 1e-12,
    // a plain function, not collection.Map: the serving callers pass the
    // primitive LongVecMap shard payload (which extends Long => Array
    // [Float]); Map callers still fit via Function1
    base: Long => Array[Float] =
      id => throw new NoSuchElementException(s"key not found: $id")
) extends VectorStore {
  type Raw = Array[Float]

  private final class Point(val data: Array[Float], var isPersistent: Boolean)
  private val points = scala.collection.mutable.LongMap.empty[Point]
  private var nextId = 0L

  def prepareQueryWithId(id: Long, raw: Array[Float]): Long = {
    points(id) = new Point(raw, isPersistent = false)
    if (id >= nextId) nextId = id + 1
    id
  }
  override def prepareQuery(raw: Array[Float]): Long = {
    val id = nextId
    prepareQueryWithId(id, raw)
  }
  override def insert(q: Long): Long = { points(q).isPersistent = true; q }
  override def evalDistance(q: Long, v: Long): Double =
    metric(vector(q), vector(v))
  override def isMatch(d: Double): Boolean = d <= matchThreshold

  def vector(id: Long): Array[Float] = {
    // getOrNull, not get: this runs twice per distance eval — the single
    // hottest lookup in the engine — and LongMap.get allocates a Some
    // per call. Callers pass `base` as the primitive-keyed LongVecMap
    // where it matters (the broadcast build payload / serving model).
    val p = points.getOrNull(id)
    if (p != null) p.data else base(id)
  }
}

/** u64 bit-code store compared by Hamming distance — the reference's native
  * representation (lazy_memory_store.rs:14-21, 49-54). */
final class CodeVectorStore(matchThreshold: Double = 0.0) extends VectorStore {
  type Raw = Long

  private case class Point(code: Long, var isPersistent: Boolean)
  private val points = scala.collection.mutable.LongMap.empty[Point]
  private var nextId = 0L

  override def prepareQuery(raw: Long): Long = {
    val id = nextId; nextId += 1
    points(id) = Point(raw, isPersistent = false)
    id
  }
  override def insert(q: Long): Long = { points(q).isPersistent = true; q }
  override def evalDistance(q: Long, v: Long): Double =
    java.lang.Long.bitCount(points(q).code ^ points(v).code).toDouble
  override def isMatch(d: Double): Boolean = d <= matchThreshold

  def code(id: Long): Long = points(id).code
}
