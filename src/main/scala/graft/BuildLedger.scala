package graft

/** Append-only ledger of one-time memoized build/layout costs.
  *
  * Catalog queries share expensive artifacts (HNSW model builds, the
  * durable graph store, bucketed/partitioned/z-ordered table rewrites,
  * the MinHash candidate stage) through per-JVM memo caches. Whichever
  * query runs first pays the build inside its own wall-clock, which
  * makes per-query bench numbers ungradeable: a 10 s line can be 9 s of
  * one-time build + 1 s of serving, indistinguishable from a 10 s
  * serving regression.
  *
  * Every memo site wraps its compute-on-miss closure in [[timed]]; a
  * cache hit records nothing. The bench snapshots [[size]] before each
  * query and attributes entries appended during the query to that
  * query, reporting serving time and one-time costs separately.
  */
object BuildLedger {
  final case class Entry(label: String, seconds: Double)

  private val entries =
    new java.util.concurrent.CopyOnWriteArrayList[Entry]()

  /** Runs `f` in a build span ([[graft.trace.Span]]) and appends
    * (label, exclusive seconds) on success: the span's self time, its
    * wall less the builds nested in it. A build that triggers another
    * memoized build (dup_components → the minhash candidate stage) so
    * records each entry's own share, a query's entries sum to its
    * one-time wall-clock and attribution never double-subtracts. A failed
    * build records nothing (the memo also rejects it), but its wall still
    * leaves the enclosing build's self time. */
  def timed[A](label: String)(f: => A): A = {
    val (a, self) = graft.trace.Span.build(label)(f)
    entries.add(Entry(label, self))
    a
  }

  /** Current entry count — snapshot before a query, pass to [[since]]. */
  def size: Int = entries.size

  /** Entries appended at index >= n (oldest first). */
  def since(n: Int): Seq[Entry] = {
    val out = Seq.newBuilder[Entry]
    var i = n
    while (i < entries.size) { out += entries.get(i); i += 1 }
    out.result()
  }

  def all: Seq[Entry] = since(0)
}
