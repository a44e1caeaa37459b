package graft.hnsw

import org.apache.spark.rdd.RDD

/** Shard-generic helpers of the routed tiers ([[RoutedTier]]). */
private[graft] object RoutedOps {

  /** (cell, rows) occupancy — the threshold-compaction / drift-audit
    * stat (nCells rows collected). */
  def cellStats[S](shards: RDD[(Int, S)])(sizeOf: S => Int): Array[(Int, Long)] =
    shards.map { case (c, s) => (c, sizeOf(s).toLong) }.collect()
}
