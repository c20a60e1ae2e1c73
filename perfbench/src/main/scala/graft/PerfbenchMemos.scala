package graft

/** The per-round memo reset `graft.Bench` performs, callable from the
  * benchmark: every memoized checkpoint is released, so each round
  * re-pays the shared frames instead of reading a warm checkpoint.
  */
object PerfbenchMemos {
  def clearAll(): Unit = {
    graft.ops.Dedup.clearPairsMemo()
    graft.ops.Similarity.clearSignedMemo()
    graft.ops.Graph.clearGraphMemo()
    graft.ops.SegOrders.clear()
  }
}
