package graft

/** Session-memo hygiene for long-lived services: the library memoizes
  * derived state per (session, dataset) — tag indexes (persisted
  * series catalogs), duplicate-cluster assignments, driver-side models
  * (BPE merge tables, Bloom sketches) — which is the right trade for a
  * query server (the reference keeps one warm MemIndex per store) but
  * would accumulate in a process that cycles through many datasets.
  * Call between dataset generations.
  */
object Caches {
  def clear(): Unit = {
    index.TagIndex.clearMemos()
    dedup.Dedup.clearMemos()
    text.TextAnalysis.clearMemos()
  }
}
