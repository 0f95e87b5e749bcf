package graft

/** Derived-state hygiene for long-lived services. The library keeps
  * derived state per (session, dataset) in the [[Memo]] registry —
  * tag indexes (persisted series catalogs), duplicate-cluster
  * assignments, streaming-gate sink tables, landed fixtures,
  * broadcasts and driver-side models (BPE merge tables, Bloom
  * sketches, IVF/PQ codebooks). That is the right trade for a query
  * server (the reference keeps one warm MemIndex per store) but would
  * accumulate in a process that cycles through many datasets.
  * [[clear]] drops and releases every entry of every session; call it
  * between dataset generations. A clear deletes the directories of
  * `Memo.fresh` fixtures with their entries; `_done`-landed
  * directories stay on disk and are reused by the next build.
  */
object Caches {
  def clear(): Unit = Memo.clearAll()
}
