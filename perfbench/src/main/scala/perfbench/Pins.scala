package perfbench

/** Output hashes pinned at the commit that defined the benchmark. */
object Pins {

  /** Canonical results hash (Runtime_sec excluded) of the retail
    * workload per seed, for the seeds the benchmark was committed with.
    */
  val retail: Map[Long, String] = Map(
    1L -> "c9b8adf338449dfdc3c75fb1a398075cc764139786ad5077bcafe1374d3a14d4",
    2L -> "dc4bd7372ae2be9441f1bcbb9eae608559b37aeac1b46c0719a9a60aa91f2793",
    3L -> "4098d5703331ed6e14d62285fc4df16d1f3a6a2d423fe07f2cca3462469bedcb")

  /** Canonical output hash per registry query on `data/`. Each output
    * was confirmed against the query's DuckDB oracle with a strict-hash
    * compare before its hash was pinned.
    */
  val registry: Map[String, String] = Map(
    "bradley_terry" ->
      "5d6ca5230c21cf3c23d93bfd06d7b8a5e41a6b4661cede39d47dad7bf1e933b5",
    "ivf_kmeans" ->
      "bc2df694d73ca950bb4697856ad866392e27df93bdf3f5266b3da500257e9f36",
    "unigram_em_vocab" ->
      "c037b884dc1fbe0b90e37fa3e88d8be2eecd8ec75600b0d3fdfc2dc2bfe33c17",
    "dedup_clusters" ->
      "978f4e8fe5e060aa6bbbc541047aeaa3df3b2e73f325a25f2960863265cbc9bd")
}
