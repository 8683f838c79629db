package org.apache.spark

/** The two reads of Spark internals the benchmark needs, which Spark keeps
  * package-private: draining the listener bus, so per-request counters are
  * complete when read, and the block managers' storage status. */
object BenchAccess {

  /** Blocks until every event posted so far has been delivered to every
    * listener. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** (memory bytes, disk bytes, block count) of the RDD blocks — persisted
    * frames and checkpoints — that all block managers hold. Broadcast
    * pieces are left out: they are transient, and how many survive at a
    * given moment depends on when the cleaner last ran. */
  def storageInUse(sc: SparkContext): (Long, Long, Long) = {
    val blocks = sc.env.blockManager.master.getStorageStatus
      .flatMap(_.rddBlocks.values)
    (blocks.map(_.memSize).sum, blocks.map(_.diskSize).sum, blocks.size.toLong)
  }
}
