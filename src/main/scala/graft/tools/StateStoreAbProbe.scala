package graft.tools

/** A/B the streaming state-store provider over the gate's `_stream`
  * twins (r17 verdict #6): times each named query `reps` times fresh
  * (the Bench methodology) under the DEFAULT HDFSBackedStateStore and
  * under RocksDB, in separate sessions of the same JVM. The stateful
  * twins hold ~10⁴-row state for ONE-SHOT runs, so the expectation to
  * test is that RocksDB's per-commit native checkpoint overhead LOSES
  * at this state size — the point of the probe is the committed
  * number either way, so the block stops being re-examined.
  *
  * usage: runMain graft.tools.StateStoreAbProbe <sfDir> <query>[,...] [reps] [reverse]
  */
object StateStoreAbProbe {
  def main(args: Array[String]): Unit = {
    // `reverse` is a flag, not a positional arg
    val positional = args.filterNot(_ == "reverse")
    if (positional.length < 2) {
      System.err.println(
        "usage: runMain graft.tools.StateStoreAbProbe <sfDir> <query>[,...] [reps] [reverse]")
      sys.exit(2)
    }
    val sfDir = positional(0)
    val names = positional(1).split(",").toSeq
    val reps = if (positional.length > 2) positional(2).toInt else 3
    // both orders must be run and compared: the second arm rides a
    // JIT-warm JVM, which alone is worth ~10-20% on these one-shot
    // queries (pass `reverse` for the rocksdb-first leg)
    val base = Seq(
      "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val providers = if (args.contains("reverse")) base.reverse else base
    providers.foreach { case (label, cls) =>
      // fresh session per arm: the provider conf must be set before
      // the first stateful query pins its store implementation
      val spark = graft.GraftSession.local(
        extraConfs = Seq("spark.sql.streaming.stateStore.providerClass" -> cls))
      require(spark.conf.get("spark.sql.streaming.stateStore.providerClass") == cls,
        s"provider conf did not take ($label) — session already existed?")
      names.foreach { n =>
        val ts = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[statestore] provider=$label query=$n min=${ts.min}%.3f " +
          s"all=${ts.map(t => f"$t%.3f").mkString(",")}")
      }
      spark.stop()
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
    }
  }
}
