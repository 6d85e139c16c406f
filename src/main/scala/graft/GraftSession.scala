package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session defaults.
  *
  * Scale posture: AQE on (runtime coalescing + skew-join splitting), a
  * shuffle-partition count matched to local cores here but meant to be
  * overridden to ~2-3× total cores on a real cluster, and the legacy
  * nanos conf so TIMESTAMP(NANOS) parquet (events.ts) is readable.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft-engine")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)

  /** FQCN of Spark's FileSystem-API checkpoint file manager (ships in
    * spark-sql; the documented alternative to the FileContext default —
    * see `spark.sql.streaming.checkpointFileManagerClass` docs). */
  val FsCheckpointManager: String =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", math.max(cpus, 4))
      // Local file:// checkpoints use the FileSystem-API manager: without
      // native Hadoop libs the FileContext default forks a `readlink`/
      // `chmod` process per checkpoint file op. Same rename-based atomic
      // writes and layout. The cluster preset keeps Spark's default.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        FsCheckpointManager)
      // Per-file checkpoint checksums guard remote stores; on a local
      // disk (one failure domain) they only double the metadata files
      // per commit. The cluster preset keeps Spark's default.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cluster-sizing preset — the deployment analogue of [[local]], with
    * every derived number stated instead of implied by comments:
    *
    *  - shuffle partitions = 3× total cores: enough parallelism that
    *    one straggler does not serialize a stage, small enough that a
    *    sf-proportional shuffle keeps partitions in the tens-of-MB
    *    range where AQE coalescing (still on) can merge the small
    *    ones. AQE's skew split then has ≥3 mapper ranges per reduce
    *    partition to slice — the precondition SkewBench measures.
    *  - maxPartitionBytes stays at Spark's 128 MB default: scan tasks
    *    of ~1 core-minute; the reference pins 64 MB on a 4-core
    *    cluster for the same reason at half the per-task budget.
    *  - broadcast threshold 64 MB (as [[builder]]): dimension tables
    *    and probe sets ship to executors instead of shuffling facts.
    *  - RocksDB state store + changelog checkpointing: streaming state
    *    (stream-stream join buffers, dedup sets, window/session
    *    accumulators) lives in per-partition RocksDB instances bounded
    *    by local DISK, not executor HEAP — the default HDFS-backed
    *    provider holds every key in JVM memory, which OOMs long before
    *    100 TB-scale join state. Changelog checkpointing uploads
    *    per-batch deltas instead of a full state snapshot, so commit
    *    latency stays flat as state grows. [[local]] keeps the heap
    *    provider: for the bench fixtures' KB-scale state it is faster
    *    (RocksDB pays a fixed per-batch commit cost — measured delta
    *    in BASELINE.md), and `SPARK_GRAFT_STATE_STORE=rocksdb` flips
    *    the streaming queries over to measure the cluster backend
    *    locally. Result equality across providers is spec-asserted
    *    (`StatefulSpec`: stream-stream LEFT OUTER under both stores).
    *
    * The local/cluster split changes ONLY sizing numbers and the state
    * backend: plans, kernels, and lifecycle are identical, which is
    * what keeps the local bench predictive of the cluster shape.
    */
  /** shuffle partitions = 3 × total cores (see [[clusterBuilder]]). */
  def clusterShufflePartitions(executors: Int, coresPerExecutor: Int): Int =
    3 * executors * coresPerExecutor

  /** FQCN of Spark's RocksDB state store provider (ships in spark-sql;
    * rocksdbjni is a stock Spark dependency — no extra jars). */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The cluster state-store posture as conf pairs — the SINGLE source
    * consumed by [[clusterBuilder]], the `SPARK_GRAFT_STATE_STORE`
    * local-measurement knob, and the heap-vs-RocksDB equality spec, so
    * a posture change (new RocksDB tuning key, changelog version)
    * reaches all three or none. */
  val RocksDbStateStoreConfigs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      -> "true")

  def clusterBuilder(master: String, executors: Int,
      coresPerExecutor: Int): SparkSession.Builder =
    RocksDbStateStoreConfigs.foldLeft(
      builder(master, clusterShufflePartitions(executors, coresPerExecutor))
        .config("spark.executor.instances", executors.toString)
        .config("spark.executor.cores", coresPerExecutor.toString)
        // production per-source means: the tree-reduced VecMean
        // aggregate (bounded per-group state) instead of the
        // order-pinned collect_list fold the DuckDB oracle needs — an
        // unbounded source domain must never materialize into one row
        // on a real cluster (SimilarityQueries.sourceMeans)
        .config("spark.graft.exactMeans", "false")) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Retire an engine session: evict every memo the registry holds on
    * its behalf (the LSH pair set, IVF cells and centroids, admission
    * bloom/index, funnel stages, staged stream fixtures, ...) so its
    * pinned executor memory and staged dirs are actually released. A
    * long-lived process that drops one session
    * (`newSession` clones, notebook rotation) calls this instead of —
    * or before — `SparkSession.stop`; stopping the whole SparkContext
    * also works, but only because the sweep on the next build path
    * reaps stopped sessions, which a still-running context never
    * triggers for a merely-abandoned session. Returns entries evicted. */
  def close(s: SparkSession): Int = graft.runtime.FrameCache.evictSession(s)
}
