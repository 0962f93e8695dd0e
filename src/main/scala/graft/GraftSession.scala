package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-oriented defaults.
  *
  * The engine is designed for a multi-executor cluster (AQE, skew-join
  * handling, generous broadcast threshold, partition-count discipline) and is
  * merely *tested* on `local[N]`. Keep every knob here cluster-safe: nothing
  * below assumes a single JVM.
  */
object GraftSession {

  /** Number of local cores to use when running outside spark-submit:
    * `SPARK_GRAFT_CPUS`, else every core the JVM sees.
    */
  def defaultCpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** The one session builder of every main and spec. Logs at WARN.
    *
    * `file:` paths go through [[graft.streaming.NioLocalFileSystem]], which
    * sets file modes without forking `chmod` (see its caveat on Hadoop's
    * `FileSystem` cache).
    */
  def local(appName: String = "graft", cpus: String = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.streaming.NioLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
    spark
  }

  /** Back streaming keyed state with RocksDB — the Spark analog of the
    * reference's rocksdb state stores (rocksdb_store.h, rocksdb_counter_store
    * .h, rocksdb_windowed_store.h): state spills to local disk instead of
    * living on the JVM heap, which is what makes billions of keys per
    * executor viable at 100 TB. Changelog checkpointing writes per-batch
    * deltas rather than full snapshots (the reference's offset-batched
    * commits, rocksdb_store.h:216-226). Its checkpoint files go through the
    * same [[graft.streaming.LocalCheckpointFileManager]] that [[tune]] sets.
    * Applies to queries started after the call.
    */
  def useRocksDbState(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    spark
  }

  /** Runtime confs that must hold on any session handed to the engine
    * (including driver-created ones we don't control the builder for).
    *
    * Streaming checkpoints on a `file:` path are written through
    * [[graft.streaming.LocalCheckpointFileManager]]: Spark's default
    * `FileContext` manager forks a `readlink` process on every rename
    * (26-28 ms each from a 3 GB heap, against 0.2 ms), which made up most
    * of a small micro-batch's commit time. The `chmod` fork of each created
    * file is gone too, at the filesystem [[local]] registers for `file:`;
    * a session built elsewhere keeps its own `file:` filesystem and those
    * forks. Every other scheme keeps Spark's default manager.
    * Both write a Hadoop `.crc` beside each file.
    *
    * Registers the [[ProbeTiming]] collector, so stage costs and every
    * streaming query's progress are counted from the session's first job.
    */
  def tune(spark: SparkSession): SparkSession = {
    // The driver's `events` table carries parquet TIMESTAMP(NANOS), which
    // Spark's vectorized reader refuses; read as long and convert ourselves
    // (see sources.Tables.load).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(graft.streaming.LocalCheckpointFileManager.ConfKey,
      classOf[graft.streaming.LocalCheckpointFileManager].getName)
    graft.functions.GraftFunctions.register(spark)
    ProbeTiming.collector(spark.sparkContext)
    spark
  }
}
