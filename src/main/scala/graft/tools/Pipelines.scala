package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.{AvroFiles, KafkaSource}

/** The reference's `tools/` CLI pipelines, re-expressed as one-call
  * compositions of the library's sources/sinks (reference: tools/csv2avro,
  * tools/kafka2avro, tools/kafka2rocksdb, tools/mqtt2kafka). Each tool in
  * the reference is a main() wiring two connectors together; here each is
  * a function so it composes with everything else.
  */
object Pipelines {

  /** Column-name normalization from tools/csv2avro/csv2avro.cpp: lowercase,
    * spaces to underscores, strip anything not [a-z0-9_] (ASCII only — an
    * accented letter is not a legal avro name character), and prefix a
    * leading digit with an underscore so the result is a legal avro field
    * name.
    */
  def normalizeName(s: String): String = {
    val base = s.toLowerCase(java.util.Locale.ROOT).replace(' ', '_')
      .filter(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_')
    if (base.isEmpty) "_" else if (base.head.isDigit) "_" + base else base
  }

  /** tools/csv2avro: header CSV in, avro container files out, with
    * normalized field names. Schema is inferred by the CSV reader (the
    * reference infers string columns; pass `inferSchema=false` for exact
    * parity).
    */
  def csv2avro(spark: SparkSession, csvPath: String, avroPath: String,
               inferSchema: Boolean = true): Unit = {
    val raw = spark.read.option("header", "true")
      .option("inferSchema", inferSchema.toString).csv(csvPath)
    // normalized headers can collide ("A B" and "a_b"): suffix _2, _3, …
    // The generated names register in `seen` too — headers "x_2,x,x" would
    // otherwise assign the third column the suffix "x_2", colliding with
    // column 1 and crashing Schema.createRecord on a duplicate field.
    val seen = collection.mutable.Set.empty[String]
    val names = raw.columns.map { c =>
      val n = normalizeName(c)
      val unique =
        if (seen.add(n)) n
        else Iterator.from(2).map(i => s"${n}_$i").find(seen.add).get
      unique
    }
    AvroFiles.write(raw.toDF(names: _*), avroPath)
  }

  /** tools/kafka2avro: a Kafka topic streamed into time-windowed avro file
    * directories (the reference rotates files on event-time windows).
    * Returns the writer so the caller picks trigger/checkpoint; requires
    * the Kafka connector jar at runtime.
    */
  def kafka2avro(spark: SparkSession, brokers: String, topic: String,
                 path: String, windowMs: Long): DataStreamWriter[org.apache.spark.sql.Row] = {
    val in = KafkaSource.stream(spark, brokers, topic)
    in.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // one subdirectory per micro-batch, USED for replay idempotence: the
      // windowed writer deliberately appends into existing roots (periodic
      // batch jobs), so a foreachBatch replay of batch N would silently
      // append a second full copy of every row. Delete the batch's own
      // directory first — a retry then rebuilds exactly one copy. Readers
      // glob path/batch=*/window_start=*.
      val dir = new org.apache.hadoop.fs.Path(s"$path/batch=$batchId")
      val fs = dir.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(dir) && !fs.delete(dir, true))
        sys.error(s"kafka2avro: could not clear replayed batch dir $dir")
      AvroFiles.writeWindowed(batch, "timestamp", windowMs, dir.toString)
    }
  }

  /** tools/kafka2rocksdb: a Kafka changelog materialized into a queryable
    * last-writer-wins table with RocksDB-backed state — the Spark analog is
    * the streaming LWW operator on the RocksDB state-store provider
    * ([[graft.GraftSession.useRocksDbState]]).
    */
  def kafka2table(spark: SparkSession, brokers: String, topic: String)
  : org.apache.spark.sql.Dataset[graft.model.KRecord[String, String]] = {
    import spark.implicits._
    val in = KafkaSource.stream(spark, brokers, topic)
      .selectExpr("CAST(key AS STRING)", "CAST(value AS STRING)",
        "unix_millis(timestamp) AS ts") // keep ms precision for LWW ordering
      .as[(String, String, Long)]
      .map { case (k, v, ts) => graft.model.KRecord[String, String](k, Option(v), ts) }
    graft.streaming.StatefulOps.latestByKey(in)
  }

  /** tools/mqtt2kafka: drain the MQTT feed and forward to a Kafka topic
    * under the original (topic-as-key, payload) contract. Payloads travel
    * as raw bytes end-to-end — a UTF-8 string hop would corrupt binary
    * payloads. Requires the Kafka connector jar at runtime.
    */
  def mqtt2kafka(spark: SparkSession, mqttHost: String, mqttPort: Int, topicFilter: String,
                 brokers: String, kafkaTopic: String, maxMessages: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val batch = graft.connect.MqttSource.drainBytes(
      spark, mqttHost, mqttPort, topicFilter, maxMessages)
    batch.select(col("key").cast("binary").as("key"), col("value").as("value"))
      .write.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", kafkaTopic)
      .save()
  }
}
