package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Repeated passes over the kspp-parity queries (`SparkEntry.queries`
  * q01-q17), closed loop with one client, over seeded tables with the
  * schemas of the library's reference tables. Each query is planned and
  * run to completion into Spark's `noop` sink; the untimed first pass
  * writes every result to parquet for the DuckDB oracle check.
  */
final class OperatorBatch extends Workload {
  import OperatorBatch._

  private var spark: SparkSession = _
  private var tables: String = _
  val opSpans = Set("ops.query")

  def names: Seq[String] = SparkEntry.queries.keys.filter(_.matches("q\\d\\d_.*")).toSeq.sorted

  def setup(ctx: Ctx): Seq[(String, Any)] = {
    spark = ctx.spark
    tables = ctx.dir("tables").toString
    val counts = Tables.generate(spark, ctx.seed, tables)
    // warm-up pass, which also writes the outputs the oracle checks
    val out = ctx.dir("out")
    names.foreach { q =>
      SparkEntry.queries(q)(spark, tables).write.mode("overwrite").parquet(out.resolve(q).toString)
    }
    val oracle = names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.write(ctx.work.resolve("oracle_sql.json"), Json.value(oracle).getBytes(StandardCharsets.UTF_8))
    counts.toSeq.sortBy(_._1).map { case (t, n) => s"${t}_rows" -> n } ++
      Seq("queries" -> names.size, "scale_of_sf0.1" -> Scale, "events_users" -> Tables.Users)
  }

  def measure(ctx: Ctx, tr: Tracer): Measured = {
    val failures = mutable.ArrayBuffer.empty[String]
    val walls = mutable.ArrayBuffer.empty[Double]
    val qs = names
    ctx.timedStart()
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      qs.zipWithIndex.foreach { case (q, i) =>
        val t = System.nanoTime()
        if (Main.attempt(failures, q)(tr.span("ops.query", pass * 100L + i) {
          SparkEntry.queries(q)(spark, tables).write.format("noop").mode("overwrite").save()
        })) walls += (System.nanoTime() - t) / 1e6
      }
      pass += 1
    }
    val total = (System.nanoTime() - t0) / 1e9
    Measured(walls.toSeq, walls.size / total, pass.toLong * qs.size, failures.toSeq,
      Map("passes" -> pass.toDouble, "pass_s" -> total / pass))
  }

  /** The oracle comparison runs in DuckDB after the JVM exits (run.py). */
  def check(ctx: Ctx): Seq[(String, Option[String])] = Nil
}

object OperatorBatch {
  /** Row counts as a share of the sf0.1 reference tables. */
  val Scale = 0.25

  object Tables {
    val Users = 1500

    /** Writes seeded lineitem, orders, events, customer and documents
      * tables under `dir`; every column is a hash of (seed, salt, row id),
      * so the same seed gives the same tables on any partitioning.
      */
    def generate(spark: SparkSession, seed: Long, dir: String): Map[String, Long] = {
      def n(sf01Rows: Long) = (sf01Rows * Scale).toLong
      val nOrders = n(150000); val nCust = n(15000)
      def h(salt: Int, cols: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cols): _*)
      def ri(salt: Int, m: Long): Column = pmod(h(salt, col("id")), lit(m))
      def u(salt: Int): Column = ri(salt, 1000000007L).cast("double") / 1000000007.0
      def pick(salt: Int, xs: String*): Column = element_at(array(xs.map(lit): _*), (ri(salt, xs.size) + 1).cast("int"))
      def money(salt: Int, lo: Double, hi: Double): Column = round(lit(lo) + u(salt) * (hi - lo), 2)
      def day(salt: Int, from: String, days: Int): Column =
        timestamp_seconds(unix_timestamp(lit(from + " 00:00:00")) + ri(salt, days) * 86400)
      val vocab = array(Gen.Vocab.toSeq.map(lit): _*)

      val frames = Map[String, (Long, DataFrame => DataFrame)](
        "lineitem" -> (n(600000), _.select(
          ri(1, nOrders).as("l_orderkey"), ri(2, 20000).as("l_partkey"), ri(3, 1000).as("l_suppkey"),
          (ri(4, 7) + 1).cast("int").as("l_linenumber"), (ri(5, 50) + 1).cast("double").as("l_quantity"),
          money(6, 900, 105000).as("l_extendedprice"), (ri(7, 11) / 100.0).as("l_discount"),
          (ri(8, 9) / 100.0).as("l_tax"), pick(9, "A", "N", "R").as("l_returnflag"),
          pick(10, "F", "O").as("l_linestatus"), day(11, "1995-01-02", 2500).as("l_shipdate"))),
        "orders" -> (nOrders, _.select(
          col("id").as("o_orderkey"), ri(1, nCust).as("o_custkey"), pick(2, "F", "O", "P").as("o_orderstatus"),
          money(3, 1000, 500000).as("o_totalprice"), day(4, "1995-01-01", 2400).as("o_orderdate"),
          pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"))),
        "events" -> (n(100000), _.select(
          col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) + ri(1, 30L * 86400 * 1000000)).as("ts"),
          ri(2, Users).as("user_id"), pick(3, "signup", "click", "error", "view", "purchase").as("event_type"),
          money(4, 0, 560).as("value"), concat(lit("{\"k\": "), ri(5, 100), lit("}")).as("props"))),
        "customer" -> (nCust, _.select(
          col("id").as("c_custkey"), concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
          ri(1, 25).cast("int").as("c_nationkey"), money(2, -1000, 10000).as("c_acctbal"),
          pick(3, "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE").as("c_mktsegment"))),
        "documents" -> (n(5000), _.withColumn("text", concat_ws(" ",
            transform(sequence(lit(1), (ri(1, 91) + 10).cast("int")),
              i => element_at(vocab, (pmod(h(2, col("id"), i), lit(Gen.Vocab.length.toLong)) + 1).cast("int")))))
          .select(col("id").as("doc_id"), col("text"), pick(3, "en", "de", "es", "fr", "zh").as("lang"),
            concat(lit("src"), ri(4, 20)).as("source"), length(col("text")).cast("long").as("n_chars"))))

      frames.map { case (name, (rows, build)) =>
        build(spark.range(0, rows, 1, 4).toDF()).write.mode("overwrite").parquet(s"$dir/$name.parquet")
        name -> rows
      }
    }
  }
}
