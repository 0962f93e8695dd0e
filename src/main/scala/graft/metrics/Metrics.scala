package graft.metrics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runtime observability, parity-in-kind with the reference's per-processor
  * Prometheus metrics (reference: include/kspp/metrics/metrics.h:71-147,
  * kspp.h:32-38 — `processed`, `lag`):
  *
  *  - [[observe]] attaches a named `processed_count` / event-time lag
  *    observation to any DataFrame stage (batch or streaming);
  *  - the [[graft.ProbeTiming]] collector folds those observations, each
  *    streaming query's rows and batches, and the per-stage job costs;
  *  - [[Pushgateway.push]] exports all of them.
  */
object Metrics {

  /** Tag a stage with processed-count and lag observations. In streaming
    * [[graft.ProbeTiming.observations]] folds them across batches; in
    * batch, read `df.collectResult` observed metrics.
    */
  def observe(df: DataFrame, name: String, eventTimeCol: Option[String] = None): DataFrame =
    eventTimeCol match {
      case Some(ts) =>
        // accept BOTH event-time conventions the library itself uses:
        // TIMESTAMP columns and epoch-millis LONGs (KRecord.eventTime,
        // RateLimit's eventTimeMsCol — the convention GStream.delay also
        // branches on). unix_millis on a LONG is an AnalysisException, so
        // without the branch the observability helper rejected the
        // facade's own timestamp convention at plan time.
        // resolve CASE-INSENSITIVELY like Spark's own analyzer (a strict
        // df.schema(ts) lookup would reject "EventTime" against a column
        // spelled "eventTime" that col(ts) resolves fine)
        val tsType = df.schema.fields.find(_.name.equalsIgnoreCase(ts))
          .map(_.dataType).getOrElse(throw new IllegalArgumentException(
            s"observe: event-time column '$ts' not found in " +
              df.schema.fieldNames.mkString(", ")))
        val tsMillis = tsType match {
          case org.apache.spark.sql.types.TimestampType => unix_millis(col(ts))
          case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
            col(ts).cast("long")
          case other => throw new IllegalArgumentException(
            s"observe: event-time column '$ts' must be TIMESTAMP or integral epoch millis, got $other")
        }
        df.observe(name, count(lit(1)).as("processed_count"),
          max(unix_millis(current_timestamp()) - tsMillis).as("max_lag_ms"))
      case None =>
        df.observe(name, count(lit(1)).as("processed_count"))
    }

  /** Prometheus pushgateway reporter (reference:
    * metrics/prometheus_pushgateway_reporter.h:11-30 + metrics.h:20-52
    * naming): metrics render in the text exposition format as
    * `kspp_<what>{mtype=...,unit=...,<tags>} value` and POST to
    * `<gateway>/metrics/job/<job>`. Transport is the pluggable
    * `(payload → status)` the other HTTP emitters use, so air-gapped tests
    * inject a fake.
    */
  object Pushgateway {
    final case class Metric(what: String, mtype: String, unit: String,
                            labels: Map[String, String], value: Double)

    private def escLabel(v: String): String =
      v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

    // the exposition grammar's identifier sets: metric names allow ':',
    // label names do not; neither may start with a digit. An invalid name
    // 400s the WHOLE push at the gateway (every metric in the body lost),
    // so reject it loudly at render time, naming the offender — label
    // VALUES are free-form and travel escaped, only names are constrained.
    // `prefixed`: metric names render behind the constant `kspp_` prefix,
    // so the grammar's no-leading-digit rule is checked against the
    // RENDERED name — `what = "404s"` renders as the valid `kspp_404s`
    // and must pass. Label names render unprefixed and keep the full rule.
    private def requireName(kind: String, s: String, colonOk: Boolean,
                            prefixed: Boolean = false): String = {
      val ok = s.nonEmpty && (prefixed || !s.head.isDigit) && s.forall(c =>
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
          c == '_' || (colonOk && c == ':'))
      require(ok, s"Pushgateway.render: invalid $kind '$s' — exposition-format " +
        "names are [a-zA-Z_" + (if (colonOk) ":" else "") + "][a-zA-Z0-9_" +
        (if (colonOk) ":" else "") + "]*; the gateway rejects the whole push otherwise")
      s
    }

    /** One exposition line per metric, reference naming: `kspp_` prefix,
      * mtype/unit as labels ahead of the processor tags. Non-finite values
      * render in the format's own spellings (`+Inf`/`-Inf`/`NaN`) — Java's
      * `Infinity` fails the gateway's float parser and voids the push.
      */
    def render(metrics: Seq[Metric]): String =
      metrics.map { m =>
        requireName("metric name", m.what, colonOk = true, prefixed = true)
        val labels = (Seq("mtype" -> m.mtype, "unit" -> m.unit) ++ m.labels.toSeq.sortBy(_._1))
          .map { case (k, v) =>
            s"""${requireName("label name", k, colonOk = false)}="${escLabel(v)}""""
          }.mkString(",")
        val v =
          if (m.value.isNaN) "NaN"
          else if (m.value == Double.PositiveInfinity) "+Inf"
          else if (m.value == Double.NegativeInfinity) "-Inf"
          else if (m.value == m.value.toLong.toDouble) m.value.toLong.toString
          else m.value.toString
        s"kspp_${m.what}{$labels} $v"
      }.mkString("", "\n", "\n")

    /** Pushgateway URL-path job component ("job/<name>", or the gateway's
      * `job@base64/<b64url>` convention for names outside the simple-token
      * set) — a raw "a b" throws in URI.create per push, and a raw "a/b"
      * is silently parsed as job "a" plus a dangling label segment.
      */
    private[graft] def jobPath(job: String): String =
      if (job.nonEmpty && job.forall(c => c.isLetterOrDigit || c == '_' || c == '-'))
        s"job/$job"
      else if (job.isEmpty) "job@base64/=" // the gateway's empty-value spelling
      else "job@base64/" + java.util.Base64.getUrlEncoder.withoutPadding()
        .encodeToString(job.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    def httpTransport(gatewayBaseUrl: String, job: String): String => Int = {
      val client = java.net.http.HttpClient.newHttpClient()
      val seg = jobPath(job)
      payload => {
        val req = java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(s"${gatewayBaseUrl.stripSuffix("/")}/metrics/$seg"))
          .header("Content-Type", "text/plain; version=0.0.4")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(payload))
          .build()
        client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
      }
    }

    /** Push everything the [[graft.ProbeTiming]] collector holds for
      * `spark`'s context: per streaming query the reference's `processed`
      * counter (kspp.h:32-38) and `batches`, labelled `query`; per
      * [[observe]] name `processed` and `lag`, labelled `observation`; and
      * per stage tag one `stage_<field>` counter per
      * [[graft.ProbeTiming.Fields]] name, labelled `stage`. Returns the
      * transport's status.
      */
    def push(spark: SparkSession, transport: String => Int): Int = {
      import graft.ProbeTiming
      val queries = ProbeTiming.queries(spark).toSeq.sortBy(_._1).flatMap { case (q, s) =>
        Seq(Metric("processed", "counter", "msg", Map("query" -> q), s("rows").toDouble),
          Metric("batches", "counter", "msg", Map("query" -> q), s("batches").toDouble))
      }
      val observed = ProbeTiming.observations(spark).toSeq.sortBy(_._1).flatMap { case (o, s) =>
        Metric("processed", "counter", "msg", Map("observation" -> o), s("processed_count").toDouble) +:
          s.get("max_lag_ms").toSeq.map(l => Metric("lag", "gauge", "ms", Map("observation" -> o), l.toDouble))
      }
      val stages = ProbeTiming.costs(spark).toSeq.sortBy(_._1).flatMap { case (tag, c) =>
        c.map { case (f, v) =>
          Metric(s"stage_$f", "counter", ProbeTiming.Fields(f), Map("stage" -> tag), v.toDouble)
        }
      }
      transport(render(queries ++ observed ++ stages))
    }
  }
}
