package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Run-wide context handed to a workload. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val work: Path, jvmStartMs: Long) {
  private var setupEndMs = -1L
  /** Called right before the first timed operation; fixes `setup_s`. */
  def timedStart(): Unit = if (setupEndMs < 0) setupEndMs = System.currentTimeMillis()
  def setupS: Double = (setupEndMs - jvmStartMs) / 1000.0
  /** The generator stream `salt` of this run's seed. */
  def rng(salt: Long): Rng = new Rng(seed * 1000003L + salt)
  /** Prints a progress line stamped with the seconds since JVM start. */
  def note(msg: String): Unit = println(f"[${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%7.2f s] $msg")
  def dir(name: String): Path = { val d = work.resolve(name); Files.createDirectories(d); d }
}

/** What one timed region produced. `opMs` are the samples behind
  * `op_p50_ms`/`op_p99_ms`; `failures` keep each failed operation's
  * exception class and message.
  */
final case class Measured(opMs: Seq[Double], throughput: Double, ops: Long,
                          failures: Seq[String], extras: Map[String, Double] = Map.empty)

trait Workload {
  /** Generates the inputs and warms up; returns the input properties. */
  def setup(ctx: Ctx): Seq[(String, Any)]
  /** One timed region on fresh state; `tr` is disabled in untraced runs. */
  def measure(ctx: Ctx, tr: Tracer): Measured
  /** Output checks, run after the timed regions; one entry per check. */
  def check(ctx: Ctx): Seq[(String, Option[String])]
  /** Span names that count as one operation for per-call layer metrics. */
  def opSpans: Set[String]
}

object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(work)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val workload: Workload = name match {
      case "changelog_stream" => new ChangelogStream
      case "curation_stream" => new CurationStream
      case "operator_batch" => new OperatorBatch
      case "vector_index" => new VectorIndex
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val nproc = Runtime.getRuntime.availableProcessors
    // by default one core stays free for the driver thread, the generator,
    // JIT and GC, so task threads do not queue behind them
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).map(math.min(nproc, _))
      .getOrElse(math.max(1, nproc - 1))
    val spark = graft.GraftSession.local("perfbench", cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed, seconds, work, jvmStartMs)
    val detail = mutable.LinkedHashMap.empty[String, Any]
    detail("workload") = name; detail("seed") = seed; detail("cpus") = cpus
    try {
      ctx.note("session up")
      val props = workload.setup(ctx)
      ctx.note("setup done")
      detail("inputs") = props.toMap
      props.foreach { case (k, v) => println(s"input $k = ${Json.value(v)}") }

      val plain = workload.measure(ctx, new Tracer(spark, enabled = false))
      ctx.note(s"timed region done: ${plain.ops} operations, op p50 ${Stats.median(plain.opMs)} ms")
      val rssMb = vmHwmMb()
      val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
      var failures = plain.failures
      var attempted = plain.ops
      if (!trace) {
        metrics("setup_s") = (ctx.setupS, "s")
        metrics("peak_rss_mb") = (rssMb, "MB")
        metrics("op_p50_ms") = (Stats.quantile(plain.opMs, 0.5), "ms")
        metrics("op_p99_ms") = (Stats.quantile(plain.opMs, 0.99), "ms")
        metrics("throughput_per_s") = (plain.throughput, "1/s")
      } else {
        val tr = new Tracer(spark, enabled = true)
        val gc0 = gcMs(); val cpu0 = cpuNs()
        val traced = workload.measure(ctx, tr)
        val gc = gcMs() - gc0; val cpu = (cpuNs() - cpu0) / 1e9
        tr.finish()
        // an untraced region on each side of the traced one, so the
        // overhead is not the JVM warming up between regions
        val after = workload.measure(ctx, new Tracer(spark, enabled = false))
        ctx.note(s"traced and second untraced regions done: op p50 ${Stats.median(traced.opMs)} ms, " +
          s"${Stats.median(after.opMs)} ms")
        failures ++= traced.failures ++ after.failures
        attempted += traced.ops + after.ops
        val untracedP50 = (Stats.median(plain.opMs) + Stats.median(after.opMs)) / 2
        Layers.metrics(tr, workload.opSpans, traced, gc, cpu,
          overhead = Stats.median(traced.opMs) / untracedP50 - 1)
          .foreach { case (k, v) => metrics(k) = v }
        detail("spans") = tr.allSpans.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "op" -> s.opId, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
      }
      detail("samples") = plain.opMs.size
      detail("extras") = plain.extras

      val checks = try workload.check(ctx) catch {
        case NonFatal(e) => Seq("check" -> Some(describe(e)))
      }
      ctx.note("checks done")
      checks.foreach { case (n, r) => println(s"check $n: ${r.getOrElse("ok")}") }
      val failedChecks = checks.collect { case (n, Some(msg)) => s"$n: $msg" }
      failures ++= failedChecks
      detail("checks") = checks.map { case (n, r) => n -> r.getOrElse("ok") }.toMap
      detail("failures") = failures
      failures.foreach(f => println(s"failure $f"))
      val result = Map(
        "correct" -> (failures.isEmpty && plain.opMs.nonEmpty),
        "attempted" -> (attempted + checks.size),
        "failed" -> failures.size,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
        "detail" -> detail.toMap)
      Files.write(out, Json.value(result).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")
    if (root eq e) s"${e.getClass.getName}: $msg"
    else s"${e.getClass.getName}: $msg (cause ${root.getClass.getName}: ${Option(root.getMessage).getOrElse("").linesIterator.take(2).mkString(" ")})"
  }

  /** The closed loop of a timed region: starts the clock, then runs steps
    * until at least `min` ran and `ctx.seconds` passed, or `max` ran.
    */
  def loop(ctx: Ctx, min: Int, max: Int)(step: Int => Unit): Int = {
    ctx.timedStart()
    val t0 = System.nanoTime()
    var i = 0
    while (i < max && (i < min || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) { step(i); i += 1 }
    i
  }

  /** Runs one timed operation, keeping a failure's class and message. */
  def attempt(failures: mutable.Buffer[String], what: String)(body: => Unit): Boolean =
    try { body; true } catch { case NonFatal(e) => failures += s"$what: ${describe(e)}"; false }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Bytes and files under `p` (0 when absent). */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .filterNot(f => f.getFileName.toString.startsWith(".") || f.getFileName.toString.startsWith("_"))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }
}

object Stats {
  /** Linear-interpolated quantile (NumPy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toArray
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt; val hi = math.ceil(h).toInt
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON rendering for the result file. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
