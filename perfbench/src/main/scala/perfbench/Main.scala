package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, out: String, cores: Int, data: String)

/** Counts operations and keeps the result of each one that succeeded:
  * a throw or a wrong answer counts as failed and yields nothing, so it
  * never becomes a timing. */
class Ledger {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def errorRate: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted

  private def note(what: String): Unit = if (failures.size < 50) failures += what

  /** Runs one operation returning (result, answer is right). */
  def op[T](what: String)(f: => (T, Boolean)): Option[T] = {
    attempted += 1
    try {
      val (t, ok) = f
      if (ok) Some(t) else { failed += 1; note(s"$what answered wrong"); None }
    } catch { case e: Throwable =>
      failed += 1; note(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
  }

  /** Counts one check; `false` or a throw is a failure. */
  def check(what: String)(ok: => Boolean): Boolean =
    op(what)(((), ok)).isDefined

  def fail(what: String, n: Long = 1): Unit = {
    attempted += n; failed += n; note(what)
  }
}

/** One benchmark run: the Spark session, the probes, and what the
  * workload reports. */
final class Run(val args: Args, val spark: SparkSession,
    val probes: Probes) extends Ledger {
  def tracer: Tracer = probes.tracer
  def seed: Long = args.seed
  /** End-to-end metrics (untraced runs) and per-layer ones (traced). */
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  /** The workload's own metric names, with units, for readers. */
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  val context = mutable.LinkedHashMap[String, Any]()

  private val born = System.nanoTime()
  /** Seconds since the run began at each named milestone. */
  val phases = mutable.LinkedHashMap[String, Double]()
  def mark(name: String): Unit = phases(name) = secondsSince(born)

  def dir(name: String): String = s"${args.work}/data/$name"

  def span[T](name: String)(f: => T): T = tracer.span(name)(f)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timeS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, secondsSince(t0))
  }
}

object Main {
  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m("work"), m("out"),
      m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      m.getOrElse("data", ""))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .config("spark.sql.streaming.checkpointLocation",
        s"${a.work}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val loadBefore = Context.loadavg()
    val steal0 = Context.cpuSteal()
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(a, spark, new Probes(spark, new Tracer(a.trace)))
    run.context ++= Context.basics(spark, a)
    run.context("session_start_s") = sessionS
    run.context("loadavg_before") = loadBefore
    a.workload match {
      case "ingest_stream" => IngestStream.run(run)
      case "query_history" => QueryHistory.run(run)
      case "lifecycle" => Lifecycle.run(run)
      case "backfill_1core" => IngestStream.backfillOnly(run)
      case other => sys.error(s"unknown workload $other")
    }
    run.mark("done")
    run.context("phases_s") = run.phases
    run.context("loadavg_after") = Context.loadavg()
    val steal1 = Context.cpuSteal()
    val steal = (steal1._1 - steal0._1).toDouble /
      math.max(1L, steal1._2 - steal0._2)
    run.context("cpu_steal_share") = steal
    // a host that lost this much CPU to its neighbours ran slow
    if (steal > Context.NoisyStealShare) {
      run.context("noisy") = true
      run.context("noisy_steal") = f"the hypervisor took ${steal * 100}%.0f%% of the CPU"
    }
    if (a.trace) {
      run.probes.attachSparkSpans()
      val spanFile = s"${a.work}/spans.jsonl"
      run.tracer.write(spanFile)
      run.context("span_file") = spanFile
      run.context("self_time_ms") = Tracer.selfTimes(run.tracer.all).map {
        case (n, (c, tot, self)) => n -> Map("count" -> c,
          "total_ms" -> tot / 1000.0, "self_ms" -> self / 1000.0)
      }
    }
    val out = Map("workload" -> a.workload, "seed" -> a.seed,
      "trace" -> a.trace, "attempted" -> run.attempted,
      "error_rate" -> run.errorRate,
      "failed" -> run.failed, "failures" -> run.failures.toSeq,
      "e2e" -> run.e2e, "layers" -> run.layers,
      "named" -> run.named.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "context" -> run.context)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), Json(out))
    spark.stop()
  }
}

/** JSON for the result and span files: Jackson with its Scala module
  * (maps, sequences, options). A non-finite number is written as a
  * string, which the runner refuses as a metric. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** What makes a run steady or noisy, recorded with its result. */
object Context {
  val NoisyStealShare = 0.1

  /** Jiffies the hypervisor stole from this machine, and all jiffies. */
  def cpuSteal(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  def loadavg(): String =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).trim
    catch { case _: Throwable => "unavailable" }

  def basics(spark: SparkSession, a: Args): Map[String, Any] = Map(
    "seed" -> a.seed, "seconds" -> a.seconds,
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "cores" -> a.cores,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> spark.version,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
}
