package perfbench

import java.nio.file.Paths
import scala.collection.mutable

import graft.sink.CdcTable
import graft.streaming.CdcIngest
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** `ingest_stream`: an open-loop generator feeds Debezium envelopes into
  * `CdcIngest.start` on a fixed schedule that does not slow when the
  * engine does; then a closed backfill pushes a fixed backlog through
  * `CdcIngest.processBatch`. Writes only. */
object IngestStream {
  val Colls = 4
  val KeySpace = 3000
  val RatePerS = 800
  val TickMs = 50
  /** A micro-batch costs ~1.5 s of fixed work on 4 cores; a 3 s trigger
    * keeps it near half busy, so no batch overruns into the next
    * trigger and shifts every later lag. */
  val TriggerMs = 3000L
  val NovelEvery = 1500
  val BadEvery = 97
  /** Share of the measured time the generator runs. */
  val StreamShare = 0.7
  val BackfillBatches = 4
  val BackfillBatchSize = 1500
  val SetupRepeats = 3
  val SetupEvents = 200
  /** A tick this late (ms) means the generator fell behind schedule. */
  val LateLimitMs = 100L

  private def cfg(base: String) = CdcIngest.Config(base,
    checkpointDir = s"$base/_ckpt", triggerMillis = TriggerMs)

  /** Commit-visible lag of each row: the manifest timestamp of the
    * commit that added the row's file minus the row's creation stamp.
    * `rows` are (file URI as `input_file_name` reports it, stamp ms). */
  def lagMs(tableDir: String, commits: Seq[CdcTable.Commit],
      rows: Seq[(String, Long)]): Seq[Long] = {
    val root = Paths.get(tableDir).toAbsolutePath.normalize
    val ts = commits.flatMap(c => c.files.map(f => f -> c.ts)).toMap
    rows.map { case (uri, stamp) =>
      val rel = root.relativize(Paths.get(new java.net.URI(uri)).normalize)
        .toString
      ts.getOrElse(rel, throw new IllegalStateException(
        s"$rel is in no commit of $tableDir")) - stamp
    }
  }

  private def envelopes(r: Run, events: Seq[Event], baseMs: Long,
      genMs: Long): DataFrame = {
    val spark = r.spark
    import spark.implicits._
    events.map(e => Gen.envelope(e, baseMs, genMs)).toDF("value")
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val baseMs = System.currentTimeMillis()

    /** A fresh stream, from its start to its first committed
      * micro-batch of `first`: (its input, the query, seconds taken). */
    def startStream(dir: String, first: Seq[Event]) = {
      val t0 = System.nanoTime()
      // one input partition per core, however many ticks a batch spans
      val mem = MemoryStream[String](spark, r.args.cores)
      mem.addData(first.map(e => Gen.envelope(e, baseMs, 0L)))
      val q = CdcIngest.start(mem.toDF(), cfg(dir))
      q.processAllAvailable()
      (mem, q, r.secondsSince(t0))
    }

    // set-up, several times: a stream's start; the last one is the
    // measured stream's own
    val setups = (1 until SetupRepeats).map { i =>
      val g = new Gen(r.seed * 1000 + i, Colls, KeySpace, NovelEvery,
        BadEvery)
      val (_, q, secs) = startStream(r.dir(s"setup$i"),
        Seq.fill(SetupEvents)(g.next()))
      q.stop()
      secs
    }

    // open loop: a tick of RatePerS * TickMs / 1000 events is due every
    // TickMs; each event is stamped with its due time, so a stall that
    // delays later ticks shows up in their lag
    val base = r.dir("stream")
    val gen = new Gen(r.seed, Colls, KeySpace, NovelEvery, BadEvery)
    val events = mutable.ArrayBuffer[Event]()
    r.probes.streamProbe.clear()
    val window = new Window(r)
    // its first batch primes the stream before the schedule starts, so
    // no measured batch pays the query's first-batch planning; these
    // events are checked but carry no lag (their stamp is 0)
    events ++= Seq.fill(SetupEvents)(gen.next())
    val (mem, q, startS) = startStream(base, events.toSeq)
    r.mark("setup")
    r.e2e("setup_s") = Stats.median(setups :+ startS)
    r.context("setup_samples_s") = setups :+ startS
    val perTick = RatePerS * TickMs / 1000
    val ticks = (r.args.seconds * 1000 * StreamShare).toInt / TickMs
    // start just after a trigger boundary (processing-time triggers fire
    // on multiples of the interval), so every run meets the same phase
    val t0 = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + TickMs
    Thread.sleep(math.max(0L, t0 - System.currentTimeMillis()))
    var lateMax = 0L
    var backlogMax = 0L
    for (k <- 0 until ticks) {
      val due = t0 + k.toLong * TickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      lateMax = math.max(lateMax, System.currentTimeMillis() - due)
      val tick = (0 until perTick).map(_ => gen.next())
      events ++= tick
      mem.addData(tick.map(e => Gen.envelope(e, baseMs, due)))
      val done = r.probes.streamProbe.all.filter(_.id == q.id)
        .map(_.numInputRows).sum
      backlogMax = math.max(backlogMax, events.size - done)
    }
    val genEndMs = System.currentTimeMillis()
    q.processAllAvailable()
    val streamEndMs = System.currentTimeMillis()
    window.close()
    r.probes.heap.sample()
    q.stop()
    r.mark("stream")
    r.context("gen_late_ms_max") = lateMax
    r.context("noisy") = lateMax > LateLimitMs
    if (lateMax > LateLimitMs)
      r.context("noisy_reason") =
        s"the generator ran up to $lateMax ms behind schedule"
    r.probes.drain()
    val progress = r.probes.streamProbe.all.filter(p =>
      p.id == q.id && p.numInputRows > 0)
    def phase(n: String) = progress.map(p =>
      Option(p.durationMs.get(n)).map(_.doubleValue).getOrElse(0.0))
    r.layers ++= Seq(
      "streaming.batches" -> progress.size.toDouble,
      "streaming.trigger_ms_p50" -> Stats.median(phase("triggerExecution")),
      "streaming.add_batch_ms_p50" -> Stats.median(phase("addBatch")),
      "streaming.planning_ms_p50" -> Stats.median(phase("queryPlanning")),
      "streaming.wal_ms_p50" -> Stats.median(phase("walCommit")),
      "streaming.rows_per_batch_p50" ->
        Stats.median(progress.map(_.numInputRows.toDouble)),
      "streaming.busy_share" ->
        phase("triggerExecution").sum / math.max(1L, streamEndMs - t0),
      "streaming.backlog_max_ev" -> backlogMax.toDouble,
      "streaming.gen_late_ms_max" -> lateMax.toDouble)
    r.context("stream_wall_s") = (streamEndMs - t0) / 1000.0
    r.context("drain_s") = (streamEndMs - genEndMs) / 1000.0
    if (r.tracer.enabled) progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
      r.tracer.add("streaming.batch", "batch", start,
        start + p.durationMs.get("triggerExecution").longValue * 1000, None)
    }

    // commit-visible lag, from the manifest commit of each event's file
    val lags = (0 until Colls).flatMap { c =>
      val tbl = s"$base/${Gen.table(c)}"
      val files = CdcTable.log(tbl).flatMap(_.files)
        .map(f => s"$tbl/$f")
      val rows = spark.read.option("mergeSchema", "true").parquet(files: _*)
        .filter(col("gen_ms") > 0)
        .select(input_file_name(), col("gen_ms")).as[(String, Long)]
        .collect().toSeq
      lagMs(tbl, CdcTable.log(tbl), rows).map(_.toDouble)
    }
    val lagTail = Stats.tail(lags)
    r.e2e("latency_ms") = Stats.median(lags)
    r.named("ingest_lag_p50_ms") = (Stats.median(lags), "ms")
    r.named("ingest_lag_p95_ms") = (Stats.percentile(lags, 95), "ms")
    r.context("lag_samples") = lags.size
    r.context("lag_tail") = Map("pct" -> lagTail.pct,
      "value_ms" -> lagTail.value, "n" -> lagTail.n)
    r.layers ++= Seq("ingest.lag_p95_ms" -> Stats.percentile(lags, 95))

    r.mark("lag")
    if (r.tracer.enabled) Tables.sinkLayer(r, s"$base/${Gen.table(0)}")
    val deadStream = Tables.checkIngest(r, base, events.toSeq, Colls)

    r.mark("stream_checks")
    val (bfEvents, deadBackfill) = backfill(r, baseMs)
    val injected = (events ++ bfEvents).count(!_.valid)
    val dead = deadStream + deadBackfill
    r.layers("ingest.dlq_rows") = dead.toDouble
    r.check(s"dead letters ($dead) equal the injected invalid events ($injected)")(
      dead == injected)
    r.probes.heap.sample()
    r.e2e("heap_peak_mb") = r.probes.heap.peakMb
    r.named("backfill_ev_s") = (r.e2e("throughput_per_s"), "1/s")
  }

  /** The closed backfill phase: a fixed backlog through `processBatch`
    * in equal batches into fresh tables; throughput is events over the
    * time of all batches. The batch count is fixed: the first batch also
    * creates the tables, so a varying count would move the figure. */
  def backfill(r: Run, baseMs: Long): (Seq[Event], Long) = {
    val base = r.dir("backfill")
    val gen = new Gen(r.seed + 7919, Colls, KeySpace, NovelEvery, BadEvery)
    val batches = (0 until BackfillBatches).map { _ =>
      (0 until BackfillBatchSize).map(_ => gen.next())
    }
    val frames = batches.map { b =>
      val df = envelopes(r, b, baseMs, baseMs).cache(); df.count(); df
    }
    val window = new Window(r)
    val secs = frames.zipWithIndex.map { case (df, i) =>
      r.timeS(r.span("ingest.processBatch") {
        CdcIngest.processBatch(df, cfg(base), Some(i.toLong))
      })._2
    }
    window.close()
    r.mark("backfill")
    r.probes.heap.sample()
    r.e2e("throughput_per_s") = BackfillBatches * BackfillBatchSize / secs.sum
    r.context("backfill_batch_s") = secs
    if (r.tracer.enabled) {
      val all = frames.reduce(_ union _)
      val d0 = System.nanoTime()
      r.span("ingest.decode") {
        graft.ingest.CdcNormalize(graft.ingest.Envelope.decode(all))
          .all.count()
      }
      r.layers("ingest.decode_ms") = (System.nanoTime() - d0) / 1e6
    }
    frames.foreach(_.unpersist())
    val events = batches.flatten
    val dead = Tables.checkIngest(r, base, events, Colls)
    r.mark("backfill_checks")
    (events, dead)
  }

  /** Backfill alone, for the single-core baseline run. */
  def backfillOnly(r: Run): Unit = {
    backfill(r, System.currentTimeMillis())
    r.layers("spark.backfill_ev_s_1core") = r.e2e("throughput_per_s")
  }
}
