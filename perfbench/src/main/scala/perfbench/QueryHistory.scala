package perfbench

import java.sql.Timestamp
import scala.collection.mutable

import graft.query.{CurrentState, GraftSession}
import graft.reconcile.Reconciler
import graft.sink.CdcTable
import graft.streaming.CdcIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `query_history`: set-up builds a CDC history through `processBatch`
  * (schema generations, deletion-vector deletes and a merge-on-read
  * update among the commits); then one closed-loop client runs a
  * seeded, balanced mix of seven read operations against it. Every
  * answer is checked against the generator's own model. Reads only. */
object QueryHistory {
  val Batches = 8
  val BatchSize = 150
  val KeySpace = 400
  val NovelEvery = 400
  /** Invalid events belong to `ingest_stream`; here they would only add
    * a dead-letter commit to every batch. */
  val BadEvery = Int.MaxValue
  val NCust = 150
  val Buckets = 16
  val Drift = 3
  /** Deletion-vector operations, after the batch with this index. */
  val DvOps: Map[Int, DvOp] = Map(
    3 -> DvOp("delete", 13, 0), 5 -> DvOp("merge", 11, 0),
    7 -> DvOp("delete", 17, 1))
  val OpKinds: Seq[String] =
    Seq("point", "range", "agg", "join", "state", "asof", "changes", "recon")

  /** `v % mod == rem` rows are deleted, or get `v + 10000` (merge). */
  final case class DvOp(kind: String, mod: Int, rem: Int) {
    def pred: String = s"v % $mod = $rem"
    def hits(row: Rw): Boolean = row.v % mod == rem
  }

  /** A table row in the model. */
  final case class Rw(seq: Long, key: String, op: String, v: Long,
      cust: Long, kind: String)

  /** The model of the table: its snapshot after every commit. */
  final class Model {
    val snapshots = mutable.ArrayBuffer[(Long, Map[Long, Rw])]()
    /** (commit, inserts, deletes, updates) of each commit. */
    val changes = mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val batchCommit = mutable.HashMap[Int, Long]()
    var rows: Map[Long, Rw] = Map.empty
    def last: Map[Long, Rw] = rows
    def keys: IndexedSeq[String] = rows.values.map(_.key).toVector.distinct.sorted
    def state(rs: Map[Long, Rw]): Map[String, Long] =
      rs.values.groupBy(_.key).map { case (k, xs) => k -> xs.maxBy(_.seq) }
        .filter(_._2.op != "d").map { case (k, x) => k -> x.seq }
    def at(commit: Long): Map[Long, Rw] =
      snapshots.filter(_._1 <= commit).lastOption.map(_._2).getOrElse(Map.empty)
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val base = r.dir("history")
    val baseMs = System.currentTimeMillis()
    val rnd = Gen.rng(r.seed)
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val customers = (1 to NCust).map(c =>
      (c.toLong, segments(rnd.nextInt(segments.size))))
    val customer = customers.toDF("c_custkey", "c_mktsegment").cache()
    customer.count()
    val segOf = customers.toMap

    // set-up: the whole history through processBatch, with the
    // deletion-vector operations between batches
    val m = new Model
    val gen = new Gen(r.seed * 100, 1, KeySpace, NovelEvery, BadEvery, NCust)
    val batches = (0 until Batches).map(_ =>
      (0 until BatchSize).map(_ => gen.next()))
    val frames = batches.map(b =>
      b.map(e => Gen.envelope(e, baseMs, baseMs)).toDF("value").cache())
    frames.foreach(_.count())
    val tbl = s"$base/${Gen.table(0)}"
    val cfg = CdcIngest.Config(base, checkpointDir = s"$base/_ckpt")
    val dvCommits = mutable.HashMap[Int, Long]()
    val b0 = System.nanoTime()
    batches.indices.foreach { b =>
      r.span("ingest.processBatch")(
        CdcIngest.processBatch(frames(b), cfg, Some(b.toLong)))
      DvOps.get(b).foreach { op =>
        dvCommits(b) = op.kind match {
          case "delete" => CdcTable.deleteDV(spark, tbl, op.pred).commit
          case "merge" => CdcTable.mergeDV(spark, tbl,
            CdcTable.read(spark, tbl).filter(expr(op.pred))
              .withColumn("v", col("v") + 10000L),
            Seq("seq")).commit
        }
      }
    }
    r.e2e("setup_s") = r.secondsSince(b0)
    r.mark("setup")
    r.probes.heap.sample()
    frames.foreach(_.unpersist())
    // the model replays the same timeline, commit by commit
    val log = CdcTable.log(tbl)
    log.foreach(c => c.txn.foreach { case (_, b) =>
      m.batchCommit(b.toInt) = c.commit })
    batches.indices.foreach { b =>
      val added = batches(b).filter(_.valid).map(e =>
        Rw(e.seq, e.key, e.op, e.v, e.cust, e.kind))
      m.rows = m.rows ++ added.map(x => x.seq -> x)
      val bc = m.batchCommit(b)
      m.snapshots += bc -> m.rows
      m.changes += ((bc, added.size.toLong, 0L, 0L))
      DvOps.get(b).foreach { op =>
        val hit = m.rows.values.filter(op.hits).toSeq
        m.rows = op.kind match {
          case "delete" => m.rows -- hit.map(_.seq)
          case "merge" => m.rows ++ hit.map(x => x.seq -> x.copy(v = x.v + 10000))
        }
        val c = dvCommits(b)
        m.snapshots += c -> m.rows
        m.changes += (if (op.kind == "delete") ((c, 0L, hit.size.toLong, 0L))
          else ((c, 0L, 0L, hit.size.toLong)))
      }
    }
    r.context("commits") = log.size

    // the reconciliation source: the modelled state, with drift
    val reconSrc = {
      val st = m.state(m.last)
      val ks = st.keys.toVector.sorted
      val drop = ks.take(Drift).toSet
      val alter = ks.slice(Drift, 2 * Drift).toSet
      val src = st.toSeq.filterNot(kv => drop(kv._1)).map { case (k, s) =>
        (k, s, m.last(s).v + (if (alter(k)) 1L else 0L))
      } ++ (1 to Drift).map(i => (s"zz$i", -i.toLong, 0L))
      val path = r.dir("recon_src")
      src.toDF("_id", "seq", "v").coalesce(1).write.parquet(path)
      path
    }

    val reconTimes = mutable.ArrayBuffer[(Double, Double)]()
    var lastDrift = 0L
    def graftRead = spark.read.format("graft").load(tbl)

    /** One operation: returns (open ms, action ms, answer == expected). */
    final case class Op(kind: String, run: () => (Double, Double, Boolean))
    def timed(open: => DataFrame)(act: DataFrame => Any)(expected: => Any)
        : (Double, Double, Boolean) = {
      val t0 = System.nanoTime()
      val df = r.span("sources.open")(open)
      val t1 = System.nanoTime()
      val got = r.span("sources.exec")(act(df))
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e6, (t2 - t1) / 1e6, got == expected)
    }
    def aggOf(rows: Iterable[Rw]): (Long, Long) = (rows.size.toLong, rows.map(_.v).sum)
    def countSum(df: DataFrame): (Long, Long) = {
      val row = df.agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))).collect()(0)
      (row.getLong(0), row.getLong(1))
    }
    def groups(df: DataFrame, k: String): Map[String, (Long, Long)] =
      df.groupBy(col(k)).agg(count(lit(1)), sum(col("v"))).collect()
        .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap

    /** One operation of `kind`, its parameters drawn from `rnd`. Every
      * operation of a kind does about the same work whatever the draw:
      * a range is an eighth of the stream, an as-of read is at one of
      * the later batches' commits, a change feed spans two batches. */
    def makeOp(kind: String, rnd: java.util.SplittableRandom): Op =
      kind match {
        case "point" =>
          val k = m.keys(rnd.nextInt(m.keys.size))
          Op(kind, () => timed(graftRead.filter(col("_id") === k)
            .select(col("seq"), col("v")))(
            _.as[(Long, Long)].collect().toSet)(
            m.last.values.filter(_.key == k).map(x => (x.seq, x.v)).toSet))
        case "range" =>
          val maxSeq = m.last.keys.max
          val a = rnd.nextLong(maxSeq - maxSeq / 8); val b = a + maxSeq / 8
          Op(kind, () => timed(graftRead.filter(
            col("_cdc_timestamp") >= lit(new Timestamp(baseMs + a)) &&
              col("_cdc_timestamp") < lit(new Timestamp(baseMs + b))))(
            countSum)(aggOf(m.last.values.filter(x => x.seq >= a && x.seq < b))))
        case "agg" =>
          Op(kind, () => timed(CdcTable.read(spark, tbl))(
            groups(_, "kind"))(m.last.values.groupBy(_.kind)
              .map { case (g, xs) => g -> aggOf(xs) }))
        case "join" =>
          Op(kind, () => timed(CdcTable.read(spark, tbl)
            .join(customer, col("cust") === col("c_custkey")))(
            groups(_, "c_mktsegment"))(m.last.values.groupBy(x => segOf(x.cust))
              .map { case (g, xs) => g -> aggOf(xs) }))
        case "state" =>
          Op(kind, () => timed(r.span("query.current_state")(
            CurrentState(CdcTable.read(spark, tbl))
              .select(col("_id"), col("seq"))))(
            _.as[(String, Long)].collect().toMap)(m.state(m.last)))
        case "asof" =>
          val c = m.batchCommit(Batches / 2 + rnd.nextInt(Batches - Batches / 2))
          Op(kind, () => timed(CdcTable.readAsOf(spark, tbl,
            commitAsOf = Some(c)))(countSum)(aggOf(m.at(c).values)))
        case "changes" =>
          val b1 = rnd.nextInt(Batches - 2)
          val b2 = b1 + 2
          val (c1, c2) = (m.batchCommit(b1), m.batchCommit(b2))
          val win = m.changes.filter(x => x._1 > c1 && x._1 <= c2)
          val expect = Map(
            "insert" -> win.map(_._2).sum, "delete" -> win.map(_._3).sum,
            "update_preimage" -> win.map(_._4).sum,
            "update_postimage" -> win.map(_._4).sum).filter(_._2 > 0)
          Op(kind, () => timed(CdcTable.readChanges(spark,
            tbl, afterCommit = c1, upToCommit = Some(c2)))(
            _.groupBy(col("_change_type")).count().collect()
              .map(x => x.getString(0) -> x.getLong(1)).toMap)(expect))
        case "recon" =>
          Op(kind, () => {
            val t0 = System.nanoTime()
            val src = spark.read.parquet(reconSrc)
            val tgt = CurrentState(CdcTable.read(spark, tbl))
              .select(col("_id"), col("seq"), col("v")).persist()
            val bad = r.span("reconcile.buckets")(Reconciler.compareBuckets(
              src, tgt, "_id", Buckets, Seq("seq", "v"))
              .filter(!col("is_match")).count())
            val t1 = System.nanoTime()
            val rep = r.span("reconcile.diff")(
              Reconciler.diff(src, tgt, "_id", Seq("seq", "v")))
            val found = (rep.missingInTarget.count(),
              rep.extraInTarget.count(), rep.mismatched.count())
            val t2 = System.nanoTime()
            tgt.unpersist()
            reconTimes += (((t1 - t0) / 1e6, (t2 - t1) / 1e6))
            lastDrift = found._1 + found._2 + found._3
            (0.0, (t2 - t0) / 1e6,
              found == ((Drift.toLong, Drift.toLong, Drift.toLong)) &&
                bad > 0 && bad <= 3 * Drift)
          })
      }
    /** A timed operation, with the Dataset actions it ran. */
    final case class Sample(kind: String, openMs: Double, execMs: Double,
        qes: Seq[QeRec])
    val samples = mutable.ArrayBuffer[Sample]()
    def exec(op: Op, timedRun: Boolean): Unit = {
      // listener records arrive asynchronously: the bus is drained
      // before and after each operation, outside its timing, so exactly
      // the actions it ran are its own
      r.probes.drain()
      val q0 = r.probes.qeProbe.count
      r.op(op.kind) {
        val (o, x, ok) = r.span(s"query.${op.kind}")(op.run())
        ((o, x), ok)
      }.foreach { case (o, x) =>
        r.probes.drain()
        if (timedRun) samples += Sample(op.kind, o, x, r.probes.qeProbe.since(q0))
      }
    }

    // warm-up, checked but not timed: the scan, lookup and state paths
    // every kind shares get compiled before the clock starts
    val warmRnd = Gen.rng(r.seed ^ 0x5eed)
    Seq("point", "agg", "state").foreach(k =>
      exec(makeOp(k, warmRnd), timedRun = false))

    r.mark("warm_up")
    // closed loop, one client, in rounds: each round runs every kind
    // once, in seeded order, so every kind is run equally often. There
    // is always one round; another starts while the last one would
    // still fit in the measured time
    val opRnd = Gen.rng(r.seed + 1)
    val window = new Window(r)
    val t0 = System.nanoTime()
    val deadline = t0 + r.args.seconds * 1000000000L
    var round = 0L
    while (round == 0 || System.nanoTime() + round < deadline) {
      val r0 = System.nanoTime()
      OpKinds.map(k => (opRnd.nextDouble(), k)).sortBy(_._1).foreach {
        case (_, kind) => exec(makeOp(kind, opRnd), timedRun = true)
      }
      round = System.nanoTime() - r0
    }
    val measured = r.secondsSince(t0)
    window.close()
    r.probes.heap.sample()
    r.mark("measure")

    val lat = samples.map(s => s.openMs + s.execMs).toSeq
    def p50(kinds: String*): Double = {
      val xs = samples.filter(s => kinds.contains(s.kind)).map(s => s.openMs + s.execMs)
      if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    }
    if (lat.isEmpty) r.fail("no operation completed in the measured time")
    else {
      r.e2e("latency_ms") = Stats.median(lat)
      r.e2e("throughput_per_s") = lat.size / measured
      val tail = Stats.tail(lat)
      r.context("latency_tail") = Map("pct" -> tail.pct,
        "value_ms" -> tail.value, "n" -> tail.n)
      r.named("query_p50_ms") = (Stats.median(lat), "ms")
      r.named(s"query_p${tail.pct.toInt}_ms") = (tail.value, "ms")
      r.named("point_p50_ms") = (p50("point"), "ms")
      r.named("scan_p50_ms") = (p50("range", "agg", "join"), "ms")
      r.named("state_p50_ms") = (p50("state"), "ms")
      r.named("history_p50_ms") = (p50("asof", "changes"), "ms")
      r.named("recon_p50_ms") = (p50("recon"), "ms")
    }
    r.context("ops_per_kind") = samples.groupBy(_.kind).map { case (k, xs) => k -> xs.size }
    r.context("op_ms") = samples.map(s => s"${s.kind}:${(s.openMs + s.execMs).round}")
    r.context("measured_s") = measured

    // per-layer: the source reads (point and range go through
    // format("graft")), planning, files, and the other modules
    val srcOps = samples.filter(s => s.kind == "point" || s.kind == "range")
    val pointOps = samples.filter(_.kind == "point")
    // files a point lookup reads, against what a full scan reads
    def filesPerOp(ss: Seq[Sample]) =
      ss.flatMap(_.qes).map(_.filesRead).sum.toDouble / math.max(1, ss.size)
    val pointFiles = filesPerOp(pointOps.toSeq)
    val scanFiles = filesPerOp(samples.filter(_.kind == "agg").toSeq)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    r.layers ++= Seq(
      "sources.open_ms_p50" -> med(srcOps.map(_.openMs).toSeq),
      "sources.exec_ms_p50" -> med(srcOps.map(_.execMs).toSeq),
      "sources.planning_ms_p50" -> med(srcOps.toSeq.flatMap(_.qes).map(_.planningMs)),
      "sources.files_read" -> pointFiles,
      "sources.skip_ratio" ->
        (if (scanFiles > 0) 1.0 - pointFiles / scanFiles else 0.0),
      "query.state_ms" -> p50("state"),
      "reconcile.buckets_ms" -> med(reconTimes.map(_._1).toSeq),
      "reconcile.diff_ms" -> med(reconTimes.map(_._2).toSeq),
      "reconcile.drift_found" -> lastDrift.toDouble)
    val (_, regS) = r.timeS(r.span("query.register")(
      GraftSession.register(spark, base)))
    r.layers("query.register_ms") = regS * 1000
    if (r.tracer.enabled) Tables.sinkLayer(r, tbl)
    customer.unpersist()
    r.probes.heap.sample()
    r.e2e("heap_peak_mb") = r.probes.heap.peakMb
  }
}
