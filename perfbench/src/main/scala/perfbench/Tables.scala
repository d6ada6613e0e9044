package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.sink.CdcTable
import org.apache.spark.sql.functions._

/** Measurements and checks over a table's files, taken from outside
  * through the public `CdcTable` API and the filesystem. */
object Tables {
  private def walk(dir: String): Seq[(Path, Long)] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> Files.size(p)).toVector
    finally s.close()
  }

  private def isMeta(root: String, p: Path): Boolean =
    Paths.get(root).relativize(p).toString.startsWith("_graft_log")

  private def isData(root: String, p: Path): Boolean = {
    val rel = Paths.get(root).relativize(p).toString
    rel.endsWith(".parquet") && !rel.startsWith("_")
  }

  /** A byte-identical copy at a fresh path (file times preserved). */
  def copyTable(src: String, dst: String): Unit =
    walk(src).foreach { case (p, _) =>
      val t = Paths.get(dst).resolve(Paths.get(src).relativize(p))
      Files.createDirectories(t.getParent)
      Files.copy(p, t, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }

  /** `sink.` metrics of one table: log size and read cost (warm, and
    * cold on a fresh copy), checkpoint and metadata bytes, data files. */
  def sinkLayer(r: Run, tbl: String): Unit = {
    val commits = CdcTable.log(tbl)
    val warm = (0 until 5).map { _ =>
      val t0 = System.nanoTime(); CdcTable.log(tbl)
      (System.nanoTime() - t0) / 1e6
    }
    val copy = r.dir("coldcopy-" + Paths.get(tbl).getFileName)
    copyTable(tbl, copy)
    val t0 = System.nanoTime()
    r.span("sink.log_cold")(CdcTable.log(copy))
    val cold = (System.nanoTime() - t0) / 1e6
    val files = walk(tbl)
    val meta = files.filter(f => isMeta(tbl, f._1))
    val data = files.filter(f => isData(tbl, f._1))
    val ckpt = meta.filter(_._1.toString.endsWith(".checkpoint"))
      .sortBy(_._1.getFileName.toString).lastOption.map(_._2).getOrElse(0L)
    val detail = CdcTable.detail(tbl)
    val live = commits.flatMap(_.fileBytes).toMap
    r.layers ++= Seq(
      "sink.commits" -> commits.size.toDouble,
      "sink.log_warm_ms" -> Stats.median(warm),
      "sink.log_cold_ms" -> cold,
      "sink.log_files" -> meta.size.toDouble,
      "sink.checkpoint_bytes" -> ckpt.toDouble,
      "sink.meta_bytes_per_data_byte" ->
        meta.map(_._2).sum.toDouble / math.max(1L, data.map(_._2).sum),
      "sink.data_files" -> detail.liveFiles.toDouble,
      "sink.data_file_kb_p50" ->
        (if (live.isEmpty) 0.0 else Stats.median(live.values.map(_ / 1024.0).toSeq)),
      "sink.schema_generations" ->
        CdcTable.schemaHistory(tbl).size.toDouble)
  }

  /** Every generated event must land exactly once: valid ones as table
    * rows, invalid and stale ones as dead letters. Each table's current
    * state must equal the generator's replay. Returns the number of
    * dead letters. */
  def checkIngest(r: Run, base: String, events: Seq[Event],
      colls: Int): Long = {
    val spark = r.spark
    import spark.implicits._
    // each table is read once: its rows land-check the events, and its
    // current state must equal the generator's replay
    val expect = Gen.replay(events)
    val landed = (0 until colls).flatMap { c =>
      val tbl = s"$base/${Gen.table(c)}"
      if (CdcTable.currentVersion(tbl) == 0) Nil
      else {
        val df = CdcTable.read(spark, tbl).cache()
        val seqs = df.select(col("seq")).as[Long].collect().toSeq
        r.check(s"current state of ${Gen.table(c)} equals the replay") {
          graft.query.CurrentState(df).select(col("_id"), col("seq"))
            .as[(String, Long)].collect().toMap ==
            expect.getOrElse(c, Map.empty).map { case (k, e) => k -> e.seq }
        }
        df.unpersist()
        seqs.map(_ -> c)
      }
    }
    val dlqDir = s"$base/_dlq"
    val dead =
      if (CdcTable.currentVersion(dlqDir) == 0) Seq.empty[String]
      else CdcTable.read(spark, dlqDir).select(col("original_value"))
        .as[String].collect().toSeq
    val deadSeqs = dead.flatMap(Gen.seqOf)
    val tableCount = landed.groupBy(_._1).map { case (s, xs) => s -> xs.size }
    val dlqCount = deadSeqs.groupBy(identity).map { case (s, xs) => s -> xs.size }
    var bad = 0L
    events.foreach { e =>
      val inTable = tableCount.getOrElse(e.seq, 0)
      val inDlq = dlqCount.getOrElse(e.seq, 0)
      val ok = if (e.valid) inTable == 1 && inDlq == 0
        else inTable == 0 && inDlq == 1
      if (!ok) bad += 1
    }
    r.attempted += events.size
    r.failed += bad
    if (bad > 0) r.failures += s"$bad of ${events.size} events did not land exactly once"
    if (dead.size != deadSeqs.size)
      r.fail(s"${dead.size - deadSeqs.size} dead letters without an event seq")
    dead.size.toLong
  }
}
