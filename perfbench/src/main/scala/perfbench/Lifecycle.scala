package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.Row

/** `lifecycle`: passes over driver-bound maintenance rows (index and
  * curation lifecycles) and table-DML rows, each a registered
  * `SparkEntry` query run on a generated corpus, in seeded order per
  * pass, after the set-up runs of one row. Every result is collected,
  * so no column is pruned away. Each row's first answer is written out
  * for the DuckDB oracle check; every later run of the row must
  * reproduce it.
  *
  * A pass runs one row per `ext` lifecycle module rather than all the
  * lifecycle rows, so that a run fits the comparison's time budget:
  * LM counts synced from the change feed and compacted (q206), near-dup
  * containment by winnowing (q147), the BM25 lexical index with
  * retraction and exact dedup (q175), and the classifier, trained and
  * applied (q113); and a keyed MERGE (q45) and deletion vectors (q204)
  * for the DML. Near-dup curation (q165) is left out: its DuckDB
  * oracle alone takes about a minute. */
object Lifecycle {
  val Maintain: Seq[String] = Seq("q206_lm_cdf_sync",
    "q147_winnow_incremental", "q175_lexical_retract",
    "q113_classifier_score")
  val Dml: Seq[String] = Seq("q45_merge_upsert", "q204_deletion_vectors")
  /** The set-up row, run before the measured passes; the shortest. */
  val WarmUp = "q45_merge_upsert"
  val SetupRepeats = 3

  def short(name: String): String = name.takeWhile(_ != '_')

  def run(r: Run): Unit = {
    val spark = r.spark
    val defs = SparkEntry.allDefs.filter(d =>
      (Maintain ++ Dml).contains(d.name)).map(d => d.name -> d).toMap
    require(defs.size == Maintain.size + Dml.size,
      s"missing lifecycle rows: ${(Maintain ++ Dml).filterNot(defs.contains)}")
    val outDir = s"${r.args.work}/lifecycle_out"
    val first = mutable.HashMap[String, Seq[Row]]()
    val times = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
    val jobs = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
    val driver = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
    val passes = mutable.ArrayBuffer[(Double, Double)]()
    val runs = mutable.HashMap[String, Int]().withDefaultValue(0)
    /** Runs one row: (seconds, the Spark jobs it ran, start and end
      * epoch ms), or None if it failed. Its answer is checked against
      * the row's first answer, and that one, outside the JVM, against
      * the DuckDB oracle. */
    def runRow(name: String): Option[(Double, Seq[JobRec], Long, Long)] = {
      val d = defs(name)
      runs(name) += 1
      r.probes.drain()
      val jobs0 = r.probes.sparkProbe.jobs.size
      val s = System.currentTimeMillis(); val n0 = System.nanoTime()
      val res = r.op(name) {
        val (rows, schema) = r.span(s"lifecycle.$name") {
          val df = d.fn(spark, r.args.data)
          (df.collect().toSeq, df.schema)
        }
        ((rows, schema), first.get(name).forall(_ == rows))
      }
      val secs = (System.nanoTime() - n0) / 1e9
      val e = System.currentTimeMillis()
      res.map { case (rows, schema) =>
        if (!first.contains(name)) {
          first(name) = rows
          spark.createDataFrame(rows.asJava, schema)
            .coalesce(1).write.parquet(s"$outDir/$name")
        }
        r.probes.drain()
        (secs, r.probes.sparkProbe.jobs.drop(jobs0), s, e)
      }
    }

    // set-up, several times: the shortest row, checked but in no pass.
    // The first run also warms the fresh JVM up, which whichever
    // measured row ran first would otherwise pay for
    val setups = (0 until SetupRepeats).flatMap(_ => runRow(WarmUp).map(_._1))
    if (setups.nonEmpty) r.e2e("setup_s") = Stats.median(setups)
    r.context("setup_samples_s") = setups
    val rnd = Gen.rng(r.seed)
    val window = new Window(r)
    val t0 = System.nanoTime()
    val deadline = t0 + r.args.seconds * 1000000000L
    while (passes.isEmpty || System.nanoTime() < deadline) {
      val order = (Maintain ++ Dml).map(n => (rnd.nextDouble(), n))
        .sortBy(_._1).map(_._2)
      val pass = mutable.HashMap[String, Double]()
      order.foreach { name =>
        runRow(name).foreach { case (secs, js, s, e) =>
          pass(name) = secs
          times.getOrElseUpdate(name, mutable.ArrayBuffer()) += secs
          jobs.getOrElseUpdate(name, mutable.ArrayBuffer()) += js.size.toDouble
          driver.getOrElseUpdate(name, mutable.ArrayBuffer()) +=
            Stats.driverOnlyMs(s, e, js.map(j => (j.startMs, j.endMs))).toDouble
        }
      }
      if (pass.size == order.size)
        passes += ((Maintain.map(pass).sum, Dml.map(pass).sum))
    }
    window.close()
    r.probes.heap.sample()
    val all = times.values.flatten.toSeq
    if (passes.isEmpty) r.fail("no complete pass")
    else {
      r.named("maintain_pass_s") = (Stats.median(passes.map(_._1).toSeq), "s")
      r.named("dml_pass_s") = (Stats.median(passes.map(_._2).toSeq), "s")
    }
    if (all.nonEmpty) {
      // the mean, not the median: rows differ up to tenfold, so the
      // median is whichever row sits in the middle, and the seeded order
      // moves the fresh JVM's remaining warm-up between rows
      r.e2e("latency_ms") = all.sum / all.size * 1000
      r.e2e("throughput_per_s") = all.size / r.secondsSince(t0)
    }
    r.context("passes") = passes.size
    (Maintain ++ Dml).foreach { n =>
      val k = s"lifecycle.${short(n)}"
      r.layers(s"${k}_s") = times.get(n).map(x => Stats.median(x.toSeq)).getOrElse(0.0)
      r.layers(s"${k}_jobs") = jobs.get(n).map(x => Stats.median(x.toSeq)).getOrElse(0.0)
      r.layers(s"${k}_driver_ms") = driver.get(n).map(x => Stats.median(x.toSeq)).getOrElse(0.0)
    }
    // the oracle check runs outside the JVM, in DuckDB
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter { case (k, _) => first.contains(k) }))
    // how many runs a wrong first answer stands for
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/runs.json"),
      Json(runs))
    r.e2e("heap_peak_mb") = r.probes.heap.peakMb
  }
}
