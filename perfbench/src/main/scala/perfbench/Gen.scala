package perfbench

import scala.collection.mutable

/** One generated change event. `op` is the Debezium op for valid events
  * (`c`, `u`, `d`); invalid ones are `bad-op`, `stale` or `corrupt` and
  * must land in the dead-letter queue. `novel` names a field this event
  * introduces (schema evolution), if any. */
final case class Event(seq: Long, coll: Int, key: String, op: String,
    v: Long, cust: Long, kind: String, novel: Option[String]) {
  def valid: Boolean = op == "c" || op == "u" || op == "d"
}

/** Deterministic Debezium MongoDB event generator: the same seed and
  * parameters give the same event sequence. It keeps its own model of
  * which keys are alive, so updates and deletes always hit live keys and
  * the expected current state can be replayed from its output alone.
  *
  * @param colls      collections `bench.c0` .. `bench.c<colls-1>`
  * @param keySpace   keys per collection
  * @param novelEvery every this many events one carries a new field
  * @param badEvery   every this many events one is invalid or stale
  * @param nCust      customer keys referenced by the `cust` field */
final class Gen(seed: Long, colls: Int, keySpace: Int,
    novelEvery: Int, badEvery: Int, nCust: Int = 150) {
  private val rnd = Gen.rng(seed)
  private val alive = Array.fill(colls)(mutable.ArrayBuffer[Int]())
  private val pos = Array.fill(colls)(mutable.HashMap[Int, Int]())
  private var seq = 0L
  private var novelCount = 0

  private def take(c: Int, i: Int): Int = {
    val a = alive(c); val k = a(i); val last = a.remove(a.size - 1)
    pos(c).remove(k)
    if (i < a.size) { a(i) = last; pos(c)(last) = i }
    k
  }
  private def add(c: Int, k: Int): Unit = {
    pos(c)(k) = alive(c).size; alive(c) += k
  }

  def next(): Event = {
    val s = seq; seq += 1
    val c = rnd.nextInt(colls)
    val v = rnd.nextInt(1000).toLong
    val cust = 1L + rnd.nextInt(nCust)
    val kind = "k" + rnd.nextInt(5)
    val novel =
      if (s % novelEvery == novelEvery - 1) {
        novelCount += 1; Some(s"x$novelCount")
      } else None
    if (s % badEvery == badEvery - 1) {
      val op = Seq("bad-op", "stale", "corrupt")((s / badEvery % 3).toInt)
      return Event(s, c, s"k${rnd.nextInt(keySpace)}", op, v, cust, kind,
        None)
    }
    val live = alive(c)
    val r = rnd.nextDouble()
    if (live.isEmpty || (r < 0.45 && live.size < keySpace)) {
      var k = rnd.nextInt(keySpace)
      while (pos(c).contains(k)) k = (k + 1) % keySpace
      add(c, k)
      Event(s, c, s"k$k", "c", v, cust, kind, novel)
    } else if (r < 0.85) {
      val k = live(rnd.nextInt(live.size))
      Event(s, c, s"k$k", "u", v, cust, kind, novel)
    } else {
      val k = take(c, rnd.nextInt(live.size))
      Event(s, c, s"k$k", "d", v, cust, kind, novel)
    }
  }
}

object Gen {
  /** A random stream for `seed`. The first draws of `SplittableRandom`
    * for nearby seeds are alike (seeds 42 to 46 put the same one of
    * eight items first); `split` decorrelates them. */
  def rng(seed: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed).split()

  val Db = "bench"
  def collection(c: Int): String = s"c$c"
  def table(c: Int): String = s"${Db}_c$c"

  /** Debezium source timestamp: unique and increasing in `seq`, so the
    * latest event per key is never a tie. */
  def tsMs(baseMs: Long, e: Event): Long =
    if (e.op == "stale") baseMs - 30L * 86400000L else baseMs + e.seq

  /** The document as JSON, with the generation stamp `gen_ms`. */
  def doc(e: Event, genMs: Long): String = {
    val extra = e.novel.map(n => s""","$n":1""").getOrElse("")
    s"""{"_id":"${e.key}","seq":${e.seq},"gen_ms":$genMs,"v":${e.v},""" +
      s""""cust":${e.cust},"kind":"${e.kind}"$extra}"""
  }

  /** The Kafka message body: a Debezium MongoDB change envelope. */
  def envelope(e: Event, baseMs: Long, genMs: Long): String = {
    val ts = tsMs(baseMs, e)
    if (e.op == "corrupt")
      return s"""{"payload":{"_id":"${e.key}","seq":${e.seq},"op":"c""""
    val d = Json(doc(e, genMs))
    val (before, after) = e.op match {
      case "d" => (d, "null")
      case _ => ("null", d)
    }
    val op = if (e.op == "bad-op") "z" else if (e.op == "stale") "c" else e.op
    s"""{"payload":{"_id":"${e.key}","before":$before,"after":$after,""" +
      s""""op":"$op","ts_ms":$ts,"source":{"version":"2.5",""" +
      s""""connector":"mongodb","name":"bench","ts_ms":$ts,""" +
      s""""snapshot":"false","db":"$Db","rs":"rs0",""" +
      s""""collection":"${collection(e.coll)}","ord":1}}}"""
  }

  /** Replays valid events into the expected current state:
    * collection → key → the seq of the event that state shows. */
  def replay(events: Iterable[Event]): Map[Int, Map[String, Event]] = {
    val st = mutable.HashMap[Int, mutable.HashMap[String, Event]]()
    events.iterator.filter(_.valid).foreach { e =>
      val m = st.getOrElseUpdate(e.coll, mutable.HashMap())
      if (e.op == "d") m.remove(e.key) else m(e.key) = e
    }
    st.map { case (c, m) => c -> m.toMap }.toMap
  }

  /** The `seq` an envelope carries, recovered from raw message text
    * (dead letters keep the original message verbatim). */
  private val SeqRe = "seq\\\\?\":(\\d+)".r
  def seqOf(raw: String): Option[Long] =
    SeqRe.findFirstMatchIn(raw).map(_.group(1).toLong)
}
