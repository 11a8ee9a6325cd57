package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.util.SplittableRandom

/** Seeded input generation. Every input the engine sees is a pure
  * function of the run's `--seed` and an index, so one seed always gives
  * byte-identical inputs (see [[encodeEvents]] / [[encodeDocs]]).
  */
object Gen {
  /** Independent random streams per (seed, stream, index). */
  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(scramble(scramble(seed * 0x9E3779B97F4A7C15L + stream) + index))

  private def scramble(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL
    x = (x ^ (x >>> 33)) * 0xC4CEB9FE1A85EC53L
    x ^ (x >>> 33)
  }

  val OrderStream = 1L
  val EventStream = 2L
  val TextStream = 3L
  val PlanStream = 4L

  /** Query order of pass `pass`: a seeded permutation of `mix`. */
  def passOrder(seed: Long, mix: Seq[String], pass: Int): Seq[String] = {
    val r = rng(seed, OrderStream, pass)
    val a = mix.toArray
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  final case class Event(eventId: Long, userId: Long, ts: Long,
                         eventType: String, value: Double) {
    /** Bytes of user data in the row: four 8-byte fields plus the type. */
    def userBytes: Long = 32L + eventType.length
  }

  val EventTypes: IndexedSeq[String] =
    IndexedSeq("view", "click", "cart", "purchase", "signup")

  /** Events batch `batch`: `rows` rows with ts inside the batch's own
    * slot [t0 + batch*slotNs, t0 + (batch+1)*slotNs), so batches never
    * overlap in time. event_id = batch * 1e6 + row.
    */
  def events(seed: Long, batch: Long, rows: Int, t0: Long,
             slotNs: Long): IndexedSeq[Event] = {
    val r = rng(seed, EventStream, batch)
    (0 until rows).map { j =>
      Event(batch * 1000000L + j, r.nextInt(5000).toLong,
        t0 + batch * slotNs + r.nextLong(slotNs),
        EventTypes(r.nextInt(EventTypes.size)), r.nextInt(1000000) / 100.0)
    }
  }

  /** Doc texts of text batch `textBatch`: `n` texts of eight random
    * 32-hex-digit tokens, far apart from each other in n-gram Jaccard.
    */
  def docTexts(seed: Long, textBatch: Long, n: Int): IndexedSeq[String] = {
    val r = rng(seed, TextStream, textBatch)
    (0 until n).map { _ =>
      (0 until 8).map(_ => f"${r.nextLong()}%016x${r.nextLong()}%016x").mkString(" ")
    }
  }

  def encodeEvents(ev: Seq[Event]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val out = new DataOutputStream(bo)
    ev.foreach { e =>
      out.writeLong(e.eventId); out.writeLong(e.userId); out.writeLong(e.ts)
      out.writeUTF(e.eventType); out.writeDouble(e.value)
    }
    out.flush()
    bo.toByteArray
  }

  def encodeDocs(texts: Seq[String]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val out = new DataOutputStream(bo)
    texts.foreach(out.writeUTF)
    out.flush()
    bo.toByteArray
  }
}
