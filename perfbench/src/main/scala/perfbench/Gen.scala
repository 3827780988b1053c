package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** One generated change event, in the envelope the program replicates.
  * `etype` and `k` form the wide row image; `value` is the scalar column.
  */
final case class Ev(pos: Long, tbl: String, pk: Long, op: String, value: Double,
                    etype: String, k: Long) {
  def payloadJson: String = s"""{"event_type":"$etype","k":$k,"value":$value}"""
}

/** Seeded change-event stream: the same seed gives the same events.
  * Keys are uniform over `keys`, or Zipf-skewed with exponent `zipf` > 0.
  * Ops mix inserts, updates and 5% deletes; tables shard by pk as the
  * program's fixtures do (t0..t3).
  */
final class EventGen(seed: Long, keys: Int, zipf: Double = 0.0) {
  private val rng = new SplittableRandom(seed)
  private val cdf: Array[Double] =
    if (zipf <= 0) null
    else {
      val w = Array.tabulate(keys)(i => 1.0 / math.pow(i + 1.0, zipf))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
  private var pos = 0L

  private def key(): Long =
    if (cdf == null) rng.nextInt(keys).toLong
    else {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      (if (i >= 0) i else -i - 1).toLong.min(keys - 1L)
    }

  def next(): Ev = {
    val pk = key()
    val r = rng.nextDouble()
    val op = if (r < 0.05) "D" else if (r < 0.25) "I" else "U"
    val etype = op match { case "I" => "signup"; case "D" => "error"; case _ => "update" }
    val e = Ev(pos, s"t${pk % 4}", pk, op, rng.nextInt(100000) / 100.0, etype, rng.nextInt(1000).toLong)
    pos += 1
    e
  }
}

/** Sequential reference for the replication workloads. */
object Reference {
  type Key = (String, Long)

  /** Last-writer-wins fold: the highest-pos event per (tbl, pk), with
    * tombstoned keys dropped.
    */
  def fold(evs: Iterable[Ev]): Map[Key, Ev] = {
    val m = mutable.HashMap.empty[Key, Ev]
    evs.foreach { e =>
      val k = (e.tbl, e.pk)
      if (m.get(k).forall(_.pos < e.pos)) m(k) = e
    }
    m.filter(_._2.op != "D").toMap
  }

  /** Keys whose target row differs from the reference: missing, extra,
    * duplicated or carrying another image.
    */
  def mismatches[V](expected: Map[Key, V], got: Seq[(Key, V)]): Long = {
    val gotMap = got.toMap
    val dups = got.size - gotMap.size
    dups + (expected.keySet ++ gotMap.keySet).count(k => expected.get(k) != gotMap.get(k))
  }
}

/** Seeded near-duplicate corpus: 40-token documents over a 3000-word
  * vocabulary; 30% are copies of an earlier document with two tokens
  * replaced, under their own (disjoint) doc ids.
  */
object DocGen {
  def docs(seed: Long, n: Int): IndexedSeq[(Long, String)] = {
    val rng = new SplittableRandom(seed)
    val toks = mutable.ArrayBuffer.empty[Array[Int]]
    (0 until n).foreach { i =>
      toks += (if (i > 0 && rng.nextDouble() < 0.3) {
        val t = toks(rng.nextInt(i)).clone()
        (0 until 2).foreach(_ => t(rng.nextInt(t.length)) = rng.nextInt(3000))
        t
      } else Array.fill(40)(rng.nextInt(3000)))
    }
    toks.toIndexedSeq.zipWithIndex.map { case (t, i) => (i.toLong, t.map(w => s"w$w").mkString(" ")) }
  }
}
